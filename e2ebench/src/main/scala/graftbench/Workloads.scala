package graftbench

import graft.{GraftQuery, SparkEntry}
import graft.ml.Classifiers
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed unit of work. `build` is the operator's builder call (eager
  * work — collects, fits, Lloyd loops, stream feeds — happens inside it)
  * and returns the frames the op materialises into the `noop` sink;
  * `result` is the frame whose rows the output check digests.
  */
final case class Op(
    name: String,
    module: String,
    build: (SparkSession, String) => Seq[DataFrame],
    result: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** A workload: a fixed op list (one pass) and its nominal warm pass time
  * on a 4-core host. A run makes ceil(seconds / passSeconds) timed passes,
  * at least one, so the timed work depends on `--seconds` only, never on
  * how fast the host happened to be.
  */
final case class Workload(name: String, ops: Seq[Op], passSeconds: Double)

object Workloads {

  /** Module that registers each operator, from the modules' own registries. */
  private val moduleOf: Map[String, String] = Seq(
    "text_queries" -> graft.operators.TextQueries.queries,
    "typo" -> graft.operators.TypoCorrection.queries,
    "features" -> graft.operators.Features.queries,
    "evaluation" -> graft.operators.Evaluation.queries,
    "dedup" -> graft.operators.Dedup.queries,
    "corpus" -> graft.operators.Corpus.queries,
    "similarity" -> graft.operators.Similarity.queries,
    "stream_queries" -> graft.streaming.StreamQueries.queries,
    "ml" -> Classifiers.queries,
  ).flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap

  private lazy val registry: Map[String, GraftQuery] =
    SparkEntry.all.map(q => q.name -> q).toMap

  /** A registered operator, looked up through `SparkEntry.all`. */
  def registered(name: String): Op = {
    val q = registry.getOrElse(name, throw new NoSuchElementException(
      s"operator $name is not registered in SparkEntry.all"))
    Op(name, moduleOf.getOrElse(name, "other"), (s, d) => Seq(q.fn(s, d)),
      q.fn, q.oracle)
  }

  /** `Classifiers.featurized`: materialises both persisted halves. */
  val featurize: Op = Op("ml.featurize", "ml",
    (s, d) => { val (train, test) = Classifiers.featurized(s, d); Seq(train, test) },
    (s, d) => { val (train, test) = Classifiers.featurized(s, d); train.union(test) },
    None)

  /** `Classifiers.model`: the fit itself, with nothing left to sink. Its
    * output check digests the fitted model's predictions on the test half.
    */
  def fit(model: String): Op = Op(s"ml.fit.$model", "ml",
    (s, d) => { Classifiers.model(s, d, model); Seq.empty },
    (s, d) => Classifiers.model(s, d, model)
      .transform(Classifiers.featurized(s, d)._2).select("doc_id", "prediction"),
    None)

  val models: Seq[String] = Seq("naive_bayes", "svm", "rf")

  val all: Seq[Workload] = Seq(
    Workload("ehr_pipeline",
      (Seq("q_merge_entries", "q_clean_artefacts", "q_simple_clean", "q_stem_dutch",
        "q_stopword_filter", "q_typo_correct", "q_tfidf", "q_chi2_features",
        "q_word_match").map(registered) :+ featurize) ++
        models.flatMap(m => Seq(fit(m), registered(s"q_ml_$m"))) ++
        Seq("q_roc_curve", "q_f1_sweep").map(registered),
      passSeconds = 13.0),
    Workload("corpus_dedup",
      Seq("q_dedup_exact", "q_dedup_minhash", "q_dedup_simhash", "q_embed_cosine_dedup",
        "q_stream_dedup_exact").map(registered),
      passSeconds = 8.5))

  def byName(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload $name (known: ${all.map(_.name).mkString(", ")})"))
}
