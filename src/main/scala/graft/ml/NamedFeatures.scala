package graft.ml

import graft.{GraftQuery, SessionCache}
import org.apache.spark.ml.{Pipeline, PipelineModel, Transformer}
import org.apache.spark.ml.classification.{LinearSVCModel, LogisticRegressionModel, RandomForestClassificationModel}
import org.apache.spark.ml.feature.{CountVectorizer, CountVectorizerModel, IDF}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** NAMED model internals — the reference's plot_coefficients
  * (src/TextClassification.py:1243) returns the vectorizer's feature
  * names next to each weight: top signed coefficients for the linear
  * `coef_` branch (SVM / logreg) and named importances for the tree
  * branch. The bank's HashingTF is one-way (a hashed index maps back to
  * nothing), so this family featurizes through a CountVectorizer twin
  * whose fitted vocabulary array IS the index→term inverse.
  *
  * Scale shape: the vocabulary fit is one hash aggregation over (term,
  * doc-frequency) keeping the top `VocabSize` terms — the vocabulary is
  * BOUNDED by construction (top-2¹⁶ here; a 100 TB deployment raises it
  * to ~2²⁰, still a few-MB broadcast array, never corpus-sized), and
  * minDF=2 drops the hapax n-gram tail that would otherwise dominate
  * the vocabulary with unrankable singletons. Model fits reuse the
  * session-cache discipline of the bank (one fit per session, every
  * consumer reads the memo). Reading `coefficients` / `featureImportances`
  * is driver-side model introspection — O(vocab), not O(corpus).
  *
  * Rows-only for the oracle gate (model fitting is not SQL-expressible);
  * NamedFeaturesSpec plants a synthetic signal token and asserts it
  * surfaces as the top named weight through BOTH branches.
  */
object NamedFeatures {

  /** Top-N vocabulary bound: at local test scale this keeps every
    * non-hapax gram; the constant is the knob a larger corpus tunes.
    */
  val VocabSize: Int = 1 << 16

  /** How many named weights each query surfaces per model/direction. */
  val TopN: Int = 10

  /** CountVectorizer(top-VocabSize, minDF 2) → IDF on the train half of
    * any (doc_id, label, grams) frame. Returns the fitted pipeline
    * (stage 0 carries the vocabulary) and the featurized train frame —
    * factored so the spec can drive it with a planted-signal corpus.
    */
  private[graft] def fitNamed(train: DataFrame): (PipelineModel, DataFrame) = {
    import train.sparkSession.implicits._
    val pm = new Pipeline().setStages(Array(
      new CountVectorizer().setInputCol("grams").setOutputCol("tf")
        .setVocabSize(VocabSize).setMinDF(2),
      new IDF().setInputCol("tf").setOutputCol("features"))).fit(train)
    (pm, pm.transform(train).select($"doc_id", $"label", $"features"))
  }

  /** Memoized named featurization of the even-doc_id train half:
    * (vocabulary, pinned featurized train). All three named-weight
    * models consume the same frame, so a session pays the vocabulary
    * fit once.
    */
  private def namedTrain(s: SparkSession, dir: String): (Array[String], DataFrame) =
    SessionCache.getOrCompute(s, s"ml.namedTrain:$dir") {
      import s.implicits._
      val (pm, train) =
        fitNamed(Classifiers.prepared(s, dir).where($"doc_id" % 2 === 0))
      val vocab = pm.stages(0).asInstanceOf[CountVectorizerModel].vocabulary
      (vocab, SessionCache.pin(train))
    }

  /** One fitted model per (session, dir, name) on the named features —
    * the same estimator definitions as the bank (seeded, deterministic
    * for the persisted input layout).
    */
  private def namedModel(s: SparkSession, dir: String, name: String): Transformer =
    SessionCache.getOrCompute(s, s"ml.namedModel:$name:$dir") {
      Classifiers.estimators.toMap.apply(name).fit(namedTrain(s, dir)._2)
        .asInstanceOf[Transformer]
    }

  /** (term, weight) rows for a dense weight array through the vocabulary
    * inverse — driver-side O(vocab) zip, returned as a tiny DataFrame.
    */
  private def named(vocab: Array[String],
      weights: Array[Double]): Seq[(String, Double)] =
    weights.zipWithIndex.collect {
      case (w, i) if w != 0.0 && i < vocab.length => (vocab(i), w)
    }.toSeq

  /** Top-20 NAMED RandomForest importances — the tree branch of
    * plot_coefficients with real terms instead of opaque hashed indices
    * (the gap the bank's q_ml_feature_importance documents).
    */
  def mlNamedImportance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (vocab, _) = namedTrain(s, dir)
    val rf = namedModel(s, dir, "rf")
      .asInstanceOf[RandomForestClassificationModel]
    val rows = named(vocab, rf.featureImportances.toArray)
      .sortBy { case (t, w) => (-w, t) }
      .take(2 * TopN)
      .zipWithIndex.map { case ((t, w), i) => (i + 1, t, w) }
    s.createDataFrame(rows).toDF("rank", "term", "importance")
  }

  /** Signed top-N coefficients of the linear models (logreg + SVM) —
    * the `coef_` branch of plot_coefficients: for each model the TopN
    * most positive and TopN most negative named weights, positive rank
    * 1..N (largest first), negative rank -1..-N (most negative first).
    */
  def mlCoefficients(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (vocab, _) = namedTrain(s, dir)
    val rows = Seq("logreg", "svm").flatMap { name =>
      val coef = namedModel(s, dir, name) match {
        case m: LogisticRegressionModel => m.coefficients.toArray
        case m: LinearSVCModel => m.coefficients.toArray
      }
      val terms = named(vocab, coef)
      val pos = terms.filter(_._2 > 0).sortBy { case (t, w) => (-w, t) }
        .take(TopN).zipWithIndex
        .map { case ((t, w), i) => (name, i + 1, t, w) }
      val neg = terms.filter(_._2 < 0).sortBy { case (t, w) => (w, t) }
        .take(TopN).zipWithIndex
        .map { case ((t, w), i) => (name, -(i + 1), t, w) }
      pos ++ neg
    }
    s.createDataFrame(rows).toDF("model", "rank", "term", "weight")
      .orderBy($"model", $"rank")
  }

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("q_ml_named_importance", mlNamedImportance, None,
      singleShot = true),
    GraftQuery("q_ml_coefficients", mlCoefficients, None, singleShot = true))
}
