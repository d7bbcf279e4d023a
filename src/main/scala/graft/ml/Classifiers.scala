package graft.ml

import graft.{GraftQuery, SessionCache, Tables}
import graft.functions.{GraftExpressions, TextFunctions => TF}
import org.apache.spark.ml.{Estimator, Pipeline, PipelineStage, Transformer}
import org.apache.spark.ml.classification._
import org.apache.spark.ml.feature.{HashingTF, IDF}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's classifier bank (notebook cell 38: TF-IDF 1-3-gram
  * features → NaiveBayes / GradientBoosting / MLP / DecisionTree /
  * linear SVM / RandomForest / stratified Dummy) re-expressed as MLlib
  * Pipelines. Training/test follow the deterministic doc_id-parity split;
  * every stage is seeded, so predictions are reproducible.
  *
  * These are rows-only operators for the oracle gate (model fitting is
  * not SQL-expressible); prediction determinism is covered by MlSpec.
  */
object Classifiers {

  val Seed = 26062019L // the reference's SEED (notebook cell 2)
  val NumFeatures = 1024

  /** documents → (doc_id, label, grams): the union of word 1-3-grams,
    * mirroring TfidfVectorizer(ngram_range=(1,3)).
    */
  def prepared(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Deliberately NOT fanned out (Tables.fanOut): the seeded tree
    // learners downstream are deterministic only for a fixed input
    // layout (bootstrap draws are seeded per partition), so changing
    // the partitioning here would change every tree model's
    // predictions. The fit cost dominates this family anyway.
    Tables.documents(s, dir)
      .select($"doc_id", ($"lang" === "en").cast("double").as("label"),
        GraftExpressions.wordNGrams(TF.tokens($"text"), 1, 3, distinct = false)
          .as("grams"))
  }

  /** TF-IDF featurizer shared by every model (HashingTF keeps the
    * transform stateless and shuffle-free; IDF is one small aggregate).
    */
  private def featurizer: Array[PipelineStage] = Array(
    new HashingTF().setInputCol("grams").setOutputCol("tf")
      .setNumFeatures(NumFeatures),
    new IDF().setInputCol("tf").setOutputCol("features"))

  /** The classifier bank as single-stage estimators — the featurizer is
    * fit/applied once (featurize) instead of inside each Pipeline.
    */
  def estimators: Seq[(String, Estimator[_])] = Seq(
    "naive_bayes" -> new NaiveBayes().setSmoothing(1.0),
    "gbt" -> new GBTClassifier().setSeed(Seed).setMaxIter(10).setMaxDepth(3),
    "mlp" -> new MultilayerPerceptronClassifier().setSeed(Seed)
      .setLayers(Array(NumFeatures, 16, 2)).setMaxIter(25),
    "dtree" -> new DecisionTreeClassifier().setSeed(Seed),
    "svm" -> new LinearSVC().setMaxIter(20),
    "rf" -> new RandomForestClassifier().setSeed(Seed).setNumTrees(20),
    // the reference's SGDClassifier surface (output_files/
    // predSGDClassifier.csv): MLlib has no SGD linear model, so the
    // deterministic L-BFGS LogisticRegression stands in
    "logreg" -> new LogisticRegression().setMaxIter(50).setRegParam(1e-4))

  /** Fit the TF-IDF featurizer on the train half (doc_id parity split) and
    * return both halves featurized: (train, test). Identical features to
    * the former whole-Pipeline formulation (IDF statistics from train
    * only; HashingTF is stateless).
    */
  def featurize(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import s.implicits._
    val data = prepared(s, dir)
    featurizePair(data.where($"doc_id" % 2 === 0), data.where($"doc_id" % 2 === 1))
  }

  /** Fit the TF-IDF featurizer on `train` only (no test leakage into the
    * IDF statistics) and featurize both frames — the per-fold analogue of
    * [[featurize]], used by the CV-fold refits in ModelEval.
    */
  private[ml] def featurizePair(train: DataFrame, test: DataFrame): (DataFrame, DataFrame) = {
    import train.sparkSession.implicits._
    val fm = new Pipeline().setStages(featurizer).fit(train)
    (fm.transform(train).select($"doc_id", $"label", $"features"),
      fm.transform(test).select($"doc_id", $"label", $"features"))
  }

  /** Fit one estimator on a pinned copy of the featurized train set.
    * Pinning here is the hot-path fix for iterative trainers
    * (MLP/SVM/GBT): without it every optimizer pass re-runs the whole
    * scan → tokenize → n-gram → hash → IDF lineage.
    */
  def fitOn(name: String, train: DataFrame): Transformer =
    Tables.pinned(train)(estimators.toMap.apply(name).fit(_).asInstanceOf[Transformer])

  /** Memoized featurized (train, test) halves, pinned per
    * (session, dir): the seven model queries plus the score-evaluation
    * family (ModelEval) and the importance/tree exports all consume the
    * same two frames, so a pipeline session pays the tokenize → n-gram →
    * hash → IDF lineage once. The frames are one row per doc with a
    * 1024-dim sparse vector — far below corpus size, a bounded pin.
    * Pinning a FIXED frame also keeps the seeded tree learners
    * byte-stable across queries (their bootstrap draws are seeded per
    * partition, so they are deterministic for a fixed input layout).
    */
  def featurized(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    SessionCache.getOrCompute(s, s"ml.featurized:$dir") {
      val (train, test) = featurize(s, dir)
      (SessionCache.pin(train), SessionCache.pin(test))
    }

  /** Memoized fitted model per (session, dir, name) — the reference
    * persists each fitted classifier once per run (getTrainedClassifier,
    * src/TextClassification.py:515) and every downstream plot consumes
    * that one fit; here q_ml_<name>, q_ml_roc_auc / the curve queries,
    * and q_ml_feature_importance / q_ml_tree_export share it the same
    * way instead of re-training per query.
    */
  def model(s: SparkSession, dir: String, name: String): Transformer =
    SessionCache.getOrCompute(s, s"ml.model:$name:$dir") {
      estimators.toMap.apply(name).fit(featurized(s, dir)._1)
        .asInstanceOf[Transformer]
    }

  /** Train on even doc_ids, predict the odd half, return
    * (doc_id, label, prediction) ordered.
    */
  def trainPredict(name: String)(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (_, test) = featurized(s, dir)
    model(s, dir, name).transform(test)
      .select($"doc_id", $"label", $"prediction")
      .orderBy($"doc_id")
  }

  /** The model's continuous score column, extracted from its transform
    * output: P(class 1) where the model is probabilistic (all but SVM);
    * the SVM margin mapped through a logistic — a strictly monotone
    * transform, so every rank statistic downstream (ROC, AUC, PR, the
    * fold rank-sums) is IDENTICAL to using the raw margin, and the score
    * lands in the same [0, 1] range as the rest of the bank. Rounded to
    * 6 dp so curve coordinates can't split a threshold on float noise.
    */
  def scoreExpr(name: String): Column = {
    val raw = name match {
      case "svm" =>
        // rawPrediction = [−margin, +margin]
        lit(1.0) / (lit(1.0) + exp(-element_at(vector_to_array(col("rawPrediction")), 2)))
      case _ => element_at(vector_to_array(col("probability")), 2)
    }
    round(raw, 6)
  }

  /** Hold-out (doc_id, y, score) for one fitted model — the frame the
    * reference's assessPerformance walks per fitted classifier
    * (src/TextClassification.py:583).
    */
  def holdoutScores(s: SparkSession, dir: String, name: String): DataFrame = {
    import s.implicits._
    val (_, test) = featurized(s, dir)
    model(s, dir, name).transform(test)
      .select($"doc_id", $"label".cast("int").as("y"),
        scoreExpr(name).as("score"))
  }

  /** The dummy model's deterministic LCG draw in [0, 1000) — the single
    * source for q_ml_dummy and q_model_compare, in both engines (a
    * drifting copy would make the two queries silently disagree).
    */
  def dummyU(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    ((c % 2147483648L) * 2654435761L + 98765L) % 2147483648L % 1000L

  def dummyUSql(x: String): String =
    s"(($x % 2147483648) * 2654435761 + 98765) % 2147483648 % 1000"

  /** Stratified dummy baseline (reference: DummyClassifier
    * strategy='stratified') made deterministic: an LCG draw against the
    * train-half prevalence — and therefore SQL-expressible.
    */
  def dummy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
      .select($"doc_id", ($"lang" === "en").cast("int").as("label"))
    val prev = docs.where($"doc_id" % 2 === 0)
      .agg((sum($"label").cast("double") / count(lit(1))).as("p"))
    docs.where($"doc_id" % 2 === 1).crossJoin(broadcast(prev))
      .select($"doc_id", $"label",
        (dummyU($"doc_id") < floor($"p" * 1000)).cast("int").as("prediction"))
      .orderBy($"doc_id")
  }

  val dummySql: String =
    s"""WITH docs AS (
       |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
       |  FROM documents),
       |prev AS (
       |  SELECT CAST(sum(label) AS DOUBLE) / count(*) AS p
       |  FROM docs WHERE doc_id % 2 = 0)
       |SELECT doc_id, label,
       |  CASE WHEN ${dummyUSql("doc_id")}
       |    < floor(p * 1000) THEN 1 ELSE 0 END AS prediction
       |FROM docs, prev WHERE doc_id % 2 = 1
       |ORDER BY doc_id""".stripMargin

  val queries: Seq[GraftQuery] =
    estimators.map { case (name, _) =>
      GraftQuery(s"q_ml_$name", trainPredict(name), None, singleShot = true)
    } :+ GraftQuery("q_ml_dummy", dummy, Some(dummySql), singleShot = true)
}
