package graft.ml

import graft.{GraftQuery, SessionCache}
import graft.operators.Evaluation
import org.apache.spark.ml.Transformer
import org.apache.spark.ml.classification.{LogisticRegression, RandomForestClassifier}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hyperparameter sweep surface — the reference's caller-supplied
  * model-configuration knobs (createDictionary kwargs,
  * /root/reference/src/TextClassification.py:257; the notebook's
  * per-model parameter choices in cell 38) as a multi-estimator grid:
  * the reference configures EVERY model in the bank through the same
  * kwargs dict, so the sweep here covers both families that dominate
  * its tuning surface — the linear model (regularization × mixing) and
  * a tree ensemble (depth × trees) — scored by the engine's own
  * threshold-tally algebra (the reuse a per-point evaluator would hide).
  *
  * Scale shape: fits are the cost (Σ|grid| estimator fits over the
  * persisted featurized train half — resource-bound, exactly like the
  * bank); evaluation is ONE corpus-sized hash agg for ALL grid points
  * of ALL estimators (scores union with (estimator, p1, p2) as group
  * keys, then the shared cumTallies/AUC algebra runs per grid point).
  * The final ranking window is grid-bounded by construction (Σ|grid|
  * rows after aggregation, partitioned per estimator), not corpus-sized.
  */
object GridSearch {

  /** Linear-model axes — regularization strength × elastic-net mixing
    * (3×2 = 6 fits).
    */
  val RegParams: Seq[Double] = Seq(1e-4, 1e-2, 1.0)
  val ElasticNets: Seq[Double] = Seq(0.0, 0.5)

  /** Tree-family axes — maxDepth × numTrees (2×2 = 4 fits): the two RF
    * hyperparameters the reference's kwargs surface tunes in practice.
    */
  val RfMaxDepths: Seq[Int] = Seq(3, 5)
  val RfNumTrees: Seq[Int] = Seq(10, 20)

  /** One swept estimator: its two named axes, the concrete grid points,
    * and the per-point fit. Scores flow through Classifiers.scoreExpr so
    * the sweep ranks on exactly the statistic the bank reports.
    */
  private final case class Sweep(
      estimator: String,
      p1Name: String,
      p2Name: String,
      points: Seq[(Double, Double)],
      fit: (DataFrame, Double, Double) => Transformer)

  private def sweeps: Seq[Sweep] = Seq(
    Sweep("logreg", "reg_param", "elastic_net",
      for (rp <- RegParams; en <- ElasticNets) yield (rp, en),
      // maxIter 10: the cvPair precedent (ModelEval) — sweep refits are
      // deliberately lighter than the bank's maxIter-50 production fit
      (train, rp, en) => new LogisticRegression().setMaxIter(10)
        .setRegParam(rp).setElasticNetParam(en).fit(train)),
    Sweep("rf", "max_depth", "num_trees",
      for (d <- RfMaxDepths; t <- RfNumTrees) yield (d.toDouble, t.toDouble),
      (train, d, t) => new RandomForestClassifier().setSeed(Classifiers.Seed)
        .setMaxDepth(d.toInt).setNumTrees(t.toInt).fit(train)))

  /** Every estimator's grid points as (estimator, p1Name, p2Name, p1, p2)
    * — the spec pins the registered output against exactly this shape.
    */
  private[graft] def gridShape: Seq[(String, String, String, Double, Double)] =
    sweeps.flatMap(s => s.points.map { case (p1, p2) =>
      (s.estimator, s.p1Name, s.p2Name, p1, p2)
    })

  /** One AUC row per (estimator, grid point), memoized per
    * (session, dir) — the sweep's Σ|grid| fits are paid once per session
    * like every bank fit.
    */
  private[ml] def gridAucs(s: SparkSession, dir: String): DataFrame =
    SessionCache.getOrCompute(s, s"ml.gridSearch:$dir") {
      import s.implicits._
      val (train, test) = Classifiers.featurized(s, dir)
      // fit each grid point of each estimator; tag its hold-out scores
      // with the sweep coordinates so ONE downstream aggregation serves
      // the whole multi-estimator surface. The Σ|grid| fits are
      // independent Spark jobs on the FitPool, whose results keep input
      // order, so the union tree is byte-identical to the sequential
      // build.
      val points = sweeps.flatMap(sw => sw.points.map { case (p1, p2) => (sw, p1, p2) })
      val scored = FitPool.traverse(points) { case (sw, p1, p2) =>
        sw.fit(train, p1, p2).transform(test).select(
          lit(sw.estimator).as("estimator"),
          lit(sw.p1Name).as("p1_name"), lit(sw.p2Name).as("p2_name"),
          lit(p1).as("p1"), lit(p2).as("p2"),
          $"label".cast("int").as("y"),
          Classifiers.scoreExpr(sw.estimator).as("score"))
      }.reduce(_.unionByName(_))
      val keys = Seq("estimator", "p1_name", "p2_name", "p1", "p2")
      val kc = keys.map(col)
      // materialize the collapsed tallies (bounded: distinct scores per
      // grid point): totals + cumTallies + the final join reference this
      // frame several times, and each copy would re-run all ten model
      // transforms over the test half (the perplexity-buckets lesson).
      // A checkpoint, not a scoped pin: the sweep plan pinned below
      // references it, so only the ContextCleaner can release it
      val tallies = scored.groupBy(kc :+ $"score": _*)
        .agg(count(lit(1)).as("c"), sum($"y").cast("long").as("cp"))
        .localCheckpoint()
      val totals = tallies.groupBy(kc: _*)
        .agg(sum($"cp").as("p"), (sum($"c") - sum($"cp")).as("n"))
      SessionCache.pin(Evaluation.cumTallies(tallies, keys) // Σ|grid| rows
        .join(broadcast(totals), keys)
        .groupBy(kc: _*)
        .agg(round(Evaluation.aucNumerator /
          Evaluation.aucDenominator(first($"p"), first($"n")), 6).as("auc_roc")))
    }

  /** Registered sweep: every (estimator, grid point) with its hold-out
    * AUC and per-estimator rank (rank 1 = that estimator's selected
    * hyperparameters; ties break on the smaller p1, then p2 — fully
    * deterministic). Rows-only for the gate (model fitting is not
    * SQL-expressible); MlEvalSpec pins the multi-estimator grid shape
    * and best-params determinism.
    */
  def mlGridSearch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // grid-bounded frame: this window ranks Σ|grid| rows per estimator,
    // not the corpus
    val w = Window.partitionBy($"estimator")
      .orderBy($"auc_roc".desc, $"p1".asc, $"p2".asc)
    gridAucs(s, dir)
      .withColumn("rank", row_number().over(w))
      .select($"estimator", $"rank", $"p1_name", $"p1", $"p2_name", $"p2",
        $"auc_roc")
      .orderBy($"estimator", $"rank")
  }

  /** The per-estimator winning grid point, read off the cached sweep —
    * a grid-bounded driver materialization (one row per estimator, like
    * the k-means centroid collect).
    */
  private def bestParams(s: SparkSession, dir: String): Map[String, (Double, Double)] = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"estimator")
      .orderBy($"auc_roc".desc, $"p1".asc, $"p2".asc)
    gridAucs(s, dir).withColumn("rk", row_number().over(w))
      .where($"rk" === 1).select($"estimator", $"p1", $"p2")
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
  }

  /** 5×2cv paired t-test between the per-estimator WINNERS of the sweep
    * — the reference workflow's closing move: tune each family, then ask
    * whether the best linear model and the best tree ensemble actually
    * differ (ttest_5x2cv, reference src/TextClassification.py:1520,
    * applied to the tuned pair instead of the fixed CV pair). Both
    * winners REFIT on every fold's train half through the shared
    * fold-tally machinery (featurizer included — no leakage), and the
    * t statistic is the same Dietterich algebra as q_ttest_5x2 /
    * q_ml_ttest_5x2 (CrossVal.ttestStat — the three queries can't
    * drift). Output is one row carrying both winners' hyperparameters
    * next to the statistic. Rows-only (model fits); MlEvalSpec pins the
    * winner coordinates against the sweep and the statistic's
    * determinism.
    */
  def mlGridTtest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val best = bestParams(s, dir)
    val (lrRp, lrEn) = best("logreg")
    val (rfDepth, rfTrees) = best("rf")
    val winners: Seq[(String, () => org.apache.spark.ml.Estimator[_])] = Seq(
      "logreg" -> (() => new LogisticRegression().setMaxIter(10)
        .setRegParam(lrRp).setElasticNetParam(lrEn)),
      "rf" -> (() => new RandomForestClassifier().setSeed(Classifiers.Seed)
        .setMaxDepth(rfDepth.toInt).setNumTrees(rfTrees.toInt)))
    val tallies = ModelEval.foldTalliesFor(s, dir, winners,
      s"ml.gridWinnerFoldTallies:$dir")
    val aucs = Evaluation.cumTallies(tallies, Seq("r", "f", "scorer"))
      .groupBy($"r", $"f", $"scorer")
      .agg((Evaluation.aucNumerator /
        Evaluation.aucDenominator(sum($"cp"), sum($"c" - $"cp"))).as("auc"))
    CrossVal.ttestStat(aucs, "logreg", "rf")
      .select(
        lit("logreg").as("estimator_a"),
        lit(lrRp).as("a_reg_param"), lit(lrEn).as("a_elastic_net"),
        lit("rf").as("estimator_b"),
        lit(rfDepth).as("b_max_depth"), lit(rfTrees).as("b_num_trees"),
        $"d00", $"s_sqr", $"t_stat")
  }

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("q_ml_grid_search", mlGridSearch, None, singleShot = true),
    GraftQuery("q_ml_grid_ttest", mlGridTtest, None, singleShot = true))
}
