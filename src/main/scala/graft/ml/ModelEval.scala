package graft.ml

import graft.{GraftQuery, SessionCache, Tables}
import graft.operators.Evaluation
import org.apache.spark.ml.Transformer
import org.apache.spark.ml.classification.{LogisticRegression, NaiveBayes}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MLlib model scores composed through the evaluation machinery — the
  * reference's actual core workflow: fitModels → assessPerformance →
  * plotROC / plotPrecisionRecall per fitted model per CV iteration
  * (reference: src/TextClassification.py:239, :583, :310). Every query
  * here consumes a REAL trained model's probability/margin, not the
  * analytic density score: "show me the ROC of the trained SVM" is
  * answered by q_ml_roc_curve.
  *
  * Scale shape: model scores collapse to per-(model[, fold], score)
  * tallies in one hash aggregation, then every curve/AUC runs on the
  * collapsed frame through Evaluation.cumTallies (bucketed two-pass
  * prefix sums — no partition-less window, no corpus-sized sort). The
  * fits themselves are session-cached (Classifiers.model), so the whole
  * family pays each training once per session.
  *
  * All rows-only for the oracle gate (model fitting is not
  * SQL-expressible); MlEvalSpec pins determinism and cross-checks the
  * t-test algebra against the analytic twin.
  */
object ModelEval {

  /** (model, doc_id, y, score) on the hold-out half for the full bank. */
  private[ml] def scoresAll(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Classifiers.estimators.map(_._1).map { name =>
      Classifiers.holdoutScores(s, dir, name)
        .select(lit(name).as("model"), $"doc_id", $"y", $"score")
    }.reduce(_.unionByName(_))
  }

  /** Per-(model, score) hold-out threshold tallies, memoized per
    * (session, dir): the AUC/ROC/PR trio all consume them, and the
    * pin is bounded at any corpus size by the 6-dp score rounding
    * (≤ ~10⁶ distinct-score rows per model).
    */
  private def holdoutTallies(s: SparkSession, dir: String): DataFrame =
    SessionCache.getOrCompute(s, s"ml.holdoutTallies:$dir") {
      import s.implicits._
      SessionCache.pin(scoresAll(s, dir)
        .groupBy($"model", $"score")
        .agg(count(lit(1)).as("c"), sum($"y").cast("long").as("cp")))
    }

  /** Per-(model, score) threshold tallies with cumulative counts and
    * per-model totals — [[Evaluation.ranked]] partitioned by model.
    */
  private def rankedByModel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val grouped = holdoutTallies(s, dir)
    val totals = grouped.groupBy($"model")
      .agg(sum($"cp").as("p"), (sum($"c") - sum($"cp")).as("n"))
    Evaluation.cumTallies(grouped, Seq("model"))
      .join(broadcast(totals), "model")
  }

  /** Per-model tie-aware ROC-AUC + average precision on the hold-out
    * half — the reference's assessPerformance summary row per fitted
    * classifier. One row per bank model.
    */
  def mlRocAuc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    rankedByModel(s, dir)
      .groupBy($"model")
      .agg(
        (Evaluation.aucNumerator /
          Evaluation.aucDenominator(first($"p"), first($"n"))).as("auc"),
        round(graft.functions.FloatFold.orderedSumOrNull($"rk",
            $"cp".cast("double") * $"cum_tp" / $"rk", $"cp" > 0) / first($"p"),
          6).as("avg_precision"))
      .orderBy($"model")
  }

  /** Per-model ROC points (reference: plotROC per fitted model) — one
    * point per distinct score threshold per model.
    */
  def mlRocCurve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    rankedByModel(s, dir)
      .select($"model", $"rk", $"score",
        ($"cum_tp".cast("double") / $"p").as("tpr"),
        (($"rk" - $"cum_tp").cast("double") / $"n").as("fpr"))
      .orderBy($"model", $"rk")
  }

  /** Per-model PR points (reference: plotPrecisionRecall per fitted
    * model).
    */
  def mlPrCurve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    rankedByModel(s, dir)
      .select($"model", $"rk", $"score",
        ($"cum_tp".cast("double") / $"rk").as("precision"),
        ($"cum_tp".cast("double") / $"p").as("recall"))
      .orderBy($"model", $"rk")
  }

  /** The two refitted classifiers of the CV family: the cheapest pair of
    * REAL models (NaiveBayes is one aggregation pass; LogisticRegression
    * a few L-BFGS passes over the persisted fold) — 5×2cv refits 10× per
    * model, so the CV pair is deliberately lighter than the bank's
    * maxIter-50 logreg.
    */
  private val cvPair: Seq[(String, () => org.apache.spark.ml.Estimator[_])] = Seq(
    "naive_bayes" -> (() => new NaiveBayes().setSmoothing(1.0)),
    "logreg" -> (() => new LogisticRegression().setMaxIter(10).setRegParam(1e-4)))

  /** Per-(scorer, r, f, score) threshold tallies of the 5×2 grid with
    * BOTH models REFIT on each fold's train half (featurizer included —
    * no IDF leakage across the fold boundary): the reference's fitModels
    * loop per CV iteration. 20 fits, paid once per (session, dir); every
    * fold statistic (AUCs, the mean-ROC grid) derives from this one
    * cached frame. The pin is bounded at any corpus size: scores are
    * rounded to 6 dp, so a (scorer, fold) group holds at most ~10⁶
    * distinct-score rows no matter how large the test folds are.
    */
  private[graft] def foldTallies(s: SparkSession, dir: String): DataFrame =
    foldTalliesFor(s, dir, cvPair, s"ml.cvFoldTallies:$dir")

  /** The same 5×2 refit-and-collapse machinery for ANY scorer pair —
    * [[foldTallies]] runs it with the fixed CV pair; the grid-search
    * winner t-test (GridSearch.mlGridTtest) with the per-estimator best
    * hyperparameters. Memoized under the caller's key.
    */
  private[ml] def foldTalliesFor(s: SparkSession, dir: String,
      scorers: Seq[(String, () => org.apache.spark.ml.Estimator[_])],
      cacheKey: String): DataFrame =
    SessionCache.getOrCompute(s, cacheKey) {
      import s.implicits._
      import org.apache.spark.ml.feature.{HashingTF, IDF}
      // HashingTF is STATELESS, so the term-hash pass runs ONCE over the
      // corpus and every fold refits only the stage that actually
      // depends on its train half — the IDF statistics (bit-identical to
      // refitting the whole featurizer per fold, ~10 corpus hash passes
      // cheaper). The pinned tf frame is one sparse vector per doc —
      // the Classifiers.featurized size class — and it is SHARED across
      // callers (r22): the CV pair and the grid-winner t-test each
      // rebuilt and re-materialized it per memo key before, paying the
      // tokenize+n-gram+hash pass twice per session.
      val tf: org.apache.spark.sql.DataFrame =
        SessionCache.getOrCompute(s, s"ml.cvTf:$dir") {
          SessionCache.pin(new HashingTF().setInputCol("grams").setOutputCol("tf")
            .setNumFeatures(Classifiers.NumFeatures)
            .transform(Classifiers.prepared(s, dir))
            .select($"doc_id", $"label", $"tf"))
        }
      val folds = for { r <- 0 until 5; f <- 0 until 2 } yield (r, f)
      // per-fold IDF models are SHARED across callers (r19 ask #7): the
      // CV pair (ml.cvFoldTallies) and the grid-winner t-test
      // (ml.gridTtestTallies) run the SAME 10 train-half IDF fits — a
      // fitted fold featurizer is exactly the expensive-shared-artifact
      // SessionCache is for (10 corpus-sized aggregates; the models
      // themselves are one NumFeatures-length vector each, bounded
      // driver state). Fits overlap on the FitPool like the fold
      // pipelines below.
      val idfByFold: Map[(Int, Int), org.apache.spark.ml.feature.IDFModel] =
        SessionCache.getOrCompute(s, s"ml.foldIdf:$dir") {
          FitPool.traverse(folds) { case (r, f) =>
            val isTest = Evaluation.shuffleSplitBit($"doc_id", lit(r), 5) === f
            // IDF fit on the fold's train half only — no leakage
            (r, f) -> new IDF().setInputCol("tf").setOutputCol("features")
              .fit(tf.where(!isTest))
          }.toMap
        }
      // fold pipelines are independent — overlap a few as concurrent
      // Spark jobs; each fold's featurized train half is pinned for its
      // fits only
      val scored = FitPool.traverse(folds) { case (r, f) =>
        val isTest = Evaluation.shuffleSplitBit($"doc_id", lit(r), 5) === f
        val idf = idfByFold((r, f))
        def feat(df: org.apache.spark.sql.DataFrame) =
          idf.transform(df).select($"doc_id", $"label", $"features")
        val ftest = feat(tf.where(isTest))
        Tables.pinned(feat(tf.where(!isTest))) { train =>
          scorers.map { case (name, est) =>
            val m = est().fit(train).asInstanceOf[Transformer]
            m.transform(ftest).select(
              lit(name).as("scorer"), lit(r).as("r"), lit(f).as("f"),
              $"label".cast("int").as("y"),
              Classifiers.scoreExpr(name).as("score"))
          }.reduce(_.unionByName(_))
        }
      }.reduce(_.unionByName(_))
      // only the rounded-score tallies and the shared tf memo stay
      // resident for the session
      SessionCache.pin(scored.groupBy($"scorer", $"r", $"f", $"score")
        .agg(count(lit(1)).as("c"), sum($"y").cast("long").as("cp")))
    }

  /** Per-(model, r, f) hold-out AUC **and AUPRC** over the refit 5×2
    * grid — the same collapsed-tallies rank shape as everywhere else, on
    * the cached [[foldTallies]]. AUPRC per CV iteration mirrors the
    * reference's assessPerformance tracking average precision alongside
    * AUC (reference: src/TextClassification.py:583, getAUPRC :125); the
    * AP term is the same ordered fold as [[mlRocAuc]] — Σ over positive
    * thresholds of cp·precision, divided by the fold's P.
    */
  private[ml] def mlFoldAucs(s: SparkSession, dir: String): DataFrame =
    SessionCache.getOrCompute(s, s"ml.cvFoldAucs:$dir") {
      import s.implicits._
      // 20 rows — pinned so the t-test and the fold listing don't re-run
      // the sweep
      SessionCache.pin(Evaluation.cumTallies(foldTallies(s, dir), Seq("scorer", "r", "f"))
        .groupBy($"scorer", $"r", $"f")
        .agg((Evaluation.aucNumerator /
          Evaluation.aucDenominator(sum($"cp"), sum($"c" - $"cp"))).as("auc"),
          round(graft.functions.FloatFold.orderedSumOrNull($"rk",
            $"cp".cast("double") * $"cum_tp" / $"rk", $"cp" > 0) /
            sum($"cp"), 6).as("auprc")))
    }

  /** Mean ROC across the 5×2 folds PER FITTED MODEL (reference: plotSTD,
    * src/TextClassification.py:826, over fitted classifiers): each refit
    * fold's ROC interpolated onto the fixed 101-point FPR grid, then
    * averaged in fold order — the fitted-model twin of q_mean_roc_folds,
    * through the same MeanRoc.meanRocFromTallies algebra.
    */
  def mlMeanRoc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tallies = foldTallies(s, dir)
      .select($"scorer".as("model"), ($"r" * 2 + $"f").cast("int").as("iter"),
        $"score", $"c", $"cp")
    // the EXPECTED grid — both refit models × all 10 folds, independent
    // of which folds happened to score rows
    val domain = s.createDataFrame(
      for { m <- cvPair.map(_._1); i <- 0 until 10 } yield (m, i))
      .toDF("model", "iter")
    MeanRoc.meanRocFromTallies(s, tallies, Seq("model"), domain)
  }

  /** The per-fold AUC+AUPRC grid itself (model × 5 rounds × 2 folds). */
  def mlCvAuc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mlFoldAucs(s, dir)
      .select($"scorer".as("model"), $"r", $"f", $"auc", $"auprc")
      .orderBy($"model", $"r", $"f")
  }

  /** 5×2cv paired t-test between the two REFIT MLlib models (reference:
    * ttest_5x2cv, src/TextClassification.py:1520) — the same Dietterich
    * algebra as q_ttest_5x2 (shared via CrossVal.ttestStat; MlEvalSpec
    * cross-checks the two paths on the analytic scorers).
    */
  def mlTtest5x2(s: SparkSession, dir: String): DataFrame =
    CrossVal.ttestStat(mlFoldAucs(s, dir), "naive_bayes", "logreg")

  /** Model-refitting learning curve (reference: samplingCurveROC,
    * src/TextClassification.py:1021; sampleSizeROC,
    * src/NLP_functions.py:752): refit the cheap seeded logreg on nested
    * LCG-hash subsets of the train half (20..100%) and report hold-out
    * AUC — and AUPRC, the reference's PR flavor of the same curve
    * (samplingCurvePR, src/TextClassification.py:1163; sampleSizePR,
    * src/NLP_functions.py:794) — per size:
    * model-performance-vs-data-volume, not the analytic subset sweep of
    * q_learning_curve. Subsets nest by construction (h < t₁ ⊆ h < t₂):
    * the hash threshold needs no global rank, so subset selection is a
    * map-side filter at any scale. Both curve flavors come from ONE set
    * of refits: the scored frame collapses once and AUC/AP read the
    * same cumulative tallies.
    */
  def mlLearningCurve(s: SparkSession, dir: String): DataFrame =
    SessionCache.getOrCompute(s, s"ml.learningCurve:$dir") {
      import s.implicits._
      val (train, test) = Classifiers.featurized(s, dir)
      val h = (($"doc_id" % 2147483648L) * 2654435761L + 54321L) % 2147483648L
      val fracs = Seq(20, 40, 60, 80, 100)
      // independent refits → a few concurrent Spark jobs, like the folds
      val scored = FitPool.traverse(fracs) { frac =>
        // h ∈ [0, 2³¹); h·100 < frac·2³¹ keeps ≈frac% — exact nesting,
        // all-long arithmetic (max h·100 ≈ 2³⁸, far inside int64)
        val sub = train.where(h * 100 < lit(frac.toLong) * 2147483648L)
        val m = new LogisticRegression().setMaxIter(10).setRegParam(1e-4)
          .fit(sub).asInstanceOf[Transformer]
        m.transform(test).select(lit(frac).as("frac_pct"),
          $"label".cast("int").as("y"),
          Classifiers.scoreExpr("logreg").as("score"))
      }.reduce(_.unionByName(_))
      val grouped = scored.groupBy($"frac_pct", $"score")
        .agg(count(lit(1)).as("c"), sum($"y").cast("long").as("cp"))
      SessionCache.pin(Evaluation.cumTallies(grouped, Seq("frac_pct"))
        .groupBy($"frac_pct")
        .agg((Evaluation.aucNumerator /
          Evaluation.aucDenominator(sum($"cp"), sum($"c" - $"cp"))).as("auc"),
          round(graft.functions.FloatFold.orderedSumOrNull($"rk",
            $"cp".cast("double") * $"cum_tp" / $"rk", $"cp" > 0) /
            sum($"cp"), 6).as("auprc")))
    }.orderBy("frac_pct")

  /** Calibration / reliability + Brier PER FITTED MODEL — the
    * q_calibration analytics applied to every bank model's hold-out
    * probabilities (rank metrics can't see mis-calibration; NB is
    * notoriously over-confident, the tree models step-wise — this is
    * the query that shows it). Cost shape: consumes the SESSION-CACHED
    * per-(model, score) tallies — no rescore, no new fit — and both
    * the 10-bin reliability rows and the Brier score are EXACT integer
    * algebra on the tallies: with si = round(score·10⁶),
    * Σ(score−y)² = Σ_rows [cp·(si−10⁶)² + (c−cp)·si²] in
    * decimal(38,0), so the whole report is order-independent and two
    * IEEE divisions deep. Rows-only (fitted models); MlEvalSpec
    * recomputes one model's bins + Brier from its raw hold-out scores.
    */
  def mlCalibration(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dec = "decimal(38,0)"
    val t = holdoutTallies(s, dir).select($"model", $"score", $"c", $"cp",
      round($"score" * 1000000).cast("long").cast(dec).as("si"))
    val bins = t.groupBy($"model",
        least(floor($"score" * 10), lit(9)).cast("int").as("bin"))
      .agg(sum($"c").as("n_docs"), sum($"cp").as("n_pos"),
        sum($"si" * $"c").as("ssi"))
    val brier = t.groupBy($"model")
      .agg(((sum($"cp" * ($"si" - 1000000L) * ($"si" - 1000000L)) +
        sum(($"c" - $"cp") * $"si" * $"si")).cast("double") /
        (sum($"c").cast("double") * 1e12)).as("brier"))
    bins.join(broadcast(brier), "model")
      .select($"model", $"bin", $"n_docs", $"n_pos",
        round($"n_pos".cast("double") / $"n_docs", 6).as("pos_rate"),
        round($"ssi".cast("double") / ($"n_docs".cast("double") * 1e6), 6)
          .as("mean_score"),
        round($"brier", 6).as("brier"))
      .orderBy($"model", $"bin")
  }

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("q_ml_calibration", mlCalibration, None, singleShot = true),
    GraftQuery("q_ml_roc_auc", mlRocAuc, None, singleShot = true),
    GraftQuery("q_ml_roc_curve", mlRocCurve, None, singleShot = true),
    GraftQuery("q_ml_pr_curve", mlPrCurve, None, singleShot = true),
    GraftQuery("q_ml_cv_auc", mlCvAuc, None, singleShot = true),
    GraftQuery("q_ml_ttest_5x2", mlTtest5x2, None, singleShot = true),
    GraftQuery("q_ml_mean_roc", mlMeanRoc, None, singleShot = true),
    GraftQuery("q_ml_learning_curve", mlLearningCurve, None, singleShot = true))
}
