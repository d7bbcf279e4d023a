package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.Window
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guards — the scale properties SURVEY §5 claims,
  * asserted mechanically so a refactor can't silently reintroduce them:
  * no partition-less window anywhere in the evaluation-sweep family
  * (Spark funnels ALL rows into one task for those), and no
  * Catalyst-inlined recompute of the shingle-array expression in the
  * Jaccard join (the InferFilters* pushdown trap, 3-4x measured).
  */
class PlanGuardSpec extends AnyFunSuite with BeforeAndAfterAll {

  val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val sweepFamily: Seq[String] = Seq(
    "q_roc_curve", "q_pr_curve", "q_f1_sweep", "q_auc_trapezoid",
    "q_optimal_cutoff", "q_confusion_sweep", "q_confusion_at_cutoff",
    "q_classification_report", "q_learning_curve", "q_learning_curve_pr",
    "q_mean_roc_folds", "q_model_compare", "q_ttest_5x2", "q_median_model",
    "q_prevalence_pr", "q_pack_sequences",
    // the MLlib-score composition family routes through the same
    // cumTallies prefix-sum — guard it the same way
    "q_ml_roc_auc", "q_ml_roc_curve", "q_ml_pr_curve", "q_ml_cv_auc",
    "q_ml_ttest_5x2", "q_ml_mean_roc", "q_ml_learning_curve",
    // perplexity bucketing ranks via the same cumTallies prefix sum
    "q_perplexity_buckets")

  test("no partition-less window in any sweep-family plan") {
    val byName = SparkEntry.all.map(q => q.name -> q.fn).toMap
    sweepFamily.foreach { name =>
      val plan = byName(name)(spark, dir).queryExecution.optimizedPlan
      val bare = plan.collect { case w: Window if w.partitionSpec.isEmpty => w }
      assert(bare.isEmpty,
        s"$name has ${bare.size} partition-less window(s) — single-task at scale")
    }
  }

  test("registered jaccard query is the prefix-filtered plan") {
    val plan = SparkEntry.queries("q_dedup_ngram_jaccard")(spark, dir)
      .queryExecution.optimizedPlan
    // the prefix variant ranks shingles per doc (a PARTITIONED window);
    // the plain inverted join has no window at all — so window presence
    // pins the plan, and the partition spec pins its scale shape
    val wins = plan.collect { case w: Window => w }
    assert(wins.nonEmpty, "expected the per-doc prefix-rank window — the " +
      "plain inverted join appears to be registered")
    assert(wins.forall(_.partitionSpec.nonEmpty),
      "prefix-rank window lost its partition spec — single-task at scale")
  }

  test("registered jaccard plan has no window partitioned by shingle") {
    // the shingle-frequency stat must be a partial-aggregating groupBy,
    // never a window by shingle: that shape ships every exploded posting
    // row combiner-less and buffers each hot shingle's full posting list
    // in one window partition
    val plan = SparkEntry.queries("q_dedup_ngram_jaccard")(spark, dir)
      .queryExecution.optimizedPlan
    val byShingle = plan.collect {
      case w: Window if w.partitionSpec.exists(_.references.exists(_.name == "shingle")) => w
    }
    assert(byShingle.isEmpty,
      s"${byShingle.size} window(s) partitioned by shingle — hot-key buffering at scale")
  }

  test("containment plan: prefix-rank windows partitioned, no shingle window, no cartesian") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val df = SparkEntry.queries("q_dedup_containment")(spark, dir)
    val opt = df.queryExecution.optimizedPlan
    val wins = opt.collect { case w: Window => w }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      "containment prefix-rank window missing or partition-less")
    val byShingle = opt.collect {
      case w: Window if w.partitionSpec.exists(_.references.exists(_.name == "shingle")) => w
    }
    assert(byShingle.isEmpty,
      s"${byShingle.size} window(s) partitioned by shingle — hot-key buffering at scale")
    val bad = df.queryExecution.sparkPlan.collect {
      case b: BroadcastNestedLoopJoinExec => b: org.apache.spark.sql.execution.SparkPlan
      case c: CartesianProductExec => c
    }
    assert(bad.isEmpty, s"${bad.size} non-equi pair-sweep join(s) in containment")
  }

  test("heavy-hitters plan joins the sketch by equi-key — no BNLJ, no cartesian") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val plan = SparkEntry.queries("q_heavy_hitters")(spark, dir)
      .queryExecution.sparkPlan
    val bad = plan.collect {
      case b: BroadcastNestedLoopJoinExec => b: org.apache.spark.sql.execution.SparkPlan
      case c: CartesianProductExec => c
    }
    assert(bad.isEmpty, s"${bad.size} non-equi join(s) in the sketch lookup")
  }

  test("perplexity-bucket rank algebra reads the LM lineage at most twice") {
    // the rank algebra (bounds + prefix sums + join-back) references the
    // collapsed distinct-score frame many times; since r21 that frame is
    // MATERIALIZED (r21: localCheckpoint; r22: collected into a driver
    // LOCAL relation — same plan collapse, no job barrier), so the
    // corpus-scale LM lineage must appear at most twice in the final
    // plan — once feeding the collected tallies (already executed at
    // build, hence absent from the final frame's plan) and once for the
    // per-doc join-back — rather than being re-planned (and leaned on
    // AQE exchange reuse) per branch
    val df = SparkEntry.queries("q_perplexity_buckets")(spark, dir)
    df.collect()
    val fin = df.queryExecution.executedPlan.toString
    // the ONE remaining lp reference (the per-doc join-back) carries the
    // LM's own two-pass shape: tok feeds the freq aggregate, the
    // token-level join and the totals scalar — 5 scans. Before the
    // materialization the rank algebra multiplied that whole lineage per
    // branch (the KN twin's explain reached 67 scans).
    val scans = "Scan parquet".r.findAllIn(fin).length
    assert(scans <= 5,
      s"$scans corpus scans in the final adaptive plan — the LM lineage " +
        "is being replicated across rank-algebra branches again")
    // and the materialized tallies leaf is actually there
    assert(fin.contains("LocalTableScan"),
      "no local-relation tallies leaf in the final plan")
  }

  test("registered embed-cosine dedup is the blocked plan (no BNLJ, no cartesian)") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val plan = SparkEntry.queries("q_embed_cosine_dedup")(spark, dir)
      .queryExecution.sparkPlan
    val bad = plan.collect {
      case b: BroadcastNestedLoopJoinExec => b: org.apache.spark.sql.execution.SparkPlan
      case c: CartesianProductExec => c
    }
    assert(bad.isEmpty,
      s"${bad.size} non-equi pair-sweep join(s) — corpus-sized broadcast at scale")
  }

  test("fused doc-signals plan is one corpus scan with no hash exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val plan = SparkEntry.queries("q_doc_signals")(spark, dir)
      .queryExecution.sparkPlan
    val scans = plan.collectLeaves()
    assert(scans.size == 1,
      s"${scans.size} input scans — the signal bundle exists to read the corpus ONCE")
    // the only exchange allowed is the output sort's range partitioning:
    // a hash exchange would mean some signal reintroduced a join/groupBy
    val hashEx = plan.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    assert(hashEx.isEmpty,
      s"${hashEx.size} hash exchange(s) in the fused signal projection")
  }

  test("winnow fingerprint plan is one scan, zero hash exchanges; pairs join equi-key only") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    // the per-doc selection is pure row-local algebra: any hash exchange
    // means a join/groupBy crept into what must stay a projection
    val fpPlan = SparkEntry.queries("q_winnow_fingerprint")(spark, dir)
      .queryExecution.sparkPlan
    assert(fpPlan.collectLeaves().size == 1, "winnow fingerprint must scan once")
    val hashEx = fpPlan.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    assert(hashEx.isEmpty, s"${hashEx.size} hash exchange(s) in the selection projection")
    // candidate pairs must come from the fp equi-join — never a
    // nested-loop pair sweep
    val prPlan = SparkEntry.queries("q_winnow_pairs")(spark, dir)
      .queryExecution.sparkPlan
    val bnlj = prPlan.collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.isEmpty, "winnow pairs must join postings by fingerprint equi-key")
  }

  test("curation gate features read the corpus exactly twice") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // the fused row-local scan + the LM signal's scoring pass; the LM
    // model itself is a materialized in-memory artifact (a leaf, not
    // corpus lineage). A third scan means a per-signal scan crept back.
    // Built fresh on a dir no other suite caches, so neither the
    // session-cached feature frame nor a whole-plan cache hit can mask
    // the shape.
    val plan = graft.operators.Curation
      .gateFeaturePlan(spark, "/root/testdata/sf0.01")
      .queryExecution.sparkPlan
    val corpusScans = plan.collect {
      case f: FileSourceScanExec
          if f.metadata.get("Location").exists(_.contains("documents")) => f
    }
    assert(corpusScans.size == 2,
      s"${corpusScans.size} corpus scans in the gate feature plan — " +
        "row-local signals must share one fused scan, the LM pass one more")
  }

  test("semdedup candidate pairs come from a cluster equi-join — no BNLJ, no cartesian") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import org.apache.spark.sql.functions._
    // drive the factored sweep with fixed centroids: the k-means fit is
    // irrelevant to the plan shape under guard
    import spark.implicits._
    val v = operators.Similarity.withNorms(
      (0 until 40).map(i => (i.toLong, Seq.tabulate(8)(d => (i * 8 + d).toDouble)))
        .toDF("vec_id", "v"))
    val cents = v.where($"vec_id" < 4)
      .select($"vec_id".cast("int").as("cent_id"), $"v".as("cv"), $"nrm".as("cnrm"))
    val plan = operators.Similarity.semDedupOn(spark, v, cents, 0.9)
      .queryExecution.sparkPlan
    val cartesian = plan.collect { case c: CartesianProductExec => c }
    assert(cartesian.isEmpty, s"${cartesian.size} cartesian product(s)")
    // BNLJ is legal ONLY against the broadcast centroid frame (the
    // ivfSearch assignment pattern, corpus × k) — a BNLJ whose build
    // side lacks the centroid columns is a corpus-pair sweep
    val badBnlj = plan.collect {
      case b: BroadcastNestedLoopJoinExec if !{
        import org.apache.spark.sql.catalyst.optimizer.BuildRight
        val build = if (b.buildSide == BuildRight) b.right else b.left
        build.output.exists(_.name == "cv")
      } => b
    }
    assert(badBnlj.isEmpty,
      s"${badBnlj.size} BNLJ(s) not against the centroid broadcast — corpus-wide sweep at scale")
    // and the pair enumeration itself must be a cluster equi-join
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    val equiOnCluster = plan.collect {
      case j: SortMergeJoinExec if j.leftKeys.exists(_.references.exists(_.name == "cent_id")) => j
      case j: ShuffledHashJoinExec if j.leftKeys.exists(_.references.exists(_.name == "cent_id")) => j
      case j: BroadcastHashJoinExec if j.leftKeys.exists(_.references.exists(_.name == "cent_id")) => j
    }
    assert(equiOnCluster.nonEmpty,
      "no equi-join on cent_id found — the within-cluster pair join changed shape")
  }

  test("round-14 additions: equi-joins only, partitioned windows, bounded zipf limit") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    // candidate generation / lookup joins must stay equi-key (queries
    // whose plans carry 1-row totals crossJoins — doc_knn's idf scalar,
    // calibration/ctfidf/norm-audit — are the documented
    // broadcast-scalar exception and are not in this list; doc_knn's
    // candidate join itself is the token equi-join, checked below)
    Seq("q_minhash_accuracy", "q_contamination_bloom",
        "q_events_anomaly").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, dir).queryExecution.sparkPlan
      val bad = plan.collect {
        case b: BroadcastNestedLoopJoinExec => b: org.apache.spark.sql.execution.SparkPlan
        case c: CartesianProductExec => c
      }
      assert(bad.isEmpty, s"$name: ${bad.size} non-equi join(s)")
    }
    // doc_knn: the only nested-loop joins are the 1-row idf/doc-count
    // scalars — every BNLJ build side must be a grouping-less aggregate
    locally {
      import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
      val plan = SparkEntry.queries("q_doc_knn")(spark, dir).queryExecution.sparkPlan
      val bnljs = plan.collect { case b: BroadcastNestedLoopJoinExec => b }
      val cart = plan.collect { case c: CartesianProductExec => c }
      assert(cart.isEmpty, "cartesian product in q_doc_knn")
      bnljs.foreach { b =>
        val scalarSide = b.children.exists(_.collect {
          case a: HashAggregateExec if a.groupingExpressions.isEmpty => a: org.apache.spark.sql.execution.SparkPlan
          case a: ObjectHashAggregateExec if a.groupingExpressions.isEmpty => a
          case a: SortAggregateExec if a.groupingExpressions.isEmpty => a
        }.nonEmpty)
        assert(scalarSide,
          "q_doc_knn nested-loop join whose build side is NOT a 1-row scalar " +
            "aggregate — a corpus-sized broadcast at scale")
      }
    }
    // per-group rankings keep their partition spec
    Seq("q_doc_knn", "q_ctfidf_source").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, dir).queryExecution.optimizedPlan
      val bare = plan.collect { case w: Window if w.partitionSpec.isEmpty => w }
      assert(bare.isEmpty, s"$name has ${bare.size} partition-less window(s)")
    }
    // zipf's global rank window is legal ONLY because its input is
    // LIMIT-bounded — pin that the limit is in the plan
    val zipf = SparkEntry.queries("q_zipf_fit")(spark, dir)
      .queryExecution.optimizedPlan
    val limits = zipf.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.GlobalLimit => l }
    assert(limits.nonEmpty, "q_zipf_fit lost its top-1000 LIMIT — " +
      "the rank window would be corpus-sized")
  }

  test("doc-knn weight frame carries the hot-posting df cap") {
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    // the cap must survive optimization as a real filter on the df
    // aggregate — without it, one stopword's posting list joins against
    // essentially the whole corpus per query doc
    val plan = SparkEntry.queries("q_doc_knn")(spark, dir)
      .queryExecution.optimizedPlan
    val capFilters = plan.collect {
      case f: Filter if f.condition.references.exists(_.name == "df") => f
    }
    assert(capFilters.nonEmpty,
      "q_doc_knn lost its df <= DocKnnMaxDf hot-posting cap — " +
        "corpus-sized candidate lists at scale")
  }

  test("jaccard plan computes the shingle expression at most once per branch") {
    val plan = operators.Dedup.ngramJaccard(spark, dir)
      .queryExecution.executedPlan.toString
    // 4 branches (two join sides + two size lookups) — anything above
    // means a pushed-down filter re-inlined the array construction; zero
    // means the pattern vanished (renamed column, plan-string truncation)
    // and the guard must be updated, not silently passed
    val computes = "tokenizews\\(text".r.findAllIn(plan).size
    assert(computes >= 1, "tokenizews(text pattern absent from plan — update this guard")
    assert(computes <= 4, s"shingle expression inlined $computes times (expected <= 4)")
  }

  test("LSH cosine route and ANN probe plans: band-bucket equi-joins only — no BNLJ, no cartesian") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    // (q_ann_recall is NOT guarded here: its IVF methods score a
    // bounded 10-query × k-centroid broadcast cross by design)
    Seq("q_embed_cosine_dedup_lsh", "q_ann_lsh").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, dir).queryExecution.sparkPlan
      val bad = plan.collect {
        case b: BroadcastNestedLoopJoinExec => b: org.apache.spark.sql.execution.SparkPlan
        case c: CartesianProductExec => c
      }
      assert(bad.isEmpty,
        s"$name: ${bad.size} non-equi join(s) — the 256-bit sign index must " +
          "generate candidates through (band, bits) equi-joins only")
    }
  }

  test("multi-probe lshTopK plan: probe/bucket/rerank equi-joins only — no BNLJ, no cartesian") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    // the r19 directed 1-flip probe set joins the banded index on
    // (band, bits) and the rerank fetches vectors by neighbor_id —
    // every join stays an equi-join even with the probe union in play
    val plan = graft.operators.Similarity.lshTopK(spark, dir)
      .queryExecution.sparkPlan
    val bad = plan.collect {
      case b: BroadcastNestedLoopJoinExec => b: org.apache.spark.sql.execution.SparkPlan
      case c: CartesianProductExec => c
    }
    assert(bad.isEmpty, s"lshTopK: ${bad.size} non-equi join(s)")
  }

  test("hierarchical semdedup consumer assignment joins on the branch key — no BNLJ, no cartesian") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import spark.implicits._
    // planted 64-dim store (the trainer requires nothing of the dim, but
    // keep the registered shape); the guard is on the assignment plan:
    // level-2 candidates must come from the b-keyed equi-join, never a
    // vectors × all-sub-centroids product
    val v = operators.Similarity.withNorms(
      (0 until 48).map(i => (i.toLong, Seq.tabulate(64)(d => ((i * 64 + d) % 7).toDouble)))
        .toDF("vec_id", "v"))
    val plan = operators.Similarity.hierAssignOn(spark, v, 8)
      .queryExecution.sparkPlan
    val bad = plan.collect {
      case b: BroadcastNestedLoopJoinExec => b: org.apache.spark.sql.execution.SparkPlan
      case c: CartesianProductExec => c
    }
    assert(bad.isEmpty,
      s"${bad.size} non-equi join(s) in the two-level assignment plan")
  }

  /** AQE's current plan of `df`: before `df` runs, its starting plan
    * (every exchange placed, nothing executed); after, its final plan. */
  private def initialPlan(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.execution.SparkPlan = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  /** Every shuffle exchange of `plan`, inside materialized stages too. */
  private def exchangesOf(plan: org.apache.spark.sql.execution.SparkPlan) = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    new AdaptiveSparkPlanHelper {}.collect(plan) { case e: ShuffleExchangeLike => e }
  }

  test("simhash plan is one projection: no shuffle below the output sort") {
    import org.apache.spark.sql.execution.{GenerateExec, SortExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val plan = initialPlan(SparkEntry.queries("q_dedup_simhash")(spark, dir))
    // at test size the output sort is the small-sort rule's
    // single-partition exchange plus a local sort; above the bound it is a
    // range exchange plus a global sort — either way, the only exchange
    val exchanges = exchangesOf(plan)
    assert(exchanges.size == 1,
      s"${exchanges.size} exchange(s) — the fingerprint must be one projection " +
        s"under the output sort's shuffle:\n$plan")
    assert(plan.collectFirst { case s: SortExec => s.child }
      .exists(_.isInstanceOf[ShuffleExchangeLike]), s"no output sort:\n$plan")
    val exploded = plan.collect {
      case a: BaseAggregateExec => a: org.apache.spark.sql.execution.SparkPlan
      case g: GenerateExec => g
    }
    assert(exploded.isEmpty,
      s"${exploded.size} token explode/aggregation node(s) back in the SimHash plan")
  }

  private val minSize = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  /** `body` with AQE's minPartitionSize lowered to 16k, so the sf0.001
    * inputs are above the small-sort bound. */
  private def aboveBound[T](body: => T): T = {
    val prev = spark.conf.get(minSize)
    try {
      spark.conf.set(minSize, "16k")
      body
    } finally spark.conf.set(minSize, prev)
  }

  /** AQE's final plan of `df`, after running it through its own
    * query execution (`collect`; a writer would plan a new one). */
  private def finalPlan(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.execution.SparkPlan = {
    df.collect()
    initialPlan(df)
  }

  /** The sort's one exchange is single-partition with the sort's own
    * ENSURE_REQUIREMENTS origin, not a user repartition. */
  private def assertSingleSortExchange(plan: org.apache.spark.sql.execution.SparkPlan): Unit = {
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
    assert(plan.collect { case s: SortExec => s.global } == Seq(true),
      s"expected one global sort:\n$plan")
    assert(plan.collectFirst { case s: SortExec => s.child }.exists {
      case ShuffleExchangeExec(SinglePartition, _, ENSURE_REQUIREMENTS, _) => true
      case _ => false
    }, s"expected the sort over one ENSURE_REQUIREMENTS single-partition exchange:\n$plan")
  }

  test("small-sort rule: a sort over a small input skips the range exchange, a larger one keeps it") {
    import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
    import org.apache.spark.sql.execution.SortExec
    def sortPlan = initialPlan(SparkEntry.queries("q_dedup_simhash")(spark, dir))
    // the sf0.001 documents file (64 KB) is under the default 1 MB bound
    val small = sortPlan
    assert(exchangesOf(small).map(_.outputPartitioning) == Seq(SinglePartition),
      s"expected one single-partition exchange:\n$small")
    assertSingleSortExchange(small)
    // above the bound, the sort keeps its range exchange and global sort
    val large = aboveBound(sortPlan)
    val largeParts = exchangesOf(large).map(_.outputPartitioning)
    assert(largeParts.size == 1 && largeParts.head.isInstanceOf[RangePartitioning],
      s"expected one range exchange:\n$large")
    assert(large.collect { case s: SortExec => s.global } == Seq(true),
      s"expected one global sort:\n$large")
  }

  test("small-sort rule: orderBy.limit still plans TakeOrderedAndProject") {
    import org.apache.spark.sql.execution.{SortExec, TakeOrderedAndProjectExec}
    val df = Tables.documents(spark, dir).orderBy("doc_id").select("doc_id").limit(5)
    val plan = initialPlan(df)
    assert(plan.collect { case t: TakeOrderedAndProjectExec => t }.size == 1,
      s"no TakeOrderedAndProject:\n$plan")
    assert(plan.collect { case s: SortExec => s }.isEmpty, s"a sort below the limit:\n$plan")
  }

  test("small-sort rule: q_stem_dutch keeps its fan-out hash exchange under the single-partition sort") {
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, SinglePartition}
    import org.apache.spark.sql.execution.SortExec
    // the sf0.1 snapshot (580 KB, one file) is where Tables.fanOut fires
    // at local[4], and it is still under the 1 MB bound
    val plan = initialPlan(SparkEntry.queries("q_stem_dutch")(spark, "/root/testdata/sf0.1"))
    val parts = exchangesOf(plan).map(_.outputPartitioning)
    assert(parts.size == 2 && parts.head == SinglePartition &&
      parts(1).isInstanceOf[HashPartitioning] && parts(1).numPartitions == 4,
      s"expected the single-partition exchange over the 4-way fan-out:\n$plan")
    assertSingleSortExchange(plan)
  }

  test("small-sort rule: a small sorted aggregate runs one exchange, with partial aggregation below it") {
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning, SinglePartition}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    def partialBelow(e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike) =
      e.child.exists {
        case a: BaseAggregateExec => a.requiredChildDistributionExpressions.isEmpty
        case _ => false
      }
    for (q <- Seq("q_dedup_exact", "q_merge_entries")) {
      def df = SparkEntry.queries(q)(spark, dir)
      // the first plan and the plan AQE ran agree
      for (plan <- Seq(initialPlan(df), finalPlan(df))) {
        val exchanges = exchangesOf(plan)
        assert(exchanges.size == 1 && exchanges.head.outputPartitioning == SinglePartition &&
          partialBelow(exchanges.head),
          s"$q: expected one single-partition exchange over a partial aggregate:\n$plan")
      }
      // above the bound: the aggregate's hash exchange and the sort's range exchange
      for (plan <- aboveBound(Seq(initialPlan(df), finalPlan(df)))) {
        val parts = exchangesOf(plan).map(_.outputPartitioning)
        assert(parts.size == 2 && parts.exists(_.isInstanceOf[RangePartitioning]) &&
          parts.exists(_.isInstanceOf[HashPartitioning]),
          s"$q: expected a hash and a range exchange above the bound:\n$plan")
      }
    }
  }

  test("small-sort rule leaves a streaming plan untouched") {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // AQE does not plan micro-batches, so the sort keeps its range exchange
    val mem = MemoryStream[Long]
    val q = mem.toDF().groupBy("value").count().orderBy("value")
      .writeStream.format("memory").queryName("graft_small_sort_stream")
      .outputMode("complete").start()
    try {
      mem.addData(3L, 1L, 2L, 1L)
      q.processAllAvailable()
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
      assert(exchangesOf(plan).exists(_.outputPartitioning.isInstanceOf[RangePartitioning]),
        s"expected the stream's range exchange:\n$plan")
    } finally q.stop()
  }

  test("minhash plan: one band self-join, no doc_id aggregation, no join on the hash index") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val plan = SparkEntry.queries("q_dedup_minhash")(spark, dir)
      .queryExecution.optimizedPlan
    def names(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      e.references.map(_.name).toSet
    val byDoc = plan.collect {
      case a: Aggregate if a.groupingExpressions.exists(names(_).contains("doc_id")) => a
    }
    assert(byDoc.isEmpty, s"${byDoc.size} aggregation(s) keyed on doc_id — the " +
      "signature must be computed per document, not regrouped from shingle rows")
    val joins = plan.collect { case j: Join => j }
    val onI = joins.filter(_.condition.exists(names(_).contains("i")))
    assert(onI.isEmpty, s"${onI.size} join(s) on the hash index i — the agreement " +
      "must come from the signatures the band rows carry")
    assert(joins.size == 1 && joins.head.condition.exists(names(_).contains("band_key")),
      s"expected the one band-key self-join, got ${joins.size} join(s)")
  }
}
