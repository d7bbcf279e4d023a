package graft

import graft.operators.{Dedup, IncrementalDedup}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The batch-incremental dedup contract: a delta joined against the
  * bucketed signature store must (a) reproduce exactly the batch LSH
  * pairs that span the delta/store split, and (b) plan with NO exchange
  * on the store side — only the delta shuffles.
  */
class IncrementalDedupSpec extends AnyFunSuite with BeforeAndAfterAll {

  val dir = "/root/testdata/sf0.001"
  val table = "sig_store_spec"

  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()

  override def afterAll(): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.stop()
  }

  // "yesterday's corpus" = docs with doc_id >= 50; today's delta = the rest
  private def splitDocs = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    (docs.where($"doc_id" >= 50), docs.where($"doc_id" < 50))
  }

  test("delta-vs-store pairs equal the batch LSH pairs spanning the split") {
    import spark.implicits._
    val (store, delta) = splitDocs
    IncrementalDedup.writeStore(store, table)
    val got = IncrementalDedup.deltaAgainstStore(spark, delta, table)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // batch reference: full-corpus LSH pairs with exactly one endpoint
    // in the delta (pairs inside either half are not delta-vs-store)
    val expected = Dedup.minhashLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => (a < 50) != (b < 50) }
      .map { case (a, b, j) => if (a < 50) (a, b, j) else (b, a, j) }
      .toSet
    assert(expected.nonEmpty, "split produced no spanning pairs — pick another split")
    assert(got == expected, s"got ${got.size} pairs, expected ${expected.size}")
  }

  test("winnow delta-vs-store equals the batch pair query across the split") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val winTable = "winnow_store_spec"
    spark.sql(s"DROP TABLE IF EXISTS $winTable")
    val (store, delta) = splitDocs
    IncrementalDedup.writeWinnowStore(store, winTable)
    val got = IncrementalDedup.winnowDeltaAgainstStore(spark, delta, winTable)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // batch reference: registered winnow pairs with exactly one endpoint
    // in the delta, oriented delta-first (caps agree on this corpus:
    // no shared fingerprint sits near the hot-postings bound)
    val expected = TextAnalysis.winnowPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter { case (a, b, _) => (a < 50) != (b < 50) }
      .map { case (a, b, n) => if (a < 50) (a, b, n) else (b, a, n) }
      .toSet
    assert(expected.nonEmpty, "split produced no spanning winnow pairs")
    assert(got == expected, s"got ${got.size} pairs, expected ${expected.size}")
    // store side reads bucket-aligned: absorbing the delta keeps the
    // bucket spec so tomorrow's screen stays exchange-free on the store
    IncrementalDedup.absorbWinnowDelta(spark, delta, winTable)
    val storeScan = spark.table(winTable).queryExecution.executedPlan.toString
    assert(!storeScan.contains("ShuffleExchange"), "store scan must not shuffle")
    val absorbed = spark.table(winTable).select($"doc_id").distinct().count()
    assert(absorbed > store.count() / 2, "absorbed postings must be visible")
    spark.sql(s"DROP TABLE IF EXISTS $winTable")
  }

  test("row-local signature bands equal the grouped-min reference") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.{TextFunctions => TF}
    val docs = Tables.documents(spark, dir)
    // the declarative construction the signature kernels replaced, kept
    // here as the reference: higher-order-function shingles, the md5 hex
    // hash chain, a per-shingle row explode and one wide min-aggregation
    // by doc_id, band keys joined from the grouped mins
    val toks = TF.tokens($"text")
    val shingles = array_distinct(filter(
      transform(toks, (_, i) =>
        when(i + 3 <= size(toks), array_join(slice(toks, i + 1, lit(3)), " "))),
      g => g.isNotNull))
    val x = docs.select($"doc_id", explode(shingles).as("shingle"))
      .select($"doc_id", (conv(substring(md5($"shingle".cast("binary")), 1, 15), 16, 10)
        .cast("long") % Dedup.P).as("x"))
    val mins = Dedup.hashParams.map { case (i, a, b) =>
      min((lit(a) * $"x" + lit(b)) % Dedup.P).as(s"mh$i") }
    val grouped = x.groupBy($"doc_id").agg(mins.head, mins.tail: _*)
      .select($"doc_id",
        array(Dedup.hashParams.map { case (i, _, _) => col(s"mh$i") }: _*).as("sig"),
        explode(array((0 until Dedup.NumHashes / Dedup.BandSize).map { k =>
          struct(lit(k).as("band"), concat_ws("-", (0 until Dedup.BandSize).map(j =>
            col(s"mh${k * Dedup.BandSize + j}")): _*).as("band_key"))
        }: _*)).as("bk"))
      .select($"doc_id", $"bk.band", $"bk.band_key", $"sig")
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getString(2), r.getSeq[Long](3))).toMap
    // the kernel path every batch, incremental and streaming caller uses
    val kernel = Dedup.signatureBands(docs)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getString(2), r.getSeq[Long](3))).toMap
    assert(grouped.nonEmpty && kernel == grouped,
      s"${kernel.size} kernel vs ${grouped.size} grouped-min band rows")
  }

  test("absorbed delta is visible to the next day's delta, still bucket-aligned") {
    import spark.implicits._
    val (store, delta) = splitDocs
    IncrementalDedup.writeStore(store, table)
    val before = spark.table(table).count()
    IncrementalDedup.absorbDelta(spark, delta, table)
    val after = spark.table(table)
    assert(after.count() > before, "absorb appended no rows")
    // day 2: a near-copy of a day-1 delta doc must now match the store
    val day2 = delta.limit(1).select($"doc_id" + 100000, $"text")
      .toDF("doc_id", "text")
    val got = IncrementalDedup.deltaAgainstStore(spark, day2, table)
      .where($"est_jaccard" === 1.0).collect()
    val d2id = day2.collect()(0).getLong(0)
    assert(got.exists(r => r.getLong(0) == d2id && r.getLong(1) == d2id - 100000),
      s"day-2 copy not matched against the absorbed delta: ${got.mkString(", ")}")
    // appended files honored the bucket spec: the store scan is still a
    // bucketed read
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
      val plan = Dedup.signatureBands(day2)
        .join(spark.table(table), Seq("band", "band_key"))
        .queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), s"post-absorb scan unbucketed:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  private def dataFileCount(tbl: String): Int = {
    val loc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tbl)).location
    val p = new org.apache.hadoop.fs.Path(loc)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var n = 0
    while (it.hasNext) if (it.next().getPath.getName.startsWith("part-")) n += 1
    n
  }

  test("store compaction: one file per bucket, content preserved, rewrite plans exchange-free") {
    import spark.implicits._
    val scanConf = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val (store, delta) = splitDocs
    IncrementalDedup.writeStore(store, table)
    // three daily absorbs → three extra file-sets on top of the base
    val rows = delta.select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    rows.grouped(math.max(1, rows.length / 3)).foreach { g =>
      IncrementalDedup.absorbDelta(spark,
        spark.createDataFrame(g.toSeq).toDF("doc_id", "text"), table)
    }
    val grown = dataFileCount(table)
    assert(grown > IncrementalDedup.StoreBuckets,
      s"absorbs did not grow the file count: $grown")
    val contentBefore = spark.table(table).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getSeq[Long](3)))
      .toSet
    // the plan the rewrite executes: forced bucketed scan = one
    // partition per bucket, zero exchanges; the V1 bucketed write adds
    // at most a per-partition sort, never a shuffle — so files-after ==
    // buckets below proves each task held exactly one bucket's rows
    val prev = spark.conf.get(scanConf)
    try {
      spark.conf.set(scanConf, "false")
      val scan = spark.table(table).queryExecution.executedPlan
      assert(scan.toString.contains("Bucketed: true") &&
        !scan.toString.contains("ShuffleExchange"),
        s"compaction read would shuffle or scan unbucketed:\n$scan")
      assert(scan.execute().getNumPartitions == IncrementalDedup.StoreBuckets,
        "bucketed scan did not yield one partition per bucket")
    } finally spark.conf.set(scanConf, prev)
    IncrementalDedup.compactStore(spark, table)
    val compacted = dataFileCount(table)
    assert(compacted == IncrementalDedup.StoreBuckets,
      s"expected one file per bucket, got $compacted")
    val contentAfter = spark.table(table).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getSeq[Long](3)))
      .toSet
    assert(contentAfter == contentBefore, "compaction changed store content")
    // the daily loop stays steady: another absorb + compaction returns
    // to exactly the same file count, and the swapped-in table still
    // serves the delta join bucket-aligned
    val day2 = delta.limit(1).select($"doc_id" + 200000, $"text")
      .toDF("doc_id", "text").localCheckpoint()
    IncrementalDedup.absorbDelta(spark, day2, table)
    assert(dataFileCount(table) > compacted)
    IncrementalDedup.compactStore(spark, table)
    assert(dataFileCount(table) == compacted,
      "file count not stable across absorb/compact cycles")
    val d2id = day2.collect()(0).getLong(0)
    val matched = IncrementalDedup.deltaAgainstStore(spark,
        day2.select($"doc_id" + 1, $"text").toDF("doc_id", "text"), table)
      .where($"est_jaccard" === 1.0).collect()
    assert(matched.exists(_.getLong(1) == d2id),
      "post-compaction store lost the absorbed day-2 signatures")
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
      val plan = Dedup.signatureBands(day2)
        .join(spark.table(table), Seq("band", "band_key"))
        .queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"),
        s"post-compaction store scan unbucketed:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
  }

  test("staged-table swap recovers the aside copy after a crash in the rename window") {
    import spark.implicits._
    val tbl = "swap_recovery_spec"
    Seq(tbl, tbl + "__old", tbl + "__staging").foreach(t =>
      IncrementalDedup.clearTable(spark, t))
    Seq((1L, "old")).toDF("id", "v").write.format("parquet").saveAsTable(tbl)
    // simulate the aside→in crash window: table renamed aside, staging
    // never renamed in, process died — the aside copy is the SOLE survivor
    spark.sql(s"ALTER TABLE $tbl RENAME TO ${tbl}__old")
    // restart: the loop rebuilds staging and swaps; the helper must
    // restore the aside copy instead of dropping it
    Seq((2L, "new")).toDF("id", "v").write.format("parquet")
      .saveAsTable(tbl + "__staging")
    IncrementalDedup.swapInStagedTable(spark, tbl, tbl + "__staging")
    assert(spark.table(tbl).collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(!spark.catalog.tableExists(tbl + "__old"))
    assert(!spark.catalog.tableExists(tbl + "__staging"))
    // a leftover __old NEXT TO a live table (crash after the in-rename,
    // before the final drop) just re-drops on the next swap
    Seq((3L, "stale")).toDF("id", "v").write.format("parquet")
      .saveAsTable(tbl + "__old")
    Seq((4L, "newer")).toDF("id", "v").write.format("parquet")
      .saveAsTable(tbl + "__staging")
    IncrementalDedup.swapInStagedTable(spark, tbl, tbl + "__staging")
    assert(spark.table(tbl).collect().map(_.getLong(0)).toSeq == Seq(4L))
    assert(!spark.catalog.tableExists(tbl + "__old"))
    IncrementalDedup.clearTable(spark, tbl)
  }

  test("within-frame pairs equal the batch LSH pairs inside the frame") {
    import spark.implicits._
    val (_, delta) = splitDocs
    val got = IncrementalDedup.pairsWithin(delta).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val expected = Dedup.minhashLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => a < 50 && b < 50 }
      .toSet
    assert(expected.nonEmpty && got == expected,
      s"got ${got.size} pairs, expected ${expected.size}")
  }

  test("incremental cluster update equals the from-scratch contraction on the merged corpus") {
    import spark.implicits._
    import graft.operators.Corpus
    val (store, delta) = splitDocs
    IncrementalDedup.writeStore(store, table)
    // yesterday's labels: contraction over the store half only
    val storedLabels = Corpus.starContract(spark,
      IncrementalDedup.pairsWithin(store)
        .where($"est_jaccard" >= 0.5).select($"id_a", $"id_b"))
    val merged = IncrementalDedup
      .updateClusters(spark, delta, table, storedLabels)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // from-scratch reference: the registered star contraction over the
    // full merged corpus
    val expected = SparkEntry.queries("q_dedup_clusters")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.nonEmpty && merged == expected,
      s"merged ${merged.size} rows vs from-scratch ${expected.size}; " +
        s"diff ${(merged diff expected).take(5)} / ${(expected diff merged).take(5)}")
    // the update genuinely crossed the split: at least one merged
    // cluster contains docs from both halves
    val spanning = merged.groupBy(_._2).values
      .exists(c => c.exists(_._1 < 50) && c.exists(_._1 >= 50))
    assert(spanning, "no cluster spans the store/delta split — weak split")
  }

  test("streaming cluster maintenance equals the batch loop over two micro-batches") {
    import spark.implicits._
    import graft.operators.Corpus
    import graft.streaming.EventsStream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val sigT = "sig_store_stream_spec"
    val labT = "label_store_stream_spec"
    try {
      val (store, delta) = splitDocs
      IncrementalDedup.writeStore(store, sigT)
      val storedLabels = Corpus.starContract(spark,
        IncrementalDedup.pairsWithin(store)
          .where($"est_jaccard" >= 0.5).select($"id_a", $"id_b"))
      IncrementalDedup.writeLabels(storedLabels, labT)
      // batch reference on the same inputs, materialized BEFORE the
      // stream mutates either store: TWO sequential daily loops (the
      // second batch must see the first batch's absorbed signatures —
      // the stale-file-listing failure mode the operator's refresh
      // guards against)
      val rows = delta.select($"doc_id", $"text").collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      val (half1, half2) = rows.splitAt(rows.length / 2)
      val expected = {
        val d1 = spark.createDataFrame(half1.toSeq).toDF("doc_id", "text")
        val l1 = IncrementalDedup
          .updateClusters(spark, d1, sigT, spark.table(labT)).localCheckpoint()
        IncrementalDedup.writeLabels(l1, labT)
        IncrementalDedup.absorbDelta(spark, d1, sigT)
        val d2 = spark.createDataFrame(half2.toSeq).toDF("doc_id", "text")
        IncrementalDedup.updateClusters(spark, d2, sigT, spark.table(labT))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      // reset both stores to the day-0 state for the streaming run
      IncrementalDedup.writeStore(store, sigT)
      IncrementalDedup.writeLabels(storedLabels, labT)
      val sigBefore = spark.table(sigT).count()
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val mem = MemoryStream[(Long, String)]
      val q = EventsStream.clusterMaintainStream(spark,
        mem.toDF.toDF("doc_id", "text"), sigT, labT)
      try {
        mem.addData(half1.toSeq: _*)
        q.processAllAvailable()
        mem.addData(half2.toSeq: _*)
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table(labT).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(expected.nonEmpty && got == expected,
        s"streamed labels ${got.size} vs batch ${expected.size}; " +
          s"diff ${(got diff expected).take(5)} / ${(expected diff got).take(5)}")
      assert(spark.table(sigT).count() > sigBefore,
        "micro-batch signatures were not absorbed into the store")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $sigT")
      spark.sql(s"DROP TABLE IF EXISTS $labT")
    }
  }

  test("the relabel join reads the label store bucket-aligned") {
    import spark.implicits._
    import graft.operators.Corpus
    val labelTable = "label_store_spec"
    val (store, _) = splitDocs
    val storedLabels = Corpus.starContract(spark,
      IncrementalDedup.pairsWithin(store)
        .where($"est_jaccard" >= 0.5).select($"id_a", $"id_b"))
    IncrementalDedup.writeLabels(storedLabels, labelTable)
    try {
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
        val subReps = storedLabels.limit(3)
          .select($"cluster_id", $"doc_id".as("new_cluster"))
        val joined = spark.table(labelTable).join(subReps, "cluster_id")
        import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
        import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        import org.apache.spark.sql.execution.joins.SortMergeJoinExec
        val root = joined.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.initialPlan
          case p => p
        }
        val smj = root.collect { case j: SortMergeJoinExec => j }
        assert(smj.size == 1, s"expected one sort-merge join:\n$root")
        assert(smj.head.left.collect { case e: ShuffleExchangeExec => e }.isEmpty,
          s"label-store side re-shuffles:\n${smj.head.left}")
        assert(smj.head.left.toString.contains("Bucketed: true"),
          s"label scan is not bucket-aligned:\n${smj.head.left}")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally spark.sql(s"DROP TABLE IF EXISTS $labelTable")
  }

  test("REGISTERED incremental queries: store side bucket-aligned, no exchange") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the sort-merge path — at deployment scale neither side of
      // the band join broadcasts, and the exchange question only shows
      // in the SMJ shape
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
      val df = SparkEntry.queries("q_incremental_delta")(spark, dir)
      val root: SparkPlan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
      val smj = root.collect {
        case j: SortMergeJoinExec
            if j.leftKeys.exists(_.references.exists(_.name == "band_key")) => j
      }
      assert(smj.size == 1, s"expected one band-key sort-merge join:\n$root")
      val storeSide = smj.head.right
      assert(storeSide.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"registered plan re-shuffles the store side:\n$storeSide")
      assert(storeSide.toString.contains("Bucketed: true"),
        s"registered plan's store scan is not bucket-aligned:\n$storeSide")
      assert(smj.head.left.collect { case e: ShuffleExchangeExec => e }.nonEmpty,
        "expected the delta side to shuffle into the store's bucketing")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("REGISTERED incremental queries reproduce the batch oracles' semantics") {
    import spark.implicits._
    // the delta rows must be exactly the full-corpus LSH pairs spanning
    // the mod-4 split, oriented delta-first — the equality the oracle
    // SQL re-states in DuckDB
    val got = SparkEntry.queries("q_incremental_delta")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val expected = Dedup.minhashLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => (a % 4 == 3) != (b % 4 == 3) }
      .map { case (a, b, j) => if (a % 4 == 3) (a, b, j) else (b, a, j) }
      .toSet
    assert(expected.nonEmpty, "mod-4 split produced no spanning pairs")
    assert(got == expected, s"got ${got.size} pairs, expected ${expected.size}")
    // and the cluster update must land on the batch fixpoint
    val gotC = SparkEntry.queries("q_incremental_clusters")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expC = SparkEntry.queries("q_dedup_clusters")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expC.nonEmpty && gotC == expC,
      s"incremental ${gotC.size} rows vs batch ${expC.size}; " +
        s"diff ${(gotC diff expC).take(5)} / ${(expC diff gotC).take(5)}")
  }

  test("the signature-store side of the delta join plans without an exchange") {
    import spark.implicits._
    val (store, delta) = splitDocs
    IncrementalDedup.writeStore(store, table)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the sort-merge path (at real scale the delta is GBs, not
      // broadcastable) so the exchange question is visible in the plan
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
      val d = Dedup.signatureBands(delta)
        .select($"band", $"band_key", $"doc_id".as("delta_id"))
      val st = spark.table(table)
        .select($"band", $"band_key", $"doc_id".as("store_id"))
      val joined = d.join(st, Seq("band", "band_key"))
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.execution.joins.SortMergeJoinExec
      val root: SparkPlan = joined.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
      val smj = root.collect { case j: SortMergeJoinExec => j }
      assert(smj.size == 1, s"expected one sort-merge join:\n$root")
      // the delta (left) side shuffles into the store's bucketing; the
      // store (right) side must read bucket-aligned with NO re-shuffle
      val storeSide = smj.head.right
      assert(storeSide.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"store side re-shuffles:\n$storeSide")
      assert(storeSide.toString.contains("Bucketed: true"),
        s"store scan is not bucket-aligned:\n$storeSide")
      assert(smj.head.left.collect { case e: ShuffleExchangeExec => e }.nonEmpty,
        "expected the delta side to shuffle into the store's bucketing")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
