package graft

import graft.operators.EventOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Loader-contract spec: the events table has shipped with two parquet
  * timestamp encodings over time (TIMESTAMP(NANOS) behind the
  * nanosAsLong flag, and plain TIMESTAMP_MICROS), and a driver-side
  * regeneration once swapped one for the other mid-build. EventOps must
  * canonicalize `ts` to a microsecond TimestampType from EITHER
  * encoding, so a future swap can't silently take out the events query
  * family again. The nanos side reads a committed fixture
  * (src/test/resources/events_nanos); the micros side reads the real
  * driver-generated table.
  */
class TablesSpec extends AnyFunSuite with BeforeAndAfterAll {

  val dir = "/root/testdata/sf0.001"
  val nanosDir: String =
    getClass.getResource("/events_nanos/events.parquet").getPath
      .stripSuffix("/events.parquet")

  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("events loads under the current driver-generated encoding and " +
    "canonicalizes to TimestampType") {
    val raw = Tables.events(spark, dir)
    val tsType = raw.schema("ts").dataType
    assert(tsType == LongType || tsType == TimestampType ||
      tsType == TimestampNTZType, s"unexpected ts type $tsType")
    val canon = EventOps.events(spark, dir)
    assert(canon.schema("ts").dataType == TimestampType)
    assert(canon.count() > 0)
  }

  test("events.event_id is globally unique (the streamDedupExact " +
    "raw-table-oracle data contract)") {
    // q_stream_dedup_exact's first-arrival dedup equals the raw events
    // table ONLY if event_id never repeats in the generated corpus; a
    // generator change that broke this would surface as a streaming
    // hash mismatch, so the generator contract is pinned HERE (one scan
    // in the test layer) instead of on every stream drive (ADVICE r18)
    val ev = EventOps.events(spark, dir)
      .agg(count(lit(1)).as("n"), countDistinct(col("event_id")).as("nd"))
      .head()
    assert(ev.getLong(0) == ev.getLong(1),
      s"events.event_id must be unique: ${ev.getLong(0)} rows, " +
        s"${ev.getLong(1)} distinct ids")
  }

  test("events loads from a nanos-encoded footer (legacy flag path) and " +
    "canonicalizes identically") {
    import spark.implicits._
    val raw = Tables.events(spark, nanosDir)
    // under nanosAsLong the scan surfaces INT64 nanos
    assert(raw.schema("ts").dataType == LongType)
    val canon = EventOps.canonicalTs(raw)
    assert(canon.schema("ts").dataType == TimestampType)
    // fixture row 1 is 2024-01-01T00:07:00 (event_id=1, 7-minute stride)
    val first = canon.where($"event_id" === 1)
      .select(date_format($"ts", "yyyy-MM-dd HH:mm:ss"))
      .as[String].head()
    assert(first == "2024-01-01 00:07:00")
    assert(canon.count() == 8)
  }

  test("documents and embeddings carry the schemas the oracle SQL is written against") {
    // the source round-trip and quantizer oracles are STATIC SQL over
    // these columns — a driver-side regeneration that drops or retypes
    // one must fail HERE with a named column, not as a cryptic
    // correctness-row error (the r13 events-drift lesson, applied to
    // the other two load-bearing tables)
    val docs = Tables.documents(spark, dir).schema
      .map(f => f.name -> f.dataType.typeName).toMap
    assert(docs.get("doc_id").contains("long") &&
      docs.get("text").contains("string") &&
      docs.get("lang").contains("string") &&
      docs.get("source").contains("string") &&
      docs.get("n_chars").contains("long"), s"documents schema drifted: $docs")
    val emb = Tables.embeddings(spark, dir).schema
      .map(f => f.name -> f.dataType.simpleString).toMap
    assert(emb.get("vec_id").contains("bigint") &&
      emb.get("embedding").exists(_.startsWith("array<float")) &&
      emb.contains("label"), s"embeddings schema drifted: $emb")
  }

  test("canonicalTs is a no-op on an already-canonical frame") {
    val canon = EventOps.events(spark, dir)
    assert(EventOps.canonicalTs(canon).schema("ts").dataType == TimestampType)
  }

  test("nanos footer without the legacy flag fails with actionable guidance") {
    // session-scoped SQL conf: a sibling session can drop the flag
    // without touching the suite session
    val bare = spark.newSession()
    bare.conf.unset(Tables.NanosFlag)
    val e = intercept[IllegalArgumentException] {
      Tables.events(bare, nanosDir).schema
    }
    assert(e.getMessage.contains(Tables.NanosFlag),
      s"guidance must name the flag: ${e.getMessage}")
    // the micros table still loads fine without the flag
    assert(Tables.events(bare, dir).count() > 0)
  }

  test("fanOut fires plan-free on a single-split scan and preserves rows") {
    import org.apache.spark.sql.functions.col
    // sf0.1 documents: one 594 KB file -> one split; at local[4] the
    // probe must fire (want = min(bytes/64K, 4) = 4 >= 4)
    val docs = Tables.documents(spark, "/root/testdata/sf0.1")
    val fanned = Tables.fanOut(docs, col("doc_id"))
    assert(fanned.rdd.getNumPartitions == 4,
      "single-split scan should spread to the core count")
    assert(fanned.count() == docs.count())
    // a file-less frame (no scan to probe) passes through untouched
    import spark.implicits._
    val mem = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    assert(Tables.fanOut(mem, col("doc_id")) eq mem)
    // and the sub-threshold snapshot (sf0.001: a few KB) stays put —
    // not worth four tasks
    val tiny = Tables.documents(spark, dir)
    assert(Tables.fanOut(tiny, col("doc_id")) eq tiny)
  }

  test("fanOutWide preserves aggregation results over the spread input") {
    import org.apache.spark.sql.functions.col
    val li = Tables.lineitem(spark, "/root/testdata/sf0.1")
    val wide = Tables.fanOutWide(li, col("l_orderkey"))
    // exact percentile is partitioning-independent — same matrix either way
    def pct(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("l_returnflag"))
      .agg(org.apache.spark.sql.functions.expr("percentile(l_quantity, 0.5)").as("p"))
      .orderBy(col("l_returnflag")).collect().toSeq
    assert(pct(wide) == pct(li))
  }

  test("localize collapses a bounded frame to a local relation with identical rows") {
    import spark.implicits._
    val src = Tables.documents(spark, dir)
      .groupBy($"source").count().orderBy($"source")
    val loc = Tables.localize(src, "spec")
    assert(loc.schema == src.schema)
    assert(loc.orderBy($"source").collect().toSeq == src.collect().toSeq)
    assert(loc.queryExecution.optimizedPlan.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
      "localize must plan as a LocalRelation leaf")
  }

  test("localize fails loudly, naming the caller and row count, above its bound") {
    val cap = Tables.MaxLocalRows.toLong
    // spread: no partition reaches the per-partition cut, the total does
    val spread = intercept[IllegalStateException] {
      Tables.localize(spark.range(0, cap + 1, 1, 4).toDF(), "spec_spread")
    }
    assert(spread.getMessage.contains("spec_spread") &&
      spread.getMessage.contains(s"${cap + 1}"), spread.getMessage)
    // skewed: one partition holds every row and is cut at the bound
    val skewed = intercept[IllegalStateException] {
      Tables.localize(spark.range(0, 2 * cap, 1, 1).toDF(), "spec_skewed")
    }
    assert(skewed.getMessage.contains("spec_skewed") &&
      skewed.getMessage.contains(s"${2 * cap}"), skewed.getMessage)
  }

  test("load re-infers the schema of a parquet file rewritten at the same path") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_tables_spec").toFile
    // one plain parquet file at <tmp>/documents.parquet, as the snapshots ship
    def writeDocs(df: org.apache.spark.sql.DataFrame): Unit = {
      val staging = new java.io.File(tmp, "staging")
      df.coalesce(1).write.mode("overwrite").parquet(staging.getPath)
      val part = staging.listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, new java.io.File(tmp, "documents.parquet").toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    try {
      writeDocs(Seq((1L, "a")).toDF("doc_id", "text"))
      assert(Tables.documents(spark, tmp.getPath).columns.toSeq == Seq("doc_id", "text"))
      writeDocs(Seq((2L, 2.5, "nl")).toDF("doc_id", "score", "lang"))
      val reread = Tables.documents(spark, tmp.getPath)
      assert(reread.columns.toSeq == Seq("doc_id", "score", "lang"))
      assert(reread.as[(Long, Double, String)].collect().toSeq == Seq((2L, 2.5, "nl")))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).toSeq.flatten.foreach(rm); f.delete(); ()
      }
      rm(tmp)
    }
  }
}
