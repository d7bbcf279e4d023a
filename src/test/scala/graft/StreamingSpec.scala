package graft

import graft.streaming.EventsStream
import graft.streaming.EventsStream.{Event, SessionAgg}
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.builder("local[2]", 2).getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def ts(minutes: Long) = new java.sql.Timestamp(minutes * 60000L)

  test("streaming windowed agg matches the batch plan shape") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Event]
    mem.addData(
      Event(1, ts(0), 1, "click", 1.0),
      Event(2, ts(10), 1, "click", 2.0),
      Event(3, ts(70), 2, "view", 5.0))
    val q = EventsStream.windowedAgg(mem.toDF())
      .writeStream.format("memory").queryName("agg_out")
      .outputMode(OutputMode.Append).start()
    mem.addData(Event(4, ts(600), 1, "click", 1.0)) // advance watermark
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("agg_out")
      .select($"event_type", $"n_events", $"sum_value")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows.contains(("click", 2L, 3.0)))
    assert(rows.contains(("view", 1L, 5.0)))
  }

  test("streaming dedup drops duplicate event ids within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Event]
    mem.addData(
      Event(1, ts(0), 1, "click", 1.0),
      Event(1, ts(1), 1, "click", 1.0), // duplicate id
      Event(2, ts(2), 1, "view", 2.0))
    val q = EventsStream.dedupStream(mem.toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    q.stop()
    assert(spark.table("dedup_out").count() == 2)
  }

  test("streaming near-dup dedup drops token-permutation duplicates") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    mem.addData(
      (1L, ts(10), "spark joins data fast"),
      (2L, ts(11), "data fast spark joins"), // permutation of doc 1
      (3L, ts(12), "entirely different text"))
    val q = EventsStream.nearDedupStream(
        mem.toDF().toDF("doc_id", "ts", "text"))
      .writeStream.format("memory").queryName("neardup_out")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    q.stop()
    assert(spark.table("neardup_out").count() == 2)
  }

  test("streaming row-local BPE encode equals the batch encoding per document") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Bpe
    val dir = "/root/testdata/sf0.001"
    // the trained merge table is the daily batch artifact the stream
    // broadcasts (the mixture-weight-table refresh pattern)
    val rank = Bpe.merges(spark, dir).map(m => (m.left, m.right) -> m.rank).toMap
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", $"text").limit(20).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val mem = MemoryStream[(Long, String)]
    mem.addData(docs.toIndexedSeq: _*)
    val q = Bpe.encodeDocsRowLocal(mem.toDF().toDF("doc_id", "text"), rank)
      .writeStream.format("memory").queryName("bpe_stream_out")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("bpe_stream_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    val ids = docs.map(_._1).toSet
    val batch = Bpe.bpeEncode(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .filter(t => ids(t._1)).toSet
    assert(batch.nonEmpty && streamed == batch,
      s"streamed ${streamed.size} vs batch ${batch.size}")
  }

  test("stream-static winnowing match flags substring overlap against the store") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.TextAnalysis
    val k = TextAnalysis.WinnowK
    val w = TextAnalysis.WinnowW
    val span = (1 to 2 * (k + w - 1)).map(i => s"shared$i").mkString(" ")
    // historical store: one doc carrying the span, one without
    val hist = Seq(
      (100L, s"historic prefix words $span historic suffix words"),
      (101L, "completely unrelated historical document text here"))
      .toDF("doc_id", "text")
    val postings = TextAnalysis.winnowSelectedOf(hist)
      .select($"doc_id", explode($"sel").as("x"))
      .select($"doc_id", $"x.fp".as("fp"))
      .distinct()
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    mem.addData(
      (1L, ts(10), s"arriving doc alpha $span beta gamma"),
      (2L, ts(11), "no overlap with anything stored at all today"),
      (3L, ts(12), "tiny"))
    val q = EventsStream.winnowMatchStream(
        mem.toDF().toDF("doc_id", "ts", "text"), postings)
      .writeStream.format("memory").queryName("winnow_out")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    q.stop()
    val out = spark.table("winnow_out")
      .select($"doc_id", $"store_id").as[(Long, Long)].collect().toSet
    // the span doc matches its historical twin exactly once (watermark
    // dedup collapses multi-fingerprint collisions); others stay silent
    assert(out == Set((1L, 100L)), s"got $out")
  }

  test("streaming count-min sketch equals the batch sketch cell-for-cell") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val texts = Seq(
      (1L, ts(1), "spark joins data fast data"),
      (2L, ts(2), "the data and the spark"),
      (3L, ts(3), "entirely different tokens here"))
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    mem.addData(texts.take(2): _*)
    val q = EventsStream.cmsSketchStream(mem.toDF().toDF("doc_id", "ts", "text"))
      .writeStream.format("memory").queryName("cms_out")
      .outputMode(OutputMode.Complete).start()
    // second micro-batch: the stateful groupBy must merge, not replace
    mem.addData(texts.drop(2): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("cms_out")
      .as[(Int, Long, Long)].collect().toSet
    val tok = texts.toDF("doc_id", "ts", "text")
      .select(explode(graft.functions.TextFunctions.tokens($"text")).as("token"))
    val batch = graft.operators.Corpus.cmsSketchOf(tok)
      .as[(Int, Long, Long)].collect().toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("stream-static mixture apply draws the same copies as the batch formula") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val weights = Seq(("web", 1.4), ("books", 0.6)).toDF("source", "boost")
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    mem.addData((1L, ts(1), "web"), (2L, ts(2), "books"), (3L, ts(3), "web"))
    val q = EventsStream.mixtureApplyStream(
        mem.toDF().toDF("doc_id", "ts", "source"), weights)
      .writeStream.format("memory").queryName("mix_out")
      .outputMode(OutputMode.Append).start()
    mem.addData((4L, ts(4), "books"), (5L, ts(5), "web"))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("mix_out")
      .select($"doc_id", $"n_copies").as[(Long, Long)].collect().toSet
    // batch reference: the same shared column expression on a static frame
    val batch = Seq((1L, "web"), (2L, "books"), (3L, "web"), (4L, "books"),
        (5L, "web")).toDF("doc_id", "source")
      .join(weights, "source")
      .select($"doc_id",
        graft.operators.Corpus.nCopiesCol($"doc_id", $"boost").as("n_copies"))
      .as[(Long, Long)].collect().toSet
    assert(streamed == batch && streamed.size == 5)
    // both regimes present: some doc must replicate, some must drop
    val copies = streamed.toMap
    assert(copies.values.exists(_ >= 1) && copies.values.exists(_ <= 1))
  }

  test("sketch-store loop: cross-batch merged sketches equal a single-shot build") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def day(d: Int) = java.sql.Timestamp.valueOf(f"2024-03-$d%02d 10:00:00")
    // day 3 spans BOTH micro-batches — the merge case the store must get right
    val batch1 = Seq((1L, day(1)), (2L, day(1)), (3L, day(2)), (4L, day(3)))
    val batch2 = Seq((5L, day(3)), (6L, day(3)), (1L, day(4)), (7L, day(5)))
    val tbl = "sketch_store_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    Seq.empty[(java.sql.Date, Array[Byte])].toDF("day", "sk")
      .write.format("parquet").saveAsTable(tbl)
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val q = EventsStream.sketchStoreStream(
      spark, mem.toDF().toDF("user_id", "ts"), tbl)
    mem.addData(batch1: _*); q.processAllAvailable()
    mem.addData(batch2: _*); q.processAllAvailable()
    q.stop()
    val store = spark.table(tbl)
    assert(store.count() == 5, "one sketch row per observed day")
    // rolling estimates off the streamed store ≡ off a single-shot build
    val streamedEst = graft.operators.Corpus
      .rollingEstFromSketches(store)
      .as[(java.sql.Date, Long)].collect().toMap
    val singleShot = (batch1 ++ batch2).toDF("user_id", "ts")
      .select($"user_id", to_date(date_trunc("DAY", $"ts")).as("day"))
      .groupBy($"day").agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
    val wantEst = graft.operators.Corpus
      .rollingEstFromSketches(singleShot)
      .as[(java.sql.Date, Long)].collect().toMap
    assert(streamedEst == wantEst)
    // small cardinalities: HLL is exact here — pin the actual windows
    assert(streamedEst(java.sql.Date.valueOf("2024-03-05")) == 7L,
      "trailing week covers all 7 distinct users")
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("stream-static anomaly gate flags the same events as the batch predicate") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // 19 in-band values + one planted blow-up per type
    val rows = (1L to 19L).map(i => (i, ts(i.toInt), "click", 10.0 + (i % 5))) ++
      Seq((100L, ts(30), "click", 5000.0), (101L, ts(31), "view", 3.0))
    val staticDf = rows.toDF("event_id", "ts", "event_type", "value")
    val moments = graft.operators.EventOps.valueMoments(staticDf)
    val mem = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    mem.addData(rows.take(10): _*)
    val q = EventsStream.anomalyGateStream(
        mem.toDF().toDF("event_id", "ts", "event_type", "value"), moments)
      .writeStream.format("memory").queryName("anom_out")
      .outputMode(OutputMode.Append).start()
    mem.addData(rows.drop(10): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("anom_out")
      .select($"event_id", $"z").as[(Long, Double)].collect().toMap
    assert(streamed.keySet == Set(100L), "only the blow-up flags")
    assert(streamed(100L) > 3.0)
    // the batch predicate over the same frame agrees row-for-row
    val vi = round($"value" * 1000000).cast("long").cast("decimal(38,0)")
    val batch = staticDf.withColumn("vi", vi)
      .join(broadcast(moments), "event_type")
      .where(($"n" * $"vi" - $"sv") * ($"n" * $"vi" - $"sv") >
        lit(9) * ($"n" * $"svv" - $"sv" * $"sv"))
      .select($"event_id").as[Long].collect().toSet
    assert(batch == streamed.keySet)
  }

  test("streaming curation gates quality before deduplicating") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    mem.addData(
      // stopword-rich long text (with planted PII) -> passes the gate
      (1L, ts(10), "the data and the spark are in the table with the join of the scan by bob@example.org"),
      // token permutation of doc 1 (same PII) -> same fingerprint, deduped
      (2L, ts(11), "of the scan the data and the spark are in the table with the join by bob@example.org"),
      // no stopwords, short -> fails the quality gate, never enters state
      (3L, ts(12), "zzz qqq"))
    val q = EventsStream.curateStream(
        mem.toDF().toDF("doc_id", "ts", "text"))
      .writeStream.format("memory").queryName("curate_out")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("curate_out")
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    assert(kept.keySet == Set(1L))
    // the PII mask ran BEFORE anything stateful: the surviving row
    // carries the placeholder, never the raw address
    assert(kept(1L).contains("<EMAIL>") && !kept(1L).contains("bob@"))
  }

  test("stream-static incremental dedup flags historical near-dups only") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val table = "sig_store_stream_spec"
    try {
      // yesterday's corpus → bucketed signature store
      graft.operators.IncrementalDedup.writeStore(
        Seq(
          (10L, "the quick brown fox jumps over the lazy dog today"),
          (11L, "spark shuffles data across the cluster with partitions"),
          (12L, "a completely unrelated historical document about joins"))
          .toDF("doc_id", "text"),
        table)
      val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
      mem.addData(
        // exact text of store doc 10 → identical signature, est = 1.0
        (1L, ts(10), "the quick brown fox jumps over the lazy dog today"),
        // novel text → no band collision, no output row
        (2L, ts(11), "genuinely new content arriving on the stream now"))
      val q = EventsStream.incrementalDedupStream(spark,
          mem.toDF().toDF("doc_id", "ts", "text"), table)
        .writeStream.format("memory").queryName("incdedup_out")
        .outputMode(OutputMode.Append).start()
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("incdedup_out")
        .select($"doc_id", $"store_id", $"est_jaccard")
        .as[(Long, Long, Double)].collect()
      assert(rows.toSet == Set((1L, 10L, 1.0)), rows.mkString(", "))
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("stream-stream join matches clicks to in-window purchases only") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    clicks.addData(
      Event(1, ts(100), 1, "click", 0.0),
      Event(2, ts(300), 2, "click", 0.0))
    purchases.addData(
      Event(10, ts(110), 1, "purchase", 5.0), // 10 min after click 1: joins
      Event(11, ts(200), 1, "purchase", 7.0), // 100 min after: outside window
      Event(12, ts(290), 2, "purchase", 9.0)) // before click 2: no join
    val q = EventsStream.clickPurchaseJoin(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("attr_out")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("attr_out")
      .select($"click_id", $"purchase_id").as[(Long, Long)].collect().toSet
    assert(rows == Set((1L, 10L)))
  }

  test("registered stream queries land on their batch twins row-for-row") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    // q_stream_sessionize ≡ batch q_events_sessionize (the oracle pair)
    val streamedSess = graft.streaming.StreamQueries.streamSessionize(spark, dir)
      .collect().map(_.toSeq).toSet
    val batchSess = graft.operators.EventOps.sessionize(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(streamedSess.nonEmpty && streamedSess == batchSess)
    // q_stream_window_live ≡ batch q_stream_window_agg
    val streamedWin = graft.streaming.StreamQueries.streamWindowLive(spark, dir)
      .collect().map(_.toSeq).toSet
    val batchWin = graft.operators.EventOps.streamWindowAgg(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(streamedWin.nonEmpty && streamedWin == batchWin)
    // q_stream_sketch_store: every envelope and merge-identity gate holds
    val gates = graft.streaming.StreamQueries.streamSketchStore(spark, dir)
      .select($"est_within_5pct", $"merge_exact").as[(Boolean, Boolean)]
      .collect()
    assert(gates.nonEmpty && gates.forall(g => g._1 && g._2))
    // q_stream_anomaly ≡ batch q_events_anomaly
    val streamedAnom = graft.streaming.StreamQueries.streamAnomaly(spark, dir)
      .collect().map(_.toSeq).toSet
    val batchAnom = graft.operators.EventOps.eventsAnomaly(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(streamedAnom.nonEmpty && streamedAnom == batchAnom)
    // q_stream_incremental ≡ batch q_incremental_delta
    val streamedInc = graft.streaming.StreamQueries.streamIncremental(spark, dir)
      .collect().map(_.toSeq).toSet
    val batchInc = graft.operators.IncrementalDedup.incrementalDelta(spark, dir)
      .select($"delta_id", $"store_id", $"est_jaccard")
      .collect().map(_.toSeq).toSet
    assert(streamedInc == batchInc && streamedInc.nonEmpty)
  }

  test("streaming sessionize emits closed sessions with gap semantics") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Event]
    // user 1: two events 10 min apart (one session), then a 40-min gap.
    // Timestamps start well above 0: the event-time-timeout operator
    // drops rows at/below the watermark, and the initial watermark is 0.
    mem.addData(
      Event(1, ts(1000), 1, "click", 1.0),
      Event(2, ts(1010), 1, "click", 2.0),
      Event(3, ts(1055), 1, "click", 4.0))
    val q = EventsStream.sessionize(mem.toDS())
      .writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    // advance the watermark far past user 1's gap (batch n's data moves
    // the watermark used by batch n+1, so push two more batches through)
    mem.addData(Event(90, ts(2600), 2, "click", 0.0))
    q.processAllAvailable()
    mem.addData(Event(91, ts(2601), 2, "click", 0.0))
    q.processAllAvailable()
    q.stop()
    val sessions = spark.table("sess_out").as[SessionAgg].collect()
    // first session (events 1+2) closed by the 45-min gap before event 3
    assert(sessions.exists(s =>
      s.user_id == 1 && s.n_events == 2 && s.sum_value == 3.0))
    // final session (event 3) flushed by the event-time timeout once the
    // watermark passed lastTs + gap — NoTimeout would never emit this
    assert(sessions.exists(s =>
      s.user_id == 1 && s.n_events == 1 && s.sum_value == 4.0))
  }

  test("a stream drive whose start() fails leaves no checkpoint directory behind") {
    import spark.implicits._
    val sink = "graft_spec_failed_start"
    val prefix = s"graft_ckpt_${ProcessHandle.current().pid()}_${sink}_"
    def leftovers = Option(new java.io.File(EventsStream.checkpointRoot).list())
      .toSeq.flatten.filter(_.startsWith(prefix))
    assert(leftovers.isEmpty)
    // an unwatermarked streaming aggregation is rejected in Append mode
    // by start() itself, after the drive has made its checkpoint
    intercept[org.apache.spark.sql.AnalysisException] {
      graft.streaming.StreamQueries.runStream[Long](spark, Seq(Seq(1L, 2L)),
        ds => ds.groupBy($"value").count(), sink)
    }
    assert(leftovers.isEmpty, s"checkpoint leaked: $leftovers")
  }

  test("a stream drive forks no process that touches its checkpoint directory") {
    import scala.jdk.CollectionConverters._
    val prefix = s"graft_ckpt_${ProcessHandle.current().pid()}_graft_stream_dedup_exact_"
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val jfr = Files.createTempFile("graft_drive", ".jfr")
    val starts = try {
      graft.streaming.StreamQueries.streamDedupExact(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save()
      // a fork the recording must see, so an empty result means "none
      // forked", not "nothing recorded"
      new ProcessBuilder("true").start().waitFor()
      rec.stop()
      rec.dump(jfr)
      jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(e => String.valueOf(e.getString("command"))).toSeq
    } finally { rec.close(); Files.deleteIfExists(jfr) }
    assert(starts.exists(_.split(' ').head.endsWith("true")),
      s"the recording saw no fork at all: $starts")
    val touching = starts.filter(_.contains(prefix))
    if (touching.nonEmpty)
      fail(s"${touching.size} forks named the checkpoint, e.g. ${touching.take(3).mkString("; ")}")
  }

  test("a drive whose feed throws drops its checkpoint and restores both confs") {
    import graft.streaming.StreamQueries
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val tag = "graft_spec_failing_feed"
    val prefix = s"graft_ckpt_${ProcessHandle.current().pid()}_${tag}_"
    def leftovers = Option(new java.io.File(EventsStream.checkpointRoot).list())
      .toSeq.flatten.filter(_.startsWith(prefix))
    val partsKey = "spark.sql.shuffle.partitions"
    val parts = spark.conf.get(partsKey)
    val manager = spark.conf.getOption(StreamQueries.CheckpointManagerKey)
    val mem = MemoryStream[Long]
    var during = Option.empty[(String, Option[String])]
    val e = intercept[IllegalStateException] {
      StreamQueries.drive(spark, tag) { ckpt =>
        during = Some(spark.conf.get(partsKey) ->
          spark.conf.getOption(StreamQueries.CheckpointManagerKey))
        mem.toDF().writeStream.format("memory").queryName(tag)
          .option("checkpointLocation", ckpt).start()
      }(Seq(() => mem.addData(1L, 2L),
        () => throw new IllegalStateException("second feed failed")))
    }
    assert(e.getMessage == "second feed failed")
    assert(during == Some("4" -> Some(classOf[graft.streaming.LocalCheckpointFileManager].getName)))
    // the first feed ran through the engine before the second failed
    assert(spark.table(tag).as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    assert(spark.streams.active.isEmpty)
    assert(StreamQueries.lastDriveStats.get().sink == tag)
    assert(leftovers.isEmpty, s"checkpoint leaked: $leftovers")
    assert(spark.conf.get(partsKey) == parts)
    assert(spark.conf.getOption(StreamQueries.CheckpointManagerKey) == manager)
  }
}
