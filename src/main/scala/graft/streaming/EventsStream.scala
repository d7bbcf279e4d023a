package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.DecimalType

/** Structured Streaming twins of the batch event operators (SURVEY §2.H):
  * the same logical shapes as EventOps.streamWindowAgg / sessionize, but
  * over an unbounded source with watermarks and keyed state.
  *
  * Tested in-process against MemoryStream (StreamingSpec); on a cluster
  * the source becomes `readStream.format("kafka"|"parquet")` with the
  * identical downstream plan.
  */
object EventsStream {

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  /** RAM-backed checkpoint directory for one stream drive. A stateful
    * query commits per-partition state-store delta files plus offset/
    * commit logs EVERY micro-batch, each one a small temp-file write
    * and rename. The measured cost of those commits was not the IO:
    * through Hadoop's local filesystem without native IO, every create
    * and rename forked a `chmod` or `readlink` process, which is why
    * [[StreamQueries.drive]] runs them through the in-JVM
    * [[LocalCheckpointFileManager]]. The directory is always local, the
    * one kind of path that manager accepts. The drives here feed from
    * an in-process MemoryStream — already non-recoverable across JVMs —
    * so a RAM-disk checkpoint changes the durability of nothing the
    * harness could replay anyway (VERDICT r21 #4). A production
    * deployment keeps its checkpoint on durable storage and sets
    * SPARK_GRAFT_STREAM_CKPT (or simply does not run this harness);
    * falls back to java.io.tmpdir when /dev/shm is absent. Drives take
    * it through [[withCheckpoint]], which deletes it on every exit path.
    */
  private def ramCheckpoint(tag: String): java.io.File = {
    val dir = new java.io.File(checkpointRoot,
      s"graft_ckpt_${ProcessHandle.current().pid()}_${tag}_${System.nanoTime()}")
    dir.mkdirs()
    dir
  }

  private[graft] def checkpointRoot: String =
    sys.env.getOrElse("SPARK_GRAFT_STREAM_CKPT",
      if (new java.io.File("/dev/shm").isDirectory) "/dev/shm"
      else System.getProperty("java.io.tmpdir"))

  /** Run one stream drive against a fresh [[ramCheckpoint]] and drop it
    * however the drive ends — a `start()` that throws (bad plan, name
    * clash) or a failing `stop()` must not leak the directory.
    */
  private[graft] def withCheckpoint[T](tag: String)(drive: java.io.File => T): T = {
    val dir = ramCheckpoint(tag)
    try drive(dir) finally dropCheckpoint(dir)
  }

  private def dropCheckpoint(dir: java.io.File): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete(); ()
    }
    try rm(dir) catch { case _: Exception => () } // best-effort cleanup
  }

  case class SessionAgg(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, sum_value: Double)

  /** Keyed session state. The value total accumulates in exact integer
    * MICRO-UNITS (the long of the decimal(28,6) the batch operator
    * sums), not a running double — float accumulation in arrival order
    * would drift a last ulp from the batch plan's order-independent
    * decimal sum and the stream could never be proven value-equal to
    * its batch oracle.
    */
  case class SessionState(start: Long, lastTs: Long, n: Long, totalMicros: Long)

  /** Double → exact decimal(28,6) micro-units, Spark's own Cast path:
    * BigDecimal.valueOf (the canonical Double.toString rendering) then
    * HALF_UP at scale 6 — per-value identical to the batch plan's
    * `value.cast(decimal(28,6))`.
    */
  private[streaming] def micros(v: Double): Long =
    java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()

  /** Micro-units → double, Spark's Decimal.toDouble (correctly-rounded
    * BigDecimal→double) — identical to the batch `sum(...).cast(double)`.
    */
  private[streaming] def microsToDouble(m: Long): Double =
    new java.math.BigDecimal(java.math.BigInteger.valueOf(m), 6).doubleValue()

  /** Timestamp → epoch MICROSECONDS (Spark's fromJavaTimestamp
    * algebra). `getTime` alone is millisecond-truncated — session
    * bounds computed from it would drop the sub-millisecond digits the
    * batch plan keeps and diverge from the oracle.
    */
  private[streaming] def tsMicros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** Epoch microseconds → Timestamp, exact inverse of [[tsMicros]]. */
  private[streaming] def microsTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Tumbling 1-hour windowed counts/sums per event type with a 2-hour
    * watermark — the streaming form of EventOps.streamWindowAgg. Partial
    * aggregation happens per micro-batch before the stateful merge, so
    * state size is windows × types, not events.
    */
  def windowedAgg(events: DataFrame): DataFrame = {
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(28, 6))).cast("double").as("sum_value"))
      .select(col("event_type"), col("window.start").as("window_start"),
        col("n_events"), col("sum_value"))
  }

  /** Streaming count-min sketch maintenance — the twin of
    * q_heavy_hitters' batch sketch on an ingest stream: tokens and
    * their 4 salted (row, bucket) keys are emitted ROW-LOCALLY
    * (stateless generators, graft.operators.Corpus.cmsKeyCol), and the
    * only stateful operator is the sketch groupBy itself, whose state
    * IS the sketch — bounded at 4×1024 counters forever, no watermark
    * needed (the canonical streaming-summary shape: the aggregation
    * state never grows with the stream). Run in Complete/Update mode;
    * the spec proves the final streamed sketch cell-equal to the batch
    * sketch over the same documents.
    */
  def cmsSketchStream(docs: DataFrame): DataFrame =
    graft.operators.Corpus.cmsSketchOf(
      docs.select(explode(graft.functions.TextFunctions.tokens(col("text")))
        .as("token")))

  /** Stream-static mixture materialization — the ingest form of
    * q_mixture_apply: arriving docs join the PRECOMPUTED per-source
    * weight table (a stream-static broadcast join — no join state) and
    * draw their copy count ROW-LOCALLY via the shared
    * graft.operators.Corpus.nCopiesCol, so every decision is identical
    * to the batch operator's for the same doc_id and weights. The
    * weight table refreshes from the daily batch loop (the
    * IncrementalDedup signature-store precedent): mixture shares move
    * slowly, the draw must not wait on them.
    */
  def mixtureApplyStream(docs: DataFrame, weights: DataFrame): DataFrame =
    docs.join(broadcast(weights.select(col("source"), col("boost"))), "source")
      .withColumn("n_copies",
        graft.operators.Corpus.nCopiesCol(col("doc_id"), col("boost")))
      .select(col("doc_id"), col("source"), col("boost"), col("n_copies"))

  /** Stream-static anomaly gate — the ingest form of q_events_anomaly:
    * arriving events join the PRECOMPUTED per-type moment table (a
    * #event-types-bounded stream-static broadcast join — no join
    * state) and the 3σ decision evaluates ROW-LOCALLY in the same
    * exact decimal arithmetic as the batch operator — (n·v − Σv)² >
    * 9·(n·Σv² − (Σv)²) — so a given (event, moments) pair flags
    * identically at ingest and in the nightly batch. Moments refresh
    * from the daily loop (the mixtureApplyStream weight-table
    * precedent): the distribution moves slowly, the gate must not
    * wait on it. Fully stateless — the alert sink sees flagged rows
    * with their z as data arrives.
    */
  def anomalyGateStream(events: DataFrame, moments: DataFrame): DataFrame = {
    val vi = graft.operators.EventOps.microValue(col("value"))
    val dev = col("n") * col("vi") - col("sv")
    val varn = col("n") * col("svv") - col("sv") * col("sv")
    events.join(broadcast(moments), "event_type")
      .withColumn("vi", vi)
      .where(dev * dev > lit(9) * varn)
      .select(col("event_id"), col("event_type"), col("value"),
        round(dev.cast("double") / sqrt(varn.cast("double")), 6).as("z"))
  }

  /** Streaming exact dedup: watermarked dropDuplicates on the event key —
    * the streaming twin of Dedup.exact (state is bounded by the
    * watermark horizon instead of growing with the stream).
    */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming near-dup dedup: watermarked dropDuplicates on a
    * bag-of-words fingerprint (md5 of the sorted distinct token set) —
    * the streaming twin of the batch dedup family for token-permutation
    * duplicates. State holds one fingerprint per surviving doc inside
    * the watermark horizon; at 100 TB/day the horizon bounds it to a
    * day's fingerprints, not the corpus.
    */
  def nearDedupStream(docs: DataFrame): DataFrame =
    docs
      .withWatermark("ts", "2 hours")
      // TF.tokens, not a raw split: the batch dedup family filters empty
      // tokens, and the streaming twin must fingerprint identically
      .withColumn("bag_md5", md5(array_join(array_sort(array_distinct(
        graft.functions.TextFunctions.tokens(col("text")))), " ").cast("binary")))
      .dropDuplicatesWithinWatermark("bag_md5")

  /** Streaming ingest curation — the composed PII-mask → quality-gate →
    * near-dup pipeline a live corpus feed runs: PII redaction is the
    * FIRST stage (a stateless projection, so raw identifiers never
    * reach the quality computation, the dedup state store, or the
    * sink — the same patterns and placeholders as the batch
    * q_pii_redact), then the STATELESS quality filter, so rejected docs
    * never enter the dedup state store (at 100 TB/day the gate is what
    * keeps fingerprint state to the surviving fraction of the watermark
    * horizon), then the watermarked fingerprint dedup keeps the first
    * arrival of each near-dup class. The quality composite AND the
    * default threshold match the batch pipeline's quality stage
    * (Curation.curationPipeline, 0.35), so quality admission is
    * identical between stream and backfill; the batch pipeline's
    * language gate is a separate downstream stage, not part of this
    * operator.
    */
  def curateStream(docs: DataFrame, minQuality: Double = 0.35): DataFrame = {
    import graft.functions.{TextFunctions => TF}
    val masked = docs.withColumn("text",
      graft.operators.TextAnalysis.piiPatterns.foldLeft(col("text")) {
        case (c, (_, pat, rep)) => regexp_replace(c, pat, rep)
      })
    val gated = masked
      .withColumn("toks", TF.tokens(col("text")))
      .withColumn("quality",
        graft.operators.TextAnalysis.qualityFromToks(col("toks"), col("text")))
      .where(col("quality") >= minQuality)
      .drop("toks")
    nearDedupStream(gated)
  }

  /** Stream-static winnowing match — the substring-overlap screen of
    * the ingest family: arriving docs compute their winnowed
    * fingerprints ROW-LOCALLY (TextAnalysis.winnowSelectedOf — the
    * identical column algebra as the batch q_winnow_fingerprint, pure
    * higher-order functions over the doc's own tokens, so the stage is
    * stateless and the fingerprints are value-identical to the batch
    * builder's), then join a historical (doc_id, fp) postings table
    * stream-STATIC (no join state — the q_winnow_pairs posting-list
    * read). Emits one (doc_id, ts, store_id) candidate per matched
    * historical doc, deduplicated within the watermark horizon. The
    * batch ≥2-shared gate finalizes candidates in the daily loop; the
    * streaming screen is deliberately the ≥1-shared recall-first
    * filter (the published winnowing guarantee needs only one shared
    * fingerprint per k+w−1-token overlap).
    */
  def winnowMatchStream(docs: DataFrame, postings: DataFrame): DataFrame =
    graft.operators.TextAnalysis.winnowSelectedOf(
        docs.withWatermark("ts", "2 hours")
          // spread the per-doc fingerprint stage across the executors
          // BEFORE computing it: a thin-partitioned source (one Kafka
          // partition, a MemoryStream block) would otherwise run the
          // whole gram-hash/window-minima pipeline on one core per
          // micro-batch; the fingerprint stage is stateless and
          // row-local, so the extra exchange is the cheapest stage of
          // the plan
          .repartition(docs.sparkSession.sparkContext.defaultParallelism))
      // NO where(size(sel) > 0) before the explode: the non-outer
      // Generate already drops empty-sel rows, and an explicit filter
      // on `sel` gets predicate-pushed BELOW the projection with the
      // full fingerprint expression substituted in — inlining the O(n)
      // gram-hash array once per window reference and turning the
      // filter into O(n²) per doc (measured 159.5 s vs 3.0 s at sf0.1)
      .select(col("doc_id"), col("ts"), explode(col("sel")).as("x"))
      .select(col("doc_id"), col("ts"), col("x.fp").as("fp"))
      .join(postings.select(col("doc_id").as("store_id"), col("fp")), Seq("fp"))
      .select(col("doc_id"), col("ts"), col("store_id"))
      .dropDuplicatesWithinWatermark("doc_id", "store_id")

  /** Stream-static incremental near-dup — the CONTINUOUS form of
    * IncrementalDedup.deltaAgainstStore: each arriving doc checks
    * against the HISTORICAL corpus's bucketed MinHash signature store.
    * The stream side computes its banded signature ROW-LOCALLY
    * (Dedup.rowSignature — array folds over the doc's own shingles, no
    * cross-row aggregation, so the whole signature stage is stateless),
    * the band-key join is stream-STATIC (no join state; the store scan
    * is the same bucket-aligned read the batch delta join uses), and
    * minhash agreement verifies from the signatures both sides carry.
    * Only the final candidate dedup (a pair can collide in several
    * bands) holds state, bounded by the watermark horizon. Output: one
    * (doc_id, ts, store_id, est_jaccard) row per matched historical
    * near-dup; docs with no match produce no rows.
    */
  def incrementalDedupStream(s: SparkSession, docs: DataFrame,
      table: String): DataFrame = {
    import graft.functions.{TextFunctions => TF}
    import graft.operators.Dedup
    val sig = docs
      .withWatermark("ts", "2 hours")
      .withColumn("toks", TF.tokens(col("text")))
      .withColumn("arr", Dedup.shingleArrFromToks(col("toks")))
      // sub-3-token docs have no shingles — the batch path emits no
      // signature rows for them either
      .where(size(col("arr")) > 0)
      .withColumn("xarr", transform(col("arr"), x => Dedup.hash60(x) % Dedup.P))
      .withColumn("sig", Dedup.rowSignature(col("xarr")))
      .select(col("doc_id"), col("ts"), col("sig"),
        explode(Dedup.bandStructsOf(col("sig"))).as("bk"))
      .select(col("doc_id"), col("ts"), col("sig"),
        col("bk.band").as("band"), col("bk.band_key").as("band_key"))
    val store = s.table(table).select(col("band"), col("band_key"),
      col("doc_id").as("store_id"), col("sig").as("ssig"))
    sig.join(store, Seq("band", "band_key"))
      .select(col("doc_id"), col("ts"), col("store_id"),
        (aggregate(zip_with(col("sig"), col("ssig"),
          (a, b) => (a === b).cast("int")), lit(0), (acc, x) => acc + x)
          .cast("double") / Dedup.NumHashes).as("est_jaccard"))
      .dropDuplicatesWithinWatermark("doc_id", "store_id")
  }

  /** CONTINUOUS cluster maintenance — the streaming form of the full
    * incremental-dedup daily loop: each arriving micro-batch of docs
    * updates the persisted cluster labels through
    * IncrementalDedup.updateClusters (contraction over the delta-touched
    * label quotient graph only — never the corpus), rewrites the
    * bucketed label store, and absorbs the batch's signatures so the
    * NEXT batch joins against them. foreachBatch rather than a stateful
    * operator by design: the maintenance step is a multi-table
    * transaction (label overwrite + signature append) reusing the batch
    * algebra unchanged — exactly the sink-hook use case. The label
    * frame materializes (localCheckpoint) before the overwrite because
    * its lineage reads the table being replaced; a production
    * deployment makes the same cut with snapshot-versioned label tables.
    */
  def clusterMaintainStream(s: SparkSession, docs: DataFrame, sigTable: String,
      labelTable: String, tau: Double = 0.5,
      checkpointDir: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery =
    checkpointDir.foldLeft(docs.writeStream)(
      (w, d) => w.option("checkpointLocation", d))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // sign the micro-batch ONCE: the label update (store match +
        // internal pairs) and the absorb all consume the same banded
        // frame — previously each re-ran the tokenize+shingle+minhash
        // kernel over the batch (3× the signature cost per batch)
        val bands = graft.operators.Dedup.signatureBands(batch)
          .localCheckpoint()
        val labels = graft.operators.IncrementalDedup
          .updateClustersBands(s, bands, sigTable, s.table(labelTable), tau)
          .localCheckpoint()
        try {
          graft.operators.IncrementalDedup.writeLabels(labels, labelTable)
          graft.operators.IncrementalDedup.absorbDeltaBands(s, bands, sigTable)
        } finally {
          // release the checkpointed blocks at the end of the batch: on
          // a long-running stream they otherwise linger until the
          // ContextCleaner notices the frames are unreachable, stacking
          // one batch-sized block set per micro-batch (ADVICE r21)
          labels.unpersist(blocking = false)
          bands.unpersist(blocking = false)
        }
        // the absorb ran under the micro-batch's CLONED session, so the
        // outer session's cached file listing for the store is stale —
        // refresh both tables or the next batch joins yesterday's files
        s.catalog.refreshTable(sigTable)
        s.catalog.refreshTable(labelTable)
        ()
      }
      .start()

  /** CONTINUOUS sketch-store maintenance — the streaming daily loop of
    * q_distinct_rolling: each micro-batch's events aggregate to per-day
    * HLL sketches (`hll_sketch_agg`) and MERGE into the persisted
    * sketch table via `hll_union_agg` (HLL registers are max-merged, so
    * a day's sketch built across many micro-batches is identical to a
    * single-shot build — the mergeability the store exists for). A
    * foreachBatch sink-hook like the cluster-maintenance loop: the
    * merge is a read-modify-write of the store table reusing the batch
    * algebra. The merged frame lands in a STAGING table that swaps in
    * via [[graft.operators.IncrementalDedup.swapInStagedTable]]
    * (rename-old-aside → rename-staging-in → drop-old) — an in-place
    * Overwrite of the table being read would truncate the store first
    * and a crash mid-write would lose the entire sketch history the
    * store is documented to keep forever; with the ordered swap, a
    * crash at any point leaves a complete table under a predictable
    * name (the canonical one, or `__old` during the rename window —
    * see the helper's recovery contract), and staging to a different
    * table also removes the need for a lineage cut through non-reliable
    * executor-local checkpoint storage. Store stays one row per day
    * (KBs) forever; any trailing-window cardinality then reads through
    * [[graft.operators.Corpus.rollingEstFromSketches]] without
    * touching event history.
    */
  def sketchStoreStream(s: SparkSession, events: DataFrame,
      sketchTable: String,
      checkpointDir: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery =
    checkpointDir.foldLeft(events.writeStream)(
      (w, d) => w.option("checkpointLocation", d))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val daySk = batch
          .select(col("user_id"),
            to_date(date_trunc("DAY", col("ts"))).as("day"))
          .groupBy(col("day"))
          .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
        val merged = s.table(sketchTable).unionByName(daySk)
          .groupBy(col("day"))
          .agg(expr("hll_union_agg(sk)").as("sk"))
        val tmp = sketchTable + "__staging"
        merged.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .format("parquet").saveAsTable(tmp)
        graft.operators.IncrementalDedup.swapInStagedTable(s, sketchTable, tmp)
        s.catalog.refreshTable(sketchTable)
        ()
      }
      .start()

  /** Stream-stream attribution join — the streaming twin of the batch
    * as-of join (Temporal.asofJoin): each click joined to purchases by
    * the same user within 30 minutes after it. Both sides carry
    * watermarks and the join condition bounds event time on both ends,
    * so Spark can expire join state; without the time bound the state
    * store would grow with the stream.
    */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "1 hour").alias("c")
    val p = purchases.withWatermark("ts", "1 hour").alias("p")
    c.join(p, expr(
      """c.user_id = p.user_id AND
        |p.ts >= c.ts AND p.ts <= c.ts + interval 30 minutes""".stripMargin))
      .select(col("c.user_id").as("user_id"),
        col("c.event_id").as("click_id"), col("p.event_id").as("purchase_id"),
        col("c.ts").as("click_ts"), col("p.ts").as("purchase_ts"))
  }

  /** Gap sessionization (30-min inactivity) with flatMapGroupsWithState:
    * emits a session when the gap closes it, keyed state is one
    * SessionState per active user. The streaming twin of
    * EventOps.sessionize.
    *
    * State is bounded by an event-time timeout: once the watermark passes
    * lastTs + gap, the open session is flushed and its state removed —
    * without this (NoTimeout) each user's final session would never emit
    * and per-user state would grow forever.
    *
    * Late-data contract: events are processed in (ts, event_id) order
    * *within* a micro-batch; an event that arrives in a later batch with
    * an earlier timestamp is treated as a new arrival at that point — if
    * it falls inside the gap it extends the session, otherwise it opens
    * (and may split) one. Events older than the watermark may be dropped
    * entirely. Choose the watermark delay to cover expected disorder.
    */
  def sessionize(events: Dataset[Event],
      watermarkDelay: String = "2 hours"): Dataset[SessionAgg] = {
    import events.sparkSession.implicits._
    // state runs in epoch MICROSECONDS (the events table's resolution;
    // getTime-millis would truncate session bounds — see tsMicros)
    val gapUs = 30L * 60 * 1000 * 1000
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionAgg](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          def emit(st: SessionState): SessionAgg =
            SessionAgg(userId, microsTs(st.start), microsTs(st.lastTs),
              st.n, microsToDouble(st.totalMicros))
          if (state.hasTimedOut) {
            // watermark passed the gap after the last event: flush + clear
            val st = state.get
            state.remove()
            Iterator.single(emit(st))
          } else {
            val sorted = rows.toSeq.sortBy(e => (tsMicros(e.ts), e.event_id))
            val out = scala.collection.mutable.ArrayBuffer.empty[SessionAgg]
            var st = state.getOption.orNull
            sorted.foreach { e =>
              val t = tsMicros(e.ts)
              if (st == null) {
                st = SessionState(t, t, 1L, micros(e.value))
              } else if (t - st.lastTs > gapUs) {
                out += emit(st)
                st = SessionState(t, t, 1L, micros(e.value))
              } else {
                st = st.copy(lastTs = t, n = st.n + 1,
                  totalMicros = st.totalMicros + micros(e.value))
              }
            }
            if (st != null) {
              state.update(st)
              // fire once event time passes the inactivity gap: the
              // timeout API is millisecond-domain, so CEIL the micro
              // deadline (floor could fire a sub-millisecond early and
              // split a session an in-gap straggler would extend) and
              // sit strictly beyond the current watermark
              state.setTimeoutTimestamp(math.max(
                Math.floorDiv(st.lastTs + gapUs + 999L, 1000L),
                state.getCurrentWatermarkMs() + 1))
            } else state.remove()
            out.iterator
          }
      }
  }
}
