package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the driver-generated star schema (TESTDATA.md).
  * Each loader selects from a single parquet file so Catalyst can push
  * filters / prune columns straight into the scan.
  */
object Tables {

  /** Footer schema per (parquet path, length, mtime, nanos-flag), read
    * once per file version per JVM. A bare-path `spark.read.parquet`
    * re-infers the schema with a one-task Spark job on EVERY call —
    * ~50-100 ms of pure fixed floor charged to every query builder (a
    * catalog/metastore table carries its schema and never pays this).
    * One stat per load keys the memo on the file's length and mtime,
    * so a file rewritten at the same path is re-inferred instead of
    * read with a stale schema. Keyed on the nanosAsLong flag because it
    * changes what the events footer infers to.
    */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long, String), org.apache.spark.sql.types.StructType]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val p = new org.apache.hadoop.fs.Path(path)
    val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
    val key = (path, st.getLen, st.getModificationTime,
      spark.conf.getOption(NanosFlag).getOrElse(""))
    val schema = schemaCache.computeIfAbsent(key,
      _ => spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** Target input bytes per task for [[fanOut]] — how finely a
    * below-core-count scan is spread before heavy row-local work
    * (tokenize/shingle/decode/vector kernels); suits compressed text at
    * ~100 B/row.
    */
  private val FanOutBytes: Long = 64L * 1024

  /** Scale-adaptive fan-out of a narrow scan feeding expensive
    * row-local work (guide §2: make partitioning derive from input
    * size, not a constant). A single-row-group parquet snapshot plans
    * as ONE scan task however many cores the session has, so the
    * scan+tokenize/decode stage of every text/vector operator runs
    * single-threaded while the rest of the machine idles. This helper
    * hash-repartitions on the frame's OWN row key — deterministic
    * placement, so retried tasks reproduce their partition (guide
    * §2.5) and results are unchanged for the engine's
    * order-independent aggregation discipline — to
    * min(cores, bytes/[[FanOutBytes]]) partitions.
    *
    * Fires ONLY when the planned scan parallelism is below the
    * session's core count and the input is big enough to be worth at
    * least four tasks: a production corpus (many well-sized files /
    * row groups) plans more scan tasks than cores and passes through
    * untouched, so this is strictly a small-snapshot fix, not a
    * local[32] tuning constant — at scale the added Exchange does not
    * exist.
    */
  def fanOut(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    // a streaming frame has no static scan to probe (and its builders
    // share this code via the row-local column algebra) — pass through
    if (df.isStreaming) return df
    // PLAN-FREE probe. The r21 probe (`df.rdd.getNumPartitions` +
    // `optimizedPlan.stats`) forced physical planning and an RDD build
    // on EVERY call — a pure driver tax charged even where the fan-out
    // declined to fire, measured as a broad small-query regression on
    // both r21 boards. The pathology this helper exists for — a scan
    // that plans as ONE task — is a property of the FILE LAYOUT alone,
    // so read it from the layout: `inputFiles` only walks the analyzed
    // plan's relations (no physical plan, no job), and Spark's own
    // split math (FilePartition.maxSplitBytes) decides whether that one
    // file packs into one split.
    val files = try df.inputFiles catch { case _: Exception => return df }
    // multi-file input (the sf1 corpus, any production table) already
    // has scan parallelism — the A/B at the 10× corpus measured the
    // spread HARMFUL there (q_dedup_editdist 31 → 80 s at sf1); a
    // file-less frame (LogicalRDD / foreachBatch micro-batch) has no
    // static scan to spread
    if (files.length != 1) return df
    val s = df.sparkSession
    val bytes = try {
      val p = new org.apache.hadoop.fs.Path(files(0))
      p.getFileSystem(s.sessionState.newHadoopConf()).getFileStatus(p).getLen
    } catch { case _: Exception => return df }
    val cores = s.sparkContext.defaultParallelism
    val conf = s.sessionState.conf
    // FilePartition.maxSplitBytes: a file bigger than one split already
    // plans multiple scan tasks — pass through (matches the r21
    // parts != 1 guard exactly for single-file inputs)
    val openCost = conf.filesOpenCostInBytes
    val bytesPerCore = (bytes + openCost) / math.max(cores, 1)
    val maxSplit = math.min(conf.filesMaxPartitionBytes,
      math.max(openCost, bytesPerCore))
    if (bytes > maxSplit) return df
    val want = math.min(bytes / FanOutBytes, cores.toLong).toInt
    if (want >= 4) df.repartition(want, key) else df
  }

  /** [[fanOut]]'s wider sibling for a HEAVY single-pass aggregation
    * kernel over a scan that plans fewer splits than cores (the exact
    * `percentile` buffers: sf0.1's lineitem plans 3 splits, so the
    * aggregation ran on 3 of 32 cores). Opt-in per call site — only
    * where the downstream kernel is a single-reference, CPU-bound
    * aggregation whose partial state is far smaller than its input, so
    * the extra exchange ships less than it parallelizes. Fires while
    * the planned scan parallelism is below the core count and the
    * input is small enough that the exchange is cheap; a production
    * corpus plans more splits than cores and passes through untouched.
    * Same plan-free probe discipline as [[fanOut]].
    */
  def fanOutWide(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    if (df.isStreaming) return df
    val files = try df.inputFiles catch { case _: Exception => return df }
    if (files.isEmpty) return df
    val s = df.sparkSession
    val conf = s.sessionState.conf
    val sizes = try {
      val hconf = s.sessionState.newHadoopConf()
      files.map { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(hconf).getFileStatus(p).getLen
      }
    } catch { case _: Exception => return df }
    val cores = s.sparkContext.defaultParallelism
    val bytes = sizes.sum
    val openCost = conf.filesOpenCostInBytes
    val bytesPerCore = (bytes + openCost * files.length) / math.max(cores, 1)
    val maxSplit = math.min(conf.filesMaxPartitionBytes,
      math.max(openCost, bytesPerCore))
    val splits = sizes.map(sz => (sz + maxSplit - 1) / maxSplit).sum
    if (splits >= cores) return df
    val want = math.min(bytes / FanOutBytes, cores.toLong).toInt
    if (want >= 2 * splits && want >= 4) df.repartition(want, key) else df
  }

  /** Row bound of [[localize]]: a few tens of MB of driver heap for the
    * narrow tally rows its callers pass, and still a plan-sized literal.
    */
  private[graft] val MaxLocalRows: Int = 1 << 20

  /** Collect a BOUNDED frame into a driver-local relation. For a frame
    * that a larger plan references several times (distinct-score
    * tallies, bucket totals), r21 used localCheckpoint to stop each
    * reference re-planning the corpus-sized lineage beneath it — but a
    * checkpoint pays a job barrier plus block-manager write/read that
    * exceeded the saved re-plan on the lighter heads (q_perplexity_buckets
    * ×0.81, q_heaps_fit ×0.61 on both r21 boards). A local relation
    * keeps the plan collapse (consumers see a LocalTableScan leaf) with
    * no barrier, and downstream joins against it broadcast for free.
    * Callers must only pass frames bounded BY CONSTRUCTION (one row per
    * 6-dp distinct score / fixed bucket count — a few MB at any corpus
    * size, the GridSearch.bestParams collect discipline). The bound is
    * enforced: each partition ships at most [[MaxLocalRows]] + 1 rows (a
    * per-partition limit, so still one job with no incremental take),
    * and a larger frame fails naming `caller` and its row count instead
    * of filling the driver heap.
    */
  private[graft] def localize(df: DataFrame, caller: String): DataFrame = {
    val capped = org.apache.spark.sql.GraftBridge.ofRows(df.sparkSession,
      org.apache.spark.sql.catalyst.plans.logical.LocalLimit(
        org.apache.spark.sql.catalyst.expressions.Literal(MaxLocalRows + 1),
        df.queryExecution.analyzed))
    val rows = capped.collect()
    if (rows.length > MaxLocalRows)
      throw new IllegalStateException(
        s"$caller: Tables.localize is bounded to $MaxLocalRows rows but the " +
          s"frame has ${df.count()} — keep it distributed (localCheckpoint)")
    df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
  }

  /** Pin `df` for the length of `body`: persist it, materialize it, run
    * `body` on the pinned frame, and unpersist it on every exit path.
    * The one owner of a frame that one scope reads several times (a
    * Lloyd loop's input, a fit's train half, a micro-batch's bands).
    * A lazy plan that `body` returns stays correct, but it reads `df`'s
    * lineage again, not the pin.
    */
  def pinned[T](df: DataFrame)(body: DataFrame => T): T = {
    val p = df.persist()
    try {
      p.count()
      body(p)
    } finally p.unpersist(blocking = false)
  }

  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  /** events has shipped with two timestamp encodings over time: plain
    * TIMESTAMP_MICROS (reads directly) and TIMESTAMP(NANOS), which
    * Spark 4 only reads via the legacy nanosAsLong flag (ts then arrives
    * as a LongType of nanos — EventOps.canonicalTs converts either
    * shape). The flag is session-scoped and must be set at session
    * construction (GraftSession does this; a loader must not mutate
    * shared session conf as a side effect), so when the footer actually
    * needs the flag and the session lacks it, rethrow the schema-read
    * failure with that guidance.
    */
  val NanosFlag = "spark.sql.legacy.parquet.nanosAsLong"

  def events(s: SparkSession, d: String): DataFrame =
    try load(s, d, "events")
    catch {
      case e: Exception
          if Option(e.getMessage).exists(_.toUpperCase.contains("NANOS")) &&
            !s.conf.getOption(NanosFlag).contains("true") =>
        throw new IllegalArgumentException(
          s"events.parquet carries nanosecond timestamps; set $NanosFlag=true " +
            "on the session — build it via graft.GraftSession or add the config",
          e)
    }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
