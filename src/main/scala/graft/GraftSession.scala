package graft

import org.apache.spark.sql.SparkSession

/** Shared session construction for the graft mains and tests: local
  * master, shuffle parallelism sized to the worker threads, AQE with
  * skew-join handling, UTC session time, the legacy nanosAsLong flag
  * the events table needs (see Tables.events) — set once here at
  * construction instead of leaking from a table loader — the
  * fork-free local filesystem [[NioLocalFileSystem]] under every write,
  * and [[GraftExtensions]] (graft's SQL functions and planner rules).
  */
object GraftSession {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // InferFiltersFromGenerate synthesizes size(e)>0 from explode(e)
      // and predicate pushdown then INLINES e through the projection
      // that computes it — for computed arrays (every exploded column
      // here: shingles, n-grams, token lists) each row pays the array
      // construction 3x. explode already skips empty/null inputs, so
      // the inferred filter only helps stored array columns, which this
      // engine never explodes.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // pid-scoped so concurrent runs on one host can't clobber each
      // other's managed tables
      .config("spark.sql.warehouse.dir",
        s"/tmp/graft_warehouse_${ProcessHandle.current().pid()}")
      .config(Tables.NanosFlag, "true")
      // keep generated code warm across queries (see CodegenCacheEntries)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)
      // the whole-stage class name carries the stage's id, which AQE
      // numbers in the order stages are re-planned — so one plan compiled
      // to a different source whenever its shuffles finished in another
      // order
      .config("spark.sql.codegen.useIdInClassName", "false")
      // Spark keys the codegen cache on the task's class loader, and with
      // artifact isolation each session gets its own; every stream drive
      // runs in a cloned session, so each drive recompiled all of its
      // classes. graft adds no session artifacts, so nothing is shared
      // that isolation would keep apart.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // every local write, batch or stream, goes through one `file:`
      // filesystem that sets permissions in the JVM instead of forking
      // `chmod` (see NioLocalFileSystem); Spark's FileSystem-based
      // checkpoint manager commits through it with java.io renames,
      // where the default FileContext one forks `readlink` per rename
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")

  /** Size of Spark's generated-class cache (`spark.sql.codegen.cache.maxEntries`,
    * default 100). The notebook flow runs many different queries in one
    * session, and at the default size the cache — a Guava cache of 4
    * segments, so eviction starts near 25 classes a segment — evicted
    * and Janino recompiled most classes of every repeated pass, each
    * then running interpreted until HotSpot compiled it again.
    *
    * Measured working set: one pass of the whole registry
    * (`SparkEntry.all`, 192 queries) over the sf0.001 snapshot at
    * `local[4]`, with this session's settings and an unbounded cache,
    * compiles 2716 distinct classes; Metaspace after the pass is 264 MB
    * (Spark and MLlib's own classes included). 12288 leaves over 4×
    * headroom, because the segments fill unevenly. To re-measure, run
    * the registry twice in one session with a large cache and read
    * `GraftBridge.codegenCompiles` around each pass (README, "Session
    * defaults").
    */
  val CodegenCacheEntries = 12288
}
