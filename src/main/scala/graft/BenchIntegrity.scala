package graft

import org.apache.spark.sql.SparkSession

/** The harness under every timing main (`Bench`, `BenchOne`,
  * `ScaleBench`, `StreamScaleBench`, `PlanAudit`), written once:
  *
  *  - SESSION — [[session]] runs `local[n]` with n = `SPARK_GRAFT_CPUS`,
  *    else the host's core count ([[cores]]). n is recorded as
  *    `host.cores` in every artifact, because a fan-out verdict can
  *    flip between core counts.
  *  - WARM-UP — [[warmUp]] runs an untimed range sum and a scan of the
  *    input dir, then takes the host-load marker: a fixed cpu-bound
  *    smoke query whose wall time varies only with contention, plus
  *    the 1-minute loadavg.
  *  - TIMER — [[time]] writes one registered query to the `noop` sink.
  *  - ARTIFACT — [[finish]] takes the marker again and writes the one
  *    JSON line to stdout and to `<repo>/<prefix>_r<N>[.loaded].json`,
  *    N = 1 + the highest `BENCH_r<N>.json` ([[nextRound]]).
  *
  * The committed timing tables are cross-round evidence, so a number
  * taken on a loaded host, or a one-off in-JVM GC outlier, must not
  * land in them unmarked. Two rules guard them:
  *
  *  1. GATE — before anything is timed, sample the 1-minute loadavg. If
  *     it exceeds the threshold (`SPARK_GRAFT_LOADAVG_MAX`, default
  *     4.0), WAIT for the host to drain (poll every 10 s, bounded by
  *     `SPARK_GRAFT_LOADAVG_WAIT`, default 180 s) rather than refuse
  *     outright: a refused unattended run would lose its artifact. If
  *     the host never drains, the run proceeds but the artifact
  *     self-identifies: `integrity.status = "loaded"` and the artifact
  *     FILENAME carries a `.loaded` tag.
  *  2. RE-MEASURE — a sample that deviates >2× ([[outlier]]) from the
  *     value of the same quantity in the prior committed artifact of
  *     the same `host.cores` is re-taken once, after a [[coldReset]],
  *     before it lands (Bench: single-shot lines vs [[priorQueries]];
  *     ScaleBench: every (head, corpus) sample vs [[priorLadders]]).
  *     The committed value is the MIN of the two samples (the right
  *     statistic under one-sided contention noise), and both samples
  *     ride the artifact's `integrity.remeasured` map so the correction
  *     is auditable.
  */
object BenchIntegrity {

  /** Worker threads of a timing main: `SPARK_GRAFT_CPUS`, else the
    * host's core count.
    */
  def cores(env: String => Option[String] = sys.env.get): Int =
    env("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The session of every timing main: `local[cores]` with as many
    * shuffle partitions, WARN logs.
    */
  def session(): SparkSession = {
    val n = cores()
    val spark = GraftSession.builder(s"local[$n]", n).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The base corpus the timing mains read: `SPARK_GRAFT_SF_DIR`, else
    * the sf0.1 test snapshot.
    */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** The checkout artifacts are written to and prior artifacts read
    * from: `SPARK_GRAFT_REPO`, else the launch directory.
    */
  def repoDir: java.io.File = new java.io.File(sys.env.getOrElse(
    "SPARK_GRAFT_REPO", sys.props.getOrElse("user.dir", ".")))

  /** Host-load marker: wall seconds of a fixed, data-independent
    * cpu-bound sum. Across runs it tells a loaded box from a regression.
    */
  def smoke(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(200L * 1000 * 1000).selectExpr("sum(id * 3 + 1)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Smoke seconds and loadavg at one end of a run. */
  final case class Marker(smokeSec: Double, loadavg: Double)

  def marker(spark: SparkSession): Marker = Marker(smoke(spark), loadavg())

  /** Absorb JVM and session warm-up (codegen, parquet reader JIT) so it
    * does not land on the first timed query, then take the start marker.
    */
  def warmUp(spark: SparkSession, dir: String): Marker = {
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$dir/region.parquet").count()
    marker(spark)
  }

  /** Wall seconds of one run of `q` over `dir` into the `noop` sink. */
  def time(spark: SparkSession, q: GraftQuery, dir: String): Double = {
    val t0 = System.nanoTime()
    q.fn(spark, dir).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Round number of the next artifact: 1 + the highest committed
    * `BENCH_r<N>.json` in `repo` (0 when there is none); this run IS
    * that round's bench.
    */
  def nextRound(repo: java.io.File): Int = {
    val pat = "^BENCH_r0*([0-9]+)\\.json$".r
    val rounds = Option(repo.list()).toSeq.flatten
      .flatMap(n => pat.findFirstMatchIn(n).map(_.group(1).toInt))
    if (rounds.isEmpty) 0 else rounds.max + 1
  }

  /** The artifact line: `body` (the main's own fields, no braces) plus
    * the host posture and the integrity record.
    */
  def line(body: String, cores: Int, start: Marker, end: Marker, gate: Gate,
      remeasured: collection.Map[String, (Double, Double)]): String = {
    // loadavg_end repeats loadavg[1]: the key older sf1 artifacts carry
    val host = s"""{"cores":$cores,"smoke_sec":[${fmt(start.smokeSec)},${fmt(end.smokeSec)}],""" +
      s""""loadavg":[${fmt(start.loadavg)},${fmt(end.loadavg)}],"loadavg_end":${fmt(end.loadavg)}}"""
    s"""{$body,"host":$host,"integrity":${gate.json(remeasuredJson(remeasured))}}"""
  }

  /** Write `line` as `<repo>/<prefix>_r<N><gate.tag>.json`. Best-effort:
    * a bench never fails on a repo-layout surprise, so a failed write
    * is reported on stderr and yields None.
    */
  def writeArtifact(repo: java.io.File, prefix: String, gate: Gate,
      line: String): Option[java.nio.file.Path] =
    try {
      val p = repo.toPath.resolve(s"${prefix}_r${nextRound(repo)}${gate.tag}.json")
      Some(java.nio.file.Files.writeString(p, line + "\n"))
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[$prefix] artifact write failed: ${e.getMessage}")
      None
    }

  /** Close a timing run: take the end marker, print the artifact line
    * and write it under [[repoDir]].
    */
  def finish(spark: SparkSession, prefix: String, body: String, gate: Gate,
      start: Marker, remeasured: collection.Map[String, (Double, Double)]): Unit = {
    val l = line(body, spark.sparkContext.defaultParallelism, start,
      marker(spark), gate, remeasured)
    println(l)
    writeArtifact(repoDir, prefix, gate, l)
  }

  /** Seconds to 3 decimals: keeps a line compact enough that a
    * tail-capture of the run log still contains the complete JSON.
    */
  def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

  def loadavg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  /** Outcome of the pre-run load gate: everything the artifact needs to
    * describe the host posture it was measured under.
    */
  final case class Gate(loadavgStart: Double, threshold: Double,
      waitedSec: Int, loaded: Boolean) {
    /** `.loaded` filename tag for a run that never saw an idle host. */
    def tag: String = if (loaded) ".loaded" else ""
    def json(remeasured: String): String = {
      val status = if (loaded) "loaded" else "ok"
      s"""{"loadavg_start":${fmt(loadavgStart)},"threshold":${fmt(threshold)},""" +
        s""""waited_sec":$waitedSec,"status":"$status","remeasured":$remeasured}"""
    }
  }

  /** Block until the host is idle enough to measure on, bounded. */
  def gate(tool: String): Gate = {
    val threshold = sys.env.getOrElse("SPARK_GRAFT_LOADAVG_MAX", "4.0").toDouble
    val maxWait = sys.env.getOrElse("SPARK_GRAFT_LOADAVG_WAIT", "180").toInt
    val start = loadavg()
    var waited = 0
    var cur = start
    while (cur > threshold && waited < maxWait) {
      System.err.println(f"[$tool] loadavg $cur%.2f > $threshold%.1f — " +
        f"waiting for the host to drain (${waited}s/${maxWait}s)")
      Thread.sleep(10000)
      waited += 10
      cur = loadavg()
    }
    val loaded = cur > threshold
    if (loaded) System.err.println(
      f"[$tool] host never drained (loadavg $cur%.2f after ${waited}s) — " +
        "proceeding; artifact will be tagged .loaded")
    Gate(start, threshold, waited, loaded)
  }

  /** Render a name → (first, recheck, committed) map as the artifact's
    * `integrity.remeasured` JSON object.
    */
  def remeasuredJson(m: collection.Map[String, (Double, Double)]): String = {
    m.map { case (k, (first, recheck)) =>
      s""""$k":{"first":${fmt(first)},"recheck":${fmt(recheck)}}"""
    }.mkString("{", ",", "}")
  }

  /** True when two samples of the same quantity disagree by more than
    * 2× in either direction AND by more than 1 s absolute (sub-second
    * lines jitter relatively without being evidence of anything).
    */
  def outlier(a: Double, b: Double): Boolean =
    math.abs(a - b) > 1.0 && (a > 2 * b || b > 2 * a)

  /** The highest-numbered `<prefix>_r<N>[.loaded].json` in `repo` whose
    * `host.cores` is `cores`, parsed (jackson is already on the Spark
    * classpath). An artifact of another core count, or of an unknown
    * one (written before artifacts recorded it), is no estimate of this
    * run: fan-out verdicts and task parallelism differ between them.
    */
  private def latest(repo: java.io.File, prefix: String, cores: Int)
      : Option[com.fasterxml.jackson.databind.JsonNode] = {
    val pat = s"^${prefix}_r0*([0-9]+)(\\.loaded)?\\.json$$".r
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    Option(repo.list()).toSeq.flatten
      .flatMap(n => pat.findFirstMatchIn(n).map(m => (m.group(1).toInt, n)))
      .sortBy(-_._1).iterator
      .map { case (_, n) => mapper.readTree(new java.io.File(repo, n)) }
      .find(t => t.path("host").path("cores").asInt(-1) == cores)
  }

  /** Prior committed per-query medians, for the Bench single-shot
    * cross-check, from the latest `bench_full` artifact taken at
    * `cores`. Empty on any parse/read problem — the check degrades, the
    * bench never fails on it.
    */
  def priorQueries(repoDir: java.io.File, sfDir: String,
      cores: Int = BenchIntegrity.cores()): Map[String, Double] =
    try {
      latest(repoDir, "bench_full", cores).map { tree =>
        val qs = tree.get("queries")
        // only a SAME-SCALE prior is a valid estimate: comparing an
        // sf0.001 run against an sf0.1 artifact would flag every line
        if (qs == null || tree.get("sf") == null ||
            tree.get("sf").asText() != sfDir) Map.empty[String, Double]
        else {
          val it = qs.properties().iterator()
          val b = Map.newBuilder[String, Double]
          while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asDouble() }
          b.result()
        }
      }.getOrElse(Map.empty)
    } catch { case _: Throwable => Map.empty }

  /** Drop a session's SessionCache memos and their pins, then clear
    * the catalog's cache, so a re-measure is a true cold sample instead
    * of a memo read. `clearCache` releases persisted frames only: the
    * blocks of a `localCheckpoint` are not in the catalog's cache, and
    * the ContextCleaner releases them once their frames are unreachable.
    */
  def coldReset(s: SparkSession): Unit = {
    SessionCache.evictSession(s)
    s.catalog.clearCache()
  }

  /** Prior round's scale points from the latest `bench_sf1` artifact
    * taken at `cores`, keyed (ladder, query, "t<factor>"): the
    * ScaleBench re-measure rule and its `ladder_flags` annotation read
    * them. A `queries` row reads as ladder "queries" with base = t1
    * and sf1 = t10. An in-JVM re-measure cannot clear JVM-state pressure (the r19
    * exhibit: a t30 measured 80-93 s min-of-2 in a pressured JVM
    * against 30-37 s on a fresh one), so a point whose min still
    * deviates is ANNOTATED rather than corrected. Empty on any
    * read/parse problem.
    */
  def priorLadders(repoDir: java.io.File,
      cores: Int = BenchIntegrity.cores()): Map[(String, String, String), Double] =
    try {
      latest(repoDir, "bench_sf1", cores).map { tree =>
        val b = Map.newBuilder[(String, String, String), Double]
        def each(node: String)(add: (String, String, Double) => Unit): Unit =
          Option(tree.get(node)).foreach { l =>
            val qs = l.properties().iterator()
            while (qs.hasNext) {
              val q = qs.next()
              val fs = q.getValue.properties().iterator()
              while (fs.hasNext) {
                val f = fs.next()
                add(q.getKey, f.getKey, f.getValue.asDouble())
              }
            }
          }
        for (ladder <- Seq("quadratic_ladder", "dup_ladder", "deep_ladder"))
          each(ladder) { (q, k, v) =>
            if (k.matches("t[0-9]+")) b += (ladder, q, k) -> v
          }
        val point = Map("base" -> "t1", "sf1" -> "t10")
        each("queries") { (q, k, v) =>
          point.get(k).foreach(t => b += ("queries", q, t) -> v)
        }
        b.result()
      }.getOrElse(Map.empty)
    } catch { case _: Throwable => Map.empty }
}
