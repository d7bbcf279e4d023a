package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.GraftBenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Spans of one op share `op`; `parent` is the id of
  * the enclosing span (-1 for a pass). Times are epoch milliseconds.
  */
final case class Span(id: Int, op: Int, name: String, parent: Int,
    start: Double, end: Double, attrs: Map[String, Any] = Map.empty) {
  def json: Map[String, Any] = Map("id" -> id, "op" -> op, "name" -> name,
    "parent" -> parent, "start_ms" -> start, "end_ms" -> end) ++
    (if (attrs.isEmpty) Map.empty else Map("attrs" -> attrs))
}

/** Per-layer counters of the traced passes, fed by a SparkListener, a
  * QueryExecutionListener and a StreamingQueryListener that are registered
  * only while a traced pass runs. After every op the listener bus is
  * drained, so each event is counted against the op that caused it.
  */
final class Tracer(spark: SparkSession, cores: Int) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0
  def newId(): Int = { nextId += 1; nextId }

  /** Layer counters summed over the traced passes. */
  val sums = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  /** Per op: summed latency and job count over the traced passes. */
  val opMs = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  val opJobs = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  var stateRowsMax = 0L
  var passes = 0

  // events of the op in flight (listener threads write, the harness reads
  // after draining the bus)
  private val jobs = mutable.ArrayBuffer[Tracer.JobEv]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val stageSpans = mutable.ArrayBuffer[(Int, Long, Long, Map[String, Any])]()
  private val phases = mutable.ArrayBuffer[(String, Long, Long)]()
  private val batches = mutable.ArrayBuffer[(Long, Long, Map[String, Long])]()
  private val counts = mutable.HashMap[String, Double]().withDefaultValue(0.0)

  private def add(k: String, v: Double): Unit = synchronized { counts(k) += v }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobs += new Tracer.JobEv(e.jobId, e.time, -1L)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      add("exec.stages", 1)
      for (st <- i.submissionTime; en <- i.completionTime) Tracer.this.synchronized {
        stageSpans += ((i.stageId, st, en, Map("tasks" -> i.numTasks, "name" -> i.name)))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      add("exec.tasks", 1)
      add("exec.task_run_ms", m.executorRunTime.toDouble)
      add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
      add("exec.task_gc_ms", m.jvmGCTime.toDouble)
      add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
      add("exec.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
      add("exec.spill_mb", m.diskBytesSpilled / 1048576.0)
      val in = m.inputMetrics
      if (in.bytesRead > 0 || in.recordsRead > 0) {
        add("scan.tasks", 1)
        add("scan.input_mb", in.bytesRead / 1048576.0)
        add("scan.input_rows", in.recordsRead.toDouble)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLAdaptiveExecutionUpdate => add("catalyst.aqe_replans", 1)
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      Tracer.this.synchronized {
        Seq("analysis" -> "catalyst.analysis_ms", "optimization" -> "catalyst.optimize_ms",
          "planning" -> "catalyst.plan_ms").foreach { case (p, k) =>
          ph.get(p).foreach { s =>
            counts(k) += s.durationMs.toDouble
            phases += ((s"catalyst.$p", s.startTimeMs, s.endTimeMs))
          }
        }
      }
      add("tables.fanout_exchanges", Tracer.fanoutExchanges(qe.executedPlan))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val rows = Option(p.stateOperators).toSeq.flatten.map(_.numRowsTotal)
      Tracer.this.synchronized {
        batches += ((start, start + d.getOrElse("triggerExecution", 0L), d))
        if (rows.nonEmpty) stateRowsMax = math.max(stateRowsMax, rows.max)
      }
    }
  }

  def register(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(): Unit = {
    GraftBenchAccess.drainListeners(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  private def gcTotals(): (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).sum, beans.map(_.getCollectionCount).sum)
  }

  private var passGc = (0L, 0L)
  private var passCodegen = 0L

  def beginPass(): Unit = {
    passGc = gcTotals()
    passCodegen = GraftBenchAccess.codegenCompiles
  }

  def endPass(passSpan: Span): Unit = {
    GraftBenchAccess.drainListeners(sc)
    val (gcMs, gcN) = gcTotals()
    sums("jvm.gc_ms") += gcMs - passGc._1
    sums("jvm.gc_count") += gcN - passGc._2
    sums("codegen.compiles") += GraftBenchAccess.codegenCompiles - passCodegen
    sums("cache.persisted_rdds") += sc.getPersistentRDDs.size
    sums("cache.storage_mb") += sc.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum / 1048576.0
    spans += passSpan
    passes += 1
  }

  /** Close one op: drain the bus, turn its events into spans under the
    * build or sink span they fall in, and fold its counters into the sums.
    */
  def endOp(op: Op, opSpan: Span, build: Span, sink: Span): Unit = {
    GraftBenchAccess.drainListeners(sc)
    synchronized {
      spans ++= Seq(opSpan, build, sink)
      def parentOf(t: Double): Int = if (t < build.end) build.id else sink.id
      val jobIds = mutable.HashMap[Int, Int]()
      jobs.foreach { j =>
        val end = if (j.end < 0) j.start else j.end
        val id = newId()
        jobIds(j.id) = id
        spans += Span(id, opSpan.op, "job", parentOf(j.start.toDouble),
          j.start.toDouble, end.toDouble, Map("job_id" -> j.id))
      }
      stageSpans.foreach { case (stage, st, en, attrs) =>
        val parent = stageJob.get(stage).flatMap(jobIds.get).getOrElse(opSpan.id)
        spans += Span(newId(), opSpan.op, "stage", parent, st.toDouble, en.toDouble,
          attrs + ("stage_id" -> stage))
      }
      phases.foreach { case (name, st, en) =>
        spans += Span(newId(), opSpan.op, name, parentOf(st.toDouble), st.toDouble, en.toDouble)
      }
      batches.foreach { case (st, en, d) =>
        spans += Span(newId(), opSpan.op, "streaming.batch", parentOf(st.toDouble),
          st.toDouble, en.toDouble, d)
        sums("streaming.batches") += 1
        sums("streaming.trigger_ms") += d.getOrElse("triggerExecution", 0L)
        sums("streaming.add_batch_ms") += d.getOrElse("addBatch", 0L)
        sums("streaming.planning_ms") += d.getOrElse("queryPlanning", 0L)
        sums("streaming.wal_ms") += d.getOrElse("walCommit", 0L)
      }
      val execMs = Tracer.unionMs(jobs.map(j => (j.start, math.max(j.start, j.end))).toSeq)
      sums("exec.ms") += execMs
      sums("exec.jobs") += jobs.size
      counts.foreach { case (k, v) => sums(k) += v }
      val ms = opSpan.end - opSpan.start
      sums("driver.build_ms") += build.end - build.start
      sums(s"${op.module}.ms") += ms
      if (op.name == "ml.featurize") sums("ml.featurize_ms") += ms
      if (op.name.startsWith("ml.fit.")) sums("ml.fit_ms") += ms
      if (op.name.startsWith("q_ml_")) sums("ml.predict_ms") += ms
      opMs(op.name) += ms
      opJobs(op.name) += jobs.size
      jobs.clear(); stageJob.clear(); stageSpans.clear(); phases.clear()
      batches.clear(); counts.clear()
    }
  }

  /** Per-layer metrics: sums divided by the traced pass count, so a faster
    * program that fits more passes into a run does not read as more work.
    */
  def metrics(setup: Map[String, Double]): Map[String, Double] = {
    val n = math.max(passes, 1).toDouble
    val perPass = sums.map { case (k, v) => k -> v / n }
    val busy = {
      val e = perPass.getOrElse("exec.ms", 0.0)
      if (e > 0) perPass.getOrElse("exec.task_run_ms", 0.0) / (e * cores) else 0.0
    }
    val base = Tracer.layerMetrics.map(k => k -> perPass.getOrElse(k, 0.0)).toMap ++
      setup ++ Map("exec.core_busy" -> busy,
        "streaming.state_rows_max" -> stateRowsMax.toDouble)
    val ops = Workloads.all.flatMap(_.ops.map(_.name)).distinct
    base ++ ops.flatMap(o => Seq(s"$o.ms" -> opMs(o) / n, s"$o.jobs" -> opJobs(o) / n))
  }
}

object Tracer {
  /** Prints every per-layer metric name the traced run reports, one a line. */
  def main(args: Array[String]): Unit = metricNames.foreach(println)

  def metricNames: Seq[String] = layerMetrics ++
    Workloads.all.flatMap(_.ops.map(_.name)).distinct.flatMap(o => Seq(s"$o.ms", s"$o.jobs"))

  private final class JobEv(val id: Int, val start: Long, var end: Long)

  /** Every layer metric the traced run reports on every workload (zero
    * where the workload does not reach the layer).
    */
  val layerMetrics: Seq[String] = Seq(
    "session.start_ms", "jvm.jit_ms", "jvm.gc_ms", "jvm.gc_count",
    "cache.persisted_rdds", "cache.storage_mb", "driver.build_ms",
    "catalyst.analysis_ms", "catalyst.optimize_ms", "catalyst.plan_ms",
    "catalyst.aqe_replans", "codegen.compiles",
    "exec.ms", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_ms",
    "exec.task_cpu_ms", "exec.task_gc_ms", "exec.core_busy",
    "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.spill_mb",
    "scan.input_mb", "scan.input_rows", "scan.tasks", "tables.fanout_exchanges",
    "ml.featurize_ms", "ml.fit_ms", "ml.predict_ms",
    "text_queries.ms", "typo.ms", "features.ms", "evaluation.ms", "dedup.ms",
    "corpus.ms", "similarity.ms", "stream_queries.ms",
    "streaming.batches", "streaming.trigger_ms", "streaming.add_batch_ms",
    "streaming.planning_ms", "streaming.wal_ms", "streaming.state_rows_max")

  /** Total length of the union of [start, end] intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }

  /** REPARTITION_BY_NUM shuffle exchanges (the `Tables.fanOut` shape) in a
    * final physical plan, looking through AQE wrappers and query stages.
    */
  def fanoutExchanges(plan: SparkPlan): Int = {
    val own = plan match {
      case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM => 1
      case _ => 0
    }
    val next: Seq[SparkPlan] = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case p => p.children ++ p.subqueries
    }
    own + next.map(fanoutExchanges).sum
  }
}
