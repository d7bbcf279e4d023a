package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{BenchIntegrity, GraftSession}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The measured JVM of one benchmark run.
  *
  * Usage: Harness <workload> <dataDir> <outDir> <seconds> <trace 0|1>
  *
  * Builds the session with `GraftSession.builder` at `local[cores]`, runs
  * one untimed warm-up pass, then ceil(seconds / the workload's nominal
  * pass time) timed passes, then an untimed output pass. Before every pass: `BenchIntegrity.coldReset`, then
  * `System.gc()`. The warm-up pass writes every op's result as
  * parquet under `outDir/out_first`; the output pass writes those of the
  * ops with no DuckDB oracle under `outDir/out_last` (the output check
  * compares them with the first pass, and the others with the oracle).
  * Every other pass materialises into the `noop` sink.
  *
  * With trace 1 each timed pass is followed by a traced one; listeners
  * are registered only for the traced ones, and the spans and per-layer
  * metrics are written to `outDir/trace.json`.
  *
  * Everything is written to `outDir/result.json`; the caller turns it into
  * metrics.
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val Array(workloadName, dataDir, outDirArg, secondsArg, traceArg) = args
    val workload = Workloads.byName(workloadName)
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val outDir = new File(outDirArg)
    outDir.mkdirs()
    val cores = Runtime.getRuntime.availableProcessors()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val epoch0 = System.currentTimeMillis()
    val nano0 = System.nanoTime()
    def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

    val s0 = nowMs()
    val spark = GraftSession.builder(s"local[$cores]", cores).getOrCreate()
    val sessionMs = nowMs() - s0
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark, cores)

    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    var opSeq = 0

    /** One pass over `opList`; returns its start. With `writeTo` set, each
      * op's result frame goes to parquet there, else to the noop sink.
      */
    def runPass(kind: String, writeTo: Option[File], trace: Boolean,
        opList: Seq[Op] = workload.ops): Double = {
      BenchIntegrity.coldReset(spark)
      System.gc()
      if (trace) { tracer.register(); tracer.beginPass() }
      val passId = if (trace) tracer.newId() else -1
      val pStart = nowMs()
      val ops = opList.map { op =>
        opSeq += 1
        val opId = if (trace) tracer.newId() else -1
        val buildId = if (trace) tracer.newId() else -1
        val sinkId = if (trace) tracer.newId() else -1
        spark.sparkContext.setJobDescription(op.name)
        val st = nowMs()
        var built = st
        val error = try {
          writeTo match {
            case Some(dir) =>
              val df = op.result(spark, dataDir)
              built = nowMs()
              df.write.mode("overwrite").parquet(new File(dir, op.name).getPath)
            case None =>
              val frames = op.build(spark, dataDir)
              built = nowMs()
              frames.foreach(_.write.format("noop").mode("overwrite").save())
          }
          None
        } catch {
          case e: Throwable =>
            System.err.println(s"[e2ebench] ${op.name} FAILED: $e")
            Some(e.toString)
        }
        val en = nowMs()
        if (trace) {
          tracer.endOp(op,
            Span(opId, opSeq, s"op:${op.name}", passId, st, en),
            Span(buildId, opSeq, "driver.build", opId, st, built),
            Span(sinkId, opSeq, "sink", opId, built, en))
        }
        Map("name" -> op.name, "ms" -> (en - st), "build_ms" -> (built - st),
          "ok" -> error.isEmpty) ++ error.map("error" -> _)
      }
      val pEnd = nowMs()
      if (trace) {
        tracer.endPass(Span(passId, 0, s"pass:$kind", -1, pStart, pEnd))
        tracer.unregister()
      }
      val wall = (pEnd - pStart) / 1000.0
      passes += Map("kind" -> kind, "wall_s" -> wall, "ops" -> ops)
      System.err.println(f"[e2ebench] pass ${passes.size}%2d $kind%-9s $wall%8.3f s")
      pStart
    }

    // warm-up, which also records every op's output for the check
    runPass("warmup", Some(new File(outDir, "out_first")), trace = false)
    val jitSetupMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble

    // timed passes; setup_s ends where the first timed op starts, which is
    // after the first timed pass's cold reset and GC
    val timedPasses = math.max(1, math.ceil(seconds / workload.passSeconds).toInt)
    val firstOpMs = (1 to timedPasses).map { _ =>
      val start = runPass(if (traced) "untraced" else "timed", None, trace = false)
      if (traced) runPass("traced", None, trace = true)
      start
    }.head
    val rssMb = vmHwmMb()

    val unchecked = workload.ops.filter(_.oracle.isEmpty)
    if (unchecked.nonEmpty)
      runPass("output", Some(new File(outDir, "out_last")), trace = false, unchecked)

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload.name,
      "cores" -> cores,
      "master" -> s"local[$cores]",
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "setup_s" -> (firstOpMs - jvmStartMs) / 1000.0,
      "session_ms" -> sessionMs,
      "jit_setup_ms" -> jitSetupMs,
      "peak_rss_mb" -> rssMb,
      "ops" -> workload.ops.map(_.name),
      "oracle" -> workload.ops.flatMap(o => o.oracle.map(o.name -> _)).toMap,
      "passes" -> passes)
    if (traced) {
      val metrics = tracer.metrics(
        Map("session.start_ms" -> sessionMs, "jvm.jit_ms" -> jitSetupMs))
      result("per_layer") = metrics
      Files.writeString(new File(outDir, "trace.json").toPath, Json.write(Map(
        "workload" -> workload.name, "cores" -> cores, "per_layer" -> metrics,
        "spans" -> tracer.spans.map(_.json))))
    }
    Files.writeString(new File(outDir, "result.json").toPath, Json.write(result))
    spark.stop()
  }

  /** Peak resident set of this JVM (`VmHWM`), in MiB. */
  def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
