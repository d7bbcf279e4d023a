package graft

/** Time a subset of registered queries repeatedly — the isolation tool
  * for separating plan regressions from machine noise (each rep prints
  * its own wall time; variance across reps on identical plans = noise).
  * Every rep starts from [[BenchIntegrity.coldReset]], so a rep after
  * the first times the query, not its `SessionCache` memos. The host
  * load gate ([[BenchIntegrity.gate]]) runs once before the first rep
  * and prints its JSON; each rep's `TIMING` line carries the 1-minute
  * loadavg at its start, so a rep timed on a loaded host is visible as
  * one.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = BenchIntegrity.sfDir
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val wanted = args.toSet
    val known = SparkEntry.all.map(_.name).toSet
    require((wanted -- known).isEmpty,
      s"unknown queries: ${(wanted -- known).mkString(", ")}")
    val spark = BenchIntegrity.session()
    BenchIntegrity.warmUp(spark, sfDir)
    println(s"GATE ${BenchIntegrity.gate("BenchOne").json("{}")}")
    SparkEntry.all.filter(q => wanted(q.name)).foreach { q =>
      (1 to reps).foreach { r =>
        BenchIntegrity.coldReset(spark)
        val load = BenchIntegrity.loadavg()
        val t = BenchIntegrity.time(spark, q, sfDir)
        println(f"TIMING ${q.name} rep$r $t%.2f s loadavg=$load%.2f")
      }
    }
    spark.stop()
  }
}
