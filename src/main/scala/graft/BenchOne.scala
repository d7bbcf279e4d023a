package graft

import org.apache.spark.sql.SparkSession

/** Time a subset of registered queries repeatedly — the isolation tool
  * for separating plan regressions from machine noise (each rep prints
  * its own wall time; variance across reps on identical plans = noise).
  * Every rep starts from [[BenchIntegrity.coldReset]], so a rep after
  * the first times the query, not its `SessionCache` memos.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(s"$sfDir/region.parquet").count()
    val wanted = args.toSet
    val known = SparkEntry.all.map(_.name).toSet
    require((wanted -- known).isEmpty,
      s"unknown queries: ${(wanted -- known).mkString(", ")}")
    SparkEntry.all.filter(q => wanted(q.name)).foreach { q =>
      (1 to reps).foreach { r =>
        BenchIntegrity.coldReset(spark)
        val t0 = System.nanoTime()
        q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        println(f"TIMING ${q.name} rep$r ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    spark.stop()
  }
}
