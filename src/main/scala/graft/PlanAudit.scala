package graft

/** Prints formatted physical plans for headline queries — the scale
  * audit: verify pushed filters, pruned scans, broadcast joins, and
  * whole-stage-codegen coverage (SURVEY §5).
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args.drop(1).toSet else
      Set("q1_agg", "q_join_broadcast", "q_tfidf", "q_dedup_minhash",
        "q_embed_cosine_dedup", "q_embed_cosine_dedup_lsh", "q_roc_curve",
        "q_events_sessionize", "q_ann_ivf", "q_contamination_check",
        "q_span_dedup", "q_model_compare", "q_dedup_ngram_jaccard",
        "q_ml_roc_curve", "q_ml_mean_roc", "q_ann_pq", "q_embed_label_knn",
        "q_percentiles_by_source")
    // the timing mains' session, so core-count-dependent plan decisions
    // (fan-out probes) are captured at the boards' own parallelism
    val spark = BenchIntegrity.session()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.all.filter(q => names(q.name)).foreach { q =>
      println(s"\n================ ${q.name} ================")
      println(q.fn(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
