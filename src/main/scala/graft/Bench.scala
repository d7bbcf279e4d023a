package graft

import BenchIntegrity.fmt

/** Scoreboard benchmark. One JSON line: per-query MEDIAN-of-3 wall
  * times (noise immunity — a single loaded-host outlier can fabricate a
  * 6× "regression" on any query, or mask a real one), plus a selective
  * spread map so a noisy measurement is visible as noisy.
  *
  * Rep semantics: pass 1 runs the FULL registry cold, in SURVEY §2
  * order — byte-identical semantics to earlier rounds' single-shot
  * numbers. Passes 2-3 re-run only the REPEATABLE queries: operators
  * registered with `singleShot = true` (their first run installs
  * [[SessionCache]] state — a warm rep would time the memo, not the
  * plan, and a median over {cold, warm, warm} would report the cache)
  * get one cold rep only; they are the expensive ML heads, so the 3×
  * cost lands only on the cheap tail. Reps are full passes (not
  * back-to-back per query) so the three samples are temporally
  * separated — a load spike hits one pass, not all three reps of the
  * same query.
  *
  * The JSON line is self-describing about both caveats: `n_reps` gives
  * the sample count behind EVERY per-query number (1 = single-shot
  * cold, `reps` = median; also exposes rep-level failures as a lower
  * count), `single_shot` names the one-cold-rep registry entries, and
  * `cold` carries each repeatable query's pass-1 time next to its
  * median (so cross-round comparisons can anchor on cold-vs-cold —
  * warm medians benefit from page cache and JIT).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = BenchIntegrity.sfDir
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // integrity gate BEFORE the session spins up executors: wait out a
    // loaded host (bounded), else tag the artifact .loaded
    val gate = BenchIntegrity.gate("bench")
    val spark = BenchIntegrity.session()
    val start = BenchIntegrity.warmUp(spark, sfDir)

    val failed = scala.collection.mutable.ListBuffer[String]()
    def time(q: GraftQuery): Option[Double] =
      try Some(BenchIntegrity.time(spark, q, sfDir))
      catch {
        case e: Throwable =>
          failed += q.name
          System.err.println(s"[bench] ${q.name} FAILED: ${e.getMessage}")
          None
      }

    // pass 1: everything, cold, registry order (comparable across rounds).
    // PREPEND per pass — head of each list is the latest sample, LAST
    // element is always the pass-1 cold time.
    val samples = scala.collection.mutable.LinkedHashMap[String, List[Double]]()
    SparkEntry.all.foreach(q => samples(q.name) = time(q).toList)
    // passes 2..reps: repeatable subset only (registry metadata, not a
    // name heuristic), skipping pass-1 failures
    val again = SparkEntry.all.filter(q =>
      !q.singleShot && samples(q.name).nonEmpty)
    (2 to reps).foreach { _ =>
      again.foreach(q => time(q).foreach(t => samples(q.name) ::= t))
    }

    // single-shot cross-check: a one-cold-rep line has no in-run median
    // to defend it, so compare it against the prior round's committed
    // artifact; a >2× deviation (either direction, >1 s absolute) gets
    // ONE cold re-measure after a SessionCache cold-reset, and the
    // committed value is the min of the two cold samples. Bounded: at
    // most 8 re-measures per run. This is the machinery that would have
    // caught the r18 q_dedup_clusters 8.5 s phantom (true idle-host
    // cold time ~6.4 s) before it was committed.
    val prior = BenchIntegrity.priorQueries(BenchIntegrity.repoDir, sfDir)
    val remeasured = scala.collection.mutable.LinkedHashMap[String, (Double, Double)]()
    SparkEntry.all.filter(q => q.singleShot && samples(q.name).size == 1)
      .foreach { q =>
        val t = samples(q.name).head
        prior.get(q.name).foreach { p =>
          if (BenchIntegrity.outlier(t, p) && remeasured.size < 8) {
            System.err.println(f"[bench] single-shot ${q.name} $t%.2f s vs " +
              f"prior $p%.2f s (>2x) — cold re-measure")
            BenchIntegrity.coldReset(spark)
            time(q).foreach { t2 =>
              remeasured(q.name) = (t, t2)
              samples(q.name) = List(math.min(t, t2))
            }
          }
        }
      }
    BenchIntegrity.finish(spark, "bench_full",
      body(sfDir, reps, samples, failed.toSeq), gate, start, remeasured)
    spark.stop()
  }

  /** The board's own JSON fields (no braces) from each query's samples,
    * latest first and pass-1 cold last; `failed` names the queries that
    * threw in some pass.
    */
  def body(sfDir: String, reps: Int, samples: collection.Map[String, List[Double]],
      failed: Seq[String]): String = {
    def median(xs: List[Double]): Double = {
      val s = xs.sorted
      s(s.size / 2) // odd rep counts; best-of-center for even
    }
    def names(ns: Iterable[String]) = ns.map("\"" + _ + "\"").mkString("[", ",", "]")
    val meds = samples.collect { case (k, xs) if xs.nonEmpty => k -> median(xs) }
    val qs = meds.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // pass-1 cold time for every multi-rep query (for single-shot ones
    // the median IS the cold time): cold-vs-cold is the cross-round
    // anchor — warm medians benefit from OS page cache and JIT
    val colds = samples.collect { case (k, xs) if xs.size > 1 =>
      s"\"" + k + "\":" + fmt(xs.last)
    }.mkString("{", ",", "}")
    // spread (max-min over reps) only where it is material (>25% of the
    // median AND >0.5 s absolute — sub-second queries jitter relatively
    // without mattering): flags which numbers were measured under load
    // without doubling the line for the quiet majority
    val spread = samples.collect {
      case (k, xs) if xs.size > 1 && (xs.max - xs.min) > 0.25 * median(xs) &&
          (xs.max - xs.min) > 0.5 =>
        s"\"" + k + "\":" + fmt(xs.max - xs.min)
    }.mkString("{", ",", "}")
    val total = meds.values.sum
    // the one-cold-rep names ride the line so their numbers are
    // self-describing as single-shot (load-sensitive) without reading
    // this source
    val oneShot = names(SparkEntry.all.filter(_.singleShot).map(_.name))
    // per-query sample count: the reader's direct answer to "is this a
    // median or one cold shot?" (and a lower-than-reps count flags a
    // query that failed some passes)
    val nreps = samples.collect { case (k, xs) if xs.nonEmpty =>
      s"\"" + k + "\":" + xs.size
    }.mkString("{", ",", "}")
    // failed names ride the JSON line: a swallowed exception otherwise
    // reads as a suspiciously fast query instead of a broken one
    val errs = names(failed.distinct)
    // noisy-run self-identification: queries whose rep spread exceeds
    // the median itself were measured under contention — name them so
    // a reader separates noise from regression without re-running
    val noisy = samples.collect {
      case (k, xs) if xs.size > 1 && (xs.max - xs.min) > median(xs) &&
          (xs.max - xs.min) > 1.0 => k
    }.toList
    if (noisy.nonEmpty) System.err.println(
      s"[bench] WARNING: rep spread exceeded the median on ${noisy.size} " +
        s"queries (${noisy.mkString(", ")}) — host was loaded; treat " +
        "their medians as upper bounds")
    s""""metric":"total","value":${fmt(total)},"unit":"sec","reps":$reps,"queries":$qs,"n_reps":$nreps,"cold":$colds,"spread":$spread,"single_shot":$oneShot,"errors":$errs,"noisy":${names(noisy)},"sf":"$sfDir""""
  }
}
