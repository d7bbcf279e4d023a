package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.scalatest.funsuite.AnyFunSuite

/** Pins the harness the timing mains share: the outlier rule the
  * re-measure/tagging machinery keys on, the core default, the artifact
  * writer, and the prior-artifact parsers, both against the committed
  * artifacts in the repo root and against lines the Bench and
  * ScaleBench renderers write.
  */
class BenchIntegritySpec extends AnyFunSuite {

  private val repo = new java.io.File(sys.props("user.dir"))
  private def tmp() = java.nio.file.Files.createTempDirectory("graft_bi").toFile
  private val idle = BenchIntegrity.Gate(0.5, 4.0, 0, loaded = false)
  private val marker = BenchIntegrity.Marker(0.4, 0.5)

  test("outlier: >2x AND >1s absolute, either direction") {
    assert(BenchIntegrity.outlier(8.5, 3.7))
    assert(BenchIntegrity.outlier(3.7, 8.5))
    assert(!BenchIntegrity.outlier(1.9, 1.0)) // under 2x
    assert(!BenchIntegrity.outlier(0.9, 0.3)) // 3x but sub-second delta
    assert(!BenchIntegrity.outlier(5.0, 5.0))
  }

  /** `name` from the repo root copied into `dir` as `as`, with
    * `host.cores` set to `cores` (None: removed).
    */
  private def copyWithCores(name: String, dir: java.io.File, as: String,
      cores: Option[Int]): Unit = {
    val m = new ObjectMapper()
    val t = m.readTree(new java.io.File(repo, name)).asInstanceOf[ObjectNode]
    val host = t.get("host").asInstanceOf[ObjectNode]
    cores match {
      case Some(n) => host.put("cores", n)
      case None => host.remove("cores")
    }
    m.writeValue(new java.io.File(dir, as), t)
  }

  test("priorQueries reads a committed board only at its recorded core count") {
    val sf = "/root/testdata/sf0.1"
    val dir = tmp()
    copyWithCores("bench_full_r23.json", dir, "bench_full_r23.json", None)
    copyWithCores("bench_full_r23.json", dir, "bench_full_r24.json", Some(4))
    copyWithCores("bench_full_r23.json", dir, "bench_full_r25.json", Some(32))
    // equal cores: the newest board of that count, not the newest board
    val qs = BenchIntegrity.priorQueries(dir, sf, 4)
    assert(qs.contains("q1_agg") && qs.values.forall(_ > 0))
    assert(BenchIntegrity.priorQueries(dir, sf, 32) == qs)
    // different cores, and the board without host.cores: ignored
    assert(BenchIntegrity.priorQueries(dir, sf, 8).isEmpty)
    new java.io.File(dir, "bench_full_r24.json").delete()
    assert(BenchIntegrity.priorQueries(dir, sf, 4).isEmpty)
    // SF mismatch must yield empty — a cross-scale compare would flag
    // every line
    assert(BenchIntegrity.priorQueries(dir, "/root/testdata/sf0.001", 32).isEmpty)
  }

  test("priorLadders ignores a scale artifact of another or unknown core count") {
    val dir = tmp()
    copyWithCores("bench_sf1_r23.json", dir, "bench_sf1_r23.json", Some(4))
    copyWithCores("bench_sf1_r23.json", dir, "bench_sf1_r24.json", None)
    val ls = BenchIntegrity.priorLadders(dir, 4)
    assert(ls.nonEmpty && ls == BenchIntegrity.priorLadders(repo, 4))
    assert(BenchIntegrity.priorLadders(dir, 32).isEmpty)
    new java.io.File(dir, "bench_sf1_r23.json").delete()
    assert(BenchIntegrity.priorLadders(dir, 4).isEmpty)
  }

  test("priorLadders reads the latest committed scale artifact") {
    // bench_sf1_r23.json, the first to record host.cores, ran at 4
    val ls = BenchIntegrity.priorLadders(repo, 4)
    assert(ls.nonEmpty, "expected a committed bench_sf1 artifact")
    assert(ls.keys.exists(_._1 == "deep_ladder"))
    assert(ls.keys.exists(_._1 == "quadratic_ladder"))
    assert(ls.keys.forall(_._3.matches("t[0-9]+")))
    assert(ls.values.forall(_ > 0))
  }

  test("parsers degrade to empty on a repo without artifacts") {
    val empty = tmp()
    assert(BenchIntegrity.priorQueries(empty, "x").isEmpty)
    assert(BenchIntegrity.priorLadders(empty).isEmpty)
  }

  test("cores: SPARK_GRAFT_CPUS, else the host's core count") {
    assert(BenchIntegrity.cores(Map.empty[String, String].get) ==
      Runtime.getRuntime.availableProcessors())
    assert(BenchIntegrity.cores(Map("SPARK_GRAFT_CPUS" -> "3").get) == 3)
  }

  test("artifact writer: round 1 + max BENCH_r<N>, .loaded tag, never throws") {
    val dir = tmp()
    assert(BenchIntegrity.nextRound(dir) == 0)
    for (n <- Seq("BENCH_r05.json", "BENCH_r12.json", "BENCH_r40_c8.json",
        "bench_full_r41.json"))
      java.nio.file.Files.writeString(new java.io.File(dir, n).toPath, "{}")
    assert(BenchIntegrity.nextRound(dir) == 13)
    val ok = BenchIntegrity.writeArtifact(dir, "bench_sf1", idle, "{\"a\":1}")
    assert(ok.map(_.getFileName.toString).contains("bench_sf1_r13.json"))
    assert(java.nio.file.Files.readString(ok.get) == "{\"a\":1}\n")
    val loaded = BenchIntegrity.writeArtifact(dir, "bench_sf1",
      idle.copy(loaded = true), "{}")
    assert(loaded.map(_.getFileName.toString).contains("bench_sf1_r13.loaded.json"))
    // a regular file where the repo dir should be: no child can be made
    val notADir = new java.io.File(dir, "BENCH_r05.json")
    assert(BenchIntegrity.writeArtifact(notADir, "bench_full", idle, "{}").isEmpty)
  }

  /** Top-level keys of a JSON object, and of its `host` object. */
  private def keys(json: String): (Set[String], Set[String]) = {
    val t = new ObjectMapper().readTree(json)
    def names(n: com.fasterxml.jackson.databind.JsonNode) = {
      val b = Set.newBuilder[String]
      n.fieldNames().forEachRemaining(k => b += k)
      b.result()
    }
    (names(t), Option(t.get("host")).map(names).getOrElse(Set.empty))
  }

  private def committed(name: String) =
    keys(java.nio.file.Files.readString(new java.io.File(repo, name).toPath))

  test("a Bench line reads back through priorQueries and keeps the board's keys") {
    val sf = "/data/sf0.1"
    val samples = collection.mutable.LinkedHashMap(
      "q1_agg" -> List(0.30, 0.20, 0.90), "q_tfidf" -> List(1.5), "q_broken" -> Nil)
    val line = BenchIntegrity.line(Bench.body(sf, 3, samples, Seq("q_broken")),
      4, marker, marker, idle, Map.empty)
    val dir = tmp()
    assert(BenchIntegrity.writeArtifact(dir, "bench_full", idle, line).isDefined)
    assert(BenchIntegrity.priorQueries(dir, sf, 4) == Map("q1_agg" -> 0.3, "q_tfidf" -> 1.5))
    val (top, host) = keys(line)
    val (prevTop, prevHost) = committed("bench_full_r23.json")
    assert(prevTop.subsetOf(top) && prevHost.subsetOf(host) && host("cores"))
    assert(new ObjectMapper().readTree(line).get("host").get("cores").asInt() == 4)
  }

  test("a ScaleBench line reads back through priorLadders and keeps the sf1 keys") {
    val runs: Seq[ScaleBench.Run] = Seq(
      "q1_agg" -> Right(Seq(1 -> 0.5, 10 -> 1.0, 30 -> 2.0)),
      "q_tfidf" -> Right(Seq(1 -> 1.0, 10 -> 4.0)),
      "q_embed_cosine_dedup" -> Right(Seq(1 -> 1.0, 2 -> 2.5, 3 -> 3.0, 10 -> 20.0)),
      "q_dedup_simhash" -> Left("IllegalStateException"),
      // no corpus of its deep rungs present: left out of the view
      "q_winnow_pairs" -> Right(Nil))
    val dupRuns: Seq[ScaleBench.Run] =
      Seq("q_embed_cosine_dedup_lsh" -> Right(Seq(1 -> 0.4, 10 -> 4.4)))
    val line = BenchIntegrity.line(ScaleBench.body("/b", runs, dupRuns, Nil),
      4, marker, marker, idle, Map.empty)
    val dir = tmp()
    assert(BenchIntegrity.writeArtifact(dir, "bench_sf1", idle, line).isDefined)
    val ls = BenchIntegrity.priorLadders(dir, 4)
    assert(ls(("queries", "q_tfidf", "t10")) == 4.0)
    assert(ls(("queries", "q1_agg", "t1")) == 0.5)
    assert(ls(("deep_ladder", "q1_agg", "t30")) == 2.0)
    assert(ls(("quadratic_ladder", "q_embed_cosine_dedup", "t2")) == 2.5)
    assert(ls(("dup_ladder", "q_embed_cosine_dedup_lsh", "t10")) == 4.4)
    // ratio rows and ladder views come from the same points
    assert(!ls.contains(("deep_ladder", "q_tfidf", "t10")))
    assert(!ls.contains(("quadratic_ladder", "q1_agg", "t10")))
    assert(!ls.keys.exists(k => k._2 == "q_dedup_simhash" || k._2 == "q_winnow_pairs"))
    val (top, host) = keys(line)
    val (prevTop, prevHost) = committed("bench_sf1_r20.json")
    assert(prevTop.subsetOf(top) && prevHost.subsetOf(host) && host("cores"))
  }
}
