package graft

import graft.sources.{JsonlCorpus, OrcCorpus, PartitionedCorpus}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class SourcesSpec extends AnyFunSuite with BeforeAndAfterAll {

  val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("jsonl round-trip preserves the corpus") {
    import spark.implicits._
    val out = "/tmp/graft_jsonl_rt"
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", $"text", $"lang", $"source")
    JsonlCorpus.write(docs, out, shards = 4)
    val back = JsonlCorpus.read(spark, out)
    val (nCorrupt, nClean, b) = JsonlCorpus.quarantine(back) { (clean, corrupt) =>
      (corrupt.count(), clean.count(), clean.select($"doc_id", $"text", $"lang", $"source")
        .as[(Long, String, String, String)].collect().toSet)
    }
    assert(nCorrupt == 0)
    assert(nClean == docs.count())
    val a = docs.as[(Long, String, String, String)].collect().toSet
    assert(a == b)
  }

  test("orc round-trip preserves the corpus and pushes filters into the scan") {
    import spark.implicits._
    val out = "/tmp/graft_orc_rt"
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", $"text", $"lang", $"source")
    OrcCorpus.write(docs, out, shards = 4)
    val back = OrcCorpus.read(spark, out)
    val a = docs.as[(Long, String, String, String)].collect().toSet
    val b = back.select($"doc_id", $"text", $"lang", $"source")
      .as[(Long, String, String, String)].collect().toSet
    assert(a == b)
    // predicate + column pushdown reach the ORC scan
    val plan = back.where($"doc_id" >= 100).select($"doc_id", $"lang")
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(doc_id,100)"), plan.take(2000))
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,lang:string>"),
      plan.take(2000))
  }

  test("lang-partitioned layout prunes directories, not just row groups") {
    import spark.implicits._
    val out = "/tmp/graft_part_rt"
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", $"text", $"lang", $"source")
    PartitionedCorpus.write(docs, out, "lang", shards = 3)
    val back = PartitionedCorpus.read(spark, out)
    // round trip (partition column comes back from the directory names)
    val a = docs.as[(Long, String, String, String)].collect().toSet
    val b = back.select($"doc_id", $"text", $"lang", $"source")
      .as[(Long, String, String, String)].collect().toSet
    assert(a == b)
    // the slice filter becomes a PARTITION filter on the scan ...
    val sliced = back.where($"lang" === "en")
    val scans = sliced.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
      "lang = 'en' did not reach the scan as a partition filter")
    // ... and the executed scan READS only the one directory's files:
    // the numFiles metric after execution counts post-pruning files
    // (inputFiles on the DataFrame is a relation property and ignores
    // filters, so the runtime metric is the honest check)
    // collect() executes sliced's own queryExecution, so its scan
    // metrics are populated (count() would plan a separate query)
    assert(sliced.collect().length == docs.where($"lang" === "en").count())
    val execScans = sliced.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    val readFiles = execScans.map(_.metrics("numFiles").value).sum
    val totalFiles = back.inputFiles.length.toLong
    val enFiles = back.inputFiles.count(_.contains("lang=en")).toLong
    assert(readFiles == enFiles && readFiles < totalFiles,
      s"scan read $readFiles files; expected the $enFiles en files of $totalFiles")
  }

  test("registered bucketed join: fact sides read exchange-free under forced SMJ") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
      val df = SparkEntry.queries("q_bucketed_join")(spark, dir)
      def unwrap(p: SparkPlan): SparkPlan = p match {
        case a: AdaptiveSparkPlanExec => unwrap(a.initialPlan)
        case q: QueryStageExec => unwrap(q.plan)
        case other => other
      }
      val root = unwrap(df.queryExecution.executedPlan)
      val smj = root.collect { case j: SortMergeJoinExec => j }
      assert(smj.size == 1, s"expected one sort-merge join:\n$root")
      // NEITHER side shuffles: both tables were written bucketed on the
      // join key — the pre-shuffle the layout exists for
      smj.foreach { j =>
        assert(j.left.collect { case e: ShuffleExchangeExec => e }.isEmpty &&
          j.right.collect { case e: ShuffleExchangeExec => e }.isEmpty,
          s"bucketed join side re-shuffles:\n$j")
      }
      assert(root.toString.contains("Bucketed: true"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("registered EHR round-trip preserves types through the reference CSV shape") {
    import spark.implicits._
    val got = SparkEntry.queries("q_source_ehr_roundtrip")(spark, dir)
    assert(got.schema.map(f => (f.name, f.dataType.typeName)) ==
      Seq(("PATNR", "double"), ("annotation", "boolean"), ("text", "string")))
    val rows = got.as[(Double, Boolean, String)].collect()
    val want = Tables.documents(spark, dir)
      .select($"doc_id".cast("double"), $"lang" === "en", $"text")
      .as[(Double, Boolean, String)].collect().sortBy(_._1)
    assert(rows.nonEmpty && rows.sortBy(_._1).sameElements(want))
  }

  test("jsonl quarantine isolates malformed lines without failing the scan") {
    val out = "/tmp/graft_jsonl_bad"
    val d = new java.io.File(out)
    d.mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$out/shard0.jsonl"),
      """{"doc_id": 1, "text": "ok row", "lang": "en", "source": "s"}
        |this line is not json
        |{"doc_id": 2, "text": "also ok", "lang": "nl", "source": "s"}
        |""".stripMargin)
    val (nClean, nCorrupt) = JsonlCorpus.quarantine(JsonlCorpus.read(spark, out)) {
      (clean, corrupt) => (clean.count(), corrupt.count())
    }
    assert(nClean == 2)
    assert(nCorrupt == 1)
  }
}
