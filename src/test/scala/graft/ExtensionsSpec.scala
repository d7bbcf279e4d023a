package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class ExtensionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  // GraftSession.builder installs GraftExtensions itself
  lazy val spark: SparkSession = GraftSession.builder("local[2]", 2).getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("custom expressions are callable from SQL") {
    val r = spark.sql(
      """SELECT stem_dutch('lichamen beelden') AS st,
        |  strip_accents('café ë') AS sa,
        |  damerau_levenshtein('ab', 'ba') AS dl,
        |  array_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS ad""".stripMargin)
      .collect()(0)
    assert(r.getString(0) == "licham beeld")
    assert(r.getString(1) == "cafe e")
    assert(r.getInt(2) == 1)
    assert(r.getDouble(3) == 11.0)
  }

  test("SQL misuse of custom expressions fails at analysis, not runtime") {
    val e = intercept[Exception] { spark.sql("SELECT stem_dutch(42)").collect() }
    assert(e.getMessage.contains("string") || e.getMessage.contains("DATATYPE"))
    val e2 = intercept[Exception] { spark.sql("SELECT array_dot('a', 'b')").collect() }
    assert(e2.getMessage.contains("array") || e2.getMessage.contains("DATATYPE"))
  }

  test("SQL pii_redact masks every planted pattern in replacement order") {
    val r = spark.sql(
      s"""SELECT pii_redact('write bob.jones+x@mail.example.com from 192.168.0.1
         | ref 9876543210') AS red""".stripMargin.replaceAll("\n", ""))
      .collect()(0).getString(0)
    assert(r == "write <EMAIL> from <IP> ref <NUM>", r)
  }

  test("SQL quality_score equals the batch operator per document") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    Tables.documents(spark, dir).createOrReplaceTempView("docs_ext")
    val viaSql = spark.sql(
        "SELECT doc_id, quality_score(text) AS q FROM docs_ext")
      .as[(Long, Double)].collect().toMap
    val viaOp = graft.operators.TextAnalysis.qualityScore(spark, dir)
      .select($"doc_id", $"quality").as[(Long, Double)].collect()
    assert(viaOp.nonEmpty && viaOp.forall { case (id, q) => viaSql(id) == q })
  }

  test("SQL lang_id equals the batch operator per document") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    Tables.documents(spark, dir).createOrReplaceTempView("docs_ext")
    val viaSql = spark.sql("SELECT doc_id, lang_id(text) AS l FROM docs_ext")
      .as[(Long, String)].collect().toMap
    val viaOp = graft.operators.TextAnalysis.langId(spark, dir)
      .select($"doc_id", $"lang_pred").as[(Long, String)].collect()
    assert(viaOp.nonEmpty && viaOp.forall { case (id, l) => viaSql(id) == l })
  }

  test("direct Tables.events load works without prior EventOps call") {
    assert(Tables.events(spark, "/root/testdata/sf0.001").count() > 0)
  }

  test("EHR csv source reads the reference sample shape") {
    // fixture in the reference sample's shape: `;`-separated with a
    // header, 120 records, quoted texts with embedded newlines
    val df = graft.sources.EhrCsv.readEhr(spark,
      getClass.getResource("/ehr_sample.csv").getPath)
    assert(df.columns.toSeq == Seq("PATNR", "annotation", "text"))
    assert(df.count() > 100)
    assert(df.filter(df("annotation")).count() > 0)
    // a quoted newline stays inside its record instead of splitting it
    assert(df.filter(df("text").contains("\n")).count() == 12)
  }
}
