package graft.sources

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** REGISTERED source/sink round-trips (SURVEY §2.I) — promoting the
  * format components from spec-only into the driver's oracle gate
  * (round 15): each query writes the documents corpus through a graft
  * sink into a pid-scoped scratch directory, reads it back through the
  * matching graft source, and returns the rows — the ORACLE is plain
  * SQL over the original parquet table, so a hash match proves the
  * sink→source round-trip VALUE-EXACT (types, encodings, quarantine
  * path, partition-directory layout), not just row-counted. Overwrite
  * sinks make every query idempotent; paths are pid-scoped (the
  * GraftSession warehouse convention) so concurrent runs cannot
  * clobber each other.
  */
object SourceQueries {

  private def scratch(name: String): String =
    s"/tmp/graft_srcq_${ProcessHandle.current().pid()}/$name"

  /** JSONL sink → quarantined JSONL source: deterministic shards out,
    * PERMISSIVE schema-first read back (zero corrupt rows on a clean
    * write — the quarantine split runs for real and its clean branch is
    * what the oracle checks). n_chars is not part of the JSONL
    * interchange schema, so the round-trip carries the four document
    * columns.
    */
  def jsonlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = scratch("jsonl")
    JsonlCorpus.write(
      Tables.documents(s, dir).select($"doc_id", $"text", $"lang", $"source"),
      path, shards = 4)
    // the clean branch inline (corrupt-column NULL filter) rather than
    // JsonlCorpus.quarantine: quarantine's pin ends with its body, and
    // this query returns a lazy plan that would read the parse again
    JsonlCorpus.read(s, path)
      .where($"_corrupt".isNull)
      .select($"doc_id", $"text", $"lang", $"source").orderBy($"doc_id")
  }

  val jsonlRoundtripSql: String =
    """SELECT doc_id, text, lang, source FROM documents ORDER BY doc_id"""

  /** ORC sink → ORC source: the columnar round-trip with the full
    * document schema (ORC preserves every type).
    */
  def orcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = scratch("orc")
    OrcCorpus.write(Tables.documents(s, dir), path, shards = 4)
    OrcCorpus.read(s, path)
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
      .orderBy($"doc_id")
  }

  val orcRoundtripSql: String =
    """SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id"""

  /** Hive-partitioned layout → pruned slice read: the corpus lands one
    * directory per lang, and the registered read filters lang = 'en' —
    * the filter becomes DIRECTORY pruning (PartitionFilters; the other
    * languages' files are never listed or opened — SourcesSpec asserts
    * the executed scan's numFiles), and the oracle checks the slice's
    * VALUES including the partition column round-tripping through its
    * directory encoding.
    */
  def partitionedPrune(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = scratch("partitioned")
    PartitionedCorpus.write(Tables.documents(s, dir), path, "lang", shards = 4)
    PartitionedCorpus.read(s, path)
      .where($"lang" === "en")
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
      .orderBy($"doc_id")
  }

  val partitionedPruneSql: String =
    """SELECT doc_id, text, lang, source, n_chars FROM documents
      |WHERE lang = 'en' ORDER BY doc_id""".stripMargin

  /** The REFERENCE'S OWN interchange format round-tripped: documents
    * re-shaped to the `;`-separated EHR schema (PATNR double,
    * annotation boolean, text — notebook cell 4's dummydata.csv),
    * written through [[EhrCsv.writeEhr]] and read back through
    * [[EhrCsv.readEhr]]'s explicit schema — CSV quoting, the double
    * and boolean encodings, and the single-pass schema-first read all
    * proven value-exact by the hash gate.
    */
  def ehrRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = scratch("ehr")
    EhrCsv.writeEhr(
      Tables.documents(s, dir).select(
        $"doc_id".cast("double").as("PATNR"),
        ($"lang" === "en").as("annotation"),
        $"text"),
      path)
    EhrCsv.readEhr(s, path)
      .select($"PATNR", $"annotation", $"text")
      .orderBy($"PATNR")
  }

  val ehrRoundtripSql: String =
    """SELECT CAST(doc_id AS DOUBLE) AS PATNR, (lang = 'en') AS annotation, text
      |FROM documents ORDER BY PATNR""".stripMargin

  /** Bucketed CO-LOCATED join REGISTERED: orders and customer land as
    * bucketed+sorted tables on the join key (the pre-shuffle), the
    * revenue rollup joins them exchange-free on the fact sides — and
    * the ORACLE IS THE PLAIN JOIN SQL, so the hash gate proves the
    * physical bucketing invisible (the q_skew_join convention for
    * physical optimizations). SourcesSpec pins the exchange-free SMJ
    * under a forced no-broadcast conf; revenue aggregates as DECIMAL
    * so bucket-parallel accumulation cannot move a double ulp.
    */
  def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").saveAsTable("q_bkt_orders")
    Tables.customer(s, dir)
      .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
      .mode("overwrite").saveAsTable("q_bkt_customer")
    s.table("q_bkt_orders")
      .join(s.table("q_bkt_customer"), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(
        sum($"o_totalprice".cast("decimal(28,6)")).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy($"c_mktsegment")
  }

  val bucketedJoinSql: String =
    """SELECT c_mktsegment,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
      |  count(*) AS n_orders
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** The SQL SURFACE itself REGISTERED: the graft function catalog
    * (GraftExtensions) drives a plain spark.sql query — tokenize_ws,
    * the composed quality_score / lang_id curation scalars, and the
    * pii_redact fold (PII planted on doc_id < 5, the q_pii_redact
    * convention, so the rules fire) — and the ORACLE re-derives every
    * column in DuckDB, so the SQL-registered expressions are
    * hash-checked end-to-end, not just spec-compared to their batch
    * twins. The functions come from the session itself:
    * [[graft.GraftSession.builder]] installs the extensions.
    */
  def sqlSurface(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir).createOrReplaceTempView("graft_docs_sql")
    s.sql(s"""
      SELECT doc_id,
        CAST(size(tokenize_ws(text)) AS BIGINT) AS n_tokens,
        quality_score(text) AS quality,
        lang_id(text) AS lang_pred,
        pii_redact(CASE WHEN doc_id < 5
          THEN concat(text, '${graft.operators.TextAnalysis.plantedPii}')
          ELSE text END) AS redacted
      FROM graft_docs_sql ORDER BY doc_id""")
  }

  val sqlSurfaceSql: String = {
    import graft.operators.TextAnalysis
    val redact = TextAnalysis.piiPatterns.scanLeft("t") { case (e, (_, pat, rep)) =>
      s"regexp_replace($e, '$pat', '$rep', 'g')"
    }.last
    val langUnions = TextAnalysis.langProfiles.map { case (lang, words) =>
      val lst = words.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""SELECT doc_id, '$lang' AS cand,
         |  CAST(len(list_filter(toks, t -> list_contains($lst, t))) AS DOUBLE)
         |    / len(toks) AS score FROM qd""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${TextAnalysis.qualityCtesSql},
       |pt AS (
       |  SELECT doc_id,
       |    text || (CASE WHEN doc_id < 5
       |      THEN '${TextAnalysis.plantedPii}' ELSE '' END) AS t
       |  FROM documents),
       |sc AS ($langUnions),
       |lp AS (
       |  SELECT doc_id, cand AS lang_pred FROM (
       |    SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
       |      ORDER BY score DESC, cand ASC) AS INT) AS rk FROM sc) z
       |  WHERE rk = 1)
       |SELECT qm.doc_id, qm.n_tokens,
       |  ${TextAnalysis.qualitySqlExpr("qm.n_tokens", "qm.stop_ratio", "qm.punct_ratio")}
       |    AS quality,
       |  lp.lang_pred, $redact AS redacted
       |FROM qm JOIN lp USING (doc_id) JOIN pt USING (doc_id)
       |ORDER BY qm.doc_id""".stripMargin
  }

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("q_sql_surface", sqlSurface, Some(sqlSurfaceSql)),
    GraftQuery("q_source_jsonl_roundtrip", jsonlRoundtrip, Some(jsonlRoundtripSql)),
    GraftQuery("q_source_orc_roundtrip", orcRoundtrip, Some(orcRoundtripSql)),
    GraftQuery("q_partitioned_prune", partitionedPrune, Some(partitionedPruneSql)),
    GraftQuery("q_source_ehr_roundtrip", ehrRoundtrip, Some(ehrRoundtripSql)),
    GraftQuery("q_bucketed_join", bucketedJoin, Some(bucketedJoinSql)))
}
