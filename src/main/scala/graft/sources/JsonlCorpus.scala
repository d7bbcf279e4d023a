package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JSONL corpus source/sink — the de-facto interchange format for
  * training-data pipelines (one JSON document per line).
  *
  * Read is single-pass: an explicit schema skips the sampling job a
  * schema-inference read would need (at 100 TB that job alone reads
  * terabytes), and malformed lines land in a `_corrupt` column instead
  * of failing the scan, so a corpus sweep can quarantine bad shards and
  * keep going. Write shards by a stable hash of doc_id so re-runs
  * produce identical file contents at a chosen shard count.
  */
object JsonlCorpus {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("_corrupt", StringType)))

  /** Read a JSONL document corpus with quarantine semantics: well-formed
    * rows parse into typed columns, malformed lines arrive whole in
    * `_corrupt` (PERMISSIVE mode) for a downstream quality gate.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(docSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(path)

  /** Split a quarantined read into (clean, corrupt) frames and run
    * `body` on them. The parsed frame is pinned for the length of
    * `body`: Spark refuses scans whose only referenced column is the
    * corrupt-record column (the parser would have nothing to fail on),
    * and the pin also means the two branches share one parse of the
    * input. The pin ends with `body`, so a sweep over many shards holds
    * one parse at a time.
    */
  def quarantine[T](df: DataFrame)(body: (DataFrame, DataFrame) => T): T =
    graft.Tables.pinned(df) { parsed =>
      body(parsed.where(col("_corrupt").isNull).drop("_corrupt"),
        parsed.where(col("_corrupt").isNotNull).select(col("_corrupt")))
    }

  /** Write a corpus as deterministic JSONL shards: repartition by a hash
    * of doc_id (stable shard membership, independent of upstream
    * partitioning) then sort within each shard so file contents are
    * byte-reproducible run over run.
    */
  def write(df: DataFrame, path: String, shards: Int): Unit =
    df.repartition(shards, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .write.mode(SaveMode.Overwrite)
      .json(path)
}
