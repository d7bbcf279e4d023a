package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The sketch family's results must not depend on how the input is laid
  * out: the same documents written as 1 file and as 7 files give the
  * same rows from every MinHash/SimHash query, batch and streaming.
  * Signatures are per-document kernels and every cross-row step is a
  * join or a distinct on values, so nothing may follow partition order.
  */
class SketchLayoutSpec extends AnyFunSuite with BeforeAndAfterAll {

  val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()

  private lazy val base = java.nio.file.Files.createTempDirectory("graft_layout_")

  override def afterAll(): Unit =
    try spark.stop()
    finally if (base.toFile.exists())
      scala.reflect.io.Directory(base.toFile).deleteRecursively()

  /** The documents table rewritten as `parts` files; returns its dir. */
  private def layout(parts: Int): String = {
    val d = base.resolve(s"parts$parts").toString
    Tables.documents(spark, dir).repartition(parts)
      .write.parquet(s"$d/documents.parquet")
    d
  }

  private lazy val dirs = Seq(1, 7).map(p => p -> layout(p))

  Seq("q_dedup_minhash", "q_dedup_simhash", "q_lsh_plan", "q_stream_incremental")
    .foreach { q =>
      test(s"$q returns the same rows from 1-file and 7-file input") {
        val rows = dirs.map { case (p, d) =>
          p -> SparkEntry.queries(q)(spark, d).collect().map(_.toString).sorted.toSeq
        }
        val (_, one) = rows.head
        assert(one.nonEmpty, s"$q returned no rows")
        rows.tail.foreach { case (p, r) =>
          assert(r == one, s"$q: ${r.size} rows from $p files vs ${one.size} from 1, " +
            s"first difference ${r.diff(one).headOption.orElse(one.diff(r).headOption)}")
        }
      }
    }
}
