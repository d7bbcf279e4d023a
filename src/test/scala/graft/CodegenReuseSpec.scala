package graft

import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Generated code must survive from one query to the next. The ops
  * below are the notebook flow's text steps plus TF-IDF and ROC; one
  * pass over them needs more distinct generated classes than Spark's
  * default codegen cache holds (100 entries in 4 segments), so at that
  * size the repeat pass evicts and recompiles most of them. With the
  * cache sized by [[GraftSession]] and every generated source stable
  * across executions, the repeat compiles nothing. The dedup ops check
  * the same for the sketch kernels, the pair sweep and a stream drive.
  */
class CodegenReuseSpec extends AnyFunSuite with BeforeAndAfterAll {

  val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val ops = Seq("q_merge_entries", "q_clean_artefacts", "q_simple_clean",
    "q_stem_dutch", "q_stopword_filter", "q_typo_correct", "q_tfidf",
    "q_chi2_features", "q_word_match", "q_roc_curve", "q_f1_sweep")

  /** The `corpus_dedup` benchmark pass: the three dedup sketches, the
    * exact cosine pair sweep and one stream drive. */
  private val dedupOps = Seq("q_dedup_exact", "q_dedup_minhash", "q_dedup_simhash",
    "q_embed_cosine_dedup", "q_stream_dedup_exact")

  /** The typo correction and the five text-normalization heads, whose
    * output sorts plan over a single-partition exchange
    * (graft.plans.SmallSort) and whose typo step runs the nearest-word
    * kernel. */
  private val textHeads = Seq("q_typo_correct", "q_merge_entries", "q_clean_artefacts",
    "q_simple_clean", "q_stem_dutch", "q_stopword_filter")

  /** Classes compiled by one pass over `ops`, each materialized into the
    * noop sink after the cold reset every bench pass starts with.
    */
  private def pass(ops: Seq[String], dir: String = dir): Long = {
    BenchIntegrity.coldReset(spark)
    val before = GraftBridge.codegenCompiles
    ops.foreach(q =>
      SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save())
    GraftBridge.codegenCompiles - before
  }

  test("a warm repeat of the text, TF-IDF and ROC ops compiles no new classes") {
    pass(ops)
    val again = pass(ops)
    assert(again == 0, s"the repeat pass recompiled $again generated classes")
  }

  test("a warm repeat of the dedup sketches, the cosine sweep and a stream drive compiles no new classes") {
    pass(dedupOps)
    val again = pass(dedupOps)
    assert(again == 0, s"the repeat pass recompiled $again generated classes")
  }

  test("a warm repeat of the typo and text-normalization heads on the fan-out snapshot compiles no new classes") {
    // sf0.1's one-file documents snapshot is where Tables.fanOut fires
    // at local[4], so the kernels run under a fan-out exchange there
    val fanOutDir = "/root/testdata/sf0.1"
    pass(textHeads, fanOutDir)
    val again = pass(textHeads, fanOutDir)
    assert(again == 0, s"the repeat pass recompiled $again generated classes")
  }
}
