package graftbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator. Plain Spark only (no graft code): every row is
  * drawn on the driver from one `java.util.SplittableRandom(seed)`, laid
  * into a fixed number of partitions and written as parquet in the schema
  * the operators read (`documents`, `embeddings`, `events`). Part files are
  * renamed to fixed names, so one seed gives byte-identical tables.
  *
  * Usage: GenInputs <seed> <outDir>. Writes, for every workload, its
  * tables plus `props.json` under `outDir/<workload>`; `props.json` records
  * the input properties the workload's cost depends on (set values and the
  * realised ones).
  */
object GenInputs {

  /** Input shape of one workload. The seed changes the draws, never the
    * shape, so run-to-run cost differences are the engine's, not the data's.
    */
  final case class Shape(
      docs: Int,            // documents rows
      minTokens: Int,       // tokens per doc, uniform in [minTokens, maxTokens]
      maxTokens: Int,
      vocab: Int,           // Zipf-ranked vocabulary size
      zipf: Double,         // Zipf exponent over the vocabulary ranks
      oovShare: Double,     // share of tokens that are one-off rare words
      nearDupShare: Double, // share of docs that are edited copies of another doc
      prevalence: Double,   // share of docs labelled positive (lang = 'en')
      patients: Int,        // distinct `source` values (patient ids)
      docFiles: Int,        // documents parquet files (1 = a single-file snapshot)
      vectors: Int,         // embeddings rows (0 = no embeddings table)
      dim: Int,             // embedding dimension
      users: Int,           // events: distinct users (0 = no events table)
      eventsPerUser: Int)

  val shapes: Map[String, Shape] = Map(
    "ehr_pipeline" -> Shape(docs = 1300, minTokens = 40, maxTokens = 110,
      vocab = 600, zipf = 1.05, oovShare = 0.004, nearDupShare = 0.0,
      prevalence = 0.4, patients = 120, docFiles = 1,
      vectors = 0, dim = 0, users = 0, eventsPerUser = 0),
    "corpus_dedup" -> Shape(docs = 1500, minTokens = 30, maxTokens = 90,
      vocab = 1500, zipf = 1.05, oovShare = 0.02, nearDupShare = 0.15,
      prevalence = 0.4, patients = 150, docFiles = 4,
      vectors = 800, dim = 64, users = 100, eventsPerUser = 15))

  /** Head of the vocabulary: English stopwords and the word-match targets
    * ranked first, as in clinical free text; the rest are pseudo-words.
    */
  private val headWords = Seq("the", "a", "of", "and", "to", "in", "is", "with",
    "data", "spark", "query", "for", "on", "was", "no", "patient")

  private val letters = "abcdefghijklmnopqrstuvwxyz"
  private val langsNeg = Array("nl", "de", "fr", "es")
  private val eventTypes = Array("view", "click", "purchase", "signup", "error")

  def main(args: Array[String]): Unit = {
    val Array(seedArg, outDir) = args
    // The parquet writer lists each column chunk's encodings from a hash set
    // of enum constants, so the footer's byte order follows their identity
    // hash codes. Fixing those first, on the main thread, keeps it the same
    // from one run to the next.
    org.apache.parquet.column.Encoding.values().foreach(_.hashCode)
    val seed = seedArg.toLong
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench-gen")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try shapes.foreach { case (w, sh) => generate(spark, w, sh, seed, new File(outDir, w)) }
    finally spark.stop()
  }

  /** One workload's tables and `props.json` under `out`. */
  def generate(spark: SparkSession, workload: String, shape: Shape, seed: Long,
      out: File): Unit = {
    out.mkdirs()
    val props = mutable.LinkedHashMap[String, Any]("workload" -> workload, "seed" -> seed)
    if (shape.docs > 0) {
      val rng = new java.util.SplittableRandom(seed)
      val (rows, realised) = documents(shape, rng)
      write(spark, rows, docSchema, shape.docFiles, new File(out, "documents.parquet"))
      props ++= Seq("docs" -> shape.docs,
        "doc_tokens" -> Seq(shape.minTokens, shape.maxTokens),
        "vocab" -> shape.vocab, "zipf" -> shape.zipf,
        "oov_share" -> shape.oovShare, "near_dup_share" -> shape.nearDupShare,
        "prevalence" -> shape.prevalence, "patients" -> shape.patients,
        "doc_files" -> shape.docFiles) ++ realised
    }
    if (shape.vectors > 0) {
      val rng = new java.util.SplittableRandom(seed ^ 0x5DEECE66DL)
      write(spark, embeddings(shape, rng), embSchema, 1, new File(out, "embeddings.parquet"))
      props ++= Seq("vectors" -> shape.vectors, "dim" -> shape.dim)
    }
    if (shape.users > 0) {
      val rng = new java.util.SplittableRandom(seed ^ 0x2545F4914F6CDD1DL)
      write(spark, events(shape, rng), eventSchema, 1, new File(out, "events.parquet"))
      props ++= Seq("users" -> shape.users, "events_per_user" -> shape.eventsPerUser,
        "events" -> shape.users * shape.eventsPerUser)
    }
    props("bytes") = sizes(out)
    Files.writeString(new File(out, "props.json").toPath, Json.write(props))
  }

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  private def word(rng: java.util.SplittableRandom, minLen: Int, maxLen: Int): String = {
    val n = minLen + rng.nextInt(maxLen - minLen + 1)
    val sb = new StringBuilder(n)
    (0 until n).foreach(_ => sb += letters.charAt(rng.nextInt(letters.length)))
    sb.toString
  }

  /** Zipf-ranked vocabulary, per-rank cumulative weights, the documents
    * and the realised input properties.
    */
  def documents(sh: Shape, rng: java.util.SplittableRandom): (Seq[Row], Seq[(String, Any)]) = {
    val seen = mutable.LinkedHashSet[String](headWords: _*)
    while (seen.size < sh.vocab) seen += word(rng, 4, 12)
    val vocab = seen.toArray
    val cdf = new Array[Double](vocab.length)
    var acc = 0.0
    vocab.indices.foreach { r => acc += 1.0 / math.pow(r + 1, sh.zipf); cdf(r) = acc }
    def draw(): String = {
      val u = rng.nextDouble() * acc
      val i = java.util.Arrays.binarySearch(cdf, u)
      vocab(if (i >= 0) i else math.min(-i - 1, vocab.length - 1))
    }
    // label signal: positive docs draw a share of their tokens from a
    // fixed band of mid-rank words, so the classifiers have something to fit
    val signal = vocab.slice(40, 70)
    val (originals, bases) = families(sh.docs, sh.nearDupShare, rng)
    val texts = new Array[String](sh.docs)
    val labels = new Array[Boolean](sh.docs)
    var oov = 0L
    (0 until originals).foreach { i =>
      labels(i) = rng.nextDouble() < sh.prevalence
      val n = sh.minTokens + rng.nextInt(sh.maxTokens - sh.minTokens + 1)
      texts(i) = Array.fill(n) {
        val u = rng.nextDouble()
        if (u < sh.oovShare) { oov += 1; word(rng, 5, 10) }
        else if (labels(i) && u < sh.oovShare + 0.1) signal(rng.nextInt(signal.length))
        else draw()
      }.mkString(" ")
    }
    // near-duplicate families: each base gets two copies with 0-2 words
    // replaced (0 = an exact duplicate)
    bases.zipWithIndex.foreach { case (b, k) =>
      val i = originals + k
      val toks = texts(b).split(' ')
      (0 until rng.nextInt(3)).foreach(_ => toks(rng.nextInt(toks.length)) = draw())
      texts(i) = toks.mkString(" ")
      labels(i) = labels(b)
    }
    val rows = permutation(sh.docs, rng).zipWithIndex.map { case (i, id) =>
      val lang = if (labels(i)) "en" else langsNeg(rng.nextInt(langsNeg.length))
      Row(id.toLong, texts(i), lang, s"p${rng.nextInt(sh.patients)}", texts(i).length.toLong)
    }
    val realised = Seq(
      "realised_tokens" -> texts.map(_.count(_ == ' ') + 1L).sum,
      "realised_oov_tokens" -> oov,
      "realised_near_dups" -> bases.length,
      "realised_positive" -> labels.count(identity))
    (rows.toSeq, realised)
  }

  /** Label-clustered vectors with planted near-duplicate families. */
  def embeddings(sh: Shape, rng: java.util.SplittableRandom): Seq[Row] = {
    val labels = 10
    val centers = Array.fill(labels, sh.dim)(rng.nextGaussian())
    val (originals, bases) = families(sh.vectors, sh.nearDupShare, rng)
    val vecs = new Array[Array[Float]](sh.vectors)
    val lab = new Array[Int](sh.vectors)
    (0 until originals).foreach { i =>
      lab(i) = rng.nextInt(labels)
      vecs(i) = Array.tabulate(sh.dim)(d =>
        (0.5 * centers(lab(i))(d) + rng.nextGaussian()).toFloat / 8f)
    }
    bases.zipWithIndex.foreach { case (b, k) =>
      lab(originals + k) = lab(b)
      vecs(originals + k) = vecs(b).map(x => (x + 0.01 * rng.nextGaussian()).toFloat)
    }
    permutation(sh.vectors, rng).zipWithIndex.toSeq.map { case (i, id) =>
      Row(id.toLong, vecs(i).toSeq, lab(i))
    }
  }

  /** Near-duplicate layout of `n` rows: the first `originals` rows are
    * drawn fresh; row `originals + k` copies `bases(k)`. Families have three
    * members (a base and two copies) and `share` of the rows are copies, so
    * every seed plants the same number of families of the same size.
    */
  def families(n: Int, share: Double, rng: java.util.SplittableRandom): (Int, Array[Int]) = {
    val copies = 2 * math.round(n * share / 2).toInt
    val originals = n - copies
    val bases = permutation(originals, rng).take(copies / 2)
    (originals, bases.flatMap(b => Array(b, b)))
  }

  /** A seeded Fisher-Yates permutation of 0 until n. */
  def permutation(n: Int, rng: java.util.SplittableRandom): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    (n - 1 to 1 by -1).foreach { i =>
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  /** Per-user event sequences over 30 days, time-ordered by event id. */
  def events(sh: Shape, rng: java.util.SplittableRandom): Seq[Row] = {
    val start = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000L
    val span = 30L * 86400L * 1000000L
    val raw = for {
      u <- 0 until sh.users
      _ <- 0 until sh.eventsPerUser
    } yield (start + (rng.nextDouble() * span).toLong, u.toLong,
      eventTypes(rng.nextInt(eventTypes.length)),
      math.round(rng.nextDouble() * 5000) / 100.0, rng.nextInt(100))
    raw.sortBy(e => (e._1, e._2)).zipWithIndex.map { case ((us, u, t, v, k), i) =>
      val ts = new java.sql.Timestamp(us / 1000L)
      ts.setNanos(((us % 1000000L) * 1000L).toInt)
      Row(i.toLong, ts, u, t, v, s"""{"k": $k}""")
    }
  }

  /** Write `rows` as `parts` parquet files under `path`, with fixed file
    * names and no checksum or marker files. A one-part table becomes a
    * single plain file at `path`, the layout of a one-file snapshot.
    */
  def write(spark: SparkSession, rows: Seq[Row], schema: StructType, parts: Int,
      path: File): Unit = {
    val tmp = new File(path.getParentFile, path.getName + ".tmp")
    val rdd = spark.sparkContext.parallelize(rows, parts)
    spark.createDataFrame(rdd, schema).write.mode("overwrite").parquet(tmp.getPath)
    val files = tmp.listFiles().filter(f => f.getName.startsWith("part-") &&
      f.getName.endsWith(".parquet")).sortBy(_.getName)
    require(files.length == parts, s"expected $parts files under $tmp, got ${files.length}")
    if (parts == 1) {
      Files.move(files(0).toPath, path.toPath, StandardCopyOption.REPLACE_EXISTING)
    } else {
      path.mkdirs()
      files.zipWithIndex.foreach { case (f, i) =>
        Files.move(f.toPath, new File(path, f"part-$i%05d.parquet").toPath,
          StandardCopyOption.REPLACE_EXISTING)
      }
    }
    tmp.listFiles().foreach(_.delete())
    tmp.delete()
  }

  private def sizes(dir: File): Map[String, Long] =
    dir.listFiles().filter(_.getName.endsWith(".parquet")).map { f =>
      val bytes = if (f.isDirectory) f.listFiles().map(_.length).sum else f.length
      f.getName.stripSuffix(".parquet") -> bytes
    }.toMap
}
