package graft

import graft.functions.{DamerauLevenshtein, DutchStemmer, StripAccents, GraftExpressions => GE}
import graft.operators.Dedup
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class FunctionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.builder("local[2]", 2).getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("OSA Damerau-Levenshtein distances") {
    assert(DamerauLevenshtein.osa("", "") == 0)
    assert(DamerauLevenshtein.osa("abc", "") == 3)
    assert(DamerauLevenshtein.osa("", "ab") == 2)
    assert(DamerauLevenshtein.osa("kitten", "sitting") == 3)
    assert(DamerauLevenshtein.osa("ab", "ba") == 1)     // transposition
    assert(DamerauLevenshtein.osa("ca", "abc") == 3)    // OSA, not true DL (=2)
    assert(DamerauLevenshtein.osa("abcd", "abcd") == 0)
  }

  test("StripAccents drops diacritics and non-ascii (NFD + ascii-ignore)") {
    assert(StripAccents.strip("café") == "cafe")
    assert(StripAccents.strip("héllo ë ï ö ü") == "hello e i o u")
    assert(StripAccents.strip("plain") == "plain")
    assert(StripAccents.strip("naïve ß") == "naive ") // ß has no NFD ascii form
  }

  test("Dutch Snowball stemmer vectors (published algorithm examples)") {
    // vectors from the public snowball vocabulary list
    val cases = Map(
      "lichamelijk" -> "licham",
      "lichamelijke" -> "licham",
      "lichamen" -> "licham",
      "lichaam" -> "licham",
      "beelden" -> "beeld",
      "gekken" -> "gek",  // en-removal then kk undouble
      "ogen" -> "ogen",   // adjusted R1 (min 3 letters) blocks the en-removal
      "bedelen" -> "bedel",
      "bed" -> "bed",
      "gemeenheden" -> "gemen", // heden→heid, heid dropped in R2, ee undoubled
      "aandeel" -> "aandel")
    cases.foreach { case (in, want) =>
      assert(DutchStemmer.stem(in) == want, s"stem($in)")
    }
  }

  test("stemText preserves token structure") {
    assert(DutchStemmer.stemText("lichamen beelden") == "licham beeld")
    assert(DutchStemmer.stemText("") == "")
  }

  // ---- sketch kernels against the declarative forms they replace ----

  /** Token arrays at the kernels' edges: empty, 1-3 tokens, repeated
    * shingles, multi-byte UTF-8, the empty string, a null token and a
    * null array.
    */
  private val tokenCases: Seq[Seq[String]] = Seq(
    Seq(), Seq("a"), Seq("a", "b"), Seq("a", "b", "c"),
    Seq("a", "b", "c", "a", "b", "c", "a", "b", "c"),
    Seq("héllo", "wörld", "日本語", "🙂", "héllo", "wörld", "日本語"),
    Seq(""), Seq("", "x", "", "x", ""), Seq("a", null, "b", "c"), null)

  /** (id, toks) from an RDD, so the projection runs in the executor
    * (a local relation would be folded on the driver, interpreted).
    */
  private def tokenFrame: DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(
      tokenCases.zipWithIndex.map { case (t, i) => Row(i, t) }, 2),
    StructType(Seq(StructField("id", IntegerType),
      StructField("toks", ArrayType(StringType, containsNull = true)))))

  /** Runs `body` under whole-stage codegen with codegen-only projections,
    * then fully interpreted.
    */
  private def inBothModes(body: => Unit): Unit = Seq(
    "codegen" -> Seq("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
    "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")).foreach { case (mode, confs) =>
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      withClue(s"[$mode] ")(body)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Rows where the kernel column and its reference differ. */
  private def mismatches(df: DataFrame, kernel: Column, reference: Column): Seq[Row] =
    df.select(col("id"), kernel.as("k"), reference.as("r")).collect().toSeq
      .filter(r => r.get(1) != r.get(2))

  private def hashRef(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** The per-n transform/slice/array_join form of word n-grams. */
  private def ngramsRef(toks: Column, n: Int): Column =
    filter(
      transform(toks, (_, i) =>
        when(i + n <= size(toks), array_join(slice(toks, i + 1, lit(n)), " "))),
      g => g.isNotNull)

  test("WordNGrams equals the transform/slice/array_join form") {
    val t = col("toks")
    inBothModes {
      val df = tokenFrame
      assert(mismatches(df, GE.wordNGrams(t, 3, 3, distinct = true),
        array_distinct(ngramsRef(t, 3))).isEmpty)
      assert(mismatches(df, GE.wordNGrams(t, 1, 3, distinct = false),
        flatten(array((1 to 3).map(ngramsRef(t, _)): _*))).isEmpty)
      assert(mismatches(df, GE.wordNGrams(t, 2, 2, distinct = false),
        ngramsRef(t, 2)).isEmpty)
      val first = df.where(col("id") === 4)
        .select(GE.wordNGrams(t, 3, 3, distinct = true)).head().getSeq[String](0)
      assert(first == Seq("a b c", "b c a", "c a b"), "distinct keeps first occurrences")
    }
  }

  test("Hash60 equals the md5 hex-prefix conv chain") {
    val rnd = new scala.util.Random(60)
    val alphabet = "abcxyz 09-é日🙂"
    val strings = Seq("", null, "a", "héllo wörld") ++ (0 until 300).map(_ =>
      Seq.fill(rnd.nextInt(24))(alphabet(rnd.nextInt(alphabet.length))).mkString)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(strings.zipWithIndex.map { case (v, i) => Row(i, v) }, 2),
      StructType(Seq(StructField("id", IntegerType), StructField("s", StringType))))
    inBothModes {
      assert(mismatches(df, Dedup.hash60(col("s")), hashRef(col("s"))).isEmpty)
    }
  }

  test("MinHashSig equals the per-hash array_min form and is null without shingles") {
    val sh = array_distinct(ngramsRef(col("toks"), 3))
    val reference = when(size(sh) > 0, array(Dedup.hashParams.map { case (_, a, b) =>
      array_min(transform(sh, s => (lit(a) * (hashRef(s) % Dedup.P) + lit(b)) % Dedup.P))
    }: _*))
    inBothModes {
      val df = tokenFrame
      assert(mismatches(df, GE.minhashSig(sh), reference).isEmpty)
      val nulls = df.where(GE.minhashSig(sh).isNull).select(col("id"))
        .collect().map(_.getInt(0)).toSet
      assert(nulls == Set(0, 1, 2, 6, 9), "short, empty and null arrays have no signature")
    }
  }

  test("SimHash equals the grouped tf-weighted bit-count form") {
    import spark.implicits._
    def bitSign(j: Int): Column =
      shiftright($"x", j).bitwiseAND(lit(1L)) * 2 - 1
    inBothModes {
      val df = tokenFrame
      val tf = df.select($"id", explode($"toks").as("token"))
        .groupBy($"id", $"token").agg(count(lit(1)).as("tf"))
        .select($"id", $"tf", hashRef($"token").as("x"))
      val w = (0 until 60).map(j => sum($"tf" * bitSign(j)).as(s"w$j"))
      val grouped = tf.groupBy($"id").agg(w.head, w.tail: _*)
        .select($"id", (0 until 60).map(j =>
          when(col(s"w$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _).as("fp"))
      val reference = df.select($"id").join(grouped, Seq("id"), "left")
        .as[(Int, Option[Long])].collect().toMap
      val kernel = df.select($"id", GE.simHash($"toks"))
        .as[(Int, Option[Long])].collect().toMap
      assert(kernel == reference)
      assert(kernel.collect { case (i, None) => i }.toSet == Set(0, 9),
        "empty and null arrays have no fingerprint")
    }
  }

  test("NearestWord equals the cross-join row_number form") {
    import spark.implicits._
    val rnd = new scala.util.Random(39)
    def draw(alphabet: String, maxLen: Int): String =
      Seq.fill(1 + rnd.nextInt(maxLen))(alphabet(rnd.nextInt(alphabet.length))).mkString
    // a two-letter alphabet makes equal-distance ties common; the
    // multi-byte one puts 2-, 3- and 4-byte code points in both sides
    val vocabs: Seq[(String, Seq[String])] = Seq(
      "random" -> Seq.fill(80)(draw("abcdefgh", 9)).distinct,
      "ties" -> Seq.fill(40)(draw("ab", 6)).distinct,
      "utf8" -> Seq.fill(40)(draw("aé日🙂b", 6)).distinct,
      "fixed" -> Seq("abd", "xbc", "abe", "abc"),
      "empty" -> Seq.empty)
    val rows = vocabs.zipWithIndex.flatMap { case ((kind, vocab), k) =>
      val alphabet = kind match {
        case "ties" => "ab"
        case "utf8" => "aé日🙂b"
        case _ => "abcdefgh"
      }
      // vocabulary entries themselves are among the words: distance 0
      val words = (Seq.fill(60)(draw(alphabet, 9)) ++ vocab.take(5) ++ Seq("abc", "abx")).distinct
      words.zipWithIndex.map { case (w, i) => Row(k * 1000 + i, w, vocab) }
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("id", IntegerType), StructField("word", StringType),
        StructField("vocab", ArrayType(StringType, containsNull = false)))))
    val idOf = rows.map(r => (r.getInt(0) / 1000, r.getString(1)) -> r.getInt(0)).toMap
    val byRank = org.apache.spark.sql.expressions.Window.partitionBy($"id")
      .orderBy($"dist".asc, $"v".asc)
    inBothModes {
      val reference = df.select($"id", $"word", explode($"vocab").as("v"))
        .select($"id", $"v",
          (levenshtein($"word", $"v").cast("double") /
            greatest(length($"word"), length($"v"))).as("dist"))
        .withColumn("rk", row_number().over(byRank))
        .where($"rk" === 1)
        .as[(Int, String, Double, Int)].collect().map(r => r._1 -> (r._2, r._3)).toMap
      val kernel = df.select($"id", GE.nearestWord($"word", $"vocab").as("nw"))
        .select($"id", $"nw.v", $"nw.dist")
        .as[(Int, Option[String], Option[Double])].collect()
      val found = kernel.collect { case (i, Some(v), Some(d)) => i -> (v, d) }.toMap
      assert(found == reference)
      assert(kernel.collect { case (i, None, _) => i / 1000 }.toSet == Set(4),
        "only the empty vocabulary has no nearest word")
      assert(found(idOf(3 -> "abc")) == ("abc", 0.0),
        "a word equal to an entry is its own nearest word")
      assert(found(idOf(3 -> "abx")) == ("abc", 1.0 / 3),
        "equal distances go to the lowest entry")
    }
  }
}
