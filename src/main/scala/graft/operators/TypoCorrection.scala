package graft.operators

import graft.{GraftQuery, Tables}
import graft.functions.{GraftExpressions => GE, TextFunctions => TF}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Vocabulary typo correction (reference: TypoCorrection,
  * src/NLP_functions.py:39-87): out-of-vocabulary words map to the
  * nearest vocabulary word when the normalized edit distance is within
  * 0.20 (the reference's thresh), else stay unchanged.
  *
  * Distributed shape: one scan counts the corpus's words. The
  * vocabulary (words seen at least [[MinVocabCount]] times) is
  * collected into a one-row array and broadcast; each distinct OOV word
  * (the rest of the same counts — the reference's d_fix memoization,
  * since a word is looked up once however often it occurs) then finds
  * its nearest vocabulary word with the row-local
  * [[graft.functions.NearestWord]] kernel. There is no OOV × vocabulary
  * pair frame, no window over it and no anti-join. The oracle-checked
  * distance is plain Levenshtein (shared by both engines); the
  * reference's Damerau/OSA variant is available as the custom Catalyst
  * expression graft.functions.DamerauLevenshtein (differs only on
  * transpositions).
  *
  * The corpus itself is typo-free, so the query plants three typos on a
  * fixed five-doc subset (doc_id < 5 — below the vocabulary frequency
  * floor at every scale factor) to exercise the correction path.
  */
object TypoCorrection {

  val Thresh = 0.20
  val MinVocabCount = 10
  val plantedTypos = " datz sparkk queyr"

  def typoCorrect(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // fan-out DROPPED (r22 A/B: typo_correct warm 0.48 → 0.38 s,
    // typo_dictionary 0.43 → 0.40 s without — the vocabulary count is
    // one light pass, and the nearest-word kernel runs on the OOV rows
    // downstream of the aggregate, which a fan-out never reaches)
    val words = Tables.documents(s, dir)
      .select(explode(TF.tokens(concat($"text",
        when($"doc_id" < 5, lit(plantedTypos)).otherwise(lit(""))))).as("word"))
      .groupBy($"word").agg(count(lit(1)).as("cnt"))
    // an empty vocabulary leaves no row to join, as the pair frame had
    // none; filtering the kernel's null instead would be pushed below
    // its projection and evaluate the kernel twice per word
    val vocab = words.where($"cnt" >= MinVocabCount)
      .agg(collect_list($"word").as("vocab"))
      .where(size($"vocab") > 0)
    words.where($"cnt" < MinVocabCount)
      .crossJoin(broadcast(vocab))
      .select($"word", GE.nearestWord($"word", $"vocab").as("nw"))
      .select($"word",
        when($"nw.dist" <= Thresh, $"nw.v").otherwise($"word").as("correction"),
        $"nw.dist".as("dist"))
      .orderBy($"word")
  }

  val typoCorrectSql: String =
    s"""WITH words AS (
       |  SELECT token AS word, count(*) AS cnt FROM (
       |    SELECT ${TF.tokensSqlSelect(
          s"text || (CASE WHEN doc_id < 5 THEN '$plantedTypos' ELSE '' END)")} AS token
       |    FROM documents) t
       |  WHERE token <> '' GROUP BY token),
       |vocab AS (SELECT word AS v FROM words WHERE cnt >= $MinVocabCount),
       |oov AS (SELECT word FROM words WHERE word NOT IN (SELECT v FROM vocab)),
       |pairs AS (
       |  SELECT word, v,
       |    CAST(levenshtein(word, v) AS DOUBLE)
       |      / greatest(len(word), len(v)) AS dist
       |  FROM oov, vocab),
       |best AS (
       |  SELECT word, v, dist,
       |    CAST(row_number() OVER (PARTITION BY word ORDER BY dist ASC, v ASC)
       |      AS INT) AS rk
       |  FROM pairs)
       |SELECT word, CASE WHEN dist <= $Thresh THEN v ELSE word END AS correction,
       |  dist
       |FROM best WHERE rk = 1 ORDER BY word""".stripMargin

  /** The unique-corrections dictionary (reference: getUniqueCorrections,
    * src/NLP_functions.py:86): only the words that actually changed,
    * as (typo → correction) pairs — the reference's d_fix dict with
    * identity entries dropped.
    */
  def typoDictionary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    typoCorrect(s, dir)
      .where($"correction" =!= $"word")
      .select($"word", $"correction")
      .distinct()
      .orderBy($"word")
  }

  val typoDictionarySql: String =
    s"""SELECT DISTINCT word, correction FROM ($typoCorrectSql) t
       |WHERE correction <> word ORDER BY word""".stripMargin

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("q_typo_correct", typoCorrect, Some(typoCorrectSql)),
    GraftQuery("q_typo_dictionary", typoDictionary, Some(typoDictionarySql)))
}
