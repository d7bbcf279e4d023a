package graft.operators

import graft.{GraftQuery, Tables}
import graft.functions.{GraftExpressions, TextFunctions => TF}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-normalization operators (SURVEY §2.A/§2.B) over the documents
  * table. Every transform is a narrow, codegen'd projection — no shuffle
  * except where an aggregation is the point (token counts, merge).
  *
  * The raw corpus is lowercase ASCII, so each query appends a small
  * constructed suffix containing the characters the reference's cleaners
  * target (mojibake artefacts, punctuation, digits, accents); the oracle
  * appends the identical suffix, so the semantics are actually exercised
  * rather than vacuously matched on already-clean text.
  */
object TextQueries {

  /** XML-artefact char-map removal (reference: src/NLP_functions.py:141). */
  def cleanArtefacts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.fanOut(Tables.documents(s, dir), col("doc_id"))
      .select($"doc_id",
        TF.cleanArtefacts(concat($"text", lit(" fooã«barã¶\tx·yãºz")))
          .as("text_clean"))
      .orderBy($"doc_id")
  }

  val cleanArtefactsSql: String = {
    val inner = TF.cleanArtefactsSql("text || ' fooã«barã¶' || chr(9) || 'x·yãºz'")
    s"SELECT doc_id, $inner AS text_clean FROM documents ORDER BY doc_id"
  }

  /** Punctuation/digit strip + lowercase (reference: src/NLP_functions.py:106). */
  def simpleClean(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.fanOut(Tables.documents(s, dir), col("doc_id"))
      .select($"doc_id",
        TF.simpleClean(concat($"text", lit(" [X.y;#12(a)+b-c/d]"))).as("text_clean"))
      .orderBy($"doc_id")
  }

  val simpleCleanSql: String = {
    val inner = TF.simpleCleanSql("text || ' [X.y;#12(a)+b-c/d]'")
    s"SELECT doc_id, $inner AS text_clean FROM documents ORDER BY doc_id"
  }

  /** Accent strip (reference: src/NLP_functions.py:125). */
  def removeAccents(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.fanOut(Tables.documents(s, dir), col("doc_id"))
      .select($"doc_id",
        GraftExpressions.stripAccents(concat($"text", lit(" café ëïóü")))
          .as("text_ascii"))
      .orderBy($"doc_id")
  }

  val removeAccentsSql: String =
    "SELECT doc_id, strip_accents(text || ' café ëïóü') AS text_ascii " +
      "FROM documents ORDER BY doc_id"

  /** Snowball Dutch stemming via the custom Catalyst expression
    * (reference: src/NLP_functions.py:89). Not expressible in the oracle's
    * SQL dialect → rows-only check; semantics covered by ScalaTest vectors.
    */
  def stemDutch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.fanOut(Tables.documents(s, dir), col("doc_id"))
      .select($"doc_id", GraftExpressions.stemDutch($"text").as("text_stemmed"))
      .orderBy($"doc_id")
  }

  /** Stopword removal preserving token order (reference: notebook cell 23). */
  def stopwordFilter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.fanOut(Tables.documents(s, dir), col("doc_id"))
      .select($"doc_id",
        TF.removeStopwords($"text", TF.englishStopwords).as("text_nostop"))
      .orderBy($"doc_id")
  }

  val stopwordFilterSql: String = {
    val inner = TF.removeStopwordsSql("text", TF.englishStopwords)
    s"SELECT doc_id, $inner AS text_nostop FROM documents ORDER BY doc_id"
  }

  /** Tokenize + global token counts (reference feature prep; one hash agg
    * with map-side combine — the 100 TB shape of a vocabulary build).
    */
  def tokenize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.fanOut(Tables.documents(s, dir), col("doc_id"))
      .select(explode(TF.tokens($"text")).as("token"))
      .groupBy($"token")
      .agg(count(lit(1)).as("cnt"))
      .orderBy($"token")
  }

  val tokenizeSql: String =
    s"""SELECT token, count(*) AS cnt FROM (
       |  SELECT ${TF.tokensSqlSelect("text")} AS token FROM documents) t
       |WHERE token <> ''
       |GROUP BY token ORDER BY token""".stripMargin

  /** Word 1-3-gram generation + counts (reference TfidfVectorizer
    * ngram_range=(1,3)). Unigrams/bigrams/trigrams come from one
    * WordNGrams kernel pass over the token array, then are exploded.
    */
  def ngrams(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val grams = Tables.fanOut(Tables.documents(s, dir), col("doc_id"))
      .select(explode(GraftExpressions.wordNGrams(TF.tokens($"text"), 1, 3,
        distinct = false)).as("gram"))
    grams.groupBy($"gram").agg(count(lit(1)).as("cnt")).orderBy($"gram")
  }

  val ngramsSql: String =
    """SELECT gram, count(*) AS cnt FROM (
      |  SELECT unnest(flatten([
      |    [array_to_string(toks[i:i], ' ') for i in generate_series(1, len(toks))],
      |    [array_to_string(toks[i:i+1], ' ') for i in generate_series(1, len(toks)-1)],
      |    [array_to_string(toks[i:i+2], ' ') for i in generate_series(1, len(toks)-2)]
      |  ])) AS gram
      |  FROM (SELECT list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS toks
      |        FROM documents) d
      |) t
      |GROUP BY gram ORDER BY gram""".stripMargin

  /** Per-key ordered text concatenation — the reference's per-patient
    * entry merge (src/NLP_functions.py:861 mergeOnColumn), keyed on
    * documents.source. One shuffle on the group key; collect_list+sort
    * keeps the result independent of partition order.
    */
  def mergeEntries(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .groupBy($"source")
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct($"doc_id", $"text"))),
            x => x("text")),
          " ").as("merged_text"),
        count(lit(1)).as("n_entries"))
      .orderBy($"source")
  }

  val mergeEntriesSql: String =
    """SELECT source, string_agg(text, ' ' ORDER BY doc_id) AS merged_text,
      |  count(*) AS n_entries
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("q_clean_artefacts", cleanArtefacts, Some(cleanArtefactsSql)),
    GraftQuery("q_simple_clean", simpleClean, Some(simpleCleanSql)),
    GraftQuery("q_remove_accents", removeAccents, Some(removeAccentsSql)),
    GraftQuery("q_stem_dutch", stemDutch, None),
    GraftQuery("q_stopword_filter", stopwordFilter, Some(stopwordFilterSql)),
    GraftQuery("q_tokenize", tokenize, Some(tokenizeSql)),
    GraftQuery("q_ngrams", ngrams, Some(ngramsSql)),
    GraftQuery("q_merge_entries", mergeEntries, Some(mergeEntriesSql)))
}
