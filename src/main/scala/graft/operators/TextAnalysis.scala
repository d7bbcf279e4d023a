package graft.operators

import graft.{GraftQuery, SessionCache, Tables}
import graft.functions.{GraftExpressions, TextFunctions => TF}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus text-analysis operators (SURVEY §2.F): language ID, quality
  * scoring, token statistics, document fingerprinting. All statistics
  * are ratios of exact integer counts — deterministic at any parallelism.
  */
object TextAnalysis {

  /** Stopword profiles for n-gram-free language scoring. */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "en" -> Seq("the", "and", "of", "to", "is", "a", "in"),
    "es" -> Seq("el", "los", "las", "es", "y", "un", "una"),
    "fr" -> Seq("le", "les", "et", "est", "dans", "une", "du"),
    "nl" -> Seq("het", "een", "van", "de", "en", "is", "niet"))

  /** Language ID: argmax stopword-profile hit density, alphabetical
    * tiebreak — the distributable heuristic shape of an n-gram
    * language identifier.
    */
  def langId(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // fan-out DROPPED (r22 A/B, warm 0.48 → 0.44 s without): the toks
    // frame is referenced once per language profile, so the exchange
    // multiplied while the stopword-filter kernel stayed light
    val toks = Tables.documents(s, dir)
      .select($"doc_id", TF.tokens($"text").as("toks"))
    val scoredRows = langProfiles.map { case (lang, words) =>
      toks.select($"doc_id", lit(lang).as("cand"),
        (size(filter($"toks", t => t.isin(words: _*))).cast("double") /
          size($"toks")).as("score"))
    }.reduce(_ unionByName _)
    val w = Window.partitionBy($"doc_id").orderBy($"score".desc, $"cand".asc)
    scoredRows.withColumn("rk", row_number().over(w))
      .where($"rk" === 1)
      .select($"doc_id", $"cand".as("lang_pred"), $"score")
      .orderBy($"doc_id")
  }

  val langIdSql: String = {
    val unions = langProfiles.map { case (lang, words) =>
      val lst = words.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""SELECT doc_id, '$lang' AS cand,
         |  CAST(len(list_filter(toks, t -> list_contains($lst, t))) AS DOUBLE)
         |    / len(toks) AS score FROM toks""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
       |  FROM documents),
       |sc AS ($unions)
       |SELECT doc_id, cand AS lang_pred, score FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
       |    ORDER BY score DESC, cand ASC) AS INT) AS rk FROM sc) z
       |WHERE rk = 1 ORDER BY doc_id""".stripMargin
  }

  /** The quality composite, shared by qualityScore and the curation
    * pipeline so the gate and the standalone operator agree
    * document-by-document — one source for both engines.
    */
  def qualityCol(nTokens: org.apache.spark.sql.Column,
      stopRatio: org.apache.spark.sql.Column,
      punctRatio: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round(lit(0.5) * stopRatio + lit(0.3) * least(lit(1.0), nTokens / lit(100.0))
      + lit(0.2) * (lit(1.0) - punctRatio), 6)

  def qualitySqlExpr(n: String, stop: String, punct: String): String =
    s"round(0.5 * $stop + 0.3 * least(1.0, $n / 100.0) + 0.2 * (1.0 - $punct), 6)"

  /** The three quality-metric expressions from a MATERIALIZED tokens
    * column plus the raw text — the single Scala source for
    * qualityScore, the batch curation gate, and the streaming gate.
    * Callers must project `toks` in a prior select (higher-order
    * functions are CodegenFallback, so an inlined tokens expression
    * would re-tokenize once per referencing metric).
    */
  private def qualityMetricExprs(toks: org.apache.spark.sql.Column,
      text: org.apache.spark.sql.Column): (org.apache.spark.sql.Column,
      org.apache.spark.sql.Column, org.apache.spark.sql.Column) = (
    size(toks),
    size(filter(toks, t => t.isin(TF.englishStopwords: _*))).cast("double") /
      size(toks),
    size(regexp_extract_all(text, lit("[^a-z0-9\\s]"), lit(0))).cast("double") /
      length(text))

  /** Aliased metric columns (n_tokens, stop_ratio, punct_ratio). */
  def qualityMetricCols(toks: org.apache.spark.sql.Column,
      text: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Column] = {
    val (n, sr, pr) = qualityMetricExprs(toks, text)
    Seq(n.as("n_tokens"), sr.as("stop_ratio"), pr.as("punct_ratio"))
  }

  /** The composite quality score straight from (toks, text). */
  def qualityFromToks(toks: org.apache.spark.sql.Column,
      text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val (n, sr, pr) = qualityMetricExprs(toks, text)
    qualityCol(n, sr, pr)
  }

  /** Quality scoring: length/stopword/punctuation heuristics composed
    * into one 0-1 score (the shape of a pretraining quality filter).
    */
  def qualityScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // fan-out DROPPED (r22 A/B, warm 0.61 → 0.52 s without): the
    // heuristic composite is too light to pay for an exchange
    Tables.documents(s, dir)
      .select($"doc_id", $"text", TF.tokens($"text").as("toks"))
      .select($"doc_id" +: qualityMetricCols($"toks", $"text"): _*)
      .select($"doc_id", $"n_tokens", $"stop_ratio", $"punct_ratio",
        qualityCol($"n_tokens", $"stop_ratio", $"punct_ratio").as("quality"))
      .orderBy($"doc_id")
  }

  /** Shared quality-metric CTE chain (defines `qm`: doc_id, n_tokens,
    * stop_ratio, punct_ratio) — the single source for the standalone
    * quality query and any oracle composing per-doc quality.
    */
  val qualityCtesSql: String = {
    val lst = TF.englishStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""qd AS (
       |  SELECT doc_id, text,
       |    list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
       |  FROM documents),
       |qm AS (
       |  SELECT doc_id, len(toks) AS n_tokens,
       |    CAST(len(list_filter(toks, t -> list_contains($lst, t))) AS DOUBLE)
       |      / len(toks) AS stop_ratio,
       |    CAST(len(regexp_extract_all(text, '[^a-z0-9\\s]')) AS DOUBLE)
       |      / len(text) AS punct_ratio
       |  FROM qd)""".stripMargin
  }

  val qualityScoreSql: String =
    s"""WITH $qualityCtesSql
       |SELECT doc_id, n_tokens, stop_ratio, punct_ratio,
       |  ${qualitySqlExpr("n_tokens", "stop_ratio", "punct_ratio")} AS quality
       |FROM qm ORDER BY doc_id""".stripMargin

  /** Token counting: whitespace tokens and a BPE-ish regex segmentation
    * (letter runs / single digits / other symbols).
    */
  def tokenStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.fanOut(Tables.documents(s, dir), col("doc_id"))
      .select($"doc_id",
        size(TF.tokens($"text")).as("ws_tokens"),
        size(regexp_extract_all($"text", lit("[a-z]+|[0-9]|[^a-z0-9\\s]"), lit(0)))
          .as("bpe_tokens"),
        length($"text").as("n_chars_actual"))
      .orderBy($"doc_id")
  }

  val tokenStatsSql: String =
    """SELECT doc_id,
      |  len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS ws_tokens,
      |  len(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9\s]')) AS bpe_tokens,
      |  len(text) AS n_chars_actual
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Per-document TOKEN ENTROPY — the Shannon-entropy curation signal
    * next to the repetition ratio and the compression proxy (low
    * entropy = templated/repetitive text, the same regime a deflate
    * ratio flags but as a closed-form statistic with no codec):
    * H = ln n − (Σ_t tf_t·ln tf_t)/n over the doc's token frequencies,
    * plus the [0, 1]-normalized H/ln(n_distinct) (NULL for
    * single-distinct-token docs — 0/0 under ANSI otherwise, the
    * zipfFit guard). Float discipline: tf are exact integers and the
    * Σ tf·ln tf fold runs token-ORDERED (FloatFold) so both engines
    * accumulate identically; everything else is scalar IEEE off exact
    * counts. One tf hash agg + a per-doc fold bounded by the doc's
    * distinct-token count — no window, no join. ORACLE=sql.
    */
  def tokenEntropy(s: SparkSession, dir: String): DataFrame =
    tokenEntropyOf(Tables.documents(s, dir))

  private[graft] def tokenEntropyOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    import graft.functions.FloatFold.orderedSum
    Tables.fanOut(docs, docs("doc_id"))
      .select($"doc_id", explode(TF.tokens($"text")).as("token"))
      .groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf"))
      .groupBy($"doc_id")
      .agg(
        sum($"tf").cast("long").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        orderedSum($"token", $"tf" * log($"tf".cast("double"))).as("s"))
      .select($"doc_id", $"n_tokens", $"n_distinct",
        round(log($"n_tokens".cast("double")) - $"s" / $"n_tokens", 6)
          .as("entropy"),
        round(when($"n_distinct" > 1,
          (log($"n_tokens".cast("double")) - $"s" / $"n_tokens") /
            log($"n_distinct".cast("double"))), 6).as("norm_entropy"))
      .orderBy($"doc_id")
  }

  val tokenEntropySql: String = {
    val fold = graft.functions.FloatFold
      .orderedSumSql("tf * ln(CAST(tf AS DOUBLE))", "token")
    s"""WITH tf AS (
       |  SELECT doc_id, token, count(*) AS tf FROM (
       |    SELECT doc_id, ${TF.tokensSqlSelect("text")} AS token FROM documents) t
       |  WHERE token <> '' GROUP BY doc_id, token),
       |d AS (
       |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
       |    CAST(count(*) AS BIGINT) AS n_distinct,
       |    $fold AS s
       |  FROM tf GROUP BY doc_id)
       |SELECT doc_id, n_tokens, n_distinct,
       |  round(ln(CAST(n_tokens AS DOUBLE)) - s / n_tokens, 6) AS entropy,
       |  round(CASE WHEN n_distinct > 1
       |    THEN (ln(CAST(n_tokens AS DOUBLE)) - s / n_tokens)
       |      / ln(CAST(n_distinct AS DOUBLE)) END, 6) AS norm_entropy
       |FROM d ORDER BY doc_id""".stripMargin
  }

  /** Rolling-hash document fingerprint over the 2³¹-ish prime field:
    * fp = Σ_i (h60(tok_i) mod p)·w_i mod p, with position weights
    * w_i = i·2654435761 mod p — an order-sensitive content signature.
    */
  val P = 1000000007L

  def fingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.fanOut(Tables.documents(s, dir), col("doc_id"))
      .select($"doc_id", posexplode(TF.tokens($"text")).as(Seq("pos0", "token")))
      .select($"doc_id",
        (((Dedup.hash60($"token") % P) *
          ((($"pos0" + 1) * 2654435761L) % P)) % P).as("term"))
      .groupBy($"doc_id")
      .agg((sum($"term") % P).as("fingerprint"))
      .orderBy($"doc_id")
  }

  val fingerprintSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS l
       |  FROM documents),
       |terms AS (
       |  SELECT doc_id,
       |    ((${Dedup.hash60Sql("l[i]")} % ${P}) * ((i * 2654435761) % ${P})) % ${P} AS term
       |  FROM (SELECT doc_id, unnest(generate_series(1, len(l))) AS i, l FROM toks) z)
       |SELECT doc_id, CAST(sum(term) % ${P} AS BIGINT) AS fingerprint
       |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken
    * 2003 — the MOSS algorithm; the standard LOCAL fingerprint picker
    * for substring-level dedup): hash every [[WinnowK]]-token k-gram
    * (the Dedup.hash60 shingle hash, so both engines agree bit-for-bit),
    * slide a [[WinnowW]]-window over the hash sequence, and in each
    * window keep the RIGHTMOST MINIMUM — the published guarantee is that
    * any match of length ≥ k+w−1 tokens shares at least one selected
    * fingerprint, at an expected density of 2/(w+1) instead of storing
    * every k-gram. Pure per-row generator algebra (higher-order array
    * functions, whole-stage codegen, ZERO shuffle before the
    * presentation sort); docs with fewer than k tokens emit
    * n_kgrams = 0 with NULL density/digest (the knBigramLogprob
    * no-silent-drop precedent). The digest is the md5 of the
    * pos-sorted "pos:hash" list — the driver's scalar-output contract
    * for set-valued results (the annLsh ids_md5 precedent).
    */
  val WinnowK = 4
  val WinnowW = 4

  /** Per-doc selected fingerprints as an array<struct<pos,fp>> column —
    * shared by the per-doc digest query and the candidate-pair join.
    */
  private def winnowSelected(s: SparkSession, dir: String): DataFrame =
    winnowSelectedOf(Tables.documents(s, dir))

  /** The winnowing selection on ANY (doc_id, text, ...) frame — every
    * expression is row-local (higher-order array functions over the
    * doc's own tokens, zero cross-row aggregation), so the SAME column
    * algebra serves the batch queries and the streaming twin
    * (EventsStream.winnowMatchStream) with value-identical
    * fingerprints. Non-(doc_id, text) input columns pass through.
    */
  private[graft] def winnowSelectedOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val emptySel = array().cast("array<struct<pos:int,fp:bigint>>")
    // the k-gram hash + window-min selection is heavy row-local work on
    // a stage a small snapshot plans single-task — spread it (no-op on
    // streaming frames and on scans that already parallelize)
    Tables.fanOut(docs, docs("doc_id"))
      .withColumn("toks", TF.tokens($"text"))
      .withColumn("m", greatest(size($"toks") - lit(WinnowK - 1), lit(0)))
      .withColumn("gh", when($"m" >= 1,
        transform(sequence(lit(1), $"m"), i =>
          Dedup.hash60(array_join(slice($"toks", i, lit(WinnowK)), " ")) % P))
        .otherwise(array().cast("array<bigint>")))
      .withColumn("sel", when($"m" >= 1,
        array_sort(array_distinct(
          transform(sequence(lit(1), greatest($"m" - lit(WinnowW - 1), lit(1))), t => {
            val sl = slice($"gh", t, lit(WinnowW))
            val minv = array_min(sl)
            // rightmost occurrence of the window minimum: first position
            // in the REVERSED window, mapped back
            val posInSl = size(sl) + lit(1) -
              call_function("array_position", reverse(sl), minv).cast("int")
            struct((t + posInSl - lit(1)).cast("int").as("pos"), minv.as("fp"))
          }))))
        .otherwise(emptySel))
      .drop("text", "toks", "gh")
  }

  def winnowFingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    winnowSelected(s, dir)
      .select($"doc_id", $"m".cast("long").as("n_kgrams"),
        size($"sel").cast("long").as("n_selected"),
        when($"m" > 0, round(size($"sel").cast("double") / $"m", 6)).as("density"),
        when(size($"sel") > 0, md5(array_join(
          transform($"sel", x =>
            concat(x("pos").cast("string"), lit(":"), x("fp").cast("string"))),
          ",").cast("binary"))).as("fp_md5"))
      .orderBy($"doc_id")
  }

  val winnowFingerprintSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS l
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, greatest(len(l) - ${WinnowK - 1}, 0) AS m,
       |    [${Dedup.hash60Sql(s"array_to_string(l[i:i+${WinnowK - 1}], ' ')")} % ${P}
       |     for i in generate_series(1, greatest(len(l) - ${WinnowK - 1}, 0))] AS gh
       |  FROM toks),
       |raw AS (
       |  SELECT doc_id, m,
       |    CASE WHEN m >= 1 THEN
       |      [{'pos': t - 1 + len(gh[t:least(t + ${WinnowW - 1}, m)])
       |          - list_position(list_reverse(gh[t:least(t + ${WinnowW - 1}, m)]),
       |              list_min(gh[t:least(t + ${WinnowW - 1}, m)])) + 1,
       |        'fp': list_min(gh[t:least(t + ${WinnowW - 1}, m)])}
       |       for t in generate_series(1, greatest(m - ${WinnowW - 1}, 1))]
       |    ELSE [] END AS rawsel
       |  FROM g),
       |sels AS (
       |  -- winnowing selections are non-decreasing in pos, so duplicates
       |  -- are consecutive: an index filter dedups without list_distinct
       |  -- (unimplemented for struct lists) and the result is pos-sorted
       |  SELECT doc_id, m,
       |    list_filter(rawsel, (x, i) -> i = 1 OR rawsel[i - 1] <> x) AS sel
       |  FROM raw)
       |SELECT doc_id, CAST(m AS BIGINT) AS n_kgrams,
       |  CAST(len(sel) AS BIGINT) AS n_selected,
       |  CASE WHEN m > 0 THEN round(CAST(len(sel) AS DOUBLE) / m, 6) END AS density,
       |  CASE WHEN len(sel) > 0 THEN
       |    md5(array_to_string([CAST(x.pos AS VARCHAR) || ':' || CAST(x.fp AS VARCHAR)
       |      for x in sel], ','))
       |  END AS fp_md5
       |FROM sels ORDER BY doc_id""".stripMargin

  /** Winnowing candidate pairs — the operator the fingerprints exist
    * for: documents sharing ≥ 2 selected fingerprints are substring-
    * overlap candidates (each shared fingerprint witnesses a common
    * k-gram; the winnowing guarantee makes any ≥ k+w−1-token shared
    * span produce at least one). Scale shape is the minhash-banding
    * posture exactly: distinct (fp, doc) postings, CORPUS-HOT
    * fingerprints capped (a fingerprint in > [[WinnowMaxPostings]] docs
    * is boilerplate, dropped like a hot LSH bucket — bounds any
    * posting-list join fan-out), one equi-join on fp, pair aggregation.
    * Never all-pairs, no window over the corpus.
    */
  val WinnowMaxPostings = 64

  /** Distinct (doc_id, fp) winnow postings on any (doc_id, text) frame
    * — the inverted-index rows of the substring screen, shared by the
    * registered pair query and the incremental postings store
    * (IncrementalDedup.writeWinnowStore).
    */
  private[graft] def winnowPostingsOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    winnowSelectedOf(docs)
      .select($"doc_id", explode($"sel").as("x"))
      .select($"doc_id", $"x.fp".as("fp"))
      .distinct()
  }

  def winnowPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the postings lineage is referenced three times below (the df cap
    // + both sides of the fp self-join), and each copy re-ran the
    // winnow fingerprint kernel — the query's entire row-local cost —
    // per reference. Materialize the distinct (doc_id, fp) rows ONCE
    // (localCheckpoint: the kernel still runs spread via the shared
    // winnowSelectedOf fan-out, and the postings frame is far smaller
    // than the text it digests). r22 A/B warm: 2.25 s (3× kernel) /
    // 1.82 s (fan-out dropped) / 1.22 s (this shape). Not a scoped pin:
    // the lazily returned plan reads it, so only the ContextCleaner can
    // release it.
    val postings = winnowPostingsOf(Tables.documents(s, dir)).localCheckpoint()
    val rare = postings.groupBy($"fp")
      .agg(count(lit(1)).as("df"))
      .where($"df" <= WinnowMaxPostings && $"df" >= 2)
      .select($"fp")
    val p = postings.join(rare, "fp")
    p.select($"fp", $"doc_id".as("doc_a"))
      .join(p.select($"fp", $"doc_id".as("doc_b")), "fp")
      .where($"doc_a" < $"doc_b")
      .groupBy($"doc_a", $"doc_b")
      .agg(count(lit(1)).as("n_shared"))
      .where($"n_shared" >= 2)
      .orderBy($"doc_a", $"doc_b")
  }

  /** The winnow postings CTE chain ending in `postings(doc_id, fp)` —
    * one source for the batch pair oracle and the incremental
    * delta-vs-store oracle (IncrementalDedup).
    */
  private[graft] val winnowPostingsCtesSql: String =
    s"""toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS l
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, greatest(len(l) - ${WinnowK - 1}, 0) AS m,
       |    [${Dedup.hash60Sql(s"array_to_string(l[i:i+${WinnowK - 1}], ' ')")} % ${P}
       |     for i in generate_series(1, greatest(len(l) - ${WinnowK - 1}, 0))] AS gh
       |  FROM toks),
       |postings AS (
       |  SELECT DISTINCT doc_id,
       |    unnest([list_min(gh[t:least(t + ${WinnowW - 1}, m)])
       |      for t in generate_series(1, greatest(m - ${WinnowW - 1}, 1))]) AS fp
       |  FROM g WHERE m >= 1)""".stripMargin

  val winnowPairsSql: String =
    s"""WITH $winnowPostingsCtesSql,
       |rare AS (
       |  SELECT fp FROM postings GROUP BY fp
       |  HAVING count(*) <= ${WinnowMaxPostings} AND count(*) >= 2)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(count(*) AS BIGINT) AS n_shared
       |FROM postings a JOIN rare USING (fp) JOIN postings b USING (fp)
       |WHERE a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= 2
       |ORDER BY doc_a, doc_b""".stripMargin

  /** PII patterns shared by both engines — Java regex and RE2 agree on
    * this subset (character classes, bounded repeats, \b; no backrefs).
    * Replacement order matters and is fixed: emails first (they contain
    * dots and digits), then IPv4, then long digit runs.
    */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    ("num", "\\b\\d{9,}\\b", "<NUM>"))

  /** The corpus is PII-free, so the query plants a fixed PII suffix on
    * doc_id < 5 (the TypoCorrection precedent) to exercise every
    * pattern.
    */
  val plantedPii = " contact alice.smith@example.org or 10.12.0.255 id 123456789012"

  /** PII redaction — the curation stage every training-data pipeline
    * runs before anything else sees the text: emails / IPv4 / long
    * digit runs masked by typed placeholders, with per-kind match
    * counts. A pure projection (regexp_replace + regexp_count inside
    * codegen): no shuffle, no UDF, scale cost = one pass over text.
    *
    * Each n_<kind> is counted against the PROGRESSIVELY-REDACTED text —
    * the stage input its replacement actually ran on — so it equals the
    * number of substitutions performed: a digit run or IP-shaped
    * substring consumed by an earlier replacement (e.g. inside an email
    * local part) is never double-counted by a later pattern.
    */
  def piiRedact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.fanOut(Tables.documents(s, dir), col("doc_id"))
      .select($"doc_id", concat($"text",
        when($"doc_id" < 5, lit(plantedPii)).otherwise(lit(""))).as("t"))
    // stage texts: stages(k) = text after the first k replacements
    val stages = piiPatterns.scanLeft(col("t")) { case (c, (_, pat, rep)) =>
      regexp_replace(c, pat, rep)
    }
    base.select(($"doc_id" +: stages.last.as("redacted") +:
        piiPatterns.zip(stages).map { case ((kind, pat, _), stageIn) =>
          regexp_count(stageIn, lit(pat)).as(s"n_$kind")
        }): _*)
      .orderBy($"doc_id")
  }

  val piiRedactSql: String = {
    val stages = piiPatterns.scanLeft("t") { case (e, (_, pat, rep)) =>
      s"regexp_replace($e, '$pat', '$rep', 'g')"
    }
    val counts = piiPatterns.zip(stages).map { case ((kind, pat, _), stageIn) =>
      s"CAST(len(regexp_extract_all($stageIn, '$pat')) AS INT) AS n_$kind"
    }.mkString(",\n  ")
    s"""WITH base AS (
       |  SELECT doc_id,
       |    text || (CASE WHEN doc_id < 5 THEN '$plantedPii' ELSE '' END) AS t
       |  FROM documents)
       |SELECT doc_id, ${stages.last} AS redacted,
       |  $counts
       |FROM base ORDER BY doc_id""".stripMargin
  }

  /** One per-doc compression record (the deflate-entropy quality
    * signal).
    */
  case class CompressionStat(doc_id: Long, n_bytes: Int, n_compressed: Int,
      ratio: Double)

  /** Compression-ratio quality signal — the zlib entropy proxy real
    * pretraining curation runs (highly repetitive or templated text
    * compresses far below natural prose; near-random text compresses
    * above it): deflate each doc at level 6 and report
    * compressed/uncompressed. The Deflater is a native codec, so this
    * runs through the same DECLARED per-partition boundary as the
    * multimodal decode (Multimodal.decodeImages): one Deflater per
    * partition, reset per row, sizes accumulated without materializing
    * the compressed bytes. Rows-only for the gate (no SQL deflate);
    * spec pins the repetitive ≪ prose ≪ noise ordering on planted text
    * and run-to-run determinism.
    */
  def compressionRatio(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.fanOut(Tables.documents(s, dir), col("doc_id"))
      .select($"doc_id", $"text").as[(Long, String)]
      .mapPartitions { rows =>
        // per-partition codec init; reset per row (the expensive native
        // allocation is paid once per partition, not per doc)
        val deflater = new java.util.zip.Deflater(6)
        val buf = new Array[Byte](1 << 16)
        rows.map { case (id, text) =>
          val bytes = text.getBytes("UTF-8")
          deflater.reset()
          deflater.setInput(bytes)
          deflater.finish()
          var n = 0
          while (!deflater.finished()) n += deflater.deflate(buf)
          CompressionStat(id, bytes.length, n,
            math.round(n.toDouble / math.max(bytes.length, 1) * 1e6) / 1e6)
        }
      }
      .toDF()
      .orderBy($"doc_id")
  }

  /** Context-window chunking — fixed 64-token windows at stride 48 (the
    * LLM dataset-prep shape: overlapping windows cover every token under
    * a context budget). The window starts are a bounded per-row
    * generator (⌈n/48⌉ rows per doc), the slice a per-row projection —
    * no shuffle, no UDF; an empty doc yields one empty window.
    */
  val ChunkSize = 64
  val ChunkStride = 48

  def chunkWindows(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.fanOut(Tables.documents(s, dir), col("doc_id"))
      .select($"doc_id", TF.tokens($"text").as("toks"))
      .select($"doc_id", $"toks",
        explode(sequence(lit(1), greatest(size($"toks"), lit(1)),
          lit(ChunkStride))).as("start"))
      .select($"doc_id",
        (($"start" - 1) / ChunkStride).cast("int").as("win_id"),
        coalesce(size(slice($"toks", $"start", lit(ChunkSize))), lit(0)).as("n_win_tokens"),
        array_join(slice($"toks", $"start", lit(ChunkSize)), " ").as("win_text"))
      .orderBy($"doc_id", $"win_id")
  }

  val chunkWindowsSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS l
       |  FROM documents),
       |starts AS (
       |  SELECT doc_id, l, unnest(generate_series(1, greatest(len(l), 1), $ChunkStride)) AS start
       |  FROM toks)
       |SELECT doc_id, CAST((start - 1) // $ChunkStride AS INT) AS win_id,
       |  CAST(len(l[start:start + ${ChunkSize - 1}]) AS INT) AS n_win_tokens,
       |  array_to_string(l[start:start + ${ChunkSize - 1}], ' ') AS win_text
       |FROM starts ORDER BY doc_id, win_id""".stripMargin

  /** Unigram-LM log-probability — the perplexity-proxy quality signal
    * (the CCNet-style LM filter, with the corpus's own unigram model
    * standing in for the external KenLM): per doc, the mean
    * ln(freq(t)/N) over its tokens. Two hash aggregations (global
    * unigram counts; per-doc mean) + one join; the per-doc fold runs in
    * token-position order (list_reduce twin in the oracle) so the one
    * float sum is order-deterministic, and the mean rounds to 6 dp
    * before the hash gate (ln may differ in the last ulp across libm
    * implementations — the cosine precedent).
    */
  def unigramLogprob(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    avgLogprobFrame(s, dir).orderBy($"doc_id")
  }

  /** The unigram LM as a MATERIALIZED model artifact, once per
    * (session, dir): (token, logp = ln(freq / N)) — vocabulary-bounded
    * (≪ corpus rows), persisted like the PQ codebooks and the BPE merge
    * table. This is the CCNet shape taken literally: the LM is a
    * trained ARTIFACT applied per document, not lineage rebuilt inside
    * every consuming plan — the curation gate broadcast-joins it so its
    * feature plan reads the corpus once for the LM signal instead of
    * twice (freq build + score pass).
    */
  private[graft] def lmModel(s: SparkSession, dir: String): DataFrame =
    SessionCache.getOrCompute(s, s"textanalysis.lmModel:$dir") {
      import s.implicits._
      val freq = Tables.fanOut(Tables.documents(s, dir), col("doc_id"))
        .select(explode(TF.tokens($"text")).as("token"))
        .groupBy($"token").agg(count(lit(1)).as("freq"))
      val tot = freq.agg(sum($"freq").cast("double").as("n_total"))
      // consumers see an in-memory leaf, not lineage
      SessionCache.pin(freq.crossJoin(broadcast(tot))
        .select($"token",
          log($"freq".cast("double") / $"n_total").as("logp")))
    }

  /** The per-doc (doc_id, avg_logprob, n_tokens) frame WITHOUT the
    * presentation sort — one source for q_unigram_logprob and the
    * perplexity-bucket operator composing over it.
    */
  private def avgLogprobFrame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tok = Tables.fanOut(Tables.documents(s, dir), col("doc_id"))
      .select($"doc_id", posexplode(TF.tokens($"text")).as(Seq("pos", "token")))
    val freq = tok.groupBy($"token").agg(count(lit(1)).as("freq"))
    val tot = freq.agg(sum($"freq").cast("double").as("n_total"))
    tok.join(freq, "token").crossJoin(broadcast(tot))
      .select($"doc_id", $"pos",
        log($"freq".cast("double") / $"n_total").as("logp"))
      .groupBy($"doc_id")
      .agg(round(
        aggregate(
          transform(array_sort(collect_list(struct($"pos", $"logp"))),
            x => x("logp")),
          lit(0.0), (acc, x) => acc + x) / count(lit(1)), 6).as("avg_logprob"),
        count(lit(1)).as("n_tokens"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): documents
    * ranked by unigram-LM mean log-probability (the q_unigram_logprob
    * signal standing in for KenLM, highest = most fluent) and split
    * into head / middle / tail thirds — the published pre-filtering
    * that keeps the head, LM-trains on the middle, and drops the tail.
    * Scale shape: the LM is the two-hash-agg q_unigram_logprob plan;
    * ranking collapses the corpus to ONE ROW PER DISTINCT 6-dp mean
    * and runs Evaluation.cumTallies — the range-partitioned two-pass
    * prefix sum, no partition-less window — over min-max-normalized
    * scores (normalization only feeds the prefix-sum's fixed range
    * buckets; bucket CUTOFFS are exact integer ceil-divisions of the
    * doc count, so no float boundary can disagree with the oracle).
    * Docs sharing a 6-dp mean share a bucket (the rank of a score
    * group is its inclusive cumulative count — deterministic under
    * ties, where per-doc ntile would be arbitrary).
    */
  def perplexityBuckets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lp = avgLogprobFrame(s, dir).select($"doc_id", $"avg_logprob")
    // collect the COLLAPSED distinct-score tallies (bounded: one row
    // per 6-dp mean) into a LOCAL relation before the rank algebra:
    // bounds + cumTallies + join-back reference this frame ~8×, and
    // each reference otherwise re-plans the corpus-sized LM lineage
    // under it — the explain grew to ~300 Exchange nodes / 67 corpus
    // scans from the multiplicative subtree copies. r21 cut the copies
    // with localCheckpoint, but the checkpoint's job barrier exceeded
    // the saved re-plan (×0.81 on both boards) — the local relation
    // keeps the collapse barrier-free (Tables.localize), and bounds
    // come straight off the collected rows instead of a broadcast
    // scalar subtree: same doubles (exact min/max/long-sum), one less
    // job. The LM pass still runs once for the ranking side and once
    // for the per-doc join-back, as designed.
    val sc0 = Tables.localize(
      lp.groupBy($"avg_logprob").agg(count(lit(1)).as("c")), "q_perplexity_buckets")
    val tallies = sc0.collect()
    val n = tallies.map(_.getLong(1)).sum
    val (mn, mx) =
      if (tallies.isEmpty) (0.0, 0.0)
      else (tallies.map(_.getDouble(0)).min, tallies.map(_.getDouble(0)).max)
    val sc = sc0
      .withColumn("score", if (mx == mn) lit(0.5)
        else ($"avg_logprob" - lit(mn)) / lit(mx - mn))
      .withColumn("cp", lit(0L))
    val ranked = Evaluation.cumTallies(sc, Seq.empty)
      .select($"avg_logprob",
        when($"rk" <= lit((n + 2) / 3), "head")
          .when($"rk" <= lit((n * 2 + 2) / 3), "middle")
          .otherwise("tail").as("ppl_bucket"))
    lp.join(ranked, "avg_logprob")
      .select($"doc_id", $"avg_logprob", $"ppl_bucket")
      .orderBy($"doc_id")
  }

  /** DSIR importance weights (Xie et al. 2023, data selection via
    * importance resampling) — the published operator for selecting
    * pretraining data that MATCHES A TARGET distribution: a unigram LM
    * fits the target slice (lang = 'en', the corpus's classification
    * convention) and another the full corpus, and each document scores
    * the log importance ratio Σ_t [ln p_tgt(t) − ln p_raw(t)] of its
    * tokens (add-one smoothing over the shared vocabulary, so
    * target-absent tokens contribute a finite penalty). High-ratio docs
    * resemble the target and get sampled up. Scale shape =
    * q_unigram_logprob's: two corpus hash aggs (token counts), one
    * token-level join against broadcast-scalar totals, and a per-doc
    * position-ordered fold (order-deterministic float sum) rounded to
    * 6 dp. ORACLE=sql — both LMs are exact integer-count algebra.
    */
  def dsirWeights(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    dsirFrame(s, dir).orderBy($"doc_id")
  }

  /** The per-doc (doc_id, log_ratio, n_tokens) DSIR frame WITHOUT the
    * presentation sort — one source for q_dsir_weights and the
    * resampling operator selecting on it.
    */
  private def dsirFrame(s: SparkSession, dir: String): DataFrame =
    dsirFrameOf(Tables.documents(s, dir))

  /** The DSIR frame on ANY (doc_id, lang, text) corpus — factored so
    * specs can plant a strong target signal (the shared-vocabulary
    * test corpus separates languages by only fractions of a nat, too
    * weak to assert enrichment against the Gumbel noise).
    */
  private[graft] def dsirFrameOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val tok = Tables.fanOut(docs, docs("doc_id"))
      .select($"doc_id", $"lang", posexplode(TF.tokens($"text")).as(Seq("pos", "token")))
    val raw = tok.groupBy($"token").agg(count(lit(1)).as("c_raw"))
    val tgt = tok.where($"lang" === "en")
      .groupBy($"token").agg(count(lit(1)).as("c_tgt"))
    val freq = raw.join(tgt, Seq("token"), "left")
      .select($"token", $"c_raw", coalesce($"c_tgt", lit(0L)).as("c_tgt"))
    val tot = freq.agg(sum($"c_raw").cast("double").as("n_raw"),
      sum($"c_tgt").cast("double").as("n_tgt"),
      count(lit(1)).cast("double").as("v"))
    tok.join(freq, "token").crossJoin(broadcast(tot))
      .select($"doc_id", $"pos",
        (log(($"c_tgt" + 1).cast("double") / ($"n_tgt" + $"v")) -
          log(($"c_raw" + 1).cast("double") / ($"n_raw" + $"v"))).as("lr"))
      .groupBy($"doc_id")
      .agg(round(
        aggregate(
          transform(array_sort(collect_list(struct($"pos", $"lr"))),
            x => x("lr")),
          lit(0.0), (acc, x) => acc + x), 6).as("log_ratio"),
        count(lit(1)).as("n_tokens"))
  }

  /** DSIR importance RESAMPLING — the actual selection step of Xie et
    * al. 2023: draw a without-replacement sample of documents with
    * probability proportional to exp(log importance ratio), via the
    * Gumbel-top-k identity (Vieira 2014; Kool et al. 2019):
    * key_i = log w_i + Gumbel(0,1) and the top-k keys ARE such a
    * sample. The Gumbel noise is −ln(−ln u) over the engine-portable
    * 15-bit LCG uniform of doc_id (the stratified-sample precedent), so
    * selection is deterministic on any cluster and the oracle draws the
    * identical sample. Scale shape: the weights are the q_dsir_weights
    * plan; selection is orderBy+limit — Spark's TakeOrdered keeps k
    * rows per partition and merges, no global sort shuffle. Keys round
    * to 6 dp with a doc_id tiebreak so the k-boundary cannot diverge
    * between engines.
    */
  def dsirResample(s: SparkSession, dir: String): DataFrame =
    dsirResampleOn(Tables.documents(s, dir), 100)

  private[graft] def dsirResampleOn(docs: DataFrame, k: Int): DataFrame = {
    import docs.sparkSession.implicits._
    val w = dsirFrameOf(docs).select($"doc_id", $"log_ratio")
    val v = (((($"doc_id" % 2147483648L) * 1103515245L + 12345L) % 2147483648L)
      .divide(65536).cast("long"))
    val u = (v + 1).cast("double") / 32769.0
    w.select($"doc_id", $"log_ratio",
        round($"log_ratio" - log(-log(u)), 6).as("sample_key"))
      .orderBy($"sample_key".desc, $"doc_id".asc)
      .limit(k)
  }

  /** Shared oracle CTE chain defining `dsirdoc(doc_id, log_ratio,
    * n_tokens)` — one source for the q_dsir_weights oracle and the
    * resampling oracle drawing from it.
    */
  private val dsirCtesSql: String =
    s"""toks AS (
       |  SELECT doc_id, lang,
       |    list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS l
       |  FROM documents),
       |tok AS (
       |  SELECT doc_id, lang, i AS pos, l[i] AS token
       |  FROM (SELECT doc_id, lang, unnest(generate_series(1, len(l))) AS i, l
       |        FROM toks) z),
       |raw AS (SELECT token, count(*) AS c_raw FROM tok GROUP BY token),
       |tgt AS (SELECT token, count(*) AS c_tgt FROM tok WHERE lang = 'en' GROUP BY token),
       |freq AS (
       |  SELECT raw.token, c_raw, coalesce(c_tgt, 0) AS c_tgt
       |  FROM raw LEFT JOIN tgt ON raw.token = tgt.token),
       |tot AS (SELECT CAST(sum(c_raw) AS DOUBLE) AS n_raw,
       |               CAST(sum(c_tgt) AS DOUBLE) AS n_tgt,
       |               CAST(count(*) AS DOUBLE) AS v FROM freq),
       |lr AS (
       |  SELECT doc_id, pos,
       |    ln(CAST(c_tgt + 1 AS DOUBLE) / (n_tgt + v)) -
       |      ln(CAST(c_raw + 1 AS DOUBLE) / (n_raw + v)) AS lr
       |  FROM tok JOIN freq USING (token) CROSS JOIN tot),
       |dsirdoc AS (
       |  SELECT doc_id,
       |    round(list_reduce(list_prepend(0.0, list(lr ORDER BY pos)),
       |      (x, y) -> x + y), 6) AS log_ratio,
       |    count(*) AS n_tokens
       |  FROM lr GROUP BY doc_id)""".stripMargin

  val dsirWeightsSql: String =
    s"""WITH $dsirCtesSql
       |SELECT doc_id, log_ratio, n_tokens FROM dsirdoc ORDER BY doc_id""".stripMargin

  val dsirResampleSql: String =
    s"""WITH $dsirCtesSql
       |SELECT doc_id, log_ratio,
       |  round(log_ratio - ln(-ln(
       |    ((((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648) // 65536 + 1)
       |      / 32769.0)), 6) AS sample_key
       |FROM dsirdoc
       |ORDER BY sample_key DESC, doc_id ASC LIMIT 100""".stripMargin

  /** Shared oracle CTE chain defining `lpdoc(doc_id, avg_logprob,
    * n_tokens)` — one source for the q_unigram_logprob oracle and the
    * perplexity-bucket oracle composing over it.
    */
  private val lpDocCtesSql: String =
    s"""toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS l
       |  FROM documents),
       |tok AS (
       |  SELECT doc_id, i AS pos, l[i] AS token
       |  FROM (SELECT doc_id, unnest(generate_series(1, len(l))) AS i, l FROM toks) z),
       |freq AS (SELECT token, count(*) AS freq FROM tok GROUP BY token),
       |tot AS (SELECT CAST(sum(freq) AS DOUBLE) AS n_total FROM freq),
       |lp AS (
       |  SELECT doc_id, pos, ln(CAST(freq AS DOUBLE) / n_total) AS logp
       |  FROM tok JOIN freq USING (token) CROSS JOIN tot),
       |lpdoc AS (
       |  SELECT doc_id,
       |    round(list_reduce(list_prepend(0.0, list(logp ORDER BY pos)),
       |      (x, y) -> x + y) / count(*), 6) AS avg_logprob,
       |    count(*) AS n_tokens
       |  FROM lp GROUP BY doc_id)""".stripMargin

  val unigramLogprobSql: String =
    s"""WITH $lpDocCtesSql
       |SELECT doc_id, avg_logprob, n_tokens FROM lpdoc ORDER BY doc_id""".stripMargin

  /** Rank of a 6-dp score group = its inclusive cumulative count in
    * score-DESC order (each `sc` row is a distinct score, so the
    * default RANGE frame equals the Spark side's inclusive prefix sum);
    * cutoffs are exact integer ceil-divisions of the doc count.
    */
  val perplexityBucketsSql: String =
    s"""WITH $lpDocCtesSql,
       |sc AS (SELECT avg_logprob, count(*) AS c FROM lpdoc GROUP BY avg_logprob),
       |r AS (SELECT avg_logprob,
       |        sum(c) OVER (ORDER BY avg_logprob DESC) AS rk FROM sc),
       |nn AS (SELECT count(*) AS n FROM lpdoc)
       |SELECT doc_id, avg_logprob,
       |  CASE WHEN rk <= (n + 2) // 3 THEN 'head'
       |       WHEN rk <= (n * 2 + 2) // 3 THEN 'middle'
       |       ELSE 'tail' END AS ppl_bucket
       |FROM lpdoc JOIN r USING (avg_logprob) CROSS JOIN nn
       |ORDER BY doc_id""".stripMargin

  /** Interpolated Kneser-Ney bigram language model (Kneser & Ney 1995;
    * the Chen & Goodman 1999 fixed-discount form, d = 0.75), trained on
    * the corpus's own bigrams and scored per document — the step up
    * from the unigram CCNet stand-in ([[unigramLogprob]]): the
    * continuation probability N1+(·w₂)/|bigram types| replaces raw
    * frequency, which is what separates fluent word ORDER from mere
    * word choice ("san francisco" vs "francisco san" score identically
    * under any unigram model).
    *   P(w₂|w₁) = (c(w₁w₂) − d)/c(w₁·) + d·N1+(w₁·)/c(w₁·) · N1+(·w₂)/B
    * Every scored bigram is in-vocabulary by construction (the model
    * trains on the corpus it scores), so c(w₁w₂) ≥ 1 and the
    * discounted term stays positive. Scale shape: the three model
    * statistics are hash aggregations over the BIGRAM-TYPE frame
    * (vocabulary², bounded ≪ corpus token volume); per-doc scoring is
    * one equi-join of occurrence rows against the scored-type frame
    * plus one grouped fold. The float sum runs in token-position order
    * (the [[unigramLogprob]] precedent) and the mean rounds to 6 dp
    * before the hash gate, absorbing last-ulp ln() differences across
    * libm implementations.
    */
  def knBigramLogprob(s: SparkSession, dir: String): DataFrame =
    knBigramFrame(s, dir).orderBy(col("doc_id"))

  /** The per-doc KN frame WITHOUT the presentation sort — one source
    * for q_kn_bigram_logprob and the KN perplexity buckets composing
    * over it (the avgLogprobFrame convention).
    */
  private def knBigramFrame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perDoc = bigramOccurrences(s, dir)
      .join(knModel(s, dir), Seq("w1", "w2"))
      .groupBy($"doc_id")
      .agg(round(
        aggregate(
          transform(array_sort(collect_list(struct($"pos", $"logp"))),
            x => x("logp")),
          lit(0.0), (acc, x) => acc + x) / count(lit(1)), 6).as("avg_kn_logprob"),
        count(lit(1)).as("n_bigrams"))
    // docs with < 2 tokens have no bigrams: emit them with n_bigrams = 0
    // and a NULL mean rather than silently dropping them, so compositions
    // joining this signal with per-doc frames (q_unigram_logprob emits
    // 1-token docs) never lose rows
    Tables.documents(s, dir).select($"doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id", $"avg_kn_logprob",
        coalesce($"n_bigrams", lit(0L)).as("n_bigrams"))
  }

  /** Per-doc bigram occurrence rows (doc_id, pos, w1, w2) — one scan,
    * shared by KN model training and per-doc scoring.
    */
  private def bigramOccurrences(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.fanOut(Tables.documents(s, dir), col("doc_id"))
      .select($"doc_id", TF.tokens($"text").as("toks"))
      .select($"doc_id", posexplode(
        filter(
          transform($"toks", (_, i) =>
            when(i + 2 <= size($"toks"),
              struct(element_at($"toks", i + 1).as("w1"),
                element_at($"toks", i + 2).as("w2")))),
          x => x.isNotNull)).as(Seq("pos", "b")))
      .select($"doc_id", $"pos", $"b.w1".as("w1"), $"b.w2".as("w2"))
  }

  /** The KN bigram LM as a MATERIALIZED model artifact, once per
    * (session, dir): (w1, w2, logp) over the bigram-TYPE frame
    * (bounded ≪ corpus token volume) — the [[lmModel]] precedent, so
    * the corpus-sized bigram lineage is built once per session instead
    * of once inside every consuming plan.
    */
  private[graft] def knModel(s: SparkSession, dir: String): DataFrame =
    SessionCache.getOrCompute(s, s"textanalysis.knModel:$dir") {
      import s.implicits._
      val d = 0.75
      val c12 = bigramOccurrences(s, dir)
        .groupBy($"w1", $"w2").agg(count(lit(1)).as("c"))
      val left = c12.groupBy($"w1")
        .agg(sum($"c").as("c1"), count(lit(1)).as("n_after"))
      val pre = c12.groupBy($"w2").agg(count(lit(1)).as("n_pre"))
      val types = c12.agg(count(lit(1)).cast("double").as("bt"))
      SessionCache.pin(c12.join(left, "w1").join(pre, "w2")
        .crossJoin(broadcast(types))
        .select($"w1", $"w2",
          log(($"c" - lit(d)) / $"c1" +
            lit(d) * $"n_after" / $"c1" * ($"n_pre" / $"bt")).as("logp")))
    }

  /** Shared KN oracle CTE chain ending in `agg(doc_id, avg_kn_logprob,
    * n_bigrams)` over the scoreable (≥ 2-token) docs — one source for
    * the per-doc query and the KN perplexity-bucket oracle.
    */
  private val knLpCtesSql: String =
    """toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS l
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id, i AS pos, l[i] AS w1, l[i+1] AS w2
      |  FROM (SELECT doc_id, l, unnest(generate_series(1, len(l) - 1)) AS i
      |        FROM toks) z),
      |c12 AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2),
      |lft AS (SELECT w1, CAST(sum(c) AS BIGINT) AS c1, count(*) AS n_after
      |        FROM c12 GROUP BY w1),
      |pre AS (SELECT w2, count(*) AS n_pre FROM c12 GROUP BY w2),
      |bt AS (SELECT CAST(count(*) AS DOUBLE) AS bt FROM c12),
      |sc AS (
      |  SELECT w1, w2,
      |    ln((c - 0.75) / c1 + 0.75 * n_after / c1 * (n_pre / bt)) AS logp
      |  FROM c12 JOIN lft USING (w1) JOIN pre USING (w2) CROSS JOIN bt),
      |per AS (SELECT doc_id, pos, logp FROM bg JOIN sc USING (w1, w2)),
      |agg AS (
      |  SELECT doc_id,
      |    round(list_reduce(list_prepend(0.0, list(logp ORDER BY pos)),
      |      (x, y) -> x + y) / count(*), 6) AS avg_kn_logprob,
      |    CAST(count(*) AS BIGINT) AS n_bigrams
      |  FROM per GROUP BY doc_id)""".stripMargin

  val knBigramLogprobSql: String =
    s"""WITH $knLpCtesSql
      |SELECT d.doc_id, a.avg_kn_logprob,
      |  coalesce(a.n_bigrams, 0) AS n_bigrams
      |FROM documents d LEFT JOIN agg a USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  /** CCNet perplexity tertiles on the KN BIGRAM LM — the published
    * filter's actual shape (Wenzek et al. 2020 bucket by a KenLM n-gram
    * model, not a unigram proxy): docs ranked by their KN mean logprob
    * and split head/middle/tail through the same collapsed-distinct-
    * score cumTallies prefix sum as q_perplexity_buckets (no
    * partition-less window, ties share a bucket, exact integer ceil
    * cutoffs). Docs with no bigrams (< 2 tokens) are not rankable and
    * surface explicitly as 'unscored' rather than dropping or skewing
    * the tertile counts.
    */
  def knPerplexityBuckets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lp0 = knBigramFrame(s, dir)
    val scored = lp0.where($"n_bigrams" > 0).select($"doc_id", $"avg_kn_logprob")
    // collapsed distinct-score tallies as a driver-LOCAL relation — see
    // perplexityBuckets: the rank algebra references this bounded frame
    // ~8×, each copy otherwise re-planning the KN lineage beneath it;
    // Tables.localize keeps the r21 plan collapse without the
    // checkpoint's job barrier, and bounds read off the collected rows
    val sc0 = Tables.localize(
      scored.groupBy($"avg_kn_logprob").agg(count(lit(1)).as("c")),
      "q_kn_perplexity_buckets")
    val tallies = sc0.collect()
    val n = tallies.map(_.getLong(1)).sum
    val (mn, mx) =
      if (tallies.isEmpty) (0.0, 0.0)
      else (tallies.map(_.getDouble(0)).min, tallies.map(_.getDouble(0)).max)
    val sc = sc0
      .withColumn("score", if (mx == mn) lit(0.5)
        else ($"avg_kn_logprob" - lit(mn)) / lit(mx - mn))
      .withColumn("cp", lit(0L))
    val ranked = Evaluation.cumTallies(sc, Seq.empty)
      .select($"avg_kn_logprob",
        when($"rk" <= lit((n + 2) / 3), "head")
          .when($"rk" <= lit((n * 2 + 2) / 3), "middle")
          .otherwise("tail").as("ppl_bucket"))
    lp0.select($"doc_id", $"avg_kn_logprob")
      .join(ranked, Seq("avg_kn_logprob"), "left")
      .select($"doc_id", $"avg_kn_logprob",
        coalesce($"ppl_bucket", lit("unscored")).as("ppl_bucket"))
      .orderBy($"doc_id")
  }

  val knPerplexityBucketsSql: String =
    s"""WITH $knLpCtesSql,
       |scs AS (SELECT avg_kn_logprob, count(*) AS c FROM agg GROUP BY 1),
       |rr AS (SELECT avg_kn_logprob,
       |         sum(c) OVER (ORDER BY avg_kn_logprob DESC) AS rk FROM scs),
       |nn AS (SELECT count(*) AS n FROM agg),
       |buck AS (
       |  SELECT a.doc_id, a.avg_kn_logprob,
       |    CASE WHEN rk <= (n + 2) // 3 THEN 'head'
       |         WHEN rk <= (n * 2 + 2) // 3 THEN 'middle'
       |         ELSE 'tail' END AS ppl_bucket
       |  FROM agg a JOIN rr USING (avg_kn_logprob) CROSS JOIN nn)
       |SELECT d.doc_id, b.avg_kn_logprob,
       |  coalesce(b.ppl_bucket, 'unscored') AS ppl_bucket
       |FROM documents d LEFT JOIN buck b USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** N-gram diversity (the distinct-n metric, Li et al. 2016): per
    * source and n ∈ {1,2,3}, the ratio of distinct n-grams to total
    * n-grams — the standard repetitiveness/diversity statistic of a
    * dataset card (low distinct-n = templated or duplicated text).
    * One corpus scan emits (n, gram) rows for all three orders; one
    * grouped aggregation computes total + distinct per (source, n)
    * (countDistinct's two-phase partial aggregation keys on
    * (source, n, gram) — no per-group set is ever buffered on a task,
    * so the shape survives any corpus size).
    */
  def ngramDiversity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables.fanOut(Tables.documents(s, dir), col("doc_id"))
      .select($"source", TF.tokens($"text").as("toks"))
    val grams = toks.select($"source",
      explode(array((1 to 3).map { n =>
        struct(lit(n).as("n"),
          GraftExpressions.wordNGrams($"toks", n, n, distinct = false).as("grams"))
      }: _*)).as("g"))
      .select($"source", $"g.n", explode($"g.grams").as("gram"))
    grams.groupBy($"source", $"n")
      .agg(count(lit(1)).as("n_total"), countDistinct($"gram").as("n_distinct"))
      .select($"source", $"n", $"n_total", $"n_distinct",
        round($"n_distinct".cast("double") / $"n_total", 6).as("diversity"))
      .orderBy($"source", $"n")
  }

  val ngramDiversitySql: String =
    """WITH toks AS (
      |  SELECT source, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS toks
      |  FROM documents),
      |grams AS (
      |  SELECT source, 1 AS n, unnest(toks) AS gram FROM toks
      |  UNION ALL
      |  SELECT source, 2 AS n,
      |    unnest([array_to_string(toks[i:i+1], ' ') for i in generate_series(1, len(toks)-1)])
      |  FROM toks
      |  UNION ALL
      |  SELECT source, 3 AS n,
      |    unnest([array_to_string(toks[i:i+2], ' ') for i in generate_series(1, len(toks)-2)])
      |  FROM toks)
      |SELECT source, n, CAST(count(*) AS BIGINT) AS n_total,
      |  CAST(count(DISTINCT gram) AS BIGINT) AS n_distinct,
      |  round(CAST(count(DISTINCT gram) AS DOUBLE) / count(*), 6) AS diversity
      |FROM grams GROUP BY source, n ORDER BY source, n""".stripMargin

  /** The Gopher required-stopword list (Rae et al. 2021, App. A). */
  val gopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher heuristic quality rules (Rae et al. 2021, Appendix A) — the
    * published rule suite real pretraining curation applies before any
    * model-based filter, one rule per column plus the composite gate:
    * word count in [50, 100000], mean word length in [3, 10], symbol
    * ("#"/"...")-to-word ratio <= 0.1, >= 80% of words containing an
    * alphabetic character, and >= 2 of the 8 required stopwords present.
    * (The paper's line-level bullet/ellipsis rules need line structure
    * the corpus does not carry; the five word-level rules are the
    * applicable suite.) One codegen projection over a materialized
    * tokens column — integer counts and single divisions rounded to
    * 6 dp, no shuffle: the same per-row scan shape as q_pii_redact, so
    * the gate runs at any corpus size for the cost of reading the text.
    */
  /** The five Gopher word-level metrics from a MATERIALIZED tokens
    * column + raw text — the single Scala source for the standalone
    * rule query and the fused signal bundle (the qualityMetricCols
    * precedent).
    */
  def gopherMetricCols(toks: org.apache.spark.sql.Column,
      text: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Column] = Seq(
    size(toks).as("n_words"),
    round(aggregate(transform(toks, t => length(t)), lit(0),
        (a, x) => a + x).cast("double") / size(toks), 6).as("mean_word_len"),
    round(size(regexp_extract_all(text, lit("#|\\.\\.\\."), lit(0)))
        .cast("double") / size(toks), 6).as("symbol_ratio"),
    round(size(filter(toks, t => t.rlike("[a-z]"))).cast("double") /
      size(toks), 6).as("alpha_frac"),
    size(filter(array(gopherStops.map(lit): _*),
      w => array_contains(toks, w))).as("n_req_stops"))

  /** The composite Gopher gate over the five named metric columns. */
  def gopherPassCol: org.apache.spark.sql.Column =
    col("n_words").between(50, 100000) &&
      col("mean_word_len").between(3.0, 10.0) &&
      col("symbol_ratio") <= 0.1 && col("alpha_frac") >= 0.8 &&
      col("n_req_stops") >= 2

  def gopherRules(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.fanOut(Tables.documents(s, dir), col("doc_id"))
      .select($"doc_id", $"text", TF.tokens($"text").as("toks"))
      .select($"doc_id" +: gopherMetricCols($"toks", $"text"): _*)
      .withColumn("pass", gopherPassCol)
      .orderBy($"doc_id")
  }

  /** The five Gopher metric SQL expressions (from a `toks`/`text`
    * relation) and the composite gate — shared by the standalone rule
    * oracle and the fused signal-bundle oracle.
    */
  val gopherMetricsSql: String = {
    val stops = gopherStops.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""len(toks) AS n_words,
       |    round(CAST(list_reduce(list_prepend(0, [len(x) for x in toks]),
       |      (a, b) -> a + b) AS DOUBLE) / len(toks), 6) AS mean_word_len,
       |    round(CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS DOUBLE)
       |      / len(toks), 6) AS symbol_ratio,
       |    round(CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
       |      AS DOUBLE) / len(toks), 6) AS alpha_frac,
       |    len(list_filter($stops, w -> list_contains(toks, w))) AS n_req_stops""".stripMargin
  }

  val gopherPassSql: String =
    """(n_words BETWEEN 50 AND 100000)
      |    AND (mean_word_len BETWEEN 3.0 AND 10.0)
      |    AND symbol_ratio <= 0.1 AND alpha_frac >= 0.8
      |    AND n_req_stops >= 2""".stripMargin

  val gopherRulesSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, text,
       |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, $gopherMetricsSql
       |  FROM t)
       |SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_frac,
       |  n_req_stops,
       |  $gopherPassSql AS pass
       |FROM m ORDER BY doc_id""".stripMargin

  /** Fused per-document signal bundle — every ROW-LOCAL curation signal
    * from ONE corpus scan: the quality composite, the Gopher gate, the
    * dup-token repetition ratio, language ID, and the progressive PII
    * match count (planted-PII convention of q_pii_redact). At 100 TB the
    * text scan IS the cost, so signals that each read the corpus must
    * fuse into a single projection — this is the plan a real curation
    * run executes, with the standalone queries as its per-signal
    * oracles. Language ID re-expresses q_lang_id's 5-way union + window
    * argmax as a per-row sort of the profile-score struct array (same
    * rounded score, same alphabetical tiebreak — the sort key is
    * 1 − score, never a negative zero) — the shuffle and the 5× scan
    * disappear. Zero exchanges except the output sort; every expression
    * is a projection over one materialized tokens column.
    */
  def docSignals(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val piiStages = piiPatterns.scanLeft(col("t")) { case (c, (_, pat, rep)) =>
      regexp_replace(c, pat, rep)
    }
    val nPii = piiPatterns.zip(piiStages)
      .map { case ((_, pat, _), stageIn) => regexp_count(stageIn, lit(pat)) }
      .reduce(_ + _)
    val langScoreCols = langProfiles.map { case (lang, words) =>
      round(size(filter($"toks", t => t.isin(words: _*))).cast("double") /
        size($"toks"), 6).as(s"s_$lang")
    }
    val langBest = element_at(array_sort(array(langProfiles.map { case (lang, _) =>
      struct((lit(1.0) - col(s"s_$lang")).as("ns"), lit(lang).as("lang"),
        col(s"s_$lang").as("score"))
    }: _*)), 1)
    Tables.fanOut(Tables.documents(s, dir), col("doc_id"))
      .select($"doc_id", $"text",
        concat($"text",
          when($"doc_id" < 5, lit(plantedPii)).otherwise(lit(""))).as("t"),
        TF.tokens($"text").as("toks"))
      .select(Seq($"doc_id", $"text", $"t", $"toks") ++ langScoreCols: _*)
      .select(Seq($"doc_id", $"t",
        qualityFromToks($"toks", $"text").as("quality"),
        round(lit(1.0) -
          size(array_distinct($"toks")).cast("double") / size($"toks"), 6)
          .as("dup_token_ratio"),
        langBest.as("lb")) ++ gopherMetricCols($"toks", $"text"): _*)
      .select($"doc_id", $"n_words".as("n_tokens"), $"quality",
        gopherPassCol.as("gopher_pass"), $"dup_token_ratio",
        $"lb.lang".as("lang_pred"), $"lb.score".as("lang_score"),
        nPii.as("n_pii"))
      .orderBy($"doc_id")
  }

  val docSignalsSql: String = {
    val scoreExprs = langProfiles.map { case (lang, words) =>
      val lst = words.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""round(CAST(len(list_filter(toks, x -> list_contains($lst, x)))
         |      AS DOUBLE) / len(toks), 6) AS s_$lang""".stripMargin
    }.mkString(",\n    ")
    val structs = langProfiles.map { case (lang, _) =>
      s"{ns: 1.0 - s_$lang, lang: '$lang', score: s_$lang}"
    }.mkString("[", ",\n      ", "]")
    val piiStages = piiPatterns.scanLeft("t") { case (e, (_, pat, rep)) =>
      s"regexp_replace($e, '$pat', '$rep', 'g')"
    }
    val piiCount = piiPatterns.zip(piiStages)
      .map { case ((_, pat, _), stageIn) =>
        s"CAST(len(regexp_extract_all($stageIn, '$pat')) AS INT)"
      }.mkString(" + ")
    val stopLst = TF.englishStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH t AS (
       |  SELECT doc_id, text,
       |    text || (CASE WHEN doc_id < 5 THEN '$plantedPii' ELSE '' END) AS t,
       |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
       |  FROM documents),
       |sc AS (
       |  SELECT doc_id, text, t, toks,
       |    $scoreExprs
       |  FROM t),
       |m AS (
       |  SELECT doc_id, t,
       |    ${qualitySqlExpr(
             "len(toks)",
             s"CAST(len(list_filter(toks, x -> list_contains($stopLst, x))) AS DOUBLE) / len(toks)",
             "CAST(len(regexp_extract_all(text, '[^a-z0-9\\s]')) AS DOUBLE) / len(text)")} AS quality,
       |    round(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6)
       |      AS dup_token_ratio,
       |    list_sort($structs)[1] AS lb,
       |    $gopherMetricsSql
       |  FROM sc)
       |SELECT doc_id, n_words AS n_tokens, quality,
       |  $gopherPassSql AS gopher_pass,
       |  dup_token_ratio, lb.lang AS lang_pred, lb.score AS lang_score,
       |  $piiCount AS n_pii
       |FROM m ORDER BY doc_id""".stripMargin
  }

  /** Per-source DATASET CARD rollup — the published-card statistics
    * table (docs, token mass, token-length percentiles, mean quality,
    * Gopher pass rate, English share) per source, all from ONE corpus
    * scan: every per-doc signal is row-local (the q_doc_signals
    * fusion lesson) and one source-keyed hash aggregation finishes —
    * at 100 TB the text read is the cost, so the card must not pay a
    * pass per statistic. Percentiles use the exact interpolated
    * `percentile` (the q_percentiles convention; the documented scale
    * swap-in is percentile_approx). Mean quality follows the integer
    * micro-unit discipline (quality is already 6-dp rounded, so its
    * micro-units are exact and the sum is order-independent); rates
    * are exact integer ratios.
    */
  def sourceStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perDoc = Tables.fanOut(Tables.documents(s, dir), col("doc_id"))
      .select($"source", $"lang", $"text", TF.tokens($"text").as("toks"))
      .select(Seq($"source", $"lang",
        qualityFromToks($"toks", $"text").as("quality")) ++
        gopherMetricCols($"toks", $"text"): _*)
      .withColumn("gopher_pass", gopherPassCol)
    perDoc.groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_words").cast("long").as("n_tokens"),
        expr("percentile(n_words, 0.5)").as("tokens_p50"),
        expr("percentile(n_words, 0.95)").as("tokens_p95"),
        round(sum(round($"quality" * 1000000).cast("long")).cast("double")
          / (count(lit(1)).cast("double") * 1e6), 6).as("mean_quality"),
        round(sum($"gopher_pass".cast("int")).cast("double") / count(lit(1)), 6)
          .as("gopher_pass_rate"),
        round(sum(($"lang" === "en").cast("int")).cast("double") / count(lit(1)), 6)
          .as("pct_en"))
      .orderBy($"source")
  }

  val sourceStatsSql: String =
    s"""WITH t AS (
       |  SELECT source, lang, text,
       |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
       |  FROM documents),
       |m AS (
       |  SELECT source, lang,
       |    ${qualitySqlExpr(
            "len(toks)",
            s"CAST(len(list_filter(toks, t -> list_contains(${TF.englishStopwords.map(w => s"'$w'").mkString("[", ", ", "]")}, t))) AS DOUBLE) / len(toks)",
            "CAST(len(regexp_extract_all(text, '[^a-z0-9\\s]')) AS DOUBLE) / len(text)")} AS quality,
       |    $gopherMetricsSql
       |  FROM t),
       |g AS (SELECT *, $gopherPassSql AS gopher_pass FROM m)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(n_words) AS BIGINT) AS n_tokens,
       |  CAST(quantile_cont(n_words, 0.5) AS DOUBLE) AS tokens_p50,
       |  CAST(quantile_cont(n_words, 0.95) AS DOUBLE) AS tokens_p95,
       |  round(CAST(sum(CAST(round(quality * 1000000) AS BIGINT)) AS DOUBLE)
       |    / (CAST(count(*) AS DOUBLE) * 1e6), 6) AS mean_quality,
       |  round(CAST(sum(CASE WHEN gopher_pass THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*), 6) AS gopher_pass_rate,
       |  round(CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*), 6) AS pct_en
       |FROM g GROUP BY source ORDER BY source""".stripMargin

  /** Heaps'-law vocabulary-growth fit — V(N) = k·N^β, the companion
    * regularity to [[zipfFit]] (β ≈ 0.4–0.6 for natural text; a corpus
    * whose vocabulary grows linearly is ID-like noise, one that
    * plateaus hard is template spam): OLS through (ln cum_tokens,
    * ln cum_types) sampled at 64 corpus positions. Scale shape — NO
    * corpus-sized window anywhere: each token's FIRST document is one
    * hash agg (min doc_id per token), per-doc new-type counts a
    * second, then the corpus collapses to 64 doc_id-range buckets
    * (exact integer bucketing off a broadcast bounds row) and the
    * cumulative curve is a 64²-bounded broadcast self-join over BUCKET
    * TOTALS — the growth curve is sampled at bucket boundaries, which
    * is all a log-log fit needs. The ≤64-point OLS folds in bucket
    * order (FloatFold).
    */
  def heapsFit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.FloatFold.orderedSum
    val base = Tables.fanOut(Tables.documents(s, dir), col("doc_id"))
      .select($"doc_id", TF.tokens($"text").as("toks"))
    val tok = base.select($"doc_id", explode($"toks").as("token"))
    val newTypes = tok.groupBy($"token").agg(min($"doc_id").as("first_doc"))
      .groupBy($"first_doc".as("doc_id")).agg(count(lit(1)).as("new_types"))
    val per = base.select($"doc_id",
        coalesce(size($"toks"), lit(0)).cast("long").as("n_toks"))
      .join(newTypes, Seq("doc_id"), "left")
      .select($"doc_id", $"n_toks", coalesce($"new_types", lit(0L)).as("new_types"))
    // bounds need only min/max doc_id — read them off the raw table
    // (same ids as `per`: the left join keeps every doc) instead of
    // re-running the tokenize lineage under `per` a third time
    val bounds = Tables.documents(s, dir)
      .agg(min($"doc_id").as("lo"), max($"doc_id").as("hi"))
    // ≤64 rows as a driver-LOCAL relation: the cumulative self-join
    // references this frame twice and would otherwise re-plan the whole
    // corpus lineage under each side (the funnel/perplexity
    // subtree-duplication lesson — the explain had 10 corpus scans);
    // r21's localCheckpoint kept the collapse but its job barrier cost
    // more than it saved at bench scale (×0.61 on both boards) —
    // Tables.localize collapses with no barrier and the 64²-bounded
    // self-join below runs on two LocalTableScan leaves
    val totals = Tables.localize(per.crossJoin(broadcast(bounds))
      .select(expr("CAST(least(((doc_id - lo) * 64) div (hi - lo + 1), 63) AS INT)")
        .as("bkt"), $"n_toks", $"new_types")
      .groupBy($"bkt")
      .agg(sum($"n_toks").as("bt"), sum($"new_types").as("bv")), "q_heaps_fit")
    val cum = totals.as("a")
      .join(broadcast(totals.as("b")), col("b.bkt") <= col("a.bkt"))
      .groupBy(col("a.bkt").as("bkt"))
      .agg(sum(col("b.bt")).as("cum_toks"), sum(col("b.bv")).as("cum_types"))
      .where($"cum_toks" > 0 && $"cum_types" > 0)
      .select($"bkt", log($"cum_toks".cast("double")).as("x"),
        log($"cum_types".cast("double")).as("y"))
    val sums = cum.agg(
      count(lit(1)).cast("double").as("n"),
      orderedSum($"bkt", $"x").as("sx"),
      orderedSum($"bkt", $"y").as("sy"),
      orderedSum($"bkt", $"x" * $"y").as("sxy"),
      orderedSum($"bkt", $"x" * $"x").as("sxx"),
      orderedSum($"bkt", $"y" * $"y").as("syy"))
    val cov = $"n" * $"sxy" - $"sx" * $"sy"
    val varx = $"n" * $"sxx" - $"sx" * $"sx"
    val vary = $"n" * $"syy" - $"sy" * $"sy"
    // degenerate curves REPORT instead of crashing (ANSI 0/0): a
    // saturated vocabulary (flat type curve — the driver's synthetic
    // corpus) gives beta = 0 with NULL r²; a single surviving point
    // (varx = 0) leaves every coefficient undefined → NULL
    sums.select(
      $"n".cast("long").as("n_points"),
      when(varx > 0, round(cov / varx, 6)).as("beta"),
      when(varx > 0,
        round(exp(($"sy" - (cov / varx) * $"sx") / $"n"), 6)).as("k"),
      when(varx > 0 && vary > 0,
        round((cov * cov) / (varx * vary), 6)).as("r2"))
  }

  val heapsFitSql: String = {
    def fold(term: String) =
      s"list_reduce(list_prepend(0.0, list($term ORDER BY bkt)), (a, b) -> a + b)"
    s"""WITH base AS (
       |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
       |  FROM documents),
       |tok AS (SELECT doc_id, unnest(toks) AS token FROM base),
       |nt AS (
       |  SELECT first_doc AS doc_id, count(*) AS new_types
       |  FROM (SELECT token, min(doc_id) AS first_doc FROM tok GROUP BY token) f
       |  GROUP BY first_doc),
       |per AS (
       |  SELECT b.doc_id, len(b.toks) AS n_toks, coalesce(nt.new_types, 0) AS new_types
       |  FROM base b LEFT JOIN nt ON b.doc_id = nt.doc_id),
       |bounds AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM per),
       |totals AS (
       |  SELECT CAST(least(((p.doc_id - o.lo) * 64) // (o.hi - o.lo + 1), 63) AS INT) AS bkt,
       |    CAST(sum(p.n_toks) AS BIGINT) AS bt,
       |    CAST(sum(p.new_types) AS BIGINT) AS bv
       |  FROM per p CROSS JOIN bounds o GROUP BY 1),
       |cum AS (
       |  SELECT a.bkt, ln(CAST(sum(b.bt) AS DOUBLE)) AS x,
       |    ln(CAST(sum(b.bv) AS DOUBLE)) AS y
       |  FROM totals a JOIN totals b ON b.bkt <= a.bkt
       |  GROUP BY a.bkt
       |  HAVING sum(b.bt) > 0 AND sum(b.bv) > 0),
       |sums AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n,
       |    ${fold("x")} AS sx, ${fold("y")} AS sy, ${fold("x * y")} AS sxy,
       |    ${fold("x * x")} AS sxx, ${fold("y * y")} AS syy
       |  FROM cum)
       |SELECT CAST(n AS BIGINT) AS n_points,
       |  CASE WHEN n * sxx - sx * sx > 0 THEN
       |    round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) END AS beta,
       |  CASE WHEN n * sxx - sx * sx > 0 THEN
       |    round(exp((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n), 6)
       |  END AS k,
       |  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
       |    round((n * sxy - sx * sy) * (n * sxy - sx * sy)
       |      / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) END AS r2
       |FROM sums""".stripMargin
  }

  /** PMI collocations (Church & Hanks 1990) — the top-20 adjacent word
    * pairs by pointwise mutual information ln(p(w1w2)/(p(w1)p(w2))),
    * support-filtered at c12 ≥ 5: the phrase-mining / tokenizer-seeding
    * statistic a dataset card reports next to heavy hitters. Scale
    * shape: one corpus scan feeds two hash aggregations (unigram and
    * bigram counts — partial aggs collapse map-side, shuffle is
    * vocab-sized), the support filter shrinks the bigram-type frame
    * BEFORE its two unigram joins, totals ride a broadcast single-row
    * frame, and selection is orderBy+limit (TakeOrderedAndProject — k
    * rows per partition, no global sort). PMI decomposes as
    * ln(c12/N2) − ln(c1/N) − ln(c2/N) so no integer product can wrap
    * at corpus scale; the ties at the k-boundary break on the rounded
    * score + (w1, w2), so the cut is engine-deterministic.
    */
  def tokenPmi(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tok = Tables.fanOut(Tables.documents(s, dir), col("doc_id"))
      .select($"doc_id", TF.tokens($"text").as("toks"))
    val uni = tok.select(explode($"toks").as("w"))
      .groupBy($"w").agg(count(lit(1)).as("c"))
    val bi = tok.select(explode(
        filter(
          transform($"toks", (_, i) =>
            when(i + 2 <= size($"toks"),
              struct(element_at($"toks", i + 1).as("w1"),
                element_at($"toks", i + 2).as("w2")))),
          x => x.isNotNull)).as("b"))
      .groupBy($"b.w1".as("w1"), $"b.w2".as("w2"))
      .agg(count(lit(1)).as("c12"))
    val tot = uni.agg(sum($"c").cast("double").as("n1"))
      .crossJoin(bi.agg(sum($"c12").cast("double").as("n2")))
    val pmi = log($"c12" / $"n2") - log($"c1" / $"n1") - log($"c2" / $"n1")
    bi.where($"c12" >= 5)
      .join(uni.select($"w".as("w1"), $"c".as("c1")), "w1")
      .join(uni.select($"w".as("w2"), $"c".as("c2")), "w2")
      .crossJoin(broadcast(tot))
      .select($"w1", $"w2", $"c12".as("n_pair"), round(pmi, 6).as("pmi"))
      .orderBy($"pmi".desc, $"w1", $"w2")
      .limit(20)
  }

  val tokenPmiSql: String =
    """WITH tok AS (
      |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS l
      |  FROM documents),
      |uni AS (
      |  SELECT w, count(*) AS c
      |  FROM (SELECT unnest(l) AS w FROM tok) u GROUP BY w),
      |bi AS (
      |  SELECT l[i] AS w1, l[i+1] AS w2, count(*) AS c12
      |  FROM (SELECT l, unnest(generate_series(1, len(l) - 1)) AS i FROM tok) z
      |  GROUP BY 1, 2),
      |tot AS (
      |  SELECT (SELECT CAST(sum(c) AS DOUBLE) FROM uni) AS n1,
      |         (SELECT CAST(sum(c12) AS DOUBLE) FROM bi) AS n2)
      |SELECT b.w1, b.w2, b.c12 AS n_pair,
      |  round(ln(b.c12 / t.n2) - ln(ua.c / t.n1) - ln(ub.c / t.n1), 6) AS pmi
      |FROM bi b
      |JOIN uni ua ON ua.w = b.w1
      |JOIN uni ub ON ub.w = b.w2
      |CROSS JOIN tot t
      |WHERE b.c12 >= 5
      |ORDER BY pmi DESC, b.w1, b.w2
      |LIMIT 20""".stripMargin

  /** Zipf's-law fit — the OLS line through (ln rank, ln frequency) over
    * the top-1000 corpus tokens: slope ≈ −1 is the published regularity
    * for natural text; a corpus whose slope drifts (too flat = noisy /
    * deduplicated-to-death, too steep = template-dominated) fails the
    * dataset-card smell test. Scale shape: one token hash agg, then
    * orderBy+limit keeps the top-1000 frame (TakeOrderedAndProject — no
    * global sort shuffle); everything downstream (the rank window, the
    * five order-deterministic folds) runs on the LIMIT-bounded 1000-row
    * frame, which is the documented exception to the
    * no-partition-less-window rule (input is constant-bounded whatever
    * the corpus size, the broadcast-self-join precedent of
    * q_mixture_unimax). Float discipline: Σx, Σy, Σxy, Σx², Σy² fold in
    * rank order via FloatFold, so both engines accumulate identically;
    * the closed-form slope/intercept/r² are then single IEEE
    * expressions, rounded to 6 dp.
    */
  def zipfFit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // fan-out DROPPED (r22 A/B, warm 0.30 → 0.22 s without): one
    // tokenize+count pass is lighter than the exchange
    val top = Tables.documents(s, dir)
      .select(explode(TF.tokens($"text")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("freq"))
      .orderBy($"freq".desc, $"w")
      .limit(1000)
    val ranked = top.withColumn("rank",
      row_number().over(Window.orderBy($"freq".desc, $"w")).cast("long"))
      .select($"rank", log($"rank".cast("double")).as("x"),
        log($"freq".cast("double")).as("y"))
    import graft.functions.FloatFold.orderedSum
    val sums = ranked.agg(
      count(lit(1)).cast("double").as("n"),
      orderedSum($"rank", $"x").as("sx"),
      orderedSum($"rank", $"y").as("sy"),
      orderedSum($"rank", $"x" * $"y").as("sxy"),
      orderedSum($"rank", $"x" * $"x").as("sxx"),
      orderedSum($"rank", $"y" * $"y").as("syy"))
    val cov = $"n" * $"sxy" - $"sx" * $"sy"
    val varx = $"n" * $"sxx" - $"sx" * $"sx"
    val vary = $"n" * $"syy" - $"sy" * $"sy"
    // degenerate corpora are the statistic's whole point, so they must
    // REPORT, not crash: a single-token vocabulary (varx = 0) or a
    // flat frequency profile (vary = 0) would make these divisions
    // 0/0 — a DIVIDE_BY_ZERO under ANSI mode — so the undefined
    // coefficients surface as NULL (matching the heapsFit convention)
    sums.select(
      $"n".cast("long").as("n_tokens"),
      when(varx > 0, round(cov / varx, 6)).as("slope"),
      when(varx > 0,
        round(($"sy" - (cov / varx) * $"sx") / $"n", 6)).as("intercept"),
      when(varx > 0 && vary > 0,
        round((cov * cov) / (varx * vary), 6)).as("r2"))
  }

  val zipfFitSql: String = {
    def fold(term: String) =
      s"list_reduce(list_prepend(0.0, list($term ORDER BY rank)), (a, b) -> a + b)"
    s"""WITH freq AS (
       |  SELECT w, count(*) AS freq
       |  FROM (SELECT unnest(list_filter(string_split_regex(text, '\\s+'),
       |          t -> t <> '')) AS w
       |        FROM documents) u
       |  GROUP BY w),
       |top AS (SELECT w, freq FROM freq ORDER BY freq DESC, w LIMIT 1000),
       |ranked AS (
       |  SELECT CAST(row_number() OVER (ORDER BY freq DESC, w) AS BIGINT) AS rank,
       |    ln(CAST(row_number() OVER (ORDER BY freq DESC, w) AS DOUBLE)) AS x,
       |    ln(CAST(freq AS DOUBLE)) AS y
       |  FROM top),
       |sums AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n,
       |    ${fold("x")} AS sx, ${fold("y")} AS sy,
       |    ${fold("x * y")} AS sxy, ${fold("x * x")} AS sxx,
       |    ${fold("y * y")} AS syy
       |  FROM ranked)
       |SELECT CAST(n AS BIGINT) AS n_tokens,
       |  CASE WHEN n * sxx - sx * sx > 0 THEN
       |    round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) END AS slope,
       |  CASE WHEN n * sxx - sx * sx > 0 THEN
       |    round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
       |  END AS intercept,
       |  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
       |    round((n * sxy - sx * sy) * (n * sxy - sx * sy)
       |      / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) END AS r2
       |FROM sums""".stripMargin
  }

  /** Signal names the correlation audit runs over — the numeric columns
    * of the fused bundle (gopher_pass is a composite of the others and
    * stays out).
    */
  private val corrSignals =
    Seq("n_tokens", "quality", "dup_token_ratio", "lang_score", "n_pii")

  /** Curation-signal CORRELATION matrix — the redundancy audit of the
    * fused q_doc_signals bundle (two signals correlated at |r| ≈ 1
    * measure the same thing; a gate stacking both double-counts it —
    * the audit a pipeline runs before weighting its filters): pairwise
    * Pearson r over every numeric signal pair, computed from ONE pass
    * over the fused single-scan frame. Float discipline: signals are
    * already 6-dp rounded, so their micro-unit integers are exact and
    * all 16 moment sums (n, Σx, Σx², Σxy per pair) are
    * order-independent decimal(38,0) aggregates in ONE single-row
    * hash agg; each r is then two IEEE ops (√ per side — the variance
    * PRODUCT would overflow decimal, so the sides root separately) and
    * rounds to 6 dp; zero-variance pairs surface as NULL r, not a
    * crash. Output is the 10-row upper triangle.
    */
  def signalCorr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dec = "decimal(38,0)"
    val base = docSignals(s, dir).select(corrSignals.map(c =>
      round(col(c).cast("double") * 1000000).cast("long").cast(dec).as(c)): _*)
    val pairs = corrSignals.combinations(2).toSeq
    val aggs = Seq(count(lit(1)).cast(dec).as("n")) ++
      corrSignals.map(c => sum(col(c)).as(s"s_$c")) ++
      corrSignals.map(c => sum(col(c) * col(c)).as(s"q_$c")) ++
      pairs.map { case Seq(a, b) => sum(col(a) * col(b)).as(s"p_${a}__$b") }
    val row = base.agg(aggs.head, aggs.tail: _*)
    val pairRows = pairs.map { case Seq(a, b) =>
      val cov = col("n") * col(s"p_${a}__$b") - col(s"s_$a") * col(s"s_$b")
      val va = col("n") * col(s"q_$a") - col(s"s_$a") * col(s"s_$a")
      val vb = col("n") * col(s"q_$b") - col(s"s_$b") * col(s"s_$b")
      struct(lit(a).as("sig_a"), lit(b).as("sig_b"),
        when(va > 0 && vb > 0,
          round(cov.cast("double") /
            (sqrt(va.cast("double")) * sqrt(vb.cast("double"))), 6)).as("r"))
    }
    row.select(explode(array(pairRows: _*)).as("p"))
      .select($"p.sig_a", $"p.sig_b", $"p.r")
      .orderBy($"sig_a", $"sig_b")
  }

  val signalCorrSql: String = {
    val micro = (c: String) =>
      s"CAST(CAST(round(CAST($c AS DOUBLE) * 1000000) AS BIGINT) AS HUGEINT) AS $c"
    val pairs = corrSignals.combinations(2).toSeq
    val sums = (corrSignals.map(c => s"sum($c) AS s_$c") ++
      corrSignals.map(c => s"sum($c * $c) AS q_$c") ++
      pairs.map { case Seq(a, b) => s"sum($a * $b) AS p_${a}__$b" })
      .mkString(",\n    ")
    val selects = pairs.map { case Seq(a, b) =>
      val cov = s"(n * p_${a}__$b - s_$a * s_$b)"
      val va = s"(n * q_$a - s_$a * s_$a)"
      val vb = s"(n * q_$b - s_$b * s_$b)"
      s"""SELECT '$a' AS sig_a, '$b' AS sig_b,
         |  CASE WHEN $va > 0 AND $vb > 0 THEN
         |    round(CAST($cov AS DOUBLE)
         |      / (sqrt(CAST($va AS DOUBLE)) * sqrt(CAST($vb AS DOUBLE))), 6)
         |  END AS r
         |FROM agg""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ds AS ($docSignalsSql),
       |base AS (
       |  SELECT ${corrSignals.map(micro).mkString(",\n    ")}
       |  FROM ds),
       |agg AS (
       |  SELECT CAST(count(*) AS HUGEINT) AS n,
       |    $sums
       |  FROM base)
       |$selects
       |ORDER BY sig_a, sig_b""".stripMargin
  }

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("q_lang_id", langId, Some(langIdSql)),
    GraftQuery("q_quality_score", qualityScore, Some(qualityScoreSql)),
    GraftQuery("q_token_stats", tokenStats, Some(tokenStatsSql)),
    GraftQuery("q_fingerprint", fingerprint, Some(fingerprintSql)),
    GraftQuery("q_token_entropy", tokenEntropy, Some(tokenEntropySql)),
    GraftQuery("q_winnow_fingerprint", winnowFingerprint, Some(winnowFingerprintSql)),
    GraftQuery("q_winnow_pairs", winnowPairs, Some(winnowPairsSql)),
    GraftQuery("q_pii_redact", piiRedact, Some(piiRedactSql)),
    GraftQuery("q_chunk_windows", chunkWindows, Some(chunkWindowsSql)),
    GraftQuery("q_unigram_logprob", unigramLogprob, Some(unigramLogprobSql)),
    GraftQuery("q_kn_bigram_logprob", knBigramLogprob, Some(knBigramLogprobSql)),
    GraftQuery("q_perplexity_buckets", perplexityBuckets, Some(perplexityBucketsSql)),
    GraftQuery("q_kn_perplexity_buckets", knPerplexityBuckets,
      Some(knPerplexityBucketsSql)),
    GraftQuery("q_ngram_diversity", ngramDiversity, Some(ngramDiversitySql)),
    GraftQuery("q_compression_ratio", compressionRatio, None),
    GraftQuery("q_gopher_rules", gopherRules, Some(gopherRulesSql)),
    GraftQuery("q_doc_signals", docSignals, Some(docSignalsSql)),
    GraftQuery("q_dsir_weights", dsirWeights, Some(dsirWeightsSql)),
    GraftQuery("q_dsir_resample", dsirResample, Some(dsirResampleSql)),
    GraftQuery("q_token_pmi", tokenPmi, Some(tokenPmiSql)),
    GraftQuery("q_zipf_fit", zipfFit, Some(zipfFitSql)),
    GraftQuery("q_heaps_fit", heapsFit, Some(heapsFitSql)),
    GraftQuery("q_source_stats", sourceStats, Some(sourceStatsSql)),
    GraftQuery("q_signal_corr", signalCorr, Some(signalCorrSql)))
}
