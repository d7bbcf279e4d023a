package graft.operators

import graft.{GraftQuery, Tables}
import graft.functions.{GraftExpressions => GE, MinHashSig, TextFunctions => TF}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-deduplication operators (SURVEY §2.F) — the training-data
  * pipeline components a 100 TB document store needs.
  *
  * Candidate generation never goes all-pairs: exact dedup is one hash
  * aggregation; jaccard candidates come from an inverted shingle join;
  * MinHash-LSH candidates from band-bucket equality. Token/shingle hashes
  * are the top 60 bits of md5 (the [[graft.functions.Hash60]] kernel),
  * which the DuckDB oracle computes as the first 15 hex digits of md5.
  * Shingles, MinHash signatures and SimHash fingerprints are per-document
  * kernels ([[graft.functions.WordNGrams]], [[MinHashSig]],
  * [[graft.functions.SimHash]]) evaluated in one projection: no plan
  * here explodes a document into shingle or token rows only to group
  * them back by doc_id.
  */
object Dedup {

  /** 60-bit integer hash from the md5 hex prefix — stable across engines:
    * `conv(substring(md5(c), 1, 15), 16, 10)` as bigint, computed from
    * the digest bytes.
    */
  def hash60(c: Column): Column = GE.hash60(c)

  def hash60Sql(inner: String): String =
    s"('0x' || substr(md5($inner), 1, 15))::BIGINT"

  /** Per-doc distinct word-3-gram shingle ARRAYS — the pre-explode
    * single source for both the exploded posting rows and the explode-
    * free size branch.
    */
  private[operators] def shingleArrs(s: SparkSession, dir: String): DataFrame =
    shingleArrsOf(Tables.documents(s, dir))

  /** The shingle-array builder on ANY (doc_id, text) frame — factored so
    * specs can drive the jaccard plans with adversarial synthetic
    * corpora (hot shingles, boundary sizes) directly.
    */
  private[graft] def shingleArrsOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // tokenize+shingle is the family's heaviest row-local stage and a
    // small snapshot plans it as ONE scan task — spread it before the
    // kernel (Tables.fanOut is a no-op whenever the scan already
    // parallelizes)
    Tables.fanOut(docs, docs("doc_id"))
      .select($"doc_id", shingleArrFromToks(TF.tokens($"text")).as("arr"))
  }

  /** The distinct word 3-gram array of a tokens column, first
    * occurrences in token order. One source for the batch builder and
    * the row-local streaming signature; a compiled kernel, so the tokens
    * expression may be passed inline.
    */
  private[graft] def shingleArrFromToks(toks: Column): Column =
    GE.wordNGrams(toks, 3, 3, distinct = true)

  /** A document's 16-hash MinHash signature from its text (null when it
    * has no shingles) — row-local, so the batch, incremental and
    * streaming paths all sign a document with this one kernel and no
    * cross-row aggregation (a streaming groupBy would be a stateful
    * operator).
    */
  private[graft] def signatureOf(text: Column): Column =
    GE.minhashSig(shingleArrFromToks(TF.tokens(text)))

  /** The LSH band structs (band, band_key) of a signature array, `rows`
    * minhashes per band, band_key their decimal values joined by "-".
    * Null for a null signature, so an explode of it emits no band rows
    * for a document without shingles.
    */
  private[graft] def bandStructsOf(sig: Column, rows: Int = BandSize): Column =
    when(sig.isNotNull, array((0 until NumHashes / rows).map { k =>
      struct(lit(k).as("band"),
        concat_ws("-", (0 until rows).map(j => sig.getItem(k * rows + j)): _*)
          .as("band_key"))
    }: _*))

  /** MinHash agreement of two signatures: the share of the 16 positions
    * where they are equal.
    */
  private[graft] def agreement(a: Column, b: Column): Column =
    (0 until NumHashes).map(i => (a.getItem(i) === b.getItem(i)).cast("int"))
      .reduce(_ + _).cast("double") / NumHashes

  /** Distinct word 3-gram shingles per doc, exploded. */
  private[operators] def shingles(s: SparkSession, dir: String): DataFrame =
    shinglesOf(Tables.documents(s, dir))

  private def shinglesOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    shingleArrsOf(docs).select($"doc_id", explode($"arr").as("shingle"))
  }

  /** Per-doc distinct-shingle counts WITHOUT exploding: one size() on
    * the built array — no shuffle, no generator. Deliberately a separate
    * frame from the join sides: carrying n on every exploded row invites
    * InferFiltersFromConstraints to derive isnotnull(n) downstream and
    * inline the whole array expression into pre-join filters on both
    * self-join sides (measured 4x on this query).
    */
  private[operators] def shingleSizes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // coalesce makes n non-nullable, so downstream divisions can't make
    // InferFiltersFromConstraints synthesize an isnotnull(n) filter that
    // would inline the whole array expression a second time per row
    shingleArrs(s, dir)
      .select($"doc_id", coalesce(size($"arr"), lit(0)).cast("long").as("n"))
  }

  private[operators] def shinglesSqlAs(alias: String): String =
    s"""(SELECT doc_id, unnest(list_distinct(
      |    [array_to_string(toks[i:i+2], ' ') for i in generate_series(1, len(toks)-2)]
      |  )) AS shingle
      |  FROM (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
      |        FROM documents) d) $alias""".stripMargin

  private[operators] val shinglesSql = shinglesSqlAs("sh")

  /** Exact dedup: md5 grouping, keep the smallest doc_id per content hash
    * — one hash aggregation, the canonical 100 TB exact-dedup plan.
    */
  def exact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", md5($"text".cast("binary")).as("content_md5"))
      .groupBy($"content_md5")
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy($"content_md5")
  }

  val exactSql: String =
    """SELECT md5(text) AS content_md5, min(doc_id) AS keep_id,
      |  count(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY content_md5""".stripMargin

  /** N-gram Jaccard near-dup pairs at τ=0.5 via the plain inverted
    * shingle join (pairs must share ≥1 shingle — identical result set to
    * brute force, but the join key bounds the shuffle). Kept as the
    * spec-checked twin of the REGISTERED [[ngramJaccardPrefix]] plan:
    * the plain join shuffles on raw shingles, so one hot shingle's
    * posting list grows a quadratic pair blowup at scale, which the
    * prefix filter avoids by construction.
    */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // join sides carry (doc_id, shingle) only; |doc| comes from the
    // explode-free size branch joined AFTER the pair aggregation, when
    // the frame has already collapsed to candidate pairs
    val sh = shingles(s, dir)
    val sizes = shingleSizes(s, dir)
    val inter = sh.as("a").join(sh.as("b"),
        $"a.shingle" === $"b.shingle" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n", "na"), "id_a")
      .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n", "nb"), "id_b")
      .select($"id_a", $"id_b",
        ($"inter".cast("double") / ($"na" + $"nb" - $"inter")).as("jaccard"))
      .where($"jaccard" >= 0.5)
      .orderBy($"id_a", $"id_b")
  }

  /** The REGISTERED q_dedup_ngram_jaccard plan — exact prefix filtering
    * (the PPJoin lemma): with each doc's shingles sorted by a global
    * (frequency asc, shingle) order, any pair with J ≥ τ must share a
    * shingle within both ⌊(1−τ)·n⌋+1 prefixes, and sizes must satisfy
    * τ·na ≤ nb ≤ na/τ. Candidates join only on the rare-first prefixes —
    * posting lists shrink by (1−τ) and skew moves off the hot shingles —
    * then the exact intersection is counted for surviving pairs only.
    * Identical result set to [[ngramJaccard]] (DedupSpec, and the shared
    * oracle SQL), so the driver's hash gate checks this plan against the
    * plain inverted-join SQL; pays two extra small passes, the price of
    * surviving hot posting lists at 100 TB.
    */
  def ngramJaccardPrefix(s: SparkSession, dir: String, tau: Double = 0.5): DataFrame =
    ngramJaccardPrefixOn(s, Tables.documents(s, dir), tau)

  private[graft] def ngramJaccardPrefixOn(
      s: SparkSession, docs: DataFrame, tau: Double): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // exact rational τ = num/den so every bound below is integer
    // arithmetic — a float ⌊(1−τ)·n⌋ can land one off at exact multiples
    // and silently drop qualifying pairs
    val frac = BigDecimal(tau.toString)
    val den = BigDecimal(10).pow(frac.scale).toLongExact
    val num = (frac * den).toLongExact
    // Global shingle frequency is an AGGREGATE, not a window: groupBy
    // partial-aggregates map-side, so the freq shuffle carries one row
    // per DISTINCT shingle (not per posting), and no task ever buffers a
    // hot shingle's full posting list — a window by shingle would ship
    // every exploded posting row combiner-less and pin each hot shingle
    // in one window partition (a multi-GB single-task buffer at 100 TB).
    // The join back to postings is skew-safe: SMJ streams the posting
    // side (the freq side has one row per key), AQE splits skewed
    // partitions, and at local SF the tiny freq frame broadcasts so the
    // postings aren't shuffled at all. Recomputing the narrow tokenize
    // lineage for the second pass is the correct price. Doc size n and
    // the freq-asc rank then share the one shuffle by doc_id (both
    // windows carry a partition spec). freq is coalesced non-null so
    // InferFiltersFromConstraints has no isnotnull to derive and the
    // array expression stays put.
    val sh = shinglesOf(docs)
    val freq = sh.groupBy($"shingle")
      .agg(coalesce(count(lit(1)), lit(0L)).as("freq"))
    val wDoc = Window.partitionBy($"doc_id")
    val wRank = Window.partitionBy($"doc_id").orderBy($"freq".asc, $"shingle".asc)
    val ranked = sh.join(freq, "shingle")
      .withColumn("n", count(lit(1)).over(wDoc))
      .withColumn("rnk", row_number().over(wRank).cast("long"))
    // rnk <= floor((1-τ)n)+1  ⟺  (rnk-1)·den <= (den-num)·n
    val prefix = ranked.where(($"rnk" - 1) * den <= lit(den - num) * $"n")
      .select($"doc_id", $"shingle", $"n", $"rnk")
    // size bound τ·na <= nb  ⟺  num·na <= den·nb; PLUS the PPJoin
    // positional filter: a match at 1-based prefix positions (i, j)
    // bounds the overlap by 1 + min(na−i, nb−j), and J ≥ τ needs
    // inter ≥ τ(na+nb)/(1+τ) ⟺ bound·(den+num) ≥ num·(na+nb). Safe on a
    // per-row basis: a qualifying pair's FIRST prefix match always
    // passes (its bound ≥ the true overlap) — later matches may be
    // filtered, which only helps the distinct. Cuts surviving
    // candidates ~2.5× (310k → 125k at sf0.1), and the verify pass is
    // the cost driver.
    val cand = prefix.as("a").join(prefix.as("b"),
        $"a.shingle" === $"b.shingle" && $"a.doc_id" < $"b.doc_id" &&
          lit(num) * $"a.n" <= lit(den) * $"b.n" &&
          lit(num) * $"b.n" <= lit(den) * $"a.n" &&
          (lit(1L) + least($"a.n" - $"a.rnk", $"b.n" - $"b.rnk")) * (den + num) >=
            lit(num) * ($"a.n" + $"b.n"))
      .select($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"),
        $"a.n".as("na"), $"b.n".as("nb"))
      .distinct()
    // exact verification against the per-doc shingle ARRAYS, not a
    // re-join of the exploded posting rows: candidates are few, so each
    // side is one equi-join of the corpus arrays against a small frame
    // (AQE broadcasts the candidate side) and the intersection is a
    // per-row array_intersect — no candidate×shingle row blowup, no
    // second corpus-wide aggregation
    val arrs = shingleArrsOf(docs)
    cand
      .join(arrs.select($"doc_id".as("id_a"), $"arr".as("arr_a")), "id_a")
      .join(arrs.select($"doc_id".as("id_b"), $"arr".as("arr_b")), "id_b")
      .select($"id_a", $"id_b", $"na", $"nb",
        coalesce(size(array_intersect($"arr_a", $"arr_b")), lit(0))
          .cast("long").as("inter"))
      // J >= τ  ⟺  inter·den >= num·(na+nb−inter)
      .where($"inter" * den >= lit(num) * ($"na" + $"nb" - $"inter"))
      .select($"id_a", $"id_b",
        ($"inter".cast("double") / ($"na" + $"nb" - $"inter")).as("jaccard"))
      .orderBy($"id_a", $"id_b")
  }

  val ngramJaccardSql: String =
    s"""WITH sh AS (SELECT * FROM $shinglesSql),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |  CAST(inter AS DOUBLE) / (na.n + nb.n - inter) AS jaccard
       |FROM inter
       |JOIN sizes na ON id_a = na.doc_id
       |JOIN sizes nb ON id_b = nb.doc_id
       |WHERE CAST(inter AS DOUBLE) / (na.n + nb.n - inter) >= 0.5
       |ORDER BY id_a, id_b""".stripMargin

  /** MinHash-LSH parameters: 16 hashes h_i(x) = (a_i·(x mod p) + b_i) mod p
    * over the 2³¹−1 prime field ([[MinHashSig]] holds them), banded 4×4.
    */
  val P: Long = MinHashSig.P
  val NumHashes: Int = MinHashSig.NumHashes
  val BandSize = 4
  val hashParams: Seq[(Int, Long, Long)] =
    (0 until NumHashes).map(i => (i, MinHashSig.A(i), MinHashSig.B(i)))

  /** Banded signature rows (doc_id, band, band_key, sig) of any
    * (doc_id, text) frame — the unit the incremental dedup store
    * persists, delta batches compute and the batch LSH self-joins.
    * band_key concatenates the band's 4 minhashes; sig carries the full
    * 16-hash signature so a band-key match can verify minhash agreement
    * WITHOUT a second lookup join. One projection and a bounded
    * 4-per-doc generator — no shuffle; documents without shingles emit
    * no rows.
    */
  private[graft] def signatureBands(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    Tables.fanOut(docs, docs("doc_id"))
      .select($"doc_id", signatureOf($"text").as("sig"))
      .select($"doc_id", explode(bandStructsOf($"sig")).as("bk"), $"sig")
      .select($"doc_id", $"bk.band", $"bk.band_key", $"sig")
  }

  /** MinHash signatures + LSH band-bucket near-dup pairs with the exact
    * minhash-agreement estimate. Shuffles only on band buckets — the
    * scale path that replaces the inverted-index join when shingle
    * posting lists explode.
    */
  def minhashLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    minhashEst(s, dir).orderBy($"id_a", $"id_b")
  }

  /** The unsorted (id_a, id_b, est_jaccard) estimate frame — one source
    * for the registered pair query, the sketch-accuracy scoreboard and
    * the edit-distance verify. One band self-join: each band row carries
    * its document's signature, so the agreement is computed on the
    * joined row and the distinct collapses a pair colliding in several
    * bands (its estimate is the same on every such row). Deliberately NOT
    * SessionCache-persisted: the frame is one scan, one projection and
    * one shuffled self-join, and each consumer's own downstream joins
    * dominate its cost — the consumers recompute the narrow lineage
    * instead, the jaccardPrefix second-pass convention.
    */
  private[graft] def minhashEst(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // both join sides read this one shuffle (hashed on the join keys, so
    // a sort-merge join adds no exchange and a broadcast builds from the
    // reused stage); without it each side scanned and signed the corpus
    val bands = signatureBands(Tables.documents(s, dir))
      .repartition($"band", $"band_key")
    bands.as("a").join(bands.as("b"),
        $"a.band" === $"b.band" && $"a.band_key" === $"b.band_key" &&
          $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"),
        agreement($"a.sig", $"b.sig").as("est_jaccard"))
      .distinct()
  }

  /** Shared oracle CTE chain ending in `est(id_a, id_b, est_jaccard)` —
    * one source for the pair query and the accuracy scoreboard.
    */
  private[operators] val minhashCtesSql: String = {
    val paramRows = hashParams.map { case (i, a, b) => s"($i, ${a}, ${b})" }.mkString(", ")
    s"""params(i, a, b) AS (VALUES $paramRows),
       |sh AS (SELECT doc_id, ${hash60Sql("shingle")} % ${P} AS x FROM $shinglesSql),
       |sigs AS (
       |  SELECT doc_id, i, min((a * x + b) % ${P}) AS mh
       |  FROM sh, params GROUP BY doc_id, i),
       |bands AS (
       |  SELECT doc_id, CAST(i // ${BandSize} AS INT) AS band,
       |    string_agg(mh, '-' ORDER BY i) AS band_key
       |  FROM sigs GROUP BY doc_id, CAST(i // ${BandSize} AS INT)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |est AS (
       |  SELECT id_a, id_b,
       |    CAST(sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) AS DOUBLE) / ${NumHashes}
       |      AS est_jaccard
       |  FROM cand
       |  JOIN sigs x ON x.doc_id = id_a
       |  JOIN sigs y ON y.doc_id = id_b AND x.i = y.i
       |  GROUP BY id_a, id_b)""".stripMargin
  }

  val minhashLshSql: String =
    s"""WITH $minhashCtesSql
       |SELECT id_a, id_b, est_jaccard FROM est
       |ORDER BY id_a, id_b""".stripMargin

  /** Sketch-accuracy SCOREBOARD for the MinHash estimator — the dedup
    * analog of q_ann_recall: every LSH candidate pair's 16-hash
    * agreement estimate NEXT TO the exact n-gram Jaccard it
    * approximates, with the absolute error. This is the query a 100 TB
    * deployment runs on a sample before trusting the sketch to replace
    * the inverted-index join (16 hashes ⇒ σ = √(J(1−J)/16) ≈ 0.125 at
    * J = 0.5; a drifting corpus shows up here first). Scale shape:
    * candidates come from band buckets (never all-pairs) and the exact
    * re-score is the verify-stage pattern — the per-doc shingle ARRAYS
    * equi-joined against the small candidate frame (AQE broadcasts the
    * candidate side), intersection as a per-row array_intersect. The
    * estimate m/16 and the ratio inter/(na+nb−inter) are both exact
    * IEEE divisions, so the scoreboard hash-checks.
    */
  def minhashAccuracy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val est = minhashEst(s, dir)
    val arrs = shingleArrs(s, dir)
    val jac = coalesce($"inter".cast("double") /
      ($"na" + $"nb" - $"inter"), lit(0.0))
    est
      .join(arrs.select($"doc_id".as("id_a"), $"arr".as("arr_a")), "id_a")
      .join(arrs.select($"doc_id".as("id_b"), $"arr".as("arr_b")), "id_b")
      .select($"id_a", $"id_b", $"est_jaccard",
        coalesce(size(array_intersect($"arr_a", $"arr_b")), lit(0))
          .cast("long").as("inter"),
        coalesce(size($"arr_a"), lit(0)).cast("long").as("na"),
        coalesce(size($"arr_b"), lit(0)).cast("long").as("nb"))
      .select($"id_a", $"id_b",
        round($"est_jaccard", 6).as("est_jaccard"),
        round(jac, 6).as("jaccard"),
        round(abs($"est_jaccard" - jac), 6).as("abs_err"))
      .orderBy($"id_a", $"id_b")
  }

  val minhashAccuracySql: String =
    s"""WITH $minhashCtesSql,
       |sizes AS (SELECT doc_id, count(*) AS n FROM $shinglesSql GROUP BY doc_id),
       |inter AS (
       |  SELECT e.id_a, e.id_b, count(*) AS inter
       |  FROM est e
       |  JOIN ${shinglesSqlAs("sha")} ON sha.doc_id = e.id_a
       |  JOIN ${shinglesSqlAs("shb")} ON shb.doc_id = e.id_b
       |    AND sha.shingle = shb.shingle
       |  GROUP BY e.id_a, e.id_b)
       |SELECT e.id_a, e.id_b,
       |  round(e.est_jaccard, 6) AS est_jaccard,
       |  round(coalesce(CAST(i.inter AS DOUBLE)
       |    / (na.n + nb.n - i.inter), 0.0), 6) AS jaccard,
       |  round(abs(e.est_jaccard - coalesce(CAST(i.inter AS DOUBLE)
       |    / (na.n + nb.n - i.inter), 0.0)), 6) AS abs_err
       |FROM est e
       |LEFT JOIN inter i ON i.id_a = e.id_a AND i.id_b = e.id_b
       |JOIN sizes na ON na.doc_id = e.id_a
       |JOIN sizes nb ON nb.doc_id = e.id_b
       |ORDER BY e.id_a, e.id_b""".stripMargin

  /** 64-bit SimHash fingerprints over tf-weighted token hashes (60 bits
    * used). Near-dup candidates at scale come from 15-bit chunk equality
    * (pigeonhole on hamming ≤ 3) — see DedupSpec; the oracle checks the
    * fingerprints themselves. One projection of the SimHash kernel; the
    * only shuffle is the output sort.
    */
  def simhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.fanOut(Tables.documents(s, dir), col("doc_id"))
      // a document without tokens has no fingerprint: text with no
      // non-whitespace character is exactly that case, and testing the
      // text (not the kernel's null) keeps the pushed-down filter from
      // evaluating the kernel a second time per row
      .where($"text".rlike("\\S"))
      .select($"doc_id", GE.simHash(TF.tokens($"text")).as("simhash"))
      .orderBy($"doc_id")
  }

  val simhashSql: String =
    s"""WITH tf AS (
       |  SELECT doc_id, token, count(*) AS tf FROM (
       |    SELECT doc_id, ${TF.tokensSqlSelect("text")} AS token FROM documents) t
       |  WHERE token <> '' GROUP BY doc_id, token),
       |tfx AS (SELECT doc_id, tf, ${hash60Sql("token")} AS x FROM tf),
       |contrib AS (
       |  SELECT doc_id, j, sum(tf * (((x >> j) & 1) * 2 - 1)) AS w
       |  FROM tfx, (SELECT unnest(generate_series(0, 59)) AS j) b
       |  GROUP BY doc_id, j)
       |SELECT doc_id,
       |  CAST(sum(CASE WHEN w > 0 THEN (1::BIGINT << j) ELSE 0::BIGINT END)
       |    AS BIGINT) AS simhash
       |FROM contrib GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** SimHash near-dup pairs with hamming distance ≤ k (k < 4): pigeonhole
    * candidates on equality of one of four 15-bit chunks (any pair within
    * hamming 3 must agree on ≥1 chunk), then verify the exact hamming
    * distance — identical result to brute force, but the join key bounds
    * the shuffle at scale.
    */
  def simhashPairs(s: SparkSession, dir: String, maxHamming: Int = 3): DataFrame = {
    import s.implicits._
    require(maxHamming < 4, "4 chunks pigeonhole only covers hamming <= 3")
    val fp = simhash(s, dir)
    val chunks = fp.select($"doc_id", $"simhash",
        explode(array((0 until 4).map { c =>
          struct(lit(c).as("chunk"),
            call_function("shiftright", $"simhash", lit(c * 15))
              .bitwiseAND(lit(32767L)).as("ckey"))
        }: _*)).as("ck"))
      .select($"doc_id", $"simhash", $"ck.chunk", $"ck.ckey")
    val hamming = call_function("bit_count",
      $"a.simhash".bitwiseXOR($"b.simhash"))
    chunks.as("a").join(chunks.as("b"),
        $"a.chunk" === $"b.chunk" && $"a.ckey" === $"b.ckey" &&
          $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"),
        hamming.as("hamming")).distinct()
      .where($"hamming" <= maxHamming)
      .orderBy($"id_a", $"id_b")
  }

  /** Shingle-CONTAINMENT near-dup pairs (asymmetric: |A∩B|/|A| ≥ τ,
    * τ = 0.8) — catches doc-inside-doc duplication that symmetric
    * Jaccard misses: a short doc embedded verbatim in a long one has
    * J ≈ na/nb (arbitrarily small) but containment ≈ 1. Output rows are
    * ORDERED pairs (id_a = the contained doc, id_b = its container);
    * near-identical docs appear in both directions, which is the
    * operator's semantics, not a dedup bug.
    *
    * The PPJoin prefix lemma holds ONE-SIDED for containment: a pair
    * with inter ≥ τ·na must match inside A's first ⌊(1−τ)·na⌋+1
    * rare-first shingles, so only the contained side prunes to its
    * prefix; the containing side joins with full posting rows (the only
    * size bound is nb ≥ τ·na, since inter ≤ nb — there is no upper
    * bound, a container may be any size). Hot-shingle skew still
    * cancels: rare-first prefix ranking drops frequent shingles from
    * the prefix side, so a hot posting list on the full side meets few
    * prefix rows. Exact verify re-scores surviving candidates against
    * the per-doc shingle arrays (the jaccard array_intersect shape).
    */
  def containment(s: SparkSession, dir: String): DataFrame =
    containmentOn(s, Tables.documents(s, dir), 0.8)

  private[graft] def containmentOn(
      s: SparkSession, docs: DataFrame, tau: Double): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // exact rational τ = num/den — the ngramJaccardPrefix precedent
    val frac = BigDecimal(tau.toString)
    val den = BigDecimal(10).pow(frac.scale).toLongExact
    val num = (frac * den).toLongExact
    val sh = shinglesOf(docs)
    val freq = sh.groupBy($"shingle")
      .agg(coalesce(count(lit(1)), lit(0L)).as("freq"))
    val wDoc = Window.partitionBy($"doc_id")
    val wRank = Window.partitionBy($"doc_id").orderBy($"freq".asc, $"shingle".asc)
    val ranked = sh.join(freq, "shingle")
      .withColumn("n", count(lit(1)).over(wDoc))
      .withColumn("rnk", row_number().over(wRank).cast("long"))
    // contained-side prefix: rnk <= floor((1-τ)·na)+1
    val prefix = ranked.where(($"rnk" - 1) * den <= lit(den - num) * $"n")
      .select($"doc_id", $"shingle", $"n", $"rnk")
    val full = ranked.select($"doc_id", $"shingle", $"n", $"rnk")
    // size bound nb ≥ τ·na, plus the one-sided positional filter: a
    // match at prefix position i bounds the overlap by
    // 1 + min(na−i, nb−j), and containment needs inter ≥ τ·na. Safe
    // per-row: a qualifying pair's FIRST prefix match always passes.
    val cand = prefix.as("a").join(full.as("b"),
        $"a.shingle" === $"b.shingle" && $"a.doc_id" =!= $"b.doc_id" &&
          lit(num) * $"a.n" <= lit(den) * $"b.n" &&
          (lit(1L) + least($"a.n" - $"a.rnk", $"b.n" - $"b.rnk")) * den >=
            lit(num) * $"a.n")
      .select($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"), $"a.n".as("na"))
      .distinct()
    val arrs = shingleArrsOf(docs)
    cand
      .join(arrs.select($"doc_id".as("id_a"), $"arr".as("arr_a")), "id_a")
      .join(arrs.select($"doc_id".as("id_b"), $"arr".as("arr_b")), "id_b")
      .select($"id_a", $"id_b", $"na",
        coalesce(size(array_intersect($"arr_a", $"arr_b")), lit(0))
          .cast("long").as("inter"))
      // containment ≥ τ  ⟺  inter·den ≥ num·na
      .where($"inter" * den >= lit(num) * $"na")
      .select($"id_a", $"id_b",
        ($"inter".cast("double") / $"na").as("containment"))
      .orderBy($"id_a", $"id_b")
  }

  val containmentSql: String =
    s"""WITH sh AS (SELECT * FROM $shinglesSql),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, CAST(inter AS DOUBLE) / na.n AS containment
       |FROM inter JOIN sizes na ON id_a = na.doc_id
       |WHERE inter * 10 >= 8 * na.n
       |ORDER BY id_a, id_b""".stripMargin

  /** MinHash-LSH parameter planner — the S-curve analysis (Leskovec,
    * Rajaraman & Ullman, MMDS ch. 3) of every (bands b, rows r)
    * factoring of the 16-hash signature, GROUNDED on the actual corpus:
    * alongside the theory columns (collision probability
    * p(s) = 1 − (1 − s^r)^b and curve threshold s* = (1/b)^{1/r}) it
    * counts the candidate pairs each banding would actually generate
    * (Σ_buckets n·(n−1)/2, pre-distinct — the verify-join work metric).
    * The registered 4×4 banding has s* ≈ 0.707 — the τ ≥ 0.7 floor
    * where Similarity.cosineDedupRouted switches from quadratic sweeps
    * to candidate joins is this curve's knee, not folklore. ONE corpus
    * pass: one signature per doc, every factoring's band keys emitted
    * from it (31 band rows per doc) and one groupBy counts all buckets.
    */
  def lshPlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val factorings = Seq((1, 16), (2, 8), (4, 4), (8, 2), (16, 1))
    val sigs = Tables.fanOut(Tables.documents(s, dir), col("doc_id"))
      .select(signatureOf($"text").as("sig"))
    val allBands = sigs.select(explode(array(factorings.map { case (b, r) =>
        struct(lit(b).as("bands"), bandStructsOf($"sig", r).as("bks"))
      }: _*)).as("f"))
      .select($"f.bands".as("bands"), explode($"f.bks").as("bk"))
      .select($"bands", $"bk.band", $"bk.band_key")
    val cand = allBands.groupBy($"bands", $"band", $"band_key")
      .agg(count(lit(1)).as("n"))
      .groupBy($"bands")
      .agg(coalesce(sum(expr("n * (n - 1) div 2")), lit(0L)).as("cand_pairs"))
    val fac = factorings.toDF("bands", "rows_per_band")
    def pAt(sim: Double) = round(
      lit(1.0) - pow(lit(1.0) - pow(lit(sim), $"rows_per_band"), $"bands"), 6)
    cand.join(broadcast(fac), "bands")
      .select($"bands", $"rows_per_band",
        round(pow(lit(1.0) / $"bands", lit(1.0) / $"rows_per_band"), 6).as("s_star"),
        pAt(0.5).as("p_at_50"), pAt(0.7).as("p_at_70"), pAt(0.9).as("p_at_90"),
        $"cand_pairs")
      .orderBy($"bands")
  }

  val lshPlanSql: String = {
    val paramRows = hashParams.map { case (i, a, b) => s"($i, ${a}, ${b})" }.mkString(", ")
    s"""WITH params(i, a, b) AS (VALUES $paramRows),
       |sh AS (SELECT doc_id, ${hash60Sql("shingle")} % ${P} AS x FROM $shinglesSql),
       |sigs AS (
       |  SELECT doc_id, i, min((a * x + b) % ${P}) AS mh
       |  FROM sh, params GROUP BY doc_id, i),
       |fac(bands, rows_per_band) AS (VALUES (1, 16), (2, 8), (4, 4), (8, 2), (16, 1)),
       |allbands AS (
       |  SELECT s.doc_id, f.bands, f.rows_per_band,
       |    CAST(i // f.rows_per_band AS INT) AS band,
       |    string_agg(mh, '-' ORDER BY i) AS band_key
       |  FROM sigs s CROSS JOIN fac f
       |  GROUP BY s.doc_id, f.bands, f.rows_per_band, CAST(i // f.rows_per_band AS INT)),
       |counts AS (
       |  SELECT bands, band, band_key, count(*) AS n
       |  FROM allbands GROUP BY bands, band, band_key),
       |cand AS (
       |  SELECT bands, CAST(sum(n * (n - 1) // 2) AS BIGINT) AS cand_pairs
       |  FROM counts GROUP BY bands)
       |SELECT f.bands, f.rows_per_band,
       |  round(power(1.0 / f.bands, 1.0 / f.rows_per_band), 6) AS s_star,
       |  round(1 - power(1 - power(0.5, f.rows_per_band), f.bands), 6) AS p_at_50,
       |  round(1 - power(1 - power(0.7, f.rows_per_band), f.bands), 6) AS p_at_70,
       |  round(1 - power(1 - power(0.9, f.rows_per_band), f.bands), 6) AS p_at_90,
       |  cand_pairs
       |FROM fac f JOIN cand USING (bands) ORDER BY f.bands""".stripMargin
  }

  /** Edit-distance VERIFICATION over the LSH candidates — the
    * character-level precision stage of a fuzzy-dedup pipeline
    * (shingle Jaccard is coarse on short docs: one word swapped in a
    * 10-word doc destroys most of its 3-gram shingles while the
    * Levenshtein similarity stays high — this stage catches what the
    * token-level verify under-scores). Cost discipline: Levenshtein is
    * O(len²) per pair, so it runs ONLY on the banded candidate set
    * (never all-pairs — at 100 TB the candidate count, not the corpus,
    * bounds this stage); both engines ship the identical integer
    * `levenshtein`, so the scoreboard hash-checks. Emits every
    * candidate with its distance, normalized similarity
    * 1 − d/max(len), and the ≥0.8 gate — exact-integer compare
    * (5·d ≤ max len) so the flag can't flip on a float boundary.
    */
  def editDistancePairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cand = minhashEst(s, dir).select($"id_a", $"id_b")
    val docs = Tables.documents(s, dir).select($"doc_id", $"text")
    cand
      .join(docs.select($"doc_id".as("id_a"), $"text".as("ta")), "id_a")
      .join(docs.select($"doc_id".as("id_b"), $"text".as("tb")), "id_b")
      .select($"id_a", $"id_b",
        levenshtein($"ta", $"tb").cast("long").as("dist"),
        greatest(length($"ta"), length($"tb")).cast("long").as("mx"))
      .select($"id_a", $"id_b", $"dist",
        round(lit(1.0) - $"dist".cast("double") / $"mx", 6).as("edit_sim"),
        ($"dist" * 5 <= $"mx").as("is_dup"))
      .orderBy($"id_a", $"id_b")
  }

  val editDistancePairsSql: String =
    s"""WITH $minhashCtesSql
       |SELECT e.id_a, e.id_b,
       |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist,
       |  round(1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE)
       |    / greatest(length(a.text), length(b.text)), 6) AS edit_sim,
       |  levenshtein(a.text, b.text) * 5
       |    <= greatest(length(a.text), length(b.text)) AS is_dup
       |FROM est e
       |JOIN documents a ON a.doc_id = e.id_a
       |JOIN documents b ON b.doc_id = e.id_b
       |ORDER BY e.id_a, e.id_b""".stripMargin

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("q_dedup_exact", exact, Some(exactSql)),
    GraftQuery("q_dedup_ngram_jaccard", ngramJaccardPrefix(_, _),
      Some(ngramJaccardSql)),
    GraftQuery("q_dedup_minhash", minhashLsh, Some(minhashLshSql)),
    GraftQuery("q_dedup_simhash", simhash, Some(simhashSql)),
    GraftQuery("q_dedup_containment", containment, Some(containmentSql)),
    GraftQuery("q_lsh_plan", lshPlan, Some(lshPlanSql)),
    GraftQuery("q_minhash_accuracy", minhashAccuracy, Some(minhashAccuracySql)),
    GraftQuery("q_dedup_editdist", editDistancePairs, Some(editDistancePairsSql)))
}
