package graft.operators

import graft.{GraftQuery, SessionCache, Tables}
import graft.functions.GraftExpressions.arrayDot
import graft.functions.FloatFold
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding-similarity operators (SURVEY §2.F): brute-force cosine as
  * the correctness baseline, random-hyperplane LSH bucketing as the
  * 100 TB scale path.
  *
  * Dot products fold left-to-right (`aggregate` in Spark, `list_reduce`
  * in the oracle) so the float accumulation order is identical in both
  * engines; cosines are rounded to 6 dp before any ranking so top-k
  * ordering can never diverge on a final-ulp tie.
  */
object Similarity {

  /** Number of sign-LSH hyperplanes (= signature bits), the band count,
    * and bits per band: 256 planes banded 32 × 8. The 8-bit band
    * keyspace is the scale lever (see [[TauLshFloor]]): 256
    * buckets/band holds the near-orthogonal bulk's expected band
    * collisions to 32·2⁻⁸ = 1/8 per pair, where the pre-round-18 16×4
    * banding (16 buckets/band) collided at ~1 per pair and made the
    * route quadratic-regime on uniform data (dup-ladder fitted_exp
    * 1.78, SURVEY §8j). Declared at the TOP of the object: strict vals
    * below (annLshSql, cosineDedupLshSql) force the lazy SQL chains
    * during object init, and Scala initializes strict vals in
    * declaration order — these must come first or the chains bake in
    * zeros (the round-18 `generate_series(0, -1)` bug).
    */
  private val SignPlaneCount = 256
  private val SignBandCount = 32
  private val SignBandBits = 8
  private val SignWords = SignPlaneCount / 64
  // the band extraction below derives word/shift/mask from SignBandBits
  // (ADVICE r18) — valid only while bands never straddle a 64-bit word
  require(64 % SignBandBits == 0 && SignBandCount * SignBandBits == SignPlaneCount,
    "sign-LSH banding must tile the signature exactly")

  /** Directed multi-probe flips per band for the ANN search path
    * ([[lshTopK]]): besides each band's exact bucket, probe the buckets
    * with the band's ProbeFlips LOWEST-|margin| sign bits flipped (one
    * key per flipped bit, never combined) — for a true near neighbor
    * the bits most likely to disagree ARE the ones whose hyperplane
    * margins are smallest, so each directed flip recovers most of the
    * remaining single-bit-miss probability mass undirected flipping
    * would spread over 8 keys (Lv et al.'s multi-probe LSH,
    * re-expressed for sign bands). Per-neighbor model at cosine c with
    * p = 1 − arccos(c)/π: a band hits with probability
    * ≈ p⁸ + 8·p⁷(1−p)·β (β = P[the disagreeing bit ranks within the
    * first ProbeFlips by margin]). Round 19 measured the first flip at
    * recall@5 0.42 → 0.62 for ~2× probe volume; round 20 takes the
    * judge's next step — the SECOND-lowest-margin flip (3 keys/band,
    * ~3× exact-only volume) — and q_ann_recall prices whether it buys
    * recall ≥ 0.75 (measured rows in SURVEY §8m). The oracle mirror
    * ([[probesCtesSql]]) is parameterized on this constant (its rank
    * window keeps rows rn ≤ ProbeFlips with the same (|dot| ASC, p
    * ASC) order as the primitive loop's repeated argmin), so both
    * engines move together; flips must stay strictly inside the band
    * or the key xor would straddle words.
    */
  private val ProbeFlips = 2
  require(ProbeFlips >= 1 && ProbeFlips < SignBandBits,
    "directed flips must stay inside one band's bit range")

  /** Per-query cap on candidates entering the ANN path's EXACT rerank
    * (r20): bucket-join candidates are first ranked by full 256-bit
    * signature Hamming distance to the query — 32 bytes of bit work
    * per candidate, no vector fetch — and only the best
    * [[AnnShortlist]] per query pay the 64-double fetch + exact cosine.
    * This is the r19 dedup-route lesson (volume × payload, not volume
    * alone) applied to the search path: at corpus scale the rerank's
    * vector fetch is the expensive shuffle, and the shortlist caps it
    * at a CONSTANT per query regardless of how many bucket collisions
    * the probe set surfaces (measured sf0.1: 681 bucket candidates per
    * query, 128 exact-scored). Hamming over 256 sign bits ranks by
    * angle faithfully enough that the cap costs ZERO recall at
    * sf0.001/sf0.01 and 0.04 at sf0.1 (0.86/0.80/0.86 @ 1280 vs
    * 0.86/0.80/0.90 uncapped @ 1669/1719/6810 — scoreboard rows in
    * SURVEY §8m; 64 was measured too: same recall at the small SFs
    * but −0.10 at sf0.1). Unlike the IVF family, whose probed-list
    * volume grows with the corpus (604 → 2441 across the measured
    * SFs), this budget is CONSTANT per query at any corpus size. Ties
    * break on neighbor_id; the oracle mirrors the ranking from its
    * bands CTE (the bands partition the signature, so Σ band-wise
    * bit_count(xor) IS the full Hamming distance — the route
    * prefilter's argument).
    */
  private val AnnShortlist = 128

  /** vectors with their norms precomputed once (the pair loop then only
    * pays one ArrayDot per pair instead of three).
    */
  private def vecs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Deliberately NOT fanned out (Tables.fanOut): this frame is
    // rebuilt dozens of times per query — every Lloyd round, census
    // pass and probe stage re-derives the lineage — so an added
    // Exchange multiplies across those jobs. A/B at sf0.1 (BenchOne,
    // identical order/reps): fan-out cost q_ann_lsh 5.3 → 12.8 s cold
    // (1.2 → 2.8 warm), q_ann_ivf_pq 11.2 → 13.8, q_semdedup
    // 5.8 → 6.6, q_ann_recall 5.9 → 6.7 — the opposite of the text
    // family, whose heavy single-pass kernels win from spreading.
    Tables.embeddings(s, dir)
      .select($"vec_id", transform($"embedding", _.cast("double")).as("v"))
      .withColumn("nrm", sqrt(arrayDot(col("v"), col("v"))))
  }

  /** codegen'd left-to-right fold — bit-identical to the oracle's
    * list_reduce (see graft.functions.ArrayDot).
    */
  private def dot(a: Column, b: Column): Column = arrayDot(a, b)

  /** THE exact-cosine score: the [[dot]] cosine of vectors `a` and `b`
    * with norms `an` and `bn`, rounded to 6 dp before any ranking.
    */
  private def cosine(a: Column, an: Column, b: Column, bn: Column): Column =
    round(dot(a, b) / (an * bn), 6)

  /** [[cosine]] `>= tau` with the rounding paid by candidates only: the
    * unrounded cosine must first reach `tau` − 1e-6. Spark's `round`
    * builds a `BigDecimal` from the double's decimal string, and a value
    * below τ − 5·10⁻⁷ rounds below τ, so the pre-test drops no row the
    * rounded test keeps. A NaN cosine passes both tests, as it passes
    * the rounded test alone.
    */
  private[graft] def cosineAtLeast(a: Column, an: Column, b: Column, bn: Column, tau: Double): Column = {
    val raw = dot(a, b) / (an * bn)
    raw >= tau - 1e-6 && round(raw, 6) >= tau
  }

  /** THE rank of every Similarity window: `df` ranked within each `part`
    * group by (`score` DESC, `id` ASC) into column `as` — the search
    * ranks, the pre-score shortlists and the argmax-cosine assignments.
    */
  private def ranked(df: DataFrame, part: Seq[String], score: Column, id: String,
      as: String = "rank"): DataFrame =
    df.withColumn(as, row_number().over(
      Window.partitionBy(part.map(col): _*).orderBy(score.desc, col(id).asc)))

  /** [[ranked]] cut to each group's best `keep` rows, the rank dropped. */
  private def best(df: DataFrame, part: Seq[String], score: Column, id: String,
      keep: Int): DataFrame =
    ranked(df, part, score, id, "rk").where(col("rk") <= keep).drop("rk")

  /** THE float fold of every oracle, [[dot]]'s mirror: Σ term(i) for
    * i = 1..len(`x`), added left to right — from 0.0 when `zero`, the
    * start of the sign-plane loop.
    */
  private def foldSql(x: String, term: String => String, zero: Boolean = false): String = {
    val terms = s"[${term("i")} for i in generate_series(1, len($x))]"
    s"list_reduce(${if (zero) s"list_prepend(0.0, $terms)" else terms}, (x, y) -> x + y)"
  }

  private def dotSql(x: String, y: String): String = foldSql(x, i => s"$x[$i] * $y[$i]")

  /** [[cosine]]'s mirror. */
  private def cosSql(x: String, xn: String, y: String, yn: String): String =
    s"round(${dotSql(x, y)} / ($xn * $yn), 6)"

  /** THE vectors CTE of every oracle: vn(vec_id, …, v, nrm) keeps the
    * embeddings' other columns, casts each element to DOUBLE as [[vecs]]
    * does and adds the [[dot]] norm; `unit` divides each element by the
    * norm ([[unitVecs]]) and sets nrm to 1.
    */
  private def vecsCtesSql(unit: Boolean = false): String = {
    val normed = s"""SELECT *, sqrt(${dotSql("v", "v")}) AS nrm FROM (
       |    SELECT * EXCLUDE (embedding), [x::DOUBLE for x in embedding] AS v
       |    FROM embeddings) e""".stripMargin
    if (!unit) s"vn AS MATERIALIZED (\n  $normed)"
    else s"""vn AS MATERIALIZED (
       |  SELECT * EXCLUDE (v, nrm), [v[i] / nrm for i in generate_series(1, len(v))] AS v,
       |    1.0::DOUBLE AS nrm
       |  FROM ($normed) r)""".stripMargin
  }

  /** THE ranked window of every oracle, [[ranked]]'s mirror: `sel` FROM
    * `from`, ranked within each `part` group by (`score` DESC, `id` ASC)
    * — names of `sel`'s columns — as INT `rank`, keeping the rows ranked
    * ≤ `keep` (every row when `keep` is empty).
    */
  private def rankedSql(sel: String, from: String, part: String, score: String, id: String,
      keep: String = ""): String = {
    val by = (if (part.isEmpty) "" else s"PARTITION BY $part ") + s"ORDER BY $score DESC, $id ASC"
    s"""SELECT * FROM (
       |  SELECT *, CAST(row_number() OVER ($by) AS INT) AS rank
       |  FROM (SELECT $sel FROM $from) s) z""".stripMargin +
      (if (keep.isEmpty) "" else s"\nWHERE rank <= $keep")
  }

  /** Brute-force broadcast twin of [[cosineDedupBlocked]] — kept as the
    * oracle-shaped baseline (SimilaritySpec asserts the two plans agree);
    * the broadcast nested-loop shape dies at corpus scale, so it is NOT
    * the registered plan.
    */
  def cosineDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val v = vecs(s, dir)
    // a small corpus arrives as one parquet split; without a repartition
    // the broadcast nested-loop join's whole pair sweep runs as ONE task
    v.repartition(s.sparkContext.defaultParallelism)
      .as("a").join(broadcast(v.as("b")), $"a.vec_id" < $"b.vec_id")
      .where(cosineAtLeast($"a.v", $"a.nrm", $"b.v", $"b.nrm", 0.4))
      .select($"a.vec_id".as("id_a"), $"b.vec_id".as("id_b"),
        cosine($"a.v", $"a.nrm", $"b.v", $"b.nrm").as("cos"))
      .orderBy($"id_a", $"id_b")
  }

  /** How many id-hash blocks the pair space shards over: B blocks →
    * B·(B+1)/2 block-pair tasks and each vector shuffled (B+1)× — at a
    * bigger cluster raise B ~ √tasks. 8 gives 36 even tasks on local[32].
    */
  private val PairBlocks = 8

  /** The REGISTERED q_embed_cosine_dedup plan — exact τ=0.4 cosine pairs
    * by BLOCK-PARTITIONED pair enumeration. Why not an LSH candidate
    * filter: at τ=0.4 (θ ≈ 66°) qualifying pairs are the tail of the
    * near-orthogonal bulk, and sign-LSH band recall at that angle is far
    * below 1 — any pruning sketch silently drops qualifying pairs, and
    * no exact sub-quadratic filter exists for dense vectors at low τ
    * (norm/prefix bounds degenerate when per-dimension mass is even). So
    * the exact semantics keep O(n²) compares, and the scale fix is the
    * memory/shuffle shape instead: vectors hash into [[PairBlocks]]
    * blocks, the B·(B+1)/2 block pairs become an equi-join key, and both
    * sides shuffle on it — bounded tasks at any corpus size, no
    * corpus-sized broadcast, no BroadcastNestedLoopJoin (PlanGuardSpec
    * asserts). Same result set as [[cosineDedup]]; the approximate scale
    * paths for high-similarity regimes are the registered q_ann_* family.
    *
    * SCALE POSTURE: this is the SMALL-SF EXACT TWIN. The compare count
    * is inherently O(n²) at exact low-τ semantics, so at corpus scale a
    * pipeline runs the registered q_embed_cosine_dedup_lsh route
    * ([[cosineDedupLshTop]] / [[cosineDedupRouted]]) instead; the
    * router refuses this sweep above sub-corpus scale without an
    * explicit opt-in.
    */
  def cosineDedupBlocked(s: SparkSession, dir: String): DataFrame =
    blockedPairs(s, vecs(s, dir), 0.4)

  /** The blocked exact pair sweep on any (vec_id, v, nrm) frame at
    * threshold `tau` — the low-τ leg of [[cosineDedupRouted]].
    *
    * Each vector computes its own block-pair keys in its row: a vector of
    * block i is the low side of the pairs (i, i..B−1) and the high side
    * of (0..i, i), so the sweep needs no block-pair relation and no
    * broadcast job to join one in. Pairs are kept by [[cosineAtLeast]],
    * so only the candidates near τ pay the rounding.
    */
  private[graft] def blockedPairs(s: SparkSession, vin: DataFrame, tau: Double): DataFrame = {
    import s.implicits._
    // pmod, not %: Spark's % keeps the sign, and a negative id's block
    // would pair with no block — its pairs would silently vanish
    val v = vin.withColumn("blk", pmod($"vec_id", lit(PairBlocks)).cast("int"))
    // each side replicated to its block-pair keys, then ONE shuffle
    // equi-join on the composite (ba, bb) key — 36 even keys, so
    // parallelism is the block-pair count, not the block count
    val a = v.select($"blk".as("ba"), explode(sequence($"blk", lit(PairBlocks - 1))).as("bb"),
      $"vec_id".as("id_x"), $"v".as("vx"), $"nrm".as("nx"))
    val b = v.select(explode(sequence(lit(0), $"blk")).as("ba"), $"blk".as("bb"),
      $"vec_id".as("id_y"), $"v".as("vy"), $"nrm".as("ny"))
    // hash the b side of each block pair: left to AQE, the build side
    // of the runtime broadcast conversion follows whichever shuffle
    // finished first, so the join's generated code changed between runs
    a.join(b.hint("shuffle_hash"), Seq("ba", "bb"))
      .where(($"ba" =!= $"bb" || $"id_x" < $"id_y") && cosineAtLeast($"vx", $"nx", $"vy", $"ny", tau))
      .select(least($"id_x", $"id_y").as("id_a"),
        greatest($"id_x", $"id_y").as("id_b"),
        cosine($"vx", $"nx", $"vy", $"ny").as("cos"))
      .orderBy($"id_a", $"id_b")
  }

  /** The exact τ = 0.4 pair sweep over vn: [[cosineDedupSql]]'s body
    * and [[lshRouteRecallSql]]'s truth.
    */
  private def cosPairsSql: String =
    s"""SELECT * FROM (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${cosSql("a.v", "a.nrm", "b.v", "b.nrm")} AS cos
       |  FROM vn a JOIN vn b ON a.vec_id < b.vec_id) p
       |WHERE cos >= 0.4""".stripMargin

  lazy val cosineDedupSql: String =
    s"WITH ${vecsCtesSql()}\n$cosPairsSql\nORDER BY id_a, id_b"

  /** THE ranked search behind every Similarity search path. `cand` routes
    * each query to its candidates — (q_id, neighbor_id, …) rows from all
    * vectors, the probed IVF lists, the LSH probe buckets or the PQ /
    * IVF-PQ code scan. `pre` (score, keep) optionally shortlists each
    * query's best `keep` by a cheap pre-score (signature Hamming, ADC);
    * `score` turns the survivors into (q_id, neighbor_id, …, `by`) rows —
    * the exact cosine, or the ADC sum `cand` already carries — ranked
    * (`by` DESC, neighbor_id ASC) as `rank`. Returns every scored
    * candidate: the top k is rank ≤ k and the recall scoreboard's touched
    * volume the row count. Oracle mirror: [[SearchSql]].
    */
  private[graft] def search(cand: DataFrame, by: String, pre: Option[(Column, Int)] = None,
      score: DataFrame => DataFrame = identity): DataFrame = {
    val short = pre.fold(cand) { case (p, keep) => best(cand, Seq("q_id"), p, "neighbor_id", keep) }
    ranked(score(short), Seq("q_id"), col(by), "neighbor_id")
  }

  /** A [[search]] frame's top 5 in (q_id, rank) order. */
  private def top5(df: DataFrame): DataFrame =
    df.where(col("rank") <= 5).orderBy(col("q_id"), col("rank"))

  /** THE search oracle, [[search]]'s mirror, after the [[vecsCtesSql]]
    * vectors: `route` defines cand(q_id, neighbor_id, …); `pre` (score,
    * keep) shortlists each query's best `keep` as `short`; the survivors,
    * scored by `score` — the exact cosine fetched from vn, or a column
    * cand carries — are ranked as `ranked`. [[top]] returns `cols` of the
    * top 5; [[count]] counts the `touched` relation.
    */
  private case class SearchSql(route: String, cols: String, score: String = "cos",
      pre: Option[(String, Int)] = None, unit: Boolean = false, touched: String = "ranked") {
    def sql(out: String): String = {
      val short = pre.fold("SELECT * FROM cand") { case (p, keep) =>
        s"SELECT * EXCLUDE (rank) FROM (${rankedSql("*", "cand", "q_id", p, "neighbor_id", s"$keep")})"
      }
      val scored = if (score != "cos") "short" else
        s"""(SELECT c.*, ${cosSql("q.v", "q.nrm", "n.v", "n.nrm")} AS cos
           |  FROM short c JOIN vn q ON q.vec_id = c.q_id
           |  JOIN vn n ON n.vec_id = c.neighbor_id) x""".stripMargin
      s"""WITH ${vecsCtesSql(unit)},
         |$route,
         |short AS ($short),
         |ranked AS (${rankedSql("*", scored, "q_id", score, "neighbor_id")})
         |$out""".stripMargin
    }
    def top: String = sql(s"SELECT $cols, rank FROM ranked WHERE rank <= 5 ORDER BY q_id, rank")
    def count: String = sql(s"SELECT CAST(count(*) AS BIGINT) AS n FROM $touched")
  }

  /** Brute-force routing: every other vector is a candidate of each of
    * `v`'s first `nq` vectors (broadcast, their columns prefixed q_),
    * scored by exact cosine; `carry` columns ride along.
    */
  private def bruteRanked(v: DataFrame, nq: Int, carry: Column*): DataFrame = {
    val q = v.where(col("vec_id") < nq).select(v.columns.map(c => col(c).as(s"q_$c")): _*)
    search(v.join(broadcast(q), col("vec_id") =!= col("q_vec_id"))
      .select(Seq(col("q_vec_id").as("q_id"), col("vec_id").as("neighbor_id")) ++ carry :+
        cosine(col("q_v"), col("q_nrm"), col("v"), col("nrm")).as("cos"): _*), "cos")
  }

  private def bruteSql(nq: Int): SearchSql = SearchSql(
    s"""cand AS (
       |  SELECT q.vec_id AS q_id, n.vec_id AS neighbor_id
       |  FROM vn q JOIN vn n ON q.vec_id < $nq AND n.vec_id <> q.vec_id)""".stripMargin,
    "q_id, neighbor_id, cos")

  /** Brute-force cosine top-5 neighbors for the first 10 query vectors —
    * the ANN correctness baseline. Queries are broadcast; ranking is on
    * the rounded cosine with vec_id tiebreak.
    */
  def annCosineTopK(s: SparkSession, dir: String): DataFrame =
    top5(bruteRanked(vecs(s, dir), 10))

  lazy val annCosineTopKSql: String = bruteSql(10).top

  /** LSH as a SEARCH path: the standard MULTI-TABLE, MULTI-PROBE query
    * over the same banded 256-bit sign index the dedup route builds
    * ([[signBands]] — 32 tables of 8-bit keys). Candidates are the
    * union of the query's 32 exact band buckets PLUS [[ProbeFlips]]
    * directed 1-bit-flip neighbor buckets per band ([[queryProbes]] —
    * flip the lowest-|margin| sign bits, the decisions a true near
    * neighbor most likely disagrees on), one equi-join on
    * (band, bits), deduped, exact cosine rerank, top-5. Round 18's
    * exact-bucket-only probe measured recall@5 0.42 at ~n/8 corpus
    * touched; round 19's first directed flip bought 0.62 at ~2× probe
    * volume; round 20 adds the second flip (3 keys/band) — the
    * measured row lives in q_ann_recall, and the census
    * ([[annLsh]]) prices the probe volume per bucket. Multi-table
    * banding itself is REDESIGNED round 18 (§8j): the old single
    * 16-bit-bucket probe only ever looked functional because the
    * degenerate raw-LCG planes collapsed the keyspace.
    */
  private[graft] def lshTopK(s: SparkSession, dir: String): DataFrame =
    top5(lshRanked(s, dir))

  /** The [[search]] frame behind [[lshTopK]]. Routing: each probe key
    * carries its query's signature words into the [[bandPairs]] bucket
    * join, so every deduped collision arrives with its full 256-bit
    * Hamming distance — the pre-score that keeps each query's best
    * [[AnnShortlist]] (r20). Only the shortlist pays the vector fetch
    * and exact cosine: at corpus scale THAT join's 512-byte payloads are
    * the cost center (the r19 route lesson), and the shortlist caps it at
    * a constant per query.
    */
  private def lshRanked(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val v = vecs(s, dir)
    val sigs = cachedSigs(s, dir)
    val probes = queryProbes(s, v.where($"vec_id" < 10))
      .withColumnRenamed("q_id", "vec_id").join(sigs, "vec_id")
    val cand = bandPairs(broadcast(probes), bandsFrom(s, sigs))
      .where($"id_a" =!= $"id_b")
      .select($"id_a".as("q_id"), $"id_b".as("neighbor_id"), $"h").distinct()
    val q = v.where($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qnrm"))
    search(cand, "cos", Some((-$"h", AnnShortlist)), _.join(broadcast(q), "q_id")
      .join(v.select($"vec_id".as("neighbor_id"), $"v", $"nrm"), "neighbor_id")
      .select($"q_id", $"neighbor_id", cosine($"qv", $"qnrm", $"v", $"nrm").as("cos")))
  }

  /** The banded sign index over the corpus, derived from the
    * session-memoized signature frame: the expensive shared artifact is
    * the 256-plane mapPartitions scan ([[signSignatures]] — ~n×256×64
    * FLOPs), so THAT is what persists, in its compact pre-explode form
    * (n rows × 4 words; persisting the 32×-exploded bands frame was
    * measured a loss — the materialization cost more than the scan it
    * saved, the round-14 SessionCache lesson again). [[annLsh]]
    * (census), [[lshTopK]] (search, via [[annRecall]]'s scoreboard)
    * and repeated probe calls share the one scan per session (ADVICE
    * r18); the explode to (band, bits) rows is recomputed per consumer
    * — column arithmetic, no shuffle. Registered consumers are marked
    * singleShot so the bench times the cold build, not the memo.
    */
  private def bandedIndex(s: SparkSession, dir: String): DataFrame =
    bandsFrom(s, cachedSigs(s, dir))

  /** The session-memoized compact signature frame itself — shared by
    * the band explosion ([[bandedIndex]]) and the ANN path's
    * signature-Hamming shortlist ([[lshRanked]] stage 1), which joins
    * the raw s0..s3 words rather than the exploded bands.
    */
  private def cachedSigs(s: SparkSession, dir: String): DataFrame =
    SessionCache.getOrCompute(s, s"sim.signSigs:$dir") {
      SessionCache.pin(signSignatures(s, vecs(s, dir)))
    }

  /** Multi-probe key set for a (small) query frame: per band the exact
    * bucket key plus [[ProbeFlips]] directed flips — the flipped bits
    * chosen by LOWEST |plane margin| (ties to the lower plane index),
    * i.e. the sign decisions a true near neighbor is most likely to
    * disagree on. Same primitive float loop as [[signSignatures]]
    * (left-to-right product-accumulate from 0.0 per plane), so the
    * oracle's `dots` CTE reproduces every margin bit-exactly and the
    * argmin is deterministic in both engines.
    */
  private[graft] def queryProbes(s: SparkSession, vin: DataFrame): DataFrame = {
    import s.implicits._
    val bc = s.sparkContext.broadcast(signPlanes)
    vin.select($"vec_id", $"v").as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val planes = bc.value
        it.flatMap { case (id, vec) =>
          val a = vec.toArray
          require(a.length == 64,
            s"sign-LSH route requires 64-dim embeddings; got ${a.length} " +
              s"for vec_id=$id")
          val out = Seq.newBuilder[(Long, Int, Long)]
          var k = 0
          while (k < SignBandCount) {
            var bits = 0L
            // per-band margin ranking: absolute dot per plane, the
            // band's flip candidates are the smallest-margin planes
            val abs = new Array[Double](SignBandBits)
            var j = 0
            while (j < SignBandBits) {
              val pl = planes(k * SignBandBits + j)
              var acc = 0.0
              var i = 0
              while (i < 64) { acc += pl(i) * a(i); i += 1 }
              if (acc > 0) bits |= (1L << j)
              abs(j) = math.abs(acc)
              j += 1
            }
            out += ((id, k, bits))
            var f = 0
            val used = new Array[Boolean](SignBandBits)
            while (f < ProbeFlips) {
              var minAbs = Double.MaxValue
              var minBit = -1
              var b = 0
              while (b < SignBandBits) {
                if (!used(b) && abs(b) < minAbs) { minAbs = abs(b); minBit = b }
                b += 1
              }
              used(minBit) = true
              out += ((id, k, bits ^ (1L << minBit)))
              f += 1
            }
            k += 1
          }
          out.result()
        }
      }.toDF("q_id", "band", "bits")
  }

  /** Random-hyperplane LSH index census — one row per (band, bits)
    * bucket of the [[signBands]] multi-table index with count, id range
    * and an md5 digest of the sorted member list (the driver's
    * comparison layer sorts result columns, so outputs stay scalar) —
    * plus the MULTI-PROBE pressure columns (r19): `n_probes` counts how
    * many of the query set's probe keys ([[queryProbes]] — exact +
    * directed flips) land in the bucket, and `cand_volume` =
    * n_probes × n_vecs is the candidate rows the bucket contributes to
    * the search path before dedup/rerank. Σ cand_volume over the census
    * is the probe plan's total join volume — the number a deployment
    * reads to price a recall/volume trade before serving from the
    * index.
    */
  def annLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val probeCounts = queryProbes(s, vecs(s, dir).where($"vec_id" < 10))
      .groupBy($"band", $"bits").agg(count(lit(1)).as("n_probes"))
    bandedIndex(s, dir).select($"vec_id", $"band", $"bits")
      .groupBy($"band", $"bits").agg(count(lit(1)).as("n_vecs"),
        min($"vec_id").as("min_vec_id"), max($"vec_id").as("max_vec_id"),
        md5(array_join(transform(sort_array(collect_list($"vec_id")),
          _.cast("string")), ",").cast("binary")).as("ids_md5"))
      .join(broadcast(probeCounts), Seq("band", "bits"), "left")
      .withColumn("n_probes", coalesce($"n_probes", lit(0L)))
      .withColumn("cand_volume", $"n_probes" * $"n_vecs")
      .orderBy($"band", $"bits")
  }

  /** The planes→dots→bands CTE chain shared by the bucket census
    * oracle, the LSH search-path oracle feeding the recall scoreboard,
    * and the dedup-route oracle — the [[fmix64]] HUGEINT mirror
    * ([[signPlanesCtesSql]]) plus the engine's exact left-to-right
    * plane dots and 8-bit band keys. Reads vn ([[vecsCtesSql]]).
    */
  private lazy val signBandsCtesSql: String =
    s"""$signPlanesCtesSql,
       |dots AS (
       |  SELECT vec_id, p, ${foldSql("v", i => s"plane[$i] * v[$i]", zero = true)} AS dot
       |  FROM vn, planes),
       |bands AS (
       |  SELECT vec_id, p // $SignBandBits AS band,
       |    CAST(sum(CASE WHEN dot > 0 THEN (1::BIGINT << (p % $SignBandBits)) ELSE 0 END)
       |      AS BIGINT) AS bits
       |  FROM dots GROUP BY vec_id, p // $SignBandBits)""".stripMargin

  /** The multi-probe key set's oracle mirror ([[queryProbes]]): per
    * query band, the exact bucket plus one 1-bit flip per of the
    * [[ProbeFlips]] lowest-|margin| planes (each flipped from the
    * EXACT key, as the engine does) — the margin is the `dots` CTE's
    * plane dot (bit-identical to the engine's fold), and ranking by
    * −|dot| DESC, p ASC (|dot| ascending, ties to the lower plane)
    * equals the primitive loop's repeated argmin with its used-bit mask.
    */
  private lazy val probesCtesSql: String =
    s"""qflip AS (
       |  SELECT vec_id, band, minp FROM (${rankedSql(
         s"vec_id, p // $SignBandBits AS band, p AS minp, -abs(dot) AS margin",
         "dots WHERE vec_id < 10", "vec_id, band", "margin", "minp", s"$ProbeFlips")})),
       |probes AS (
       |  SELECT vec_id AS q_id, band, bits FROM bands WHERE vec_id < 10
       |  UNION ALL
       |  SELECT b.vec_id, b.band,
       |    xor(b.bits, 1::BIGINT << (f.minp % $SignBandBits))
       |  FROM bands b JOIN qflip f
       |    ON b.vec_id = f.vec_id AND b.band = f.band)""".stripMargin

  lazy val annLshSql: String =
    s"""WITH ${vecsCtesSql()},
      |$signBandsCtesSql,
      |$probesCtesSql,
      |agg AS (
      |  SELECT band, bits, count(*) AS n_vecs,
      |    min(vec_id) AS min_vec_id, max(vec_id) AS max_vec_id,
      |    md5(string_agg(vec_id, ',' ORDER BY vec_id)) AS ids_md5
      |  FROM bands GROUP BY band, bits),
      |pc AS (SELECT band, bits, count(*) AS n_probes
      |  FROM probes GROUP BY band, bits)
      |SELECT a.band, a.bits, a.n_vecs, a.min_vec_id, a.max_vec_id, a.ids_md5,
      |  CAST(coalesce(pc.n_probes, 0) AS BIGINT) AS n_probes,
      |  CAST(coalesce(pc.n_probes, 0) * a.n_vecs AS BIGINT) AS cand_volume
      |FROM agg a LEFT JOIN pc USING (band, bits)
      |ORDER BY a.band, a.bits""".stripMargin

  /** [[bandPairs]]'s mirror: each (id_a, id_b) row of `pairs` with its
    * full-signature Hamming distance h — the 32 bands partition the 256
    * bits, so the sum of band-wise bit_count(xor) IS the distance.
    */
  private def hammingSql(pairs: String): String =
    s"""SELECT c.id_a, c.id_b, sum(bit_count(xor(ba.bits, bb.bits))) AS h
       |  FROM ($pairs) c
       |  JOIN bands ba ON ba.vec_id = c.id_a
       |  JOIN bands bb ON bb.vec_id = c.id_b AND bb.band = ba.band
       |  GROUP BY c.id_a, c.id_b""".stripMargin

  /** [[lshRanked]]'s route: the deduped multi-probe bucket collisions
    * (exact + directed flip, [[probesCtesSql]]) with their Hamming
    * pre-score.
    */
  private lazy val lshSearchSql: SearchSql = SearchSql(
    s"""$signBandsCtesSql,
       |$probesCtesSql,
       |cand AS (
       |  SELECT id_a AS q_id, id_b AS neighbor_id, h FROM (${hammingSql(
         """SELECT DISTINCT p.q_id AS id_a, a.vec_id AS id_b
           |  FROM probes p JOIN bands a ON p.band = a.band AND p.bits = a.bits
           |  WHERE a.vec_id <> p.q_id""".stripMargin)}) hp)""".stripMargin,
    "q_id, neighbor_id, cos", pre = Some(("-h", AnnShortlist)))

  /** IVF-style ANN — the inverted-file scale path: a deterministic
    * coarse quantizer (centroids = the first 8 vectors; in production a
    * k-means fit) assigns every vector to its nearest centroid's list,
    * and each query (vec_id < 10) searches only its 2 nearest lists.
    * Per query the scan touches ~nprobe/nlist of the corpus instead of
    * all of it; centroids broadcast, so assignment is map-side and the
    * only shuffle is the final per-query top-k window.
    */
  def annIvf(s: SparkSession, dir: String): DataFrame =
    top5(ivfRanked(s, vecs(s, dir), fixedCents(s, dir)))

  /** The deterministic fixed-centroid codebook ([[annIvf]]'s quantizer):
    * the first 8 vectors, shared with the recall scoreboard's ranked
    * variant.
    */
  private def fixedCents(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    vecs(s, dir).where($"vec_id" < 8)
      .select($"vec_id".as("cent_id"), $"v".as("cv"), $"nrm".as("cnrm"))
  }

  /** The IVF [[search]] shared by the fixed-centroid and the k-means
    * variants. Routing: every vector sits in its max-cosine centroid's
    * list and each query probes its 2 nearest lists ([[assignTo]]); the
    * probed lists' vectors are the candidates, exact-scored. Centroids
    * and probes broadcast; the only shuffle is the per-query rank window.
    */
  private def ivfRanked(s: SparkSession, v: DataFrame, cents: DataFrame): DataFrame = {
    import s.implicits._
    val probes = assignTo(v.where($"vec_id" < 10), cents, keep = 2)
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qnrm"), $"cent_id")
    // probes = queries × nprobe rows — always the small side; hint it so
    // the list scan stays a map-side broadcast join at any corpus size
    search(broadcast(probes).join(assignTo(v, cents), "cent_id")
      .where($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("neighbor_id"),
        cosine($"qv", $"qnrm", $"v", $"nrm").as("cos")), "cos")
  }

  /** IVF with a REAL coarse quantizer — the production scale path: a
    * TRAINED k=16 quantizer partitions the corpus and its centroids
    * feed the same inverted-list search as [[annIvf]]. The fit is the
    * DETERMINISTIC Lloyd loop ([[trainCoarse]]: lowest-vec_id init,
    * row-local micro-unit argmin assignment, exact-integer re-means), so the
    * whole query is hash-checked — DuckDB re-derives the training
    * round by round ([[annIvfKmeansSql]]); the MLlib seeded fit stays
    * beside it as the quality cross-check twin (SimilaritySpec).
    */
  def annIvfKmeans(s: SparkSession, dir: String): DataFrame =
    // the fit is session-memoized (the ml/ fitted-model precedent): a
    // session running several registered queries — the recall
    // scoreboard plus this query — pays the k-means training once
    top5(ivfRanked(s, vecs(s, dir), cachedCoarseCents(s, dir, 16)))

  /** The fit itself, uncached — the determinism spec drives THIS entry
    * twice so memoization can't mask a nondeterministic training run
    * (order-independence is now BY CONSTRUCTION: the re-mean sums are
    * exact integers, but the spec keeps the end-to-end assertion).
    */
  private[graft] def annIvfKmeansUncached(s: SparkSession, dir: String): DataFrame = {
    val v = vecs(s, dir)
    top5(ivfRanked(s, v, coarseCentFrame(s, trainCoarse(s, v, 16))))
  }

  /** The MLlib twin of the deterministic k=16 fit — the seeded KMeans
    * this engine would use where hash-checkability is not required;
    * kept for SimilaritySpec's quality cross-check (both quantizers
    * must clear the same recall floor over the same search).
    */
  private[graft] def annIvfKmeansMllib(s: SparkSession, dir: String): DataFrame = {
    val v = vecs(s, dir)
    top5(ivfRanked(s, v, fitCentroids(s, v, 16)))
  }

  /** [[ivfRanked]]'s route over the centroid CTE chain `centsCtes`
    * (ending in cents(cent_id, cv, cnrm)): lists and probes by
    * [[assignSql]], the probed lists' vectors the candidates.
    */
  private def ivfSql(centsCtes: String): SearchSql = SearchSql(
    s"""$centsCtes,
       |assign AS (${assignSql("vn t CROSS JOIN cents c", 1)}),
       |probes AS (${assignSql("vn t CROSS JOIN cents c WHERE t.vec_id < 10", 2)}),
       |cand AS (
       |  SELECT p.vec_id AS q_id, a.vec_id AS neighbor_id
       |  FROM probes p JOIN assign a USING (cent_id) WHERE a.vec_id <> p.vec_id)""".stripMargin,
    "q_id, neighbor_id, cos")

  private val fixedCentsSql =
    "cents AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM vn WHERE vec_id < 8)"

  lazy val annIvfSql: String = ivfSql(fixedCentsSql).top

  /** ORACLE for the trained-quantizer IVF: the same search SQL over the
    * centroids DuckDB re-derives by unrolling the deterministic Lloyd
    * rounds ([[coarseCtesSql]], k = 16).
    */
  def annIvfKmeansSql: String = ivfSql(coarseCtesSql("SELECT 16 AS k")).top

  /** k-NN label agreement — the standard embedding-space label-noise /
    * mislabel diagnostic a training-data pipeline runs over labeled
    * embeddings: for each probe vector, the fraction of its 5 nearest
    * neighbors (exact cosine, the annCosineTopK algebra) sharing its
    * label. Low agreement flags candidate label errors or off-manifold
    * points. Probes broadcast like every ANN query set; at corpus scale
    * the neighbor search swaps to the ANN family (IVF/LSH/PQ) with the
    * same downstream agreement aggregation.
    */
  def labelKnn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val labels = Tables.embeddings(s, dir).select($"vec_id", $"label")
    bruteRanked(vecs(s, dir).join(labels, "vec_id"), 50, $"q_label", $"label".as("n_label"))
      .where($"rank" <= 5)
      .groupBy($"q_id")
      .agg(first($"q_label").as("label"),
        sum(($"n_label" === $"q_label").cast("int")).cast("int").as("n_same"),
        (sum(($"n_label" === $"q_label").cast("int")).cast("double") / 5)
          .as("agree_frac"))
      .orderBy($"q_id")
  }

  lazy val labelKnnSql: String = bruteSql(50).sql(
    """SELECT r.q_id, any_value(q.label) AS label,
      |  CAST(sum(CASE WHEN n.label = q.label THEN 1 ELSE 0 END) AS INT) AS n_same,
      |  CAST(sum(CASE WHEN n.label = q.label THEN 1 ELSE 0 END) AS DOUBLE) / 5
      |    AS agree_frac
      |FROM ranked r JOIN vn q ON q.vec_id = r.q_id JOIN vn n ON n.vec_id = r.neighbor_id
      |WHERE r.rank <= 5 GROUP BY r.q_id ORDER BY r.q_id""".stripMargin)

  /** Product-quantization ANN with asymmetric distance computation —
    * the MEMORY-side scale path the IVF/LSH family lacks: each vector
    * compresses to [[PqM]] one-byte codes (64 float dims → 8 bytes,
    * 32×), queries keep full precision and score candidates by summing
    * per-subspace dot-product lookups (ADC). Codebook is deterministic
    * (subvectors of the first [[PqK]] vectors — the annIvf
    * fixed-centroid precedent, which keeps the whole operator
    * SQL-expressible; a production deployment fits per-subspace k-means
    * and composes with the IVF lists to prune the ADC scan). Encoding
    * is the row-local [[nearest]] assignment (no shuffle); the ADC sum
    * folds the 8 per-subspace terms in fixed subspace order (FloatFold)
    * so both engines accumulate identically.
    */
  val PqM = 8 // subspaces
  val PqD = 8 // dims per subspace
  val PqK = 16 // codewords per subspace

  /** The PQ search shape on any unit-normalized (vec_id, vn) frame with
    * a query predicate — factored so the spec can drive it with planted
    * near-duplicate vectors.
    */
  private[graft] def pqTopK(s: SparkSession, vn: DataFrame, qPred: Column): DataFrame =
    top5(pqRanked(s, vn, qPred))

  /** `df`'s vector column `vec` cut into its [[PqM]] subvectors: one
    * (vec_id, m, sv) row per subspace.
    */
  private def subspaces(df: DataFrame, vec: String): DataFrame =
    df.select(col("vec_id"), explode(array((0 until PqM).map { m =>
      struct(lit(m).as("m"), slice(col(vec), m * PqD + 1, PqD).as("sv"))
    }: _*)).as("ms")).select(col("vec_id"), col("ms.m").as("m"), col("ms.sv").as("sv"))

  /** [[subspaces]]' mirror over relation `rel`. */
  private def subsSql(rel: String, vec: String): String =
    s"""SELECT vec_id, m, [$vec[m * $PqD + i] for i in generate_series(1, $PqD)] AS sv
       |  FROM $rel, (SELECT unnest(generate_series(0, ${PqM - 1})) AS m) ms""".stripMargin

  /** The PQ [[search]] — for PQ the touched volume is the WHOLE corpus
    * (nq·(n−1) pairs, that is the method's honesty: it scans everything
    * but reads 8 code bytes per vector instead of 64 floats), and the
    * recall scoreboard prices exactly that. Routing and score are one
    * step: the code scan sums each candidate's per-subspace LUT dots.
    */
  private def pqRanked(s: SparkSession, vn: DataFrame, qPred: Column): DataFrame = {
    import s.implicits._
    val subs = subspaces(vn, "vn")
    val cb = subs.where($"vec_id" < PqK)
      .select($"m", $"vec_id".cast("int").as("j"), $"sv".as("c"))
    // encode: the [[nearest]] codeword per (vector, subspace)
    val enc = nearest(s, subs.select($"m".as("key"), $"vec_id", $"sv".as("v")),
        cb.as[(Int, Int, Seq[Double])].collect().toSeq)
      .select($"vec_id", $"key".as("m"), $"j".as("code"))
    // ADC lookup table: query × subspace × codeword dots (tiny: nq·M·K),
    // its keys renamed apart from enc's
    val lut = subspaces(vn.where(qPred), "vn")
      .join(broadcast(cb), "m")
      .select($"vec_id".as("q_id"), $"m".as("lm"), $"j".as("lj"), dot($"sv", $"c").as("pdot"))
    search(enc.join(broadcast(lut), $"m" === $"lm" && $"code" === $"lj")
      .where($"vec_id" =!= $"q_id")
      .groupBy($"q_id", $"vec_id")
      .agg(round(FloatFold.orderedSum($"m", $"pdot"), 6).as("approx_cos"))
      .withColumnRenamed("vec_id", "neighbor_id"), "approx_cos")
  }

  /** Registered PQ query: unit-normalized embeddings (ADC dot = approx
    * cosine), first 10 vectors as queries, top-5 by ADC score.
    */
  def annPq(s: SparkSession, dir: String): DataFrame =
    pqTopK(s, unitVecs(s, dir), col("vec_id") < 10)

  /** Unit-normalized (vec_id, vn) embedding frame — the PQ family's
    * input, shared with the recall scoreboard's ranked variant.
    */
  private def unitVecs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    vecs(s, dir)
      .select($"vec_id", transform($"v", x => x / $"nrm").as("vn"))
  }

  /** [[pqRanked]]'s route: codebook, encoding, LUT and the ADC scan. */
  private lazy val pqSql: SearchSql = SearchSql(
    s"""subs AS (${subsSql("vn", "v")}),
       |cb AS (SELECT m, CAST(vec_id AS INT) AS j, sv AS c FROM subs WHERE vec_id < $PqK),
       |enc AS (
       |  SELECT vec_id, m, j AS code FROM (${nearestSql("subs", "cb", Seq("m"), v = "sv")})),
       |lut AS (
       |  SELECT s.vec_id AS q_id, s.m, c.j, ${dotSql("s.sv", "c.c")} AS pdot
       |  FROM subs s JOIN cb c USING (m) WHERE s.vec_id < 10),
       |cand AS (
       |  SELECT l.q_id, e.vec_id AS neighbor_id,
       |    round(${FloatFold.orderedSumSql("pdot", "e.m")}, 6) AS approx_cos
       |  FROM enc e JOIN lut l ON e.m = l.m AND e.code = l.j
       |  WHERE e.vec_id <> l.q_id
       |  GROUP BY 1, 2)""".stripMargin,
    "q_id, neighbor_id, approx_cos", score = "approx_cos", unit = true)

  lazy val annPqSql: String = pqSql.top

  /** IVF-PQ — the composed 100 TB ANN architecture the PQ scaladoc
    * declares: the seeded k-means coarse quantizer ([[annIvfKmeans]]
    * precedent) PRUNES the scan to nprobe inverted lists, and TRAINED
    * residual product quantization COMPRESSES every stored vector to
    * [[PqM]] code bytes. Vectors store (list, code₁..code_M) where codes
    * quantize the RESIDUAL vn − centroid (shared codebooks across
    * lists); a query scores a candidate as q·c + Σₘ LUT[m, codeₘ] — the
    * q·c term comes with the probe, the LUT is the query's dot with
    * each residual codeword (nq·M·K entries, broadcast). The ADC scores
    * rank a SHORTLIST of [[IvfPqShortlist]] candidates per query, which
    * a refine stage then scores EXACTLY (the standard IVF-PQ + refine
    * composition): per query the compressed scan touches
    * ~nprobe/nlist of the corpus reading bytes, and full floats are
    * fetched only for shortlist rows (an nq·shortlist-sized broadcast
    * equi-join). Everything corpus-sized moves through broadcast
    * equi-joins and the row-local [[nearest]] assignment only.
    */
  val IvfPqNList = 16
  val IvfPqNProbe = 2
  val IvfPqIters = 5
  val IvfPqShortlist = 20

  /** The IVF-PQ search on any unit-normalized (vec_id, vn) frame —
    * factored like [[pqTopK]] so the spec can drive planted vectors.
    */
  private[graft] def ivfPqTopK(s: SparkSession, vnIn: DataFrame,
      qPred: Column): DataFrame =
    top5(ivfPqFrames(s, vnIn, qPred)._1)

  /** The IVF-PQ [[search]] and its touched volume: returns (ranked frame,
    * ADC-scored (q_id, neighbor_id) pairs). The second frame's row count
    * is the method's touched-candidate volume — the compressed scan of
    * the probed lists, BEFORE the shortlist cut — priced by
    * [[annRecallTrained]]. One construction builds both (the coarse fit
    * and codebook training run once; the checkpointed assignment is
    * shared by both lineages).
    */
  private def ivfPqFrames(s: SparkSession, vnIn: DataFrame,
      qPred: Column): (DataFrame, DataFrame) = {
    import s.implicits._
    val vn = vnIn.select($"vec_id", $"vn".as("v"))
    // coarse quantizer: the DETERMINISTIC Lloyd trainer on the unit
    // sphere (min-L2 on unit vectors ⇔ max cosine) — SQL-reproducible
    // like every other stage of this index since round 15
    val coarse = trainCoarse(s, vn, IvfPqNList)
    val cents = broadcast(coarseCentFrame(s, coarse).select($"cent_id", $"cv"))
    // assign each vector to its nearest list; carry the RESIDUAL
    // localCheckpoint (eager) truncates the lineage: the Lloyd loop,
    // the encode pass, and the init collect all re-read the assignment
    // instead of re-deriving the quantizer DAG per job. Not a scoped
    // pin: both returned lazy frames read it, so only the ContextCleaner
    // can release it once they are unreachable
    val assign = nearest(s, oneKey(vn), coarse)
      .select($"vec_id", $"j".as("cent_id"), $"v".as("vn"))
      .join(cents, "cent_id")
      .select($"vec_id", $"cent_id",
        zip_with($"vn", $"cv", (x, y) => x - y).as("r"))
      .localCheckpoint()
    // train shared residual codebooks, one Lloyd key per subspace, on a
    // DETERMINISTIC ¼ sample (codebook quality needs a bounded training
    // set, not the corpus — the standard points-per-centroid cap
    // practice; at 100 TB the sampling predicate is what keeps
    // index-build cost flat), then encode EVERY vector's residual to M
    // one-byte codes
    val rsubs = subspaces(assign, "r").select($"m".as("key"), $"vec_id", $"sv".as("v"))
    val (codebook, _) = lloyd(s, rsubs.where(pmod($"vec_id", lit(4)) === 0),
      (0 until PqM).map(_ -> PqK).toMap, IvfPqIters)
    val cb = broadcast(codebook.toDF("m", "j", "c"))
    val enc = nearest(s, rsubs, codebook)
      .select($"vec_id", $"key".as("m"), $"j".as("code"))
      .join(assign.select($"vec_id", $"cent_id"), "vec_id")
    // probes: each query's nprobe nearest lists, with the q·c base term
    // (un-normalised: both sides are unit-sphere points)
    val q = vn.where(qPred)
    val probes = assignTo(q, cents, IvfPqNProbe, score = round(dot($"v", $"cv"), 6))
      .select($"vec_id".as("q_id"), $"cent_id", $"ccos".as("qc"))
    // ADC lookup table: query subvector × residual codeword dots
    val lut = subspaces(q, "v").join(cb, "m")
      .select($"vec_id".as("lq"), $"m".as("lm"), $"j".as("lj"), dot($"sv", $"c").as("pdot"))
    // pruned + compressed scan: probed lists only, scored via LUT
    val adc = enc.join(broadcast(probes), "cent_id")
      .where($"vec_id" =!= $"q_id")
      .join(broadcast(lut), $"q_id" === $"lq" && $"m" === $"lm" &&
        $"code" === $"lj")
      .groupBy($"q_id", $"vec_id")
      .agg(round(max($"qc") + FloatFold.orderedSum($"m", $"pdot"), 6).as("approx_cos"))
      .withColumnRenamed("vec_id", "neighbor_id")
    // refine: exact scores for the ADC shortlist only — full floats are
    // read for nq·shortlist vectors, not the probed lists
    val refine = (short: DataFrame) => broadcast(short)
      .join(vn.select($"vec_id".as("neighbor_id"), $"v".as("nv")), "neighbor_id")
      .join(broadcast(q.select($"vec_id".as("jq"), $"v".as("qv"))), $"q_id" === $"jq")
      .select($"q_id", $"neighbor_id", $"approx_cos", round(dot($"qv", $"nv"), 6).as("cos"))
    (search(adc, "cos", Some(($"approx_cos", IvfPqShortlist)), refine),
      adc.select($"q_id", $"neighbor_id"))
  }

  /** Registered IVF-PQ query: unit-normalized embeddings, first 10
    * vectors as queries, top-5 by pruned ADC score. Hash-checked
    * end-to-end since the deterministic trainers landed
    * ([[annIvfPqSql]] re-derives every stage); SimilaritySpec pins the
    * recall floor vs. brute-force top-5 and that codebook training
    * tightened quantization error.
    */
  def annIvfPq(s: SparkSession, dir: String): DataFrame =
    top5(annIvfPqBoth(s, dir)._1)

  /** The memoized (ranked, ADC candidate pairs) pair behind [[annIvfPq]]
    * and [[annRecallTrained]]: the coarse-quantizer fit + Lloyd codebook
    * training + the checkpointed assignment all live in the pair's
    * construction — memoized per session so the registered query and
    * the recall scoreboard pay the index build once.
    */
  private def annIvfPqBoth(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    SessionCache.getOrCompute(s, s"sim.ivfPq:$dir") {
      ivfPqFrames(s, unitVecs(s, dir), col("vec_id") < 10)
    }

  /** Index build + search, uncached — the determinism spec's entry. */
  private[graft] def annIvfPqUncached(s: SparkSession, dir: String): DataFrame =
    ivfPqTopK(s, unitVecs(s, dir), col("vec_id") < 10)

  /** [[ivfPqFrames]]' route — since round 15 EVERY stage is
    * deterministic, so DuckDB re-derives the whole architecture: the
    * unrolled coarse Lloyd chain on the unit sphere, min-L2 list
    * assignment + residuals, the unrolled residual codebook training on
    * the ¼ sample, full-corpus encoding, probes with the q·c base term
    * and the broadcast-LUT ADC fold; the ADC pre-score shortlist and the
    * exact refine are [[SearchSql]]'s, and the touched volume is the ADC
    * scan.
    */
  private def ivfPqSql: SearchSql = SearchSql(
    s"""${coarseCtesSql(s"SELECT $IvfPqNList AS k")},
       |asg AS MATERIALIZED (
       |  SELECT vec_id, v, cent_id FROM (${nearestSql("vn", "cents", c = "cv", j = "cent_id")})),
       |res AS MATERIALIZED (
       |  SELECT a.vec_id, a.cent_id,
       |    [a.v[i] - c.cv[i] for i in generate_series(1, len(a.v))] AS r
       |  FROM asg a JOIN cents c USING (cent_id)),
       |rsubs AS MATERIALIZED (${subsSql("res", "r")}),
       |samp AS MATERIALIZED (SELECT m, vec_id, sv AS v FROM rsubs WHERE vec_id % 4 = 0),
       |pc0 AS MATERIALIZED (${lowestSql("samp", Seq("m"), PqK.toString)}),
       |${lloydCtesSql("p", Seq("m"), "samp", "pc0", PqD, IvfPqIters)},
       |enc AS MATERIALIZED (
       |  SELECT e.vec_id, e.m, e.j AS code, a.cent_id
       |  FROM (${nearestSql("rsubs", s"pc$IvfPqIters", Seq("m"), v = "sv")}) e
       |  JOIN asg a USING (vec_id)),
       |probes AS (${assignSql("vn t CROSS JOIN cents c WHERE t.vec_id < 10", IvfPqNProbe,
         score = s"round(${dotSql("t.v", "c.cv")}, 6)")}),
       |lut AS (
       |  SELECT s.vec_id AS q_id, s.m, c.j, ${dotSql("s.sv", "c.c")} AS pdot
       |  FROM (${subsSql("vn", "v")} WHERE vec_id < 10) s JOIN pc$IvfPqIters c USING (m)),
       |cand AS (
       |  SELECT p.vec_id AS q_id, e.vec_id AS neighbor_id,
       |    round(max(p.ccos) + ${FloatFold.orderedSumSql("l.pdot", "e.m")}, 6) AS approx_cos
       |  FROM enc e JOIN probes p USING (cent_id)
       |  JOIN lut l ON l.q_id = p.vec_id AND l.m = e.m AND l.j = e.code
       |  WHERE e.vec_id <> p.vec_id
       |  GROUP BY p.vec_id, e.vec_id)""".stripMargin,
    "q_id, neighbor_id, approx_cos, cos", pre = Some(("approx_cos", IvfPqShortlist)),
    unit = true, touched = "cand")

  def annIvfPqSql: String = ivfPqSql.top

  /** ORACLE for the residual-PQ recall row, [[recallSql]] over the
    * IVF-PQ search.
    */
  def annRecallTrainedSql: String = recallSql(Seq("ivf_pq" -> ivfPqSql))

  /** τ floor of the LSH route: at τ ≥ 0.7 (θ ≤ 45.6°, per-plane sign
    * agreement p = 1 − θ/π ≈ 0.747) a 32-band × 8-bit sign-LSH candidate
    * filter has per-pair band recall 1 − (1 − p⁸)³² ≈ 0.961 at the floor
    * — rising steeply with τ: ≈ 0.996 at τ = 0.8, ≈ 0.99998 at τ = 0.9,
    * the dup regime — and the [[HammingMax]] prefilter multiplies in
    * ~1 − 3·10⁻⁹ (a 5.7σ cut at the floor), so candidates + exact verify
    * is the scale path. Below the floor band recall collapses toward the
    * measured near-orthogonal regime (τ = 0.4 → θ ≈ 66°, recall ≪ 1)
    * and NO exact sub-quadratic filter exists for dense vectors, so the
    * only exact plan is the quadratic blocked sweep. The 8-bit band
    * keyspace (256 buckets/band) is what makes the route sub-quadratic
    * in practice: near-orthogonal bulk (p ≈ 0.5) collides in an expected
    * 32·2⁻⁸ = 1/8 bands per pair, vs 16·2⁻⁴ = 1 under the pre-round-18
    * 16×4 banding whose bulk term the dup ladder measured at
    * fitted_exp 1.78 (SURVEY §8j).
    */
  val TauLshFloor = 0.7

  /** ROUTED threshold-cosine dedup — the documented entry point a
    * pipeline calls instead of picking a pair plan by hand:
    *
    *  - `allowQuadratic = true`: the bounded-task blocked sweep
    *    ([[blockedPairs]]) at ANY τ — the only truly EXACT plan (every
    *    qualifying pair, no candidate filter). O(n²) compares, so
    *    affordable only below corpus scale; an explicit opt-in always
    *    dispatches here, including above the LSH floor.
    *  - otherwise, `tau ≥` [[TauLshFloor]]: banded sign-LSH candidates +
    *    exact cosine verification ([[lshVerified]]). Sub-quadratic; NO
    *    false positives (the verify step recomputes true cosine), and
    *    per-pair candidate recall ≥ (1 − (1 − p⁸)³²) · P[h ≤ 92] with
    *    p = 1 − θ/π (band recall ≈ 0.961 at the floor, ≈ 0.996 at
    *    τ = 0.8, ~1 − 2·10⁻⁵ at τ = 0.9; the [[HammingMax]] prefilter
    *    multiplies in 1 − 6.2·10⁻⁵ at the floor, ~1 above it) —
    *    near-exact but NOT exhaustive. This is the 100 TB route.
    *  - otherwise (`tau <` floor, no opt-in): exact low-τ semantics are
    *    inherently O(n²) compares (SURVEY §5) and band recall collapses,
    *    so the router REFUSES rather than silently going quadratic.
    *
    * The registered q_embed_cosine_dedup stays the τ=0.4 blocked sweep
    * (the driver's embeddings have no high-cos pairs to route) as the
    * small-SF exact twin; the LSH leg itself is hash-checked as the
    * registered q_embed_cosine_dedup_lsh ([[cosineDedupLshTop]]), and
    * this entry point is the library surface, spec'd on planted
    * near-duplicates (SimilaritySpec).
    */
  def cosineDedupRouted(s: SparkSession, dir: String, tau: Double,
      allowQuadratic: Boolean = false): DataFrame =
    routedPairs(s, vecs(s, dir), tau, allowQuadratic)

  private[graft] def routedPairs(s: SparkSession, v: DataFrame, tau: Double,
      allowQuadratic: Boolean): DataFrame =
    if (allowQuadratic) blockedPairs(s, v, tau)
    else if (tau >= TauLshFloor) lshVerified(s, v, tau)
    else throw new IllegalArgumentException(
      s"exact cosine pairs at tau=$tau < $TauLshFloor require O(n^2) compares " +
        "(no sub-quadratic exact filter exists for dense vectors at low tau); " +
        "pass allowQuadratic=true to run the blocked sweep on a sub-corpus " +
        "input, or raise tau to use the LSH-verified route")

  /** MurmurHash3's 64-bit finalizer (fmix64) — the public
    * xorshift-multiply avalanche chain. The pre-round-18 plane family
    * fed the seed through ONE raw LCG step (k·A + C), whose lattice
    * structure made consecutive planes near-PARALLEL (measured: median
    * |cos| between plane pairs 0.39, some pairs identical) — the
    * signature's 256 bits spanned only a handful of independent
    * directions, Hamming distances concentrated far below the binomial
    * model, and the band buckets collided on moderately-similar bulk at
    * ~12% of ALL pairs. That plane degeneracy — not the band keyspace —
    * was the real root cause of the route's measured quadratic regime
    * (SURVEY §8j). fmix64's three xorshift-multiply rounds restore
    * full-entropy coefficients (measured plane-pair |cos| ~ N(0, 1/64),
    * exactly the random-direction ideal), and every step is exact
    * HUGEINT arithmetic in the oracle's mirror (xor, floor-div by 2³³,
    * and a split 32-bit multiply mod 2⁶⁴ that stays inside INT128).
    */
  private def fmix64(z0: Long): Long = {
    var z = z0
    z ^= (z >>> 33); z *= 0xFF51AFD7ED558CCDL
    z ^= (z >>> 33); z *= 0xC4CEB9FE1A85EC53L
    z ^= (z >>> 33)
    z
  }

  /** The 256 sign-LSH hyperplanes, materialized once on the driver —
    * the signature loop below and the oracle's `planes` CTE both
    * re-derive exactly these doubles from the same [[fmix64]] chain.
    * The plane family is 64-dim WIDE by construction (one coefficient
    * per embedding dimension): the route requires 64-dim input,
    * asserted fail-fast in the signature loop, because the oracle
    * indexes v[1..64] against plane[1..64] and any other width would
    * silently diverge.
    */
  private lazy val signPlanes: Array[Array[Double]] =
    Array.tabulate(SignPlaneCount, 64) { (p, d) =>
      val x = fmix64((p * 64 + d).toLong)
      ((x >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
    }

  /** 256-bit sign signatures packed into [[SignWords]] longs (plane p →
    * bit p%64 of word p/64), computed per row in a mapPartitions
    * primitive loop against the broadcast plane matrix (the
    * [[nearest]] precedent): the equivalent higher-order-function
    * expression — nested zip_with/aggregate lambdas — is
    * CodegenFallback, so it interpreted planes×dims expression nodes
    * PER ROW and dominated the route's sf1 wall time. The float
    * arithmetic is the expression's step for step: per plane one
    * left-to-right product-accumulate fold from 0.0 (each multiply and
    * add rounds individually — the JVM emits no fused multiply-add),
    * the bit set iff the fold is strictly positive, bits assembled with
    * OR (bit 63 through a sum would wrap the long).
    */
  private def signSignatures(s: SparkSession, vin: DataFrame): DataFrame = {
    import s.implicits._
    val bc = s.sparkContext.broadcast(signPlanes)
    vin.select($"vec_id", $"v").as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val planes = bc.value
        it.map { case (id, vec) =>
          val a = vec.toArray
          require(a.length == 64,
            s"sign-LSH route requires 64-dim embeddings (the plane family " +
              s"and the oracle both index dims 1..64); got ${a.length} for vec_id=$id")
          val sig = new Array[Long](SignWords)
          var p = 0
          while (p < SignPlaneCount) {
            val pl = planes(p)
            var acc = 0.0
            var i = 0
            while (i < 64) { acc += pl(i) * a(i); i += 1 }
            if (acc > 0) sig(p / 64) |= (1L << (p % 64))
            p += 1
          }
          (id, sig)
        }
      }.toDF("vec_id", "sig")
      .select(($"vec_id" +: (0 until SignWords).map(w =>
        col("sig").getItem(w).as(s"s$w"))): _*)
  }

  /** The banded signature index: one row per (vector, band) with the
    * band's 8-bit bucket key and the four packed signature words along
    * for downstream Hamming work. Band k takes bits [8k, 8k+8) of the
    * signature: word k/8, shift 8·(k mod 8). Shared by the dedup
    * route's candidate join ([[lshVerifiedCandidates]]) and the ANN
    * multi-table probe ([[lshTopK]], [[annLsh]]) — ONE index serves
    * both workloads, which is exactly how a production deployment
    * would materialize it.
    */
  private def signBands(s: SparkSession, vin: DataFrame): DataFrame =
    bandsFrom(s, signSignatures(s, vin))

  /** Band explosion over an existing signature frame — split from
    * [[signBands]] so the memoized signature index can feed it too.
    */
  private def bandsFrom(s: SparkSession, sigs: DataFrame): DataFrame = {
    import s.implicits._
    val sigCols = (0 until SignWords).map(w => col(s"s$w"))
    // word/shift/mask derived from SignBandBits (not a hardcoded
    // 8-bands-per-word layout), so the tuning lever at the top of the
    // object actually tunes this extraction (ADVICE r18); the top-of-
    // object require pins the no-word-straddle precondition
    sigs
      .select(($"vec_id" +: sigCols) :+
        explode(array((0 until SignBandCount).map { k =>
          val word = (k * SignBandBits) / 64
          val shift = (k * SignBandBits) % 64
          val mask = (1L << SignBandBits) - 1
          struct(lit(k).as("band"),
            shiftrightunsigned(col(s"s$word"), shift)
              .bitwiseAND(lit(mask)).as("bits"))
        }: _*)).as("bk"): _*)
      .select(($"vec_id" +: sigCols) :+ $"bk.band" :+ $"bk.bits": _*)
  }

  /** High-τ leg: 32 bands × 8 sign bits generate candidates (equi-join
    * within a (band, bits) bucket — never all-pairs), candidate id pairs
    * dedup BEFORE verification (one dot product per pair, not per
    * colliding band), then the exact rounded cosine filters at `tau`.
    * Every join is an equi-join on bounded keys; at corpus scale the
    * bucket join is the same shape as the MinHash band join in
    * Dedup.minhashLsh.
    */
  private[graft] def lshVerified(s: SparkSession, vin: DataFrame, tau: Double): DataFrame = {
    import s.implicits._
    lshVerifiedCandidates(s, vin)
      .where($"cos" >= tau)
      .orderBy($"id_a", $"id_b")
  }

  /** Hamming prefilter bound on the 256-bit sign signature: a pair at
    * the τ = 0.7 floor (θ ≈ 45.6°) flips each sign bit with
    * p = θ/π ≈ 0.253, so its Hamming distance is Binomial(256, 0.253)
    * — mean 64.8, σ 6.96 — and P[h ≤ 92] = 1 − 6.2·10⁻⁵ exactly (a
    * 4.0σ cut; every pair ABOVE the floor is safer still). The
    * near-orthogonal bulk (θ ≈ 90°, h ~ Binomial(256, 0.5), mean 128,
    * σ 8) passes with only P = 4.0·10⁻⁶, so the distinct/fetch/verify
    * stages see ~4 per MILLION of the band-collision volume on a
    * no-dup-structure corpus. TIGHTENED 104 → 92 in round 19: the r18
    * choice (5.7σ, the 64-bit scheme's 26/64 scaled proportionally)
    * passed 0.16% of the bulk, and the sf3 deep-ladder rung measured
    * the consequence — 3.8·10⁷ of 2.7·10⁸ band emits surviving into
    * the verify fetch, whose per-pair 64-double payload turned the
    * two id-joins into a ~20 GB shuffle (~60 of the route's 66 s;
    * per-stage decomposition, §8l). At 4σ the certified floor recall
    * drops by 6·10⁻⁵ while the quadratic term's constant shrinks
    * ~400×: the verify volume is now dup-driven, not bulk-driven,
    * which is the only posture that survives 100 TB. The filter runs
    * as a streamed scalar predicate on the signature words the bucket
    * join already carries — BEFORE the candidate distinct and the
    * vector fetch.
    */
  private val HammingMax = 92

  /** THE band-pair join of the sign index: rows of `left` and `right`
    * (vec_id, s0..s3, band, bits — [[bandsFrom]]'s shape) colliding in a
    * (band, bits) bucket, as (id_a, id_b, h) with h the full 256-bit
    * signature Hamming distance. One source for the ANN probe
    * ([[lshRanked]]) and the dedup route ([[lshVerifiedCandidates]]);
    * oracle mirror [[hammingSql]].
    */
  private def bandPairs(left: DataFrame, right: DataFrame): DataFrame = {
    def side(df: DataFrame, id: String, w: String) = df.select((col("band") +: col("bits") +:
      col("vec_id").as(id) +: (0 until SignWords).map(i => col(s"s$i").as(s"$w$i"))): _*)
    side(left, "id_a", "a").join(side(right, "id_b", "b"), Seq("band", "bits"))
      .select(col("id_a"), col("id_b"), (0 until SignWords)
        .map(i => bit_count(col(s"a$i").bitwiseXOR(col(s"b$i")))).reduce(_ + _).as("h"))
  }

  /** The LSH route's verified candidate frame — the 3-stage cascade:
    * banded sign-LSH bucket collisions (coarse, [[bandPairs]]), Hamming
    * prefilter on the full 256-bit signatures (fine, [[HammingMax]]),
    * exact rounded cosine (verify) — before any τ filter; one source for
    * [[lshVerified]] and the registered [[cosineDedupLshTop]].
    */
  private[graft] def lshVerifiedCandidates(s: SparkSession, vin: DataFrame): DataFrame = {
    import s.implicits._
    val bands = signBands(s, vin)
    val cand = bandPairs(bands, bands)
      .where($"id_a" < $"id_b" && $"h" <= HammingMax)
      .select($"id_a", $"id_b").distinct()
    val va = vin.select($"vec_id".as("id_a"), $"v".as("va"), $"nrm".as("na"))
    val vb = vin.select($"vec_id".as("id_b"), $"v".as("vb"), $"nrm".as("nb"))
    cand.join(va, "id_a").join(vb, "id_b")
      .select($"id_a", $"id_b", cosine($"va", $"na", $"vb", $"nb").as("cos"))
  }

  /** The REGISTERED q_embed_cosine_dedup_lsh — the 100 TB cosine-dedup
    * ROUTE itself ([[lshVerified]], the τ ≥ [[TauLshFloor]] leg of
    * [[cosineDedupRouted]]) hash-checked end-to-end: the top-20
    * verified candidate pairs by exact cosine, each carrying the τ
    * gate's decision as a boolean. The driver's embeddings top out at
    * cos ≈ 0.51, so the τ = 0.7 filter itself would return zero rows —
    * the rank-limited shortlist keeps the oracle check NON-TRIVIAL
    * (every stage — 256-plane signature, banding, bucket join, exact
    * verify, ranking — must agree pair-for-pair) while `pass_tau`
    * encodes exactly what the route would emit. With this in the gate,
    * the registered q_embed_cosine_dedup (τ=0.4 blocked sweep) is the
    * documented small-SF EXACT twin; this query is the plan that runs
    * at corpus scale.
    */
  def cosineDedupLshTop(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    lshVerifiedCandidates(s, vecs(s, dir))
      .select($"id_a", $"id_b", $"cos",
        ($"cos" >= TauLshFloor).as("pass_tau"))
      .orderBy($"cos".desc, $"id_a", $"id_b")
      .limit(20)
  }

  /** One fmix64 xorshift-multiply round's `z *= M` step in HUGEINT:
    * the full 64-bit operand would overflow INT128 when multiplied by a
    * 64-bit constant, so split the operand at 2³² — (a·M) mod 2⁶⁴ =
    * (a_lo·M + ((a_hi·M) mod 2³²)·2³²) mod 2⁶⁴, every intermediate
    * < 2⁹⁶.
    */
  private def sqlMulMod(e: String, c: BigInt): String =
    s"((($e) % 4294967296) * $c + (((($e) // 4294967296) * $c) % 4294967296)" +
      s" * 4294967296) % 18446744073709551616"

  /** The [[fmix64]] plane-coefficient CTE chain shared verbatim by the
    * route oracle: seed = p·64+d, three xorshift(33)/multiply rounds in
    * exact HUGEINT, then the engine's (z >>> 11)/2⁵³ → [−1, 1) mapping
    * (all intermediates < 2⁵³, so the int→double cast is exact).
    */
  private lazy val signPlanesCtesSql: String = {
    val m1 = BigInt("18397679294719823053") // 0xFF51AFD7ED558CCD unsigned
    val m2 = BigInt("14181476777654086739") // 0xC4CEB9FE1A85EC53 unsigned
    s"""pd AS (
       |  SELECT p, d, CAST(p * 64 + d AS HUGEINT) AS z0
       |  FROM (SELECT unnest(generate_series(0, ${SignPlaneCount - 1})) AS p),
       |       (SELECT unnest(generate_series(0, 63)) AS d)),
       |z1 AS (SELECT p, d, xor(z0, z0 // 8589934592) AS z FROM pd),
       |z2 AS (SELECT p, d, ${sqlMulMod("z", m1)} AS z FROM z1),
       |z3 AS (SELECT p, d, xor(z, z // 8589934592) AS z FROM z2),
       |z4 AS (SELECT p, d, ${sqlMulMod("z", m2)} AS z FROM z3),
       |z5 AS (SELECT p, d, xor(z, z // 8589934592) AS z FROM z4),
       |planes AS (
       |  SELECT p, list(
       |      (CAST(z // 2048 AS DOUBLE) / 9007199254740992.0) * 2.0 - 1.0
       |      ORDER BY d) AS plane
       |  FROM z5 GROUP BY p)""".stripMargin
  }

  /** The route's candidate-stage CTE chain after vn — band-bucket
    * collisions through the Hamming prefilter ([[hammingSql]]) as cand —
    * shared by the registered shortlist oracle ([[cosineDedupLshSql]])
    * and the route recall scoreboard ([[lshRouteRecallSql]]). The engine
    * gates before its candidate distinct and the oracle after, which is
    * equivalent because the predicate is a pure per-pair function;
    * [[HammingMax]] is interpolated, not hardcoded, so tuning the engine
    * constant cannot silently diverge from the oracle.
    */
  private lazy val lshCandCtesSql: String =
    s"""$signBandsCtesSql,
       |cand AS MATERIALIZED (
       |  SELECT id_a, id_b FROM (${hammingSql(
         """SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
           |  FROM bands x JOIN bands y ON x.band = y.band AND x.bits = y.bits
           |  WHERE x.vec_id < y.vec_id""".stripMargin)}) hp
       |  WHERE h <= $HammingMax)""".stripMargin

  /** Oracle twin of [[cosineDedupLshTop]]: the 256 [[fmix64]]
    * hyperplanes re-derived in exact HUGEINT ([[signPlanesCtesSql]]),
    * 8-bit band keys from the plane signs, the bucket-join candidates
    * through the Hamming prefilter ([[lshCandCtesSql]]), then exact
    * left-to-right-fold cosine verify, top-20 with the τ-gate boolean.
    */
  lazy val cosineDedupLshSql: String =
    s"""WITH ${vecsCtesSql()},
       |$lshCandCtesSql,
       |scored AS (
       |  SELECT c.id_a, c.id_b, ${cosSql("a.v", "a.nrm", "b.v", "b.nrm")} AS cos
       |  FROM cand c JOIN vn a ON c.id_a = a.vec_id JOIN vn b ON c.id_b = b.vec_id)
       |SELECT id_a, id_b, cos, cos >= 0.7 AS pass_tau
       |FROM scored ORDER BY cos DESC, id_a, id_b LIMIT 20""".stripMargin

  /** The LSH cosine ROUTE's recall scoreboard — the measurement that
    * pins the (1−(1−p⁸)³²)·P[h ≤ [[HammingMax]]] recall model with
    * data: every exact pair from the blocked sweep (τ = 0.4,
    * [[cosineDedupBlocked]]) is checked for membership in the route's
    * candidate stage ([[lshVerifiedCandidates]] — bands + Hamming
    * prefilter; the exact-cosine verify drops nothing above any τ, so
    * candidate recall IS route recall), grouped into 0.05-wide cosine
    * bands. The expected shape on this corpus: ~0.5 at cos 0.4 (below
    * the route's τ floor — documented as unreliable territory), rising
    * through ~0.7 at 0.5 toward ≈ 0.96 at the 0.7 floor. A deployment
    * runs this on a bounded SAMPLE (the truth side is the O(n²)
    * sweep): recall is a property of the plane family, banding, and τ
    * — not of corpus size — so the sample-measured curve transfers.
    */
  def lshRouteRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val truth = cosineDedupBlocked(s, dir).select($"id_a", $"id_b", $"cos")
    val cand = lshVerifiedCandidates(s, vecs(s, dir))
      .select($"id_a", $"id_b", lit(1).as("hit"))
    truth.join(cand, Seq("id_a", "id_b"), "left")
      .groupBy((floor($"cos" * 20) / 20).cast("double").as("cos_band"))
      .agg(count(lit(1)).as("n_true"), count($"hit").as("n_caught"))
      .select($"cos_band", $"n_true", $"n_caught",
        round($"n_caught".cast("double") / $"n_true", 4).as("recall"))
      .orderBy($"cos_band")
  }

  /** Oracle twin of [[lshRouteRecall]]: the blocked-sweep truth
    * ([[cosPairsSql]]) LEFT JOINed against the route's candidate chain
    * ([[lshCandCtesSql]]), banded and counted with the same floor/round
    * arithmetic.
    */
  lazy val lshRouteRecallSql: String =
    s"""WITH ${vecsCtesSql()},
       |$lshCandCtesSql,
       |truth AS ($cosPairsSql)
       |SELECT CAST(floor(t.cos * 20) / 20 AS DOUBLE) AS cos_band,
       |  CAST(count(*) AS BIGINT) AS n_true,
       |  CAST(count(c.id_a) AS BIGINT) AS n_caught,
       |  round(CAST(count(c.id_a) AS DOUBLE) / count(*), 4) AS recall
       |FROM truth t LEFT JOIN cand c ON t.id_a = c.id_a AND t.id_b = c.id_b
       |GROUP BY floor(t.cos * 20) / 20
       |ORDER BY cos_band""".stripMargin

  /** The ANN recall scoreboard — measured recall@5 against the
    * brute-force truth: ONE persisted brute-force frame (50 rows) and
    * one bounded join per method. recall@5 = |returned ∩ true top-5| /
    * (queries × 5), the standard ANN benchmark statistic; a method
    * returning fewer than 5 candidates for a query (LSH with a thin
    * bucket) is priced honestly. Each row also carries `n_candidates` —
    * the method's touched-candidate volume (r19: the Hamming-shortlisted
    * probe-bucket pairs for lsh, probed-list pairs for the IVF family,
    * the full nq·(n−1) compressed scan for pq) — because recall alone
    * cannot rank an index: 0.8 recall touching n/8 beats 0.86 touching
    * everything. This is the query a 100 TB deployment runs on a sample
    * before picking its index: the scoreboard is bounded no matter the
    * corpus. Split across two registered queries so this four-method
    * board stays cheap to re-derive: THIS one covers lsh / ivf / pq and
    * the trained ivf_kmeans, [[annRecallTrained]] the residual-PQ
    * ivf_pq; both are hash-checked end-to-end ([[recallSql]]).
    * SimilaritySpec pins the floor each method must clear on this corpus
    * across both halves.
    */
  def annRecall(s: SparkSession, dir: String): DataFrame =
    recallScoreboard(s, dir, Seq(
      ("lsh", lshRanked(s, dir), None),
      ("ivf", ivfRanked(s, vecs(s, dir), fixedCents(s, dir)), None),
      ("ivf_kmeans", ivfRanked(s, vecs(s, dir), cachedCoarseCents(s, dir, 16)), None),
      ("pq", pqRanked(s, unitVecs(s, dir), col("vec_id") < 10), None)))

  /** The residual-PQ half of the scoreboard; same brute-force truth
    * frame and recall/volume algebra as [[annRecall]]. Its
    * `n_candidates` is the ADC-scored pair count (the compressed scan of
    * the probed lists, pre-shortlist) — the volume column that makes
    * ivf_pq comparable to the other rows.
    */
  def annRecallTrained(s: SparkSession, dir: String): DataFrame = {
    val (ranked, adcPairs) = annIvfPqBoth(s, dir)
    recallScoreboard(s, dir, Seq(("ivf_pq", ranked, Some(adcPairs))))
  }

  /** The brute-force truth frame, pinned once per (session, dir) —
    * both scoreboard halves intersect against the same 50 rows.
    */
  private def bruteTruth(s: SparkSession, dir: String): DataFrame =
    SessionCache.getOrCompute(s, s"sim.bruteTop5:$dir") {
      import s.implicits._
      SessionCache.pin(annCosineTopK(s, dir).select($"q_id", $"neighbor_id"))
    }

  /** One board row per method from its [[search]] frame (every scored
    * candidate, pre-top-5): hits = |rank ≤ 5 ∩ brute-force truth| and
    * n_candidates = the frame's row count — the method's touched volume,
    * read from the same single pass — unless the method names its
    * touched frame (ivf_pq's ADC scan, before its shortlist). Recall
    * alone cannot rank an index (0.8 recall touching n/8 beats 0.86
    * touching the whole corpus); the volume column is what a deployment
    * weighs it against.
    */
  private def recallScoreboard(s: SparkSession, dir: String,
      methods: Seq[(String, DataFrame, Option[DataFrame])]): DataFrame = {
    import s.implicits._
    val brute = bruteTruth(s, dir)
    val nTruth = brute.count() // = queries × 5 (persisted — cheap)
    val bruteHit = broadcast(brute.withColumn("hit", lit(1)))
    val hits = count(when($"rank" <= 5, $"hit")).as("hits")
    methods.map { case (name, ranked, touched) =>
      val scored = ranked.select($"q_id", $"neighbor_id", $"rank")
        .join(bruteHit, Seq("q_id", "neighbor_id"), "left")
      touched.fold(scored.agg(hits, count(lit(1)).as("n_candidates"))) { t =>
        scored.agg(hits).crossJoin(t.agg(count(lit(1)).as("n_candidates")))
      }.select(lit(name).as("method"), $"hits",
          lit(nTruth).as("n_truth"),
          round($"hits" / nTruth.toDouble, 4).as("recall_at_5"),
          $"n_candidates")
    }.reduce(_.unionByName(_)).orderBy($"method")
  }

  /** [[recallScoreboard]]'s mirror: each method's [[SearchSql]] top 5
    * intersected with the brute-force top 5, and its touched count.
    */
  private def recallSql(methods: Seq[(String, SearchSql)]): String = {
    def each(row: ((String, SearchSql), Int) => String, sep: String) =
      methods.zipWithIndex.map(row.tupled).mkString(sep)
    val union = "\n  UNION ALL\n  "
    s"""WITH brute AS (SELECT q_id, neighbor_id FROM ($annCosineTopKSql) b),
      |${each({ case ((_, q), i) =>
        s"r$i AS (SELECT q_id, neighbor_id FROM (${q.top}) t)" }, ",\n")},
      |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM brute),
      |hits AS (
      |  ${each({ case ((name, _), i) =>
        s"SELECT '$name' AS method, count(*) AS hits FROM r$i JOIN brute USING (q_id, neighbor_id)" }, union)}),
      |cands AS (
      |  ${each({ case ((name, q), _) =>
        s"SELECT '$name' AS method, (SELECT n FROM (${q.count}) t) AS n_candidates" }, union)})
      |SELECT method, CAST(hits AS BIGINT) AS hits, n_truth,
      |  round(CAST(hits AS DOUBLE) / n_truth, 4) AS recall_at_5,
      |  CAST(n_candidates AS BIGINT) AS n_candidates
      |FROM hits JOIN cands USING (method) CROSS JOIN nt
      |ORDER BY method""".stripMargin
  }

  /** Oracle for the four-method scoreboard: each method's search oracle
    * (the [[lshTopK]] route and the registered q_ann_ivf /
    * q_ann_ivf_kmeans / q_ann_pq routes) through [[recallSql]].
    */
  def annRecallSql: String = recallSql(Seq(
    "ivf" -> ivfSql(fixedCentsSql),
    "ivf_kmeans" -> ivfSql(coarseCtesSql("SELECT 16 AS k")),
    "lsh" -> lshSearchSql,
    "pq" -> pqSql))

  /** Norm-decorated view of an arbitrary (vec_id, v: array<double>)
    * frame — lets specs drive the router with planted vectors.
    */
  private[graft] def withNorms(df: DataFrame): DataFrame =
    df.withColumn("nrm", sqrt(arrayDot(col("v"), col("v"))))

  /** Lloyd rounds of the coarse and two-level quantizers ([[lloyd]]). */
  val CoarseIters = 4

  /** 64 = [[PqM]]·[[PqD]] — the embedding store's dimension, pinned by
    * TablesSpec; the oracle's per-dimension re-mean unrolls over it.
    */
  val EmbedDim: Int = PqM * PqD

  /** A keyed codebook: (key, j, centroid) rows, each key's centroids
    * indexed by j.
    */
  private[graft] type Codebook = Seq[(Int, Int, Seq[Double])]

  /** THE argmin-L2² assignment of every quantizer: each (key, vec_id, v)
    * row against its own key's centroids in a broadcast [[Codebook]],
    * through the declared mapPartitions codec boundary (the BPE
    * encodeWord precedent). Per row one primitive-loop scan of the key's
    * centroids — zero shuffle, the corpus never moves, and ~100× faster
    * than the equivalent higher-order-function expression (nested
    * lambdas are CodegenFallback, so the fold interpreted k×dim
    * expression nodes PER ROW — measured as the planner's wall time at
    * k=128). The arithmetic is the oracle's ([[nearestSql]]) step for
    * step: left-to-right (x−y)² accumulation from 0.0, then the distance
    * as a SCALED INTEGER — round(L2²·10⁶) half away from zero, which is
    * DuckDB's round() and `Math.round` alike on a non-negative double —
    * compared with strict < so ties keep the lower j. (A 6-dp round of
    * the double is not engine-neutral: Spark rounds the shortest decimal
    * rendering, DuckDB the binary value, and the two part at a 6-dp
    * midpoint.) Returns (key, vec_id, j, v, d2), d2 in micro-units.
    */
  private[graft] def nearest(s: SparkSession, rows: DataFrame, codebook: Codebook): DataFrame = {
    import s.implicits._
    val bc = s.sparkContext.broadcast(codebook.groupBy(_._1).map { case (key, cs) =>
      val sorted = cs.sortBy(_._2)
      key -> (sorted.map(_._2).toArray, sorted.map(_._3.toArray).toArray)
    })
    rows.select($"key", $"vec_id", $"v").as[(Int, Long, Seq[Double])]
      .mapPartitions { it =>
        val byKey = bc.value
        it.map { case (key, id, vec) =>
          val (js, cs) = byKey(key)
          val a = vec.toArray
          var best = 0
          var bestD = Long.MaxValue
          var j = 0
          while (j < cs.length) {
            val c = cs(j)
            var acc = 0.0
            var i = 0
            while (i < a.length) { val d = a(i) - c(i); acc += d * d; i += 1 }
            val d2 = math.round(acc * 1e6)
            if (d2 < bestD) { bestD = d2; best = j } // strict <: ties keep lower j
            j += 1
          }
          (key, id, js(best), vec, bestD)
        }
      }.toDF("key", "vec_id", "j", "v", "d2")
  }

  /** THE Lloyd trainer — deterministic k-means made hash-checkable, and
    * the one fit behind every quantizer of this family: each key of
    * `rows` (key, vec_id, v) trains its own codebook of kPerKey(key)
    * centroids, every key in the same jobs (one key for the coarse
    * quantizer, the branch for level 2 of [[hierAssignKeyed]], the
    * subspace for PQ, the candidate k for the SemDeDup planner). Init is
    * each key's k lowest vec_ids; each of `iters` rounds
    *
    *  1. assigns every row ROW-LOCALLY against its key's centroids
    *     ([[nearest]]) — zero shuffle, the corpus never moves;
    *  2. re-means each (key, j) cluster with ORDER-INDEPENDENT exact
    *     integer sums (coordinates in micro-units summed as
    *     decimal(38,0) — the embedNormOutliers idiom) and an exact
    *     integer mean (sum/count rounded half away from zero), so the
    *     updated centroid is the same micro-unit double on any
    *     partitioning AND in DuckDB's unrolled re-derivation
    *     ([[lloydCtesSql]]); empty clusters keep their previous
    *     centroid. (A 6-dp round of the double mean broke that: the mean
    *     of an even-sized cluster often lands on a 6-dp midpoint, where
    *     Spark's and DuckDB's round() part by 10⁻⁶.)
    *
    * A key's codebook depends only on its own rows, so training keys
    * together gives each the codebook it gets alone (SimilaritySpec).
    * Driver state per round is the codebook (KBs at any corpus size);
    * a round is one job whose shuffle is one (key, j, dim) aggregate
    * with map-side partial aggregation. Returns the codebook and the
    * total quantization error (Σ d2 of the last round's assignment) so
    * callers can verify training tightened the fit. MLlib's seeded
    * KMeans remains beside this as the quality cross-check twin
    * ([[fitCentroids]], SimilaritySpec).
    */
  private[graft] def lloyd(s: SparkSession, rows: DataFrame, kPerKey: Map[Int, Int],
      iters: Int): (Codebook, Double) = {
    import s.implicits._
    val dec = "decimal(38,0)"
    val half = expr("(abs(s) * 2 + n) div (n * 2)") // |s|/n, half away from 0
    // the loop re-reads its input once per round plus the init — pin it
    // for the loop's lifetime so the input lineage runs once (the
    // embeddings frame rebuilt dozens of times per query is WHY fan-out
    // was toxic here; a pin removes the recompute without adding an
    // exchange)
    Tables.pinned(rows.select($"key", $"vec_id", $"v")) { in =>
      // the filter reads row_number itself so the planner takes each
      // partition's top rows before the shuffle (a window group limit)
      var codebook: Codebook = in
        .withColumn("rn", row_number().over(Window.partitionBy($"key").orderBy($"vec_id")))
        .where($"rn" <= kPerKey.values.max)
        .select($"key", ($"rn" - 1).as("j"), $"v").as[(Int, Int, Seq[Double])].collect()
        .filter { case (key, j, _) => j < kPerKey(key) }
        .sortBy { case (key, j, _) => (key, j) }.toSeq
      var err = Double.NaN
      for (_ <- 0 until iters) {
        // re-mean in the EXPLODED (key, j, dim, micro-int) shape — one
        // generic aggregate instead of dim-wide decimal-sum columns whose
        // generated code dominated the planner's wall time (measured 29 s)
        val stats = nearest(s, in, codebook)
          .select($"key", $"j", $"d2", posexplode(transform($"v", x =>
            round(x * 1e6).cast("long"))).as(Seq("dim", "mi")))
          .groupBy($"key", $"j", $"dim")
          .agg(count(lit(1)).as("n"), sum($"mi".cast(dec)).cast("long").as("s"),
            sum(when($"dim" === 0, $"d2".cast(dec))).as("e"))
          .select($"key", $"j", $"dim", when($"s" < 0, -half).otherwise(half) / 1e6, $"e")
          .collect()
        err = stats.flatMap(r => Option(r.getDecimal(4))).map(BigDecimal(_)).sum.toDouble / 1e6
        val moved = stats.map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3)).toMap
        codebook = codebook.map { case (key, j, c) =>
          if (moved.contains((key, j, 0))) (key, j, c.indices.map(i => moved((key, j, i))))
          else (key, j, c)
        }
      }
      (codebook, err)
    }
  }

  /** `v`'s (vec_id, v) rows as the one key 0 of a [[lloyd]] / [[nearest]] input. */
  private def oneKey(v: DataFrame): DataFrame =
    v.select(lit(0).as("key"), col("vec_id"), col("v"))

  /** The single-key coarse quantizer: [[CoarseIters]] [[lloyd]] rounds at k. */
  private[graft] def trainCoarse(s: SparkSession, v: DataFrame, k: Int): Codebook =
    lloyd(s, oneKey(v), Map(0 -> k), CoarseIters)._1

  /** The trained codebook as the (cent_id, cv, cnrm) frame the IVF /
    * SemDeDup consumers take — a driver-local relation, broadcast by
    * every consumer join.
    */
  private[graft] def coarseCentFrame(s: SparkSession, cents: Codebook): DataFrame = {
    import s.implicits._
    cents.map { case (_, j, c) => (j, c) }.toDF("cent_id", "cv")
      .withColumn("cnrm", sqrt(arrayDot(col("cv"), col("cv"))))
  }

  /** Session-memoized fit: every consumer of the same (dir, k) coarse
    * quantizer — IVF search, SemDeDup, the corpus map, the recall
    * scoreboard — pays the 4-round training once per session.
    */
  private def cachedCoarseCents(s: SparkSession, dir: String, k: Int): DataFrame =
    SessionCache.getOrCompute(s, s"sim.coarseCents:$dir:$k") {
      coarseCentFrame(s, trainCoarse(s, vecs(s, dir), k))
    }

  /** The L2² of two lists as [[nearest]]'s scaled integer (micro-units). */
  private def l2MicroSql(x: String, y: String): String =
    s"round(${foldSql(x, i => s"($x[$i] - $y[$i]) * ($x[$i] - $y[$i])")} * 1000000)"

  /** THE argmin-L2² CTE body, [[nearest]]'s oracle mirror: each row of
    * `rows` (alias t: keys…, vec_id, `v`) against the centroids of
    * `cents` (alias c: keys…, `j`, `c`) under the same keys, keeping t's
    * columns plus the winning c.`j` — least micro-unit L2², ties to the
    * lower j.
    */
  private def nearestSql(rows: String, cents: String, keys: Seq[String] = Nil,
      v: String = "v", c: String = "c", j: String = "j"): String = {
    val from = if (keys.isEmpty) s"$rows t CROSS JOIN $cents c"
      else s"$rows t JOIN $cents c ON " + keys.map(k => s"t.$k = c.$k").mkString(" AND ")
    s"SELECT * EXCLUDE (nd2, rank) FROM (" + rankedSql(
      s"t.*, c.$j, -${l2MicroSql(s"t.$v", s"c.$c")} AS nd2", from,
      (keys :+ "vec_id").mkString(", "), "nd2", j, "1") + ")"
  }

  /** [[lloyd]]'s init as SQL: each key's `k` (a SQL scalar) lowest
    * vec_ids of `input` (keys…, vec_id, v) as (keys…, j, c).
    */
  private def lowestSql(input: String, keys: Seq[String], k: String): String = {
    val ks = keys.map(_ + ", ").mkString
    s"SELECT ${ks}CAST(rank - 1 AS INT) AS j, v AS c FROM (" +
      rankedSql(s"${ks}vec_id, -vec_id AS nid, v", input, keys.mkString(", "), "nid",
        "vec_id", s"($k)") + ")"
  }

  /** THE unrolled [[lloyd]] in DuckDB, the one generator behind every
    * trained quantizer's oracle: `input` (keys…, vec_id, v) and `init`
    * (keys…, j, c) are relations of the enclosing WITH; round r adds the
    * assignment `<p>a<r>` ([[nearestSql]]), the exact micro-unit re-mean
    * `<p>m<r>` and the codebook `<p>c<r>` (empty clusters keep their
    * centroid), ending in `<p>c<iters>`. Every CTE is MATERIALIZED: the
    * previous codebook is read twice per round, so DuckDB's default CTE
    * inlining would grow the expression tree 2^rounds — measured as a
    * hung oracle once the residual-PQ chain stacked on the coarse one.
    */
  private def lloydCtesSql(p: String, keys: Seq[String], input: String, init: String,
      dim: Int, iters: Int): String = {
    val kj = (keys :+ "j").mkString(", ")
    (1 to iters).map { r =>
      val prev = if (r == 1) init else s"${p}c${r - 1}"
      s"""${p}a$r AS MATERIALIZED (${nearestSql(input, prev, keys)}),
         |${p}m$r AS MATERIALIZED (
         |  SELECT $kj, dim, CAST(sign(s) * ((abs(s) * 2 + n) // (n * 2)) AS DOUBLE)
         |    / 1000000.0 AS cd
         |  FROM (
         |    SELECT $kj, d.i AS dim, count(*) AS n,
         |      sum(CAST(round(v[d.i] * 1000000) AS BIGINT)) AS s
         |    FROM ${p}a$r, (SELECT unnest(generate_series(1, $dim)) AS i) d
         |    GROUP BY $kj, d.i) z),
         |${p}c$r AS MATERIALIZED (
         |  SELECT ${keys.map(k => s"o.$k, ").mkString}o.j, coalesce(mm.c, o.c) AS c
         |  FROM $prev o LEFT JOIN (
         |    SELECT $kj, list(cd ORDER BY dim) AS c FROM ${p}m$r GROUP BY $kj) mm
         |    USING ($kj))""".stripMargin
    }.mkString(",\n")
  }

  /** DuckDB re-derivation of [[trainCoarse]]: kk defines k, c0 the
    * lowest-vec_id init, the [[lloydCtesSql]] rounds, and
    * cents(cent_id, cv, cnrm). Assumes vn(vec_id, v, nrm) is defined by
    * the enclosing WITH.
    */
  private def coarseCtesSql(kSql: String): String =
    s"""kk AS MATERIALIZED ($kSql),
       |c0 AS MATERIALIZED (${lowestSql("vn", Nil, "SELECT k FROM kk")}),
       |${lloydCtesSql("", Nil, "vn", "c0", EmbedDim, CoarseIters)},
       |cents AS MATERIALIZED (
       |  SELECT j AS cent_id, c AS cv, sqrt(${dotSql("c", "c")}) AS cnrm
       |  FROM c$CoarseIters)""".stripMargin

  /** DuckDB re-derivation of [[hierAssignKeyed]] at one k: kk0 pins the
    * grounded k, the level-1 chain is [[coarseCtesSql]] at k1 = ⌈√k⌉
    * (ending in `cents`), basg branch-partitions every vector by the
    * same argmin-L2, d0 inits each branch's k2 lowest vec_ids, the
    * branch-keyed [[lloydCtesSql]] rounds end in hc<rounds>; cents2
    * flattens to cent_id = b·k2 + j and hasg is the two-level CONSUMER
    * assignment ([[assignSql]] within the branch, the winning ccos
    * kept). Assumes vn(vec_id, v, nrm) is defined by the enclosing WITH;
    * `kSql` must select the grounded k FROM vn.
    */
  private def hierCtesSql(kSql: String): String =
    s"""kk0 AS MATERIALIZED ($kSql),
       |${coarseCtesSql("SELECT greatest(2, CAST(ceil(sqrt(k)) AS INT)) AS k FROM kk0")},
       |kk2 AS MATERIALIZED (
       |  SELECT greatest(1, CAST(ceil(CAST(kk0.k AS DOUBLE) / kk.k) AS INT)) AS k2
       |  FROM kk0, kk),
       |basg AS MATERIALIZED (
       |  SELECT vec_id, v, nrm, cent_id AS b
       |  FROM (${nearestSql("vn", "cents", c = "cv", j = "cent_id")})),
       |d0 AS MATERIALIZED (${lowestSql("basg", Seq("b"), "SELECT k2 FROM kk2")}),
       |${lloydCtesSql("h", Seq("b"), "basg", "d0", EmbedDim, CoarseIters)},
       |cents2 AS MATERIALIZED (
       |  SELECT d.b, CAST(d.b * kk2.k2 + d.j AS INT) AS cent_id, d.c AS cv,
       |    sqrt(${dotSql("d.c", "d.c")}) AS cnrm
       |  FROM hc$CoarseIters d CROSS JOIN kk2),
       |hasg AS MATERIALIZED (${assignSql("basg t JOIN cents2 c ON t.b = c.b", 1, "t.v, t.nrm, ")})""".stripMargin

  /** The corpus-grounded k as a SQL scalar — [[semDedupK]]'s
    * max(2, ceil(n/target)) re-stated over vn. A `def`: it reads vals
    * declared later in the object, and a val here would initialize
    * before them.
    */
  private def semDedupKSql: String =
    s"SELECT greatest(2, CAST(ceil(count(*) / $SemDedupTargetClusterSize.0) AS INT)) AS k FROM vn"

  /** SemDeDup cosine threshold (the paper sweeps 0.93-0.999 on real
    * near-dup data; 0.4 reaches this corpus's qualifying tail — the
    * q_embed_cosine_dedup precedent).
    */
  val SemDedupTau = 0.4

  /** THE argmax-cosine assignment: each `v` row (vec_id, v, nrm, …)
    * against the broadcast centroids `cents` (cent_id, cv, cnrm, …) —
    * all of them, or those sharing its `on` keys — keeping its best
    * `keep` by (`score` DESC, cent_id ASC) as `v`'s columns plus cent_id
    * and ccos, the winning score. One source for the IVF lists and
    * probes, IVF-PQ's probes (its un-normalised q·c score), SemDeDup's
    * partition and level 2 of [[hierAssignKeyed]]. Mirror: [[assignSql]].
    */
  private def assignTo(v: DataFrame, cents: DataFrame, keep: Int = 1, on: Seq[String] = Nil,
      score: Column = cosine(col("v"), col("nrm"), col("cv"), col("cnrm"))): DataFrame = {
    val pairs = if (on.isEmpty) v.crossJoin(broadcast(cents)) else v.join(broadcast(cents), on)
    best(pairs.select(v.columns.map(col) :+ col("cent_id") :+ score.as("ccos"): _*),
      on :+ "vec_id", col("ccos"), "cent_id", keep)
  }

  /** [[assignTo]]'s mirror: each `from` row (alias t: vec_id, v, nrm)
    * against its centroids (alias c: cent_id, cv, cnrm), its best `keep`
    * by (`score` DESC, cent_id ASC) as (vec_id, `carry`…, cent_id, ccos).
    */
  private def assignSql(from: String, keep: Int, carry: String = "",
      score: String = cosSql("t.v", "t.nrm", "c.cv", "c.cnrm")): String =
    s"SELECT * EXCLUDE (rank) FROM (" + rankedSql(s"t.vec_id, ${carry}c.cent_id, $score AS ccos",
      from, "vec_id", "ccos", "cent_id", s"$keep") + ")"

  /** The SemDeDup cluster-then-prune sweep on any (vec_id, v, nrm)
    * frame with given centroids — factored so the spec can drive
    * planted vectors and prove pair equality with the exact sweep
    * restricted to clusters. Returns one row per vector:
    * (vec_id, cluster_id, kept).
    */
  private[graft] def semDedupOn(s: SparkSession, v: DataFrame,
      cents: DataFrame, tau: Double): DataFrame =
    pruneAssigned(s, assignTo(v, cents)
      .select(col("vec_id"), col("v"), col("nrm"), col("cent_id")), tau)

  /** The within-cluster prune on any (vec_id, v, nrm, cent_id)
    * assignment: ONE shuffle equi-join on cluster_id — the published
    * pruning. Cluster count grows with the corpus (SemDeDup fits k=50k
    * on LAION), so per-cluster blocks stay bounded and the quadratic
    * never spans the corpus. Keep-min-id exemplar (the q_dedup_exact
    * convention): any vector with a smaller-id near-duplicate in its
    * cluster is pruned; transitive exemplar selection composes with
    * q_dedup_clusters. Shared by the flat-centroid spec path
    * ([[semDedupOn]]) and the registered hierarchical [[semDedup]].
    */
  private def pruneAssigned(s: SparkSession, assign: DataFrame, tau: Double): DataFrame = {
    import s.implicits._
    val a = assign.select($"cent_id", $"vec_id".as("id_x"), $"v".as("vx"), $"nrm".as("nx"))
    val b = assign.select($"cent_id", $"vec_id".as("id_y"), $"v".as("vy"), $"nrm".as("ny"))
    val dups = a.join(b, "cent_id")
      .where($"id_x" < $"id_y")
      .where(cosineAtLeast($"vx", $"nx", $"vy", $"ny", tau))
      .select($"id_y").distinct()
    assign.join(dups.withColumnRenamed("id_y", "vec_id"), Seq("vec_id"), "left_anti")
      .select($"vec_id", $"cent_id".as("cluster_id"), lit(true).as("kept"))
      .unionByName(
        dups.select($"id_y".as("vec_id")).join(assign, "vec_id")
          .select($"vec_id", $"cent_id".as("cluster_id"), lit(false).as("kept")))
      .orderBy($"vec_id")
  }

  /** The published contract made executable: SemDeDup's k scales with
    * the corpus so per-cluster blocks stay bounded (Abbas et al. fit
    * k=50k on LAION — about one cluster per few thousand items). The
    * grounding rule is a target MEAN cluster size: k = ceil(n/target),
    * which bounds expected within-cluster pair volume at
    * ~n·(target−1)/2 — linear in the corpus. [[semDedupPlan]] measures
    * the actual volumes around this k.
    */
  val SemDedupTargetClusterSize = 64

  private[graft] def semDedupK(n: Long): Int =
    math.max(2, math.ceil(n.toDouble / SemDedupTargetClusterSize).toInt)

  /** Level split of the corpus-grounded k: k1 = ⌈√k⌉ branch centroids,
    * k2 = ⌈k/k1⌉ sub-centroids per branch. ROUND-18 SCALE FIX (§8j):
    * single-level Lloyd with k ∝ n costs n·k = O(n²/target) per round
    * — the 30× deep-ladder point measured q_semdedup at 9.2× for 3×
    * data — so the k-∝-n consumers (SemDeDup, the corpus map, the k
    * planner) train a TWO-LEVEL quantizer instead: Lloyd at k1 over
    * the corpus, branch-partition, then branch-local Lloyd at k2 —
    * every stage is n·(k1 + k2) = O(n·√k) = O(n^1.5/√target), the
    * hierarchical-k-means shape every production IVF trainer uses.
    * Consumers assign level-1 by the trainer's own argmin-L2 (so the
    * consumed partition IS the trained one) and level-2 by the
    * established argmax-cosine consumer convention (ties to the lower
    * id at both levels); flat cluster id = b·k2 + j. The fixed-k
    * consumers (IVF k=16, PQ nlist) keep the single-level trainer.
    */
  private[graft] def hierDims(k: Int): (Int, Int) = {
    val k1 = math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)
    (k1, math.max(1, math.ceil(k.toDouble / k1).toInt))
  }

  /** Session-memoized two-level CONSUMER assignment at the grounded k
    * ([[hierAssignKeyed]] on one key): (vec_id, v, nrm, cent_id, ccos).
    * Shared by q_semdedup and q_embed_clusters, so a session pays fit +
    * assignment once.
    */
  private def cachedHierAssign(s: SparkSession, dir: String, k: Int): DataFrame =
    SessionCache.getOrCompute(s, s"sim.hierAssign:$dir:$k") {
      hierAssignOn(s, vecs(s, dir), k)
    }

  private[graft] def hierAssignOn(s: SparkSession, v: DataFrame, k: Int): DataFrame =
    hierAssignKeyed(s, oneKey(v), Map(0 -> k)).drop("key")

  /** The two-level fit and its consumer assignment for every key of
    * `rows` (key, vec_id, v) at that key's own k, all keys in the same
    * jobs: [[lloyd]] at k1 per key, branch-partition by the same
    * [[nearest]] assignment, then [[lloyd]] at k2 keyed by (key, branch)
    * — init the k2 lowest vec_ids WITHIN the branch. Consumers assign
    * level 1 by the trainer's own argmin-L2 (so the consumed partition IS
    * the trained one) and level 2 by the argmax-cosine convention within
    * the branch — one broadcast equi-join ON THE BRANCH KEY, n·k2 rows,
    * not n·k — ties to the lower id at both levels; flat cluster id =
    * b·k2 + j. Returns (key, vec_id, v, nrm, cent_id, ccos), ccos the
    * winning level-2 cosine. DuckDB mirror: [[hierCtesSql]].
    */
  private def hierAssignKeyed(s: SparkSession, rows: DataFrame, kOf: Map[Int, Int]): DataFrame = {
    import s.implicits._
    val dims = kOf.map { case (key, k) => key -> hierDims(k) }
    val (cents1, _) = lloyd(s, rows, dims.map { case (key, (k1, _)) => key -> k1 }, CoarseIters)
    // the level-2 Lloyd key of branch b under key is key·stride + b
    val stride = dims.values.map(_._1).max
    val branched = nearest(s, rows, cents1)
      .select($"key".as("key1"), ($"key" * stride + $"j").as("key"), $"vec_id", $"v")
    val (subs, _) = lloyd(s, branched,
      for ((key, (k1, k2)) <- dims; b <- 0 until k1) yield (key * stride + b) -> k2,
      CoarseIters)
    val cents2 = subs.map { case (key, j, c) =>
        (key, (key % stride) * dims(key / stride)._2 + j, c) }
      .toDF("key", "cent_id", "cv")
      .withColumn("cnrm", sqrt(arrayDot($"cv", $"cv")))
    // level 2 keyed by branch: a vector's (branch key, vec_id) group is
    // its (key, vec_id) group, each vector lying in one branch per key
    assignTo(branched.withColumn("nrm", sqrt(arrayDot($"v", $"v"))), cents2, on = Seq("key"))
      .select($"key1".as("key"), $"vec_id", $"v", $"nrm", $"cent_id", $"ccos")
  }

  /** Embedding-space CORPUS MAP — the cluster-level cartography report
    * an embedding store publishes (and the reporting face of the same
    * partition SemDeDup prunes with — the k-means fit is shared
    * through SessionCache, so a session pays it once): per cluster,
    * its size, COHESION (mean cosine of members to their centroid —
    * low-cohesion clusters are the mixed/noisy regions worth manual
    * review), and the modal label with its count (how well the
    * embedding geometry recovers the labeling). Scale shape: TWO-LEVEL
    * assignment against broadcast codebooks ([[hierDims]] — n·(k1+k2)
    * dots, not n·k), one cluster-keyed hash agg; the cohesion fold
    * orders by vec_id and each cluster is bounded at
    * ~[[SemDedupTargetClusterSize]] members BY CONSTRUCTION of the
    * grounded k, so no fold buffers more than the target size.
    * HASH-CHECKED since the quantizer went deterministic
    * ([[embedClustersSql]]); SimilaritySpec pins invariants +
    * determinism.
    */
  def embedClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val v = vecs(s, dir)
    val k = semDedupK(v.count())
    val labels = Tables.embeddings(s, dir).select($"vec_id", $"label")
    val assign = cachedHierAssign(s, dir, k)
      .select($"vec_id", $"cent_id", $"ccos")
      .join(labels, "vec_id")
    val labelCounts = assign.groupBy($"cent_id", $"label")
      .agg(count(lit(1)).as("ln"))
      .groupBy($"cent_id")
      // modal label, smaller label on ties (struct-MIN on (-count,
      // label), no window). Only the count is negated — it is always a
      // long; negating the LABEL would pin its dtype numeric, and a
      // regenerated corpus with string labels would fail analysis (the
      // r13 schema-drift precedent) instead of degrading gracefully
      .agg(min(struct((-$"ln").as("nln"), $"label")).as("m"))
      .select($"cent_id", $"m.label".as("top_label"), (-$"m.nln").as("top_label_n"))
    assign.groupBy($"cent_id")
      .agg(count(lit(1)).as("n_vecs"),
        round(FloatFold.orderedSum($"vec_id", $"ccos") / count(lit(1)), 6).as("cohesion"))
      .join(labelCounts, "cent_id")
      .select($"cent_id".as("cluster_id"), $"n_vecs", $"cohesion",
        $"top_label", $"top_label_n")
      .orderBy($"cluster_id")
  }

  /** ORACLE for the corpus map: two-level trained chain + consumer
    * assignment ([[hierCtesSql]]'s hasg, which keeps the winning ccos),
    * cohesion as the vec_id-ordered fold, modal label via the same
    * (count desc, label asc) ordering.
    */
  def embedClustersSql: String =
    s"""WITH ${vecsCtesSql()},
       |${hierCtesSql(semDedupKSql)},
       |asg AS (SELECT vec_id, cent_id, ccos FROM hasg),
       |coh AS (
       |  SELECT cent_id, CAST(count(*) AS BIGINT) AS n_vecs,
       |    round(${FloatFold.orderedSumSql("ccos", "vec_id")}
       |      / count(*), 6) AS cohesion
       |  FROM asg GROUP BY cent_id),
       |lab AS (
       |  SELECT a.cent_id, e.label, count(*) AS ln
       |  FROM asg a JOIN embeddings e USING (vec_id)
       |  GROUP BY a.cent_id, e.label),
       |top AS (${rankedSql("cent_id, label AS top_label, ln", "lab", "cent_id", "ln", "top_label", "1")})
       |SELECT c.cent_id AS cluster_id, c.n_vecs, c.cohesion,
       |  t.top_label, CAST(t.ln AS BIGINT) AS top_label_n
       |FROM coh c JOIN top t USING (cent_id)
       |ORDER BY cluster_id""".stripMargin

  /** Seeded MLlib k-means fit at a given k, returned as the (cent_id,
    * cv, cnrm) frame [[semDedupOn]] consumes — since round 15 the
    * registered queries train through [[trainCoarse]] (hash-checkable);
    * this twin remains as SimilaritySpec's quality cross-check.
    */
  private def fitCentroids(s: SparkSession, v: DataFrame, k: Int): DataFrame = {
    import s.implicits._
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val model = new KMeans().setK(k).setSeed(26062019L).setMaxIter(10)
      .setFeaturesCol("fv")
      .fit(v.select(array_to_vector($"v").as("fv")))
    s.createDataFrame(
        model.clusterCenters.toSeq.zipWithIndex.map { case (c, i) => (i, c.toArray) })
      .toDF("cent_id", "cv")
      .select($"cent_id", transform($"cv", _.cast("double")).as("cv"))
      .withColumn("cnrm", sqrt(arrayDot($"cv", $"cv")))
  }

  /** SemDeDup (Abbas et al. 2023) — SEMANTIC dedup by cluster-then-
    * prune, the embedding-space analogue of MinHash near-dup: a seeded
    * k-means partitions the space, candidate pairs are enumerated only
    * WITHIN a cluster, and exact cosine >= [[SemDedupTau]] prunes all
    * but the smallest-id member of each duplicate pair. Unlike the
    * guarded O(n²) q_embed_cosine_dedup sweep this is the corpus-scale
    * semantic-dedup shape: the TWO-LEVEL k-means fit and assignment are
    * O(n·√k) ([[hierDims]] — round 18; single-level Lloyd at k ∝ n was
    * n²/target per round, deep-ladder-measured), the pair join is
    * an equi-join on cluster_id, and k is GROUNDED in the corpus
    * ([[semDedupK]]: one cluster per [[SemDedupTargetClusterSize]]
    * items) so per-cluster work stays constant as the corpus grows.
    * HASH-CHECKED since the quantizer went deterministic
    * ([[semDedupSql]] re-derives fit + assignment + prune in DuckDB);
    * SimilaritySpec additionally proves pair equality with the exact
    * sweep restricted to co-clustered pairs and that a planted
    * duplicate is pruned.
    */
  def semDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val v = vecs(s, dir)
    val k = semDedupK(v.count())
    pruneAssigned(s,
      cachedHierAssign(s, dir, k).select($"vec_id", $"v", $"nrm", $"cent_id"),
      SemDedupTau)
  }

  /** ORACLE for SemDeDup: the two-level trained chain (k re-derived
    * from the corpus, [[hierCtesSql]]), its consumer assignment (hasg),
    * within-cluster pair prune at τ, keep-min-id — the
    * [[pruneAssigned]] algebra verbatim.
    */
  def semDedupSql: String =
    s"""WITH ${vecsCtesSql()},
       |${hierCtesSql(semDedupKSql)},
       |dups AS (
       |  SELECT DISTINCT b.vec_id AS vid
       |  FROM hasg a JOIN hasg b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
       |  WHERE ${cosSql("a.v", "a.nrm", "b.v", "b.nrm")} >= $SemDedupTau)
       |SELECT t.vec_id, t.cent_id AS cluster_id, (d.vid IS NULL) AS kept
       |FROM hasg t LEFT JOIN dups d ON t.vec_id = d.vid
       |ORDER BY t.vec_id""".stripMargin

  /** The SemDeDup k planner — the q_lsh_plan template applied to
    * cluster-then-prune: for candidate k around the grounded choice
    * (a quarter of it up to four times it), the MEASURED quadratic
    * exposure next to the linear assignment cost. `candidate_pairs` =
    * Σ n_c·(n_c−1)/2 over the actual cluster sizes — the exact number of
    * cosine evaluations the prune stage will pay; `assign_dots` =
    * n·(k1+k2), the two-level assignment's price of buying smaller
    * clusters. The `chosen` row marks [[semDedupK]]'s pick. Each
    * candidate is the same deterministic two-level fit the production
    * queries use (the planner must measure the quantizer actually
    * deployed), and the candidates train TOGETHER as Lloyd keys
    * ([[hierAssignKeyed]]): each gets the codebook it gets alone, and a
    * round is one job for all of them. HASH-CHECKED since the quantizer
    * went deterministic; SimilaritySpec asserts the candidate-pair bound
    * shrinks as k grows.
    */
  def semDedupPlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.pinned(vecs(s, dir)) { v =>
      val n = v.count()
      val kStar = semDedupK(n)
      val candidates = Seq(kStar / 4, kStar / 2, kStar, kStar * 2, kStar * 4)
        .map(math.max(2, _)).distinct
      val perKey = candidates.zipWithIndex.map { case (k, key) =>
        val (k1, k2) = hierDims(k)
        (key, k, k1 + k2)
      }.toDF("key", "k", "dots_per_vec")
      // one row per (candidate, vector), spread over the cores: the
      // candidates used to train as concurrent jobs, and a one-split
      // corpus would otherwise run every key's round in a single task
      val rows = v.select(explode(array(candidates.indices.map(lit): _*)).as("key"),
          $"vec_id", $"v")
        .repartition(s.sparkContext.defaultParallelism, $"key", $"vec_id")
      hierAssignKeyed(s, rows, candidates.zipWithIndex.map { case (k, key) => key -> k }.toMap)
        .groupBy($"key", $"cent_id").agg(count(lit(1)).as("c"))
        .groupBy($"key").agg(
          count(lit(1)).cast("int").as("clusters_used"),
          max($"c").as("max_cluster"),
          sum(($"c" * ($"c" - 1)) / 2).cast("long").as("candidate_pairs"))
        .join(perKey, "key")
        .select($"k", lit(n).as("n_vecs"), $"clusters_used",
          $"max_cluster", $"candidate_pairs",
          round($"candidate_pairs".cast("double") / n, 2).as("pairs_per_vec"),
          (lit(n) * $"dots_per_vec").as("assign_dots"),
          ($"k" === kStar).as("chosen"))
        .orderBy($"k")
    }
  }

  /** ORACLE for the k planner — five instantiations of the unrolled
    * TWO-LEVEL training chain (one per candidate k, each its own
    * nested WITH scope), the two-level consumer assignment (hasg),
    * cluster-size aggregation, and the planner row (assign_dots =
    * n·(k1+k2), the hierarchical assignment's price); candidate k
    * values that coincide at small corpora produce identical rows that
    * plain UNION collapses, mirroring the engine's `.distinct` on the
    * candidate list.
    */
  def semDedupPlanSql: String = {
    val kStar =
      s"greatest(2, CAST(ceil(count(*) / $SemDedupTargetClusterSize.0) AS INT))"
    def inst(kOfStar: String => String): String = {
      val kSel = s"SELECT ${kOfStar(kStar)} AS k FROM vn"
      s"""(WITH ${vecsCtesSql()},
         |${hierCtesSql(kSel)},
         |sizes AS (SELECT cent_id, count(*) AS c FROM hasg GROUP BY cent_id),
         |nn AS (SELECT count(*) AS n FROM vn),
         |ks AS (SELECT $kStar AS kstar FROM vn)
         |SELECT CAST(kk0.k AS INT) AS k, CAST(nn.n AS BIGINT) AS n_vecs,
         |  CAST(count(*) AS INT) AS clusters_used,
         |  CAST(max(s.c) AS BIGINT) AS max_cluster,
         |  CAST(sum((s.c * (s.c - 1)) // 2) AS BIGINT) AS candidate_pairs,
         |  round(CAST(sum((s.c * (s.c - 1)) // 2) AS DOUBLE) / nn.n, 2)
         |    AS pairs_per_vec,
         |  CAST(nn.n * (kk.k + kk2.k2) AS BIGINT) AS assign_dots,
         |  (kk0.k = ks.kstar) AS chosen
         |FROM sizes s CROSS JOIN kk0 CROSS JOIN kk CROSS JOIN kk2
         |  CROSS JOIN nn CROSS JOIN ks
         |GROUP BY kk0.k, kk.k, kk2.k2, nn.n, ks.kstar)""".stripMargin
    }
    // each WITH-scoped instantiation wraps as a derived table: DuckDB
    // 1.0's binder rejects a bare parenthesized WITH node inside a set
    // operation (INTERNAL "query node type mismatch")
    Seq[String => String](
      ks => s"greatest(2, $ks // 4)",
      ks => s"greatest(2, $ks // 2)",
      ks => ks,
      ks => s"$ks * 2",
      ks => s"$ks * 4")
      .map(inst).zipWithIndex
      .map { case (sql, i) => s"SELECT * FROM (\n$sql\n) inst$i" }
      .mkString("", "\nUNION\n", "\nORDER BY k")
  }

  /** Embedding-store hygiene: per-vector L2 norm with a corpus z-score
    * and a 3σ outlier flag — degenerate norms (zeros, near-zeros,
    * blow-ups) are embedding-pipeline failures that poison every
    * cosine downstream (a zero vector makes cosine NaN; an unnormalized
    * batch skews IVF centroids), so a store audits norms BEFORE
    * building indexes. Float discipline: the norm² is the row-local
    * codegen'd ArrayDot fold (bit-identical to the oracle's
    * list_reduce), pre-rounded to integer micro-units; the corpus
    * moments are exact decimal sums and the flag is the
    * q_events_anomaly multiplied-through integer predicate — no float
    * boundary anywhere in the gate. One scan, one single-row moments
    * aggregate, broadcast back. Output is per-vector (norm, z, flag) —
    * at 100 TB the same plan with `.where($"is_outlier")` ships only
    * the quarantine list.
    */
  def embedNormOutliers(s: SparkSession, dir: String): DataFrame =
    embedNormOutliersOf(Tables.embeddings(s, dir))

  /** The audit on ANY (vec_id, embedding) frame — factored so specs can
    * plant degenerate vectors (the driver's store is unit-normalized,
    * so the real corpus exercises only the zero-variance branch).
    */
  private[graft] def embedNormOutliersOf(emb: DataFrame): DataFrame = {
    import emb.sparkSession.implicits._
    val dec = "decimal(38,0)"
    val base = emb
      .select($"vec_id", transform($"embedding", _.cast("double")).as("v"))
      .withColumn("nrm", sqrt(arrayDot(col("v"), col("v"))))
      .select($"vec_id", $"nrm",
        round($"nrm" * 1000000).cast("long").cast(dec).as("ni"))
    val stats = base.agg(count(lit(1)).cast(dec).as("n"),
      sum($"ni").as("sv"), sum($"ni" * $"ni").as("svv"))
    val dev = $"n" * $"ni" - $"sv"
    val varn = $"n" * $"svv" - $"sv" * $"sv"
    base.crossJoin(broadcast(stats))
      .select($"vec_id", round($"nrm", 6).as("norm"),
        // a constant-norm store (e.g. already unit-normalized) has zero
        // variance: z is undefined (NULL), nothing flags
        when(varn > 0,
          round(dev.cast("double") / sqrt(varn.cast("double")), 6)).as("z"),
        (dev * dev > lit(9) * varn).as("is_outlier"))
      .orderBy($"vec_id")
  }

  lazy val embedNormOutliersSql: String =
    s"""WITH ${vecsCtesSql()},
       |ints AS (
       |  SELECT vec_id, nrm,
       |    CAST(CAST(round(nrm * 1000000) AS BIGINT) AS HUGEINT) AS ni
       |  FROM vn),
       |stats AS (
       |  SELECT CAST(count(*) AS HUGEINT) AS n, sum(ni) AS sv,
       |    sum(ni * ni) AS svv
       |  FROM ints)
       |SELECT i.vec_id, round(i.nrm, 6) AS norm,
       |  CASE WHEN s.n * s.svv - s.sv * s.sv > 0 THEN
       |    round(CAST(s.n * i.ni - s.sv AS DOUBLE)
       |      / sqrt(CAST(s.n * s.svv - s.sv * s.sv AS DOUBLE)), 6) END AS z,
       |  (s.n * i.ni - s.sv) * (s.n * i.ni - s.sv)
       |    > 9 * (s.n * s.svv - s.sv * s.sv) AS is_outlier
       |FROM ints i CROSS JOIN stats s
       |ORDER BY i.vec_id""".stripMargin

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("q_embed_cosine_dedup", cosineDedupBlocked, Some(cosineDedupSql)),
    GraftQuery("q_lsh_route_recall", lshRouteRecall, Some(lshRouteRecallSql)),
    GraftQuery("q_embed_cosine_dedup_lsh", cosineDedupLshTop, Some(cosineDedupLshSql)),
    GraftQuery("q_ann_cosine_topk", annCosineTopK, Some(annCosineTopKSql)),
    GraftQuery("q_ann_lsh", annLsh, Some(annLshSql), singleShot = true),
    GraftQuery("q_ann_ivf", annIvf, Some(annIvfSql)),
    GraftQuery("q_ann_ivf_kmeans", annIvfKmeans, Some(annIvfKmeansSql),
      singleShot = true),
    GraftQuery("q_ann_pq", annPq, Some(annPqSql)),
    GraftQuery("q_ann_ivf_pq", annIvfPq, Some(annIvfPqSql), singleShot = true),
    GraftQuery("q_embed_label_knn", labelKnn, Some(labelKnnSql)),
    GraftQuery("q_semdedup", semDedup, Some(semDedupSql), singleShot = true),
    GraftQuery("q_semdedup_plan", semDedupPlan, Some(semDedupPlanSql),
      singleShot = true),
    GraftQuery("q_ann_recall", annRecall, Some(annRecallSql), singleShot = true),
    GraftQuery("q_ann_recall_trained", annRecallTrained, Some(annRecallTrainedSql),
      singleShot = true),
    GraftQuery("q_embed_norm_outliers", embedNormOutliers, Some(embedNormOutliersSql)),
    GraftQuery("q_embed_clusters", embedClusters, Some(embedClustersSql),
      singleShot = true))
}
