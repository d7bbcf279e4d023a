package graft.operators

import graft.{GraftQuery, Tables}
import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-curation operators beyond the dedup/similarity families
  * (SURVEY §2.F): near-dup cluster assignment (connected components),
  * benchmark decontamination, deterministic stratified sampling, and the
  * sketch-based distinct-count path.
  */
object Corpus {

  /** Connected components over the MinHash-LSH near-dup pairs
    * (est_jaccard ≥ 0.5): every document in a component gets the
    * component's minimum doc_id as its cluster_id — the step that turns
    * pairwise near-dup evidence into "keep one per cluster" curation.
    *
    * Distributed min-label propagation: each round sends every node's
    * current label to its neighbors and keeps the minimum. Rounds needed
    * = graph diameter (near-dup components are tiny chains in practice;
    * the classic large-star/small-star contraction drops that to
    * O(log n) if a corpus ever produces deep chains). The driver loop
    * only checks a convergence flag — labels never leave the cluster —
    * and localCheckpoint truncates the growing lineage each round.
    */
  def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = Dedup.minhashLsh(s, dir)
      .where($"est_jaccard" >= 0.5).select($"id_a", $"id_b")
    val edges = pairs.select($"id_a".as("src"), $"id_b".as("dst"))
      .unionByName(pairs.select($"id_b".as("src"), $"id_a".as("dst")))
    // every round reads the edges; each round's labels are a checkpoint
    // (not a scoped pin) because the next round and the returned plan
    // read them, so only the ContextCleaner can release them
    val (labels, converged, rounds) = Tables.pinned(edges) { edges =>
      @annotation.tailrec
      def propagate(labels: DataFrame, round: Int): (DataFrame, Boolean, Int) =
        if (round == 20) (labels, false, round)
        else {
          val msgs = labels.join(edges, $"doc_id" === $"src")
            .select($"dst".as("doc_id"), $"cluster_id")
          // lazy checkpoint: the convergence probe below materializes it, so
          // each round is one job, not two, while still truncating lineage
          val next = labels.unionByName(msgs)
            .groupBy($"doc_id").agg(min($"cluster_id").as("cluster_id"))
            .localCheckpoint(false)
          val converged = next.join(labels.withColumnRenamed("cluster_id", "prev"), "doc_id")
            .where($"cluster_id" =!= $"prev").isEmpty
          if (converged) (next, true, round + 1) else propagate(next, round + 1)
        }
      propagate(edges.select($"src".as("doc_id")).distinct()
        .select($"doc_id", $"doc_id".as("cluster_id"))
        .localCheckpoint(true), 0)
    }
    // a silent early exit would return non-minimal labels that diverge
    // from the fixpoint (and the oracle); fail loudly instead — a corpus
    // with components deeper than this wants the large-star/small-star
    // O(log n) contraction, not more rounds
    require(converged,
      s"dedupClusters did not converge within $rounds rounds — component " +
        "diameter exceeds the bound; switch to star-contraction")
    labels.orderBy($"doc_id")
  }

  /** Connected components by alternating large-star/small-star
    * contraction (the published MapReduce CC algorithm — Kiveris et al.,
    * "Connected Components in MapReduce and Beyond") — the O(log n)-round
    * scale path that replaces per-round label propagation's
    * O(diameter) bound. Each round is two grouped-min passes plus joins;
    * no per-node neighbor lists are ever collected, so a hot node costs
    * one aggregation buffer, not a materialized adjacency array. The
    * fixpoint is a forest of stars whose centers are the component
    * minima — identical labels to [[dedupClusters]] (CorpusSpec asserts
    * equality), so it shares the recursive-CTE oracle.
    */
  def dedupClustersStar(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    clusterLabels(s, dir).orderBy($"doc_id")
  }

  /** Session-scoped materialized cluster labels: the star contraction is
    * a multi-round shuffle cascade, and BOTH q_dedup_clusters and
    * q_cluster_keep_best need its fixpoint — a pipeline that runs the
    * two in one session must pay the contraction once, not twice. Keyed
    * by (session, dir) in [[graft.SessionCache]] (released when the
    * session is evicted, computed outside the map's bin locks); the
    * labels frame is tiny (≤ one row per clustered doc), so the pin is
    * bounded, never corpus-sized.
    */
  private[graft] def clusterLabels(s: SparkSession, dir: String): DataFrame =
    graft.SessionCache.getOrCompute(s, s"corpus.clusterLabels:$dir") {
      import s.implicits._
      graft.SessionCache.pin(starContract(s, Dedup.minhashLsh(s, dir)
        .where($"est_jaccard" >= 0.5).select($"id_a", $"id_b")))
    }

  /** The contraction loop itself, on any (id_a, id_b) pair frame —
    * factored out so specs can drive it with adversarial graphs (deep
    * chains, bridged triangles) directly.
    */
  private[graft] def starContract(s: SparkSession, pairs: DataFrame): DataFrame = {
    import s.implicits._
    // normalized undirected edges (l < h), self-loops dropped. Each
    // round's edges are a checkpoint, not a scoped pin: the next round
    // and the returned plan read them, so only the ContextCleaner can
    // release them
    var e = pairs.select(least($"id_a", $"id_b").as("l"),
        greatest($"id_a", $"id_b").as("h"))
      .where($"l" =!= $"h").distinct()
      .localCheckpoint(true)
    var converged = false
    var round = 0
    while (!converged && round < 20) {
      // large-star: every node u links its LARGER neighbors to the min of
      // its neighborhood (including u). Grouped-min + join, no adjacency
      // materialization.
      val both = e.select($"l".as("u"), $"h".as("v"))
        .unionByName(e.select($"h".as("u"), $"l".as("v")))
      val mins = both.groupBy($"u").agg(least(min($"v"), first($"u")).as("m"))
      val ls = both.join(mins, "u").where($"v" > $"u")
        .select(least($"v", $"m").as("l"), greatest($"v", $"m").as("h"))
        .where($"l" =!= $"h").distinct()
      // small-star: every node links its smaller neighbors (and itself)
      // to the min of its smaller neighborhood
      val mins2 = ls.groupBy($"h").agg(min($"l").as("m"))
      val ss = ls.join(mins2, "h").where($"l" =!= $"m")
        .select($"l", $"m")
        .unionByName(mins2.select($"h".as("l"), $"m"))
        .select(least($"l", $"m").as("l"), greatest($"l", $"m").as("h"))
        .where($"l" =!= $"h").distinct()
        .localCheckpoint(false)
      // converged when the round is a no-op (star edge sets are stable
      // under both operators). Both sides are distinct edge sets, so set
      // equality is ONE full-outer-join pass probing for a one-sided row
      // — r22: the previous two exceptAll counts cost two jobs per round
      // on every contraction (batch, incremental, and per micro-batch).
      // isEmpty, not limit(1).count(): a limit inside a generated stage
      // inlines a JVM-unique counter name, so every round's probe was a
      // fresh class to compile; isEmpty plans the limit as a take
      converged = ss.select($"l", $"h", lit(1).as("in_ss"))
        .join(e.select($"l", $"h", lit(1).as("in_e")), Seq("l", "h"), "full_outer")
        .where($"in_ss".isNull || $"in_e".isNull)
        .isEmpty
      e = ss
      round += 1
    }
    require(converged,
      s"dedupClustersStar did not converge within $round rounds")
    // stars: h is a member, l its component-min center; centers label
    // themselves
    // unsorted: ordering is a query-surface concern (dedupClustersStar
    // adds it); sorting here would make the cached labels pay a sort
    // whose order consumers re-sort anyway
    e.select($"h".as("doc_id"), $"l".as("cluster_id"))
      .unionByName(e.select($"l".as("doc_id"), $"l".as("cluster_id")))
      .distinct()
  }

  /** Cluster-label CTE chain (defines `labels`: doc_id, cluster_id by
    * transitive closure, min reachable id per node — the fixpoint both
    * contraction variants converge to). Shared by the standalone cluster
    * oracle and the keep-best curation oracle.
    */
  val clustersCtesSql: String =
    s"""pairs AS (
       |  SELECT id_a, id_b FROM (${Dedup.minhashLshSql}) m
       |  WHERE est_jaccard >= 0.5),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |reach(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src),
       |labels AS (
       |  SELECT id AS doc_id, min(r) AS cluster_id
       |  FROM reach GROUP BY id)""".stripMargin

  val dedupClustersSql: String =
    s"""WITH RECURSIVE $clustersCtesSql
       |SELECT doc_id, cluster_id FROM labels ORDER BY doc_id""".stripMargin

  /** The curation decision near-dup clustering exists FOR: per cluster,
    * keep the highest-quality member (quality ties broken by smallest
    * doc_id). One aggregation with a struct-max — no per-cluster window,
    * so a pathological corpus-wide duplicate cluster costs one
    * aggregation buffer, not a single-task sort.
    */
  def clusterKeepBest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val labels = clusterLabels(s, dir)
    val q = TextAnalysis.qualityScore(s, dir).select($"doc_id", $"quality")
    labels.join(q, "doc_id")
      .groupBy($"cluster_id")
      .agg(count(lit(1)).as("n_members"),
        // struct max: highest quality first, then highest -doc_id = lowest id
        max(struct($"quality", (-$"doc_id").as("neg_id"))).as("best"))
      .select($"cluster_id", (-$"best.neg_id").as("keep_doc_id"),
        $"best.quality".as("quality"), $"n_members")
      .orderBy($"cluster_id")
  }

  val clusterKeepBestSql: String =
    s"""WITH RECURSIVE $clustersCtesSql,
       |${TextAnalysis.qualityCtesSql},
       |scored_members AS (
       |  SELECT l.cluster_id, l.doc_id,
       |    ${TextAnalysis.qualitySqlExpr("n_tokens", "stop_ratio", "punct_ratio")}
       |      AS quality
       |  FROM labels l JOIN qm ON l.doc_id = qm.doc_id)
       |SELECT cluster_id, doc_id AS keep_doc_id, quality, n_members FROM (
       |  SELECT cluster_id, doc_id, quality,
       |    CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members,
       |    row_number() OVER (PARTITION BY cluster_id
       |      ORDER BY quality DESC, doc_id ASC) AS rn
       |  FROM scored_members) z
       |WHERE rn = 1 ORDER BY cluster_id""".stripMargin

  /** Token-budget sequence packing — the concat-and-chunk step a
    * pre-training pipeline runs before batching: documents concatenated
    * in doc_id order are cut into fixed token-budget packs; each doc is
    * assigned to the pack its FIRST token lands in
    * (pack_id = ⌊tokens_before / budget⌋). The global prefix sum is the
    * two-pass range-partitioned shape (32 doc_id ranges sized off
    * max(doc_id) + broadcast offsets) — no partition-less window over the
    * corpus.
    */
  def packSequences(s: SparkSession, dir: String, budget: Long = 512L): DataFrame = {
    import s.implicits._
    import graft.functions.{TextFunctions => TF}
    // fan-out DROPPED (r22 A/B, warm 0.55 -> 0.44 s without): a
    // token-count projection is lighter than the exchange
    val toks = Tables.documents(s, dir)
      .select($"doc_id",
        coalesce(size(TF.tokens($"text")), lit(0)).cast("long").as("n_tokens"))
    packTokens(s, toks, budget)
  }

  /** The packing algebra on any (doc_id, n_tokens) frame — factored so
    * token-count sources can swap (whitespace counts for the oracle
    * twin; trained-BPE subword counts via [[Bpe.packSequencesBpe]]).
    */
  private[graft] def packTokens(s: SparkSession, toks: DataFrame,
      budget: Long): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val mx = toks.agg(max($"doc_id").as("mx"))
    // width-based ranges (integer division by W = ceil((mx+1)/32)): range
    // order agrees with doc_id order and no doc_id multiplication can
    // overflow
    val ranged = toks.crossJoin(broadcast(mx))
      .withColumn("rb", expr("doc_id div (((mx + 1) + 31) div 32)").cast("int"))
      .drop("mx")
    val wIn = Window.partitionBy($"rb").orderBy($"doc_id".asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val inRange = ranged
      .withColumn("before_in", coalesce(sum($"n_tokens").over(wIn), lit(0L)))
    // range totals derive FROM the windowed branch (max inclusive prefix
    // per range), not from a second aggregation over `ranged`: that
    // second branch would shuffle a different subplan, defeating
    // exchange reuse and running the corpus-wide tokenization twice
    val rangeTotals = inRange.groupBy($"rb")
      .agg(max($"before_in" + $"n_tokens").as("bt"))
    val offsets = rangeTotals.select($"rb".as("b1"))
      .join(rangeTotals.select($"rb".as("b2"), $"bt"), $"b2" < $"b1", "left")
      .groupBy($"b1").agg(coalesce(sum($"bt"), lit(0L)).as("off"))
    inRange.join(broadcast(offsets), $"rb" === $"b1")
      .withColumn("tokens_before", $"off" + $"before_in")
      .select($"doc_id", $"n_tokens", $"tokens_before",
        expr(s"tokens_before div $budget").as("pack_id"))
      .orderBy($"doc_id")
  }

  val packSequencesSql: String =
    """SELECT doc_id, n_tokens,
      |  CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |    AS tokens_before,
      |  CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 512 AS BIGINT)
      |    AS pack_id
      |FROM (
      |  SELECT doc_id, CAST(coalesce(len(list_filter(
      |      string_split_regex(text, '\s+'), t -> t <> '')), 0) AS BIGINT)
      |    AS n_tokens
      |  FROM documents) t
      |ORDER BY doc_id""".stripMargin

  /** Benchmark decontamination: corpus documents sharing ≥2 distinct
    * word-3-gram shingles with any "benchmark" document (stand-in set:
    * doc_id < 20 — in production a separate eval-suite table). The
    * benchmark side is tiny by construction, so the shingle join
    * broadcasts; the corpus side streams through map-side.
    */
  def contamination(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = Dedup.shingles(s, dir)
    val bench = sh.where($"doc_id" < 20)
      .select($"doc_id".as("bench_id"), $"shingle")
    sh.where($"doc_id" >= 20)
      .join(broadcast(bench), "shingle")
      .groupBy($"doc_id", $"bench_id")
      .agg(count(lit(1)).as("n_shared"))
      .where($"n_shared" >= 2)
      .orderBy($"doc_id", $"bench_id")
  }

  val contaminationSql: String =
    s"""WITH sh AS (SELECT * FROM ${Dedup.shinglesSql})
       |SELECT c.doc_id, b.doc_id AS bench_id, count(*) AS n_shared
       |FROM sh c JOIN sh b ON c.shingle = b.shingle
       |WHERE b.doc_id < 20 AND c.doc_id >= 20
       |GROUP BY c.doc_id, b.doc_id
       |HAVING count(*) >= 2
       |ORDER BY c.doc_id, bench_id""".stripMargin

  /** Bloom-filter benchmark decontamination — the SCALE PATH of
    * [[contamination]]: the benchmark side collapses to a Bloom filter
    * and the corpus probes membership, so the broadcast is KBs however
    * large the benchmark suite grows (the exact join broadcasts every
    * benchmark shingle). The filter is DECLARATIVE (the count-min
    * heavy-hitters precedent, which is why this stays oracle-checkable
    * where an opaque bitmap blob would not): K=3 salted md5 hash rows ×
    * M=8192 buckets; "insert" = the DISTINCT (k, pos) position set of
    * the benchmark shingles — bounded at K·M = 24 576 rows whatever the
    * benchmark size — and "might contain" = all K of a probe shingle's
    * positions present (a position-set equi-join + a count-equals-K
    * gate). Bloom semantics hold by construction: NO false negatives
    * (every inserted shingle's positions are present), false positives
    * only on full K-way collision — docs this screen flags feed the
    * exact checker, docs it clears are clear. One corpus scan, one
    * bounded broadcast, one hash agg per side.
    */
  def contaminationBloom(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val M = 8192
    val K = 3
    def positions(c: Column): Column = array((0 until K).map { k =>
      struct(lit(k).as("k"),
        (Dedup.hash60(concat_ws("|", lit(k.toString), c)) % M).as("pos"))
    }: _*)
    val sh = Dedup.shingles(s, dir)
    val bloom = sh.where($"doc_id" < 20)
      .select(explode(positions($"shingle")).as("kp"))
      .select($"kp.k", $"kp.pos").distinct()
    val probes = sh.where($"doc_id" >= 20)
      .select($"doc_id", $"shingle", explode(positions($"shingle")).as("kp"))
      .select($"doc_id", $"shingle", $"kp.k", $"kp.pos")
    probes.join(broadcast(bloom), Seq("k", "pos"))
      .groupBy($"doc_id", $"shingle")
      .agg(count(lit(1)).as("k_hits"))
      .where($"k_hits" === K)
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_hits"))
      .where($"n_hits" >= 2)
      .orderBy($"doc_id")
  }

  val contaminationBloomSql: String = {
    val pos = (t: String) =>
      s"(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' || $t.shingle), 1, 15))::BIGINT) % 8192"
    s"""WITH sh AS (SELECT * FROM ${Dedup.shinglesSql}),
       |ks AS (SELECT unnest(generate_series(0, 2)) AS k),
       |bloom AS (
       |  SELECT DISTINCT k, ${pos("b")} AS pos
       |  FROM (SELECT shingle FROM sh WHERE doc_id < 20) b, ks),
       |probes AS (
       |  SELECT p.doc_id, p.shingle, k, ${pos("p")} AS pos
       |  FROM (SELECT doc_id, shingle FROM sh WHERE doc_id >= 20) p, ks),
       |hits AS (
       |  SELECT doc_id, shingle, count(*) AS k_hits
       |  FROM probes JOIN bloom USING (k, pos)
       |  GROUP BY doc_id, shingle
       |  HAVING count(*) = 3)
       |SELECT doc_id, count(*) AS n_hits
       |FROM hits GROUP BY doc_id
       |HAVING count(*) >= 2
       |ORDER BY doc_id""".stripMargin
  }

  /** Deterministic stratified sampling (the `sampleBy` surface): per-lang
    * keep-rates (en 10%, others 30%) decided by the high bits of an LCG
    * hash of doc_id — reproducible on any cluster, no RNG state.
    */
  def stratifiedSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rate = when($"lang" === "en", 10).otherwise(30)
    // reduce doc_id mod 2^31 BEFORE the multiply: the raw product wraps
    // Long past doc_id ~8.4e9 (and errors in the BIGINT oracle), which
    // at the 100 TB envelope would silently keep every overflowed row
    Tables.documents(s, dir)
      .select($"doc_id", $"lang")
      .where((((($"doc_id" % 2147483648L) * 1103515245L + 12345L) % 2147483648L)
        .divide(65536).cast("long") % 100) < rate)
      .orderBy($"doc_id")
  }

  val stratifiedSampleSql: String =
    """SELECT doc_id, lang FROM documents
      |WHERE ((((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648) // 65536)
      |  % 100 < CASE WHEN lang = 'en' THEN 10 ELSE 30 END
      |ORDER BY doc_id""".stripMargin

  /** Distinct users per event type, exact vs HLL++ sketch — the swap-in
    * point where exact distinct (a full shuffle of the keys) becomes a
    * mergeable constant-size sketch at 100 TB. The raw estimate differs
    * from DuckDB's sketch by construction, so the REGISTERED shape is
    * [[distinctApproxGated]] (envelope boolean); this frame is the spec
    * surface (CorpusSpec pins <5% relative error).
    */
  def distinctApprox(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    EventOps.events(s, dir)
      .groupBy($"event_type")
      .agg(
        countDistinct($"user_id").as("exact_users"),
        approx_count_distinct($"user_id", 0.02).as("approx_users"))
      .orderBy($"event_type")
  }

  /** The REGISTERED q_distinct_approx shape — hash-checked since round
    * 17 by the gated-boolean convention (the q_stream_sketch_store
    * precedent): the exact counts are plain SQL, and the sketch
    * estimate rides as the integer-exact envelope predicate
    * 20·|est − exact| ≤ exact, pinned TRUE by the oracle — a sketch
    * outside the 5% envelope flips the boolean and breaks the hash.
    * The raw-estimate frame ([[distinctApprox]]) stays as the spec
    * surface (CorpusSpec measures the actual error).
    */
  def distinctApproxGated(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    distinctApprox(s, dir)
      .select($"event_type", $"exact_users",
        (abs($"approx_users" - $"exact_users") * 20 <= $"exact_users")
          .as("est_within_5pct"))
      .orderBy($"event_type")
  }

  val distinctApproxSql: String =
    """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
      |  TRUE AS est_within_5pct
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Rolling-window distinct users via a MERGEABLE sketch store — the
    * pattern that answers "distinct users over any trailing window"
    * without ever rescanning history: one Apache DataSketches HLL
    * sketch per day (Spark's native `hll_sketch_agg`, lgK=12 ≈ 2.5%
    * rel. std. err., a few KB each), and a 7-day rolling estimate is
    * the UNION of 7 stored sketches (`hll_union_agg` — sketch union is
    * exact w.r.t. the member sketches, the algebraic property the
    * store exists for). A deployment persists the per-day sketch table
    * (the [[graft.operators.IncrementalDedup]] store posture: append
    * one day, never recompute history); here the rolling union rides a
    * bounded day-fanout explode (each day's sketch contributes to its
    * 7 target days — the q_events_dau_mau shape, an equi-join, no
    * range BNLJ). The exact trailing distinct is computed next to it
    * as the bench-scale verification twin with its relative error — at
    * 100 TB only the sketch branch survives (the q_distinct_approx
    * convention). The sketch binary is DataSketches-internal, so the
    * REGISTERED shape is [[distinctRollingGated]] (envelope boolean);
    * this frame is the spec surface (CorpusSpec pins the error
    * envelope, exact twin agreement with a naive recount, and
    * determinism).
    */
  def distinctRolling(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val du = EventOps.events(s, dir)
      .select($"user_id", to_date(date_trunc("DAY", $"ts")).as("day"))
      .distinct()
    val sketches = du.groupBy($"day")
      .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
    val est = rollingEstFromSketches(sketches)
    val days = sketches.select($"day")
    val exact = rollingExactFrom(du, days)
    exact.join(est, "day")
      .select($"day", $"exact_users", $"est_users",
        round(abs($"est_users" - $"exact_users").cast("double")
          / $"exact_users", 6).as("rel_err"))
      .orderBy($"day")
  }

  /** The REGISTERED q_distinct_rolling shape — hash-checked since round
    * 17 (the [[distinctApproxGated]] convention applied to the rolling
    * store): exact trailing counts as plain SQL, the stored-sketch
    * estimate as the integer-exact 5% envelope boolean pinned TRUE.
    * The raw (exact, est, rel_err) frame ([[distinctRolling]]) stays
    * as the spec surface.
    */
  def distinctRollingGated(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    distinctRolling(s, dir)
      .select($"day", $"exact_users",
        (abs($"est_users" - $"exact_users") * 20 <= $"exact_users")
          .as("est_within_5pct"))
      .orderBy($"day")
  }

  /** The exact trailing-7-day distinct-user recount off the distinct
    * (user_id, day) frame — the q_events_dau_mau shape at window 7:
    * each active day generates its 7 target-day contributions
    * row-locally (bounded explode, no range BNLJ), one countDistinct
    * hash aggregation per target day, target days filtered to the
    * observed set. One source for [[distinctRolling]]'s verification
    * twin and the REGISTERED [[distinctRollingExact]].
    */
  private def rollingExactFrom(du: DataFrame, days: DataFrame): DataFrame = {
    import du.sparkSession.implicits._
    du.select($"user_id", explode(sequence(lit(0), lit(6))).as("off"), $"day")
      .select($"user_id", date_add($"day", $"off").as("day"))
      .distinct()
      .join(broadcast(days), Seq("day"))
      .groupBy($"day").agg(countDistinct($"user_id").as("exact_users"))
  }

  /** The EXACT half of the rolling-distinct pair, registered on its own
    * so the trailing-window algebra is hash-checked by the driver's
    * DuckDB gate (plain SQL — the sketch estimate beside it in
    * [[distinctRolling]] stays rows-only because the HLL binary is
    * DataSketches-internal, not because the window algebra is
    * uncheckable).
    */
  def distinctRollingExact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val du = EventOps.events(s, dir)
      .select($"user_id", to_date(date_trunc("DAY", $"ts")).as("day"))
      .distinct()
    val days = du.select($"day").distinct()
    rollingExactFrom(du, days).orderBy($"day")
  }

  val distinctRollingExactSql: String =
    """WITH du AS (
      |  SELECT DISTINCT user_id, date_trunc('day', ts::TIMESTAMP)::DATE AS day
      |  FROM events),
      |days AS (SELECT DISTINCT day FROM du),
      |contrib AS (
      |  SELECT DISTINCT user_id, day + CAST(o AS INTEGER) AS day
      |  FROM du, (SELECT unnest(generate_series(0, 6)) AS o) oo)
      |SELECT c.day, CAST(count(DISTINCT c.user_id) AS BIGINT) AS exact_users
      |FROM contrib c JOIN days USING (day)
      |GROUP BY c.day ORDER BY c.day""".stripMargin

  val distinctRollingGatedSql: String =
    s"""SELECT day, exact_users, TRUE AS est_within_5pct
       |FROM ($distinctRollingExactSql) t
       |ORDER BY day""".stripMargin

  /** The 7-day rolling estimate off ANY (day, sk) sketch frame — one
    * source for the batch query and the streaming sketch-store reader
    * (the store the daily loop maintains serves windows through this
    * exact algebra).
    */
  private[graft] def rollingEstFromSketches(sketches: DataFrame): DataFrame = {
    import sketches.sparkSession.implicits._
    val days = sketches.select($"day")
    sketches
      .select($"sk", explode(sequence(lit(0), lit(6))).as("off"), $"day")
      .select($"sk", date_add($"day", $"off").as("day"))
      .join(broadcast(days), Seq("day"))
      .groupBy($"day")
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_users"))
  }

  /** Count-min sketch parameters: 4 independent hash rows × 1024
    * buckets — 4096 counters total, a fixed-size mergeable summary at
    * any corpus size (Cormode & Muthukrishnan 2005). Hashes derive from
    * the engine-portable md5 scheme ([[Dedup.hash60]]) salted per row,
    * so the DuckDB oracle computes the identical sketch.
    */
  private[graft] val CmsDepth = 4
  private[graft] val CmsWidth = 1024L

  /** Heavy hitters: exact top-20 corpus tokens next to their count-min
    * sketch estimates. The sketch is DECLARATIVE — each token emits
    * [[CmsDepth]] (row, bucket) keys and ONE hash aggregation builds the
    * ≤ depth×width-row sketch table (partial aggregation collapses
    * map-side, so shuffle volume is bounded by 4096 counters per task
    * regardless of corpus size — the groupBy IS the sketch merge).
    * Estimates read min over the token's row counters from the
    * BROADCAST sketch. The exact branch (corpus-wide token groupBy +
    * top-k) is the verification twin this query exists to demonstrate
    * against — at 100 TB only the sketch side and a candidate stream
    * survive; the CMS guarantee (est ≥ exact, overestimate ≤ εN w.h.p.)
    * is what the spec pins.
    */
  /** The CMS (row, bucket) key generator of a `token` column — ROW-LOCAL
    * (explode of a 4-element literal array), so it composes with
    * Structured Streaming's stateless stages; the sketch groupBy is the
    * only stateful step in the streaming twin.
    */
  private[graft] def cmsKeyCol(token: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    explode(array((0 until CmsDepth).map { d =>
      struct(lit(d).as("d"),
        (Dedup.hash60(concat(token, lit(s"#$d"))) % CmsWidth).as("idx"))
    }: _*))

  /** The sketch of any (token) frame: ≤ depth×width rows. One source for
    * the batch operator and the streaming maintenance twin.
    */
  private[graft] def cmsSketchOf(tok: DataFrame): DataFrame = {
    import tok.sparkSession.implicits._
    tok.select(cmsKeyCol($"token").as("k"))
      .select($"k.d", $"k.idx")
      .groupBy($"d", $"idx").agg(count(lit(1)).as("cnt"))
  }

  def heavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.{TextFunctions => TF}
    val tok = Tables.fanOut(Tables.documents(s, dir), col("doc_id"))
      .select(explode(TF.tokens($"text")).as("token"))
    val cms = cmsSketchOf(tok)
    val top = tok.groupBy($"token").agg(count(lit(1)).as("exact_count"))
      .orderBy($"exact_count".desc, $"token".asc).limit(20)
    val topKeys = top.select($"token", $"exact_count", cmsKeyCol($"token").as("k"))
      .select($"token", $"exact_count", $"k.d", $"k.idx")
    topKeys.join(broadcast(cms), Seq("d", "idx"))
      .groupBy($"token", $"exact_count")
      .agg(min($"cnt").as("cms_estimate"))
      .orderBy($"exact_count".desc, $"token".asc)
  }

  val heavyHittersSql: String = {
    val keys = (0 until CmsDepth).map { d =>
      s"SELECT token, $d AS d, ${Dedup.hash60Sql(s"token || '#$d'")} % $CmsWidth AS idx FROM tok"
    }.mkString("\nUNION ALL\n")
    s"""WITH tok AS (
       |  SELECT unnest(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS token
       |  FROM documents),
       |keyed AS ($keys),
       |cms AS (SELECT d, idx, count(*) AS cnt FROM keyed GROUP BY d, idx),
       |top AS (
       |  SELECT token, count(*) AS exact_count FROM tok GROUP BY token
       |  ORDER BY exact_count DESC, token ASC LIMIT 20),
       |topkeys AS (
       |  SELECT token, exact_count, d,
       |    ${Dedup.hash60Sql(s"token || '#' || CAST(d AS VARCHAR)")} % $CmsWidth AS idx
       |  FROM top, (SELECT unnest(generate_series(0, ${CmsDepth - 1})) AS d))
       |SELECT token, CAST(exact_count AS BIGINT) AS exact_count,
       |  CAST(min(cnt) AS BIGINT) AS cms_estimate
       |FROM topkeys JOIN cms USING (d, idx)
       |GROUP BY token, exact_count
       |ORDER BY exact_count DESC, token ASC""".stripMargin
  }

  /** Repetition-based quality signals (the Gopher-rule shape): duplicate
    * -token ratio and top-bigram concentration per document. All ratios
    * are single divisions of exact integer counts.
    */
  def repetitionFilter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.{TextFunctions => TF}
    val toks = Tables.fanOut(Tables.documents(s, dir), col("doc_id"))
      .select($"doc_id", TF.tokens($"text").as("toks"))
    val tokStats = toks
      .select($"doc_id", explode($"toks").as("token"))
      .groupBy($"doc_id", $"token").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id").agg(
        sum($"c").as("n_tokens"), count(lit(1)).as("n_distinct"),
        max($"c").as("top_token_cnt"))
    // left join: a sub-2-token doc has no bigrams, and those degenerate
    // docs are exactly what a repetition gate must still see (null
    // bigram ratio, not a silently dropped row)
    val bgStats = toks
      .select($"doc_id", explode(
        filter(
          transform($"toks", (_, i) =>
            when(i + 2 <= size($"toks"), array_join(slice($"toks", i + 1, lit(2)), " "))),
          g => g.isNotNull)).as("bg"))
      .groupBy($"doc_id", $"bg").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id").agg(
        sum($"c").as("n_bigrams"), max($"c").as("top_bigram_cnt"))
    tokStats.join(bgStats, Seq("doc_id"), "left")
      .select($"doc_id", $"n_tokens", $"n_distinct",
        (lit(1.0) - $"n_distinct".cast("double") / $"n_tokens").as("dup_token_ratio"),
        ($"top_token_cnt".cast("double") / $"n_tokens").as("top_token_ratio"),
        ($"top_bigram_cnt".cast("double") / $"n_bigrams").as("top_bigram_ratio"))
      .orderBy($"doc_id")
  }

  val repetitionFilterSql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS toks
      |  FROM documents),
      |tok AS (
      |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
      |    count(*) AS n_distinct, CAST(max(c) AS BIGINT) AS top_token_cnt
      |  FROM (SELECT doc_id, t.token, count(*) AS c
      |        FROM (SELECT doc_id, unnest(toks) AS token FROM toks) t
      |        GROUP BY doc_id, t.token) z
      |  GROUP BY doc_id),
      |bg AS (
      |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
      |    CAST(max(c) AS BIGINT) AS top_bigram_cnt
      |  FROM (SELECT doc_id, b, count(*) AS c
      |        FROM (SELECT doc_id,
      |                unnest([toks[i] || ' ' || toks[i+1]
      |                        for i in generate_series(1, len(toks)-1)]) AS b
      |              FROM toks) z
      |        GROUP BY doc_id, b) z2
      |  GROUP BY doc_id)
      |SELECT tok.doc_id, n_tokens, n_distinct,
      |  1.0 - CAST(n_distinct AS DOUBLE) / n_tokens AS dup_token_ratio,
      |  CAST(top_token_cnt AS DOUBLE) / n_tokens AS top_token_ratio,
      |  CAST(top_bigram_cnt AS DOUBLE) / n_bigrams AS top_bigram_ratio
      |FROM tok LEFT JOIN bg ON tok.doc_id = bg.doc_id
      |ORDER BY tok.doc_id""".stripMargin

  /** Cross-document duplicated-span detection (the exact-substring
    * dedup shape): non-overlapping FULL 10-token chunks hashed and
    * grouped; any chunk hash seen in more than one document is a
    * duplicated span. Partial tail chunks are dropped — 1-2-token tails
    * collide trivially and would swamp the signal. One explode + one
    * hash aggregation — no pairwise work.
    */
  def spanDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.{TextFunctions => TF}
    Tables.fanOut(Tables.documents(s, dir), col("doc_id"))
      .select($"doc_id", TF.tokens($"text").as("toks"))
      // Spark's sequence(0, -1) counts DOWN, so guard short docs by
      // null-filtering instead of shrinking the sequence bound
      .select($"doc_id", explode(
        filter(
          transform(sequence(lit(0), expr("(size(toks) - 1) div 10")),
            k => when((k + 1) * 10 <= size($"toks"),
              array_join(slice($"toks", k * 10 + 1, lit(10)), " "))),
          c => c.isNotNull)).as("chunk"))
      .select($"doc_id", Dedup.hash60($"chunk").as("chunk_hash"))
      .groupBy($"chunk_hash")
      .agg(countDistinct($"doc_id").as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min($"doc_id").as("keep_id"))
      .where($"n_docs" > 1)
      .orderBy($"chunk_hash")
  }

  val spanDedupSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
       |  FROM documents),
       |chunks AS (
       |  -- DuckDB generate_series(0, -1) is empty, so the bound alone
       |  -- drops sub-10-token docs (full chunks only, matching Spark)
       |  SELECT doc_id,
       |    unnest([array_to_string(toks[(k*10+1):(k*10+10)], ' ')
       |            for k in generate_series(0, len(toks)//10 - 1)]) AS chunk
       |  FROM toks)
       |SELECT ${Dedup.hash60Sql("chunk")} AS chunk_hash,
       |  count(DISTINCT doc_id) AS n_docs, count(*) AS n_occurrences,
       |  min(doc_id) AS keep_id
       |FROM chunks
       |GROUP BY 1 HAVING count(DISTINCT doc_id) > 1
       |ORDER BY chunk_hash""".stripMargin

  /** Per-document NOVELTY score — the doc-level memorization screen the
    * span table feeds (Lee et al. 2021's exact-substring signal turned
    * into a per-doc statistic): the fraction of a doc's 10-token chunks
    * that appear in NO other document; low-novelty docs are boilerplate
    * / templates / verbatim reprints, the rows a curation pass
    * down-weights even when full-doc dedup misses them. Scale shape:
    * the q_dedup_ngram_jaccard frequency-join pattern — chunk
    * occurrences aggregate to a hash-keyed doc-count frame (partial
    * aggs collapse map-side), one equi-join back onto occurrences, one
    * doc-keyed agg. Sub-10-token docs have no chunks and surface
    * explicitly with n_chunks = 0 / NULL novelty (the KN-logprob
    * no-silent-drop convention).
    */
  def novelty(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.{TextFunctions => TF}
    val chunks = Tables.fanOut(Tables.documents(s, dir), col("doc_id"))
      .select($"doc_id", TF.tokens($"text").as("toks"))
      .select($"doc_id", explode(
        filter(
          transform(sequence(lit(0), expr("(size(toks) - 1) div 10")),
            k => when((k + 1) * 10 <= size($"toks"),
              array_join(slice($"toks", k * 10 + 1, lit(10)), " "))),
          c => c.isNotNull)).as("chunk"))
      .select($"doc_id", Dedup.hash60($"chunk").as("chunk_hash"))
    val docsPerChunk = chunks.groupBy($"chunk_hash")
      .agg(countDistinct($"doc_id").as("n_docs"))
    val perDoc = chunks.join(docsPerChunk, "chunk_hash")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(($"n_docs" > 1).cast("long")).as("n_shared"))
    Tables.documents(s, dir).select($"doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_chunks", lit(0L)).as("n_chunks"),
        coalesce($"n_shared", lit(0L)).as("n_shared"),
        when($"n_chunks".isNotNull,
          round(lit(1.0) - $"n_shared".cast("double") / $"n_chunks", 6))
          .as("novelty"))
      .orderBy($"doc_id")
  }

  val noveltySql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
       |  FROM documents),
       |chunks AS (
       |  SELECT doc_id,
       |    ${Dedup.hash60Sql("chunk")} AS chunk_hash
       |  FROM (SELECT doc_id,
       |          unnest([array_to_string(toks[(k*10+1):(k*10+10)], ' ')
       |                  for k in generate_series(0, len(toks)//10 - 1)]) AS chunk
       |        FROM toks) c),
       |dpc AS (
       |  SELECT chunk_hash, count(DISTINCT doc_id) AS n_docs
       |  FROM chunks GROUP BY chunk_hash),
       |per AS (
       |  SELECT c.doc_id, count(*) AS n_chunks,
       |    CAST(sum(CASE WHEN d.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_shared
       |  FROM chunks c JOIN dpc d USING (chunk_hash)
       |  GROUP BY c.doc_id)
       |SELECT doc.doc_id,
       |  coalesce(p.n_chunks, 0) AS n_chunks,
       |  coalesce(p.n_shared, 0) AS n_shared,
       |  CASE WHEN p.n_chunks IS NOT NULL THEN
       |    round(1.0 - CAST(p.n_shared AS DOUBLE) / p.n_chunks, 6) END AS novelty
       |FROM documents doc LEFT JOIN per p ON doc.doc_id = p.doc_id
       |ORDER BY doc.doc_id""".stripMargin

  /** Source-mixture accounting — the data-mixing step of a pretraining
    * pipeline: per-source doc/token mass plus the up/down-weight needed
    * to hit a uniform target mixture (weight = target share / actual
    * share, exact integer counts, one division).
    */
  def sourceMixture(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.{TextFunctions => TF}
    // fan-out DROPPED (r22 A/B: the mixture family read 0.06-0.13 s
    // faster per query without it — size(tokens) is one pass, no kernel)
    val per = Tables.documents(s, dir)
      .select($"source", size(TF.tokens($"text")).as("nt"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"nt").as("n_tokens"))
    val tot = per.agg(sum($"n_tokens").as("total"), count(lit(1)).as("n_sources"))
    per.crossJoin(broadcast(tot))
      .select($"source", $"n_docs", $"n_tokens",
        ($"total".cast("double") / $"n_sources" / $"n_tokens").as("weight"))
      .orderBy($"source")
  }

  val sourceMixtureSql: String =
    """WITH per AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(sum(len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')))
      |      AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
      |               count(*) AS n_sources FROM per)
      |SELECT source, n_docs, n_tokens,
      |  CAST(total AS DOUBLE) / n_sources / n_tokens AS weight
      |FROM per CROSS JOIN tot
      |ORDER BY source""".stripMargin

  /** Temperature exponent of the mixture-sampling weights (the
    * multilingual/multi-source sampling standard, e.g. mT5): alpha < 1
    * upsamples low-resource sources toward uniform.
    */
  val MixtureAlpha = 0.3

  /** Temperature-scaled mixture sampling weights — the data-mixing
    * policy step next to [[sourceMixture]]'s uniform-target accounting:
    * per-source token share p_i, sampling weight w_i = p_i^alpha /
    * sum_j p_j^alpha (alpha = [[MixtureAlpha]]), and the resulting
    * up/down-sampling boost w_i / p_i. The p^alpha terms are rounded
    * and scaled to exact integers BEFORE normalizing so the
    * denominator is an order-independent integer sum (the decimal
    * rank-sum precedent); pow rounds to 6 dp like every ln/cos oracle.
    * Two tiny broadcast scalars over one per-source hash agg — the
    * corpus is read once regardless of scale.
    */
  def mixtureTemperature(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.{TextFunctions => TF}
    // fan-out DROPPED (r22 A/B: the mixture family read 0.06-0.13 s
    // faster per query without it — size(tokens) is one pass, no kernel)
    val per = Tables.documents(s, dir)
      .select($"source", size(TF.tokens($"text")).as("nt"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"nt").as("n_tokens"))
    val tot = per.agg(sum($"n_tokens").as("total"))
    val pa = per.crossJoin(broadcast(tot))
      .select($"source", $"n_docs", $"n_tokens",
        round($"n_tokens".cast("double") / $"total", 6).as("share"),
        round(pow($"n_tokens".cast("double") / $"total", MixtureAlpha) * 1e6)
          .cast("bigint").as("pa"))
    val z = pa.agg(sum($"pa").as("z"))
    pa.crossJoin(broadcast(z))
      .select($"source", $"n_docs", $"n_tokens", $"share",
        round($"pa".cast("double") / $"z", 6).as("weight"))
      .withColumn("boost", round($"weight" / $"share", 6))
      .orderBy($"source")
  }

  /** Shared oracle CTE chain defining `mix(source, n_docs, n_tokens,
    * share, weight, boost)` — one source for the q_mixture_temperature
    * oracle and the materialization oracle applying it.
    */
  private val mixtureCtesSql: String =
    s"""per AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')))
       |      AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY source),
       |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM per),
       |pa AS (
       |  SELECT source, n_docs, n_tokens,
       |    round(CAST(n_tokens AS DOUBLE) / total, 6) AS share,
       |    CAST(round(pow(CAST(n_tokens AS DOUBLE) / total, $MixtureAlpha) * 1e6)
       |      AS BIGINT) AS pa
       |  FROM per CROSS JOIN tot),
       |z AS (SELECT CAST(sum(pa) AS BIGINT) AS z FROM pa),
       |mix AS (
       |  SELECT source, n_docs, n_tokens, share,
       |    round(CAST(pa AS DOUBLE) / z, 6) AS weight,
       |    round(round(CAST(pa AS DOUBLE) / z, 6) / share, 6) AS boost
       |  FROM pa CROSS JOIN z)""".stripMargin

  val mixtureTemperatureSql: String =
    s"""WITH $mixtureCtesSql
       |SELECT source, n_docs, n_tokens, share, weight, boost
       |FROM mix ORDER BY source""".stripMargin

  /** UniMax epoch cap (Chung et al. 2023): no source may repeat more
    * than this many epochs whatever the budget asks for.
    */
  val UniMaxEpochCap = 2L

  /** UniMax mixture allocation (Chung et al. 2023, "UniMax: Fairer and
    * More Effective Language Sampling") — the epoch-capped alternative
    * to temperature sampling: distribute a token budget (here half the
    * corpus) as UNIFORMLY as possible across sources, except no source
    * repeats more than [[UniMaxEpochCap]] epochs. That is exactly
    * waterfilling: sources whose capacity c_i = n_tokens_i × cap sits
    * below the waterline are fully allocated (capped); the rest split
    * the remaining budget evenly. Solved in CLOSED FORM, no iteration:
    * rank sources by capacity (a #sources-bounded broadcast self-join,
    * the eventsFunnel counts precedent — no partition-less window), a
    * source is capped iff c_i·(n_uncapped_at_i) ≤ remaining budget at
    * its rank — all EXACT integer arithmetic (capacities and budget are
    * BIGINT), so both engines agree bit-for-bit; the final waterline is
    * one integer division. One corpus scan (the per-source token hash
    * agg), everything after is #sources-bounded.
    */
  def mixtureUnimax(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.{TextFunctions => TF}
    // fan-out DROPPED (r22 A/B: the mixture family read 0.06-0.13 s
    // faster per query without it — size(tokens) is one pass, no kernel)
    val per = Tables.documents(s, dir)
      .select($"source", size(TF.tokens($"text")).as("nt"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"nt").cast("long").as("n_tokens"))
      .withColumn("cap", $"n_tokens" * UniMaxEpochCap)
    val tot = per.agg((sum($"n_tokens") / 2).cast("long").as("budget"),
      count(lit(1)).as("nsrc"))
    // exclusive prefix (cum_prev, n_before) in (cap, source) order via a
    // bounded broadcast self-join — #sources² comparisons, no window
    val b = per.select($"source".as("s2"), $"cap".as("c2"))
    val pre = per.select($"source", $"cap")
      .join(broadcast(b),
        $"c2" < $"cap" || ($"c2" === $"cap" && $"s2" < $"source"), "left")
      .groupBy($"source")
      .agg(coalesce(sum($"c2"), lit(0L)).as("cum_prev"),
        count($"s2").as("n_before"))
    val flags = per.join(pre, "source").crossJoin(broadcast(tot))
      .withColumn("capped",
        $"cap" * ($"nsrc" - $"n_before") <= $"budget" - $"cum_prev")
    val kk = flags.agg(
      sum($"capped".cast("long")).as("kstar"),
      coalesce(sum(when($"capped", $"cap")), lit(0L)).as("cumk"))
    val alloc = least($"cap".cast("double"),
      coalesce(($"budget" - $"cumk").cast("double") /
        nullif($"nsrc" - $"kstar", lit(0L)), $"cap".cast("double")))
    flags.crossJoin(broadcast(kk))
      .select($"source", $"n_docs", $"n_tokens", $"cap".as("capacity"),
        round(alloc, 2).as("allocation"),
        round(alloc / $"n_tokens", 6).as("epochs"),
        $"capped")
      .orderBy($"source")
  }

  val mixtureUnimaxSql: String =
    s"""WITH per AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')))
       |      AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY source),
       |caps AS (
       |  SELECT source, n_docs, n_tokens, n_tokens * ${UniMaxEpochCap} AS cap
       |  FROM per),
       |tot AS (SELECT CAST(sum(n_tokens) // 2 AS BIGINT) AS budget,
       |               count(*) AS nsrc FROM per),
       |pre AS (
       |  SELECT a.source, CAST(coalesce(sum(b.cap), 0) AS BIGINT) AS cum_prev,
       |    count(b.source) AS n_before
       |  FROM caps a LEFT JOIN caps b
       |    ON b.cap < a.cap OR (b.cap = a.cap AND b.source < a.source)
       |  GROUP BY a.source),
       |flags AS (
       |  SELECT c.source, c.n_docs, c.n_tokens, c.cap, p.cum_prev, p.n_before,
       |    t.budget, t.nsrc,
       |    (c.cap * (t.nsrc - p.n_before) <= t.budget - p.cum_prev) AS capped
       |  FROM caps c JOIN pre p USING (source) CROSS JOIN tot t),
       |kk AS (
       |  SELECT CAST(coalesce(sum(CASE WHEN capped THEN 1 END), 0) AS BIGINT) AS kstar,
       |    CAST(coalesce(sum(CASE WHEN capped THEN cap END), 0) AS BIGINT) AS cumk
       |  FROM flags)
       |SELECT source, n_docs, n_tokens, CAST(cap AS BIGINT) AS capacity,
       |  round(least(CAST(cap AS DOUBLE),
       |    coalesce(CAST(budget - cumk AS DOUBLE) / nullif(nsrc - kstar, 0),
       |      CAST(cap AS DOUBLE))), 2) AS allocation,
       |  round(least(CAST(cap AS DOUBLE),
       |    coalesce(CAST(budget - cumk AS DOUBLE) / nullif(nsrc - kstar, 0),
       |      CAST(cap AS DOUBLE))) / n_tokens, 6) AS epochs,
       |  capped
       |FROM flags CROSS JOIN kk
       |ORDER BY source""".stripMargin

  /** MATERIALIZE the temperature mixture — the resampling step that
    * turns q_mixture_temperature's per-source boost into an actual
    * corpus: each document replicates `⌊boost⌋ + Bernoulli(frac)` times
    * (boost < 1 sources down-sample to {0,1} copies; boost > 1 sources
    * oversample — the balance_oversample shape applied corpus-wide).
    * The Bernoulli draw is the engine-portable 15-bit LCG of doc_id
    * compared against the boost's 6-dp fractional part in EXACT integer
    * arithmetic (u·10⁶ < frac6·2¹⁵) — deterministic on any cluster,
    * oracle-checkable row by row. Zero-copy rows are kept so the drop
    * decision is auditable. Per-doc replication realizes the target
    * token share in expectation (doc length independent of the draw);
    * the token-exact variant composes with q_pack_sequences.
    */
  def mixtureApply(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = mixtureTemperature(s, dir).select($"source", $"boost")
    Tables.documents(s, dir).select($"doc_id", $"source")
      .join(broadcast(w), "source")
      .withColumn("n_copies", nCopiesCol($"doc_id", $"boost"))
      .select($"doc_id", $"source", $"boost", $"n_copies")
      .orderBy($"doc_id")
  }

  /** The ROW-LOCAL copy-count draw — ⌊boost⌋ + Bernoulli(frac) via the
    * 15-bit LCG of doc_id in exact integer arithmetic. Factored so the
    * streaming ingest twin (stateless stream-static join) computes the
    * identical decision per arriving doc.
    */
  private[graft] def nCopiesCol(docId: org.apache.spark.sql.Column,
      boost: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val u15 = (((docId % 2147483648L) * 1103515245L + 12345L) % 2147483648L)
      .divide(65536).cast("long")
    val frac6 = round((boost - floor(boost)) * 1e6).cast("long")
    floor(boost).cast("long") +
      when(u15 * 1000000L < frac6 * 32768L, 1L).otherwise(0L)
  }

  val mixtureApplySql: String =
    s"""WITH $mixtureCtesSql
       |SELECT d.doc_id, d.source, m.boost,
       |  CAST(floor(m.boost) AS BIGINT) + CASE WHEN
       |    ((((d.doc_id % 2147483648) * 1103515245 + 12345) % 2147483648) // 65536)
       |      * 1000000
       |      < CAST(round((m.boost - floor(m.boost)) * 1e6) AS BIGINT) * 32768
       |    THEN 1 ELSE 0 END AS n_copies
       |FROM documents d JOIN mix m USING (source)
       |ORDER BY d.doc_id""".stripMargin

  /** BM25 keyword retrieval — the corpus-engine search surface: top-10
    * documents per query term (the word-match targets double as queries)
    * under Okapi BM25 (k1=1.2, b=0.75). One inverted-index join: the
    * tiny per-term df/idf side broadcasts, per-doc length joins
    * broadcast too, and ranking is a per-term top-k window. Scores are
    * rounded to 6 dp before ranking (ln and division match across
    * engines; rounding removes last-ulp rank flips).
    */
  def bm25Search(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    import graft.functions.{TextFunctions => TF}
    val k1 = 1.2
    val b = 0.75
    val dt = Tables.fanOut(Tables.documents(s, dir), col("doc_id"))
      .select($"doc_id", explode(TF.tokens($"text")).as("token"))
    val tf = dt.groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf"))
    // doc length as a window over the tf rows: per-doc state never
    // leaves its partition (a broadcast of per-doc lengths would grow
    // with the corpus and blow the broadcast limit at scale)
    val tfdl = tf.withColumn("dl",
      sum($"tf").over(Window.partitionBy($"doc_id")))
    val stats = tf.groupBy($"doc_id").agg(sum($"tf").as("dl"))
      .agg(count(lit(1)).cast("double").as("n_docs"), avg($"dl").as("avgdl"))
    val df = tf.where($"token".isin(Evaluation.targets: _*))
      .groupBy($"token").agg(count(lit(1)).as("df"))
    val idf = df.crossJoin(broadcast(stats))
      .select($"token", $"n_docs", $"avgdl",
        log((lit(1.0) + ($"n_docs" - $"df" + 0.5) / ($"df" + 0.5))).as("idf"))
    val w = Window.partitionBy($"token").orderBy($"score".desc, $"doc_id".asc)
    tfdl.where($"token".isin(Evaluation.targets: _*))
      .join(broadcast(idf), "token")
      .select($"token", $"doc_id",
        // 2.2 as a literal, not k1+1: double(1.2)+1 can round differently
        // than the decimal literal 2.2 the oracle parses
        round($"idf" * ($"tf" * 2.2) /
          ($"tf" + lit(k1) * (lit(1 - b) + lit(b) * $"dl" / $"avgdl")), 6).as("score"))
      .withColumn("rank", row_number().over(w))
      .where($"rank" <= 10)
      .orderBy($"token", $"rank")
  }

  val bm25SearchSql: String = {
    val terms = Evaluation.targets.map(t => s"'$t'").mkString("[", ", ", "]")
    """WITH dt AS (
      |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'),
      |    t -> t <> '')) AS token
      |  FROM documents),
      |tf AS (SELECT doc_id, token, count(*) AS tf FROM dt GROUP BY doc_id, token),
      |dl AS (SELECT doc_id, count(*) AS dl FROM dt GROUP BY doc_id),
      |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl),
      |df AS (
      |  SELECT token, count(*) AS df FROM tf
      |  WHERE list_contains(TERMS, token) GROUP BY token),
      |idf AS (
      |  SELECT token, n_docs, avgdl,
      |    ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) AS idf
      |  FROM df CROSS JOIN stats),
      |scored AS (
      |  SELECT tf.token, tf.doc_id,
      |    round(idf * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)), 6)
      |      AS score
      |  FROM tf
      |  JOIN idf ON tf.token = idf.token
      |  JOIN dl ON tf.doc_id = dl.doc_id)
      |SELECT token, doc_id, score, rank FROM (
      |  SELECT token, doc_id, score,
      |    CAST(row_number() OVER (PARTITION BY token
      |      ORDER BY score DESC, doc_id ASC) AS INT) AS rank
      |  FROM scored) z
      |WHERE rank <= 10 ORDER BY token, rank""".stripMargin
      .replace("TERMS", terms)
  }

  /** Per-source document caps — the C4 / RefinedWeb "at most N pages
    * per domain" rule (reference analog: per-source curation; cap keeps
    * a single domain from dominating the mixture no matter how much it
    * crawls): rank each source's docs by the shared quality composite
    * (ties to the smaller doc_id) and keep the top [[SourceCap]].
    * ONE scan of documents (source is projected next to the quality
    * metrics); the window partitions by source, so at 100 TB the
    * shuffle is the cap's inherent group-by-domain exchange and each
    * task sorts only its domains' rows — no partition-less window
    * (PlanGuard's failure shape), no driver materialization.
    */
  val SourceCap = 10

  def sourceCaps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // fan-out DROPPED (r22 A/B, warm 0.50 -> 0.36 s without)
    val scored = Tables.documents(s, dir)
      .select($"doc_id", $"source", $"text",
        graft.functions.TextFunctions.tokens($"text").as("toks"))
      .select($"doc_id", $"source",
        TextAnalysis.qualityFromToks($"toks", $"text").as("quality"))
    val w = Window.partitionBy($"source")
      .orderBy($"quality".desc, $"doc_id".asc)
    scored.withColumn("rank", row_number().over(w))
      .where($"rank" <= SourceCap)
      .select($"source", $"rank", $"doc_id", $"quality")
      .orderBy($"source", $"rank")
  }

  val sourceCapsSql: String =
    s"""WITH ${TextAnalysis.qualityCtesSql},
       |scored AS (
       |  SELECT d.doc_id, d.source,
       |    ${TextAnalysis.qualitySqlExpr("n_tokens", "stop_ratio", "punct_ratio")}
       |      AS quality
       |  FROM documents d JOIN qm ON d.doc_id = qm.doc_id)
       |SELECT source, CAST(rn AS INT) AS rank, doc_id, quality FROM (
       |  SELECT source, doc_id, quality,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY quality DESC, doc_id ASC) AS rn
       |  FROM scored) z
       |WHERE rn <= $SourceCap ORDER BY source, rank""".stripMargin

  /** Vocabulary bound of the pairwise source-divergence statistic —
    * the BPE-trainer frequency-truncation discipline: distributions
    * compare over the global top-[[JsdVocab]] tokens, so the grid and
    * every per-pair fold stay bounded at any corpus size (tail tokens
    * carry negligible probability mass by construction of the cut).
    */
  val JsdVocab = 4096

  /** Pairwise SOURCE DIVERGENCE — Jensen-Shannon divergence between
    * every pair of per-source unigram distributions, the
    * mixture-design statistic (how different are my slices?) read
    * before weighting sources (nearly-identical sources are mixture
    * redundancy; an outlier source is the one to inspect — the
    * domain-distance signal of the data-mixing literature, e.g. DSIR's
    * importance weights are the per-document face of the same
    * comparison). JSD(p, q) = ½Σ p·ln(2p/(p+q)) + ½Σ q·ln(2q/(p+q)) ∈
    * [0, ln 2], symmetric, finite even on disjoint supports. Scale
    * shape: ONE corpus token scan collapses to the (source, token)
    * frame; the top-[[JsdVocab]] vocabulary, the dense grid
    * (|vocab|·|sources| rows) and the sources²-bounded pair join never
    * touch the corpus again; each pair's sum is a token-ORDERED
    * FloatFold (≤ vocab terms) with both KL halves guarded so an
    * absent token contributes exactly its closed-form limit (0).
    * ORACLE=sql.
    */
  def sourceJsd(s: SparkSession, dir: String): DataFrame =
    sourceJsdOf(Tables.documents(s, dir))

  private[graft] def sourceJsdOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    import graft.functions.FloatFold.orderedSum
    // fan-out DROPPED (r22 A/B, warm 0.91 -> 0.64 s without): the tf
    // lineage is referenced by vocab + the per-source joins, so the
    // exchange multiplied across subtree copies
    val tf = docs
      .select($"source", explode(TF.tokens($"text")).as("token"))
      .groupBy($"source", $"token").agg(count(lit(1)).as("cnt"))
    val vocab = tf.groupBy($"token").agg(sum($"cnt").as("g"))
      .orderBy($"g".desc, $"token".asc).limit(JsdVocab)
      .select($"token")
    val tft = tf.join(broadcast(vocab), "token")
    val tot = tft.groupBy($"source").agg(sum($"cnt").as("tot"))
    val grid = vocab.crossJoin(broadcast(tot))
      .join(tft, Seq("source", "token"), "left")
      .select($"source", $"token",
        (coalesce($"cnt", lit(0L)).cast("double") / $"tot".cast("double"))
          .as("p"))
    val contrib =
      when($"a.p" > 0,
        $"a.p" * log(lit(2.0) * $"a.p" / ($"a.p" + $"b.p"))).otherwise(lit(0.0)) +
      when($"b.p" > 0,
        $"b.p" * log(lit(2.0) * $"b.p" / ($"a.p" + $"b.p"))).otherwise(lit(0.0))
    grid.as("a").join(grid.as("b"),
        $"a.token" === $"b.token" && $"a.source" < $"b.source")
      .groupBy($"a.source".as("src_a"), $"b.source".as("src_b"))
      .agg(round(lit(0.5) * orderedSum($"a.token", contrib), 6).as("jsd"))
      .orderBy($"src_a", $"src_b")
  }

  val sourceJsdSql: String = {
    val contrib =
      """(CASE WHEN a.p > 0 THEN a.p * ln(2 * a.p / (a.p + b.p)) ELSE 0.0 END) +
        |     (CASE WHEN b.p > 0 THEN b.p * ln(2 * b.p / (a.p + b.p)) ELSE 0.0 END)""".stripMargin
    s"""WITH tf AS (
       |  SELECT source, token, count(*) AS cnt FROM (
       |    SELECT source, ${TF.tokensSqlSelect("text")} AS token FROM documents) t
       |  WHERE token <> '' GROUP BY source, token),
       |vocab AS (
       |  SELECT token FROM (
       |    SELECT token, sum(cnt) AS g FROM tf GROUP BY token
       |    ORDER BY g DESC, token LIMIT $JsdVocab) z),
       |tft AS (SELECT tf.* FROM tf JOIN vocab USING (token)),
       |tot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS tot FROM tft GROUP BY source),
       |grid AS (
       |  SELECT t.source, v.token,
       |    CAST(coalesce(x.cnt, 0) AS DOUBLE) / CAST(t.tot AS DOUBLE) AS p
       |  FROM vocab v CROSS JOIN tot t
       |  LEFT JOIN tft x ON x.source = t.source AND x.token = v.token)
       |SELECT a.source AS src_a, b.source AS src_b,
       |  round(0.5 * list_reduce(list_prepend(0.0, list(
       |    $contrib
       |    ORDER BY a.token)), (x, y) -> x + y), 6) AS jsd
       |FROM grid a JOIN grid b ON a.token = b.token AND a.source < b.source
       |GROUP BY a.source, b.source ORDER BY src_a, src_b""".stripMargin
  }

  /** Per-source discriminative terms via class-based TF-IDF (the
    * c-TF-IDF of Grootendorst 2022 / BERTopic's topic representation,
    * with source as the class): score(t, c) = tf_{t,c} · ln(1 + A/f_t)
    * where f_t is the global term count and A the average token mass
    * per class — the "what does each slice talk about" summary a
    * corpus map reports per domain/source. Scale shape: ONE corpus
    * token scan aggregates (source, token) counts; the global f_t and
    * the totals both derive from that vocab-bounded frame (no second
    * corpus pass); the top-10 window partitions by source (the
    * per-class rank's inherent exchange — never partition-less). Ties
    * break on the 6-dp-rounded score then term, so the cut is
    * engine-deterministic.
    */
  def ctfidfSource(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // fan-out DROPPED (r22 A/B, warm 0.52 -> 0.42 s without): same
    // multi-reference shape as sourceJsd
    val tf = Tables.documents(s, dir)
      .select($"source", explode(TF.tokens($"text")).as("token"))
      .groupBy($"source", $"token").agg(count(lit(1)).as("tf"))
    val global = tf.groupBy($"token").agg(sum($"tf").as("ft"))
    val tot = tf.agg((sum($"tf").cast("double") /
      countDistinct($"source").cast("double")).as("avg_mass"))
    val scoredF = tf.join(global, "token").crossJoin(broadcast(tot))
      .select($"source", $"token", $"tf",
        round($"tf" * log(lit(1.0) + $"avg_mass" / $"ft"), 6).as("ctfidf"))
    val w = Window.partitionBy($"source").orderBy($"ctfidf".desc, $"token")
    scoredF.withColumn("rank", row_number().over(w))
      .where($"rank" <= 10)
      .orderBy($"source", $"rank")
  }

  val ctfidfSourceSql: String =
    """WITH tf AS (
      |  SELECT source, w AS token, count(*) AS tf
      |  FROM (SELECT source, unnest(list_filter(string_split_regex(text, '\s+'),
      |          t -> t <> '')) AS w
      |        FROM documents) u
      |  GROUP BY source, w),
      |global AS (SELECT token, CAST(sum(tf) AS BIGINT) AS ft FROM tf GROUP BY token),
      |tot AS (
      |  SELECT CAST(sum(tf) AS DOUBLE) / count(DISTINCT source) AS avg_mass
      |  FROM tf),
      |scored AS (
      |  SELECT t.source, t.token, t.tf,
      |    round(t.tf * ln(1.0 + o.avg_mass / g.ft), 6) AS ctfidf
      |  FROM tf t JOIN global g USING (token) CROSS JOIN tot o),
      |ranked AS (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY source
      |    ORDER BY ctfidf DESC, token) AS INT) AS rank
      |  FROM scored)
      |SELECT source, token, tf, ctfidf, rank
      |FROM ranked WHERE rank <= 10
      |ORDER BY source, rank""".stripMargin

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("q_ctfidf_source", ctfidfSource, Some(ctfidfSourceSql)),
    GraftQuery("q_source_jsd", sourceJsd, Some(sourceJsdSql)),
    GraftQuery("q_bm25_search", bm25Search, Some(bm25SearchSql)),
    GraftQuery("q_source_caps", sourceCaps, Some(sourceCapsSql)),
    // the registered plan is the O(log n) star-contraction scale path;
    // the label-propagation twin stays as the spec-checked baseline
    GraftQuery("q_dedup_clusters", dedupClustersStar, Some(dedupClustersSql),
      singleShot = true),
    GraftQuery("q_cluster_keep_best", clusterKeepBest, Some(clusterKeepBestSql),
      singleShot = true),
    GraftQuery("q_pack_sequences", packSequences(_, _), Some(packSequencesSql)),
    GraftQuery("q_contamination_check", contamination, Some(contaminationSql)),
    GraftQuery("q_contamination_bloom", contaminationBloom,
      Some(contaminationBloomSql)),
    GraftQuery("q_stratified_sample", stratifiedSample, Some(stratifiedSampleSql)),
    GraftQuery("q_distinct_approx", distinctApproxGated,
      Some(distinctApproxSql)),
    GraftQuery("q_distinct_rolling", distinctRollingGated,
      Some(distinctRollingGatedSql)),
    GraftQuery("q_distinct_rolling_exact", distinctRollingExact,
      Some(distinctRollingExactSql)),
    GraftQuery("q_repetition_filter", repetitionFilter, Some(repetitionFilterSql)),
    GraftQuery("q_span_dedup", spanDedup, Some(spanDedupSql)),
    GraftQuery("q_novelty", novelty, Some(noveltySql)),
    GraftQuery("q_source_mixture", sourceMixture, Some(sourceMixtureSql)),
    GraftQuery("q_mixture_temperature", mixtureTemperature,
      Some(mixtureTemperatureSql)),
    GraftQuery("q_mixture_unimax", mixtureUnimax, Some(mixtureUnimaxSql)),
    GraftQuery("q_mixture_apply", mixtureApply, Some(mixtureApplySql)),
    GraftQuery("q_heavy_hitters", heavyHitters, Some(heavyHittersSql)))
}
