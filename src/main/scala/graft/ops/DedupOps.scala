package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ColSyntax._
import graft.queries.Tables.t

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard verification.
  *
  * Scale design: every stage is shuffle-minimal —
  *  - signatures are computed scan-side in ONE typed-map pass per row
  *    ([[Sigs]] kernels; see that file for why not Catalyst HOF lambdas);
  *  - LSH banding shuffles only (bandKey, doc_id) pairs — b rows per doc,
  *    not one per shingle;
  *  - candidate pairs come from an equi-self-join on bandKey (AQE handles
  *    skewed buckets); verification re-joins only the candidate doc ids.
  * At 10^10 docs the band join is the only O(n) shuffle; everything else
  * is embarrassingly parallel.
  */
object DedupOps {

  /** q_dedup_exact — exact dedup groups over md5(text): per-group keeper
    * (min doc_id) + group size. Hash-groupBy; one shuffle of (fp, doc_id). */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .groupBy(md5($"text").as("fp"))
      .agg(min($"doc_id").as("keeper"), count(lit(1)).as("group_size"))

  /** q_dedup_prefix — exact dedup on a 20-char prefix fingerprint: the
    * blocking-key variant (nonzero duplicate groups at every SF). */
  def prefixDedup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .groupBy(md5(substring($"text", 1, 20)).as("fp"))
      .agg(min($"doc_id").as("keeper"), count(lit(1)).as("group_size"))
      .filter($"group_size" > 1)

  /** Exact Jaccard over DISTINCT-element shingle arrays: |∩| is computed
    * once per candidate pair and |∪| derived by the set identity
    * |a|+|b|−|∩| (exact in integers — Sigs.shingles is .distinct), which
    * drops the O(|a|+|b|) array_union hash-set build per pair. The
    * intersect lands in its own projection step so it is evaluated once
    * (CollapseProject keeps a non-cheap alias that is referenced twice).
    * Numerically identical to intersect/union: same numerator, same
    * denominator value, same round — the DuckDB twins keep computing the
    * union explicitly and still hash-match. */
  private def withJaccard(df: DataFrame, a: Column, b: Column): DataFrame =
    df.withColumn("__inter", size(array_intersect(a, b)).cast("double"))
      .withColumn("jaccard", round($"__inter" / (size(a) + size(b) - $"__inter"), 6))
      .drop("__inter")

  /** Detach a SMALL result frame from its cached lineage: collect and
    * rebuild as a local relation, so the big upstream persist (signature
    * tables) can be released immediately — returning the persisted frame
    * itself leaked one cached DataFrame per invocation for the session
    * lifetime (a long-lived session runs many queries). Only for verified
    * near-dup PAIR SETS, whose size is bounded by true near-dup density,
    * not input size; a production run sinks pairs to storage instead of
    * returning a frame at all.
    *
    * The detach is GATED on a row-count ceiling: the density assumption
    * breaks for degenerate parameters (threshold 0 on a dup-dense corpus
    * is O(n²) pairs), and an unbounded collect there would OOM the
    * driver. Over the ceiling the result stays a persisted DISTRIBUTED
    * frame — materialized here so callers can still release the upstream
    * kernel cache immediately; the one persisted pair frame is then the
    * caller's to unpersist (or sink) when done. The limit(ceiling+1)
    * probe costs the same single job the collect already paid in the
    * small case. */
  private val detachCeiling = 1 << 20 // pair rows; ~50 MB of (long,long,double)
  private def detachSmall(df: DataFrame): DataFrame = {
    val probe = df.limit(detachCeiling + 1).collect()
    if (probe.length <= detachCeiling) {
      df.sparkSession.createDataFrame(
        java.util.Arrays.asList(probe: _*), df.schema)
    } else {
      val big = df.persist()
      big.count() // materialize before the caller drops the kernel cache
      big
    }
  }

  /** Candidate pairs via MinHash LSH banding (b bands × r rows), verified
    * with exact shingle Jaccard ≥ threshold.
    *
    * The returned frame is eagerly materialized (it is the small verified
    * pair set) so the LARGE per-doc signature cache can be released before
    * returning — a long-lived session, which runs many queries, must not
    * accumulate one shingle-table copy per invocation. */
  def minhashPairs(spark: SparkSession, dir: String,
                   b: Int = 16, r: Int = 4,
                   threshold: Double = 0.8): DataFrame = {
    val (caches, planned) = minhashPairsPlanned(spark, dir, b, r, threshold)
    val out = detachSmall(planned)
    caches.foreach(_.unpersist()) // free the signature + band tables
    out
  }

  /** The un-detached (caches, pair-plan) pair — [[minhashPairs]] body,
    * exposed so PlanSpec can assert the verify joins read the persisted
    * signature table (the detached public result is a local relation and
    * no longer carries that plan). Caller must unpersist the caches. */
  private[graft] def minhashPairsPlanned(
      spark: SparkSession, dir: String, b: Int, r: Int,
      threshold: Double): (Seq[DataFrame], DataFrame) = {
    import spark.implicits._
    // ONE shingle+signature pass per doc, persisted: band generation and
    // BOTH sides of the verify join reuse it. (Previously the shingle set
    // was recomputed 3× per doc — once for the signature, once per verify
    // side; at 10^10 docs the shingling IS the dominant CPU cost.)
    // r6: the cached/joined shingle set is the HASH set (Sigs.shingleHashes
    // — the same hashStr values the MinHash signature already consumed), so
    // the verify join ships longs, not strings; signatures and candidates
    // are bit-identical, Jaccard equal by corpus-wide injectivity (OpsSpec).
    val sigs = t(spark, dir, "documents")
      .select($"doc_id", $"text").as[(Long, String)]
      .map { case (id, tx) =>
        val hs = Sigs.shingleHashes(tx).sorted
        (id, hs, Sigs.bands(Sigs.minhashOfHashes(hs, b * r), b, r)) }
      .toDF("doc_id", "sh", "bandKeys")
      .persist()

    // r6: persist the exploded band table too — it feeds BOTH sides of the
    // band self-join, and unpersisted the planner duplicated the Generate
    // over the sigs cache per side (the whole subtree above a cache is
    // re-executed per occurrence; only (doc_id, bandKey) longs are cached)
    val banded = sigs.select($"doc_id", explode($"bandKeys").as("bandKey"))
      .persist()
    val cand = banded.as("a")
      .join(banded.as("b"), Seq("bandKey"))
      .filter($"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .distinct()

    val out = withJaccard(cand
      .join(sigs.select($"doc_id".as("doc_a"), $"sh".as("sh_a")), Seq("doc_a"))
      .join(sigs.select($"doc_id".as("doc_b"), $"sh".as("sh_b")), Seq("doc_b")),
      $"sh_a", $"sh_b")
      .filter($"jaccard" >= threshold)
      .select($"doc_a", $"doc_b", $"jaccard")
    (Seq(sigs, banded), out)
  }

  def minhashDedup(spark: SparkSession, dir: String): DataFrame =
    minhashPairs(spark, dir)

  /** q_simhash_dedup — SimHash near-dup pairs: 4 bands of 16 bits generate
    * candidates; verified by full Hamming distance ≤ maxDist.
    *
    * maxDist = 3 < number of bands gives the PIGEONHOLE GUARANTEE: 3 bit
    * errors cannot touch all 4 bands, so every pair at distance ≤ 3 shares
    * at least one untouched band and is always a candidate — recall is
    * exactly 1.0 by construction, which is what lets the driver's DuckDB
    * twin (all-pairs bit_count(xor) ≤ 3 over the exported signatures) be a
    * hard equality check. maxDist > bands-1 trades that guarantee for a
    * wider net (probabilistic recall, sbt-measured). */
  def simhashDedup(spark: SparkSession, dir: String,
                   maxDist: Int = 3): DataFrame = {
    val (banded, planned) = simhashDedupPlanned(spark, dir, maxDist)
    val out = detachSmall(planned)
    banded.unpersist()
    out
  }

  /** The un-detached (kernel cache, pair plan) — [[simhashDedup]] body,
    * exposed so plan tooling can inspect the candidate-join plan (the
    * detached public result is a local relation). Caller unpersists. */
  private[graft] def simhashDedupPlanned(
      spark: SparkSession, dir: String, maxDist: Int): (DataFrame, DataFrame) = {
    import spark.implicits._
    // persist: the O(text) simhash kernel feeds BOTH sides of the
    // band self-join — same discipline as minhashPairs' sigs
    val banded = simhashSigs(spark, dir)
      .flatMap { case (id, sim) =>
        Sigs.simhashBands(sim).map(bk => (id, sim, bk)) }
      .toDF("doc_id", "sim", "bandKey")
      .persist()
    val out = banded.as("a").join(banded.as("b"), Seq("bandKey"))
      .filter($"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        bit_count($"a.sim".bitwiseXOR($"b.sim")).as("dist"))
      .distinct()
      .filter($"dist" <= maxDist)
    (banded, out)
  }

  /** The per-doc SimHash signatures — shared by [[simhashDedup]] and the
    * verify-time export that gives the DuckDB twin an independent view of
    * the signature table (graft.queries.Exports). */
  def simhashSigs(spark: SparkSession,
                  dir: String): org.apache.spark.sql.Dataset[(Long, Long)] = {
    import spark.implicits._
    t(spark, dir, "documents")
      .select($"doc_id", $"text").as[(Long, String)]
      .map { case (id, tx) => (id, Sigs.simhash(tx)) }
  }

  /** q_ngram_jaccard — exact n-gram Jaccard within a cheap blocking key
    * (20-char prefix); this is the "verify" operator LSH feeds at scale.
    *
    * maxDf is the MOSS noise threshold, same as [[winnowPairs]]: a
    * boilerplate prefix shared by d docs would self-join into d² candidate
    * pairs, so blocks with df > maxDf are dropped from the index BEFORE
    * the join (and blocks with df < 2 cannot form a pair). The df count
    * runs as a cheap scan-only groupBy over substring(text,1,20) —
    * deliberately NOT through the shingle kernel, which the typed map
    * would recompute for a branch that only needs the prefix. */
  def ngramJaccard(spark: SparkSession, dir: String,
                   threshold: Double = 0.5, maxDf: Int = 32): DataFrame = {
    val (docs, planned) = ngramJaccardPlanned(spark, dir, threshold, maxDf)
    val out = detachSmall(planned)
    docs.unpersist()
    out
  }

  /** The un-detached (kernel cache, pair plan) — [[ngramJaccard]] body,
    * exposed for plan tooling. Caller unpersists. */
  private[graft] def ngramJaccardPlanned(
      spark: SparkSession, dir: String, threshold: Double,
      maxDf: Int): (DataFrame, DataFrame) = {
    import spark.implicits._
    val keptBlks = t(spark, dir, "documents")
      .groupBy(substring($"text", 1, 20).as("blk"))
      .agg(count(lit(1)).as("df"))
      .filter($"df" >= 2 && $"df" <= maxDf)
      .select($"blk")
    // persist: the shingle kernel feeds BOTH sides of the block self-join
    // (the minhash sigs discipline); the semi-join already pruned the
    // frame to kept blocks, so the cache holds only joinable rows
    val docs = t(spark, dir, "documents")
      .select($"doc_id", $"text").as[(Long, String)]
      // r6: hashed shingle set — longs through the cache and the block
      // self-join instead of strings (see Sigs.shingleHashes)
      .map { case (id, tx) => (id, tx.take(20), Sigs.shingleHashes(tx).sorted) }
      .toDF("doc_id", "blk", "sh")
      .join(keptBlks, Seq("blk"), "left_semi")
      .persist()
    val out = withJaccard(docs.as("a").join(docs.as("b"), Seq("blk"))
      .filter($"a.doc_id" < $"b.doc_id"), $"a.sh", $"b.sh")
      .filter($"jaccard" >= threshold)
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"), $"jaccard")
    (docs, out)
  }

  /** Planted-copy id offset for [[embeddingNearDup]] (kept far above any
    * real vec_id so originals and copies never collide). */
  val NearDupIdOffset = 10000000L

  /** The derived near-dup-rich embedding table: the input embeddings table
    * carries NO near-duplicate pairs (max pairwise cosine ≈ 0.51 at every
    * SF — measured with DuckDB's list_cosine_similarity), so the near-dup
    * operator is demonstrated on a deterministic derivation the oracle can
    * reproduce in SQL: every even vec_id gains a ×2-scaled copy at
    * id + [[NearDupIdOffset]] — the unnormalized-duplicate case (same
    * direction, different magnitude; cosine exactly 1 vs the ≈0.51
    * background). The multiplier is deliberately a POWER OF TWO: IEEE
    * scaling by 2 is exact at every coordinate AND through every partial
    * sum, so sign-LSH projections scale exactly and the copy provably
    * lands in the original's bucket — candidate recall is 1.0 by
    * construction, not by tuning, at ANY hash width. */
  def nearDupDerived(spark: SparkSession, dir: String): DataFrame = {
    val base = t(spark, dir, "embeddings")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
    base.unionByName(
      base.filter(pmod($"vec_id", lit(2)) === 0)
        .select(($"vec_id" + NearDupIdOffset).as("vec_id"),
          transform($"v", x => x * lit(2.0)).as("v")))
  }

  /** q_embedding_neardup — near-duplicate pairs by embedding cosine via
    * sign-LSH bucketing, verified with exact cosine ≥ threshold, over
    * [[nearDupDerived]]. The DuckDB twin is the BRUTE FORCE pair set at
    * the same threshold — equality holds exactly when candidate recall is
    * 1.0, which the ×2-scaling plant GUARANTEES (bucket equality by IEEE
    * exactness — see nearDupDerived; the sbt suite asserts brute-equality
    * anyway).
    *
    * nBits ≤ 0 (the default) sizes the hash adaptively from the table count
    * so expected bucket occupancy stays ~[[AnnOps.targetBucketSize]]: a
    * fixed width would make candidate generation O(n²/2^bits) — quadratic
    * again at 10^10 rows. (An earlier Hamming-≤2 probe-ring variant was
    * measured at 23 s on sf0.1 — the ring at the 6-bit floor visits 22/64
    * buckets, nearly brute force; bucket-equality planting deletes the
    * ring and keeps the one equi-join shuffle.) */
  def embeddingNearDup(spark: SparkSession, dir: String,
                       nBits: Int = 0, threshold: Double = 0.9): DataFrame = {
    val (emb, planned) = embeddingNearDupPlanned(spark, dir, nBits, threshold)
    val out = detachSmall(planned)
    emb.unpersist()
    out
  }

  /** The un-detached (kernel cache, pair plan) — [[embeddingNearDup]] body,
    * exposed for plan tooling. Caller unpersists. */
  private[graft] def embeddingNearDupPlanned(
      spark: SparkSession, dir: String, nBits: Int,
      threshold: Double): (DataFrame, DataFrame) = {
    import spark.implicits._
    val derived = nearDupDerived(spark, dir)
    val bits = if (nBits > 0) nBits
               else AnnOps.adaptiveNBits(
                 AnnOps.cachedCount(s"neardup:$dir")(derived.count()))
    // persist: the O(bits·d) sign-bucket kernel feeds BOTH sides of the
    // self-join — unpersisted it evaluated twice per row (the minhash
    // sigs discipline). Norms are hoisted per ROW for the same reason:
    // cosine() recomputes two O(d) HOF norms per candidate PAIR, and at
    // target bucket occupancy B the pair set is ~n·B/2 — the verify
    // kernel, not the bucketing, dominates this operator.
    val emb = derived.as[(Long, Seq[Double])]
      .map { case (id, v) => (id, v, Sigs.signBucketD(v, bits)) }
      .toDF("vec_id", "v", "bucket")
      .withColumn("nrm", AnnOps.norm($"v"))
      .persist()
    val out = emb.as("a").join(emb.as("b"), Seq("bucket"))
      .filter($"a.vec_id" < $"b.vec_id")
      .withColumn("cos",
        round(AnnOps.cosineHoisted($"a.v", $"b.v", $"a.nrm", $"b.nrm"), 6))
      .filter($"cos" >= threshold)
      .select($"a.vec_id".as("vec_a"), $"b.vec_id".as("vec_b"), $"cos")
    (emb, out)
  }

  /** q_winnow_dedup — near-dup pairs by winnowing fingerprints
    * (rolling-hash document fingerprints, Sigs.winnow): inverted-index
    * self-join on fingerprint, candidates sharing ≥ minShared prints,
    * verified with exact shingle Jaccard ≥ threshold. Same shuffle shape
    * as MinHash banding — O(prints/doc) rows per doc, never all-pairs; any
    * shared run of ≥ w+k-1 chars guarantees a shared print (the winnowing
    * theorem), so copy-paste duplication cannot hide.
    *
    * maxDf is MOSS's noise threshold: a fingerprint present in more than
    * maxDf documents (boilerplate — a license header, a shared template
    * sentence) is dropped from the index BEFORE the self-join; without it
    * one k-gram shared by d docs emits d² candidate rows. maxDf must
    * exceed the largest true near-dup GROUP size (a group of g mutual
    * near-dups legitimately shares prints g ways); 32 is far above the
    * test worlds' group sizes and far below boilerplate fan-out.
    *
    * minShared defaults to 1 because that is all the winnowing theorem
    * guarantees: a shared run of ≥ w+k-1 chars yields AT LEAST one shared
    * print. minShared=2 was measured to drop 3 of 256 true pairs at
    * sf0.1 (pairs whose overlap fingerprints to exactly one print) —
    * raising it trades theorem-backed recall for candidate-noise
    * reduction and must be a deliberate choice at scale. */
  def winnowPairs(spark: SparkSession, dir: String,
                  k: Int = 24, w: Int = 16, minShared: Int = 1,
                  maxDf: Int = 32, threshold: Double = 0.8): DataFrame = {
    val (caches, planned) =
      winnowPairsPlanned(spark, dir, k, w, minShared, maxDf, threshold)
    val out = detachSmall(planned)
    caches.foreach(_.unpersist())
    out
  }

  /** The un-detached (kernel caches, pair plan) — [[winnowPairs]] body,
    * exposed for plan tooling. Caller unpersists. */
  private[graft] def winnowPairsPlanned(
      spark: SparkSession, dir: String, k: Int, w: Int, minShared: Int,
      maxDf: Int, threshold: Double): (Seq[DataFrame], DataFrame) = {
    import spark.implicits._
    // k = 24 chars (~4 vocab words): long enough that unrelated docs over
    // a small vocabulary rarely share a k-gram; shared runs ≥ w+k-1 = 39
    // chars always fingerprint. ONE pass computes prints AND the shingle
    // set the verify stage reuses (same persist/release discipline as
    // minhashPairs).
    val sigs = t(spark, dir, "documents")
      .select($"doc_id", $"text").as[(Long, String)]
      // r6: hashed shingle set — longs through the cache and both verify
      // joins instead of strings (see Sigs.shingleHashes)
      .map { case (id, tx) =>
        (id, Sigs.shingleHashes(tx).sorted, Sigs.winnow(tx, k, w)) }
      .toDF("doc_id", "sh", "prints")
      .persist()
    val inv = sigs.select($"doc_id", explode($"prints").as("fp"))
    // document-frequency cap: prints in >maxDf docs are boilerplate noise
    // (quadratic candidate blowup); prints in <2 docs cannot form a pair
    val keptFps = inv.groupBy($"fp")
      .agg(count(lit(1)).as("df"))
      .filter($"df" >= 2 && $"df" <= maxDf)
      .select($"fp")
    // r6: persist the PRUNED inverted index — it feeds both sides of the
    // fingerprint self-join, and unpersisted the planner re-ran the
    // explode AND the whole df-cap aggregation (its own exchange and
    // broadcast) once per side. This is MOSS's "build the index once";
    // the cache holds only (fp, doc_id) longs for df-capped prints, whose
    // row count is bounded by maxDf × |kept prints|.
    val capped = inv.join(keptFps, Seq("fp")).persist()
    val cand = capped.as("a").join(capped.as("b"), Seq("fp"))
      .filter($"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter($"n_shared" >= minShared)
      .select($"doc_a", $"doc_b")
    val out = withJaccard(cand
      .join(sigs.select($"doc_id".as("doc_a"), $"sh".as("sh_a")), Seq("doc_a"))
      .join(sigs.select($"doc_id".as("doc_b"), $"sh".as("sh_b")), Seq("doc_b")),
      $"sh_a", $"sh_b")
      .filter($"jaccard" >= threshold)
      .select($"doc_a", $"doc_b", $"jaccard")
    (Seq(sigs, capped), out)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_winnow_dedup" -> ((s: SparkSession, d: String) => winnowPairs(s, d)),
    "q_dedup_exact" -> (exactDedup _),
    "q_dedup_prefix" -> (prefixDedup _),
    "q_minhash_dedup" -> ((s: SparkSession, d: String) => minhashDedup(s, d)),
    "q_simhash_dedup" -> ((s: SparkSession, d: String) => simhashDedup(s, d)),
    "q_ngram_jaccard" -> ((s: SparkSession, d: String) => ngramJaccard(s, d)),
    "q_embedding_neardup" -> ((s: SparkSession, d: String) => embeddingNearDup(s, d)))

  /** Independent DuckDB twin of the shingle kernel: word 3-grams (whole
    * text when <3 words), distinct, Jaccard = |∩|/|∪| rounded BEFORE the
    * threshold filter — exactly Sigs.shingles + DedupOps.jaccard. With
    * `blocked = false` this is the BRUTE-FORCE pair set at the threshold:
    * the hard oracle for every candidate-generator query (minhash,
    * winnow), green exactly when candidate recall is 1.0. */
  private def shingleJaccardSql(threshold: Double, blocked: Boolean,
                                maxDf: Int = 32): String = {
    val joinCond =
      if (blocked) "a.blk = b.blk AND a.doc_id < b.doc_id"
      else "a.doc_id < b.doc_id"
    // blocked twin mirrors ngramJaccard's df-cap: blocks outside [2, maxDf]
    // are dropped before the self-join
    val capCte =
      if (blocked)
        s""",
           |kept AS (SELECT blk FROM d GROUP BY blk
           |         HAVING count(*) BETWEEN 2 AND $maxDf),
           |dk AS (SELECT d.* FROM d JOIN kept USING (blk))""".stripMargin
      else ""
    val rel = if (blocked) "dk" else "d"
    s"""WITH d AS (
       |  SELECT doc_id, substr(text, 1, 20) AS blk,
       |    CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
       |         ELSE list_distinct(list_transform(generate_series(1, len(w) - 2),
       |                i -> array_to_string(w[i:i+2], ' '))) END AS sh
       |  FROM (SELECT doc_id, text,
       |          regexp_split_to_array(trim(text), '\\s+') AS w FROM documents)
       |)$capCte
       |SELECT doc_a, doc_b, jaccard FROM (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |          / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
       |  FROM $rel a JOIN $rel b ON $joinCond)
       |WHERE jaccard >= $threshold""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q_dedup_exact" ->
      """SELECT md5(text) AS fp, min(doc_id) AS keeper, count(*) AS group_size
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "q_dedup_prefix" ->
      """SELECT md5(substr(text, 1, 20)) AS fp, min(doc_id) AS keeper,
        |  count(*) AS group_size
        |FROM documents GROUP BY md5(substr(text, 1, 20)) HAVING count(*) > 1""".stripMargin,
    "q_ngram_jaccard" -> shingleJaccardSql(0.5, blocked = true),
    // brute-force twins of the LSH candidate generators: equality holds
    // exactly when candidate recall is 1.0 at the verify threshold (the
    // sbt suite asserts that equality on the same data)
    "q_minhash_dedup" -> shingleJaccardSql(0.8, blocked = false),
    "q_winnow_dedup" -> shingleJaccardSql(0.8, blocked = false),
    // brute-force cosine pair set over the SAME derived near-dup table
    // (original embeddings carry no pairs above cosine ≈0.51; the planted
    // ×2-scaled copies sit at exactly 1 — see nearDupDerived)
    "q_embedding_neardup" ->
      """WITH base AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), derived AS (
        |  SELECT vec_id, v FROM base
        |  UNION ALL
        |  SELECT vec_id + 10000000, list_transform(v, x -> x * 2)
        |  FROM base WHERE vec_id % 2 = 0
        |)
        |SELECT vec_a, vec_b, cos FROM (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    round(list_cosine_similarity(a.v, b.v), 6) AS cos
        |  FROM derived a JOIN derived b ON a.vec_id < b.vec_id)
        |WHERE cos >= 0.9""".stripMargin,
    // all-pairs Hamming over the exported signature table: recall at
    // maxDist 3 < 4 bands is pigeonhole-guaranteed, so this is equality,
    // not a bound (the simhash kernel itself is sbt ground-truthed)
    "q_simhash_dedup" ->
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS dist
        |FROM read_parquet('__EXPORT__/export_simhash/*.parquet') a
        |JOIN read_parquet('__EXPORT__/export_simhash/*.parquet') b
        |  ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin)
}
