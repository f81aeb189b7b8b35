package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ColSyntax._
import graft.queries.Tables.t

/** Deduplication operators for training-data pipelines: exact and prefix
  * groups, and five near-dup pair operators (MinHash+LSH, SimHash, n-gram
  * Jaccard, winnowing, embedding cosine) on one candidate → verify
  * skeleton: a persisted per-doc kernel ([[Sigs]], ONE typed-map pass per
  * row), an equi-self-join on a few keys per doc ([[keyPairs]], optionally
  * df-capped by [[keptKeys]]; AQE handles skewed keys), an exact verify,
  * then [[run]] detaches the small pair set and releases the caches. At
  * 10^10 docs the key join is the only O(n) shuffle.
  */
object DedupOps {

  /** Exact-dedup groups over md5(key): per-group keeper (min doc_id) +
    * group size. Hash-groupBy; one shuffle of (fp, doc_id). */
  private def fpGroups(spark: SparkSession, dir: String, key: Column): DataFrame =
    t(spark, dir, "documents")
      .groupBy(md5(key).as("fp"))
      .agg(min($"doc_id").as("keeper"), count(lit(1)).as("group_size"))

  /** q_dedup_exact — exact dedup groups over md5(text). */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    fpGroups(spark, dir, $"text")

  /** q_dedup_prefix — exact dedup on a 20-char prefix fingerprint: the
    * blocking-key variant (nonzero duplicate groups at every SF). */
  def prefixDedup(spark: SparkSession, dir: String): DataFrame =
    fpGroups(spark, dir, substring($"text", 1, 20)).filter($"group_size" > 1)

  // ---- the candidate → verify skeleton shared by the near-dup operators --

  /** A near-dup operator's pre-detach pair plan plus the kernel caches it
    * reads. The `xPlan` hooks return it so PlanSpec can inspect the join
    * plan; the public operators hand it to [[run]]. */
  private[graft] final case class Pairs(caches: Seq[DataFrame], plan: DataFrame)

  /** Candidate pairs: the equi-self-join of `keyed` on `key`, each
    * unordered pair once (`a.id < b.id`); columns stay reachable as
    * `a.*` / `b.*`. */
  private def keyPairs(keyed: DataFrame, key: String, id: String): DataFrame =
    keyed.as("a").join(keyed.as("b"), Seq(key))
      .filter(col(s"a.$id") < col(s"b.$id"))

  /** MOSS document-frequency cap: the distinct values of `key` (named
    * `name`) held by 2..maxDf rows of `df`. A key in more than maxDf docs
    * is boilerplate that would self-join into d² candidate pairs; a key in
    * fewer than 2 docs cannot form a pair. */
  private def keptKeys(df: DataFrame, key: Column, name: String,
                       maxDf: Int): DataFrame =
    df.groupBy(key.as(name))
      .agg(count(lit(1)).as("df"))
      .filter($"df" >= 2 && $"df" <= maxDf)
      .select(col(name))

  /** Exact Jaccard over DISTINCT-element shingle arrays: |∩| once per
    * pair, |∪| by the set identity |a|+|b|−|∩| (exact in integers), which
    * drops the array_union hash-set build per pair. The intersect gets its
    * own projection so it is evaluated once. Numerically identical to
    * intersect/union, so the DuckDB twins (explicit union) hash-match. */
  private def withJaccard(df: DataFrame, a: Column, b: Column): DataFrame =
    df.withColumn("__inter", size(array_intersect(a, b)).cast("double"))
      .withColumn("jaccard", round($"__inter" / (size(a) + size(b) - $"__inter"), 6))
      .drop("__inter")

  /** The verify half for inverted-index generators (minhash bands, winnow
    * prints): distinct doc pairs sharing a key of `index` (doc_id, key),
    * each side's shingle-hash set joined from the persisted `sigs`
    * (doc_id, sh), kept at exact Jaccard ≥ [[PairThreshold]]. Only the
    * candidate ids shuffle into the verify joins. */
  private def verifiedPairs(index: DataFrame, key: String,
                            sigs: DataFrame): DataFrame = {
    val cand = keyPairs(index, key, "doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .distinct()
    withJaccard(cand
      .join(sigs.select($"doc_id".as("doc_a"), $"sh".as("sh_a")), Seq("doc_a"))
      .join(sigs.select($"doc_id".as("doc_b"), $"sh".as("sh_b")), Seq("doc_b")),
      $"sh_a", $"sh_b")
      .filter($"jaccard" >= PairThreshold)
      .select($"doc_a", $"doc_b", $"jaccard")
  }

  /** Run a pair plan, then release its kernel caches: a long-lived session
    * must not keep one signature-table copy per query. The verified pair
    * set is bounded by near-dup density, not input size, so it is
    * collected and rebuilt as a local relation with no cached lineage.
    * Degenerate parameters (threshold 0 on a dup-dense corpus) break that
    * bound, so over a row ceiling the result instead stays a persisted
    * distributed frame, materialized before the caches go; that frame is
    * then the caller's to unpersist or sink. */
  private val detachCeiling = 1 << 20 // pair rows; ~50 MB of (long,long,double)
  private def run(p: Pairs): DataFrame =
    try {
      val probe = p.plan.limit(detachCeiling + 1).collect()
      if (probe.length <= detachCeiling)
        p.plan.sparkSession.createDataFrame(
          java.util.Arrays.asList(probe: _*), p.plan.schema)
      else {
        val big = p.plan.persist()
        big.count() // materialize before the kernel caches are dropped
        big
      }
    } finally p.caches.foreach(_.unpersist())

  // Fixed tuning of the near-dup operators, shared with their DuckDB twins.
  private val PairThreshold = 0.8 // minhash + winnow exact-Jaccard verify
  private val Bands = 16 // minhash LSH bands ...
  private val Rows = 4 // ... of 4 signature rows each
  private val MaxHamming = 3 // simhash verify; < 4 bands, see simhashDedup
  private val NearDupCos = 0.9 // embedding cosine verify
  private val WinnowK = 24 // winnow k-gram length, chars
  private val WinnowW = 16 // winnow window, k-grams

  /** Candidate pairs via MinHash LSH banding (Bands × Rows), verified
    * with exact shingle Jaccard ≥ [[PairThreshold]]. */
  def minhashPairs(spark: SparkSession, dir: String): DataFrame =
    run(minhashPairsPlan(spark, dir))

  private[graft] def minhashPairsPlan(spark: SparkSession, dir: String): Pairs = {
    import spark.implicits._
    // ONE shingle+signature pass per doc, persisted: band generation and
    // BOTH sides of the verify join reuse it (at 10^10 docs the shingling
    // IS the dominant CPU cost). The cached shingle set is the HASH set
    // (Sigs.shingleHashes, the values the signature consumed), so the
    // verify join ships longs; Jaccard is equal by corpus-wide injectivity.
    val sigs = t(spark, dir, "documents")
      .select($"doc_id", $"text").as[(Long, String)]
      .map { case (id, tx) =>
        val hs = Sigs.shingleHashes(tx).sorted
        (id, hs, Sigs.bands(Sigs.minhashOfHashes(hs, Bands * Rows), Bands, Rows)) }
      .toDF("doc_id", "sh", "bandKeys")
      .persist()
    // r6: persist the exploded band table too — it feeds BOTH sides of the
    // band self-join, and unpersisted the planner duplicated the Generate
    // over the sigs cache per side (the whole subtree above a cache is
    // re-executed per occurrence; only (doc_id, bandKey) longs are cached)
    val banded = sigs.select($"doc_id", explode($"bandKeys").as("bandKey"))
      .persist()
    Pairs(Seq(sigs, banded), verifiedPairs(banded, "bandKey", sigs))
  }

  /** q_simhash_dedup — SimHash near-dup pairs: 4 bands of 16 bits generate
    * candidates; verified by full Hamming distance ≤ [[MaxHamming]] = 3.
    *
    * 3 < number of bands gives the PIGEONHOLE GUARANTEE: 3 bit
    * errors cannot touch all 4 bands, so every pair at distance ≤ 3 shares
    * at least one untouched band and is always a candidate — recall is
    * exactly 1.0 by construction, which is what lets the driver's DuckDB
    * twin (all-pairs bit_count(xor) ≤ 3 over the exported signatures) be a
    * hard equality check. A distance > bands-1 would trade that guarantee
    * for a wider net (probabilistic recall). */
  def simhashDedup(spark: SparkSession, dir: String): DataFrame =
    run(simhashDedupPlan(spark, dir))

  private[graft] def simhashDedupPlan(spark: SparkSession, dir: String): Pairs = {
    import spark.implicits._
    // persist: the O(text) simhash kernel feeds BOTH sides of the
    // band self-join — same discipline as minhashPairs' sigs
    val banded = simhashSigs(spark, dir)
      .flatMap { case (id, sim) =>
        Sigs.simhashBands(sim).map(bk => (id, sim, bk)) }
      .toDF("doc_id", "sim", "bandKey")
      .persist()
    val out = keyPairs(banded, "bandKey", "doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        bit_count($"a.sim".bitwiseXOR($"b.sim")).as("dist"))
      .distinct()
      .filter($"dist" <= MaxHamming)
    Pairs(Seq(banded), out)
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
    * Blocks outside [2, maxDf] docs are dropped before the join
    * ([[keptKeys]]). The df count runs as a cheap scan-only groupBy over
    * substring(text,1,20) — deliberately NOT through the shingle kernel,
    * which the typed map would recompute for a branch that only needs
    * the prefix. */
  def ngramJaccard(spark: SparkSession, dir: String,
                   threshold: Double = 0.5, maxDf: Int = 32): DataFrame =
    run(ngramJaccardPlan(spark, dir, threshold, maxDf))

  private[graft] def ngramJaccardPlan(spark: SparkSession, dir: String,
                                      threshold: Double, maxDf: Int): Pairs = {
    import spark.implicits._
    val keptBlks = keptKeys(t(spark, dir, "documents"),
      substring($"text", 1, 20), "blk", maxDf)
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
    val out = withJaccard(keyPairs(docs, "blk", "doc_id"), $"a.sh", $"b.sh")
      .filter($"jaccard" >= threshold)
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"), $"jaccard")
    Pairs(Seq(docs), out)
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
    * sign-LSH bucketing, verified with exact cosine ≥ [[NearDupCos]], over
    * [[nearDupDerived]]. The DuckDB twin is the BRUTE FORCE pair set at
    * the same threshold — equality holds exactly when candidate recall is
    * 1.0, which the ×2-scaling plant GUARANTEES (bucket equality by IEEE
    * exactness — see nearDupDerived; the sbt suite asserts brute-equality
    * anyway).
    *
    * The hash width is sized from the table count so expected bucket
    * occupancy stays ~[[AnnOps.targetBucketSize]]: a fixed width would
    * make candidate generation O(n²/2^bits) — quadratic again at 10^10
    * rows. Bucket-equality planting needs no Hamming probe ring (a
    * radius-2 ring measured 23 s at sf0.1, nearly brute force). */
  def embeddingNearDup(spark: SparkSession, dir: String): DataFrame =
    run(embeddingNearDupPlan(spark, dir))

  private[graft] def embeddingNearDupPlan(spark: SparkSession, dir: String): Pairs = {
    import spark.implicits._
    val derived = nearDupDerived(spark, dir)
    val bits = AnnOps.adaptiveNBits(
      AnnOps.cachedCount(s"neardup:$dir")(derived.count()))
    // persist: the O(bits·d) sign-bucket kernel feeds BOTH sides of the
    // self-join — unpersisted it evaluated twice per row (the minhash
    // sigs discipline). Norms are hoisted per ROW for the same reason: a
    // per-pair cosine recomputes two O(d) norms per candidate PAIR, and at
    // target bucket occupancy B the pair set is ~n·B/2 — the verify
    // kernel, not the bucketing, dominates this operator.
    val emb = derived.as[(Long, Seq[Double])]
      .map { case (id, v) => (id, v, Sigs.signBucket(v, bits)) }
      .toDF("vec_id", "v", "bucket")
      .withColumn("nrm", AnnOps.norm($"v"))
      .persist()
    val out = keyPairs(emb, "bucket", "vec_id")
      .withColumn("cos",
        round(AnnOps.cosineHoisted($"a.v", $"b.v", $"a.nrm", $"b.nrm"), 6))
      .filter($"cos" >= NearDupCos)
      .select($"a.vec_id".as("vec_a"), $"b.vec_id".as("vec_b"), $"cos")
    Pairs(Seq(emb), out)
  }

  /** q_winnow_dedup — near-dup pairs by winnowing fingerprints (rolling-
    * hash document fingerprints, Sigs.winnow): inverted-index self-join on
    * fingerprint, verified with exact shingle Jaccard ≥ [[PairThreshold]].
    * Same shuffle shape as MinHash banding — O(prints/doc) rows per doc,
    * never all-pairs; any shared run of ≥ w+k-1 chars guarantees a shared
    * print (the winnowing theorem), so copy-paste duplication cannot hide.
    * One shared print is all the theorem guarantees, so every pair sharing
    * a kept print is a candidate (requiring 2 was measured to drop 3 of 256
    * true pairs at sf0.1).
    *
    * maxDf is MOSS's noise threshold ([[keptKeys]]): a boilerplate print (a
    * license header, a shared template sentence) is dropped from the index
    * BEFORE the self-join. maxDf must exceed the largest true near-dup
    * GROUP size (a group of g mutual near-dups legitimately shares prints g
    * ways); 32 is far above the test worlds' group sizes and far below
    * boilerplate fan-out. */
  def winnowPairs(spark: SparkSession, dir: String, maxDf: Int = 32): DataFrame =
    run(winnowPairsPlan(spark, dir, maxDf))

  private[graft] def winnowPairsPlan(spark: SparkSession, dir: String,
                                     maxDf: Int): Pairs = {
    import spark.implicits._
    // k = 24 chars (~4 vocab words): long enough that unrelated docs over
    // a small vocabulary rarely share a k-gram; with w = 16, shared runs
    // ≥ w+k-1 = 39 chars always fingerprint. ONE pass computes prints AND the shingle
    // set the verify stage reuses (same persist/release discipline as
    // minhashPairs).
    val sigs = t(spark, dir, "documents")
      .select($"doc_id", $"text").as[(Long, String)]
      // r6: hashed shingle set — longs through the cache and both verify
      // joins instead of strings (see Sigs.shingleHashes)
      .map { case (id, tx) =>
        (id, Sigs.shingleHashes(tx).sorted, Sigs.winnow(tx, WinnowK, WinnowW)) }
      .toDF("doc_id", "sh", "prints")
      .persist()
    val inv = sigs.select($"doc_id", explode($"prints").as("fp"))
    // r6: persist the PRUNED inverted index — it feeds both sides of the
    // fingerprint self-join, and unpersisted the planner re-ran the
    // explode AND the whole df-cap aggregation (its own exchange and
    // broadcast) once per side. This is MOSS's "build the index once";
    // the cache holds only (fp, doc_id) longs for df-capped prints, whose
    // row count is bounded by maxDf × |kept prints|.
    val capped = inv.join(keptKeys(inv, $"fp", "fp", maxDf), Seq("fp")).persist()
    Pairs(Seq(sigs, capped), verifiedPairs(capped, "fp", sigs))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_winnow_dedup" -> ((s: SparkSession, d: String) => winnowPairs(s, d)),
    "q_dedup_exact" -> (exactDedup _),
    "q_dedup_prefix" -> (prefixDedup _),
    "q_minhash_dedup" -> (minhashPairs _),
    "q_simhash_dedup" -> (simhashDedup _),
    "q_ngram_jaccard" -> ((s: SparkSession, d: String) => ngramJaccard(s, d)),
    "q_embedding_neardup" -> (embeddingNearDup _))

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
    "q_minhash_dedup" -> shingleJaccardSql(PairThreshold, blocked = false),
    "q_winnow_dedup" -> shingleJaccardSql(PairThreshold, blocked = false),
    // brute-force cosine pair set over the SAME derived near-dup table
    // (original embeddings carry no pairs above cosine ≈0.51; the planted
    // ×2-scaled copies sit at exactly 1 — see nearDupDerived)
    "q_embedding_neardup" ->
      s"""WITH base AS (
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
        |WHERE cos >= $NearDupCos""".stripMargin,
    // all-pairs Hamming over the exported signature table: recall at
    // maxDist 3 < 4 bands is pigeonhole-guaranteed, so this is equality,
    // not a bound (the simhash kernel itself is sbt ground-truthed)
    "q_simhash_dedup" ->
      s"""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS dist
        |FROM read_parquet('__EXPORT__/export_simhash/*.parquet') a
        |JOIN read_parquet('__EXPORT__/export_simhash/*.parquet') b
        |  ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= $MaxHamming""".stripMargin)
}
