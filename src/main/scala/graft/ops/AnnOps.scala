package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.ColSyntax._
import graft.queries.Tables.t

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`): brute-force cosine top-k as the exact baseline, and a
  * sign-LSH (random-hyperplane) bucketed variant as the scale path.
  *
  * All vector math is `zip_with`/`aggregate` column expressions — no UDFs,
  * no collect. The brute-force path is one broadcast (Q queries) × scan
  * (N base) with a TakeOrderedAndProject per query; the LSH path prunes the
  * scan to matching buckets first.
  */
object AnnOps {

  /** Dot product of two float/double-array columns, in double precision.
    *
    * r6: the HOF form (`aggregate(zip_with(...))`) evaluated its lambda
    * INTERPRETED per element and blocked whole-stage codegen — and this
    * expression runs once per scored candidate PAIR, the hottest kernel in
    * the ANN/embedding operators. [[graft.functions.DotProduct]] is the
    * codegen'd replacement: same left-to-right double accumulation, same
    * float→double widening, bit-identical results (OpsSpec pins HOF ≡
    * native on real embeddings; the DuckDB oracles are unchanged). */
  def dot(a: Column, b: Column): Column = graft.functions.DotProduct.dot(a, b)

  /** The pre-r6 HOF formulation, kept as the equivalence witness for tests. */
  private[graft] def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine with the per-vector norms HOISTED to row level: computing
    * dot(a,b)/(norm(a)·norm(b)) per scored PAIR would recompute both O(d)
    * norms per pair; hoisting them into the (much smaller) per-row frames
    * is bit-identical (same fold, same multiply order) and cuts the
    * per-pair kernel to one dot product. */
  def cosineHoisted(a: Column, b: Column, an: Column, bn: Column): Column =
    dot(a, b) / (an * bn)

  // Sign-LSH bucketing lives in Sigs.signBucket (typed one-pass kernel).

  /** Expected rows per sign-LSH bucket when the hash is adaptively sized. */
  val targetBucketSize = 256L

  /** Hash width so expected bucket occupancy ≈ [[targetBucketSize]]:
    * ceil(log2(n / target)), floored at 6 bits (64 buckets) and capped at
    * 48. A FIXED width is a scale bug — candidate pairs grow O(n²/2^bits),
    * quadratic again at 10^10 rows; adaptive width keeps the per-bucket
    * join quadratic only in a constant (256² per bucket). */
  def adaptiveNBits(n: Long): Int = {
    val buckets = math.max(1L, n / targetBucketSize)
    val bits = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, buckets - 1))
    math.min(48, math.max(6, bits))
  }

  /** Memoized table counts for adaptive sizing: each adaptive operator
    * needs ONE row count to size its hash/index, and a long-lived session
    * (which runs many queries) must not pay a full count scan
    * per invocation — at 100 TB that scan is the most expensive no-op in
    * the job. Keyed by caller-chosen string (dir + derivation). */
  private val counts = scala.collection.concurrent.TrieMap.empty[String, Long]
  def cachedCount(key: String)(compute: => Long): Long =
    counts.getOrElseUpdate(key, compute)

  /** IVF list count: K = clamp(ceil(√n), 16, 65536). √n balances both
    * sides of the index — K centroids to broadcast/assign against, n/K
    * average list length to probe — and keeps the driver-collected
    * centroid table a genuine dimension at any n (round 2's n/256 grew
    * LINEARLY: ~39M driver-collected centroids at 10^10 vectors, with
    * O(n/256·d) assignment CPU per row). The 65536 cap bounds broadcast
    * memory; beyond it a two-level coarse/fine assignment is the upgrade
    * path, not a bigger flat K. */
  def adaptiveNLists(n: Long): Int =
    math.min(65536L, math.max(16L,
      math.ceil(math.sqrt(n.toDouble)).toLong)).toInt

  /** All buckets within Hamming distance ≤ radius of `center` over a
    * `bits`-wide code — the multi-probe ring (1 + bits + bits(bits-1)/2
    * probes at radius 2). */
  def hammingBall(center: Long, bits: Int, radius: Int): Seq[Long] =
    (0 to radius).flatMap(r =>
      (0 until bits).combinations(r)
        .map(is => is.foldLeft(center)((b, i) => b ^ (1L << i))).toSeq)

  // Fixed query shape of the three top-k searches, shared with their
  // DuckDB twins: queries are vec_ids below NQueries, TopK hits each.
  private val NQueries = 8
  private val TopK = 10
  private val NProbe = 4 // IVF lists probed per query

  /** The shared top-k tail: exact rounded cosine of each (query_id, qv,
    * qn) × (vec_id, embedding, bn) candidate pair, then the first TopK per
    * query by (cos desc, vec_id asc). */
  private def topKByCosine(pairs: DataFrame): DataFrame = {
    val w = Window.partitionBy($"query_id")
      .orderBy($"cos".desc, $"vec_id".asc)
    pairs
      .withColumn("cos",
        round(cosineHoisted($"qv", $"embedding", $"qn", $"bn"), 6))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= TopK)
      .select($"query_id", $"rank", $"vec_id", $"cos")
  }

  /** q_ann_brute — exact cosine top-k per query vector. Query set = the
    * first [[NQueries]] vec_ids (broadcast); base = the full table. */
  def bruteTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings").select($"vec_id", $"embedding")
      .withColumn("bn", norm($"embedding"))
    val queries = emb.filter($"vec_id" < NQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"), $"bn".as("qn"))
    topKByCosine(emb.join(broadcast(queries), $"vec_id" =!= $"query_id"))
  }

  /** q_ann_lsh — the scale path: bucket base vectors by sign-LSH at the
    * [[adaptiveNBits]] width, probe only the query's bucket (plus Hamming-1
    * neighbor buckets), exact cosine within. Recall measured against
    * bruteTopK in tests. */
  def lshTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = t(spark, dir, "embeddings").select($"vec_id", $"embedding")
    val bits = adaptiveNBits(cachedCount(s"emb:$dir")(base.count()))
    val emb = base.as[(Long, Seq[Float])]
      .map { case (id, v) => (id, v, Sigs.signBucket(v.map(_.toDouble), bits)) }
      .toDF("vec_id", "embedding", "bucket")
      .withColumn("bn", norm($"embedding"))
    val queries = emb.filter($"vec_id" < NQueries)
      .select($"vec_id", $"embedding", $"bucket")
      .as[(Long, Seq[Float], Long)]
      // multi-probe: own bucket + all Hamming-1 neighbor buckets
      .flatMap { case (id, v, bkt) =>
        hammingBall(bkt, bits, 1).map(p => (id, v, p)) }
      .toDF("query_id", "qv", "bucket")
      .withColumn("qn", norm($"qv"))
    topKByCosine(emb.join(broadcast(queries), Seq("bucket"))
      .filter($"vec_id" =!= $"query_id"))
  }

  // ---- IVF (inverted-file) ANN — the trained-bucketer scale path ---------

  /** Pure-Scala cosine (double accumulation, left-to-right — bit-matches
    * DuckDB's list_cosine_similarity over DOUBLE[] casts). */
  def cosineScala(a: Seq[Float], b: Seq[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Round to 6 places, half away from zero — the SAME rule as Spark's
    * round() and DuckDB's round(), so a negative cosine at an exact
    * half-ulp boundary cannot make the kernel and the oracle pick
    * different IVF lists (half-toward-+inf would). */
  private def round6(x: Double): Double =
    if (x < 0) -math.floor(-x * 1e6 + 0.5) / 1e6
    else math.floor(x * 1e6 + 0.5) / 1e6

  /** The sign-LSH bucket assignment [[lshTopK]] uses, as a frame the
    * verify-time export can hand to DuckDB — the oracle then independently
    * recomputes the multi-probe candidate generation, exact cosine, and
    * ranking from these buckets (the bucket kernel itself is sbt
    * ground-truthed against brute force). */
  def lshBucketAssignments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = t(spark, dir, "embeddings").select($"vec_id", $"embedding")
    val bits = adaptiveNBits(cachedCount(s"emb:$dir")(base.count()))
    base.as[(Long, Seq[Float])]
      .map { case (id, v) => (id, Sigs.signBucket(v.map(_.toDouble), bits), bits) }
      .toDF("vec_id", "bucket", "bits")
  }

  /** Top-`m` centroid ids by (rounded) cosine, centroid-id tie-break —
    * rounding collapses float-association near-ties so the Spark kernel
    * and the DuckDB oracle pick identical lists. */
  private def nearestLists(cents: Array[(Long, Array[Float])],
                           v: Seq[Float], m: Int): Seq[(Long, Double)] =
    cents.map { case (cid, cv) => (cid, round6(cosineScala(cv, v))) }
      .sortBy { case (cid, c) => (-c, cid) }.take(m).toSeq

  /** q_ann_ivf — inverted-file ANN: K deterministic sampled centroids
    * (lowest minstd-LCG key — reproducible in plain SQL, no RNG), each
    * base vector assigned to its nearest list by ONE broadcast-kernel
    * pass (no shuffle, no crossJoin explosion: O(K·d) CPU per row),
    * queries probe their [[NProbe]] nearest lists, exact cosine inside.
    * The IVF upgrade path of SCALE.md §6: swap the sampled centroids for
    * trained ones and nothing else changes. List count
    * K = clamp(ceil(√n), 16, 65536) — the standard IVF sizing. √n (not
    * n/256, which round 2 used) keeps BOTH sides of the index balanced:
    * the centroid table stays a genuine broadcast dimension (10^10 vectors
    * → 10^5 centroids ≈ tens of MB collected, not 39M rows) and per-row
    * assignment work stays O(√n·d); average list length is also √n, which
    * NProbe-bounded probing handles. IEEE sqrt is correctly rounded, so
    * the DuckDB oracle's ceil(sqrt(count)) picks the identical K. */
  def ivfTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = t(spark, dir, "embeddings").select($"vec_id", $"embedding")
    val lists = adaptiveNLists(cachedCount(s"emb:$dir")(base.count()))
    // centroid sample: lowest K by (vec_id * 48271) % 2147483647 — a pure
    // arithmetic key DuckDB computes identically (data-dependent sample,
    // driver-collected: K rows, a broadcast dimension)
    val cents: Array[(Long, Array[Float])] = base
      .withColumn("skey", pmod($"vec_id" * lit(48271L), lit(2147483647L)))
      .orderBy($"skey", $"vec_id").limit(lists)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect()
    val bc = spark.sparkContext.broadcast(cents)

    val assigned = base.as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val cs = bc.value
        it.map { case (id, v) => (id, v, nearestLists(cs, v, 1).head._1) }
      }.toDF("vec_id", "embedding", "list_id")
      .withColumn("bn", norm($"embedding"))

    val probes = base.filter($"vec_id" < NQueries).as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val cs = bc.value
        it.flatMap { case (id, v) =>
          nearestLists(cs, v, NProbe).map { case (cid, _) => (id, v, cid) } }
      }.toDF("query_id", "qv", "list_id")
      .withColumn("qn", norm($"qv"))

    topKByCosine(assigned.join(broadcast(probes), Seq("list_id"))
      .filter($"vec_id" =!= $"query_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ann_brute" -> (bruteTopK _),
    "q_ann_lsh" -> (lshTopK _),
    "q_ann_ivf" -> (ivfTopK _))

  val oracle: Map[String, String] = Map(
    // full IVF twin: same deterministic centroid sample (arithmetic LCG
    // key), same rounded-cosine assignment with cid tie-break, same
    // NProbe probing — a HARD equality check on an ANN index structure
    "q_ann_ivf" ->
      s"""WITH cents AS (
        |  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
        |  ORDER BY (vec_id * 48271) % 2147483647, vec_id
        |  LIMIT least(65536, greatest(16, CAST(ceil(sqrt(CAST(
        |    (SELECT count(*) FROM embeddings) AS DOUBLE))) AS BIGINT)))
        |), assigned AS (
        |  SELECT vec_id, embedding, cid FROM (
        |    SELECT e.vec_id, e.embedding, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY round(list_cosine_similarity(c.cv,
        |          CAST(e.embedding AS DOUBLE[])), 6) DESC, c.cid ASC) AS rn
        |    FROM embeddings e CROSS JOIN cents c)
        |  WHERE rn = 1
        |), probes AS (
        |  SELECT query_id, qv, cid FROM (
        |    SELECT e.vec_id AS query_id, e.embedding AS qv, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY round(list_cosine_similarity(c.cv,
        |          CAST(e.embedding AS DOUBLE[])), 6) DESC, c.cid ASC) AS rn
        |    FROM embeddings e CROSS JOIN cents c WHERE e.vec_id < $NQueries)
        |  WHERE rn <= $NProbe
        |), scored AS (
        |  SELECT p.query_id, a.vec_id,
        |    round(list_cosine_similarity(CAST(p.qv AS DOUBLE[]),
        |      CAST(a.embedding AS DOUBLE[])), 6) AS cos
        |  FROM probes p JOIN assigned a USING (cid) WHERE a.vec_id <> p.query_id
        |)
        |SELECT query_id, rank, vec_id, cos FROM (
        |  SELECT query_id, vec_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC)
        |      AS rank
        |  FROM scored) WHERE rank <= $TopK""".stripMargin,
    // LSH twin over the exported bucket table: DuckDB independently
    // regenerates the Hamming-1 probe ring, the bucket equi-join, the
    // exact cosine, and the ranking — everything downstream of the bucket
    // kernel (which OpsSpec ground-truths against brute force)
    "q_ann_lsh" ->
      s"""WITH b AS (
        |  SELECT vec_id, bucket, bits
        |  FROM read_parquet('__EXPORT__/export_lsh_buckets/*.parquet')
        |), e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), probes AS (
        |  SELECT DISTINCT q.vec_id AS query_id, p.probe
        |  FROM b q, unnest(list_prepend(q.bucket,
        |    list_transform(generate_series(0, q.bits - 1),
        |      i -> xor(q.bucket, 1::BIGINT << i)))) AS p(probe)
        |  WHERE q.vec_id < $NQueries
        |), scored AS (
        |  SELECT p.query_id, c.vec_id,
        |    round(list_cosine_similarity(qe.v, ce.v), 6) AS cos
        |  FROM probes p
        |  JOIN b c ON c.bucket = p.probe AND c.vec_id <> p.query_id
        |  JOIN e qe ON qe.vec_id = p.query_id
        |  JOIN e ce ON ce.vec_id = c.vec_id
        |)
        |SELECT query_id, rank, vec_id, cos FROM (
        |  SELECT query_id, vec_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC)
        |      AS rank
        |  FROM scored) WHERE rank <= $TopK""".stripMargin,
    "q_ann_brute" ->
      s"""WITH q AS (
        |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < $NQueries
        |), scored AS (
        |  SELECT q.query_id, e.vec_id,
        |    round(list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
        |                                 CAST(e.embedding AS DOUBLE[])), 6) AS cos
        |  FROM embeddings e, q WHERE e.vec_id <> q.query_id
        |)
        |SELECT query_id, rank, vec_id, cos FROM (
        |  SELECT query_id, vec_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC)
        |      AS rank
        |  FROM scored) WHERE rank <= $TopK""".stripMargin)
}
