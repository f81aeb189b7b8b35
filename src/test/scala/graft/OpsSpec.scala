package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops.{AnnOps, DedupOps, Sigs, TextOps}

class OpsSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  // brute-force ground-truth near-dup pairs (exact shingle Jaccard) at sf0.001
  lazy val truePairs: Set[(Long, Long)] = {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val sh = docs.map { case (id, tx) => id -> Sigs.shingles(tx).toSet }.toMap
    (for {
      (a, i) <- docs.zipWithIndex; (b, j) <- docs.zipWithIndex if i < j
      inter = sh(a._1).intersect(sh(b._1)).size
      uni = sh(a._1).union(sh(b._1)).size
      if uni > 0 && inter.toDouble / uni >= 0.8
    } yield (math.min(a._1, b._1), math.max(a._1, b._1))).toSet
  }

  test("minhash LSH pair set EQUALS brute force at the threshold (recall 1.0)") {
    val got = DedupOps.minhashPairs(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truePairs.nonEmpty, "fixture should contain near-dups")
    // precision is exact by construction (verified with true Jaccard);
    // asserting EQUALITY (not a recall floor) is what licenses the
    // driver's brute-force DuckDB twin as a hard oracle row
    assert(got == truePairs,
      s"missed: ${truePairs -- got}; extra: ${got -- truePairs}")
  }

  test("simhash pair set EQUALS brute-force Hamming<=3 (pigeonhole recall)") {
    // ground truth: driver-side simhash of every doc, all-pairs distance
    val sims = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, tx) => id -> Sigs.simhash(tx) }
    val brute = (for {
      (a, sa) <- sims; (b, sb) <- sims if a < b
      if java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (a, b)).toSet
    val got = DedupOps.simhashDedup(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "fixture should contain simhash-close pairs")
    // maxDist 3 < 4 bands: 3 bit errors cannot touch all four 16-bit
    // bands, so banding recall is guaranteed — equality, not a bound
    assert(got == brute, s"missed: ${brute -- got}; extra: ${got -- brute}")
  }

  test("ngram jaccard within prefix blocks equals brute-force within blocks") {
    val got = DedupOps.ngramJaccard(spark, sf0001, threshold = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // prefix-blocked exact search is a subset of global brute force
    assert(got.subsetOf(truePairs))
    assert(got.nonEmpty)
  }

  test("embedding near-dup pair set EQUALS brute-force cosine at the threshold") {
    // ground truth: the same derived table (originals + planted perturbed
    // copies) brute-forced driver-side
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    val derived: Seq[(Long, Seq[Double])] =
      emb.toSeq.map { case (id, v) => (id, v.map(_.toDouble)) } ++
        emb.toSeq.collect { case (id, v) if id % 2 == 0 =>
          (id + DedupOps.NearDupIdOffset, v.map(_.toDouble * 2.0).toSeq)
        }
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i => d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val brute = (for {
      (a, va) <- derived; (b, vb) <- derived if a < b
      if cos(va, vb) >= 0.9
    } yield (a, b)).toSet
    val got = DedupOps.embeddingNearDup(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "derivation must plant near-dup pairs")
    // candidate recall is GUARANTEED (×2 scaling is IEEE-exact, so the
    // copy shares the original's sign-LSH bucket) — equality licenses the
    // driver's brute-force twin
    assert(got == brute, s"missed: ${brute -- got}; extra: ${got -- brute}")
  }

  test("ann lsh results are a subset of brute-force candidates with decent recall@10") {
    val brute = AnnOps.bruteTopK(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val lsh = AnnOps.lshTopK(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    assert(lsh.nonEmpty)
    // every LSH hit is a real vector; recall is approximate by design —
    // random data + 6-bit buckets gives weak recall, assert it's nonzero
    // and report (the scale path trades recall for a 2^6 scan reduction)
    val recalls = brute.keys.toSeq.map { q =>
      val b = brute(q); val l = lsh.getOrElse(q, Set.empty)
      b.intersect(l).size.toDouble / b.size
    }
    val mean = recalls.sum / recalls.size
    info(f"ann lsh mean recall@10 = $mean%.2f")
    assert(mean > 0.05)
  }

  test("ann ivf probes its nearest lists and beats single-bucket recall expectations") {
    val brute = AnnOps.bruteTopK(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val ivf = AnnOps.ivfTopK(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    assert(ivf.nonEmpty)
    val recalls = brute.keys.toSeq.map { q =>
      val b = brute(q); val l = ivf.getOrElse(q, Set.empty)
      b.intersect(l).size.toDouble / b.size
    }
    val mean = recalls.sum / recalls.size
    info(f"ann ivf mean recall@10 = $mean%.2f")
    // 4-probe IVF over ceil(√500)=23 sampled lists scans ~17% of the
    // table — recall should comfortably beat that fraction on structured
    // neighborhoods
    assert(mean > 0.15)
  }

  test("ivf adaptive list count is √n-shaped, floored and capped") {
    assert(AnnOps.adaptiveNLists(0) == 16)
    assert(AnnOps.adaptiveNLists(256) == 16)
    assert(AnnOps.adaptiveNLists(500) == 23) // ceil(√500) — matches the oracle SQL
    assert(AnnOps.adaptiveNLists(1000000) == 1000)
    // 10^10 vectors: √n = 100k exceeds the broadcast cap → 65536 lists,
    // NOT the 39M that round 2's linear n/256 sizing would have collected
    assert(AnnOps.adaptiveNLists(10000000000L) == 65536)
  }

  test("rolling k-gram hashes equal direct per-substring hashes") {
    val texts = Seq("the quick brown fox jumps over the lazy dog",
      "aaaaaaaaaaaaaaa", "ab", "")
    texts.foreach { s =>
      val k = 8
      val rolled = Sigs.rollingKgramHashes(s, k)
      if (s.length < k) assert(rolled.length == 1)
      else (0 to s.length - k).foreach { i =>
        assert(rolled(i) ==
          graft.synth.World.mix64(Sigs.polyHash(s, i, i + k)),
          s"pos $i of '$s'")
      }
    }
  }

  test("winnowing guarantees shared fingerprints for shared runs; finds the true near-dups") {
    // winnowing theorem: any shared substring of length >= w+k-1 yields a
    // shared fingerprint
    val a = "x" * 5 + "the festival director premiere archive sequence" + "y" * 5
    val b = "p" * 9 + "the festival director premiere archive sequence" + "q" * 9
    val fa = Sigs.winnow(a, 24, 16).toSet
    val fb = Sigs.winnow(b, 24, 16).toSet
    assert(fa.intersect(fb).nonEmpty)

    val got = DedupOps.winnowPairs(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // candidates (>=1 shared df-capped print) + exact Jaccard verify
    // must equal brute force at the threshold — the driver's hard row
    assert(got == truePairs,
      s"missed: ${truePairs -- got}; extra: ${got -- truePairs}")
  }

  test("winnow df cap prunes boilerplate without losing true near-dups") {
    // 50 docs sharing one boilerplate sentence (plus unique filler) would
    // flood the fingerprint self-join quadratically; one true near-dup
    // pair must still be found after the cap drops the shared prints
    val boiler = "all models are wrong but some models are useful in practice"
    val docs = (0 until 50).map { i =>
      val unique = (0 until 30).map(j => s"w${i}_$j").mkString(" ")
      (i.toLong, s"$unique $boiler")
    } ++ Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again today"),
      (101L, "the quick brown fox jumps over the lazy dog again and again tonight"))
    val dir = java.nio.file.Files.createTempDirectory("winnow-cap").toFile
    try {
      docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
      // the cap is genuinely exercised: the boilerplate prints have df=50
      val dfByFp = docs.flatMap { case (id, tx) =>
        Sigs.winnow(tx, 24, 16).map(fp => (fp, id)) }
        .groupBy(_._1).map { case (_, xs) => xs.map(_._2).distinct.size }
      assert(dfByFp.exists(_ >= 50), "fixture must contain df-50 boilerplate prints")
      val got = DedupOps.winnowPairs(spark, dir.toString, maxDf = 8).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((100L, 101L)),
        s"expected only the true near-dup pair, got $got")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("ngram blocking-key df cap prunes boilerplate prefixes") {
    // 50 docs share one 20-char boilerplate prefix with unique tails — an
    // uncapped prefix block self-joins into 50·49/2 candidate pairs; the
    // df cap drops the block entirely (a boilerplate prefix is not
    // near-dup evidence, the MOSS argument). A true near-dup pair in a
    // small (df=2) block must still be found.
    val boiler = "breaking news today " // exactly 20 chars
    assert(boiler.length == 20)
    val docs = (0 until 50).map { i =>
      val unique = (0 until 30).map(j => s"w${i}_$j").mkString(" ")
      (i.toLong, s"$boiler$unique")
    } ++ Seq(
      (100L, "shared prefix pair x the quick brown fox jumps over the lazy dog again today"),
      (101L, "shared prefix pair x the quick brown fox jumps over the lazy dog again tonight"))
    val dir = java.nio.file.Files.createTempDirectory("ngram-cap").toFile
    try {
      docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
      val got = DedupOps.ngramJaccard(spark, dir.toString, threshold = 0.5, maxDf = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((100L, 101L)),
        s"expected only the small-block near-dup pair, got $got")
      // sanity that the cap is what prevented the blowup: uncapped, the
      // boilerplate block really does emit its quadratic candidate set
      val uncapped = DedupOps.ngramJaccard(spark, dir.toString, threshold = 0.0,
        maxDf = 1000).count()
      assert(uncapped >= 50L * 49 / 2)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("pair operators release their signature caches (no persist leak)") {
    // the verified pair set detaches from its cached lineage, so each
    // invocation must leave the session's persistent-RDD set unchanged —
    // a long-lived session runs many queries, and a leak per invocation
    // accumulates for the session lifetime
    val before = spark.sparkContext.getPersistentRDDs.keySet
    DedupOps.minhashPairs(spark, sf0001).count()
    DedupOps.simhashDedup(spark, sf0001).count()
    DedupOps.ngramJaccard(spark, sf0001).count()
    DedupOps.winnowPairs(spark, sf0001).count()
    DedupOps.embeddingNearDup(spark, sf0001).count()
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(after.subsetOf(before),
      s"leaked cached RDDs: ${after -- before}")
  }

  test("shingle hashing is injective corpus-wide (r6 hash-set Jaccard)") {
    // Jaccard over Sigs.shingleHashes equals Jaccard over the string
    // shingle sets iff hashStr is injective on the corpus' shingles; pin
    // it at the largest local SF so the swap can never silently change a
    // pair's jaccard (the string-based brute-force tests and the DuckDB
    // oracles re-assert the same thing end-to-end)
    for (sf <- Seq(sf0001, "/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val texts = spark.read.parquet(s"$sf/documents.parquet")
        .select($"text").as[String].collect()
      val strings = scala.collection.mutable.HashSet.empty[String]
      val hashes = scala.collection.mutable.HashSet.empty[Long]
      texts.foreach { tx =>
        Sigs.shingles(tx).foreach(strings += _)
        Sigs.shingleHashes(tx).foreach(hashes += _)
      }
      assert(strings.size == hashes.size,
        s"$sf: ${strings.size} distinct shingles vs ${hashes.size} hashes")
    }
  }

  test("native codegen dot product is BIT-identical to the HOF form (r6)") {
    // float arrays (the ANN base tables)
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val qf = emb.filter($"vec_id" < 4)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    val pairsF = emb.crossJoin(qf)
      .select(
        AnnOps.dot($"embedding", $"qv").as("native"),
        AnnOps.dotHof($"embedding", $"qv").as("hof"))
      .collect()
    assert(pairsF.nonEmpty)
    pairsF.foreach { r =>
      // bit-identical, not approximately equal: same fold order, same
      // float->double widening
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
    }
    // double arrays (the derived near-dup table) + the norm path
    val dd = DedupOps.nearDupDerived(spark, sf0001).limit(64)
      .select(
        AnnOps.dot($"v", $"v").as("native"),
        AnnOps.dotHof($"v", $"v").as("hof"))
      .collect()
    dd.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
    }
    // null semantics mirror the HOF form: mismatched lengths -> null
    val odd = Seq((Seq(1.0f, 2.0f), Seq(1.0f)), (null, Seq(1.0f)))
      .toDF("a", "b")
      .select(AnnOps.dot($"a", $"b").as("native"),
        AnnOps.dotHof($"a", $"b").as("hof"))
      .collect()
    odd.foreach(r => assert(r.isNullAt(0) && r.isNullAt(1)))
  }

  test("exact dedup groups partition the table") {
    val df = DedupOps.exactDedup(spark, sf0001)
    val total = df.agg(sum($"group_size")).head.getLong(0)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").count()
    assert(total == docs)
  }

  test("token counts are positive and bpe >= whitespace tokens") {
    val df = TextOps.tokenCount(spark, sf0001)
    assert(df.filter($"n_tokens" <= 0).count() == 0)
    assert(df.filter($"n_bpe_segments" < $"n_tokens").count() == 0)
  }

  test("lang id is deterministic and non-null") {
    val df = TextOps.langId(spark, sf0001)
    assert(df.filter($"lang_pred".isNull).count() == 0)
    val a = df.orderBy("doc_id").collect().toSeq
    val b = TextOps.langId(spark, sf0001).orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  test("quality score within [0,1]") {
    val df = TextOps.qualityScore(spark, sf0001)
    assert(df.filter($"quality" < 0 || $"quality" > 1).count() == 0)
  }

  test("multimodal decode is deterministic, typed, and complete") {
    val a = graft.ops.MultimodalOps.decodeFeatures(spark, sf0001)
      .orderBy("media_id").collect().toSeq
    val b = graft.ops.MultimodalOps.decodeFeatures(spark, sf0001)
      .orderBy("media_id").collect().toSeq
    assert(a == b && a.nonEmpty)
    a.foreach { r =>
      // features are emitted as a JSON scalar (driver-comparable); still
      // must carry exactly 16 dims
      assert(r.getString(6).split(",").length == 16)
      assert(Set("image", "audio", "video").contains(r.getString(1)))
    }
  }

  test("adaptive sign-LSH width scales with table size") {
    // small tables keep the 64-bucket floor (test behavior unchanged)...
    assert(AnnOps.adaptiveNBits(0) == 6)
    assert(AnnOps.adaptiveNBits(1000) == 6)
    // ...large tables grow the hash so buckets stay ~targetBucketSize:
    // 10^10 rows / 256 ≈ 3.9e7 buckets → 26 bits, NOT 64 fixed buckets
    assert(AnnOps.adaptiveNBits(10000000000L) == 26)
    assert(AnnOps.adaptiveNBits(Long.MaxValue / 2) == 48) // capped
  }

  test("retry boundary: exactly maxRetries transients then 200 still succeeds (C4)") {
    // find world points for each side of the boundary
    var sawBudgetSuccess = false
    var sawExhausted = false
    (0 until 4000).foreach { i =>
      val plan = graft.synth.World.pagePlan(42L, s"Q$i", "en", "T", "movie")
      if (plan.httpStatus == 200 && plan.transientFailures == 3) {
        val p = graft.crawl.Fetcher.fetchParse(42L, s"Q$i", "en", "T", "movie", "u", "h")
        assert(p.result.success, "3 transients within the budget must succeed")
        sawBudgetSuccess = true
      }
      if (plan.transientFailures > 3) {
        val p = graft.crawl.Fetcher.fetchParse(42L, s"Q$i", "en", "T", "movie", "u", "h")
        assert(!p.result.success && p.result.httpStatus == 503)
        sawExhausted = true
      }
    }
    assert(sawBudgetSuccess && sawExhausted, "world must exercise both sides")
  }

  test("frame sampling respects stride and cap") {
    val df = graft.ops.MultimodalOps.frameSample(spark, sf0001, everyNth = 24, cap = 16)
    assert(df.filter($"frame_idx" % 24 =!= 0).count() == 0)
    val perMedia = df.groupBy("media_id").count()
    assert(perMedia.filter($"count" > 16).count() == 0)
  }
}
