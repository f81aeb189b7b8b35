package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.FormattedMode

/** Plan-quality regression: the structural properties we design for must
  * survive refactors — filters/projections reach the parquet scan,
  * dimension joins broadcast, top-k avoids a global sort, rank-limit
  * windows push the limit below the shuffle. */
class PlanSpec extends AnyFunSuite {
  import SparkTestSession._

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf0001)
      .queryExecution.explainString(FormattedMode)

  test("range-resume predicate is pushed to the parquet scan") {
    val p = plan("q_range_resume")
    assert(p.contains("PushedFilters"))
    assert(p.contains("GreaterThanOrEqual(o_orderkey,1000)"), p)
  }

  test("projection pruning: q_token_count reads only 2 columns") {
    val p = plan("q_token_count")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("exclusion anti-join is a broadcast hash join with pushed filter") {
    val p = plan("q_anti_join_exclusion")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    assert(p.contains("GreaterThan(o_totalprice,400000.0)"), p)
  }

  test("backfill join broadcasts the aggregated side") {
    val p = plan("q_backfill_join")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftOuter"), p)
  }

  test("top-k plans as TakeOrderedAndProject (no global sort)") {
    val p = plan("q_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("media decode is map-only: no exchange touches the binary payloads") {
    val p = plan("q_media_decode")
    assert(!p.contains("Exchange"),
      s"decode must not shuffle the bytes column:\n$p")
  }

  test("minhash verify joins reuse the persisted signature table") {
    // every near-dup operator computes its per-doc kernel once and caches
    // it; the key self-join and the verify sides read the
    // InMemoryRelation, not the raw scan. Asserted on the PRE-detach plan:
    // the public result is deliberately a detached local relation (caches
    // released — see the OpsSpec no-persist-leak test), so the join plan
    // is inspected via the package-private `xPlan` hooks.
    import graft.ops.DedupOps._
    val hooks = Seq(
      "q_minhash_dedup" -> (() => minhashPairsPlan(spark, sf0001)),
      "q_simhash_dedup" -> (() => simhashDedupPlan(spark, sf0001)),
      "q_ngram_jaccard" -> (() => ngramJaccardPlan(spark, sf0001, 0.5, 32)),
      "q_winnow_dedup" -> (() => winnowPairsPlan(spark, sf0001, 32)),
      "q_embedding_neardup" -> (() => embeddingNearDupPlan(spark, sf0001)))
    for ((name, hook) <- hooks) {
      val pairs = hook()
      try {
        val p = pairs.plan.queryExecution.explainString(FormattedMode)
        assert(p.contains("InMemoryRelation"),
          s"$name: kernel table must be persisted:\n$p")
      } finally pairs.caches.foreach(_.unpersist())
      // and the public result IS detached: a local relation, no lineage
      val pub = plan(name)
      assert(pub.contains("LocalTableScan"), s"$name: expected detached result:\n$pub")
    }
  }

  test("precedence dedup is a partial-aggregated min, not a window") {
    // r6: keep-first rewritten as min(struct(...)) — partial aggregation
    // below the exchange (struct min/max buffers plan as SortAggregate;
    // the partial side still collapses each map partition to ≤|keys| rows
    // before the shuffle), no Window machinery anywhere
    val p = plan("q_precedence_dedup")
    assert("Aggregate".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("Window"), s"expected no window:\n$p")
  }

  test("keep-latest is a partial-aggregated max, not a window") {
    val p = plan("q_keep_latest")
    assert("Aggregate".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("Window"), s"expected no window:\n$p")
  }

  test("keys-only merged view is a partial-aggregated max, not a window") {
    val p = plan("q_merge_latest")
    assert("Aggregate".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("Window"), s"expected no window:\n$p")
  }

  test("q1_agg does partial aggregation before its single exchange") {
    val p = plan("q1_agg")
    // partial + final HashAggregate pair around exactly one shuffle
    assert("HashAggregate".r.findAllIn(p.split("\n").filter(_.contains("(")).mkString).size >= 2)
    assert(p.contains("Exchange"), p)
  }

  test("union precedence resolves on a single key exchange") {
    // three filtered scans union map-side; the only shuffle is the
    // precedence window's hash(o_custkey) exchange
    val p = plan("q_union_precedence")
    val exchanges = p.linesIterator.count(_.matches("""\(\d+\) Exchange\s*"""))
    assert(exchanges == 1, s"expected ONE exchange, got $exchanges:\n$p")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("const source broadcasts the literal relation") {
    val p = plan("q_const_source")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the one-row literal must be the broadcast side:\n$p")
  }

  test("chunk upsert aggregates on the window's bucket exchange") {
    // the groupBy(bucket, chunk_id) keys are clustered by the window's
    // hash(bucket) exchange (subset rule) — no second shuffle
    val p = plan("q_chunk_upsert")
    val exchanges = p.linesIterator.count(_.matches("""\(\d+\) Exchange\s*"""))
    assert(exchanges == 1, s"expected ONE exchange, got $exchanges:\n$p")
  }

  test("sessionize rides one user_id exchange end to end") {
    // lag window, running-sum window, and groupBy(user_id, session_id)
    // all cluster by user_id — one exchange, no re-shuffles between them
    val p = plan("q_sessionize")
    val exchanges = p.linesIterator.count(_.matches("""\(\d+\) Exchange\s*"""))
    assert(exchanges == 1, s"expected ONE exchange, got $exchanges:\n$p")
  }

  test("delta merge shuffles only the delta: full-outer SMJ, one exchange") {
    // the bucketed gens-0..2 base side is exchange-free; the single
    // exchange is generation 3 shuffling into the base's buckets
    val p = plan("q_delta_merge")
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"), p)
    val exchanges = p.linesIterator.count(_.matches("""\(\d+\) Exchange\s*"""))
    assert(exchanges == 1, s"expected ONE exchange (the delta), got $exchanges:\n$p")
  }

  test("replace-set resolves three generation legs on one doc_id exchange") {
    // the union of generation legs is narrow; the keep-latest window's
    // hash(doc_id) exchange is the ONLY shuffle — posexplode stays local
    val p = plan("q_replace_set")
    val exchanges = p.linesIterator.count(_.matches("""\(\d+\) Exchange\s*"""))
    assert(exchanges == 1, s"expected ONE exchange, got $exchanges:\n$p")
    assert(p.contains("Union"), p)
  }

  // ---- crawl candidate/batch plan shape (the round-3 scaling work) --------

  private lazy val crawlBatchPlan: String = {
    import graft.crawl.Crawl
    val cfg = Crawl.CrawlConfig(seed = 42L, nEntities = 200L,
      budgetPerHost = 64, saltBuckets = 4, maxTicks = 1, workDir = "")
    // AQE off, as Crawl.run sets it for the crawl job — the assertions
    // below are about the static plan
    val before = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try Crawl.selectBatch(Crawl.candidateUnits(spark, cfg),
      cfg.budgetPerHost, cfg.saltBuckets)
      .queryExecution.explainString(FormattedMode)
    finally spark.conf.set("spark.sql.adaptive.enabled", before)
  }

  test("sitelink join is a co-partitioned sort-merge join, not a broadcast") {
    val p = crawlBatchPlan
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("BroadcastHashJoin Inner"),
      s"sitelink lookup must not serialize a driver broadcast build:\n$p")
  }

  test("url-dedup and politeness windows share one (host, salt) exchange") {
    val p = crawlBatchPlan
    // exactly one hashpartitioning exchange carrying both host and salt:
    // the url-dedup window's explicit repartition; the politeness window
    // reuses it (subset rule) and adds only a sort
    val hostSaltExchanges = p.linesIterator
      .filter(l => l.contains("hashpartitioning") && l.contains("host")
        && l.contains("salt")).size
    assert(hostSaltExchanges == 1,
      s"expected ONE (host, salt) exchange shared by both windows, got $hostSaltExchanges:\n$p")
  }

  test("ticks after the first schedule from the stored candidate table") {
    import graft.crawl.Crawl
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-cands").toFile
    val cfg = Crawl.CrawlConfig(seed = 42L, nEntities = 200L,
      budgetPerHost = 16, saltBuckets = 4, maxTicks = 2, workDir = dir.getPath)
    // the synthesis plan is what a later tick must no longer contain
    assert(crawlBatchPlan.contains("MapPartitions"), crawlBatchPlan)
    val before = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try {
      // two ticks: the table is written after tick 0, and tick 1 leaves seen
      // state behind, so filterNew plans its Bloom probe + anti-join
      assert(Crawl.run(spark, cfg).length == 2)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val stored = Crawl.storedCandidates(spark, cfg)
      val p = Crawl.selectBatch(Crawl.filterNew(spark, stored, cfg),
        cfg.budgetPerHost, cfg.saltBuckets)
        .queryExecution.explainString(FormattedMode)
      assert(p.contains("Scan parquet") && p.contains("/candidates]"), p)
      assert(p.contains("LeftAnti"), p)
      assert(!p.contains("SortMergeJoin"), p)
      assert(!p.contains("Generate") && !p.contains("MapPartitions"),
        s"the world generator must not run again:\n$p")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", before)
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
    }
  }
}
