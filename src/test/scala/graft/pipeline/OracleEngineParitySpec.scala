package graft.pipeline

import graft.{SparkTestSession, StoreCopy}
import graft.oracle.SequentialOracle
import graft.synth.WebConfig
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}

/** The BASELINE.json completeness criteria, verbatim: same seed list +
  * politeness budget ⇒ engine crawl order == oracle order, URL-seen set
  * equality, per-row span-sequence equality on (kind, text, media_ref,
  * order) — plus resume equivalence and partition-count stability.
  */
class OracleEngineParitySpec extends AnyFunSuite {

  val cfg = WebConfig(seed = 42, nHosts = 50, resultsPerPage = 8, pages = 1)
  val seeds: Seq[String] = (1 to 12).map(i => s"singapore topic $i query") ++ Seq("", "  ")
  val batchSize = 5

  lazy val oracle: SequentialOracle.OracleResult =
    SequentialOracle.run(cfg, seeds, batchSize)

  private def newEngine(dir: String): CrawlEngine =
    new CrawlEngine(SparkTestSession.spark, cfg, dir, batchSize)

  private def tempDir(tag: String): String =
    Files.createTempDirectory(s"graft-$tag").toString

  test("end-to-end: URL-seen set, crawl order, span sequences, counters match the oracle") {
    val dir = tempDir("e2e")
    val eng = newEngine(dir)
    val rounds = eng.run(seeds)
    assert(rounds == 3) // ceil(12/5)

    // URL-seen set equality
    assert(eng.seenSet() == oracle.seen)

    // crawl order equality (fetch schedule)
    assert(eng.crawlOrder() == oracle.crawlOrder)

    // span-sequence equality per doc on (kind, text, media_ref, order)
    val engDocs = eng.docs().map(d => d.doc_id -> d).toMap
    val oraDocs = oracle.docs.map(d => d.doc_id -> d).toMap
    assert(engDocs.keySet == oraDocs.keySet)
    oraDocs.foreach { case (id, od) =>
      val ed = engDocs(id)
      assert(ed.spans == od.spans, s"span mismatch for ${od.page_url}")
      assert(ed.page_title == od.page_title && ed.page_summary == od.page_summary)
    }
    assert(oraDocs.nonEmpty, "fixture must actually produce documents")
    assert(oraDocs.values.exists(_.spans.exists(_.kind == "image")),
      "fixture must produce interleaved image spans")

    // pdf + counters
    val spark = SparkTestSession.spark
    import spark.implicits._
    val engPdfs = eng.pdfT.read(spark).map(_.select("url").as[String].collect().toSet).getOrElse(Set.empty)
    assert(engPdfs == oracle.pdfUrls.toSet)
    val m = eng.metricsT.read(spark).get.as[(String, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    assert(m("added") == oracle.counters("added"))
    assert(m("skipped") == oracle.counters("skipped"))
    assert(m("docs") == oracle.counters("fetched"))
    assert(m("robots_blocked") == oracle.counters("robots_blocked"))

    // processed queries: all non-blank seeds, checkpointed
    val processed = eng.processedQueries()
    assert(processed == oracle.processedQueries.toSet)

    // per-partition lineage sums to the generation totals
    import org.apache.spark.sql.functions.sum
    val pm = eng.partitionMetricsT.read(spark).get
    assert(pm.agg(sum("docs")).as[Long].head() == oracle.counters("fetched"))
    assert(pm.agg(sum("spans")).as[Long].head() ==
      oracle.docs.iterator.map(_.spans.size.toLong).sum)

    // images table equals the reference images_metadata records (multiset)
    val engImages = eng.imagesT.read(spark).get
      .as[graft.oracle.SequentialOracle.OracleImage].collect()
      .groupBy(identity).view.mapValues(_.length).toMap
    val oraImages = oracle.images.groupBy(identity).view.mapValues(_.length).toMap
    assert(engImages == oraImages)
    assert(oraImages.nonEmpty, "fixture must produce image records")
  }

  test("zero byte budget: no gated broadcast, retired tier tables never written, parity holds") {
    // tierBroadcastBytes=1 turns every gated broadcast off; the exact
    // anti-join decides membership on its own, so the seen set stays
    // oracle-equal, and neither retired tier table is ever written
    val dir = tempDir("overbudget")
    val eng = new CrawlEngine(SparkTestSession.spark, cfg, dir, batchSize,
      tierBroadcastBytes = 1L)
    eng.run(seeds)
    assert(eng.seenSet() == oracle.seen)
    assert(eng.crawlOrder() == oracle.crawlOrder)
    assert(eng.cuckooT.currentSnapshot.isEmpty, "no generation may write the retired cuckoo tier")
    assert(eng.bloomT.currentSnapshot.isEmpty, "no generation may write the retired bloom tier")
  }

  test("a store written with host_state.n_scheduled and cuckoo_tier rows resumes to oracle parity") {
    // the shape an engine that still kept the cuckoo hot-host tier left
    // behind: host_state carried a per-host n_scheduled count and
    // cuckoo_tier held per-host filters (here one EMPTY filter claiming
    // exact negatives for the busiest host). An engine that kept the Bloom
    // tier left bloom_tier behind; here an ALL-ZERO filter per bucket,
    // with capacity/num_blocks counters big enough that such an engine
    // would trust it, not rebuild it — it claims every url is new. The
    // engine must read past all three: the extra column is projected away
    // and neither tier is ever read. A 3-host web with expansion on makes
    // later generations meet urls generation 1 already saw, on every
    // not-in-seen path (search hits, frontier picks, discoveries)
    val spark = SparkTestSession.spark
    import spark.implicits._
    val denseCfg = WebConfig(seed = 42, nHosts = 3, resultsPerPage = 20, pages = 1)
    val oracleDense = SequentialOracle.run(denseCfg, seeds, batchSize, expandTopK = 3)
    val dir = tempDir("oldstore")
    val eng1 = new CrawlEngine(spark, denseCfg, dir, batchSize, expandTopK = 3)
    assert(eng1.run(seeds, maxRounds = 1) == 1)
    val seenPerHost = eng1.seenT.read(spark).get.groupBy($"host").count()
    val oldState = eng1.hostStateT.read(spark).get.select($"host", $"next_free_ms")
      .join(seenPerHost, Seq("host"), "left")
      .na.fill(0L, Seq("count")).withColumnRenamed("count", "n_scheduled")
    eng1.hostStateT.replace(oldState, 1)
    val host = oldState.orderBy($"n_scheduled".desc, $"host").select($"host").as[String].head()
    val cf = graft.operators.CuckooFilter.sized(1024)
    eng1.cuckooT.replace(Seq((host, cf.toBytes, true)).toDF("host", "cf", "cf_exact"), 1)
    // the retired tier's serialized filter: [k = 7][nb 64-byte blocks, all zero]
    val (bloomBuckets, capacity) = (32, 1L << 20)
    val nb = (capacity / bloomBuckets * 12 + 511) / 512
    val zeroBits = 7.toByte +: new Array[Byte](nb.toInt * 64)
    eng1.bloomT.replace((0 until bloomBuckets).map(b => (b, zeroBits)).toDF("bucket", "bits"), 1,
      Map("capacity" -> capacity, "num_blocks" -> nb))

    val eng2 = new CrawlEngine(spark, denseCfg, dir, batchSize, expandTopK = 3)
    assert(eng2.hostStateT.read(spark).get.columns.contains("n_scheduled"))
    eng2.run(seeds)
    assert(eng2.seenSet() == oracleDense.seen)
    assert(eng2.crawlOrder() == oracleDense.crawlOrder)
  }

  test("a legacy seen table (a plain commit, then bucketed ones) heals on resume to oracle parity") {
    // the layout a store written before seen was bucketed leaves behind:
    // generation 1's seen rows split over one PLAIN commit dir followed by
    // two bucketed ones. Such a table has no single bucket spec, so run()
    // must rewrite it bucketed once before any not-in-seen check reads it
    val spark = SparkTestSession.spark
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    val dir = tempDir("legacy-seen")
    val eng1 = newEngine(dir)
    assert(eng1.run(seeds, maxRounds = 1) == 1)
    val gen1 = eng1.seenT.read(spark).get
    val seenBefore = eng1.seenSet()
    val (n, _) = eng1.seenT.bucketSpec.get
    def third(k: Int) = gen1.filter(pmod(xxhash64(col("href")), lit(3)) === k)
    eng1.seenT.replace(third(0), 1)
    eng1.seenT.appendBucketed(third(1), 1, n, "href")
    eng1.seenT.appendBucketed(third(2), 1, n, "href")
    assert(eng1.seenT.bucketSpec.isEmpty && eng1.seenT.commitDirCount == 3,
      "fixture must be a plain dir followed by bucketed ones")
    assert(eng1.seenSet() == seenBefore)
    val eng2 = newEngine(dir)
    eng2.run(seeds)
    assert(eng2.seenT.bucketSpec.contains((n, "href")), "resume must heal seen to one bucket spec")
    assert(eng2.seenSet() == oracle.seen)
    assert(eng2.crawlOrder() == oracle.crawlOrder)
  }

  test("runtime semi-filter on the seen side (forced on): parity holds") {
    // seenSemiFilterRows=1 forces the maybe-bloom reduction of the anti-
    // join's seen side in every generation after the first — the seen set
    // and crawl order must be unchanged (the filter only sheds rows the
    // exact join would not match anyway; FPs shuffle, never drop)
    val dir = tempDir("semifilter")
    val eng = new CrawlEngine(SparkTestSession.spark, cfg, dir, batchSize,
      seenSemiFilterRows = 1L)
    eng.run(seeds)
    assert(eng.seenSet() == oracle.seen)
    assert(eng.crawlOrder() == oracle.crawlOrder)
  }

  test("over-budget host tables + expansion: gated broadcasts fall back to plain joins, parity holds") {
    // tierBroadcastBytes=1 forces EVERY gated broadcast off — the host
    // profiles on the schedule and expansion paths, and host_state — onto
    // plain key joins; results must be oracle-identical (gates route the
    // plan, never decide membership)
    val oracleExp = SequentialOracle.run(cfg, seeds, batchSize, expandTopK = 3)
    val eng = new CrawlEngine(SparkTestSession.spark, cfg, tempDir("hostgate"),
      batchSize, tierBroadcastBytes = 1L, expandTopK = 3)
    eng.run(seeds)
    assert(eng.seenSet() == oracleExp.seen)
    assert(eng.crawlOrder() == oracleExp.crawlOrder)
  }

  test("forced semi-filter + expansion: frontier/discovery anti-joins stay oracle-equal") {
    // seenSemiFilterRows=1 forces the maybe-bloom reduction inside
    // antiJoinSeen for BOTH the pick path and the discovery path from the
    // first generation with a seen table
    val oracleExp = SequentialOracle.run(cfg, seeds, batchSize, expandTopK = 3)
    val eng = new CrawlEngine(SparkTestSession.spark, cfg, tempDir("semiexp"),
      batchSize, seenSemiFilterRows = 1L, expandTopK = 3)
    eng.run(seeds)
    assert(eng.seenSet() == oracleExp.seen)
    assert(eng.crawlOrder() == oracleExp.crawlOrder)
    assert(eng.docs().map(d => d.doc_id -> d.spans).toMap ==
      oracleExp.docs.map(d => d.doc_id -> d.spans).toMap)
  }

  test("maintain after a crash mid-generation: fold sees only committed state, resume stays oracle-equal") {
    // regression: foldFrontier used to read the UNCOMMITTED seen delta of a
    // crashed generation and stamp the folded frontier with the committed
    // generation — the aborted generation's picks then survived rollback in
    // neither seen nor the frontier. maintain() must roll back first.
    val oracleExp = SequentialOracle.run(cfg, seeds, batchSize, expandTopK = 3)
    val dir = tempDir("maintain-crash")
    val eng1 = new CrawlEngine(SparkTestSession.spark, cfg, dir, batchSize, expandTopK = 3)
    eng1.run(seeds, maxRounds = 1)
    // simulate a crash: partial generation-2 commits (seen delta + frontier
    // append) that never reached the processed_queries barrier
    val spark = SparkTestSession.spark
    import spark.implicits._
    eng1.seenT.append(Seq(("https://junk.example/x", "junk.example")).toDF("href", "host"), 2)
    eng1.frontierT.append(Seq(("https://junk.example/y", "junk.example", 0.5, 2))
      .toDF("url", "host", "score", "discovered_gen"), 2)
    // maintenance BETWEEN runs, on the crashed store
    val eng2 = new CrawlEngine(spark, cfg, dir, batchSize, expandTopK = 3)
    eng2.maintain()
    assert(!eng2.seenSet().contains("https://junk.example/x"),
      "maintain must discard the unbarriered partial generation")
    val eng3 = new CrawlEngine(spark, cfg, dir, batchSize, expandTopK = 3)
    eng3.run(seeds)
    assert(eng3.seenSet() == oracleExp.seen)
    assert(eng3.crawlOrder() == oracleExp.crawlOrder)
  }

  test("auto-maintenance cadence: tiered seen compaction inside run(), parity + resume hold") {
    // batch 2 → 6 generations; cadence 2 → the tiered fold fires after
    // nearly every generation, so parity here pins that a mid-run fold
    // never perturbs dedup, ordering, or resume
    val batch2 = 2
    val oracle2 = SequentialOracle.run(cfg, seeds, batch2)
    val dir = tempDir("automaint")
    val eng = new CrawlEngine(SparkTestSession.spark, cfg, dir, batch2,
      autoMaintainSeenDirs = 2)
    eng.run(seeds)
    assert(eng.seenT.commitDirCount <= 2, "cadence must bound the chain length")
    assert(eng.seenSet() == oracle2.seen)
    assert(eng.crawlOrder() == oracle2.crawlOrder)
    // resume on the maintained store: nothing to do, state intact
    val engR = new CrawlEngine(SparkTestSession.spark, cfg, dir, batch2,
      autoMaintainSeenDirs = 2)
    assert(engR.run(seeds) == 0)
    assert(engR.seenSet() == oracle2.seen)
    // interrupt BETWEEN cadence ticks, then finish with a fresh engine
    val dir2 = tempDir("automaint-resume")
    new CrawlEngine(SparkTestSession.spark, cfg, dir2, batch2,
      autoMaintainSeenDirs = 2).run(seeds, maxRounds = 3)
    val engB = new CrawlEngine(SparkTestSession.spark, cfg, dir2, batch2,
      autoMaintainSeenDirs = 2)
    engB.run(seeds)
    assert(engB.seenSet() == oracle2.seen)
    assert(engB.crawlOrder() == oracle2.crawlOrder)
  }

  test("maintain (compact + vacuum) between runs: state identical, resume still a no-op") {
    val dir = tempDir("maintain")
    val eng = newEngine(dir)
    eng.run(seeds)
    val filesBefore = eng.seenT.currentSnapshot.get.files.size
    val report = eng.maintain(targetFileBytes = 1L << 30) // pack each table to 1 file
    assert(report.values.sum > 0, "vacuum must reclaim expired snapshot files")
    assert(eng.seenT.currentSnapshot.get.files.size <= filesBefore)
    // observable state unchanged by maintenance
    assert(eng.seenSet() == oracle.seen)
    assert(eng.crawlOrder() == oracle.crawlOrder)
    // resume on the maintained store: nothing to do, state intact
    val eng2 = newEngine(dir)
    assert(eng2.run(seeds) == 0)
    assert(eng2.seenSet() == oracle.seen)
  }

  test("resume with an active frontier: stop after generation 1, finish identically") {
    val oracleExp = SequentialOracle.run(cfg, seeds, batchSize, expandTopK = 3)
    val dir = tempDir("resume-exp")
    val eng1 = new CrawlEngine(SparkTestSession.spark, cfg, dir, batchSize, expandTopK = 3)
    eng1.run(seeds, maxRounds = 1)
    // simulate a crash: partial generation-2 commits (incl. a frontier
    // replace) that never reached the barrier must roll back on resume
    val spark = SparkTestSession.spark
    import spark.implicits._
    eng1.frontierT.replace(Seq(("https://junk.example/x", "junk.example", 0.5, 2))
      .toDF("url", "host", "score", "discovered_gen"), 2)
    val eng2 = new CrawlEngine(spark, cfg, dir, batchSize, expandTopK = 3)
    eng2.run(seeds)
    assert(eng2.seenSet() == oracleExp.seen)
    assert(eng2.crawlOrder() == oracleExp.crawlOrder)
    assert(eng2.docs().map(d => d.doc_id -> d.spans).toMap ==
      oracleExp.docs.map(d => d.doc_id -> d.spans).toMap)
  }

  test("parity holds on a different universe (seed/hosts/batch) with expansion") {
    val cfg2 = WebConfig(seed = 1234, nHosts = 23, resultsPerPage = 6, pages = 1)
    val seeds2 = (1 to 9).map(i => s"sg query $i")
    val ora2 = SequentialOracle.run(cfg2, seeds2, batchSize = 4, expandTopK = 2)
    val eng2 = new CrawlEngine(SparkTestSession.spark, cfg2, tempDir("alt"),
      batchSize = 4, saltShards = 2, expandTopK = 2)
    eng2.run(seeds2)
    assert(eng2.seenSet() == ora2.seen)
    assert(eng2.crawlOrder() == ora2.crawlOrder)
    assert(eng2.docs().map(d => d.doc_id -> d.spans).toMap ==
      ora2.docs.map(d => d.doc_id -> d.spans).toMap)
  }

  test("partition-count stability: same results at different shuffle parallelism") {
    val spark = SparkTestSession.spark
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val eng = newEngine(tempDir("p7"))
      eng.run(seeds)
      assert(eng.crawlOrder() == oracle.crawlOrder)
      assert(eng.seenSet() == oracle.seen)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("resume equivalence: stop after generation 1, new engine instance finishes identically") {
    val dir = tempDir("resume")
    val eng1 = newEngine(dir)
    eng1.run(seeds, maxRounds = 1)
    assert(eng1.lastCommittedGeneration == 1)
    // fresh instance (state read back from the store alone) resumes
    val eng2 = newEngine(dir)
    eng2.run(seeds)
    assert(eng2.seenSet() == oracle.seen)
    assert(eng2.crawlOrder() == oracle.crawlOrder)
    assert(eng2.docs().map(_.doc_id).toSet == oracle.docs.map(_.doc_id).toSet)
  }

  test("crash mid-generation: partial commits roll back to the barrier") {
    val dir = tempDir("crash")
    val eng = newEngine(dir)
    eng.run(seeds, maxRounds = 1)
    // simulate a crash AFTER some table commits of generation 2 but BEFORE
    // the processed_queries barrier: append junk to seen as generation 2
    val spark = SparkTestSession.spark
    import spark.implicits._
    eng.seenT.append(Seq(("https://junk.example/x", "junk.example")).toDF("href", "host"), 2)
    val eng2 = newEngine(dir)
    eng2.run(seeds)
    assert(eng2.seenSet() == oracle.seen, "rolled-back partial generation must not leak")
    assert(eng2.crawlOrder() == oracle.crawlOrder)
  }

  // commit-point sweeps: a two-generation crawl with expansion, so that
  // generation 2 reaches every commit point (the frontier append needs
  // expandTopK > 0). Generation 1 is crawled once; each point then fails
  // generation 2 in its own byte copy of that store.
  private val sweepSeeds = seeds.take(4)
  private val sweepBatch = 2
  private lazy val sweepOracle = SequentialOracle.run(cfg, sweepSeeds, sweepBatch, expandTopK = 1)
  private def sweepEngine(dir: String): CrawlEngine =
    new CrawlEngine(SparkTestSession.spark, cfg, dir, sweepBatch, expandTopK = 1)
  private lazy val sweepBase: Path = {
    val dir = tempDir("sweep-base")
    assert(sweepEngine(dir).run(sweepSeeds, maxRounds = 1) == 1)
    Paths.get(dir)
  }

  private def failCommitAndResume(table: String): Unit = failAndResume(table)

  /** Fail generation 2's commit to `table` by planting a directory at its
    * next manifest path: run() must throw IOException with nothing left
    * committing and no generation cache left persisted, and a resume on a
    * fresh engine must equal the oracle (= the uninjected run). The
    * maintenance points fail the commit `ahead` manifests on, in a copy of
    * `base`, run by `engine` engines: a failure after generation 2's
    * barrier leaves `committed = 2` and nothing for the resume to crawl.
    */
  private def failAndResume(table: String, base: Path = sweepBase, ahead: Long = 1,
                            engine: String => CrawlEngine = sweepEngine,
                            committed: Int = 1): Unit = {
    val dir = StoreCopy(base).toString
    val eng = engine(dir)
    val tables = Seq(eng.seenT, eng.linksT, eng.docsT, eng.imagesT, eng.pdfT,
      eng.processedT, eng.hostStateT, eng.metricsT, eng.eventsT, eng.frontierT,
      eng.partitionMetricsT)
    val target = tables.find(_.name == table).getOrElse(fail(s"no table $table"))
    val plant = Paths.get(dir, table, "snapshots",
      s"snapshot-${target.currentSnapshotId.fold(ahead - 1)(_ + ahead)}.json")
    Files.createDirectories(plant)
    // persisted RDDs are held in a weak-valued map: compare ids, since GC
    // may drop unrelated entries during the run
    val sc = SparkTestSession.spark.sparkContext
    val cachedBefore = sc.getPersistentRDDs.keySet
    intercept[java.io.IOException](eng.run(sweepSeeds))
    assert(sc.getPersistentRDDs.keySet.diff(cachedBefore).isEmpty,
      s"$table: generation caches left persisted after run() threw")
    val atThrow = tables.map(_.currentSnapshotId)
    Thread.sleep(500)
    assert(tables.map(_.currentSnapshotId) == atThrow, s"$table: a commit landed after run() threw")
    assert(eng.lastCommittedGeneration == committed, table)
    Files.delete(plant)
    val resumed = engine(dir)
    assert(resumed.run(sweepSeeds) == 2 - committed, table)
    assert(resumed.seenSet() == sweepOracle.seen, table)
    assert(resumed.crawlOrder() == sweepOracle.crawlOrder, table)
    assert(resumed.docs().map(_.doc_id).toSet == sweepOracle.docs.map(_.doc_id).toSet, table)
  }

  test("a commit that fails in the window: run throws after every sibling settles, resume is oracle-equal") {
    Seq("seen", "links", "pdf_urls", "fetch_events", "host_state", "documents", "images",
      "partition_metrics").foreach(failCommitAndResume)
  }

  test("a commit that fails after the window (frontier, metrics, the processed_queries barrier): resume is oracle-equal") {
    assert(sweepOracle.counters("expanded") > 0, "fixture must expand links")
    Seq("frontier", "metrics", "processed_queries").foreach(failCommitAndResume)
  }

  test("a maintenance commit that fails (the start-of-run seen heal, the in-run tiered seen fold): resume is oracle-equal") {
    // the heal: generation 1's seen rows as the legacy layout of the heal
    // spec above (a plain dir, then bucketed ones), so run() rebuckets seen
    // before generation 2
    val spark = SparkTestSession.spark
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    val legacyBase: Path = {
      val dir = StoreCopy(sweepBase)
      val seenT = sweepEngine(dir.toString).seenT
      val gen1 = seenT.read(spark).get
      val (n, _) = seenT.bucketSpec.get
      def third(k: Int) = gen1.filter(pmod(xxhash64(col("href")), lit(3)) === k)
      seenT.replace(third(0), 1)
      seenT.appendBucketed(third(1), 1, n, "href")
      seenT.appendBucketed(third(2), 1, n, "href")
      assert(seenT.bucketSpec.isEmpty && seenT.commitDirCount == 3, "fixture must be a legacy seen table")
      dir
    }
    failAndResume("seen", base = legacyBase)
    // the fold: at a 2-dir cadence generation 2's seen append makes the
    // second dir, so the compactTiered commit right after it fails
    failAndResume("seen", ahead = 2, committed = 2, engine = dir =>
      new CrawlEngine(spark, cfg, dir, sweepBatch, expandTopK = 1, autoMaintainSeenDirs = 2))
  }

  test("dedup idempotence: re-running the same seeds is a no-op") {
    val dir = tempDir("idem")
    val eng = newEngine(dir)
    eng.run(seeds)
    val seenBefore = eng.seenSet()
    val docsBefore = eng.docs().size
    val eng2 = newEngine(dir)
    val extra = eng2.run(seeds)
    assert(extra == 0, "all queries processed → no further generations")
    assert(eng2.seenSet() == seenBefore && eng2.docs().size == docsBefore)
  }

  test("mega-host salting: saltShards=8 changes physical partitioning only, not results") {
    val dir = tempDir("salt")
    val eng = new CrawlEngine(SparkTestSession.spark, cfg, dir, batchSize, saltShards = 8)
    eng.run(seeds)
    assert(eng.seenSet() == oracle.seen)
    assert(eng.crawlOrder() == oracle.crawlOrder)
    assert(eng.docs().map(d => d.doc_id -> d.spans).toMap ==
      oracle.docs.map(d => d.doc_id -> d.spans).toMap)
  }

  test("priority-frontier expansion: engine matches the oracle with expandTopK=3") {
    val oracleExp = SequentialOracle.run(cfg, seeds, batchSize, expandTopK = 3)
    val expandDir = tempDir("expand")
    val eng = new CrawlEngine(SparkTestSession.spark, cfg, expandDir,
      batchSize, expandTopK = 3)
    eng.run(seeds)
    assert(oracleExp.counters("expanded") > 0, "fixture must actually expand links")
    assert(eng.seenSet() == oracleExp.seen)
    assert(eng.crawlOrder() == oracleExp.crawlOrder)
    val engDocs = eng.docs().map(d => d.doc_id -> d.spans).toMap
    assert(engDocs == oracleExp.docs.map(d => d.doc_id -> d.spans).toMap)
    // expansion must have produced docs beyond the search-driven set
    assert(oracleExp.docs.size > oracle.docs.size)
    // the frontier is a DELTA log: per-generation commits append only
    // discoveries and leave picked rows dead (their urls are in seen) —
    // maintain() folds them out physically; afterwards everything left in
    // the table is genuinely unseen/unpicked
    val spark = SparkTestSession.spark
    import spark.implicits._
    val withDead = eng.frontierT.read(spark).get.select($"url").as[String].collect().toSet
    eng.maintain()
    val frontierUrls = eng.frontierT.read(spark).get.select($"url").as[String].collect().toSet
    assert(frontierUrls.intersect(oracleExp.seen).isEmpty)
    assert((withDead -- frontierUrls).subsetOf(oracleExp.seen),
      "folding may only remove seen (dead) rows")
    // the fold must not change observable crawl results on resume
    val eng3 = new CrawlEngine(spark, cfg, expandDir, batchSize, expandTopK = 3)
    assert(eng3.run(seeds) == 0)
    assert(eng3.seenSet() == oracleExp.seen)
  }

  test("politeness invariant: consecutive fetches per host spaced >= min_delay") {
    val byHost = oracle.fetchEvents.groupBy(_.host)
    byHost.foreach { case (host, evs) =>
      val times = evs.map(_.scheduled_ms).sorted
      times.sliding(2).foreach {
        case Seq(a, b) => assert(b - a >= evs.head.min_delay_ms, s"host $host violates min delay")
        case _ => ()
      }
    }
    assert(byHost.nonEmpty)
  }
}
