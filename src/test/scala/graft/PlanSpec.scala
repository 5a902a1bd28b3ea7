package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the optimizations the engine is designed
  * around must actually appear in the executed plans — predicate pushdown
  * to the parquet scan, column pruning, broadcast joins for dimensions,
  * whole-stage codegen on the hot paths. A plan regression fails the build,
  * not just the benchmark.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def executedPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect() // materialize so AQE finalizes the plan (isFinalPlan=true)
    df.queryExecution.executedPlan.toString
  }

  /** Spark 4 marks whole-stage-codegen stages with a `*(n)` operator prefix
    * in the (final) executed plan.
    */
  private def hasCodegen(plan: String): Boolean = "\\*\\(\\d+\\)".r.findFirstIn(plan).isDefined

  test("q_anti_join: status filter is pushed to the parquet scan") {
    val plan = executedPlan("q_anti_join")
    val pushed = "PushedFilters: \\[[^\\]]*EqualTo\\(o_orderstatus,F\\)".r
    assert(pushed.findFirstIn(plan).isDefined, s"filter not pushed:\n$plan")
  }

  test("q_seed_filter: scan reads only the referenced columns") {
    val plan = executedPlan("q_seed_filter")
    // ReadSchema must contain doc_id, n_chars, text and nothing else
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(plan).map(_.group(1))
    assert(read.isDefined, s"no ReadSchema in:\n$plan")
    val cols = read.get.split(",").map(_.split(":")(0).trim).toSet
    assert(cols == Set("doc_id", "n_chars", "text"), s"column pruning failed: $cols")
  }

  test("q_join_agg: dimension joins broadcast (no shuffle join on nation/region)") {
    val plan = executedPlan("q_join_agg")
    assert(plan.contains("BroadcastHashJoin"), s"expected BHJ:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"dimension join degraded to SMJ:\n$plan")
  }

  test("hot paths run inside WholeStageCodegen") {
    Seq("q1_agg", "q_first_seen_dedup", "q_text_stats", "q_dedup_exact").foreach { q =>
      val plan = executedPlan(q)
      assert(hasCodegen(plan), s"$q has no codegen span:\n$plan")
    }
  }

  test("q_ann_topk: the small query side is broadcast, not shuffled") {
    val plan = executedPlan("q_ann_topk")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"query side not broadcast:\n$plan")
  }

  test("simhash/minhash/fingerprint stages carry no ScalaUDF (native expressions only)") {
    // the per-document first stages of the dedup/fingerprint families are
    // native codegen'd expressions — a ScalaUDF reappearing here is a plan
    // regression (row-boxing boundary on the corpus-wide hot path)
    Seq("q_dedup_simhash", "q_dedup_minhash", "q_dedup_incremental", "q_fingerprint").foreach { q =>
      val plan = executedPlan(q)
      assert(!plan.contains("ScalaUDF"), s"$q plan contains a ScalaUDF:\n$plan")
    }
    // both fingerprint expressions must sit INSIDE a whole-stage-codegen
    // span (a native expression outside codegen would still be a boundary)
    val fpPlan = executedPlan("q_fingerprint")
    Seq("rolling_fingerprint", "winnow_fingerprints").foreach { fn =>
      val line = fpPlan.linesIterator.find(_.contains(fn)).getOrElse("")
      assert("\\*\\(\\d+\\)".r.findFirstIn(line).isDefined,
        s"$fn not in a codegen stage:\n$fpPlan")
    }
  }

  test("q_seq_pack: exactly one hash shuffle, greedy_pack native, no ScalaUDF") {
    val plan = executedPlan("q_seq_pack")
    assert(!plan.contains("ScalaUDF"), s"packing fell back to a UDF:\n$plan")
    assert(plan.contains("greedy_pack"), s"native expression missing:\n$plan")
    // one hash exchange (the groupBy); the trailing orderBy adds only a
    // range exchange — a second hash exchange means the packing stopped
    // reusing the group partitioning. Count only the final plan (AQE
    // appends an "== Initial Plan ==" copy of the same tree).
    val finalPlan = plan.split("== Initial Plan ==").head
    val hashEx = "Exchange hashpartitioning".r.findAllIn(finalPlan).size
    assert(hashEx == 1, s"expected exactly one hash exchange, got $hashEx:\n$finalPlan")
  }

  test("crawl generation DAG carries no ScalaUDF (pdf confirm + frontier score are native)") {
    import graft.pipeline.CrawlEngine
    import graft.synth.WebConfig
    // run one expansion-enabled generation and inspect every plan Spark
    // executed for it: the confirms_pdf and link_score paths must stay
    // codegen'd native expressions
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val dir = java.nio.file.Files.createTempDirectory("graft-planspec").toString
      val eng = new CrawlEngine(spark, WebConfig(seed = 42, nHosts = 30, resultsPerPage = 6),
        dir, batchSize = 4, expandTopK = 2)
      eng.run((1 to 4).map(i => s"singapore topic $i query"))
      // listener events post asynchronously; wait until the stream quiesces
      var last = -1
      var stable = 0
      while (stable < 3) {
        Thread.sleep(300)
        val n = plans.synchronized(plans.size)
        if (n == last) stable += 1 else { stable = 0; last = n }
      }
      val offending = plans.synchronized(plans.filter(_.contains("ScalaUDF")))
      assert(offending.isEmpty,
        s"generation DAG executed ${offending.size} plan(s) with ScalaUDF:\n${offending.headOption.getOrElse("")}")
      assert(plans.synchronized(plans.exists(_.contains("confirms_pdf"))) ||
        plans.synchronized(plans.exists(_.contains("link_score"))),
        "expected the native pdf/score expressions to appear in executed plans")
    } finally spark.listenerManager.unregister(listener)
  }

  test("host-table broadcasts are byte-gated: hint present under budget, absent over it") {
    import graft.pipeline.CrawlEngine
    import graft.synth.WebConfig
    // disable Spark's own size-based auto-broadcast so the ONLY source of a
    // BroadcastHashJoin on the host tables is the engine's explicit
    // gatedBroadcast hint — presence/absence then tests the gate itself
    val before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    def quiesce(): Unit = {
      var last = -1; var stable = 0
      while (stable < 3) {
        Thread.sleep(300)
        val n = plans.synchronized(plans.size)
        if (n == last) stable += 1 else { stable = 0; last = n }
      }
    }
    def hostJoinBroadcasts(): Boolean = plans.synchronized(plans.exists(p =>
      p.linesIterator.exists(l => l.contains("BroadcastHashJoin") && l.contains("host"))))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.listenerManager.register(listener)
    try {
      val cfg = WebConfig(seed = 42, nHosts = 30, resultsPerPage = 6)
      val seeds = (1 to 4).map(i => s"singapore topic $i query")
      new CrawlEngine(spark, cfg, tempDir("bhj-on"), batchSize = 4).run(seeds)
      quiesce()
      assert(hostJoinBroadcasts(),
        "under budget, the politeness/robots host join must carry the broadcast hint")
      plans.synchronized(plans.clear())
      new CrawlEngine(spark, cfg, tempDir("bhj-off"), batchSize = 4,
        tierBroadcastBytes = 1L).run(seeds)
      quiesce()
      assert(!hostJoinBroadcasts(),
        "over budget, no host-table join may broadcast (plain key join expected)")
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)
    }
  }

  private def tempDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-$tag").toString

  /** Executed plans of every query `body` runs, planned statically (no AQE
    * re-plan) and with no size-based auto-broadcast: the only way an
    * anti-join's seen side avoids an exchange is then the STORAGE
    * bucketing the snapshot layer reconstructs. Plans inside persisted
    * relations are expanded, since `collect` does not descend into them.
    */
  private def staticPlans(body: => Unit): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val beforeAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val beforeBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val plans = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.listenerManager.register(listener)
    try {
      body
      var last = -1; var stable = 0
      while (stable < 3) {
        Thread.sleep(300)
        val n = plans.synchronized(plans.size)
        if (n == last) stable += 1 else { stable = 0; last = n }
      }
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.set("spark.sql.adaptive.enabled", beforeAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", beforeBc)
    }
    def expand(p: SparkPlan): Seq[SparkPlan] =
      p.collect { case n => n }.flatMap {
        case imts: InMemoryTableScanExec => imts +: expand(imts.relation.cachedPlan)
        case n => Seq(n)
      }
    plans.synchronized(plans.toList).flatMap(expand)
  }

  /** The right sides of the LEFT ANTI sort-merge joins that read the seen
    * table stored under `storeDir` (its scans found by their root paths).
    */
  private def seenSides(nodes: Seq[org.apache.spark.sql.execution.SparkPlan], storeDir: String)
  : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    nodes.collect {
      case j: SortMergeJoinExec if j.joinType.sql == "LEFT ANTI" => j.right
    }.filter(seenScans(_, storeDir).nonEmpty)
  }

  private def seenScans(side: org.apache.spark.sql.execution.SparkPlan, storeDir: String)
  : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val seenData = java.nio.file.Paths.get(storeDir, "seen", "data").toUri.getPath
    side.collect {
      case s: FileSourceScanExec
        if s.relation.location.rootPaths.forall(_.toUri.getPath.startsWith(seenData)) => s
    }
  }

  /** Each seen anti-join's seen scans and the shuffle exchanges on its
    * seen side (see [[seenSides]]).
    */
  private def seenAntiJoins(nodes: Seq[org.apache.spark.sql.execution.SparkPlan], storeDir: String)
  : Seq[(Seq[org.apache.spark.sql.execution.FileSourceScanExec], Int)] = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    seenSides(nodes, storeDir).map(side =>
      (seenScans(side, storeDir), side.collect { case e: ShuffleExchangeExec => e }.size))
  }

  test("seen anti-join reads the bucketed store with NO exchange on the seen side") {
    import graft.pipeline.CrawlEngine
    import graft.synth.WebConfig
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.execution.{FilterExec, ScalarSubquery}
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    // 2 generations: generation 2's candidate dedup anti-joins the seen
    // rows generation 1 committed (bucketed by href)
    val cfg = WebConfig(seed = 42, nHosts = 30, resultsPerPage = 6)
    val seeds = (1 to 4).map(i => s"singapore topic $i query")
    val dir = tempDir("bucketed-seen")
    val nodes = staticPlans {
      new CrawlEngine(spark, cfg, dir, batchSize = 2).run(seeds)
    }
    val aligned = seenAntiJoins(nodes, dir).exists { case (scans, exchanges) =>
      scans.forall(_.bucketedScan) && exchanges == 0
    }
    assert(aligned, "expected at least one LEFT ANTI SortMergeJoin whose seen side is a " +
      "bucketed scan of <store>/seen/data with zero shuffle exchanges below it")
    // the same crawl with the runtime semi-filter forced on: the seen side
    // gains Spark's might_contain over a scalar subquery, with no broadcast
    // join, and still never exchanges
    val semiDir = tempDir("bucketed-seen-semi")
    val semiNodes = staticPlans {
      new CrawlEngine(spark, cfg, semiDir, batchSize = 2, seenSemiFilterRows = 1L).run(seeds)
    }
    val sides = seenSides(semiNodes, semiDir)
    assert(sides.nonEmpty, "no LEFT ANTI SortMergeJoin against seen was planned")
    sides.foreach { side =>
      val probes = side.collect { case f: FilterExec => f.condition.collect {
        case m: BloomFilterMightContain => m
      } }.flatten
      assert(probes.nonEmpty && probes.forall(_.bloomFilterExpression.find(
        _.isInstanceOf[ScalarSubquery]).isDefined),
        s"expected a might_contain filter fed by a subquery on the seen side:\n$side")
      assert(side.collect { case b: BroadcastNestedLoopJoinExec => b }.isEmpty,
        s"broadcast cross-join on the seen side:\n$side")
    }
    seenAntiJoins(semiNodes, semiDir).foreach { case (scans, exchanges) =>
      assert(scans.forall(_.bucketedScan), "the seen scan must stay bucketed under the filter")
      assert(exchanges == 0, s"$exchanges shuffle exchange(s) on the filtered seen side")
    }
  }

  test("seen anti-join at 30+ commit dirs: one bucketed seen scan, no exchange, no catalog table") {
    import graft.pipeline.CrawlEngine
    import graft.oracle.SequentialOracle
    import graft.snapshot.SnapshotStore
    import graft.synth.WebConfig
    import spark.implicits._
    // 30 bucketed seen dirs at generation 0 (kept by the resume rollback)
    // hold hrefs the synthetic web never produces; with the cadence off,
    // every generation's not-in-seen check meets all of them
    val dir = tempDir("seen-30dirs")
    val seenT = SnapshotStore(dir).table("seen")
    val planted = (0 until 30).flatMap { d =>
      val rows = (0 until 20).map(i => (s"https://planted.invalid/d$d/p$i", "planted.invalid"))
      seenT.appendBucketed(rows.toDF("href", "host"), 0, 8, "href")
      rows.map(_._1)
    }.toSet
    assert(seenT.commitDirCount == 30)
    val cfg = WebConfig(seed = 42, nHosts = 30, resultsPerPage = 6)
    val seeds = (1 to 4).map(i => s"singapore topic $i query")
    val eng = new CrawlEngine(spark, cfg, dir, batchSize = 2, autoMaintainSeenDirs = 0)
    val nodes = staticPlans(eng.run(seeds))
    val joins = seenAntiJoins(nodes, dir)
    assert(joins.nonEmpty, "no LEFT ANTI SortMergeJoin against seen was planned")
    joins.foreach { case (scans, exchanges) =>
      assert(scans.size == 1, s"expected ONE seen scan below the anti-join, got ${scans.size}")
      assert(scans.head.bucketedScan, "the seen scan must be bucketed")
      assert(exchanges == 0, s"$exchanges shuffle exchange(s) on the seen side")
    }
    assert(eng.seenT.commitDirCount >= 32, "the cadence must not have folded the dirs")
    val graftTables = spark.catalog.listTables().collect().map(_.name).filter(_.startsWith("graft_b_"))
    assert(graftTables.isEmpty, s"session catalog holds ${graftTables.mkString(", ")}")
    val oracle = SequentialOracle.run(cfg, seeds, 2)
    assert(eng.seenSet() -- planted == oracle.seen)
    assert(eng.crawlOrder() == oracle.crawlOrder)
  }

  test("band-index prune: bkey IN pushes into the bucket-stored index scan (bucket-pruned)") {
    // the scan shape minhashNearDupsIndexed's prune path produces: the
    // delta's bkey list reaches the persisted index as a pushed filter AND
    // prunes whole bucket files — the read is delta-sized, not index-sized
    import org.apache.spark.sql.functions._
    import graft.ml.TextDedup
    val store = graft.snapshot.SnapshotStore(tempDir("band-index"))
    val idxT = store.table("band_index")
    val docs = spark.read.parquet(s"$sf/documents.parquet").select(col("doc_id"), col("text"))
    idxT.appendBucketed(TextDedup.bandIndexOf(docs), generation = 1,
      buckets = 8, bucketCol = "bkey")
    val index = idxT.readBucketed(spark).getOrElse(fail("no index scan"))
    val keys = index.select(col("bkey")).distinct().limit(2)
      .collect().map(_.getLong(0)).toSeq
    // a filter-only probe doesn't NEED the bucket partitioning, so Spark's
    // DisableUnnecessaryBucketedScan would hide the pruning metadata; pin
    // the planner's hands to assert the capability the layout provides
    val before = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    val plan = try {
      val pruned = index.where(col("bkey").isInCollection(keys))
      pruned.collect()
      pruned.queryExecution.executedPlan.toString
    } finally spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", before)
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(sel.isDefined, s"no bucket pruning on the index scan:\n$plan")
    assert(sel.exists(m => m.group(1).toInt < m.group(2).toInt),
      s"bucket pruning selected every bucket:\n$plan")
    assert("PushedFilters: \\[[^\\]]*In\\(bkey".r.findFirstIn(plan).isDefined,
      s"bkey IN not pushed to the scan:\n$plan")
  }

  test("crawl generation plan: dedup anti-join reuses the href hash partitioning") {
    // the first-seen window partitions by href; the following anti-join on
    // href must not introduce a second exchange of the candidate stream
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val df = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id").cast("string").as("href"), col("text"))
    val w = Window.partitionBy(col("href")).orderBy(col("text"))
    val firstSeen = df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
    val seen = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id").cast("string").as("href"))
    val joined = firstSeen.join(seen, Seq("href"), "left_anti")
    val plan = joined.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning\\(href".r.findAllIn(plan).size
    assert(exchanges <= 2, s"candidate stream exchanged more than once per side:\n$plan")
  }
}
