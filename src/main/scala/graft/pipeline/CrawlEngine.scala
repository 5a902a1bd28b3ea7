package graft.pipeline

import graft.model._
import graft.oracle.SequentialOracle
import graft.snapshot.{CommitWindow, SnapshotStore, SnapshotTable}
import graft.synth.{SyntheticWeb, WebConfig}
import graft.functions.{Predicates, SpanExtractor, UrlFunctions}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.ArrayBuffer

/** The Spark-native crawl frontier + fetch scheduler (SURVEY §3.4). One
  * generation = one declarative DAG:
  *
  * {{{
  * batch queries (driver, seeded shuffle — main.py:61-65 normalized)
  *  → flatMap synthetic search (S4/S5/G4)                        [narrow]
  *  → first-seen-wins window over ArrivalKey (D1 intra-batch)    [shuffle 1: hash(href)]
  *  → bucketed exact anti-join vs seen (D1/J2)                   [reuses shuffle 1 partitioning]
  *  → relevance predicate (P4), PDF split (P5/S7/D3/J4)          [narrow]
  *  → robots gate + per-host politeness schedule (window)        [shuffle 2: hash(host)]
  *  → salted repartition → fetch + span extraction (S6/G1/G2/G5) [shuffle 3: hash(host,salt)]
  *  → snapshot commits: seen+Δ links+Δ docs+Δ images+Δ pdf+Δ
  *    metrics+Δ host_state, processed_queries LAST (K3 barrier)
  * }}}
  *
  * Scale design notes:
  *  - seen membership is ONE exact set, as in the reference
  *    (crawler.py:30-41): seen is stored bucketed by href and read back
  *    as one bucketed scan, so the not-in-seen check is a single anti-join
  *    that reads seen with no exchange. No persisted filter tier sits in
  *    front of it: a tier could save at most that one join pass, and its
  *    own probe join and per-generation rewrite cost more (matched A/B in
  *    BENCH/BASELINE.md); past 10M seen rows a per-query bloom semi-filter
  *    shrinks the seen scan instead ([[antiJoinSeen]]). Hot-host skew is
  *    served by the (host, salt) fetch salting below;
  *  - per-generation totals come from one narrow count job (map-side
  *    partials only) — no O(distinct hosts) or O(|seen|) collect anywhere
  *    in a generation;
  *  - politeness is a window over hash(host) partitioning: slot j of host h
  *    is scheduled at next_free(h) + j*min_delay(h) — per-host state never
  *    crosses partitions;
  *  - mega-host skew: the fetch stage repartitions on (host, salt) with
  *    salt = hash(url) % saltShards, splitting a hot host's fetch work
  *    across tasks WITHOUT violating the per-host schedule (scheduled times
  *    are already assigned; shards only execute);
  *  - every count used for counters is taken from a persisted Dataset so
  *    no stage re-executes nondeterministically.
  *
  * Crash consistency: processed_queries commits last; [[rollbackPartial]]
  * time-travels every other table back to the last fully-committed
  * generation on restart, giving exactly the reference's observable
  * idempotent-resume semantics (tracker replay + master replay,
  * main.py:43-49, crawler.py:31-40) but atomically.
  */
final class CrawlEngine(
    spark: SparkSession,
    cfg: WebConfig,
    storeRoot: String,
    batchSize: Int,
    saltShards: Int = 4,
    expandTopK: Int = 0,
    tierBroadcastBytes: Long = 512L << 20,
    seenSemiFilterRows: Long = 10L * 1000 * 1000,
    autoMaintainSeenDirs: Int = 16) extends Serializable {

  import spark.implicits._

  graft.functions.expressions.GraftFunctions.register(spark)

  @transient private val store = SnapshotStore(storeRoot)
  @transient val seenT: SnapshotTable = store.table("seen")
  @transient val linksT: SnapshotTable = store.table("links")
  @transient val docsT: SnapshotTable = store.table("documents")
  @transient val imagesT: SnapshotTable = store.table("images")
  @transient val pdfT: SnapshotTable = store.table("pdf_urls")
  @transient val processedT: SnapshotTable = store.table("processed_queries")
  @transient val hostStateT: SnapshotTable = store.table("host_state")
  @transient val metricsT: SnapshotTable = store.table("metrics")
  @transient val eventsT: SnapshotTable = store.table("fetch_events")
  @transient val frontierT: SnapshotTable = store.table("frontier")
  @transient val partitionMetricsT: SnapshotTable = store.table("partition_metrics")

  /** Synthetic robots/politeness host-profile table (north rule: robots
    * rules evaluated from a host table joined on host, not per-row
    * callbacks). Synthesized DISTRIBUTED via spark.range — each task
    * derives its rank slice — never as a driver-resident Seq: at the
    * design scale (10⁷-10⁸ hosts) a driver materialization is GBs before
    * the first query runs. Whether a join against it broadcasts is the
    * [[gatedBroadcast]] byte-budget decision at each use site.
    */
  @transient private lazy val hostProfilesDf: DataFrame = {
    import spark.implicits._
    val webCfg = cfg
    spark.range(1L, webCfg.nHosts + 1L).as[Long]
      .map(r => SyntheticWeb.hostProfile(webCfg, r.toInt))
      .toDF()
      .select($"host", $"min_delay_ms", $"robots_disallow")
  }

  /** robots gate as a codegen'd higher-order predicate over the joined
    * disallow-prefix array (no UDF): allowed iff no disallow prefix matches
    * the URL path.
    */
  private def robotsAllowedCol(urlCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val path = regexp_extract(urlCol, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    !exists(coalesce(col("robots_disallow"), array()),
      p => startswith(path, p))
  }

  /** Handle to the retired `bloom_tier` table: no generation reads or
    * writes it, and rollback and maintenance skip it (a store written by
    * an older engine may still hold rows; nothing consults them). It stays
    * only because `perfbench/` reads its snapshot for
    * `operators.bloom_buckets`, and that benchmark changes only together
    * with its recorded baselines; drop the handle with that read.
    */
  @transient val bloomT: SnapshotTable = store.table("bloom_tier")

  /** Handle to the retired `cuckoo_tier` table: no generation reads or
    * writes it, and rollback and maintenance skip it (a store written by
    * an older engine may still hold rows; nothing consults them). It stays
    * only because `perfbench/` reads its snapshot for
    * `operators.cuckoo_hosts`, and that benchmark changes only together
    * with its recorded baselines; drop the handle with that read.
    */
  @transient val cuckooT: SnapshotTable = store.table("cuckoo_tier")

  /** Size-gate for the host-keyed dimension broadcasts (hostProfilesDf /
    * host_state). At the design scale (10¹⁰ URLs over Zipf hosts → 10⁷-10⁸
    * hosts) an unconditional broadcast ships a multi-GB table to every
    * executor every generation; over budget the hint is dropped and
    * Catalyst joins on the host key (downstream stages are host-partitioned
    * anyway, so the exchange is reused). Estimates are conservative per-row
    * costs — routing the plan, not deciding results.
    */
  private def gatedBroadcast(df: DataFrame, estBytes: Long): DataFrame =
    if (estBytes <= tierBroadcastBytes) broadcast(df) else df

  /** host string + delay long + a few disallow prefixes + row overhead. */
  private def hostProfileEstBytes: Long = cfg.nHosts.toLong * 128

  /** host string + one long + overhead; rows from the snapshot counter
    * (manifest read, never a scan).
    */
  private def hostStateEstBytes: Long =
    hostStateT.currentSnapshot.map(_.rowCount).getOrElse(0L) * 64

  /** Exact "not in seen" over the `urlCol` column — the one route for
    * candidate dedup, frontier picks and discovery dedup, and the
    * membership authority. Seen is stored BUCKETED by href
    * ([[graft.snapshot.SnapshotTable.appendBucketed]]) and read back as
    * ONE bucketed scan over every live commit dir
    * ([[graft.snapshot.SnapshotTable.readBucketed]]), so the check is a
    * single SMJ anti whose seen side never exchanges, however many dirs
    * the snapshot holds; the probe side is shuffled to the bucket
    * partitioning once. `df` itself when seen is empty.
    *
    * Runtime semi-filter: once seen holds `seenSemiFilterRows` rows (below
    * that the extra bloom job does not pay: BENCH/BASELINE.md), the probe
    * side is persisted (into `caches`) and Spark's own bloom filter over
    * its `xxhash64(urlCol)` — `bloom_filter_agg` as a scalar subquery,
    * sized by `expectedRows` and capped by Spark at
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumBits` — filters the
    * seen scan with `might_contain` before the join (a filter keeps the
    * scan's bucket partitioning). Correctness never depends on it: a false
    * positive only lets a seen row through to the exact join, and an empty
    * probe's null filter drops every seen row, with nothing left to
    * anti-join.
    */
  private def antiJoinSeen(df: DataFrame, urlCol: String, expectedRows: Long,
                           caches: ArrayBuffer[Dataset[_]]): DataFrame =
    seenT.readBucketed(spark).fold(df) { seen =>
      val semiFilter = seenT.currentSnapshot.exists(_.rowCount >= seenSemiFilterRows)
      val probe = if (semiFilter) cached(df, caches) else df
      val seenSide = seen.select($"href".as(urlCol))
      val shrunk = if (!semiFilter) seenSide else {
        val bloom = probe.select(call_function("bloom_filter_agg",
          xxhash64(col(urlCol)), lit(math.max(1L, expectedRows)))).scalar()
        seenSide.filter(call_function("might_contain", bloom, xxhash64(col(urlCol))))
      }
      probe.join(shrunk, Seq(urlCol), "left_anti")
    }

  def lastCommittedGeneration: Int =
    processedT.currentSnapshot.map(_.generation).getOrElse(0)

  /** Roll every table back to the last generation whose processed_queries
    * barrier committed (T2/T3 resume semantics).
    */
  def rollbackPartial(): Unit = {
    val committed = lastCommittedGeneration
    Seq(seenT, linksT, docsT, imagesT, pdfT, hostStateT, metricsT, eventsT,
      frontierT, partitionMetricsT)
      .foreach(_.rollbackToGeneration(committed))
  }

  def processedQueries(): Set[String] =
    processedT.read(spark).map(_.select($"query").as[String].collect().toSet).getOrElse(Set.empty)

  /** Full run: the reference batch loop (main.py:54-104). Returns the number
    * of generations executed.
    */
  def run(seedQueries: Seq[String], maxRounds: Int = Int.MaxValue): Int = {
    rollbackPartial()
    // a seen table with plain (legacy) or mixed-spec dirs is rewritten
    // bucketed once, so every not-in-seen check can read it as one scan
    seenT.heal(spark, "href")
    var round = lastCommittedGeneration
    var executed = 0
    var remaining = currentRemaining(seedQueries)
    while (remaining.nonEmpty && executed < maxRounds) {
      round += 1
      val shuffled = remaining.sortBy(q => (SequentialOracle.shuffleRank(cfg.seed, round, q), q))
      val batch = shuffled.take(batchSize)
      runGeneration(round, batch)
      autoMaintainSeen()
      remaining = shuffled.drop(batchSize)
      executed += 1
    }
    executed
  }

  /** In-run maintenance cadence: seen grows one bucketed dir per
    * generation, and each bucket of the seen scan reads one small file per
    * dir, so without a cadence the file count only stays bounded as long
    * as someone remembers to call [[maintain]] between crawls. When the
    * dirs reach `autoMaintainSeenDirs` (0 disables), fold them back to
    * half via SIZE-TIERED minor compaction ([[graft.snapshot.SnapshotTable
    * .compactTiered]]): only the smallest dirs merge, so a long crawl
    * rewrites a seen row O(log(|seen|/|delta|)) times total instead of
    * re-paying O(|seen|) every cadence tick the way a major fold would —
    * the write-amplification bound that matters at a 10¹⁰-row seen table.
    * Vacuum keeps exactly the rollback depth resume needs; the commit is
    * stamped with the just-barriered generation, so a crash anywhere in
    * this window resumes identically (the compaction snapshot IS
    * generation-N state). Full [[maintain]] (frontier fold + every table)
    * remains the between-runs major pass.
    */
  private def autoMaintainSeen(): Unit =
    if (autoMaintainSeenDirs > 0 && seenT.commitDirCount >= autoMaintainSeenDirs) {
      seenT.compactTiered(spark, math.max(1, autoMaintainSeenDirs / 2))
      seenT.vacuum(2)
    }

  /** D2: seed order preserved, processed queries anti-filtered (main.py:48).
    * Seed lists are driver-resident in the reference too; the processed set
    * is read from the snapshot table.
    */
  private def currentRemaining(seedQueries: Seq[String]): Vector[String] = {
    val processed = processedQueries()
    seedQueries.iterator.map(_.trim).filter(_.nonEmpty).filterNot(processed).toVector
  }

  /** Persist `ds` and register it in `caches`, which the generation
    * unpersists on its way out.
    */
  private def cached[T](ds: Dataset[T], caches: ArrayBuffer[Dataset[_]]): Dataset[T] = {
    caches += ds.persist(StorageLevel.MEMORY_AND_DISK)
    ds
  }

  /** One generation DAG. Batch is small (driver-held, like the reference's
    * batch list); everything downstream is distributed. Every Dataset the
    * generation persists is unpersisted when it returns or throws.
    */
  def runGeneration(round: Int, batch: Seq[String]): Map[String, Long] = {
    val genCaches = ArrayBuffer.empty[Dataset[_]]
    try generation(round, batch, genCaches) finally genCaches.foreach(_.unpersist())
  }

  private def generation(round: Int, batch: Seq[String],
                         genCaches: ArrayBuffer[Dataset[_]]): Map[String, Long] = {
    val webCfg = cfg
    val nPart = spark.conf.get("spark.sql.shuffle.partitions").toInt

    // ---- G4: search fan-out (both kinds, all pages) --------------------
    val batchDs = spark.createDataset(batch.zipWithIndex.map { case (q, i) => (q, i) })
    val candidates: Dataset[Link] = batchDs.flatMap { case (query, qRank) =>
      for {
        kind <- 0 to 1
        page <- 1 to webCfg.pages
        // crawler.py:80 pageno bug: general search always requests cfg.pages
        effPage = if (kind == 1) page else webCfg.pages
        (hit, rRank) <- SyntheticWeb.searchHits(webCfg, query, effPage, kind == 1).zipWithIndex
        if hit.url != null && hit.url.nonEmpty // P3
      } yield Link(hit.title, hit.url, hit.content, query, effPage, hit.engine,
        if (kind == 1) Some("image") else None, hit.img_src, hit.thumbnail_src,
        round, qRank, kind, rRank, UrlFunctions.hostOf(hit.url))
    }
    // NOT persisted: the candidate stream is a deterministic flatMap over a
    // tiny driver list — recomputing it for its consumers costs far less
    // than caching millions of Link rows (memory pressure at bench scale).
    // The generation total (A1 counters) is ONE narrow count job — all
    // map-side partial counts, no aggregation exchange, scales with cores
    // (the old pre-pass carried a groupBy(host) whose O(hosts) per-task
    // partial maps made it anti-scale at high parallelism).
    val nCandidates = candidates.count()

    // ---- D1: intra-batch first-seen-wins on deterministic ArrivalKey ----
    val arrival = Seq($"kind", $"query_rank", $"page", $"result_rank")
    val wHref = Window.partitionBy($"href").orderBy(arrival: _*)
    val firstSeen = candidates.toDF()
      .withColumn("rn", row_number().over(wHref)).filter($"rn" === 1).drop("rn")

    // ---- D1/J2: bucketed exact anti-join vs seen -----------------------
    // [[antiJoinSeen]] is the one not-in-seen route; the persist keeps the
    // dedup window + anti-join from re-executing for each of newLinks'
    // consumers (relevance gate, pick dedup, seen delta).
    val newLinks = cached(antiJoinSeen(firstSeen, "href", nCandidates, genCaches), genCaches)

    // ---- P4: relevance gate (deterministic 2-of-3 vote) ----------------
    val kept = cached(newLinks
      .filter(Predicates.isRelevantCol($"title", $"href", $"content")), genCaches)

    // ---- P5/S7/D3: PDF split (codegen'd confirm probe — no ScalaUDF) ----
    val isPdf = Predicates.isLikelyPdfUrlCol($"href") &&
      expr(s"confirms_pdf(href, ${webCfg.seed}L)")
    val pdfLinks = kept.filter(isPdf)
    val htmlLinks = kept.filter(!isPdf)

    // ---- O5: priority-frontier expansion picks (north rule) ------------
    // per-host top-K not-yet-seen, robots-allowed frontier links by
    // (score desc, url): hash(host) partitioning + in-partition sort — no
    // global ordering anywhere.
    val emptyFrontier = Seq.empty[(String, String, Double, Int)]
      .toDF("url", "host", "score", "discovered_gen")
    val oldFrontier = frontierT.read(spark).getOrElse(emptyFrontier)
    val picks = cached(if (expandTopK <= 0) {
      emptyFrontier.select($"url".as("href"), $"host", $"score")
    } else {
      // not-seen = the bucketed exact anti-join (never an O(|seen|)
      // shuffle); this generation's own delta (newLinks — not in seen
      // yet) is a second, delta-sized anti-join. The frontier
      // table is a delta log: rows whose url has entered seen are dead and
      // fall out right here (seen-membership is the tombstone; maintain()
      // folds them out physically).
      val notSeen = antiJoinSeen(oldFrontier, "url",
        frontierT.currentSnapshot.map(_.rowCount).getOrElse(1L), genCaches)
      val wFrontier = Window.partitionBy($"host").orderBy($"score".desc, $"url")
      notSeen
        .join(newLinks.select($"href".as("url")), Seq("url"), "left_anti")
        .join(gatedBroadcast(hostProfilesDf.select($"host", $"robots_disallow"),
          hostProfileEstBytes), Seq("host"), "left")
        .filter(robotsAllowedCol($"url")).drop("robots_disallow")
        .withColumn("rn", row_number().over(wFrontier)).filter($"rn" <= expandTopK)
        .select($"url".as("href"), $"host", $"score")
    }, genCaches)
    val nExpanded = if (expandTopK <= 0) 0L else picks.count()

    // ---- T4: robots gate + per-host politeness schedule (both phases) ---
    // per-host order: phase 0 (ArrivalKey order) then phase 1 (score order);
    // robots + min-delay both come from ONE broadcast host-profile join
    // (the min_delay column rides along instead of a second broadcast join)
    val allowed = htmlLinks
      .join(gatedBroadcast(hostProfilesDf.select($"host", $"robots_disallow", $"min_delay_ms"),
        hostProfileEstBytes), Seq("host"), "left")
      .filter(robotsAllowedCol($"href")).drop("robots_disallow")
    // host_state is (host, next_free_ms); a store written by an older
    // engine carries an extra per-host count column, projected away here
    val hostState = hostStateT.read(spark).map(_.select($"host", $"next_free_ms"))
      .getOrElse(Seq.empty[(String, Long)].toDF("host", "next_free_ms"))
    val phaseA = allowed.select($"href", $"host", lit(0).as("phase"),
      $"kind", $"query_rank", $"page", $"result_rank", lit(0.0d).as("neg_score"),
      $"min_delay_ms")
    val phaseB = picks
      .join(gatedBroadcast(hostProfilesDf.select($"host", $"min_delay_ms"),
        hostProfileEstBytes), Seq("host"), "left")
      .select($"href", $"host", lit(1).as("phase"),
        lit(0).as("kind"), lit(0).as("query_rank"), lit(0).as("page"),
        lit(0).as("result_rank"), (-$"score").as("neg_score"), $"min_delay_ms")
    val wHost = Window.partitionBy($"host").orderBy(
      $"phase", $"kind", $"query_rank", $"page", $"result_rank", $"neg_score", $"href")
    val sched = cached(phaseA.unionByName(phaseB)
      .join(gatedBroadcast(hostState, hostStateEstBytes), Seq("host"), "left")
      .na.fill(0L, Seq("next_free_ms"))
      .withColumn("slot", row_number().over(wHost) - lit(1))
      .withColumn("scheduled_ms", $"next_free_ms" + $"slot" * $"min_delay_ms")
      .withColumn("salt", pmod(xxhash64($"href"), lit(saltShards)).cast("int")), genCaches)

    // ---- S6/G1/G2/G5: salted fetch + span extraction + link discovery ---
    // The extraction output is cached as a DATAFRAME of struct columns, not
    // a Dataset of Scala tuples: its three commit-window consumers (docs,
    // images, partition_metrics) then read it with pure columnar
    // projections inside whole-stage codegen. The tuple form made each
    // consumer re-deserialize every PageDoc/span/image OBJECT through the
    // encoder — 3 full object decodes of the largest dataset per
    // generation, a fixed CPU tax that dominated the commit window.
    val fetched: DataFrame = cached(sched
      .select($"href", $"host", $"salt", $"scheduled_ms")
      .repartition(nPart, $"host", $"salt")
      .sortWithinPartitions($"scheduled_ms") // politeness order within shard
      .as[(String, String, Int, Long)]
      .mapPartitions { it =>
        it.flatMap { case (url, _, _, _) =>
          SyntheticWeb.fetch(webCfg, url).map { html =>
            val ex = SpanExtractor.extract(url, html)
            val doc = PageDoc(SpanExtractor.docId(url), url, ex.pageTitle,
              ex.pageSummary, ex.spans, round)
            val imgs: Seq[SequentialOracle.OracleImage] =
              ex.images.map(r => SequentialOracle.OracleImage(
                r.image_url, url, ex.pageTitle, r.alt_text, r.title_attribute,
                r.raw_caption, ex.pageSummary, round))
            val outLinks: Seq[String] =
              ex.links.collect { case (_, u) if u.startsWith("http") => u }
            (doc, imgs, outLinks)
          }
        }
      }.toDF("doc", "imgs", "out_links")
      // the shard id is captured BEFORE the cache (narrow projection in the
      // fetch tasks themselves) so partition_metrics records the real
      // (host,salt) shard lineage
      .withColumn("partition_id", spark_partition_id()), genCaches)
    val docsDf = fetched.select($"doc.*")
    val imagesDf = fetched.select(explode($"imgs").as("img")).select($"img.*")

    // per-partition lineage counters from the fetch stage (north rule):
    // one row per (host,salt) shard — docs, spans, images produced there.
    // A groupBy over the captured shard id (tiny shuffle, nPart rows in)
    // replaces the old mapPartitions/TaskContext form — columnar, and
    // immune to the coalesce(1)-collapses-the-task-id hazard.
    val partMetrics = fetched
      .groupBy($"partition_id")
      .agg(count(lit(1)).as("docs"),
        sum(size($"doc.spans")).as("spans"),
        sum(size($"imgs")).as("images"))
      .filter($"docs" > 0)
      .withColumn("generation", lit(round))
      .repartition(1) // one row per shard: a 1-file write

    // materialize the shared caches EXACTLY ONCE before the concurrent
    // commit window: Spark's block cache does not coordinate concurrent
    // first-computation of the same partition, so racing consumers would
    // redundantly re-run the dedup window / politeness window / fetch+
    // extract. (An overlapped variant — docs write materializing fetched
    // while the other commits run — was tried and reverted: it trims
    // single-node wall ~15% but removes perfectly-PARALLEL work, leaving
    // the latency-bound commit chain dominant and collapsing the measured
    // N→4N scaling; the defensive materialize-then-commit shape is the one
    // that scales.)
    newLinks.count()
    fetched.count()

    // ---- commits (processed_queries LAST — K3 barrier) -----------------
    // Independent table commits run in one [[CommitWindow]]: concurrent
    // Spark jobs over separate dirs with per-table atomic pointer flips
    // (crash recovery handles any committed subset), every one settled
    // before a failure surfaces. Per-generation counters come free from
    // the manifests' per-commit row deltas — no standalone count() jobs.
    val seenDelta = cached(newLinks.select($"href", $"host")
      .unionByName(picks.select($"href", $"host")), genCaches)
    // seen is stored BUCKETED by href (one file per bucket per commit):
    // [[antiJoinSeen]] reads it back bucket-aligned so the anti-join's
    // seen side never exchanges. The bucket count is pinned by the first
    // bucketed commit (manifest registry) so later generations stay
    // join-compatible even if the session's shuffle partitioning changes.
    val Seq(seenMeta, linksMeta, pdfMeta, eventsMeta, _, docsMeta, _, _) = CommitWindow(spark,
      "seen" -> (() => seenT.appendBucketed(seenDelta, round, seenT.bucketCount(spark), "href")),
      "links" -> (() => linksT.append(kept.toDF(), round)),
      "pdf" -> (() => pdfT.append(
        pdfLinks.select($"href".as("url"), lit(round).as("generation")).coalesce(4), round)),
      "events" -> (() => eventsT.append(
        sched.select($"href".as("url"), $"host", $"salt", $"scheduled_ms",
          $"min_delay_ms", lit(round).as("round"), $"phase"), round)),
      // host_state: untouched hosts keep state; scheduled hosts advance
      "hoststate" -> { () =>
        val updatedState = sched.groupBy($"host")
          .agg((max($"scheduled_ms") + first($"min_delay_ms")).as("next_free"))
        val newState = hostState.select($"host", $"next_free_ms".as("old_next"))
          .join(updatedState, Seq("host"), "full_outer")
          .select($"host", coalesce($"next_free", $"old_next").as("next_free_ms"))
        hostStateT.replace(newState, round)
      },
      "docs" -> (() => docsT.append(docsDf.toDF(), round)),
      "images" -> (() => imagesT.append(imagesDf.toDF(), round)),
      "partmetrics" -> (() => partitionMetricsT.append(partMetrics, round)))

    val nNew = seenT.deltaRows(seenMeta) - nExpanded
    val nKept = linksT.deltaRows(linksMeta)
    val nScheduled = eventsT.deltaRows(eventsMeta)
    val nDocs = docsT.deltaRows(docsMeta)
    val counters = Map(
      "candidates" -> nCandidates,
      "skipped" -> (nCandidates - nNew),
      "new" -> nNew,
      "added" -> nKept,
      "expanded" -> nExpanded,
      "scheduled" -> nScheduled,
      "robots_blocked" -> (nKept - pdfT.deltaRows(pdfMeta) + nExpanded - nScheduled),
      "docs" -> nDocs)

    // ---- frontier maintenance: DELTA append (discoveries only) ----------
    // Picked rows are NOT rewritten out per generation: a pick entered seen
    // in this very generation's commit, and both the pick path and the
    // discovery dedup below exclude seen members — seen-membership IS the
    // tombstone. maintain() folds dead rows out physically (the amortized
    // place for an O(|frontier|) rewrite); per-generation frontier IO is
    // O(|discoveries|), never O(|frontier|). The discovery not-seen check
    // reads the POST-commit seen table (this generation's delta is already
    // a bucketed dir of the scan), so it too never exchanges seen.
    if (expandTopK > 0) {
      val rawDisc = fetched.select(explode($"out_links").as("url")).distinct()
      val discoveries = antiJoinSeen(rawDisc, "url", nCandidates, genCaches)
        .join(oldFrontier.select($"url"), Seq("url"), "left_anti")
        .withColumn("host", regexp_extract(lower($"url"), "^[a-z][a-z0-9+.-]*://([^/?#]*)", 1))
        .withColumn("score", expr(s"link_score(url, ${webCfg.seed}L)")) // codegen'd, no ScalaUDF
        .withColumn("discovered_gen", lit(round))
        .select($"url", $"host", $"score", $"discovered_gen")
      frontierT.append(discoveries, round)
    }
    metricsT.append(counters.toSeq.toDF("key", "value").withColumn("generation", lit(round)), round)
    processedT.append(batch.zipWithIndex.toDF("query", "query_rank")
      .withColumn("generation", lit(round)), round) // commit point
    counters
  }

  /** Table maintenance (the Iceberg maintenance-job analogue; run between
    * crawls, never required for correctness): bin-pack compact every table
    * whose current file list fragments past `targetFileBytes` packing, then
    * vacuum expired history + rollback orphans. At 10⁴ generations the seen
    * table would otherwise carry one file set per generation — the classic
    * small-files decay. keepSnapshots=2 preserves exactly the rollback
    * depth [[rollbackPartial]] needs (one uncommitted generation).
    */
  def maintain(targetFileBytes: Long = 128L << 20, keepSnapshots: Int = 2): Map[String, Int] = {
    // roll back FIRST: after a crash the store may hold partial commits of
    // an unbarriered generation. Folding against that uncommitted seen
    // delta would drop frontier rows the rollback is about to un-pick (and
    // stamp the fold with the committed generation, putting it beyond the
    // next resume's rollback) — the aborted generation's urls would then
    // be in neither seen nor the frontier. Rollback is idempotent and is
    // exactly what run() does on entry, so maintenance folds only
    // barrier-committed state.
    rollbackPartial()
    foldFrontier()
    val tables = Seq(seenT, linksT, docsT, imagesT, pdfT, processedT,
      hostStateT, metricsT, eventsT, frontierT, partitionMetricsT)
    tables.map { t =>
      t.compact(spark, targetFileBytes)
      t.name -> t.vacuum(keepSnapshots)
    }.toMap
  }

  /** Fold the frontier delta log: physically drop rows whose url entered
    * seen (picked, or crawled via another path) — the per-generation
    * commits deliberately leave them (seen-membership is the tombstone;
    * rewriting the whole frontier per generation was the r3 scale flag).
    * One O(|frontier|) rewrite per maintenance window, not per generation.
    */
  private def foldFrontier(): Unit =
    for (f <- frontierT.read(spark); s <- seenT.read(spark)) {
      val live = f.join(s.select($"href".as("url")), Seq("url"), "left_anti")
      frontierT.replace(live, lastCommittedGeneration)
    }

  // ------------------------------------------------------- verification IO
  def seenSet(): Set[String] =
    seenT.read(spark).map(_.select($"href").as[String].collect().toSet).getOrElse(Set.empty)

  def crawlOrder(): Vector[String] =
    eventsT.read(spark).map(
      _.orderBy($"round", $"scheduled_ms", $"host", $"url")
        .select($"url").as[String].collect().toVector).getOrElse(Vector.empty)

  def docs(): Vector[PageDoc] =
    docsT.read(spark).map(_.as[PageDoc].collect().toVector).getOrElse(Vector.empty)
}
