package perfbench

import graft.functions.SpanExtractor
import graft.ml.{TextAnalysis, TextDedup}
import graft.operators.{BlockedBloom, CuckooFilter}
import graft.oracle.SequentialOracle
import graft.pipeline.CrawlEngine
import graft.snapshot.{SnapshotStore, SnapshotTable}
import graft.streaming.DedupStream
import graft.synth.SyntheticWeb
import graft.util.Hashing.{bounded, det}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** What one fixed-size unit of a workload did. A unit whose operation
  * failed carries `failed > 0` and is never used as a timing sample.
  */
final case class UnitRun(
    wallSeconds: Double,
    ops: Vector[Span],
    items: Long,
    itemSeconds: Double,
    layer: Map[String, Double],
    attempted: Int,
    failed: Int)

/** A workload: fixed-size seeded inputs, a unit that runs its operations
  * through the engine's public entry points, and output checks. Every unit
  * starts from the same state, which [[prepare]] builds once with the
  * workload's own operations.
  */
trait Workload {
  /** Writes the inputs and builds the units' starting state in `state`;
    * returns the operations that ran.
    */
  def prepare(state: Path): Vector[Span]

  /** Runs one unit on a fresh copy of the starting state in `state` and
    * records its outputs for [[verify]] after its timed window.
    */
  def runUnit(state: Path): UnitRun

  /** Ends the run on the last unit's `state`: its layer numbers and its
    * attempted and failed operations.
    */
  def finish(state: Path): (Map[String, Double], Int, Int) = (Map.empty, 0, 0)

  /** Compares every recorded output with the oracle; the error if any. */
  def verify(): Option[String]

  /** Single-layer measurements made once, after the timed units, in a
    * traced run.
    */
  def layerCalls(): Map[String, Double]
}

object Workload {
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** A span around `body`, stamped on the clock of Spark's events. */
  def span[T](name: String, parent: String)(body: => T): (T, Span) = {
    val startMs = System.currentTimeMillis()
    val (r, secs) = timed(body)
    (r, Span(name, parent, startMs, System.currentTimeMillis(), Map("seconds" -> secs)))
  }

  def dirBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L else {
      val walk = Files.walk(dir)
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally walk.close()
    }

  def digest(items: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    items.foreach { s => md.update(s.getBytes("UTF-8")); md.update(0.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Median over `passes` of the mean nanoseconds per call of `f` over `keys`. */
  def perCallNs[K](keys: IndexedSeq[K], passes: Int)(f: K => Any): Double = {
    var sink = 0
    val perPass = (0 until passes).map { _ =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < keys.size) { sink += f(keys(i)).hashCode; i += 1 }
      (System.nanoTime() - t0).toDouble / keys.size
    }
    // a use of the results, so the JIT cannot drop the calls
    if (sink == 42) System.err.print("")
    median(perPass)
  }

  def logFailure(what: String, e: Throwable): Unit =
    System.err.println(s"[perfbench] $what failed: $e")
}

/** `crawl_deep`: the crawl driven one generation per
  * `CrawlEngine.run(seeds, maxRounds = 1)` call. The starting state holds
  * the first generations; a unit runs the next ones. The run ends with one
  * timed `maintain()`, a layer number outside the crawl wall.
  */
final class CrawlWorkload(spark: SparkSession, in: Inputs.CrawlInput) extends Workload {
  import Workload._

  private case class Output(seen: Int, seenDigest: String, orderDigest: String)
  private val outputs = mutable.ArrayBuffer.empty[Output]
  private lazy val oracle = SequentialOracle.run(in.cfg, in.queries, in.batchSize,
    maxRounds = in.generations, expandTopK = in.expandTopK)
  private var lastEngine: Option[CrawlEngine] = None

  private def outputOf(seen: Set[String], order: Vector[String]): Output =
    Output(seen.size, digest(seen.toVector.sorted.iterator), digest(order.iterator))

  private def engineAt(state: Path): CrawlEngine =
    new CrawlEngine(spark, in.cfg, state.toString, in.batchSize,
      expandTopK = in.expandTopK, autoMaintainSeenDirs = in.autoMaintainSeenDirs)

  private def generation(engine: CrawlEngine, g: Int): Span = {
    val (n, s) = span(s"generation-$g", "crawl")(engine.run(in.queries, maxRounds = 1))
    require(n == 1, s"generation $g ran $n generations")
    s
  }

  def prepare(state: Path): Vector[Span] = {
    val engine = engineAt(state)
    (1 to in.baseGenerations).map(generation(engine, _)).toVector
  }

  private def record(engine: CrawlEngine): Output = {
    val out = outputOf(engine.seenSet(), engine.crawlOrder())
    outputs += out
    out
  }

  def runUnit(state: Path): UnitRun = {
    val engine = engineAt(state)
    val baseSeen = engine.seenT.currentSnapshot.map(_.rowCount).getOrElse(0L)
    var attempted = 0
    try {
      val ops = (in.baseGenerations + 1 to in.generations).map { g =>
        attempted += 1
        generation(engine, g)
      }.toVector
      val crawlS = ops.map(_.seconds).sum
      val out = record(engine)
      lastEngine = Some(engine)
      val tables = Seq(engine.seenT, engine.linksT, engine.docsT, engine.imagesT, engine.pdfT,
        engine.processedT, engine.hostStateT, engine.metricsT, engine.eventsT, engine.frontierT,
        engine.partitionMetricsT, engine.bloomT, engine.cuckooT)
      UnitRun(crawlS, ops, out.seen - baseSeen, crawlS,
        Map("snapshot.commit_dirs" -> tables.map(_.commitDirCount).sum.toDouble,
          "operators.cuckoo_hosts" -> engine.cuckooT.currentSnapshot.map(_.rowCount).getOrElse(0L).toDouble,
          "operators.bloom_buckets" -> engine.bloomT.currentSnapshot.map(_.rowCount).getOrElse(0L).toDouble),
        attempted, 0)
    } catch {
      case NonFatal(e) =>
        logFailure(s"crawl generation $attempted of a unit", e)
        UnitRun(0, Vector.empty, 0, 0, Map.empty, attempted, 1)
    }
  }

  /** One timed `maintain()`; the seen set and crawl order it leaves are
    * checked like every unit's.
    */
  override def finish(state: Path): (Map[String, Double], Int, Int) =
    try {
      val engine = engineAt(state)
      val maintainS = timed(engine.maintain())._2
      record(engine)
      (Map("snapshot.maintain_s" -> maintainS), 1, 0)
    } catch {
      case NonFatal(e) =>
        logFailure("maintain", e)
        (Map.empty, 1, 1)
    }

  def verify(): Option[String] = {
    val expected = outputOf(oracle.seen, oracle.crawlOrder)
    outputs.zipWithIndex.collectFirst {
      case (o, i) if o != expected =>
        s"crawl unit $i: seen ${o.seen} vs oracle ${expected.seen}, " +
          s"seen set ${if (o.seenDigest == expected.seenDigest) "equal" else "differs"}, " +
          s"crawl order ${if (o.orderDigest == expected.orderDigest) "equal" else "differs"}"
    }
  }

  def layerCalls(): Map[String, Double] = {
    // a seeded sample of this run's URLs
    val seen = oracle.seen.toVector.sorted
    val sample = (0 until 400).map(i => seen(bounded(det(in.cfg.seed, "sample", i), seen.size)))
    val pages = sample.map(u => u -> SyntheticWeb.fetch(in.cfg, u)).collect { case (u, Some(h)) => (u, h) }
    val fetchNs = perCallNs(sample, 5)(u => SyntheticWeb.fetch(in.cfg, u))
    val extractNs = perCallNs(pages, 5) { case (u, h) => SpanExtractor.extract(u, h) }
    // membership probes: half seen URLs, half never-seen ones
    val probes = sample ++ sample.map(_ + "#unseen")
    val bloom = BlockedBloom.sized(seen.size.toLong, 12)
    seen.foreach(bloom.add)
    val cuckoo = CuckooFilter.sized(seen.size.toLong)
    seen.foreach(cuckoo.insert)
    val bloomNs = perCallNs(probes, 9)(bloom.mightContain)
    val cuckooNs = perCallNs(probes, 9)(cuckoo.contains)
    // the engine's own counters of the last unit's generations (the
    // `metrics` table)
    val counters = lastEngine.flatMap(_.metricsT.read(spark)).map { df =>
      df.filter(df("generation") > in.baseGenerations).groupBy("key").sum("value")
        .collect().map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
    }.getOrElse(Map.empty[String, Double])
    val cand = counters.getOrElse("candidates", 0.0)
    def perCandidate(k: String): Double = if (cand > 0) counters.getOrElse(k, 0.0) / cand else 0.0
    Map("synth.fetch_us" -> fetchNs / 1e3, "functions.extract_us" -> extractNs / 1e3,
      "operators.bloom_probe_ns" -> bloomNs, "operators.cuckoo_probe_ns" -> cuckooNs,
      "pipeline.skip_ratio" -> perCandidate("skipped"),
      "pipeline.new_per_candidate" -> perCandidate("new"))
  }
}

/** `neardup`: the corpus drained by `DedupStream.ingest` one file per
  * micro-batch with a redirects table, then resolved one-shot by
  * `TextDedup.simhashNearDups` + `TextDedup.resolveClusters`. The starting
  * state is the stream after its first files; a unit drains the rest.
  */
final class NearDupWorkload(spark: SparkSession, corpus: Inputs.Corpus, srcDir: Path)
    extends Workload {
  import Workload._
  import spark.implicits._

  val Threshold = 0.8
  val SimhashThreshold = 0.9

  private case class Output(pairs: Set[(Long, Long)], view: Set[(Long, Long, Boolean)],
                            simhash: Set[(Long, Long)], resolved: Set[(Long, Long, Boolean)])
  private val outputs = mutable.ArrayBuffer.empty[Output]

  private def docsDf: DataFrame = spark.read.parquet(srcDir.toString)
  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select($"a", $"b").as[(Long, Long)].collect().toSet
  private def viewSet(df: DataFrame): Set[(Long, Long, Boolean)] =
    df.select($"doc_id", $"survivor_id", $"kept").as[(Long, Long, Boolean)].collect().toSet

  private val firstFileMs = System.currentTimeMillis() - 3600L * 1000

  /** One parquet file per micro-batch, with increasing modification times
    * so the file source takes them in order.
    */
  private def writeFile(k: Int): Unit = {
    val tmp = srcDir.resolveSibling(s"${srcDir.getFileName}-tmp-$k")
    corpus.files(k).toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val listing = Files.list(tmp)
    val part = try listing.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
    finally listing.close()
    val dst = srcDir.resolve(f"$k%03d.parquet")
    Files.move(part, dst, StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(dst, FileTime.fromMillis(firstFileMs + k * 1000L))
    val rest = Files.walk(tmp)
    try rest.iterator().asScala.toVector.reverse.foreach(Files.delete) finally rest.close()
  }

  private case class Tables(corpusT: SnapshotTable, pairsT: SnapshotTable,
                            indexT: SnapshotTable, redirT: SnapshotTable) {
    def all: Seq[SnapshotTable] = Seq(corpusT, pairsT, indexT, redirT)
  }
  private def tables(state: Path): Tables = {
    val store = SnapshotStore(state.resolve("store").toString)
    Tables(store.table("corpus"), store.table("near_dup_pairs"), store.table("band_index"),
      store.table("redirects"))
  }

  /** Drains every file not yet in the stream's checkpoint; the batches run. */
  private def drain(state: Path): Vector[Span] = {
    val t = tables(state)
    val q = DedupStream.ingest(spark, srcDir.toString, t.corpusT, t.pairsT, t.indexT,
      state.resolve("checkpoint").toString, threshold = Threshold, redirectsTable = Some(t.redirT))
    try q.awaitTermination() finally q.stop()
    q.exception.foreach(e => throw e)
    q.recentProgress.filter(_.numInputRows > 0).map(BatchListener.spanOf).toVector
  }

  def prepare(state: Path): Vector[Span] = {
    Files.createDirectories(srcDir)
    (0 until Inputs.BaseFiles).foreach(writeFile)
    val base = drain(state)
    require(base.size == Inputs.BaseFiles, s"base drain ran ${base.size} micro-batches")
    (Inputs.BaseFiles until corpus.files.size).foreach(writeFile)
    base
  }

  def runUnit(state: Path): UnitRun = {
    val t = tables(state)
    val unitFiles = corpus.files.size - Inputs.BaseFiles
    var attempted = 0
    try {
      attempted += unitFiles
      val (batches, drainS) = timed(drain(state))
      require(batches.size == unitFiles, s"drain ran ${batches.size} micro-batches for $unitFiles files")
      attempted += 2
      val ((simhash, resolved), oneShotS) = timed {
        val docs = docsDf
        (pairSet(TextDedup.simhashNearDups(docs, SimhashThreshold)),
          viewSet(TextDedup.resolveClusters(docs, Threshold, TextAnalysis.qualityScore)))
      }
      outputs += Output(pairSet(t.pairsT.read(spark).get),
        viewSet(DedupStream.latestRedirects(spark, t.redirT)), simhash, resolved)
      val docs = corpus.files.drop(Inputs.BaseFiles).map(_.size.toLong).sum
      UnitRun(drainS + oneShotS, batches, docs, drainS,
        Map("ml.dedup_batch_s" -> oneShotS,
          "snapshot.commit_dirs" -> t.all.map(_.commitDirCount).sum.toDouble),
        attempted, 0)
    } catch {
      case NonFatal(e) =>
        logFailure(s"neardup operation $attempted of a unit", e)
        UnitRun(0, Vector.empty, 0, 0, Map.empty, attempted, 1)
    }
  }

  def verify(): Option[String] = {
    val scored = TextDedup.jaccardPairs(docsDf, Threshold)
      .select($"a", $"b", $"shared", $"na", $"nb").as[(Long, Long, Long, Long, Long)].collect()
    val exact = scored.map(p => (p._1, p._2)).toSet
    val exactSimhash = scored.collect {
      case (a, b, shared, na, nb) if shared.toDouble / (na + nb - shared) >= SimhashThreshold => (a, b)
    }.toSet
    val members = exact.flatMap { case (a, b) => Seq(a, b) }
    def diff[T](what: String, got: Set[T], want: Set[T]): Option[String] =
      if (got == want) None
      else Some(s"$what: ${(got -- want).size} extra, ${(want -- got).size} missing")
    diff("planted pairs vs jaccardPairs", corpus.planted, exact).orElse(
      outputs.zipWithIndex.iterator.flatMap { case (o, i) =>
        diff(s"neardup unit $i drained pairs", o.pairs, exact)
          .orElse(diff(s"neardup unit $i simhash pairs", o.simhash, exactSimhash))
          .orElse(diff(s"neardup unit $i drained redirects", o.view,
            o.resolved.filter { case (d, _, _) => members(d) }))
      }.nextOption())
  }

  def layerCalls(): Map[String, Double] = {
    val docs = docsDf
    val minhash = TextDedup.minhashLshCandidates(docs).count()
    val simhash = TextDedup.simhashCandidates(docs).count()
    val verified = TextDedup.simhashNearDups(docs, SimhashThreshold).localCheckpoint()
    val nVerified = verified.count()
    val (_, ccS) = timed(TextDedup.connectedComponents(verified.select($"a", $"b")).collect())
    Map("ml.minhash_candidates" -> minhash.toDouble, "ml.simhash_candidates" -> simhash.toDouble,
      "ml.verified_pairs" -> nVerified.toDouble,
      "ml.lsh_precision" -> (if (minhash > 0) nVerified.toDouble / minhash else 0.0),
      "ml.cc_s" -> ccS)
  }
}
