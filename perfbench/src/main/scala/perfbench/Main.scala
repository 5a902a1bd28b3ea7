package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run: set-up and warm-up, then fixed-size units of one
  * workload repeated for the requested seconds as a single closed-loop
  * client, then the output checks. Writes the raw metric values as JSON
  * to `--result`; `run.py` attaches units and prints them.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --work <dir> --result <file> --trace-out <dir>
  */
object Main {
  val Cores = 4
  private val MinWarmUnits = 1
  private val MaxWarmUnits = 2
  /** Warm-up ends once an operation's wall is within this share of the
    * previous one's. The first generation or micro-batch in a JVM takes
    * 1.4-1.6 times as long as the next.
    */
  private val Settled = 0.45
  /** No new unit starts this long after JVM start (the run must end in 180 s). */
  private val LastUnitStartS = 120.0

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.showConsoleProgress", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def workload(name: String, seed: Long, spark: SparkSession, work: Path): Workload = name match {
    case "crawl_deep" => new CrawlWorkload(spark, Inputs.crawlDeep(seed))
    case "neardup" => new NearDupWorkload(spark, Inputs.neardup(seed), work.resolve("neardup-src"))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.iterator().asScala.toVector.reverse.foreach(Files.deleteIfExists) finally walk.close()
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.iterator().asScala.foreach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    } finally walk.close()
  }

  /** Heap in use after a full GC. The second GC runs after Spark's context
    * cleaner has had a moment to drop the blocks of DataFrames the first one
    * found unreachable.
    */
  private def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  private def json(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${if (v.isNaN || v.isInfinite) 0.0 else v}""" }
      .mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    def sinceStartS: Double = (System.currentTimeMillis() - jvmStartMs) / 1e3
    import Workload.median

    var spark = session(Cores, work)
    val wl = workload(name, seed, spark, work)
    // every unit starts from a byte copy of the state built here, restored
    // at the same path, since the snapshot manifests hold absolute paths
    val state = work.resolve("state")
    val base = work.resolve("base")
    val baseOps = wl.prepare(state)
    copyTree(state, base)
    def runUnit(w: Workload): UnitRun = {
      deleteTree(state)
      copyTree(base, state)
      w.runUnit(state)
    }

    // warm-up: units until the wall of the workload's operation (a
    // generation, a micro-batch) settles against the one before it
    val warm = mutable.ArrayBuffer.empty[UnitRun]
    var lastOpS = baseOps.lastOption.map(_.seconds)
    var settled = false
    while (warm.size < MinWarmUnits || (!settled && warm.size < MaxWarmUnits)) {
      val u = runUnit(wl)
      warm += u
      val opS = median(u.ops.map(_.seconds))
      settled = u.failed == 0 && lastOpS.exists(prev => math.abs(opS - prev) <= Settled * prev)
      lastOpS = Some(opS)
    }
    heapAfterGcMb()
    val setupS = sinceStartS
    System.err.println(f"[perfbench] set-up $setupS%.2f s; operation walls: base " +
      baseOps.map(o => f"${o.seconds}%.2f").mkString(" ") + ", warm-up " +
      warm.map(u => u.ops.map(o => f"${o.seconds}%.2f").mkString(" ")).mkString(" | "))

    val heapMb = mutable.ArrayBuffer.empty[Double]
    // units run back to back (one closed-loop client) while the next one is
    // expected to end inside the budget; at least one runs
    def measure(budgetS: Double): Vector[UnitRun] = {
      val out = Vector.newBuilder[UnitRun]
      val walls = mutable.ArrayBuffer(warm.last.wallSeconds)
      val start = System.nanoTime()
      def elapsedS = (System.nanoTime() - start) / 1e9
      do {
        val u = runUnit(wl)
        heapMb += heapAfterGcMb()
        out += u
        walls += u.wallSeconds
      } while (elapsedS + median(walls.toSeq) <= budgetS && sinceStartS < LastUnitStartS)
      out.result()
    }

    val values = mutable.LinkedHashMap.empty[String, Double]
    val samples = mutable.LinkedHashMap.empty[String, Double]
    def ok(units: Vector[UnitRun]) = units.filter(_.failed == 0)

    val plain = measure(if (trace) seconds / 2 else seconds)
    val plainOk = ok(plain)
    if (plainOk.isEmpty) {
      System.err.println("[perfbench] every measured unit failed: no timing sample")
      System.exit(2)
    }
    val plainWall = median(plainOk.map(_.wallSeconds))
    val plainThroughput = median(plainOk.map(u => u.items / u.itemSeconds))

    var measured = plain

    var layers: Option[(LayerListener, BatchListener)] = None
    var traced = Vector.empty[UnitRun]
    if (trace) {
      val listener = new LayerListener(System.currentTimeMillis())
      val batches = new BatchListener
      spark.sparkContext.addSparkListener(listener)
      spark.streams.addListener(batches)
      traced = measure(seconds / 2)
      listener.untilMs = System.currentTimeMillis()
      measured = plain ++ traced
      layers = Some(listener -> batches)
      values ++= wl.layerCalls()
    }

    val (finishLayer, finishAttempted, finishFailed) = wl.finish(state)
    val storeMb = Workload.dirBytes(state) / 1e6
    if (!trace) {
      val ops = plainOk.flatMap(_.ops.map(_.seconds))
      values ++= Seq(
        "throughput_per_s" -> plainThroughput,
        "op_p50_s" -> median(ops),
        "run_wall_s" -> plainWall,
        "setup_s" -> setupS,
        "store_mb" -> storeMb,
        "heap_live_mb" -> heapMb.max)
      samples ++= Seq("throughput_per_s" -> plainOk.size, "op_p50_s" -> ops.size,
        "run_wall_s" -> plainOk.size, "setup_s" -> 1, "store_mb" -> 1,
        "heap_live_mb" -> heapMb.size).map { case (k, v) => k -> v.toDouble }
    } else values ++= finishLayer

    val (mismatch, verifyS) = Workload.timed(wl.verify())
    System.err.println(f"[perfbench] measured walls ${measured.map(u => f"${u.wallSeconds}%.2f").mkString(" ")}, checks $verifyS%.2f s")
    spark.stop()

    for ((listener, batchListener) <- layers) {
      // stopping the context drained the listener bus: the records are complete
      val tracedOk = ok(traced)
      val n = math.max(1, tracedOk.size).toDouble
      def perUnit(layer: String)(f: LayerTotals => Double): Double =
        listener.totals.get(layer).map(f).getOrElse(0.0) / n
      for (layer <- LayerListener.Layers.map(_._2)) {
        values(s"$layer.task_cpu_s") = perUnit(layer)(_.taskCpuNs / 1e9)
        values(s"$layer.gc_s") = perUnit(layer)(_.gcMs / 1e3)
        values(s"$layer.shuffle_mb") = perUnit(layer)(_.shuffleBytes / 1e6)
        values(s"$layer.spill_mb") = perUnit(layer)(_.spillBytes / 1e6)
        values(s"$layer.jobs") = perUnit(layer)(_.jobs.toDouble)
      }
      val gens = if (name.startsWith("crawl")) tracedOk.flatMap(_.ops) else Vector.empty
      val streamBatches = batchListener.batches.toVector.filter(_.attrs("rows") > 0)
      values("pipeline.jobs_per_gen") = median(gens.map(listener.jobsIn(_).toDouble))
      values("pipeline.driver_idle_s") = median(gens.map(listener.idleSeconds))
      values("streaming.jobs_per_batch") = median(streamBatches.map(listener.jobsIn(_).toDouble))
      values("streaming.add_batch_s") = median(streamBatches.map(_.attrs("add_batch_s")))
      values("snapshot.write_mb") = listener.bytesWritten / 1e6 / n
      values("snapshot.read_mb") = listener.bytesRead / 1e6 / n
      for (k <- tracedOk.flatMap(_.layer.keys).distinct)
        values(k) = median(tracedOk.map(_.layer.getOrElse(k, 0.0)))
      values("trace.overhead_ratio") = median(tracedOk.map(_.wallSeconds)) / plainWall
      Trace.write(Paths.get(opt("trace-out")).resolve(s"$name-seed$seed.jsonl"),
        tracedOk.flatMap(_.ops) ++ streamBatches, listener)

      if (name == "crawl_deep") {
        // the north-rule N -> 4N ratio: one unit of the same input at local[1]
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
        spark = session(1, work)
        val one = runUnit(workload(name, seed, spark, work))
        System.err.println(f"[perfbench] local[1] unit wall ${one.wallSeconds}%.2f s")
        spark.stop()
        values("pipeline.scaling_1to4") =
          if (one.failed == 0) plainThroughput / (one.items / one.itemSeconds) / Cores else 0.0
      }
    }

    val attempted = measured.map(_.attempted).sum + finishAttempted
    val failed = measured.map(_.failed).sum + finishFailed
    mismatch.foreach(m => System.err.println(s"[perfbench] output check failed: $m"))
    val result = s"""{"correct":${mismatch.isEmpty},"attempted":$attempted,"failed":$failed,""" +
      s""""values":${json(values.toMap)},"samples":${json(samples.toMap)}}"""
    Files.writeString(Paths.get(opt("result")), result)
    System.exit(if (mismatch.isEmpty) 0 else 1)
  }
}
