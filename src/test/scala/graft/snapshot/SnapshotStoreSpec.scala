package graft.snapshot

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import scala.jdk.CollectionConverters._

class SnapshotStoreSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshTable(tag: String): SnapshotTable =
    SnapshotStore(Files.createTempDirectory(s"graft-snap-$tag").toString).table("t")

  test("append commits accumulate; replace supersedes; deltas from manifests") {
    val t = freshTable("basic")
    assert(t.isEmpty && t.read(spark).isEmpty)
    val m0 = t.append(Seq((1, "a"), (2, "b")).toDF("id", "v"), 1)
    assert(m0.snapshotId == 0 && m0.rowCount == 2 && t.deltaRows(m0) == 2)
    val m1 = t.append(Seq((3, "c")).toDF("id", "v"), 2)
    assert(m1.parentId == 0 && m1.rowCount == 3 && t.deltaRows(m1) == 1)
    assert(t.read(spark).get.count() == 3)
    val m2 = t.replace(Seq((9, "z")).toDF("id", "v"), 3)
    assert(m2.rowCount == 1)
    assert(t.read(spark).get.as[(Int, String)].collect().toSet == Set((9, "z")))
  }

  test("time travel reads any snapshot; history is ordered") {
    val t = freshTable("tt")
    t.append(Seq((1, "a")).toDF("id", "v"), 1)
    t.append(Seq((2, "b")).toDF("id", "v"), 2)
    t.append(Seq((3, "c")).toDF("id", "v"), 3)
    assert(t.history.map(_.snapshotId) == Seq(0L, 1L, 2L))
    assert(t.read(spark, at = Some(0L)).get.count() == 1)
    assert(t.read(spark, at = Some(1L)).get.count() == 2)
    assert(t.read(spark).get.count() == 3)
  }

  test("rollbackToGeneration discards later commits atomically; to zero empties") {
    val t = freshTable("rb")
    t.append(Seq((1, "a")).toDF("id", "v"), 1)
    t.append(Seq((2, "b")).toDF("id", "v"), 2)
    t.append(Seq((3, "c")).toDF("id", "v"), 3)
    t.rollbackToGeneration(2)
    assert(t.currentSnapshot.get.generation == 2 && t.read(spark).get.count() == 2)
    // rolled-back snapshots remain readable by id (orphaned, not deleted)
    assert(t.read(spark, at = Some(2L)).get.count() == 3)
    t.rollbackToGeneration(0)
    assert(t.read(spark).isEmpty && t.currentSnapshotId.isEmpty)
    // table is reusable after full rollback
    val m = t.append(Seq((4, "d")).toDF("id", "v"), 1)
    assert(m.snapshotId == 0 || m.rowCount == 1)
  }

  test("compact bin-packs the file list; rows and counters survive; history stays readable") {
    val t = freshTable("compact")
    // 5 appends x 4 shuffle partitions -> ~20 small files
    (1 to 5).foreach(g => t.append(
      (1 to 50).map(i => (g * 100 + i, s"v$i")).toDF("id", "v").repartition(4), g))
    val before = t.currentSnapshot.get
    assert(before.files.size >= 10)
    val meta = t.compact(spark, targetFileBytes = 1L << 30).get // everything into 1 file
    assert(meta.files.size == 1, s"expected 1 file, got ${meta.files.size}")
    assert(meta.rowCount == 250 && meta.generation == before.generation)
    assert(t.read(spark).get.as[(Int, String)].collect().toSet ==
      (for (g <- 1 to 5; i <- 1 to 50) yield (g * 100 + i, s"v$i")).toSet)
    // pre-compaction snapshot still time-travels (until vacuum)
    assert(t.read(spark, at = Some(before.snapshotId)).get.count() == 250)
    // already-compact table: no-op
    assert(t.compact(spark, targetFileBytes = 1L << 30).isEmpty)
  }

  test("bucketed commits: per-dir bucket registry, one bucket-aligned scan, bucket-preserving compact") {
    import org.apache.spark.sql.functions.{col, xxhash64}
    val t = freshTable("bucketed")
    def rows(g: Int) = (1 to 100).map(i => (g * 1000 + i).toLong).toDF("id")
      .select(xxhash64(col("id")).as("h"), col("id"))
    val m1 = t.appendBucketed(rows(1), 1, buckets = 4, bucketCol = "h")
    assert(m1.dirBuckets.contains(Map("s0" -> "4:h")))
    // one file per bucket (the repartition aligned tasks to buckets)
    assert(m1.files.size == 4, s"expected 4 bucket files, got ${m1.files.size}")
    val m2 = t.appendBucketed(rows(2), 2, buckets = 4, bucketCol = "h")
    assert(m2.dirBuckets.contains(Map("s0" -> "4:h", "s1" -> "4:h")))
    assert(t.bucketSpec.contains((4, "h")))

    // bucketed read: ONE scan over both commit dirs reporting the bucketing
    // — a self-join on the bucket column plans with NO exchange on either
    // side
    val scan = t.readBucketed(spark).get
    assert(scan.count() == 200)
    assert(t.read(spark).get.count() == 200, "plain read still works on bucketed dirs")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      // join keys == bucket columns exactly: Spark requires ALL cluster
      // keys to match the bucket spec for co-partitioning
      val joined = scan.as("a").join(scan.as("b"), Seq("h"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucket-aligned self-join must plan zero shuffle exchanges:\n$plan")
      assert(joined.count() == 200)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)

    // compact folds the dirs but PRESERVES the bucket layout
    val mc = t.compact(spark).get
    assert(mc.files.size == 4 && mc.rowCount == 200)
    assert(t.bucketSpec.contains((4, "h")))
    assert(t.commitDirCount == 1 && t.readBucketed(spark).get.count() == 200)
    assert(t.read(spark).get.select("id").as[Long].collect().toSet ==
      ((1 to 100).map(i => 1000L + i) ++ (1 to 100).map(i => 2000L + i)).toSet)
    // compacted bucketed table: no-op
    assert(t.compact(spark).isEmpty)
  }

  test("bucketIdOfLong replicates the bucketed writer's pmod(murmur3) routing exactly") {
    // a divergence here is a SILENT recall loss for every file-skipped
    // probe, so pin the driver-side replica against Spark's own expression
    // on a spread of keys and bucket counts
    import org.apache.spark.sql.functions.{col, hash, pmod, lit}
    val keys = ((-50L to 50L) ++ Seq(Long.MinValue, Long.MaxValue, 0L)
      ++ (1 to 50).map(i => graft.util.Hashing.det(3L, i))).distinct
    Seq(1, 4, 32, 4096).foreach { n =>
      val fromSpark = keys.toDF("k")
        .select(col("k"), pmod(hash(col("k")), lit(n)).as("b"))
        .as[(Long, Int)].collect().toMap
      keys.foreach { k =>
        assert(SnapshotStore.bucketIdOfLong(k, n) == fromSpark(k),
          s"bucket id mismatch for key=$k n=$n")
      }
    }
  }

  test("readBucketSkipped reads exactly the kept buckets' files; plain dirs always kept") {
    import org.apache.spark.sql.functions.{col, xxhash64}
    val t = freshTable("bskip")
    def rows(g: Int) = (1 to 200).map(i => (g * 1000 + i).toLong).toDF("id")
      .select(xxhash64(col("id")).as("h"), col("id"))
    t.appendBucketed(rows(1), 1, buckets = 8, bucketCol = "h")
    t.appendBucketed(rows(2), 2, buckets = 8, bucketCol = "h")
    val all = t.read(spark).get.select($"h", $"id").as[(Long, Long)].collect()
    val keep = Set(0, 3, 7)
    val got = t.readBucketSkipped(spark, "h", (n, b) => { assert(n == 8); keep(b) }).get
    // exact row set: every row whose key routes to a kept bucket, no others
    val want = all.filter { case (h, _) => keep(SnapshotStore.bucketIdOfLong(h, 8)) }.toSet
    assert(got.select($"h", $"id").as[(Long, Long)].collect().toSet == want)
    assert(want.nonEmpty && want.size < all.length, "fixture must make the skip observable")
    // and the skip is FILE-level: only kept buckets' files are even listed
    assert(got.inputFiles.length == 2 * keep.size,
      s"expected ${2 * keep.size} files, scanned ${got.inputFiles.length}")
    // a dir bucketed on a DIFFERENT column than the probe's keys is read in
    // full — pruning it by ids routed under another column's hash would
    // silently drop matching rows
    val mismatch = t.readBucketSkipped(spark, "id", (_, _) => false).get
    assert(mismatch.select($"h", $"id").as[(Long, Long)].collect().toSet == all.toSet)
    // a plain (non-bucketed) dir is never skipped
    t.append(Seq((42L, 42L)).toDF("h", "id"), 3)
    val withPlain = t.readBucketSkipped(spark, "h", (_, _) => false).get
    assert(withPlain.as[(Long, Long)].collect().toSet == Set((42L, 42L)))
    // every file skipped and no plain dir -> None
    val t2 = freshTable("bskip2")
    t2.appendBucketed(rows(1), 1, buckets = 8, bucketCol = "h")
    assert(t2.readBucketSkipped(spark, "h", (_, _) => false).isEmpty)
  }

  test("every read plans from the manifest: zero Spark jobs to build it over 33+ dirs; rows equal spark.read.parquet") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, xxhash64}
    val t = freshTable("plan")
    // 34 dirs: more roots than spark.read's 32-path parallel-listing threshold
    (1 to 34).foreach(g => t.appendBucketed((1 to 20).map(i => (g * 1000 + i).toLong).toDF("id")
      .select(xxhash64(col("id")).as("h"), col("id")), g, buckets = 2, bucketCol = "h"))
    assert(t.commitDirCount == 34 && t.currentSnapshot.get.files.size == 68)
    val sc = spark.sparkContext
    // the job group of every job started, tagged per read while it is BUILT
    // (planned, no action run)
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach(started.add)
    }
    def inGroup[A](group: String)(body: => A): A = {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    val built = try {
      val reads = Seq(
        "read" -> inGroup("read")(t.read(spark)),
        "read-at" -> inGroup("read-at")(t.read(spark, at = Some(5L))),
        "read-bucketed" -> inGroup("read-bucketed")(t.readBucketed(spark)),
        "read-skipped" -> inGroup("read-skipped")(t.readBucketSkipped(spark, "h", (_, b) => b == 1)))
      // a marker job after every build: the listener queue is FIFO, so once
      // its start arrives every earlier job start has been delivered
      inGroup("drain")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!started.contains("drain") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(started.contains("drain"), "listener events were not drained")
      reads.map { case (g, df) => g -> df.get }
    } finally sc.removeSparkListener(listener)
    val jobs = built.map { case (g, _) => g -> started.asScala.count(_ == g) }
    assert(jobs.forall(_._2 == 0), s"Spark jobs started while planning each read: $jobs")
    def rowsOf(df: DataFrame) = df.select($"h", $"id").as[(Long, Long)].collect().sorted.toSeq
    def parquetOf(files: Seq[DataFileMeta]) = rowsOf(spark.read.parquet(files.map(_.path): _*))
    val cur = t.currentSnapshot.get.files
    val oddBucket = cur.filter(f => org.apache.spark.sql.execution.datasources.BucketingUtils
      .getBucketId(java.nio.file.Paths.get(f.path).getFileName.toString).contains(1))
    val want = Map("read" -> parquetOf(cur), "read-at" -> parquetOf(t.snapshot(5L).files),
      "read-bucketed" -> parquetOf(cur), "read-skipped" -> parquetOf(oddBucket))
    assert(oddBucket.size == 34 && want("read-at").size == 6 * 20)
    built.foreach { case (g, df) => assert(rowsOf(df) == want(g), s"$g rows differ") }
  }

  test("mixed bucketed/plain dirs: no table-level spec, no bucketed scan until rebucketed") {
    import org.apache.spark.sql.functions.{col, xxhash64}
    val t = freshTable("mixed")
    t.append((1 to 10).map(_.toLong).toDF("id")
      .select(xxhash64(col("id")).as("h"), col("id")), 1)
    t.appendBucketed((11 to 20).map(_.toLong).toDF("id")
      .select(xxhash64(col("id")).as("h"), col("id")), 2, buckets = 4, bucketCol = "h")
    assert(t.bucketSpec.isEmpty, "mixed dirs must not claim a uniform bucket spec")
    // no bucketed scan of a mixed table: it must be healed first
    intercept[IllegalStateException](t.readBucketed(spark))
    // rebucket: the mixed chain heals to ONE uniformly bucketed dir; rows,
    // generation and counters preserved
    val before = t.read(spark).get.as[(Long, Long)].collect().toSet
    val gen = t.currentSnapshot.get.generation
    val m = t.rebucket(spark, 4, "h").get
    assert(t.bucketSpec.contains((4, "h")) && m.generation == gen)
    val healed = t.readBucketed(spark).get
    val relations = healed.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l.relation
    }
    assert(relations.size == 1, s"expected ONE scan, got $relations")
    assert(relations.collect {
      case r: org.apache.spark.sql.execution.datasources.HadoopFsRelation => r.bucketSpec
    } == Seq(Some(org.apache.spark.sql.catalyst.catalog.BucketSpec(4, Seq("h"), Nil))))
    assert(healed.as[(Long, Long)].collect().toSet == before)
    assert(t.read(spark).get.as[(Long, Long)].collect().toSet == before)
  }

  test("tiered compact folds ONLY the smallest dirs; rows, bucketing, bucketed scan preserved") {
    import org.apache.spark.sql.functions.{col, xxhash64}
    val t = freshTable("tiered")
    def rows(g: Int, n: Int) = (1 to n).map(i => (g * 1000 + i).toLong).toDF("id")
      .select(xxhash64(col("id")).as("h"), col("id"))
    // dir sizes 100/10/10/10/40 — the three 10-row dirs are the fold set
    val sizes = Seq(100, 10, 10, 10, 40)
    sizes.zipWithIndex.foreach { case (n, g) => t.appendBucketed(rows(g + 1, n), g + 1, 4, "h") }
    assert(t.commitDirCount == 5)
    val all = t.read(spark).get.select("id").as[Long].collect().toSet
    val m = t.compactTiered(spark, targetDirs = 3).get
    assert(t.commitDirCount == 3 && m.rowCount == sizes.sum)
    // the two LARGE dirs (s0: 100 rows, s4: 40 rows) are retained verbatim —
    // their files never rewrite (the size-tiered write-amplification point)
    val liveDirs = m.files
      .map(f => java.nio.file.Paths.get(f.path).getParent.getFileName.toString).toSet
    assert(liveDirs == Set("s0", "s4", "s5"), s"got $liveDirs")
    // layout survives: uniform spec, every dir registered, one scan reads every row
    assert(t.bucketSpec.contains((4, "h")))
    assert(m.dirBuckets.get.keySet == liveDirs)
    assert(t.readBucketed(spark).get.count() == sizes.sum)
    assert(t.read(spark).get.select("id").as[Long].collect().toSet == all)
    // within bounds → no-op; plain (unbucketed) table → no-op
    assert(t.compactTiered(spark, 3).isEmpty)
    val p = freshTable("tiered-plain")
    (1 to 3).foreach(g => p.append(Seq((g, "x")).toDF("id", "v"), g))
    assert(p.compactTiered(spark, 1).isEmpty)
  }

  test("vacuum expires history and deletes unreferenced data files; current chain unaffected") {
    val t = freshTable("vacuum")
    (1 to 4).foreach(g => t.append(Seq((g, s"v$g")).toDF("id", "v"), g))
    t.rollbackToGeneration(2) // snapshots 2 and 3 become rollback orphans
    val tip = t.currentSnapshot.get // snapshot 1
    val deleted = t.vacuum(keepSnapshots = 2)
    assert(deleted > 0, "the rollback orphans' data files must be deleted")
    // current chain reads intact
    assert(t.read(spark).get.as[(Int, String)].collect().toSet ==
      Set((1, "v1"), (2, "v2")))
    assert(t.currentSnapshot.get.snapshotId == tip.snapshotId)
    // expired manifests are gone; kept chain remains
    assert(t.history.map(_.snapshotId).toSet == Set(0L, 1L))
    // commits keep working after vacuum
    val m = t.append(Seq((5, "v5")).toDF("id", "v"), 3)
    assert(t.read(spark).get.count() == 3 && m.parentId == tip.snapshotId)
  }

  test("commit window: a failure surfaces only after every sibling commit lands; results in submission order") {
    val store = SnapshotStore(Files.createTempDirectory("graft-snap-window").toString)
    val (a, b) = (store.table("a"), store.table("b"))
    val sc = spark.sparkContext
    val pools = new java.util.concurrent.ConcurrentHashMap[String, String]()
    def inPool(name: String): Unit = pools.put(name, sc.getLocalProperty("spark.scheduler.pool"))
    // A throws at once while B is still a second away from committing: the
    // window may surface A's failure only once B's snapshot is current
    val e = intercept[IllegalStateException](CommitWindow(spark,
      "cw-a" -> { () => inPool("cw-a"); throw new IllegalStateException("a failed") },
      "cw-b" -> { () => inPool("cw-b"); Thread.sleep(1000); b.append(Seq(1L).toDF("x"), 1) }))
    assert(e.getMessage == "a failed")
    assert(b.currentSnapshotId.contains(0L), "the window threw before its sibling committed")
    assert(pools.asScala == Map("cw-a" -> "commit-cw-a", "cw-b" -> "commit-cw-b"))
    assert(sc.getLocalProperty("spark.scheduler.pool") == null,
      "the window leaked its pool into the calling thread")
    assert(!Thread.getAllStackTraces.keySet.asScala.exists(t =>
      t.getName.startsWith("commit-cw-") && t.isAlive), "a window thread outlived the window")
    // results come back in submission order, not completion order
    val metas = CommitWindow(spark,
      "cw-slow" -> { () => Thread.sleep(500); a.append(Seq(1L).toDF("x"), 2) },
      "cw-fast" -> (() => b.append(Seq(2L, 3L).toDF("x"), 3)))
    assert(metas.map(m => (m.generation, m.rowCount)) == Seq((2, 1L), (3, 3L)))
    // of several failures, the first submitted one is rethrown
    val first = intercept[RuntimeException](CommitWindow(spark,
      "cw-late" -> { () => Thread.sleep(300); throw new RuntimeException("late") },
      "cw-early" -> (() => throw new RuntimeException("early"))))
    assert(first.getMessage == "late")
  }
}
