package graft.streaming

import graft.SparkTestSession
import graft.ml.TextDedup
import graft.snapshot.{SnapshotStore, SnapshotTable}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}

class DedupStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** 200 hash-random words per doc (the MlSpec construction): cross-doc
    * shingle overlap ≈ 0, a one-token append keeps Jaccard ≈ 0.99.
    */
  private def doc(seed: Int): String =
    (0 until 200)
      .map(j => s"w${graft.util.Hashing.bounded(graft.util.Hashing.det(11L, seed, j), 400)}")
      .mkString(" ")

  private def writeFile(dir: Path, name: String, rows: Seq[(Long, String)]): Unit = {
    import scala.jdk.CollectionConverters._
    val tmp = Files.createTempDirectory("graft-dstream-part")
    rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val listing = Files.list(tmp)
    val part = try listing.iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")) finally listing.close()
    Files.move(part.getOrElse(fail("no parquet part written")), dir.resolve(name))
  }

  // three micro-batches with duplicates WITHIN a batch, ACROSS adjacent
  // batches, a 3-doc cluster split across batches, and a late arrival
  // (2005) that joins a cluster ALREADY resolved two batches earlier —
  // the affected-cluster-rewrite path of the redirect maintenance
  private lazy val (srcDir, allDocs) = {
    val d = Files.createTempDirectory("graft-dstream-src")
    val f0 = (0 until 20).map(i => (i.toLong, doc(i))) :+ (1005L, doc(5) + " zzz")
    val f1 = (20 until 40).map(i => (i.toLong, doc(i))) :+ (1000L, doc(0) + " zzz")
    val f2 = (40 until 50).map(i => (i.toLong, doc(i))) ++
      Seq((1025L, doc(25) + " zzz"), (1040L, doc(40) + " zzz"), (2040L, doc(40) + " yyy"),
        (2005L, doc(5) + " zzz www"))
    writeFile(d, "0.parquet", f0)
    writeFile(d, "1.parquet", f1)
    writeFile(d, "2.parquet", f2)
    (d.toString, f0 ++ f1 ++ f2)
  }

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select($"a", $"b").as[(Long, Long)].collect().toSet

  test("streaming near-dup drain equals the full-batch pair set, one file per micro-batch") {
    val store = SnapshotStore(Files.createTempDirectory("graft-dstream").toString)
    val corpusT = store.table("corpus")
    val pairsT = store.table("near_dup_pairs")
    val indexT = store.table("band_index")
    val ckpt = Files.createTempDirectory("graft-dstream-ckpt").toString

    val redirT = store.table("redirects")
    val q = DedupStream.ingest(spark, srcDir, corpusT, pairsT, indexT, ckpt,
      threshold = 0.8, redirectsTable = Some(redirT))
    q.awaitTermination(120000)

    val batchPairs = pairSet(TextDedup.minhashNearDups(allDocs.toDF("doc_id", "text"), 0.8))
    val streamPairs = pairSet(pairsT.read(spark).getOrElse(fail("no pairs table")))
    assert(streamPairs == batchPairs)
    // the fixture exercises every arrival shape
    assert(batchPairs.contains((5L, 1005L)), "within-batch pair missing from the oracle")
    assert(batchPairs.contains((0L, 1000L)), "cross-batch pair missing from the oracle")
    assert(batchPairs.contains((1040L, 2040L)), "delta-internal pair of a split cluster missing")
    assert(batchPairs.contains((5L, 2005L)), "late join of an already-resolved cluster missing")

    // the maintained redirect view == the one-shot batch resolution over the
    // whole corpus: members match row-for-row; docs absent from the view are
    // exactly the batch singletons (implicit doc -> itself)
    val streamView = DedupStream.latestRedirects(spark, redirT)
      .select($"doc_id", $"survivor_id", $"kept")
      .as[(Long, Long, Boolean)].collect().toSet
    val batchResolve = TextDedup
      .resolveClusters(allDocs.toDF("doc_id", "text"), 0.8, graft.ml.TextAnalysis.qualityScore)
      .select($"doc_id", $"survivor_id", $"kept")
      .as[(Long, Long, Boolean)].collect().toSet
    val batchMembers = batchResolve.filter { case (d, s, _) =>
      batchPairs.exists(p => p._1 == d || p._2 == d || p._1 == s || p._2 == s) }
    assert(streamView == batchMembers,
      s"extra=${streamView -- batchMembers} missing=${batchMembers -- streamView}")
    // the late arrival REWROTE the cluster resolved two batches earlier:
    // 5, 1005, 2005 share one final survivor
    val merged = streamView.filter { case (d, _, _) => Set(5L, 1005L, 2005L)(d) }
    assert(merged.size == 3 && merged.map(_._2).size == 1,
      s"late-merged cluster not rewritten to one survivor: $merged")
    // corpus table accumulated every streamed doc, one generation per file
    assert(corpusT.read(spark).get.count() == allDocs.size)
    assert(corpusT.currentSnapshot.exists(_.generation == 3))
    // the persisted index is exactly the banding of the accumulated corpus
    // (union-of-batches == whole-corpus: banding is per-doc), stored bucketed
    val streamed = indexT.read(spark).get
      .select($"id", $"band", $"bkey").as[(Long, Int, Long)].collect().toSet
    val recomputed = TextDedup.bandIndexOf(allDocs.toDF("doc_id", "text"))
      .select($"id", $"band", $"bkey").as[(Long, Int, Long)].collect().toSet
    assert(streamed == recomputed)
    assert(indexT.bucketSpec.contains(
      (spark.conf.get("spark.sql.shuffle.partitions").toInt, "bkey")),
      "index must be stored bucketed by bkey at the session's shuffle parallelism")
  }

  test("ingest rejects a threshold outside [0.8, 1] before the stream starts") {
    val store = SnapshotStore(Files.createTempDirectory("graft-dstream-thr").toString)
    val ckpt = Files.createTempDirectory("graft-dstream-thr-ckpt")
    val active = spark.streams.active.length
    val e = intercept[IllegalArgumentException](DedupStream.ingest(spark, srcDir,
      store.table("corpus"), store.table("near_dup_pairs"), store.table("band_index"),
      ckpt.toString, threshold = 0.5))
    assert(e.getMessage.contains("[0.8, 1.0]"), e.getMessage)
    assert(spark.streams.active.length == active, "no streaming query may start")
    val listing = Files.list(ckpt)
    try assert(listing.count() == 0, "nothing may be written to the checkpoint") finally listing.close()
  }

  test("replay interleavings: full replay is a no-op; a partial crash completes only the missing appends") {
    val store = SnapshotStore(Files.createTempDirectory("graft-dstream-replay").toString)
    val corpusT = store.table("corpus")
    val pairsT = store.table("near_dup_pairs")
    val indexT = store.table("band_index")
    val redirT = store.table("redirects")
    val b0 = (0 until 5).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
    val b1 = Seq((1000L, doc(0) + " zzz")).toDF("doc_id", "text")

    DedupStream.commitBatch(spark, corpusT, pairsT, indexT, b0, batchId = 0L,
      threshold = 0.8, redirectsTable = Some(redirT))
    val (c0, p0, i0) =
      (corpusT.currentSnapshot.get, pairsT.currentSnapshot.get, indexT.currentSnapshot.get)
    // a pair-free batch must not write redirect rows (state already correct)
    assert(redirT.currentSnapshot.isEmpty, "empty pair set must not append redirects")
    // crash after the checkpoint window -> Spark replays the SAME batch id
    DedupStream.commitBatch(spark, corpusT, pairsT, indexT, b0, batchId = 0L,
      threshold = 0.8, redirectsTable = Some(redirT))
    assert(corpusT.currentSnapshot.get.snapshotId == c0.snapshotId)
    assert(pairsT.currentSnapshot.get.snapshotId == p0.snapshotId)
    assert(indexT.currentSnapshot.get.snapshotId == i0.snapshotId)
    assert(redirT.currentSnapshot.isEmpty)

    // partial crash: batch 1's PAIRS append committed, redirects, index and
    // corpus appends did not (the window right after the first append) —
    // replay must complete ALL THREE missing appends without duplicating
    // pairs, and the redirect recompute must see the corpus EXCLUDING b1
    val prePairs = TextDedup
      .minhashNearDupsIncremental(corpusT.read(spark).get, b1, 0.8, logDrops = false)
      .select($"a", $"b")
    pairsT.append(prePairs, generation = 2)
    val pAfterManual = pairsT.currentSnapshot.get
    DedupStream.commitBatch(spark, corpusT, pairsT, indexT, b1, batchId = 1L,
      threshold = 0.8, redirectsTable = Some(redirT))
    assert(pairsT.currentSnapshot.get.snapshotId == pAfterManual.snapshotId,
      "replay must not re-append pairs")
    assert(corpusT.currentSnapshot.exists(m => m.generation == 2 && m.rowCount == 6),
      "replay must complete the missing corpus append")
    assert(indexT.currentSnapshot.exists(_.generation == 2),
      "replay must complete the missing index append")
    assert(pairSet(pairsT.read(spark).get) == Set((0L, 1000L)))
    assert(redirT.currentSnapshot.exists(_.generation == 2),
      "replay must complete the missing redirects append")
    // equal quality (no stopwords in the hash-word fixture) -> min-id tie
    val view = DedupStream.latestRedirects(spark, redirT)
      .select($"doc_id", $"survivor_id", $"kept").as[(Long, Long, Boolean)].collect().toSet
    assert(view == Set((0L, 0L, true), (1000L, 0L, false)))
  }

  test("an index append that fails in the commit window: commitBatch throws after the corpus append settles, replay equals the uninjected drain") {
    // the index's next manifest path is taken by a directory, so its append
    // throws after its data is written while the corpus append runs beside
    // it. commitBatch must surface that only once the corpus append has
    // finished: the corpus snapshot may not move after the throw
    def tables(tag: String) = {
      val store = SnapshotStore(Files.createTempDirectory(s"graft-dstream-$tag").toString)
      (store.table("corpus"), store.table("near_dup_pairs"), store.table("band_index"),
        store.table("redirects"))
    }
    val b0 = (0 until 20).map(i => (i.toLong, doc(200 + i))).toDF("doc_id", "text")
    val b1 = ((20 until 40).map(i => (i.toLong, doc(200 + i))) ++
      Seq((1000L, doc(200) + " zzz"), (1025L, doc(225) + " zzz"))).toDF("doc_id", "text")
    def drain(t: (SnapshotTable, SnapshotTable, SnapshotTable, SnapshotTable),
              batches: Seq[DataFrame]): Unit =
      batches.zipWithIndex.foreach { case (b, i) =>
        DedupStream.commitBatch(spark, t._1, t._2, t._3, b, batchId = i.toLong,
          threshold = 0.8, redirectsTable = Some(t._4))
      }
    def state(t: (SnapshotTable, SnapshotTable, SnapshotTable, SnapshotTable)) = (
      t._1.read(spark).get.select($"doc_id").as[Long].collect().sorted.toSeq,
      pairSet(t._2.read(spark).get),
      t._3.read(spark).get.select($"id", $"band", $"bkey").as[(Long, Int, Long)].collect().toSet,
      DedupStream.latestRedirects(spark, t._4).as[(Long, Long, Boolean)].collect().toSet)

    val clean = tables("window-clean")
    drain(clean, Seq(b0, b1))
    val injected = tables("window-fail")
    val (corpusT, _, indexT, _) = injected
    drain(injected, Seq(b0))
    val plant = indexT.root.resolve("band_index").resolve("snapshots")
      .resolve(s"snapshot-${indexT.currentSnapshotId.get + 1}.json")
    Files.createDirectories(plant)
    intercept[java.io.IOException](DedupStream.commitBatch(spark, injected._1, injected._2,
      indexT, b1, batchId = 1L, threshold = 0.8, redirectsTable = Some(injected._4)))
    val atThrow = corpusT.currentSnapshotId
    Thread.sleep(3000)
    assert(corpusT.currentSnapshotId == atThrow, "the corpus append landed after commitBatch threw")
    Files.delete(plant)
    DedupStream.commitBatch(spark, injected._1, injected._2, indexT, b1, batchId = 1L,
      threshold = 0.8, redirectsTable = Some(injected._4))
    assert(state(injected) == state(clean))
    assert(state(clean)._2.nonEmpty, "fixture must produce pairs")
  }

  test("every micro-batch commit point (pairs, redirects, band_index, corpus) fails once: commitBatch throws with nothing left committing, replay equals the uninjected drain") {
    // batch 0 is committed once into a base store; each point then fails
    // the pairful batch 1 in its own byte copy of that store
    val b0 = (0 until 8).map(i => (i.toLong, doc(300 + i))).toDF("doc_id", "text")
    val b1 = ((8 until 16).map(i => (i.toLong, doc(300 + i))) ++
      Seq((1000L, doc(300) + " zzz"), (1012L, doc(312) + " zzz"))).toDF("doc_id", "text")
    val names = Seq("corpus", "near_dup_pairs", "band_index", "redirects")
    // every call, clean or failing, must release what it checkpointed.
    // Persisted RDDs are held in a weak-valued map: compare id sets, since
    // GC may drop unrelated entries during the call
    val sc = spark.sparkContext
    def commit(store: SnapshotStore, b: DataFrame, batchId: Long): Unit = {
      val Seq(c, p, i, r) = names.map(store.table)
      val cachedBefore = sc.getPersistentRDDs.keySet
      val result = scala.util.Try(DedupStream.commitBatch(spark, c, p, i, b, batchId,
        threshold = 0.8, redirectsTable = Some(r)))
      assert(sc.getPersistentRDDs.keySet.diff(cachedBefore).isEmpty,
        s"${store.root}: batch $batchId left RDDs persisted after commitBatch ${
          if (result.isFailure) "threw" else "returned"}")
      result.get
    }
    // every table's raw rows, sorted (duplicates kept), plus the redirect view
    def state(store: SnapshotStore) = (names.map { n =>
      store.table(n).read(spark).map(_.collect().map(_.toString).sorted.toSeq).getOrElse(Nil)
    }, DedupStream.latestRedirects(spark, store.table("redirects"))
      .as[(Long, Long, Boolean)].collect().toSet)
    val base = Files.createTempDirectory("graft-dstream-sweep-base")
    commit(SnapshotStore(base.toString), b0, 0L)
    def copyStore(): SnapshotStore = SnapshotStore(graft.StoreCopy(base).toString)
    val clean = copyStore()
    commit(clean, b1, 1L)
    val expected = state(clean)
    assert(expected._1(1).nonEmpty && expected._2.nonEmpty, "batch 1 must produce pairs and redirects")
    expected._1.zip(names).foreach { case (rows, n) =>
      assert(rows.distinct.size == rows.size, s"duplicate rows in the uninjected $n")
    }
    names.foreach { n =>
      val store = copyStore()
      val target = store.table(n)
      val plant = store.root.resolve(n).resolve("snapshots")
        .resolve(s"snapshot-${target.currentSnapshotId.fold(0L)(_ + 1)}.json")
      Files.createDirectories(plant)
      intercept[java.io.IOException](commit(store, b1, 1L))
      val ids = names.map(store.table(_).currentSnapshotId)
      Thread.sleep(500)
      assert(names.map(store.table(_).currentSnapshotId) == ids, s"$n: a commit landed after commitBatch threw")
      Files.delete(plant)
      commit(store, b1, 1L)
      assert(state(store) == expected, s"$n: replay differs from the uninjected drain")
    }
  }

  test("the in-run tiered band_index fold fails once: commitBatch throws after every append landed, replay equals the uninjected drain") {
    // at a 2-dir cadence batch 1's index append makes the index's second
    // dir, so the compactTiered commit right after the appends fails
    val b0 = (0 until 8).map(i => (i.toLong, doc(300 + i))).toDF("doc_id", "text")
    val b1 = ((8 until 16).map(i => (i.toLong, doc(300 + i))) ++
      Seq((1000L, doc(300) + " zzz"), (1012L, doc(312) + " zzz"))).toDF("doc_id", "text")
    val names = Seq("corpus", "near_dup_pairs", "band_index", "redirects")
    def commit(store: SnapshotStore, b: DataFrame, batchId: Long): Unit = {
      val Seq(c, p, i, r) = names.map(store.table)
      DedupStream.commitBatch(spark, c, p, i, b, batchId, threshold = 0.8, autoCompactDirs = 2,
        redirectsTable = Some(r))
    }
    def state(store: SnapshotStore) = (names.map { n =>
      store.table(n).read(spark).map(_.collect().map(_.toString).sorted.toSeq).getOrElse(Nil)
    }, DedupStream.latestRedirects(spark, store.table("redirects"))
      .as[(Long, Long, Boolean)].collect().toSet)
    val base = Files.createTempDirectory("graft-dstream-fold-base")
    commit(SnapshotStore(base.toString), b0, 0L)
    val clean = SnapshotStore(graft.StoreCopy(base).toString)
    commit(clean, b1, 1L)
    assert(clean.table("band_index").commitDirCount == 1, "the uninjected batch 1 must fold the index")
    val store = SnapshotStore(graft.StoreCopy(base).toString)
    val indexT = store.table("band_index")
    val plant = store.root.resolve("band_index").resolve("snapshots")
      .resolve(s"snapshot-${indexT.currentSnapshotId.get + 2}.json")
    Files.createDirectories(plant)
    intercept[java.io.IOException](commit(store, b1, 1L))
    assert(names.forall(store.table(_).currentSnapshot.exists(_.generation == 2)) &&
      indexT.commitDirCount == 2, "every append must land before the fold fails")
    Files.delete(plant)
    commit(store, b1, 1L)
    assert(indexT.commitDirCount == 1, "the replay must fold the index")
    assert(state(store) == state(clean), "replay differs from the uninjected drain")
  }

  test("compactRedirects folds latest-wins history to one row per doc; the stream keeps working after") {
    val store = SnapshotStore(Files.createTempDirectory("graft-dstream-compact").toString)
    val corpusT = store.table("corpus")
    val pairsT = store.table("near_dup_pairs")
    val indexT = store.table("band_index")
    val redirT = store.table("redirects")
    // batch 0: a 2-cluster {0, 1000} plus the singleton 7; batch 1: 2000
    // joins the cluster (supersedes 0's and 1000's rows); batch 2: an
    // unrelated pair {7, 1007}
    val b0 = Seq((0L, doc(0)), (1000L, doc(0) + " zzz"), (7L, doc(7))).toDF("doc_id", "text")
    val b1 = Seq((2000L, doc(0) + " zzz www")).toDF("doc_id", "text")
    val b2 = Seq((1007L, doc(7) + " zzz")).toDF("doc_id", "text")
    Seq(b0, b1, b2).zipWithIndex.foreach { case (b, i) =>
      DedupStream.commitBatch(spark, corpusT, pairsT, indexT, b, batchId = i.toLong,
        threshold = 0.8, redirectsTable = Some(redirT))
    }
    val before = DedupStream.latestRedirects(spark, redirT)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(redirT.read(spark).get.count() > before.size,
      "fixture must actually contain superseded rows")
    DedupStream.compactRedirects(spark, redirT)
    val after = DedupStream.latestRedirects(spark, redirT)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(after == before, "compaction must not change the view")
    assert(redirT.read(spark).get.count() == before.size, "superseded rows must be gone")
    // generation preserved: a replayed batch stays a no-op...
    val genBefore = redirT.currentSnapshot.get.generation
    val sBefore = redirT.currentSnapshot.get.snapshotId
    DedupStream.commitBatch(spark, corpusT, pairsT, indexT, b2, batchId = 2L,
      threshold = 0.8, redirectsTable = Some(redirT))
    assert(redirT.currentSnapshot.get.generation == genBefore)
    assert(redirT.currentSnapshot.get.snapshotId == sBefore)
    // ...and a NEW batch still merges into (and rewrites) the folded cluster
    val b3 = Seq((3000L, doc(0) + " zzz www yyy")).toDF("doc_id", "text")
    DedupStream.commitBatch(spark, corpusT, pairsT, indexT, b3, batchId = 3L,
      threshold = 0.8, redirectsTable = Some(redirT))
    val v = DedupStream.latestRedirects(spark, redirT)
      .as[(Long, Long, Boolean)].collect().toSet
    val cluster = v.filter { case (d, _, _) => Set(0L, 1000L, 2000L, 3000L)(d) }
    assert(cluster.size == 4 && cluster.map(_._2).size == 1,
      s"post-compact merge must rewrite the folded cluster: $cluster")
  }

  test("in-run tiered fold bounds the redirects chain (bucketed commits make compactTiered real)") {
    // every batch below produces pairs, so a plain-append redirects table
    // would grow one commit dir per batch forever and compactTiered would
    // no-op (it folds only uniformly BUCKETED chains) — this pins that the
    // doc_id-bucketed commits actually let the in-run cadence fire
    val store = SnapshotStore(Files.createTempDirectory("graft-dstream-fold").toString)
    val corpusT = store.table("corpus")
    val pairsT = store.table("near_dup_pairs")
    val indexT = store.table("band_index")
    val redirT = store.table("redirects")
    (0 until 6).foreach { i =>
      val b = Seq((i.toLong, doc(50 + i)), (1000L + i, doc(50 + i) + " zzz"))
        .toDF("doc_id", "text")
      DedupStream.commitBatch(spark, corpusT, pairsT, indexT, b, batchId = i.toLong,
        threshold = 0.8, autoCompactDirs = 2, redirectsTable = Some(redirT))
    }
    assert(redirT.bucketSpec.exists(_._2 == "doc_id"),
      "redirect commits must be doc_id-bucketed or the fold can never fire")
    assert(redirT.commitDirCount <= 2,
      s"6 pairful batches at autoCompactDirs=2 left ${redirT.commitDirCount} dirs — the in-run fold is not firing")
    assert(indexT.commitDirCount <= 2, "the band-index chain is folded by the same cadence")
    // the fold moved dir boundaries only: the latest-wins view is intact
    val view = DedupStream.latestRedirects(spark, redirT)
      .as[(Long, Long, Boolean)].collect().toSet
    val want = (0 until 6).flatMap(i =>
      Seq((i.toLong, i.toLong, true), (1000L + i, i.toLong, false))).toSet
    assert(view == want, s"view after folds: $view")
    // self-heal: a mixed-spec chain (e.g. a plain legacy dir) disables the
    // in-run fold (bucketSpec None); the major pass must REBUCKET, not
    // cement the plain layout
    redirT.append(Seq((9999L, 9999L, true, 99)).toDF("doc_id", "survivor_id", "kept", "gen"),
      generation = 99)
    assert(redirT.bucketSpec.isEmpty, "fixture must actually be mixed")
    DedupStream.compactRedirects(spark, redirT)
    assert(redirT.bucketSpec.exists(_._2 == "doc_id"),
      "major compact must restore a uniform doc_id bucketing")
    assert(DedupStream.latestRedirects(spark, redirT)
      .as[(Long, Long, Boolean)].collect().toSet == want + ((9999L, 9999L, true)))
  }

  test("redirects history reads are FILE-SKIPPED to the affected ids' buckets, not the chain's history") {
    // r6 (VERDICT item 2): the endpoint/member latest-wins windows read the
    // redirects table through historySlice — the scanned FILE set must
    // track the known ids' doc_id buckets, independent of how many
    // superseded generations the chain carries.
    val store = SnapshotStore(Files.createTempDirectory("graft-dstream-skip").toString)
    val corpusT = store.table("corpus")
    val pairsT = store.table("near_dup_pairs")
    val indexT = store.table("band_index")
    val redirT = store.table("redirects")
    // 6 pairful batches, each touching two docs -> 6 bucketed commit dirs
    // of history (autoCompactDirs=0 keeps every dir so history is real)
    (0 until 6).foreach { i =>
      val b = Seq((i.toLong, doc(70 + i)), (1000L + i, doc(70 + i) + " zzz"))
        .toDF("doc_id", "text")
      DedupStream.commitBatch(spark, corpusT, pairsT, indexT, b, batchId = i.toLong,
        threshold = 0.8, autoCompactDirs = 0, redirectsTable = Some(redirT))
    }
    val full = redirT.read(spark).get
    val allFiles = full.inputFiles.toSet
    assert(allFiles.size >= 6, s"fixture must carry a real chain, got ${allFiles.size} files")
    val (buckets, bucketCol) = redirT.bucketSpec.get
    assert(bucketCol == "doc_id")
    def stampOf(path: String): Int = {
      val stem = path.substring(path.lastIndexOf('/') + 1).takeWhile(_ != '.')
      stem.substring(stem.lastIndexOf('_') + 1).toInt
    }
    val ids = Array(3L) // one affected endpoint
    val wantBuckets = ids.map(SnapshotStore.bucketIdOfLong(_, buckets)).toSet
    val slice = DedupStream.historySlice(spark, redirT, ids).get
    val sliceFiles = slice.inputFiles.toSet
    // exactly the files stamped with the ids' buckets — strictly fewer than
    // the chain's full file set
    assert(sliceFiles == allFiles.filter(f => wantBuckets(stampOf(f))),
      s"slice must list exactly the ids' bucket files")
    assert(sliceFiles.size < allFiles.size,
      s"skip must prune: ${sliceFiles.size} vs ${allFiles.size}")
    // and the slice holds every history row of those ids (the window's input)
    assert(slice.filter($"doc_id" === 3L).count() ==
      full.filter($"doc_id" === 3L).count())

    // the LIVE path: a store drained with the skip FORCED ON
    // (redirectSkipMinRows = 0) resolves identically to one drained with it
    // off (the fixture sits below the default arming threshold) — the skip
    // is a read strategy, never a semantic
    val storeOn = SnapshotStore(Files.createTempDirectory("graft-dstream-skip-on").toString)
    val redirOn = storeOn.table("redirects")
    (0 until 6).foreach { i =>
      val b = Seq((i.toLong, doc(70 + i)), (1000L + i, doc(70 + i) + " zzz"))
        .toDF("doc_id", "text")
      DedupStream.commitBatch(spark, storeOn.table("corpus"), storeOn.table("near_dup_pairs"),
        storeOn.table("band_index"), b, batchId = i.toLong,
        threshold = 0.8, autoCompactDirs = 0, redirectsTable = Some(redirOn),
        redirectSkipMinRows = 0L)
    }
    val viewOn = DedupStream.latestRedirects(spark, redirOn)
      .as[(Long, Long, Boolean)].collect().toSet
    val viewOff = DedupStream.latestRedirects(spark, redirT)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(viewOn == viewOff, "skip-armed drain must resolve identically")
  }

  test("restart with a different bucket count self-heals: tables rebucket at stream start, drain unchanged") {
    // run 1 drains two files at 8 shuffle partitions; run 2 resumes the
    // SAME checkpoint over a third file at the session's own count. The
    // tables' registries pin 8, so run 2 appends at 8: no rebucket, no
    // mixed-spec chain (which would kill the in-run fold and the file skip).
    val store = SnapshotStore(Files.createTempDirectory("graft-dstream-heal").toString)
    val corpusT = store.table("corpus")
    val pairsT = store.table("near_dup_pairs")
    val indexT = store.table("band_index")
    val redirT = store.table("redirects")
    val ckpt = Files.createTempDirectory("graft-dstream-heal-ckpt").toString
    val src = Files.createTempDirectory("graft-dstream-heal-src")
    val f0 = (100 until 110).map(i => (i.toLong, doc(i)))
    val f1 = Seq((1100L, doc(100) + " zzz"))
    val f2 = Seq((2100L, doc(100) + " yyy"), (1105L, doc(105) + " zzz"))
    writeFile(src, "0.parquet", f0)
    writeFile(src, "1.parquet", f1)
    val key = "spark.sql.shuffle.partitions"
    val sessionParts = spark.conf.get(key)
    assert(sessionParts != "8", "the restart must change the session's count")
    spark.conf.set(key, "8")
    try DedupStream.ingest(spark, src.toString, corpusT, pairsT, indexT, ckpt,
      threshold = 0.8, redirectsTable = Some(redirT)).awaitTermination(120000)
    finally spark.conf.set(key, sessionParts)
    assert(indexT.bucketSpec.contains((8, "bkey")))
    assert(redirT.bucketSpec.contains((8, "doc_id")))
    val (index1, redir1) = (indexT.currentSnapshot.get, redirT.currentSnapshot.get)
    writeFile(src, "2.parquet", f2)
    DedupStream.ingest(spark, src.toString, corpusT, pairsT, indexT, ckpt,
      threshold = 0.8, redirectsTable = Some(redirT)).awaitTermination(120000)
    assert(indexT.bucketSpec.contains((8, "bkey")), "the index must keep its pinned count")
    assert(redirT.bucketSpec.contains((8, "doc_id")), "redirects must keep their pinned count")
    // no rebucket commit: run 2's only index commit is its batch's append,
    // whose parent is run 1's last snapshot (no heal replaced it)
    val index2 = indexT.currentSnapshot.get
    assert(index2.snapshotId == index1.snapshotId + 1 && index2.parentId == index1.snapshotId &&
      index2.generation == 3)
    assert(indexT.deltaRows(index2) > 0, "run 2 must append, not replace")
    val redir2 = redirT.currentSnapshot.get
    assert(redir2.snapshotId == redir1.snapshotId + 1 && redir2.parentId == redir1.snapshotId)
    val all = (f0 ++ f1 ++ f2).toDF("doc_id", "text")
    assert(pairSet(pairsT.read(spark).get) ==
      pairSet(TextDedup.minhashNearDups(all, 0.8)),
      "the drain across the restart must still equal the batch pair set")
    val view = DedupStream.latestRedirects(spark, redirT)
      .select($"doc_id", $"survivor_id").as[(Long, Long)].collect().toSet
    assert(view.filter(v => Set(100L, 1100L, 2100L)(v._1)).map(_._2).size == 1,
      "the cross-restart cluster must resolve to one survivor")
  }

  test("a legacy plain band_index is rebucketed uniformly when ingest starts; drain unchanged") {
    // run 1 drains the base file; its index is then rewritten in the layout
    // of a store from before the index was bucketed (two plain dirs, no
    // registry). Resuming the checkpoint, ingest's stream-start heal must
    // rewrite it as ONE dir bucketed by bkey at the session's count before
    // the next micro-batch appends.
    val store = SnapshotStore(Files.createTempDirectory("graft-dstream-legacy").toString)
    val corpusT = store.table("corpus")
    val pairsT = store.table("near_dup_pairs")
    val indexT = store.table("band_index")
    val ckpt = Files.createTempDirectory("graft-dstream-legacy-ckpt").toString
    val src = Files.createTempDirectory("graft-dstream-legacy-src")
    val base = (120 until 126).map(i => (i.toLong, doc(i)))
    val delta = Seq((1120L, doc(120) + " zzz"), (1124L, doc(124) + " zzz"))
    writeFile(src, "0.parquet", base)
    DedupStream.ingest(spark, src.toString, corpusT, pairsT, indexT, ckpt, threshold = 0.8)
      .awaitTermination(120000)
    val baseDf = base.toDF("doc_id", "text")
    indexT.replace(TextDedup.bandIndexOf(baseDf.filter($"doc_id" < 123L)), generation = 1)
    indexT.append(TextDedup.bandIndexOf(baseDf.filter($"doc_id" >= 123L)), generation = 1)
    val legacy = indexT.currentSnapshot.get
    assert(indexT.bucketSpec.isEmpty && indexT.commitDirCount == 2 && legacy.dirBuckets.isEmpty)
    writeFile(src, "1.parquet", delta)
    DedupStream.ingest(spark, src.toString, corpusT, pairsT, indexT, ckpt, threshold = 0.8)
      .awaitTermination(120000)
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(indexT.bucketSpec.contains((parts, "bkey")), "the heal must bucket the whole index")
    // the heal: one replace over the legacy snapshot, rows and generation kept
    val healed = indexT.snapshot(legacy.snapshotId + 1)
    assert(healed.parentId == legacy.snapshotId && healed.generation == legacy.generation &&
      healed.rowCount == legacy.rowCount && healed.dirBuckets.exists(_.size == 1))
    assert(indexT.currentSnapshot.get.parentId == healed.snapshotId, "then the batch appends")
    val all = (base ++ delta).toDF("doc_id", "text")
    assert(indexT.read(spark).get.select($"id", $"band", $"bkey").as[(Long, Int, Long)]
      .collect().toSet == TextDedup.bandIndexOf(all).select($"id", $"band", $"bkey")
      .as[(Long, Int, Long)].collect().toSet)
    assert(pairSet(pairsT.read(spark).get) == pairSet(TextDedup.minhashNearDups(all, 0.8)))
    assert(pairSet(pairsT.read(spark).get).contains((120L, 1120L)), "the fixture must pair")
  }
}
