package graft.ml

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MlSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** 60 base docs (200 hash-random words each) + 6 planted near-dups (one
    * appended token). Long docs keep the simhash bit-flip count of a
    * 1-token edit small (P(bit flips) = P(sign count = 0) ≈ 0.056 → ~3.6 of
    * 64 bits); random words keep cross-doc shingle overlap ≈ 0.
    */
  lazy val planted = {
    val base = (0 until 60).map { i =>
      val words = (0 until 200).map(j => s"w${graft.util.Hashing.bounded(graft.util.Hashing.det(5L, i, j), 400)}")
      (i.toLong, words.mkString(" "))
    }
    val dups = base.filter(_._1 % 10 == 0).map { case (id, t) => (id + 1000L, t + " zzz") }
    (base ++ dups).toDF("doc_id", "text")
  }
  val plantedPairs: Set[(Long, Long)] =
    (0 until 60 by 10).map(i => (i.toLong, i + 1000L)).toSet

  test("jaccard shingle pairs recover exactly the planted near-dups") {
    val toks = TextDedup.shingleTokens(planted, 3)
    val got = TextDedup.jaccardPairsFromTokens(toks, 0.8)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    assert(got == plantedPairs)
  }

  test("minhash LSH candidates contain all planted pairs, few extras") {
    val got = TextDedup.minhashLshCandidates(planted)
      .as[(Long, Long)].collect().toSet
    assert(plantedPairs.subsetOf(got), s"missing: ${plantedPairs -- got}")
    assert(got.size <= plantedPairs.size + 10, s"too many false candidates: ${got.size}")
  }

  test("simhash candidates find planted pairs with small hamming distance") {
    val got = TextDedup.simhashCandidates(planted)
      .select($"a", $"b", $"hamming").as[(Long, Long, Int)].collect()
    val close = got.filter(_._3 <= 8).map(t => (t._1, t._2)).toSet
    assert(plantedPairs.subsetOf(close), s"missing: ${plantedPairs -- close}")
  }

  test("simhash banding recall is exhaustive at the claimed radius") {
    // property the 7-chunk pigeonhole banding guarantees: EVERY pair of the
    // corpus within hamming<=6 appears as a candidate (computed exhaustively
    // driver-side over the planted corpus)
    val rows = planted.as[(Long, String)].collect()
    val sh = rows.map { case (id, t) => id -> TextDedup.simhash64Kernel(t) }
    val want = (for {
      (a, ha) <- sh; (b, hb) <- sh
      if a < b && java.lang.Long.bitCount(ha ^ hb) <= 6
    } yield (a, b)).toSet
    val got = TextDedup.simhashCandidates(planted, maxHamming = 6)
      .filter($"hamming" <= 6)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    assert(want.subsetOf(got), s"missing: ${want -- got}")
  }

  test("simhash oracle-equality preconditions hold: radius covers J>=0.9 pairs, none shed") {
    // The claim "simhash exact-verified output == exhaustive Jaccard>=0.9
    // pair set" is CORPUS-DEPENDENT: it needs (1) every such pair within
    // the claimed hamming radius and (2) none of them lost to a shed
    // bucket. Pin both preconditions explicitly so a fixture change that
    // silently breaks them fails HERE, not nondeterministically in the
    // driver gate. (Radius vs doc length: a 1-token edit on an n-token doc
    // flips E ~ 64*0.056 ~ 3.6 bits; J=0.9 on SHORT docs concentrates the
    // flips — the sf0.01 driver fixture has an 11-token doc whose planted
    // pair lands at hamming 7, which is what moved the default radius to 8.
    // This test licenses that default for the fixture family.)
    val oracle = TextDedup.jaccardPairsFromTokens(TextDedup.shingleTokens(planted, 3), 0.9)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    val sh = planted.as[(Long, String)].collect()
      .map { case (id, t) => id -> TextDedup.simhash64Kernel(t) }.toMap
    // (1) radius: every oracle pair within the DEFAULT radius (8)
    oracle.foreach { case (a, b) =>
      val d = java.lang.Long.bitCount(sh(a) ^ sh(b))
      assert(d <= 8, s"oracle pair ($a,$b) at hamming $d > radius 8")
    }
    // (2) shedding: with the production maxBucket, every oracle pair still
    // surfaces as a candidate (i.e. shares at least one unshed chunk bucket)
    val cands = TextDedup.simhashCandidates(planted, maxBucket = 1000)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    assert(oracle.subsetOf(cands), s"oracle pairs lost to shed buckets: ${oracle -- cands}")
  }

  test("simhashNearDups catches near-threshold pairs BEYOND the hamming radius (completeness channel)") {
    // the sf0.001 regression the r6 fix closes: an 11-word doc and its
    // one-token-appended planted dup sit at shingle-Jaccard 9/10 = 0.9 —
    // an oracle pair — but at hamming 12, outside the radius-8 banding
    // (near-threshold pairs do NOT concentrate inside any fixed radius).
    // The minhash candidate channel must surface it; the exact verify
    // keeps it. Text taken verbatim from the failing sf0.001 fixture doc.
    val t = "part query agg table column hash value batch vector a slow"
    val docs = Seq((480L, t), (1000480L, t + " zzzplanted")).toDF("doc_id", "text")
    val d = java.lang.Long.bitCount(
      TextDedup.simhash64Kernel(t) ^ TextDedup.simhash64Kernel(t + " zzzplanted"))
    assert(d > 8, s"fixture must actually sit beyond the radius (hamming $d)")
    val got = TextDedup.simhashNearDups(docs, 0.9)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    assert(got == Set((480L, 1000480L)),
      s"beyond-radius near-threshold pair must come from the minhash channel, got $got")
  }

  test("connected components resolve a 4096-node chain (adversarial depth) in O(log n) rounds") {
    // a path graph is the worst case for star-contraction depth; maxIter 30
    // bounds rounds well under the 50 default while >> log2(4096)=12 —
    // convergence inside it IS the O(log n) evidence (linear propagation
    // would need ~4096 rounds)
    val chain = (0 until 4095).map(i => (i.toLong, i + 1L)).toDF("a", "b")
    // driverEndgameEdges = 0 forces the pure-distributed star-contraction
    // path (the default endgame would absorb this small fixture)
    val got = TextDedup.connectedComponents(chain, maxIter = 30, driverEndgameEdges = 0L)
      .as[(Long, Long)].collect()
    assert(got.length == 4096)
    assert(got.forall(_._2 == 0L), "every chain node must resolve to keep_id 0")
  }

  test("driver endgame union-find equals the pure-distributed star-contraction result") {
    // mixed shape: two chains, a triangle, an isolated edge, duplicate and
    // reversed pairs — everything the edge normalization must absorb
    val pairs = (
      (0 until 40).map(i => (i.toLong, i + 1L)) ++
        (100 until 120).map(i => (i + 1L, i.toLong)) ++
        Seq((200L, 201L), (201L, 202L), (202L, 200L), (300L, 301L), (301L, 300L))
      ).toDF("a", "b")
    val viaEndgame = TextDedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toSet
    val viaDistributed = TextDedup.connectedComponents(pairs, driverEndgameEdges = 0L)
      .as[(Long, Long)].collect().toSet
    assert(viaEndgame == viaDistributed)
    assert(viaEndgame.exists(_ == (202L, 200L)), "triangle resolves to min id 200")
  }

  test("minhash_sigs native expression is bit-identical to the Column-form signatures") {
    graft.functions.expressions.GraftFunctions.register(spark)
    val base = TextDedup.shingleDocBase(planted, 3)
    val both = base.select($"id",
      TextDedup.minhashFromHashes($"toks", 8).as("col_form"),
      org.apache.spark.sql.functions.expr("minhash_sigs(toks, 8)").as("native"))
      .as[(Long, Seq[Long], Seq[Long])].collect()
    assert(both.nonEmpty)
    both.foreach { case (id, a, b) => assert(a == b, s"signature mismatch for doc $id") }
  }

  test("minhash_sigs yields NULL on an empty shingle array (no one-bucket collision for empty docs)") {
    graft.functions.expressions.GraftFunctions.register(spark)
    val row = spark.sql(
      "SELECT minhash_sigs(CAST(array() AS ARRAY<BIGINT>), 8) AS empty, " +
        "minhash_sigs(CAST(NULL AS ARRAY<BIGINT>), 8) AS nul")
      .collect()(0)
    assert(row.isNullAt(0), "empty shingle array must produce a NULL signature, not Long.MaxValue slots")
    assert(row.isNullAt(1), "null input stays null")
  }

  test("minhash verified near-dups equal the exhaustive exact-jaccard pair set") {
    val exact = TextDedup.jaccardPairsFromTokens(TextDedup.shingleTokens(planted, 3), 0.8)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    val got = TextDedup.minhashNearDups(planted, 0.8)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    assert(got == exact)
  }

  /** A doc of `words` hash-random words from a 10k vocabulary: pairs with nothing. */
  private def freshDoc(seed: Int, words: Int): String =
    (0 until words).map(j => s"f${graft.util.Hashing.bounded(graft.util.Hashing.det(9L, seed, j), 10000)}")
      .mkString(" ")

  /** Incremental fixture. corpus: the 60 base docs PLUS an internal corpus
    * duplicate (id 500 = copy of doc 1). delta: the 6 planted near-copies
    * plus 2 fresh unique docs that pair with nothing.
    */
  lazy val (incCorpus, incDelta) = {
    val rows = planted.as[(Long, String)].collect().toMap
    val corpus = (rows.filterNot(_._1 >= 1000L).toSeq :+ (500L, rows(1L))).toDF("doc_id", "text")
    val fresh = Seq((2000L, freshDoc(1, 50)), (2001L, freshDoc(2, 50)))
    (corpus, (rows.filter(_._1 >= 1000L).toSeq ++ fresh).toDF("doc_id", "text"))
  }

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select($"a", $"b").as[(Long, Long)].collect().toSet

  test("incremental minhash equals the batch run restricted to delta-touching pairs") {
    // the batch run pairs (1, 500); the incremental run must NOT surface it
    // (it touches no delta doc)
    val (corpus, delta) = (incCorpus, incDelta)
    val deltaIds = delta.as[(Long, String)].collect().map(_._1).toSet
    val batch = pairSet(TextDedup.minhashNearDups(corpus.unionByName(delta), 0.8))
    val want = batch.filter { case (a, b) => deltaIds(a) || deltaIds(b) }
    val got = pairSet(TextDedup.minhashNearDupsIncremental(corpus, delta, 0.8))
    assert(got == want, s"incremental != restricted batch; extra=${got -- want} missing=${want -- got}")
    assert(want == plantedPairs, "fixture sanity: delta-touching pairs are the planted ones")
    assert(batch.contains((1L, 500L)), "fixture sanity: the corpus-internal dup pairs in batch mode")
    assert(!got.contains((1L, 500L)), "corpus-internal pairs must not surface incrementally")
  }

  test("indexed minhash equals the incremental form in every index-prune regime, band rows = bandIndexOf(delta)") {
    // the index persisted as a bkey-bucketed snapshot table in two commits
    // (64 buckets so a small delta occupies a proper subset and whole files
    // actually drop). The prune regime follows the delta's distinct bkey
    // count (16 per doc): <= 1024 file skip + literal IN, 1025-32768 file
    // skip alone, > 32768 the full index read. Unique filler docs push the
    // delta across each boundary without adding pairs.
    val corpus = incCorpus
    val store = graft.snapshot.SnapshotStore(
      java.nio.file.Files.createTempDirectory("graft-mlidx").toString)
    val idxT = store.table("band_index")
    idxT.appendBucketed(TextDedup.bandIndexOf(corpus.filter($"doc_id" < 30)),
      generation = 1, buckets = 64, bucketCol = "bkey")
    idxT.appendBucketed(TextDedup.bandIndexOf(corpus.filter($"doc_id" >= 30)),
      generation = 2, buckets = 64, bucketCol = "bkey")
    def withFiller(n: Int): DataFrame =
      incDelta.unionByName((0 until n).map(i => (3000L + i, freshDoc(100 + i, 20))).toDF("doc_id", "text"))
    def bandRowSet(df: DataFrame): Set[(Long, Int, Seq[Long], Long)] =
      df.as[(Long, Int, Array[Long], Long)].collect()
        .map { case (id, b, sig, k) => (id, b, sig.toSeq, k) }.toSet
    Seq(("file skip + IN", incDelta, 1, 1024), ("file skip only", withFiller(100), 1025, 1 << 15),
      ("full index", withFiller(2100), (1 << 15) + 1, Int.MaxValue)).foreach { case (regime, delta, lo, hi) =>
      val wantRows = bandRowSet(TextDedup.bandIndexOf(delta))
      val nKeys = wantRows.map(_._4).size
      assert(nKeys >= lo && nKeys <= hi, s"fixture sanity ($regime): $nKeys distinct delta bkeys")
      val want = pairSet(TextDedup.minhashNearDupsIncremental(corpus, delta, 0.8))
      assert(want == plantedPairs, s"fixture sanity ($regime): delta-touching pairs are the planted ones")
      val (pairs, bandRows) = TextDedup.minhashNearDupsIndexed(corpus, idxT, delta, 0.8)
      val got = pairSet(pairs)
      assert(got == want, s"$regime: indexed != incremental; extra=${got -- want} missing=${want -- got}")
      // DedupStream appends these rows to the persisted index in place of a
      // second shingle+minhash pass, so any drift would lose cross-batch pairs
      val gotRows = bandRowSet(bandRows)
      assert(gotRows == wantRows,
        s"$regime: band rows != bandIndexOf(delta); extra=${(gotRows -- wantRows).take(3)} missing=${(wantRows -- gotRows).take(3)}")
    }
  }

  test("minhash-verified entries reject thresholds outside [0.8, 1] before any job runs") {
    val store = graft.snapshot.SnapshotStore(
      java.nio.file.Files.createTempDirectory("graft-mlthr").toString)
    val idxT = store.table("band_index")
    Seq(0.5, 0.79, 1.5, Double.NaN).foreach { t =>
      Seq[(String, () => Any)](
        "minhashNearDups" -> (() => TextDedup.minhashNearDups(planted, t)),
        "simhashNearDups" -> (() => TextDedup.simhashNearDups(planted, t)),
        "minhashNearDupsIncremental" -> (() => TextDedup.minhashNearDupsIncremental(incCorpus, incDelta, t)),
        "minhashNearDupsIndexed" -> (() => TextDedup.minhashNearDupsIndexed(incCorpus, idxT, incDelta, t))
      ).foreach { case (name, call) =>
        val e = intercept[IllegalArgumentException](call())
        assert(e.getMessage.contains("[0.8, 1.0]"), s"$name($t): message must name the domain: ${e.getMessage}")
      }
    }
  }

  test("simhash verified near-dups equal the exhaustive exact-jaccard pair set") {
    val exact = TextDedup.jaccardPairsFromTokens(TextDedup.shingleTokens(planted, 3), 0.9)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    val got = TextDedup.simhashNearDups(planted, 0.9)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    assert(got == exact)
  }

  test("connected components resolve clusters to the min-id survivor") {
    // triangle {1,2,3}, pair {10,11}, a 4-chain {20..23}, reversed pair {5,4}
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L),
      (22L, 23L), (5L, 4L)).toDF("a", "b")
    val got = TextDedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L, 4L -> 4L, 5L -> 4L))
  }

  test("connected components: forced tiny maxIter exits through the driver endgame, never a wrong mapping") {
    // r6 (VERDICT item 4): a long path graph cannot converge in one
    // star-contraction round; with the distributed path forced
    // (driverEndgameEdges = 0) and maxIter = 1 the loop exits NOT
    // converged — the old escape emitted the half-contracted edge set as
    // the final mapping (silently wrong components); now every
    // non-converged exit finishes through the exact union-find
    val n = 40L
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("a", "b")
    val got = TextDedup.connectedComponents(pairs, maxIter = 1, driverEndgameEdges = 0)
      .as[(Long, Long)].collect().toMap
    assert(got == (0L until n).map(_ -> 0L).toMap,
      s"one component with keep_id 0 expected, got ${got.toSeq.sortBy(_._1).take(10)}...")
  }

  test("cluster resolution keeps the argmax-quality survivor; ties and singletons deterministic") {
    def words(seed: Int, n: Int) = (0 until n)
      .map(j => s"w${graft.util.Hashing.bounded(graft.util.Hashing.det(7L, seed, j), 400)}")
      .mkString(" ")
    val baseA = words(1, 30)
    val baseB = words(2, 30)
    val docs = Seq(
      (1L, baseA), // cluster A
      (2L, baseA + " longerlonger"), // highest quality (longest) in A
      (3L, baseA), // identical to 1 — same quality, loses to 2
      (10L, baseB), (11L, baseB), // cluster B: exact tie → min id survives
      (20L, words(3, 30)) // singleton keeps itself
    ).toDF("doc_id", "text")
    val got = TextDedup.resolveClusters(docs, 0.8, t => length(t).cast("double"))
      .as[(Long, Long, Boolean)].collect().toSet
    assert(got == Set(
      (1L, 2L, false), (2L, 2L, true), (3L, 2L, false),
      (10L, 10L, true), (11L, 10L, false),
      (20L, 20L, true)))
  }

  test("jaccard hot-token cap sheds the token and still completes") {
    // 'hot' appears in every doc (df=50 > maxDf=10) and is shed; the other
    // tokens are unique so no pair survives
    val docs = (0 until 50).map(i => (i.toLong, s"hot tok$i xtra$i")).toDF("doc_id", "text")
    val got = TextDedup.jaccardPairsFromTokens(TextDedup.docTokens(docs), 0.3, maxDf = 10)
    assert(got.count() == 0)
  }

  test("exact dedup keeps min id per identical text") {
    val df = Seq((1L, "same text"), (5L, "same text"), (3L, "other")).toDF("doc_id", "text")
    val got = TextDedup.exactDups(df).as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (3L, 1L)))
  }

  lazy val vectors = {
    val rows = (0 until 200).map { i =>
      val v = (0 until 64).map(d =>
        (graft.util.Hashing.det(9L, i, d).toDouble / Long.MaxValue).toFloat)
      (i.toLong, v)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("embedding near-dups via hyperplane LSH recover scaled copies exactly") {
    val scaled = vectors.filter($"vec_id" % 20 === 0)
      .select(($"vec_id" + 1000L).as("vec_id"),
        transform($"embedding", x => x * lit(1.001f)).as("embedding"))
    val got = TextDedup.embeddingNearDups(vectors.unionByName(scaled), 0.95)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    val want = (0 until 200 by 20).map(i => (i.toLong, i + 1000L)).toSet
    assert(got == want)
  }

  test("embedding near-dups: multi-probe holds recall at 2x planes, scaled copies survive autoPlanes") {
    val scaled = vectors.filter($"vec_id" % 20 === 0)
      .select(($"vec_id" + 1000L).as("vec_id"),
        transform($"embedding", x => x * lit(1.001f)).as("embedding"))
    val corpus = vectors.unionByName(scaled)
    val want = (0 until 200 by 20).map(i => (i.toLong, i + 1000L)).toSet
    // 2x the default plane count: exact-bucket recall would be at risk for
    // near-threshold pairs; multi-probe must (a) never lose the structural
    // hamming-0 pairs and (b) return a superset of the exact-bucket output
    // (every extra pair still passes the exact cosine verify)
    val multi = TextDedup.embeddingNearDups(corpus, 0.95, planes = 16, multiProbe = true)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    val single = TextDedup.embeddingNearDups(corpus, 0.95, planes = 16, multiProbe = false)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    assert(want.subsetOf(multi), s"missing planted pairs: ${want -- multi}")
    assert(single.subsetOf(multi), "multi-probe must be a superset of exact-bucket")
    // autoPlanes growth path: corpus of 220 with target 256 keeps the
    // 8-plane default; a claimed corpus of 2^20 must raise the plane count
    // and the structural pairs must still be found via multi-probe
    val grown = TextDedup.embeddingNearDups(corpus, 0.95, autoPlanes = Some(1L << 20))
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    assert(want.subsetOf(grown), s"autoPlanes lost planted pairs: ${want -- grown}")
  }

  test("LSH ANN has high recall vs exact brute-force top-k") {
    val queries = vectors.filter($"vec_id" < 20)
    val exact = Similarity.cosineTopK(vectors, queries, 5)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(vectors, queries, 5, dim = 64, planes = 4, probes = 3)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    // random uniform vectors are LSH's worst case (all similarities bunched
    // near 0) — this bounds sanity, not production recall
    assert(recall >= 0.25, f"ANN recall too low: $recall%.2f")
    // exactness of what it does return: every ANN answer must be a real vector
    assert(approx.forall { case (q, n) => q != n })
  }

  test("IVF ANN beats LSH recall on this corpus and probing all cells is exact") {
    val queries = vectors.filter($"vec_id" < 20)
    val exact = Similarity.cosineTopK(vectors, queries, 5)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(vectors, queries, 5, nlist = 8, nprobe = 3)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.3, f"IVF recall too low: $recall%.2f")
    // probing every cell must reproduce the exact result
    val full = Similarity.ivfTopK(vectors, queries, 5, nlist = 8, nprobe = 8)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    assert(full == exact)
  }

  test("IVF codebook is cached per (corpus plan, nlist, config) and reused") {
    Similarity.clearCodebookCache()
    val c1 = Similarity.kmeansCodebook(vectors, 8, iters = 1)
    val c2 = Similarity.kmeansCodebook(vectors, 8, iters = 1)
    assert(c1 eq c2, "identical corpus/config must return the memoized codebook")
    val c3 = Similarity.kmeansCodebook(vectors, 4, iters = 1)
    assert(!(c1 eq c3), "a different nlist must train its own codebook")
  }

  test("IVF codebook persists across sessions: cleared memo reloads from store, no retrain") {
    Similarity.clearCodebookCache()
    val dir = java.nio.file.Files.createTempDirectory("graft-codebook")
    val before = Similarity.trainCount.get()
    val c1 = Similarity.kmeansCodebookPersistent(vectors, dir, "embeddings@s0", 8, iters = 1)
    assert(Similarity.trainCount.get() == before + 1, "first call trains")
    Similarity.clearCodebookCache() // simulate a fresh JVM/session
    val c2 = Similarity.kmeansCodebookPersistent(vectors, dir, "embeddings@s0", 8, iters = 1)
    assert(Similarity.trainCount.get() == before + 1, "reload must not re-run Lloyd's")
    assert(c1.length == c2.length &&
      c1.zip(c2).forall { case (a, b) => a.sameElements(b) },
      "JSON round-trip must reproduce the codebook bit-for-bit")
    // a different corpus key trains its own codebook (no cross-corpus reuse)
    Similarity.kmeansCodebookPersistent(vectors, dir, "embeddings@s1", 8, iters = 1)
    assert(Similarity.trainCount.get() == before + 2)
    // the persistent path slots into ivfTopK and stays exact under probeAll
    val exact = Similarity.cosineTopK(vectors, vectors.filter($"vec_id" < 5), 5)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val viaPersist = Similarity.ivfTopK(vectors, vectors.filter($"vec_id" < 5), 5,
      nlist = 8, kmeansIters = 1, probeAll = true,
      persistDir = Some(dir), corpusKey = "embeddings@s0")
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    assert(viaPersist == exact)
  }

  test("embedding near-dups take the autoPlanes hint from a snapshot manifest counter") {
    // the scale-composed form: corpus row count comes from the snapshot
    // store's manifest (free), not a count job over the corpus
    val store = graft.snapshot.SnapshotStore(
      java.nio.file.Files.createTempDirectory("graft-emb-store").toString)
    val tbl = store.table("embeddings")
    val scaled = vectors.filter($"vec_id" % 20 === 0)
      .select(($"vec_id" + 1000L).as("vec_id"),
        transform($"embedding", x => x * lit(1.001f)).as("embedding"))
    tbl.append(vectors.unionByName(scaled), generation = 1)
    val snap = tbl.currentSnapshot.get
    assert(snap.rowCount == 210)
    val got = TextDedup.embeddingNearDups(tbl.read(spark).get, 0.95,
      autoPlanes = Some(snap.rowCount))
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    assert(got == (0 until 200 by 20).map(i => (i.toLong, i + 1000L)).toSet)
  }

  test("codebook cache keys distinct in-memory corpora by data identity, not hash") {
    Similarity.clearCodebookCache()
    // two DIFFERENT local corpora with the identical canonical schema: a
    // hash-based key (identityHashCode can collide / be reused after GC)
    // could hand corpus B corpus A's codebook — identity-registry keys can't
    def mk(shift: Float) = (0 until 64)
      .map(i => (i.toLong, Array.tabulate(8)(d => shift + i * 0.1f + d)))
      .toDF("vec_id", "embedding")
    val a = mk(0f); val b = mk(100f)
    val ca = Similarity.kmeansCodebook(a, 4, iters = 1)
    val cb = Similarity.kmeansCodebook(b, 4, iters = 1)
    assert(!(ca eq cb), "distinct local corpora must not share a codebook")
    assert(!ca.zip(cb).forall { case (x, y) => x.sameElements(y) },
      "corpus B silently received corpus A's centroids")
    // and the SAME DataFrame still hits the memo
    assert(Similarity.kmeansCodebook(a, 4, iters = 1) eq ca)
  }

  test("text analysis: token counts, langid, quality, fingerprints") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "el perro y la casa de los gatos en madrid"),
      (3L, "x"),
      (4L, "der hund und die katze in den garten ein tag")).toDF("doc_id", "text")
    val got = df.select($"doc_id",
      TextAnalysis.tokenCount($"text").as("n"),
      TextAnalysis.langIdHeuristic($"text").as("lang"),
      TextAnalysis.qualityScore($"text").as("q"),
      graft.TestUdfs.rollingFingerprint($"text").as("fp"))
      .as[(Long, Int, String, Double, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(1L)._2 == 9 && got(1L)._3 == "en")
    assert(got(2L)._3 == "es")
    assert(got(4L)._3 == "de")
    assert(got(3L)._3 == "und") // no stopword evidence
    assert(got(1L)._4 == 1.0 && got(3L)._4 < 1.0)
    // fingerprint is deterministic and whitespace-normalized
    val fp2 = df.filter($"doc_id" === 1)
      .select(graft.TestUdfs.rollingFingerprint(concat($"text", lit("  ")))).as[Long].head()
    assert(fp2 == got(1L)._5)
  }

  test("greedy sequence packing matches the sequential reference walk; oversized docs get own bins") {
    val cap = 50
    val saltB = 2
    // token counts 5..44 plus two oversized (120 > cap) docs; 3 sources
    val docs = (0 until 40).map { i =>
      val nTok = if (i == 7 || i == 23) 120
        else 5 + graft.util.Hashing.bounded(graft.util.Hashing.det(9L, i), 40)
      (i.toLong, s"src${i % 3}", Seq.fill(nTok)(s"t$i").mkString(" "))
    }
    // physical layout must not matter: the walk order comes from the data
    val df = docs.toDF("doc_id", "source", "text").repartition(7)
    val got = TextAnalysis.packBins(df, cap, saltB)
      .as[(String, Int, Int, Int, Long)].collect().toSet

    val expected = docs.groupBy(d => (d._2, (d._1 % saltB).toInt)).flatMap {
      case ((src, salt), ds) =>
        val ordered = ds.sortBy(_._1).map(_._3.split(" ").count(_.nonEmpty).toLong)
        var bins = Vector.empty[(Int, Long)]
        var nd = 0
        var tot = 0L
        ordered.foreach { n =>
          if (nd > 0 && tot + n > cap) { bins :+= ((nd, tot)); nd = 0; tot = 0L }
          nd += 1; tot += n
        }
        bins :+= ((nd, tot))
        bins.zipWithIndex.map { case ((d2, t2), b) => (src, salt, b, d2, t2) }
    }.toSet
    assert(got == expected)
    // every over-capacity bin is a single oversized doc; doc count conserved
    assert(got.filter(_._5 > cap).forall(b => b._4 == 1 && b._5 == 120L))
    assert(got.count(_._5 > cap) == 2)
    assert(got.toSeq.map(_._4).sum == 40)
  }

  test("multimodal: real BMP/WAV/GRFV decode matches closed-form; frames explode") {
    val docs = Seq((0L, "an image doc"), (1L, "an audio doc"), (2L, "a video doc"))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length($"text")).withColumn("lang", lit("en"))
      .withColumn("source", lit("s"))
    val media = Multimodal.syntheticMedia(docs)
    val f1 = Multimodal.decodeFeatures(media).collect().sortBy(_.media_id)
    val f2 = Multimodal.decodeFeatures(media, batchSize = 1).collect().sortBy(_.media_id)
    assert(f1.toSeq == f2.toSeq, "batch size must not change decode output")
    // doc 0 = image: w=2, h=2, pixel byte i = i % 256
    val img = f1.find(_.kind == "image").get
    assert(img.width == 2 && img.height == 2)
    assert(img.content_sum == (0 until 2 * 2 * 3).sum)
    assert(img.n_bytes == graft.ml.MediaCodec.bmpBytes(2, 2))
    // doc 1 = audio: 17 samples of (131 + 17i) % 65536 - 32768
    val aud = f1.find(_.kind == "audio").get
    assert(aud.content_sum == (0 until 17).map(i => (131L + 17L * i) % 65536 - 32768).sum)
    assert(aud.duration_ms == 17L * 1000 / Multimodal.AudioSampleRate)
    // doc 2 = video: 3 frames of 4x4, pixel byte i of frame f = (62 + 7f + i) % 256
    val vid = f1.find(_.kind == "video").get
    assert(vid.frames_sampled == 3 && vid.width == 4 && vid.height == 4)
    assert(vid.content_sum == (for (f <- 0 until 3; i <- 0 until 4 * 4 * 3)
      yield (2L * 31 + 7L * f + i) % 256).sum)
    // frame-step sampling decodes frames 0 and 2 only
    val stepped = Multimodal.decodeFeatures(media, frameStep = 2)
      .collect().find(_.kind == "video").get
    assert(stepped.frames_sampled == 2)
    val frames = Multimodal.sampleFrames(Multimodal.decodeFeatures(media))
    frames.collect().toSeq.groupBy(r => r.getLong(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getInt(2)).sorted == rows.indices.toList)
    }
  }
}
