package graft.ml

import graft.util.Hashing
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** Document-deduplication operators for the training-data pipeline, all
  * designed around inverted-index / banding joins so the pair space never
  * goes quadratic — the property that matters at 100 TB. Every operator
  * shuffles on a bounded key (text hash, token, band signature), never on a
  * cross join, and pair expansion happens across join output ROWS (streamed,
  * spillable), never inside a single row's nested arrays.
  *
  * Skew caps (`maxDf`, `maxBucket`) are load-shedding valves for hot tokens /
  * degenerate buckets; when they trigger, the drop count is logged so recall
  * loss at scale is visible, never silent.
  */
object TextDedup {

  /** This thread's local checkpoints inside [[releasingCheckpoints]]. */
  private val heldCheckpoints = new ThreadLocal[ArrayBuffer[RDD[_]]]

  /** `df.localCheckpoint(eager)`, held by this thread's enclosing
    * [[releasingCheckpoints]] if any; every near-dup checkpoint goes here.
    */
  private[graft] def checkpointLocal(df: DataFrame, eager: Boolean): DataFrame = {
    val cp = df.localCheckpoint(eager)
    Option(heldCheckpoints.get).foreach(held =>
      held ++= cp.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r.rdd })
    cp
  }

  /** Run `body`, then unpersist every local checkpoint it made on this
    * thread, as it returns or throws. Only around a body that has written
    * out all it computed: a released checkpoint cannot be read again.
    */
  private[graft] def releasingCheckpoints[T](body: => T): T = {
    val outer = heldCheckpoints.get
    val held = ArrayBuffer.empty[RDD[_]]
    heldCheckpoints.set(held)
    try body finally {
      heldCheckpoints.set(outer)
      held.foreach(_.unpersist(blocking = false))
    }
  }

  private def logDrop(op: String, what: String, n: Long): Unit =
    if (n > 0) println(s"[graft.dedup] $op: dropped $n $what (skew cap) — recall may be reduced")

  /** Exact dedup by content hash: the shuffle key is xxhash64(text) — 8
    * bytes — never the document body (at 100 TB grouping on the full text
    * would shuffle every byte of the corpus as a sort key). 64-bit collisions
    * are detected with an independent 128-bit digest per group and the rare
    * collided groups (expected ~n²/2⁶⁴) are re-resolved exactly by text.
    * Keeps the smallest id per group (deterministic winner).
    */
  def exactDups(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val base = docs.select(col(idCol).as("id"), col(textCol).as("t"))
    val g = base
      .groupBy(xxhash64($"t").as("h"))
      .agg(min($"id").as("keep_id"), count(lit(1)).as("dup_count"),
        countDistinct(md5($"t")).as("n_digests"))
    // n_digests <= 1 (not === 1): the all-null-text group has
    // countDistinct(md5) = 0 and must surface as one clean group, not vanish
    val clean = g.filter($"n_digests" <= 1).select($"keep_id", $"dup_count")
    // rare 64-bit collisions: re-resolve those groups exactly by text
    val collided = g.filter($"n_digests" > 1).select($"h")
    val resolved = base
      .join(collided, xxhash64(base("t")) === collided("h"), "left_semi")
      .groupBy($"t").agg(min($"id").as("keep_id"), count(lit(1)).as("dup_count"))
      .select($"keep_id", $"dup_count")
    clean.unionByName(resolved)
  }

  private implicit class Dollar(private val sc: StringContext) {
    def $(args: Any*): Column = col(sc.s(args: _*))
  }

  /** Distinct-token sets per doc: the shared base of the Jaccard family. */
  def docTokens(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("id"),
      explode(array_distinct(split(col(textCol), " "))).as("tok"))
      .filter($"tok" =!= "")

  /** Exact n-gram (word) Jaccard near-dup pairs ≥ threshold via an
    * inverted-index self-join: explode distinct tokens, join on token,
    * count shared tokens per pair, compute |A∩B| / (|A|+|B|-|A∩B|).
    * Shuffle keys: token (bounded by vocabulary), then pair id. Hot tokens
    * are the skew risk at scale — cap them with a document-frequency filter
    * (maxDf, drops logged), exactly the standard trick.
    */
  def jaccardPairs(docs: DataFrame, threshold: Double,
                   idCol: String = "doc_id", textCol: String = "text",
                   maxDf: Long = 1000000L): DataFrame =
    jaccardPairsFromTokens(docTokens(docs, idCol, textCol), threshold, maxDf)

  /** Distinct word-k-gram shingles per doc (requires ≥ k words; callers on
    * shorter docs should fall back to word tokens).
    */
  def shingleTokens(docs: DataFrame, shingleSize: Int,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val words = filter(split(col(textCol), " "), t => t =!= "")
    parallelFloor(docs).where(size(words) >= shingleSize) // guard: sequence() needs stop >= start
      .select(col(idCol).as("id"),
        explode(array_distinct(transform(sequence(lit(0), size(words) - lit(shingleSize)),
          i => concat_ws(" ", slice(words, i + 1, lit(shingleSize)))))).as("tok"))
  }

  /** Parallelism floor for the shingle family's narrow hash-heavy maps: a
    * small corpus (one parquet file, a union of a few branches) arrives in
    * a handful of input partitions and would run the split/slice/hash
    * pipeline on that handful of cores while the rest of the machine
    * idles. Widen to the session's parallelism first — the repartition
    * shuffles raw texts BEFORE the ~shingleSize× explosion, and at scale
    * (input partitions >= parallelism) it is a no-op branch.
    */
  private def parallelFloor(docs: DataFrame): DataFrame = {
    val target = docs.sparkSession.sparkContext.defaultParallelism
    if (docs.rdd.getNumPartitions < target) docs.repartition(target) else docs
  }

  /** Token table with string tokens replaced by 64-bit hashes: every
    * downstream shuffle/join keys on 8 bytes instead of multi-word shingle
    * strings (the standard at-scale trick — MinHash already lives on these
    * hashes). Set-semantics are preserved up to 64-bit collisions
    * (~n²/2⁶⁴ per document pair — negligible below ~10⁹ distinct shingles).
    */
  private def hashedToks(toks: DataFrame): DataFrame =
    // lazy localCheckpoint: the (id, tok-hash) table is consumed by several
    // shuffles (sizes, df-filter/self-join, verify sides) — materialize the
    // expensive shingle explode once instead of once per consumer. Local
    // mode / single-app only concern: blocks are freed by the context
    // cleaner when the plan is GC'd.
    checkpointLocal(toks.select($"id", xxhash64($"tok").as("tok")), eager = false)

  /** The SHARED per-doc hashed-shingle base of the whole near-dup family:
    * one row per doc, `toks` = distinct 64-bit hashes of its word-k-gram
    * shingles (docs with < k words are dropped, matching [[shingleTokens]]).
    * Materialized ONCE (lazy localCheckpoint) and consumed by BOTH the
    * candidate generator (MinHash signatures are arithmetic over these
    * longs) and the exact-verify stage — the shingle split/slice/hash
    * pipeline, the expensive narrow work, runs exactly one time per query
    * instead of once per stage.
    */
  def shingleDocBase(docs: DataFrame, shingleSize: Int,
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    shingleDocProjection(parallelFloor(docs), shingleSize, idCol, textCol)
      .transform(checkpointLocal(_, eager = false))

  /** The (id, toks) hashed-shingle projection WITHOUT materialization — the
    * building block [[shingleDocBase]] checkpoints, and the form the
    * incremental path uses for its corpus side (where a full-corpus
    * checkpoint is exactly the thing to avoid).
    */
  private def shingleDocProjection(docs: DataFrame, shingleSize: Int,
                                   idCol: String, textCol: String): DataFrame = {
    val words = filter(split(col(textCol), " "), t => t =!= "")
    docs.where(size(words) >= shingleSize)
      .select(col(idCol).as("id"),
        array_distinct(transform(sequence(lit(0), size(words) - lit(shingleSize)),
          i => xxhash64(concat_ws(" ", slice(words, i + 1, lit(shingleSize)))))).as("toks"))
  }

  /** Exact Jaccard verification of candidate pairs against the shared base:
    * fetch both docs' hashed shingle SETS with two joins (the small
    * candidate side broadcasts), then shared = |array_intersect| and sizes =
    * size(toks) — all narrow codegen'd array ops, no re-explode, no groupBy.
    * Shuffle volume is Σ over candidate pairs of (|A|+|B|), the same bytes
    * the exploded-join verify moved, in 2 joins instead of 2 joins + an agg.
    */
  def verifyJaccardOnBase(pairs: DataFrame, base: DataFrame, threshold: Double): DataFrame =
    pairs.select($"a", $"b")
      .join(base.select($"id".as("a"), $"toks".as("ta")), Seq("a"))
      .join(base.select($"id".as("b"), $"toks".as("tb")), Seq("b"))
      .select($"a", $"b", size(array_intersect($"ta", $"tb")).cast("long").as("shared"),
        size($"ta").cast("long").as("na"), size($"tb").cast("long").as("nb"))
      .filter($"shared" / ($"na" + $"nb" - $"shared") >= threshold)

  /** Exhaustive Jaccard ≥ threshold pairs over the shared base: explode the
    * (already materialized) token arrays, window df-filter + token-key
    * self-join as in [[jaccardPairsFromTokens]], but pair sizes come narrow
    * from size(toks) joins against the base instead of a groupBy(id) agg.
    */
  def jaccardPairsOnBase(base: DataFrame, threshold: Double,
                         maxDf: Long = 1000000L, logDrops: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = base.select($"id", explode($"toks").as("tok"))
    if (logDrops) {
      val hot = t.groupBy($"tok").agg(count(lit(1)).as("df")).filter($"df" > maxDf).count()
      logDrop("jaccard", s"tokens with df > $maxDf", hot)
    }
    val keep = t.withColumn("df", count(lit(1)).over(Window.partitionBy($"tok")))
      .filter($"df" <= maxDf).drop("df")
    val pairs = keep.as("x").join(keep.as("y"),
      col("x.tok") === col("y.tok") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("a"), col("y.id").as("b")).agg(count(lit(1)).as("shared"))
    pairs
      .join(base.select($"id".as("a"), size($"toks").cast("long").as("na")), Seq("a"))
      .join(base.select($"id".as("b"), size($"toks").cast("long").as("nb")), Seq("b"))
      .withColumn("jaccard", $"shared" / ($"na" + $"nb" - $"shared"))
      .filter($"jaccard" >= threshold)
      .select($"a", $"b", $"shared", $"na", $"nb")
  }

  /** Jaccard ≥ threshold pairs over any (id, tok) token table.
    *
    * Pair generation is a token-key SELF-JOIN (x.tok = y.tok, x.id < y.id):
    * a token shared by df docs yields df·(df−1)/2 output rows STREAMED
    * through the join — unlike a postings-list `collect_list` + in-row
    * expansion, no task ever materializes df² structs in memory, so a hot
    * token degrades throughput, not stability. Tokens above `maxDf` are
    * shed (logged): at threshold-level Jaccard they contribute negligible
    * discrimination but quadratic work. The document-frequency filter is a
    * WINDOW count over hash(tok) partitioning — the exact partitioning the
    * self-join needs, so Catalyst reuses one exchange for filter + both
    * join sides instead of separate agg + semi-join shuffles.
    */
  def jaccardPairsFromTokens(toks: DataFrame, threshold: Double,
                             maxDf: Long = 1000000L, logDrops: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = hashedToks(toks)
    val sizes = t.groupBy($"id").agg(count(lit(1)).as("n"))
    if (logDrops) {
      val hot = t.groupBy($"tok").agg(count(lit(1)).as("df")).filter($"df" > maxDf).count()
      logDrop("jaccard", s"tokens with df > $maxDf", hot)
    }
    val keep = t.withColumn("df", count(lit(1)).over(Window.partitionBy($"tok")))
      .filter($"df" <= maxDf).drop("df")
    val pairs = keep.as("x").join(keep.as("y"),
      col("x.tok") === col("y.tok") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("a"), col("y.id").as("b")).agg(count(lit(1)).as("shared"))
    pairs
      .join(sizes.withColumnRenamed("id", "a").withColumnRenamed("n", "na"), "a")
      .join(sizes.withColumnRenamed("id", "b").withColumnRenamed("n", "nb"), "b")
      .withColumn("jaccard", $"shared" / ($"na" + $"nb" - $"shared"))
      .filter($"jaccard" >= threshold)
      .select($"a", $"b", $"shared", $"na", $"nb")
  }

  /** i-th permutation = min over xxhash64(h, i) — re-hashing the base longs
    * is codegen'd, seed-indexed, and immune to ANSI-mode overflow (a
    * multiplicative family would throw under spark.sql.ansi.enabled).
    * The Column-form reference the native `minhash_sigs` expression is
    * pinned bit-identical against.
    */
  def minhashFromHashes(hashes: Column, numHashes: Int): Column =
    array((0 until numHashes).map { i =>
      array_min(transform(hashes, h => xxhash64(h, lit(i))))
    }: _*)

  /** The minhash family's banding, defined once: every candidate generator
    * and the persisted band index band identically, so a pair shares a
    * band signature in the index iff it does in a live banding. Word
    * 3-gram shingles, 32 hashes in 16 bands of 2 rows: a pair at Jaccard j
    * collides with probability 1-(1-j²)¹⁶, so a j = 0.8 pair is missed
    * w.p. (1-0.8²)¹⁶ ≈ 8·10⁻⁸ and a j = 0.9 pair w.p. ≈ 3·10⁻¹². Buckets
    * above `MaxBucket` are shed (logged where the audit is on).
    */
  private val ShingleSize = 3
  private val NumHashes = 32
  private val Bands = 16
  private val MaxBucket = 1000

  /** Lowest verify threshold at which the fixed banding is effectively
    * exhaustive (miss ≤ 8·10⁻⁸); at 0.5 the miss is ~1%. The bands are NOT
    * derived from the threshold: that would make the persisted band index
    * depend on it.
    */
  private val MinThreshold = 0.8

  /** Rejects a minhash-verified threshold outside [0.8, 1]: below 0.8 the
    * output would silently stop equalling the exhaustive Jaccard pair set,
    * and above 1 no pair can qualify. `DedupStream.ingest` calls it before
    * its stream starts.
    */
  private[graft] def requireThresholdInDomain(threshold: Double): Unit =
    require(threshold >= MinThreshold && threshold <= 1.0,
      s"jaccard threshold $threshold is outside [$MinThreshold, 1.0], the domain where " +
        s"the fixed $Bands-band x ${NumHashes / Bands}-row minhash banding is exhaustive")

  /** MinHash + LSH banding: signature → band keys → per-(band,
    * band-signature) buckets → candidate pairs by SELF-JOIN on the bucket
    * key (streamed pair expansion; see [[jaccardPairsFromTokens]]).
    */
  def minhashLshCandidates(docs: DataFrame, idCol: String = "doc_id",
                           textCol: String = "text", logDrops: Boolean = true): DataFrame =
    minhashLshCandidatesFromBase(shingleDocBase(docs, ShingleSize, idCol, textCol), logDrops)

  /** LSH banding over the shared base: signatures are pure long arithmetic
    * (xxhash64 re-mix + array_min) over the materialized `toks`, so the
    * candidate stage re-reads 8-byte hashes, never the corpus text. The
    * per-(band, bsig) occupancy table is eagerly checkpointed: the skew-cap
    * drop count AND the bucket filter both read it, so drop-logging costs a
    * count over a small cached table instead of re-running the banding agg.
    */
  private def minhashLshCandidatesFromBase(base: DataFrame, logDrops: Boolean): DataFrame = {
    val banded = minhashBanded(base)
    val counts = banded.groupBy($"band", $"bsig").agg(count(lit(1)).as("cnt"))
      .transform(checkpointLocal(_, eager = true)) // one row per occupied bucket — small
    if (logDrops) {
      val big = counts.filter($"cnt" > MaxBucket).count()
      logDrop("minhash-lsh", s"buckets larger than $MaxBucket", big)
    }
    val inBucket = banded.join(
      counts.filter($"cnt" > 1 && $"cnt" <= MaxBucket).select($"band", $"bsig"),
      Seq("band", "bsig"), "left_semi")
    inBucket.as("x").join(inBucket.as("y"),
      col("x.band") === col("y.band") && col("x.bsig") === col("y.bsig") &&
        col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b")).distinct()
  }

  /** (id, band, bsig) banding rows over an (id, toks) base — the shared
    * body of the batch self-join and the incremental delta-vs-corpus
    * candidate generators. Signatures come from the single-pass native
    * `minhash_sigs` expression (bit-identical to [[minhashFromHashes]],
    * which traverses the shingle array numHashes times and allocates an
    * intermediate array per permutation per row).
    */
  private def minhashBanded(base: DataFrame): DataFrame = {
    val r = NumHashes / Bands
    graft.functions.expressions.GraftFunctions.register(base.sparkSession)
    base.select($"id", expr(s"minhash_sigs(toks, $NumHashes)").as("sig"))
      .select($"id", explode(
        transform(sequence(lit(0), lit(Bands - 1)),
          b => struct(b.as("band"), slice($"sig", b * r + 1, lit(r)).as("bsig")))).as("bk"))
      .select($"id", $"bk.band".as("band"), $"bk.bsig".as("bsig"))
  }

  /** MinHash near-dups, exact-verified: LSH candidates filtered by the TRUE
    * shingle-Jaccard threshold. With the 16×2 banding the candidate recall
    * at j ≥ 0.8 is 1-8·10⁻⁸, so the verified output equals the exhaustive
    * exact-Jaccard pair set (what the DuckDB oracle computes) — the sketch
    * only prunes the pair space, it never decides membership. Candidate
    * generation and verification share ONE materialized shingle base.
    * Thresholds outside [0.8, 1] are rejected ([[requireThresholdInDomain]]).
    */
  def minhashNearDups(docs: DataFrame, threshold: Double,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    requireThresholdInDomain(threshold)
    val base = shingleDocBase(docs, ShingleSize, idCol, textCol)
    val cands = minhashLshCandidatesFromBase(base, logDrops = true)
    verifyJaccardOnBase(cands, base, threshold)
  }

  /** Incremental MinHash near-dup detection: exact-verified pairs between a
    * small DELTA of new documents and a large existing CORPUS (plus the
    * delta's internal pairs) — the batch a training-data pipeline runs per
    * ingest, where re-deduplicating the whole corpus against itself every
    * day is the thing that does not survive 100 TB. Equals
    * `minhashNearDups(corpus ∪ delta)` restricted to pairs touching the
    * delta (pinned by spec); ids must be disjoint across the two inputs.
    *
    * Corpus-side cost is TWO pushdown-friendly scans and zero corpus-sized
    * materializations or self-joins:
    *   1. banding — each corpus row's band keys are semi-joined against the
    *      delta's occupied bucket keys immediately, so only corpus rows
    *      that could pair with a delta doc survive to pair expansion
    *      (everything after the semi-join is delta-sized);
    *   2. verify — the exact-Jaccard stage re-reads only candidate-pair
    *      ids: the semi-join on id is applied to the RAW corpus before the
    *      shingle projection (Catalyst's semi-pushdown does not move the
    *      join below this projection on its own — verified on the plan),
    *      so the corpus shingle pipeline runs a second time only for docs
    *      that appear in some candidate pair.
    * [[minhashNearDupsIndexed]] is the deployed form of scan 1: the banding
    * rows PERSISTED as a `bkey`-bucketed snapshot table (the same
    * storage-partitioned design as the crawl engine's seen table), read
    * bucket-pruned instead of recomputed — [[graft.streaming.DedupStream]]
    * maintains that index commit-by-commit. This recomputing form remains
    * the one-shot / no-index path and the equality oracle for the indexed
    * one.
    *
    * Bucket-cap semantics match the batch operator on every bucket the
    * delta occupies (occupancy there counts corpus + delta rows, exactly
    * as the batch union would); buckets the delta does not occupy cannot
    * produce delta-touching pairs, so their batch-side shedding is
    * irrelevant to the restricted equality.
    */
  def minhashNearDupsIncremental(corpus: DataFrame, delta: DataFrame, threshold: Double,
                                 idCol: String = "doc_id", textCol: String = "text",
                                 logDrops: Boolean = true): DataFrame = {
    requireThresholdInDomain(threshold)
    val baseD = shingleDocBase(delta, ShingleSize, idCol, textCol)
    // eager for the same reason as the indexed form: every downstream eager
    // point holds this plan as a subtree
    val bandedD = checkpointLocal(minhashBanded(baseD), eager = true)
    val deltaKeys = bandedD.select($"band", $"bsig").distinct()
    val corpusToks = shingleDocProjection(parallelFloor(corpus), ShingleSize, idCol, textCol)
    // delta-sized after the semi-join: only corpus rows in delta-occupied
    // buckets can pair with a delta doc
    val bandedC = minhashBanded(corpusToks)
      .join(deltaKeys, Seq("band", "bsig"), "left_semi")
      .transform(checkpointLocal(_, eager = false))
    incrementalTail(corpus, baseD, bandedD, bandedC, threshold, idCol, textCol,
      logDrops, "minhash-incremental")
  }

  /** The (id, band, bsig, bkey) band-index rows of a document table — what a
    * deployment PERSISTS (bucketed by `bkey`) so per-ingest dedup never
    * re-reads corpus text for candidate generation. `bkey = xxhash64(band,
    * bsig)` is a single stored bucket column: storage-bucketing on it
    * co-partitions equal (band, bsig) keys, and a probe side can recompute
    * it from its own banding. Per-doc and deterministic, so the index of a
    * corpus is the union of the indexes of its ingest batches — exactly the
    * invariant [[graft.streaming.DedupStream]] maintains commit-by-commit.
    */
  def bandIndexOf(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    withBkey(minhashBanded(
      shingleDocProjection(parallelFloor(docs), ShingleSize, idCol, textCol)))

  private def withBkey(banded: DataFrame): DataFrame =
    banded.withColumn("bkey", xxhash64($"band", $"bsig"))

  /** Most distinct delta bkeys collected for the index prune; beyond it the
    * whole index is read and the (band, bsig) semi-join alone narrows it.
    */
  private val PruneMaxKeys: Int = 1 << 15

  /** Literal-`IN` cap: Catalyst's plan walk and parquet's stat check are
    * linear in the literal count — a measured 4-8k-literal list cost
    * ~5 s/micro-batch at sf0.1, more than the unpruned read it saved.
    */
  private val InListCap: Int = 1024

  /** [[minhashNearDupsIncremental]] against a PERSISTED band index: the
    * corpus's [[bandIndexOf]] rows live in `indexTable`, a bkey-bucketed
    * snapshot table, so candidate generation reads (id, band, bsig, bkey)
    * rows — never corpus text. Returns (pairs, the delta's own band-index
    * rows): the second element equals [[bandIndexOf]](delta) by
    * construction and is already EAGERLY materialized, so an ingest loop
    * that appends the delta to the index ([[graft.streaming.DedupStream]])
    * reuses it instead of running the shingle + minhash pipeline twice.
    *
    * The index read is pruned by the delta's distinct `bkey`s, in one of
    * three regimes chosen by their count:
    *   - ≤ 1024 (`InListCap`): FILE-level bucket skip — the keys map
    *     driver-side to the storage-bucket ids the index writer stamped
    *     into its file names ([[graft.snapshot.SnapshotStore.bucketIdOfLong]]),
    *     so only matching files are scanned — plus a `bkey IN` row-group
    *     filter;
    *   - ≤ 2¹⁵ (`PruneMaxKeys`): the file skip alone, which has no
    *     plan-side cost at any key count;
    *   - more: the full index, narrowed only by the semi-join.
    * bkey collisions only ADD candidate rows and the exact (band, bsig)
    * semi-join removes them, so no regime changes the output (MlSpec pins
    * each against the recomputing form). The verify stage re-reads only
    * candidate-pair ids from the raw corpus. The bucket-cap drop audit is
    * off: it is a second pass over the band rows per call, and the batch
    * operators carry it.
    */
  def minhashNearDupsIndexed(corpus: DataFrame, indexTable: graft.snapshot.SnapshotTable,
                             delta: DataFrame, threshold: Double): (DataFrame, DataFrame) = {
    requireThresholdInDomain(threshold)
    val spark = delta.sparkSession
    val baseD = shingleDocBase(delta, ShingleSize, "doc_id", "text")
    // EAGER: deltaKeys, the bucket-count base and the pair expansion all
    // contain this plan as a subtree — materializing it first means the
    // delta shingle+minhash pipeline runs once per batch, not once per
    // downstream eager point (measured 2-3× re-evaluation as a lazy
    // checkpoint: each eager consumer ran the full pipeline before any of
    // them populated the cache)
    val bandedD = checkpointLocal(withBkey(minhashBanded(baseD)), eager = true)
    val deltaKeys = bandedD.select($"band", $"bsig", $"bkey").distinct()
      .transform(checkpointLocal(_, eager = true)) // one row per delta-occupied bucket — small
    // ONE collect picks the regime: limit(cap+1) over the distinct bkeys,
    // an overflowing probe meaning "too many keys to prune by"
    val ks = deltaKeys.select($"bkey").distinct()
      .limit(PruneMaxKeys + 1).collect().map(_.getLong(0))
    val index =
      if (ks.length > PruneMaxKeys) indexTable.read(spark)
      else {
        val occupied = scala.collection.mutable.HashMap.empty[Int, Set[Int]]
        def keep(n: Int, b: Int): Boolean = occupied.getOrElseUpdate(n,
          ks.iterator.map(graft.snapshot.SnapshotStore.bucketIdOfLong(_, n)).toSet)(b)
        // "bkey" names the column our keys hash — dirs bucketed on any
        // other column are read in full rather than mispruned
        indexTable.readBucketSkipped(spark, "bkey", keep).map(df =>
          if (ks.length <= InListCap) df.where($"bkey".isInCollection(ks.toSeq)) else df)
      }
    val bandedC = index
      .getOrElse {
        import spark.implicits._
        Seq.empty[(Long, Int, Array[Long], Long)].toDF("id", "band", "bsig", "bkey")
      }
      .select($"id", $"band", $"bsig")
      .join(deltaKeys.select($"band", $"bsig"), Seq("band", "bsig"), "left_semi")
      .transform(checkpointLocal(_, eager = false))
    (incrementalTail(corpus, baseD, bandedD.drop("bkey"), bandedC, threshold, "doc_id",
      "text", logDrops = false, "minhash-indexed"), bandedD)
  }

  /** Shared tail of the two incremental generators: bucket-cap accounting
    * over corpus∪delta band rows, delta-touching pair expansion, and the
    * candidate-ids-only exact verify against the raw corpus.
    */
  private def incrementalTail(corpus: DataFrame, baseD: DataFrame, bandedD: DataFrame,
                              bandedC: DataFrame, threshold: Double,
                              idCol: String, textCol: String,
                              logDrops: Boolean, label: String): DataFrame = {
    val all = bandedC.withColumn("isd", lit(false))
      .unionByName(bandedD.withColumn("isd", lit(true)))
    val counts = all.groupBy($"band", $"bsig").agg(count(lit(1)).as("cnt"))
      .transform(checkpointLocal(_, eager = true)) // one row per delta-occupied bucket — small
    if (logDrops) {
      val big = counts.filter($"cnt" > MaxBucket).count()
      logDrop(label, s"buckets larger than $MaxBucket", big)
    }
    val inBucket = all.join(
      counts.filter($"cnt" > 1 && $"cnt" <= MaxBucket).select($"band", $"bsig"),
      Seq("band", "bsig"), "left_semi")
    val cands = inBucket.as("x").join(inBucket.as("y"),
      col("x.band") === col("y.band") && col("x.bsig") === col("y.bsig") &&
        col("x.id") < col("y.id") && (col("x.isd") || col("y.isd")))
      .select(col("x.id").as("a"), col("y.id").as("b")).distinct()
      .transform(checkpointLocal(_, eager = true)) // eager: two stages of one job read it below
    val candIds = cands.select($"a".as("id"))
      .unionByName(cands.select($"b".as("id"))).distinct()
    val corpusHits = corpus
      .join(candIds.select($"id".as(idCol)), Seq(idCol), "left_semi")
    // unconditional repartition, NOT parallelFloor: the floor reads
    // .rdd.getNumPartitions, and on a plan containing this join AQE
    // materializes the join's shuffle stages just to answer that — the
    // corpus⋉candidates work ran once to count partitions and again in the
    // verify query. corpusHits is candidate-sized (bounded by the dup
    // rate), so one explicit exchange is cheap at any scale and gives the
    // shingle verify full width regardless of how the semi-join planned.
    val target = corpusHits.sparkSession.sparkContext.defaultParallelism
    val verifyBase = shingleDocProjection(corpusHits.repartition(target), ShingleSize, idCol, textCol)
      .unionByName(baseD)
    verifyJaccardOnBase(cands, verifyBase, threshold)
  }

  /** 64-bit SimHash kernel: weighted sign-sum of token hashes (Charikar,
    * STOC 2002). Near-dups have small Hamming distance. One shared
    * implementation — the codegen'd expression's static kernel.
    */
  def simhash64Kernel(text: String): Long =
    graft.functions.expressions.SimHash64Expr.simhash(text)

  /** simhash64 as a Column: the codegen'd native expression (registered per
    * session — createOrReplaceTempFunction is idempotent), never a ScalaUDF.
    */
  private def simhash64Col(df: DataFrame, textCol: String): Column = {
    graft.functions.expressions.GraftFunctions.register(df.sparkSession)
    expr(s"simhash64(`$textCol`)")
  }

  /** SimHash candidate pairs, EXACT at `maxHamming`: the 64 bits band into
    * maxHamming+1 chunks, so any pair within maxHamming bits differs in at
    * most maxHamming chunks and must agree on at least one (pigeonhole) —
    * banding is lossless for the claimed radius, unlike a fixed 4-chunk
    * split checked against radius 6 — and the radius is ENFORCED inside
    * the bucket self-join, so chance bucket cohabitants (pairs agreeing on
    * one 9-10-bit chunk by luck; the n²-growing term) never reach the
    * caller. Pair expansion is a bucket-key self-join (streamed);
    * oversized buckets are shed and logged.
    */
  def simhashCandidates(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text", maxHamming: Int = 8,
                        maxBucket: Int = 1000, logDrops: Boolean = true): DataFrame = {
    // codegen'd native simhash64 expression — one corpus scan, no ScalaUDF
    val withSh = docs.select(col(idCol).as("id"), simhash64Col(docs, textCol).as("sh"))
    val chunks = maxHamming + 1
    val bounds = (0 to chunks).map(i => i * 64 / chunks)
    val bandCols = (0 until chunks).map { c =>
      val lo = bounds(c)
      val width = bounds(c + 1) - lo
      val mask = if (width >= 64) -1L else (1L << width) - 1L
      struct(lit(c).as("chunk"),
        shiftrightunsigned($"sh", lo).bitwiseAND(lit(mask)).as("bits"))
    }
    val banded = withSh.select($"id", $"sh", explode(array(bandCols: _*)).as("bk"))
      .select($"id", $"sh", $"bk.chunk".as("chunk"), $"bk.bits".as("bits"))
      // (id, sh, chunk, bits) is chunks×nDocs 32-byte rows; materialize once —
      // the occupancy agg, the bucket semi-join and BOTH self-join sides read it
      .transform(checkpointLocal(_, eager = false))
    val counts = banded.groupBy($"chunk", $"bits").agg(count(lit(1)).as("cnt"))
      .transform(checkpointLocal(_, eager = true)) // one row per occupied bucket — small
    if (logDrops) {
      val big = counts.filter($"cnt" > maxBucket).count()
      logDrop("simhash", s"buckets larger than $maxBucket", big)
    }
    val inBucket = banded.join(
      counts.filter($"cnt" > 1 && $"cnt" <= maxBucket).select($"chunk", $"bits"),
      Seq("chunk", "bits"), "left_semi")
    // the radius cut lives IN the join condition: bucket cohabitation is
    // only a necessary condition (9-10 bits of agreement), and chance
    // cohabitants — n²/2^width of them, the asymptotically dominant term —
    // must die here, on an 8-byte bit_count inside the join's codegen,
    // NOT downstream where each false pair would ride the distinct() and
    // then drag two shingle-set arrays through any Jaccard verify's
    // shuffle (measured at sf0.1: 3.3M bucket-cohabiting pairs vs 796
    // radius-true ones)
    inBucket.as("x").join(inBucket.as("y"),
      col("x.chunk") === col("y.chunk") && col("x.bits") === col("y.bits") &&
        col("x.id") < col("y.id") &&
        bit_count(col("x.sh").bitwiseXOR(col("y.sh"))) <= maxHamming)
      .select(col("x.id").as("a"), col("y.id").as("b"),
        bit_count(col("x.sh").bitwiseXOR(col("y.sh"))).as("hamming"))
      .distinct()
  }

  /** SimHash near-dups, exact-verified: the exhaustive shingle-Jaccard ≥
    * `jaccardThreshold` pair set, generated by [[minhashNearDups]]. The
    * name survives for its callers; no hamming-radius channel feeds it.
    *
    * Why not the radius: near-threshold pairs do not concentrate inside
    * any fixed radius — at J exactly at the threshold the differing token
    * mass is a constant FRACTION of the document, so the expected bit-flip
    * count is Θ(64 × that fraction) whatever the document length
    * (measured at sf0.001: oracle pairs at hamming 9, 9 and 12 against
    * radius 8). Measured at sf0.001, sf0.01 and sf0.1 (BENCH/BASELINE.md),
    * a radius-8 channel unioned with the minhash one added no verified
    * pair the minhash channel missed, so completeness rests on the
    * minhash banding alone (miss w.p. ≈ 3·10⁻¹² at J ≥ 0.9).
    * [[simhashCandidates]] remains the radius-exact standalone operator.
    */
  def simhashNearDups(docs: DataFrame, jaccardThreshold: Double,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    minhashNearDups(docs, jaccardThreshold, idCol, textCol)

  /** Connected components over near-dup candidate pairs → (doc_id, keep_id):
    * the cluster-resolution step a pipeline user needs after any pair
    * generator (keep_id = smallest doc id in the component — deterministic
    * survivor). Alternating large-star/small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC 2014): O(log n)
    * rounds, each round two window-aggregations — per-node neighborhood
    * minima come from a window min, NEVER a collect_list, so a mega-cluster
    * is a skewed partition (AQE-splittable), not an OOM row.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50,
                          reliableCheckpoints: Boolean = false,
                          driverEndgameEdges: Long = 1L << 17): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = pairs.sparkSession
    // lineage truncation between rounds: reliableCheckpoints=true (requires
    // spark.sparkContext.setCheckpointDir) writes each round's edge set to
    // reliable storage — the executor-loss-safe mode a 100-TB run wants.
    // EXPLICIT opt-in, not sniffed from the global checkpoint dir (an
    // unrelated component setting it must not change this function), and
    // deployments should set spark.cleaner.referenceTracking.cleanCheckpoints
    // =true so superseded rounds' checkpoint files are reclaimed as their
    // plans are GC'd (Spark keeps them otherwise). Default: localCheckpoint
    // (single-app runs). A caller opting into executor-loss safety without a
    // checkpoint dir must FAIL, not silently degrade to localCheckpoint.
    if (reliableCheckpoints) require(spark.sparkContext.getCheckpointDir.isDefined,
      "connectedComponents(reliableCheckpoints = true) requires " +
        "spark.sparkContext.setCheckpointDir — refusing to silently degrade " +
        "to executor-local checkpoints")
    val reliable = reliableCheckpoints
    // local mode: LAZY checkpoint — the per-round signature aggregation
    // below materializes it, so lineage truncation + convergence check run
    // as ONE job per round instead of two. Reliable mode stays eager (the
    // checkpoint is the executor-loss-safety point; it must exist before
    // anything else reads the round's output).
    def truncate(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint() else checkpointLocal(df, eager = false)
    // convergence signature: (row count, bit_xor of row hashes) — an
    // order-independent SET signature (the edge set is distinct()ed every
    // round) computed by ONE narrow map-side-partial aggregation. The old
    // check union+groupBy'd BOTH edge sets every round — a second full
    // shuffle per iteration that roughly doubled round cost. A signature
    // collision (two different edge sets with equal count and XOR-sum,
    // ~2⁻⁶⁴) would stop one round early; acceptable against halving every
    // round's cost.
    def edgeSig(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var edges = pairs.select(greatest($"a", $"b").as("u"), least($"a", $"b").as("v"))
      .filter($"u" =!= $"v").distinct()
      .persist()
    var sig = edgeSig(edges) // also materializes the persist
    var converged = false
    var iter = 0
    // Driver endgame: star-contraction shrinks the edge set geometrically,
    // but each distributed round still pays the fixed scheduling cost of
    // its shuffles — the dominant wall once edges are small. Below
    // `driverEndgameEdges` rows (default 2¹⁷ ≈ 2 MB of (u,v) longs — the
    // same bounded "driver holds only the sketch" contract as the IVF
    // sample) the remaining O(log n) rounds are replaced by ONE collect +
    // union-find. A 100-TB edge set still contracts distributed until it
    // crosses the threshold. The survivor rule (keep_id = component min) is
    // identical: union attaches the larger root under the smaller.
    while (!converged && sig._1 > driverEndgameEdges && iter < maxIter) {
      iter += 1
      // large-star: every node x links its strictly-larger neighbors to
      // min(N(x) ∪ {x})
      val nbrs = edges.select($"u".as("x"), $"v".as("y"))
        .unionByName(edges.select($"v".as("x"), $"u".as("y")))
      val wX = Window.partitionBy($"x")
      val ls = nbrs.withColumn("m", least(min($"y").over(wX), $"x"))
        .filter($"y" > $"x")
        .select(greatest($"y", $"m").as("u"), least($"y", $"m").as("v"))
        .filter($"u" =!= $"v").distinct()
      // small-star: each center u links itself and its smaller neighbors to
      // the minimum of that set
      val wU = Window.partitionBy($"u")
      val ss0 = ls.withColumn("m", least(min($"v").over(wU), $"u"))
      val next = ss0.select($"v".as("n"), $"m")
        .unionByName(ss0.select($"u".as("n"), $"m"))
        .filter($"n" =!= $"m")
        .select($"n".as("u"), $"m".as("v")).distinct()
        // truncate lineage across rounds (star-contraction is iterative;
        // without this the plan doubles every round)
        .transform(truncate)
      val nextSig = edgeSig(next)
      edges.unpersist()
      edges = next
      converged = nextSig == sig
      sig = nextSig
    }
    // NOT-CONVERGED exit (below the endgame threshold, or the maxIter
    // escape): the edge set is contracted but possibly NOT a star forest —
    // emitting it as the doc_id→keep_id mapping would be silently wrong
    // components. The driver union-find finishes EXACTLY regardless of
    // shape, so it runs on EVERY non-converged exit. maxIter is a safety
    // valve star contraction never reaches in practice (O(log n)
    // convergence ≪ 50); a pathological caller-forced tiny maxIter now
    // gets a correct answer (or a driver-side error on a still-huge
    // collect), never a wrong one — MlSpec pins this with maxIter = 0.
    if (!converged) {
      val out = driverUnionFind(spark, edges)
      edges.unpersist()
      return out
    }
    val out = edges.select($"u".as("doc_id"), $"v".as("keep_id"))
      .unionByName(edges.select($"v".as("doc_id"), $"v".as("keep_id")))
      .distinct()
    out
  }

  /** The endgame of [[connectedComponents]]: exact union-find with path
    * compression over a collected (bounded) edge set; root = component min,
    * matching the distributed survivor rule bit-for-bit (MlSpec pins
    * equality against the pure-distributed path).
    */
  private def driverUnionFind(spark: SparkSession, edges: DataFrame): DataFrame = {
    val local = edges.select(col("u"), col("v")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val n = parent.getOrDefault(c, r); parent.put(c, r); c = n }
      r
    }
    local.foreach { case (u, v) =>
      val ru = find(u); val rv = find(v)
      if (ru != rv) parent.put(math.max(ru, rv), math.min(ru, rv))
    }
    val nodes = collection.mutable.SortedSet.empty[Long]
    local.foreach { case (u, v) => nodes += u; nodes += v }
    // sorted node order keeps the local relation deterministic
    import spark.implicits._
    nodes.toSeq.map(n => (n, find(n))).toDF("doc_id", "keep_id")
  }

  /** Cluster RESOLUTION — the kept-set decision a dedup pipeline actually
    * applies after clustering: each near-dup cluster (connected component
    * of the Jaccard-`threshold` pair graph) keeps ONE survivor, chosen by
    * the caller's `quality` column (argmax; ties go to the smallest
    * `doc_id` so resolution is deterministic), and EVERY corpus doc maps to
    * its survivor — itself when it has no near-dup. Output:
    * (doc_id, survivor_id, kept); `filter($"kept")` is the deduped corpus,
    * the mapping rows are the redirect table.
    *
    * Scale shape: only CLUSTER MEMBERS (tiny vs corpus — the near-dup rate)
    * pay the quality evaluation and the argmax, via a semi-shaped inner
    * join of the CC output back to the corpus; the survivor pick is one
    * narrow (cluster → max struct) aggregation — no window over the corpus,
    * no quality pass over non-members. The final mapping rejoins the corpus
    * on `doc_id` once. Pair generation and CC inherit the banding / star-
    * contraction bounds documented on [[jaccardPairsOnBase]] /
    * [[connectedComponents]].
    */
  def resolveClusters(docs: DataFrame, threshold: Double,
                      quality: Column => Column,
                      shingleSize: Int = 3,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val base = shingleDocBase(docs, shingleSize, idCol, textCol)
    // drop audit intentionally off: membership is decided here, and the
    // same generator runs WITH the audit wherever pairs are the product
    val pairs = jaccardPairsOnBase(base, threshold, logDrops = false)
    val mapped = memberRedirects(docs, pairs, quality, idCol, textCol)
      .select($"doc_id", $"survivor_id")
    docs.select(col(idCol).as("doc_id")).join(mapped, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"survivor_id", $"doc_id").as("survivor_id"),
        (coalesce($"survivor_id", $"doc_id") === $"doc_id").as("kept"))
  }

  /** The member half of [[resolveClusters]], over an EXPLICIT pair set:
    * (doc_id, survivor_id, kept) rows for exactly the docs appearing in
    * `pairs` — connected components over the pair graph, then the same
    * survivor rule (argmax `quality`, ties to the smallest doc_id), with
    * quality read via a member-ids-only inner join against `docs`.
    * Non-members never pay the quality evaluation and no corpus-wide join
    * happens here, which is what makes it the incremental maintenance unit
    * [[graft.streaming.DedupStream]] re-runs per micro-batch over only the
    * AFFECTED clusters' edges. [[resolveClusters]] is this plus one left
    * join of the corpus for the implicit singletons.
    */
  def memberRedirects(docs: DataFrame, pairs: DataFrame, quality: Column => Column,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val cc = connectedComponents(pairs.select($"a", $"b"))
    // quality is EVALUATED above a member semi-join, not below the inner
    // join: an inner join prunes the OUTPUT to members, but its streamed
    // side still computes every projection for every probing row — a
    // quality pass over the whole corpus per call. The semi-join filters
    // first (8-byte hash probe), so the string-heavy quality expression
    // runs on member rows only.
    val memberQ = docs.select(col(idCol).as("doc_id"), col(textCol))
      .join(cc.select($"doc_id"), Seq("doc_id"), "left_semi")
      .select($"doc_id", quality(col(textCol)).as("q"))
    val members = cc.join(memberQ, Seq("doc_id"))
      .select($"doc_id", $"keep_id".as("cluster"), $"q")
    // argmax(q) per cluster, min-id tiebreak: max of (q, -doc_id) structs
    val survivors = members
      .groupBy($"cluster")
      .agg(max(struct($"q", (-$"doc_id").as("nid"))).as("w"))
      .select($"cluster", (-$"w.nid").as("survivor_id"))
    members.select($"doc_id", $"cluster")
      .join(survivors, Seq("cluster"))
      .select($"doc_id", $"survivor_id", ($"survivor_id" === $"doc_id").as("kept"))
  }

  /** Embedding-cosine near-dup pairs: unit-normalize, LSH-bucket by the
    * sign pattern of `planes` random hyperplanes (seeded, deterministic),
    * exact-verify cosine within buckets. No cross join anywhere. When
    * `autoPlanes` is set, the plane count grows with log₂(corpus size) so
    * the expected bucket occupancy n/2^planes stays bounded — a fixed plane
    * count turns the in-bucket self-join O(n²/2^planes) at 100× data.
    *
    * `multiProbe` (default on) compensates the recall more planes cost:
    * the left side of the self-join probes its own bucket PLUS every
    * one-bit flip (the [[Similarity.lshTopK]] construction), so any pair
    * whose signatures differ in at most one plane still meets — each such
    * pair meets on exactly one probe (hamming-0 on the identity probe,
    * hamming-1 on the single differing bit), so no distinct pass is
    * needed. Cost: the probe explode multiplies the left side by
    * nPlanes+1 — rows of 8-byte buckets, not vectors; the verify join
    * still carries the vectors once per side. Exact scalar-multiple
    * duplicates (cosine 1.0) are bucket-identical at ANY plane count —
    * sign(dot) is scale-invariant — so their recall is structural.
    */
  def embeddingNearDups(emb: DataFrame, threshold: Double,
                        idCol: String = "vec_id", vecCol: String = "embedding",
                        planes: Int = 8, autoPlanes: Option[Long] = None,
                        multiProbe: Boolean = true): DataFrame = {
    val dim = 64
    val nPlanes = autoPlanes match {
      case Some(n) if n > 0 =>
        val target = 256.0
        math.max(planes, math.ceil(math.log(n / target) / math.log(2)).toInt)
      case _ => planes
    }
    // signature, norm and the verify dot product run as native expressions
    // (rh_bucket_long / float_norm / float_dot): the former Column forms
    // built nPlanes×dim literal trees per row — planning and evaluation
    // cost, no semantic content. Arithmetic is replicated at the SAME
    // widths (float plane products and squares, widened into double
    // accumulators; draw bit 17 of det(0x97a3e5, p, i)) so buckets and
    // cosines are bit-identical (MlSpec pins recall/threshold fixtures).
    graft.functions.expressions.GraftFunctions.register(emb.sparkSession)
    val v = col(vecCol)
    val norm = call_function("float_norm", v)
    val sigBits = call_function("rh_bucket_long", v, lit(dim), lit(nPlanes), lit(0x97a3e5L))
    val withSig = emb.select(col(idCol).as("id"), v.as("vec"), norm.as("nrm"), sigBits.as("bucket"))
    val probeMasks =
      if (multiProbe) array((lit(0L) +: (0 until nPlanes).map(p => lit(1L << p))): _*)
      else array(lit(0L))
    // the probe side carries ONLY (id, bucket) — 16-byte rows — so the
    // (nPlanes+1)× explode multiplies ids, never vectors. The bucket join
    // ships the right side's vectors once; the left side's vectors attach
    // AFTER the match via one id-keyed join. (Exploding (id, vec, nrm)
    // directly would shuffle ~nPlanes× the corpus's vector bytes — at the
    // autoPlanes design point that is the dominant exchange.)
    val probing = withSig.select($"id",
      explode(transform(probeMasks, m => $"bucket".bitwiseXOR(m))).as("bucket"))
    val cand = probing.as("x").join(withSig.as("y"),
      col("x.bucket") === col("y.bucket") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        col("y.vec").as("vb"), col("y.nrm").as("nb"))
    cand.join(withSig.select($"id".as("a"), $"vec".as("va"), $"nrm".as("na")), Seq("a"))
      .select($"a", $"b",
        (call_function("float_dot", $"va", $"vb") / ($"na" * $"nb")).as("cosine"))
      .filter($"cosine" >= threshold)
  }
}
