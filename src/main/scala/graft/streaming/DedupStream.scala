package graft.streaming

import graft.ml.{TextAnalysis, TextDedup}
import graft.snapshot.{CommitWindow, SnapshotTable}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming near-duplicate detection: continuous MinHash+LSH dedup DURING
  * ingest, so a corpus never needs the daily full self-join re-dedup. Each
  * micro-batch (the delta):
  *
  *  1. near-dup pairs = [[TextDedup.minhashNearDupsIndexed]](corpus-so-far,
  *     band-index table, delta): delta vs the accumulated corpus AND
  *     delta-internal, with NO corpus text scan on the candidate side — the
  *     delta's band keys prune the PERSISTED index read (file-level bucket
  *     skip, plus a `bkey IN (...)` row-group filter for small deltas), and
  *     the exact verify re-reads only candidate-pair ids. Per-batch cost
  *     is O(delta + candidates), independent of corpus size — the property
  *     that lets the stream run forever at 100 TB;
  *  2. generation-guarded appends, in order: pairs, then (when a
  *     `redirectsTable` is given) the rewritten redirect rows of the
  *     clusters this batch's pairs touch, then the delta's
  *     [[TextDedup.bandIndexOf]] rows (bucketed by bkey — the index commit
  *     chunks read back exchange-free, same layout as the crawl engine's
  *     seen table) and the delta itself, those two concurrently in one
  *     [[graft.snapshot.CommitWindow]]. foreachBatch is at-least-once: a
  *     crash in any window replays the batch and the per-table guards
  *     re-run exactly the missing appends — pairs AND redirects are always
  *     computed against corpus/index states EXCLUDING the current batch,
  *     which the append order preserves across replays.
  *
  * The index and redirects tables' commit chains are folded by the same
  * size-tiered minor compaction as the crawl engine's seen table
  * ([[SnapshotTable.compactTiered]], fired when a chain reaches
  * `autoCompactDirs`), so a long-running stream never decays into
  * thousand-dir reads.
  *
  * ==Stream == batch (exact, not approximate)==
  * The drained pairs table equals [[TextDedup.minhashNearDups]] over the
  * whole corpus, as a set: banding is a pure per-doc function (seeded,
  * doc-independent), so the persisted index of a corpus is the union of its
  * batches' indexes, a pair (a, b) shares a band signature in the
  * incremental run iff it does in the batch run, and the exact verify is
  * the same Jaccard. Each qualifying pair is emitted EXACTLY once — in the
  * micro-batch of its later member (delta×corpus when they arrive apart,
  * delta-internal when together) — so iterating the incremental operator
  * over any partition of the corpus into batches reproduces the batch
  * result, independent of arrival order. DedupStreamSpec pins this on a
  * planted corpus with within-batch and cross-batch duplicates.
  *
  * ==Continuous cluster resolution (the kept set)==
  * With a `redirectsTable`, the stream also maintains the decision a dedup
  * pipeline actually applies: every cluster member maps to its cluster's
  * argmax-`quality` survivor ([[TextDedup.resolveClusters]] semantics; docs
  * in no cluster are implicit singletons). Maintenance is incremental and
  * AFFECTED-CLUSTERS-ONLY: the batch's new pairs name the touched
  * components; their current members come back as (doc → survivor) star
  * edges from the redirects table itself (a contracted, exact encoding of
  * the old components); [[TextDedup.memberRedirects]] re-resolves new pairs
  * ∪ those stars and the rewritten rows append stamped with the batch
  * generation — LATEST-WINS, read back through [[latestRedirects]]
  * (merge-on-read, the same pattern as a position-delete lakehouse table).
  * Per-batch SHUFFLE cost is O(new pairs + affected-cluster members) —
  * the latest-wins windows run only over affected docs' rows
  * ([[updatedRedirects]]) — never O(corpus) and never O(all clusters);
  * the doc-keyed history reads behind those windows are FILE-SKIPPED to
  * the affected ids' doc_id buckets (the band-index machinery), leaving
  * one narrow columnar survivor_id-keyed scan per pairful batch, and the
  * doc_id-bucketed commits are folded by the same in-run size-tiered
  * compaction as the band index, so neither the chain length nor the
  * history a scan pays grows unboundedly. Clusters
  * only grow (pairs are only added), so rows are only ever superseded,
  * never deleted. The drained
  * view equals the batch [[TextDedup.resolveClusters]] over the whole
  * corpus — survivor choice is an argmax over full final membership with a
  * deterministic tiebreak, so arrival order cannot leak in (DedupStreamSpec
  * pins stream == batch on a fixture whose clusters merge across batches).
  *
  * State lives in the snapshot tables, not the streaming state store —
  * nothing here grows with the stream except the lakehouse tables
  * themselves (the corpus table is the same one ingest maintains anyway),
  * so no watermark/horizon tradeoff exists in this operator.
  */
object DedupStream {

  /** Start the dedup stream over a documents directory. AvailableNow by
    * default (drain-what-exists, then stop); pass a processing-time trigger
    * for a live tail. `corpusTable` accumulates every streamed doc;
    * `indexTable` its band-index rows (bucketed by bkey); `pairsTable`
    * (a, b) near-dup pairs at `threshold`; `redirectsTable` (optional) the
    * latest-wins (doc_id, survivor_id, kept, gen) cluster-resolution rows
    * under `quality`. A `threshold` outside [0.8, 1] is rejected here,
    * before the stream starts (see [[TextDedup.minhashNearDups]]).
    */
  def ingest(spark: SparkSession, srcDir: String,
             corpusTable: SnapshotTable, pairsTable: SnapshotTable,
             indexTable: SnapshotTable,
             checkpointDir: String, threshold: Double = 0.8,
             trigger: Trigger = Trigger.AvailableNow(),
             maxFilesPerTrigger: Int = 1,
             autoCompactDirs: Int = 16,
             redirectsTable: Option[SnapshotTable] = None,
             quality: Column => Column = TextAnalysis.qualityScore,
             redirectSkipMinRows: Long = DefaultRedirectSkipMinRows): StreamingQuery = {
    TextDedup.requireThresholdInDomain(threshold)
    // self-heal ONCE at stream start: a table with plain (pre-bucketing)
    // or mixed-spec dirs would otherwise keep them, silently disabling the
    // tiered fold and the file skip for the stream's whole lifetime. A
    // uniformly bucketed table is left alone: its registry pins its count.
    indexTable.heal(spark, "bkey")
    redirectsTable.foreach(_.heal(spark, "doc_id"))
    spark.readStream.schema("doc_id BIGINT, text STRING")
      .option("maxFilesPerTrigger", maxFilesPerTrigger).parquet(srcDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        commitBatch(spark, corpusTable, pairsTable, indexTable, batch, batchId,
          threshold, autoCompactDirs, redirectsTable, quality,
          redirectSkipMinRows)
      }
      .start()
  }

  /** The current (doc_id, survivor_id, kept) view of an append-only
    * redirects table: each batch appends the rewritten rows of its affected
    * clusters stamped with its generation, so a doc's CURRENT mapping is
    * its highest-`gen` row. Merge-on-read; [[SnapshotTable.compactTiered]]
    * folds the chunk chain without touching row contents, so compaction
    * never changes this view. Empty table → empty view.
    */
  def latestRedirects(spark: SparkSession, table: SnapshotTable): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    table.read(spark).map { df =>
      df.withColumn("rn", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("gen").desc)))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("survivor_id"), col("kept"))
    }.getOrElse {
      import spark.implicits._
      Seq.empty[(Long, Long, Boolean)].toDF("doc_id", "survivor_id", "kept")
    }
  }

  /** MAJOR compaction of a latest-wins redirects table: rewrite it to
    * exactly its current [[latestRedirects]] view — one row per doc, every
    * superseded generation's row dropped — so the merge-on-read window
    * never pays for history a long-running stream no longer needs. The
    * between-runs maintenance pass, same division of labour as the crawl
    * engine's seen table: in-run folding stays the size-tiered minor
    * compact (never rewrites large dirs), this is the O(view) full fold.
    * The table generation is preserved, so batch replay guards and future
    * appends are unaffected; surviving rows are re-stamped with it (they
    * are the latest by construction — order among equals is irrelevant
    * because each doc now has exactly one row).
    *
    * Also the SELF-HEALING pass for a table whose dirs carry MIXED bucket
    * specs (history from before redirects were bucketed): mixed specs make
    * `bucketSpec` None, which silently disables the in-run tiered fold — so
    * the None arm REBUCKETS the whole view at the table's
    * [[SnapshotTable.bucketCount]] instead of cementing the plain layout
    * with a plain replace.
    */
  def compactRedirects(spark: SparkSession, table: SnapshotTable): Unit =
    table.currentSnapshot.foreach { cur =>
      val view = latestRedirects(spark, table).withColumn("gen", lit(cur.generation))
      val (n, bc) = table.bucketSpec.getOrElse((table.bucketCount(spark), "doc_id"))
      table.replaceBucketed(view, cur.generation, n, bc)
      ()
    }

  /** One micro-batch: pairs-then-redirects-then-index-then-corpus appends
    * under per-table generation guards (see class doc for the replay
    * analysis; pairs and redirects commit FIRST so their recomputes only
    * ever see index/corpus states without the current batch). Package-
    * visible so the replay interleavings are directly testable.
    */
  private[streaming] def commitBatch(spark: SparkSession, corpusTable: SnapshotTable,
                                     pairsTable: SnapshotTable, indexTable: SnapshotTable,
                                     batch: DataFrame, batchId: Long, threshold: Double,
                                     autoCompactDirs: Int = 16,
                                     redirectsTable: Option[SnapshotTable] = None,
                                     quality: Column => Column = TextAnalysis.qualityScore,
                                     redirectSkipMinRows: Long = DefaultRedirectSkipMinRows): Unit =
    // every local checkpoint the batch makes (candidate generation, the
    // redirect path's pairs) is released once its appends landed or failed
    TextDedup.releasingCheckpoints {
      import spark.implicits._
      val gen = batchId.toInt + 1
      val delta = batch.select(col("doc_id"), col("text"))
      val needPairs = !pairsTable.currentSnapshot.exists(_.generation >= gen)
      val needRedirects =
        redirectsTable.exists(t => !t.currentSnapshot.exists(_.generation >= gen))
      // the candidate generator eagerly materializes the delta's band rows
      // (identical to bandIndexOf(delta) by construction); when this batch
      // also appends to the index, reuse them — one shingle+minhash pass over
      // the delta per batch, not two
      var deltaBandRows: Option[DataFrame] = None
      if (needPairs || needRedirects) {
        val corpus = corpusTable.read(spark)
          .getOrElse(Seq.empty[(Long, String)].toDF("doc_id", "text"))
        // the index read is pruned by FILE (bucket ids in the file names) —
        // per-batch read cost tracks the delta's occupied buckets, not the
        // index size
        val (rawPairs, bandRows) =
          TextDedup.minhashNearDupsIndexed(corpus, indexTable, delta, threshold)
        deltaBandRows = Some(bandRows)
        val raw = rawPairs.select(col("a"), col("b"))
        // redirect maintenance consumes the pair set twice (endpoints, edges)
        // on top of the append — materialize once; pairs are tiny (dup rate)
        val pairs = if (needRedirects) TextDedup.checkpointLocal(raw, eager = true) else raw
        if (needPairs) pairsTable.append(pairs, generation = gen)
        if (needRedirects && !pairs.isEmpty) redirectsTable.foreach { rt =>
          // bucketed by doc_id, NOT a plain append: compactTiered only folds
          // uniformly bucketed chains, so plain redirect commits would grow
          // one dir per pairful batch FOREVER (the in-run fold below would
          // silently no-op) and the affected-docs semi-joins could never
          // read storage-aligned
          rt.appendBucketed(
            updatedRedirects(spark, rt, corpus.unionByName(delta), pairs, quality,
              redirectSkipMinRows)
              .withColumn("gen", lit(gen)),
            generation = gen, buckets = rt.bucketCount(spark), bucketCol = "doc_id")
        }
      }
      // index and corpus appends are INDEPENDENT once pairs+redirects have
      // committed (nothing in this batch reads either table after this
      // point, and a replay that finds any subset of {index, corpus}
      // committed re-runs exactly the missing appends — the per-table
      // generation guards below are evaluated BEFORE the window opens, same
      // as the sequential form). They run in one [[CommitWindow]], which
      // removes one serial append from the per-batch floor and settles both
      // before a failure surfaces. The pairs→redirects→{index ∥ corpus}
      // ORDER the replay analysis needs is preserved: the window opens
      // strictly after the redirects append returns.
      val needIndex = !indexTable.currentSnapshot.exists(_.generation >= gen)
      val needCorpus = !corpusTable.currentSnapshot.exists(_.generation >= gen)
      CommitWindow(spark, Seq(
        // reuse the candidate generator's materialized band rows; recompute
        // only on the replay path where pairs+redirects already committed
        // (bit-identical either way — the pipeline is deterministic)
        Option.when(needIndex)("index" -> (() => indexTable.appendBucketed(
          deltaBandRows.getOrElse(TextDedup.bandIndexOf(delta)),
          generation = gen, buckets = indexTable.bucketCount(spark), bucketCol = "bkey"))),
        Option.when(needCorpus)("corpus" -> (() => corpusTable.append(delta, generation = gen)))
      ).flatten: _*)
      if (autoCompactDirs > 0) {
        if (indexTable.commitDirCount >= autoCompactDirs)
          indexTable.compactTiered(spark, math.max(1, autoCompactDirs / 2))
        redirectsTable.foreach(rt => if (rt.commitDirCount >= autoCompactDirs)
          rt.compactTiered(spark, math.max(1, autoCompactDirs / 2)))
      }
    }

  /** The rewritten redirect rows a new pair set demands: the pairs'
    * endpoints name the affected roots (their current survivor, or
    * themselves when unmapped); the affected clusters' full membership
    * comes back as (doc → survivor) star edges — an exact contracted
    * encoding of the old components — and [[TextDedup.memberRedirects]]
    * re-resolves stars ∪ new pairs with fresh quality reads for members
    * only. `docs` must carry every pair endpoint's text (corpus ∪ delta).
    *
    * The latest-wins resolution here is AFFECTED-DOCS-ONLY: a full
    * [[latestRedirects]] would window-shuffle every redirect row ever
    * written on every pairful batch — O(cumulative membership + history),
    * exactly the growth the per-batch bound forbids. Instead the table is
    * read with narrow semi-joins (endpoint docs; then docs with ANY
    * generation's row pointing at an affected root — a superset of the
    * current members, safe because their latest rows are re-derived and
    * re-filtered) and the row_number window runs only over those docs'
    * rows. Every shuffle is affected-sized, and the two DOC-KEYED reads
    * (the endpoints' history, then the candidate members' history) are
    * FILE-SKIPPED: the table is doc_id-BUCKETED, so the known doc ids map
    * driver-side to the stamped bucket ids of the files that can hold
    * their rows ([[graft.snapshot.SnapshotStore.bucketIdOfLong]] /
    * [[SnapshotTable.readBucketSkipped]] — the same machinery the band
    * index uses) and the scan reads only those files: O(affected buckets)
    * of the table, independent of how much superseded history the chain
    * carries between [[compactRedirects]] passes. The one remaining full
    * scan is the roots→members lookup, which keys on `survivor_id` — NOT
    * the bucket column — so no doc_id-bucketed layout can skip for it; it
    * stays a single narrow columnar scan (two 8-byte columns,
    * semi-join-pruned) bounded by compaction cadence, the accepted cost.
    * Id sets are collected with a driver cap ([[redirectIdCap]]); a batch
    * whose affected set overflows it falls back to the full-scan
    * semi-join form — correctness never depends on the skip.
    */
  private def updatedRedirects(spark: SparkSession, rt: SnapshotTable, docs: DataFrame,
                               pairs: DataFrame, quality: Column => Column,
                               redirectSkipMinRows: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def emptyHist = {
      import spark.implicits._
      Seq.empty[(Long, Long, Int)].toDF("doc_id", "survivor_id", "gen")
    }
    // EMPTY-HISTORY fast path (first pairful batch of a stream): no stored
    // rows means no affected old clusters — the resolution is exactly
    // memberRedirects over the new pairs; skipping the endpoint/candidate
    // machinery saves its ~4 driver jobs of per-batch floor
    if (rt.currentSnapshot.forall(_.files.isEmpty))
      return TextDedup.memberRedirects(docs, pairs, quality)
    // the file skip arms only once the table outgrows the jobs it costs
    // (the crawl engine's seenSemiFilterRows gate is the same kind of
    // crossover, measured in BENCH/BASELINE.md): each skipped read replaces
    // a shared lazy scan with its own id-collect job (~2 driver round-trips
    // per pairful batch), which a sub-[[redirectSkipMinRows]] scan never
    // costs (measured +4 s/drain at the 3-batch sf0.1 fixture, skip always
    // on, when skipped reads also listed files). Above the threshold the
    // scan is the dominant term and the skip reads O(affected buckets).
    val skipWorthIt = rt.currentSnapshot.exists(_.rowCount >= redirectSkipMinRows)
    val hist = rt.read(spark).map(_.select(col("doc_id"), col("survivor_id"), col("gen")))
      .getOrElse(emptyHist)
    def latestOf(rows: DataFrame): DataFrame =
      rows.withColumn("rn", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("gen").desc)))
        .filter(col("rn") === 1).select(col("doc_id"), col("survivor_id"))
    // all history rows of a KNOWN doc-id set: bucket-skipped when the ids
    // fit the driver cap (their rows can only live in their ids' buckets),
    // the plain full read otherwise — identical row set either way
    def historyOf(ids: Option[Array[Long]]): DataFrame = ids match {
      case Some(ds) =>
        historySlice(spark, rt, ds)
          .map(_.select(col("doc_id"), col("survivor_id"), col("gen")))
          .getOrElse(emptyHist)
      case None => hist
    }
    val endpoints = pairs.select(col("a").as("doc_id"))
      .unionByName(pairs.select(col("b").as("doc_id"))).distinct()
    val endpointIds = if (skipWorthIt) collectIds(endpoints) else None
    // current roots of the endpoints: window over the ENDPOINT docs' rows
    // only, read from the endpoints' buckets only
    val endpointLatest = latestOf(
      historyOf(endpointIds).join(endpoints, Seq("doc_id"), "left_semi"))
    val roots = endpoints
      .join(endpointLatest, Seq("doc_id"), "left")
      .select(coalesce(col("survivor_id"), col("doc_id")).as("survivor_id")).distinct()
    // candidate members: any doc with ANY row naming an affected root
    // (superset of the current members — a doc whose LATEST survivor is in
    // `roots` names it in that latest row, so nothing is missed; stale
    // matches are dropped by the re-filter below). survivor_id-keyed: the
    // one full columnar scan (see doc comment).
    val candDocs = hist.join(roots, Seq("survivor_id"), "left_semi")
      .select(col("doc_id")).distinct()
    val candIds = if (skipWorthIt) collectIds(candDocs) else None
    val stars = latestOf(
      historyOf(candIds).join(candDocs, Seq("doc_id"), "left_semi"))
      .join(roots, Seq("survivor_id"), "left_semi")
      .filter(col("doc_id") =!= col("survivor_id"))
      .select(col("doc_id").as("a"), col("survivor_id").as("b"))
    TextDedup.memberRedirects(docs, pairs.unionByName(stars), quality)
  }

  /** Driver-side cap for the affected-id collections that drive the
    * redirects file skip (the same 2¹⁵ bound as the band-index key
    * collection in [[TextDedup.minhashNearDupsIndexed]]): beyond it the
    * batch falls back to full-scan semi-joins.
    */
  private val redirectIdCap: Int = 1 << 15

  /** Default arming threshold for the redirects file skip: below this many
    * stored rows the two extra id-collect jobs cost more than the full
    * columnar scans they avoid (measured +4 s per 3-batch drain at sf0.1,
    * when skipped reads also listed files); above it the scan term dominates
    * and the skip reads O(affected buckets) instead of O(history). 2¹⁷ rows
    * ≈ a few MB columnar — the same order as the CC driver-endgame bound,
    * and safely past the crossover on any hardware this engine targets.
    */
  val DefaultRedirectSkipMinRows: Long = 1L << 17

  /** Collect a single-LONG-column id set up to [[redirectIdCap]]: Some(all
    * ids) when they fit, None (fall back to the unskipped read) when the
    * limit+1 probe shows an overflow.
    */
  private def collectIds(ids: DataFrame): Option[Array[Long]] = {
    val arr = ids.limit(redirectIdCap + 1).collect().map(_.getLong(0))
    if (arr.length > redirectIdCap) None else Some(arr)
  }

  /** The redirects-history slice the endpoint/member windows read for a
    * known id set — exposed for DedupStreamSpec to assert the FILE-SKIP
    * property (`df.inputFiles` tracks the ids' buckets, not the chain's
    * history).
    */
  private[streaming] def historySlice(spark: SparkSession, rt: SnapshotTable,
                                      ids: Array[Long]): Option[DataFrame] = {
    val occupied = scala.collection.mutable.HashMap.empty[Int, Set[Int]]
    def keep(n: Int, b: Int): Boolean = occupied.getOrElseUpdate(n,
      ids.iterator.map(graft.snapshot.SnapshotStore.bucketIdOfLong(_, n)).toSet)(b)
    rt.readBucketSkipped(spark, "doc_id", keep)
  }
}
