package graft

import graft.functions.Predicates
import graft.ml.{Multimodal, Similarity, TextAnalysis, TextDedup}
import graft.synth.{SyntheticWeb, WebConfig}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract: one entry per implemented operator (SURVEY §2 + the
  * training-data-pipeline operators), each with a DuckDB-equivalent oracle
  * SQL where the semantics are SQL-expressible. Non-SQL-expressible ops
  * (hash-based LSH, synthetic-web ops, fingerprints) are registered without
  * an oracle → driver's rows-only check; their semantics are covered by
  * ScalaTest oracles instead.
  *
  * Conventions shared with the oracles: every output column is explicitly
  * aliased identically on both sides; every query ends in a deterministic
  * ORDER BY; aggregates avoid order-dependent floating-point accumulation
  * (integer counts, raw stored doubles, or integral-valued double sums).
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** URL corpus deterministically derived from doc_id — lets URL operators
    * be oracle-checked in pure SQL (same construction both sides).
    */
  private def urlCorpus(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
    d.select(col("doc_id"),
      concat(lit("https://host"), col("doc_id") % 40, lit(".example"),
        when(col("doc_id") % 7 === 0, concat(lit("/files/doc"), col("doc_id"), lit(".pdf")))
          .when(col("doc_id") % 7 === 1, concat(lit("/download/item"), col("doc_id")))
          .when(col("doc_id") % 7 === 2, concat(lit("/report"), col("doc_id"), lit("?format=pdf")))
          .when(col("doc_id") % 7 === 3, concat(lit("/images/img"), col("doc_id"), lit("-640x400.jpg")))
          .when(col("doc_id") % 7 === 4, concat(lit("/assets/style"), col("doc_id"), lit(".svg")))
          .when(col("doc_id") % 7 === 5, concat(lit("/private/page"), col("doc_id"), lit(".html")))
          .otherwise(concat(lit("/wiki/page"), col("doc_id"), lit(".html")))).as("url"))
  }

  /** Documents augmented with planted near-duplicates (doc_id+1000000,
    * one token appended) — the dedup-family fixture, same construction in
    * the SQL oracles.
    */
  private def plantedDocs(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents").select(col("doc_id"), col("text"))
    d.unionByName(d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" zzzplanted")).as("text")))
  }

  /** Cluster-resolution fixture: plantedDocs plus a SECOND near-copy for
    * doc_id % 20 == 0, producing planted components of size 3
    * {d, d+1e6, d+2e6} (the pairwise Jaccards are all >= 0.8).
    */
  private def clusterDocs(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents").select(col("doc_id"), col("text"))
    plantedDocs(spark, dir)
      .unionByName(d.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"),
          concat(col("text"), lit(" zzzplanted2")).as("text")))
  }

  /** Stage the [[clusterDocs]] fixture as a THREE-FILE stream source (base
    * documents, then each planted branch as its own micro-batch file) so
    * the streaming queries drain the exact corpus the batch/oracle replays.
    */
  private def stageClusterStream(s: SparkSession, dir: String): String = {
    import java.nio.file.{Files, Paths}
    val src = Files.createTempDirectory("graft-qsdedup-src")
    Files.copy(Paths.get(s"$dir/documents.parquet"), src.resolve("0-documents.parquet"))
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    def stage(mod: Int, off: Long, suffix: String, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft-qsdedup-part")
      d.filter(col("doc_id") % mod === 0)
        .select((col("doc_id") + off).as("doc_id"),
          concat(col("text"), lit(suffix)).as("text"))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val ls = Files.list(tmp)
      val part = try {
        import scala.jdk.CollectionConverters._
        ls.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet"))
      } finally ls.close()
      Files.move(part.get, src.resolve(name)): Unit
      deleteTempDir(tmp) // only _SUCCESS/.crc debris remains after the move
    }
    stage(10, 1000000L, " zzzplanted", "1-branch.parquet")
    stage(20, 2000000L, " zzzplanted2", "2-branch.parquet")
    src.toString
  }

  /** Fail-fast drain guard (ADVICE r5): `awaitTermination(timeout)` returns
    * FALSE on timeout — ignoring it lets a hung AvailableNow drain fall
    * through to rank a partially-filled sink, surfacing as a confusing
    * oracle count mismatch instead of the real failure. Stops the query
    * before throwing so the session isn't left with a zombie stream.
    */
  private def awaitDrained(q: org.apache.spark.sql.streaming.StreamingQuery,
                           name: String, timeoutMs: Long = 180000): Unit =
    if (!q.awaitTermination(timeoutMs)) {
      q.stop()
      throw new IllegalStateException(s"$name stream drain timed out after ${timeoutMs} ms")
    }

  /** Recursive delete for the per-invocation staging dirs the stream
    * queries create (ADVICE r5: leftover graft-qs* dirs leak /tmp across
    * Verify/bench runs — this repo has already hit ENOSPC from uncleaned
    * stores). Only dirs whose contents are FULLY CONSUMED by the drain
    * (stream sources, empty staging parents) are deleted; snapshot stores
    * backing the returned DataFrame must stay.
    */
  private def deleteTempDir(dir: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    try {
      val walk = java.nio.file.Files.walk(dir)
      val entries = try walk.iterator.asScala.toList.reverse finally walk.close()
      entries.foreach(p => java.nio.file.Files.deleteIfExists(p))
    } catch { case _: Exception => () }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------------- aggregation / group-by (A1/A4) ----------------
    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n"),
          countDistinct(col("l_orderkey")).as("n_orders"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // ---------------- sources + blank filter (S1/P1) ----------------
    "q_seed_filter" -> ((s, dir) => {
      t(s, dir, "documents")
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // ---------------- first-seen-wins dedup (D1/O1) ----------------
    "q_first_seen_dedup" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("user_id"), col("event_id").as("first_event_id"))
        .orderBy(col("user_id"))
    }),

    // ---------------- anti/semi joins (D2/J1/J3) ----------------
    "q_anti_join" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_orderstatus") === "F")
          .select(col("o_custkey").as("c_custkey")), Seq("c_custkey"), "left_anti")
        .select(col("c_custkey")).orderBy(col("c_custkey"))
    }),
    "q_semi_join" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders").select(col("o_custkey").as("c_custkey")), Seq("c_custkey"), "left_semi")
        .select(col("c_custkey")).orderBy(col("c_custkey"))
    }),

    // ---------------- argmax per group (D4/A3) ----------------
    "q_argmax" -> ((s, dir) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_quantity").desc, col("l_orderkey"), col("l_linenumber"))
      t(s, dir, "lineitem")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_suppkey"))
    }),

    // ---------------- per-group top-k (O5 priority frontier) ----------------
    "q_topk_per_group" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
        .select(col("o_custkey"), col("rank"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_custkey"), col("rank"))
    }),

    // ---------------- broadcast dimension joins ----------------
    "q_join_agg" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name")).agg(count(lit(1)).as("n_customers"))
        .orderBy(col("r_name"))
    }),

    // ---------------- sessionization (T-family stateful analog) ----------------
    "q_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("ms", unix_millis(col("ts").cast("timestamp"))) // ts is NTZ; session tz is UTC
        .withColumn("prev_ms", lag(col("ms"), 1).over(w))
        .withColumn("new_s",
          when(col("prev_ms").isNull || (col("ms") - col("prev_ms")) > 1800000L, 1L)
            .otherwise(0L))
        .groupBy(col("user_id")).agg(sum(col("new_s")).as("n_sessions"))
        .orderBy(col("user_id"))
    }),

    // ---------------- tumbling event-time window (T-family) ----------------
    "q_tumbling_window" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("window_start"), col("event_type"), col("n"))
        .orderBy(col("window_start"), col("event_type"))
    }),

    // ---------------- PDF heuristic on a derived URL corpus (P5) ----------------
    "q_pdf_heuristic" -> ((s, dir) => {
      urlCorpus(s, dir)
        .select(col("doc_id"), col("url"),
          Predicates.isLikelyPdfUrlCol(col("url")).as("is_likely_pdf"))
        .orderBy(col("doc_id"))
    }),

    // ---------------- exact dedup (hash groupBy) ----------------
    "q_dedup_exact" -> ((s, dir) => {
      TextDedup.exactDups(t(s, dir, "documents")).orderBy(col("keep_id"))
    }),

    // ---------------- n-gram Jaccard near-dup (inverted index) ----------------
    "q_dedup_jaccard" -> ((s, dir) => {
      val base = TextDedup.shingleDocBase(plantedDocs(s, dir), 3)
      TextDedup.jaccardPairsOnBase(base, 0.8)
        .select(col("a"), col("b"), col("shared"), col("na"), col("nb"))
        .orderBy(col("a"), col("b"))
    }),

    // ---------------- MinHash+LSH near-dup, exact-verified ----------------
    // LSH prunes the pair space; the exact shingle-Jaccard filter decides
    // membership. 16×2 banding misses a j=0.8 pair w.p. ~8e-8, so the
    // output equals the exhaustive exact pair set the oracle computes.
    "q_dedup_minhash" -> ((s, dir) => {
      TextDedup.minhashNearDups(plantedDocs(s, dir), 0.8)
        .select(col("a"), col("b"))
        .orderBy(col("a"), col("b"))
    }),

    // ---------------- SimHash near-dup, exact-verified ----------------
    // the exact shingle-Jaccard >= 0.9 pair set from the minhash-LSH
    // generator alone: near-threshold pairs can exceed any fixed hamming
    // radius (measured 9/9/12 vs radius 8 at sf0.001), and a radius channel
    // added no verified pair beyond minhash at sf0.001/0.01/0.1 (see
    // BENCH/BASELINE.md); the exact verify decides membership, so the
    // output is hash-independent and oracle-checkable.
    "q_dedup_simhash" -> ((s, dir) => {
      TextDedup.simhashNearDups(plantedDocs(s, dir), 0.9)
        .select(col("a"), col("b"))
        .orderBy(col("a"), col("b"))
    }),

    // ---------------- near-dup cluster resolution (doc_id -> keep_id) ----------------
    // connected components (alternating large-star/small-star) over exact
    // Jaccard pairs on a fixture with planted size-3 clusters
    "q_dedup_cluster" -> ((s, dir) => {
      val base = TextDedup.shingleDocBase(clusterDocs(s, dir), 3)
      // logDrops=false: the drop audit is a second full aggregation over the
      // exploded tokens, and the SAME pair generator runs WITH the audit in
      // q_dedup_jaccard — this query measures cluster resolution, not the
      // generator (membership is unaffected either way below maxDf)
      val pairs = TextDedup.jaccardPairsOnBase(base, 0.8, logDrops = false)
      TextDedup.connectedComponents(pairs.select(col("a"), col("b")))
        .orderBy(col("doc_id"))
    }),

    // ---------------- cluster resolution: keep best-quality per cluster ----------------
    // the kept-set decision a dedup pipeline actually applies: every doc
    // maps to its cluster's argmax-quality survivor (ties → smallest id;
    // docs with no near-dup keep themselves); filter(kept) = deduped corpus
    "q_dedup_resolve" -> ((s, dir) => {
      TextDedup.resolveClusters(clusterDocs(s, dir), 0.8, TextAnalysis.qualityScore)
        .orderBy(col("doc_id"))
    }),

    // ---------------- incremental near-dup: delta vs corpus ----------------
    // the per-ingest shape: new docs (the two planted branches) near-dup
    // checked against the existing corpus AND each other, without a corpus
    // self-join — equals the batch pair set over the union restricted to
    // pairs touching the delta (the oracle applies exactly that filter;
    // corpus-internal dup pairs exist in `documents` and must NOT appear)
    "q_dedup_incremental" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val delta = d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" zzzplanted")).as("text"))
        .unionByName(d.filter(col("doc_id") % 20 === 0)
          .select((col("doc_id") + 2000000).as("doc_id"),
            concat(col("text"), lit(" zzzplanted2")).as("text")))
      TextDedup.minhashNearDupsIncremental(d, delta, 0.8)
        .select(col("a"), col("b")).orderBy(col("a"), col("b"))
    }),

    // ---------------- embedding-cosine near-dup via LSH buckets ----------------
    // autoPlanes: the plane count grows with log2(corpus) so expected bucket
    // occupancy stays bounded at 100x data (scale-safe BY DEFAULT, not by
    // option); one-bit multi-probe compensates the recall near the
    // threshold. The planted duplicates are exact scalar multiples (cosine
    // 1.0) — sign-LSH buckets them identically at ANY plane count, so the
    // exhaustive-pair DuckDB oracle stays a true oracle as planes grow.
    "q_dedup_embedding" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").filter(col("vec_id") % 5 === 0)
        .select(col("vec_id"), col("embedding"))
      val planted = e.unionByName(e.select((col("vec_id") + 1000000).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.001f)).as("embedding")))
      // autoPlanes sizing hint: the BARE table's row count (parquet footer
      // metadata, no column IO) upper-bounds |planted| (= 2/5 of it);
      // autoPlanes is a log2 sizing knob, so an upper bound only rounds the
      // plane count up — no full scan inside the timed query for sizing
      val sizeHint = t(s, dir, "embeddings").count()
      TextDedup.embeddingNearDups(planted, 0.95, autoPlanes = Some(sizeHint))
        .select(col("a"), col("b")).orderBy(col("a"), col("b"))
    }),

    // ---------------- similarity search: exact brute-force top-k ----------------
    "q_ann_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.cosineTopK(emb, emb.filter(col("vec_id") < 10), 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---------------- similarity search: LSH-bucketed ANN ----------------
    // exact-equivalence configuration (probeAll): every bucket is probed, so
    // the output equals brute force and the brute-force SQL is a true oracle
    // while the PLAN stays the bucket-key join that scales (no |Q|x|N|
    // term); approximate-probe recall is pinned by MlSpec instead
    "q_ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10), 5, probeAll = true)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---------------- similarity search: IVF-cell ANN ----------------
    // exact-equivalence configuration (nprobe = nlist): all cells probed —
    // output equals brute force, k-means cell-join plan unchanged;
    // nprobe<nlist recall is pinned by MlSpec
    "q_ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), 5, probeAll = true)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---------------- text analysis: token statistics ----------------
    "q_text_stats" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.subwordTokenCount(col("text")).as("n_subword"))
        .orderBy(col("doc_id"))
    }),

    // ---------------- text analysis: language distribution ----------------
    "q_lang_dist" -> ((s, dir) => {
      t(s, dir, "documents").groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"), max(col("n_chars")).as("max_chars"))
        .orderBy(col("lang"), col("source"))
    }),

    // ---------------- text analysis: Gopher-style hard quality gates ----------------
    "q_quality_gates" -> ((s, dir) => {
      val g = TextAnalysis.gopherGates(col("text"))
      t(s, dir, "documents").select(col("doc_id"),
        g.getField("n_words").as("n_words"),
        g.getField("mean_word_len").as("mean_word_len"),
        g.getField("symbol_ratio").as("symbol_ratio"),
        g.getField("n_stop_types").as("n_stop_types"),
        g.getField("keep").as("keep"))
        .orderBy(col("doc_id"))
    }),

    // ---------------- text analysis: corpus token frequency (stop-grams) ----------------
    // top-k most frequent tokens corpus-wide: the vocabulary/stop-gram
    // audit every pretraining pipeline runs; deterministic tie-break
    "q_token_topk" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(explode(filter(split(lower(col("text")), " "), t => t =!= "")).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")).limit(20)
    }),

    // ---------------- text analysis: within-doc repetition (boilerplate) ----------------
    "q_repetition" -> ((s, dir) => {
      val r = TextAnalysis.repetitionMetrics(col("text"), 2)
      t(s, dir, "documents").select(col("doc_id"),
        r.getField("n_grams").as("n_grams"),
        r.getField("n_distinct").as("n_distinct"),
        r.getField("dup_frac").as("dup_frac"))
        .orderBy(col("doc_id"))
    }),

    // ---------------- context-window chunking (training-window packing) ----------------
    "q_chunking" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(TextAnalysis.chunkWindows(col("text"), 100, 50)).as(Seq("chunk_idx", "chunk_text")))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // ---------------- greedy sequence packing (training-batch construction) ----------------
    // docs walked in doc_id order within (source, salt) streams, greedily
    // packed into 256-token bins; the sequential walk runs as the native
    // greedy_pack expression over each group's collected 12-byte pairs
    "q_seq_pack" -> ((s, dir) => {
      TextAnalysis.packBins(t(s, dir, "documents"), capacity = 256, saltBuckets = 4)
        .withColumn("n_docs", col("n_docs").cast("long"))
        .orderBy(col("source"), col("salt"), col("bin_id"))
    }),

    // ---------------- deterministic mixture sampling (domain weighting) ----------------
    // per-source keep rates applied via modular arithmetic on doc_id — the
    // quality/domain-weighted sampling step, reproducible with no RNG state
    "q_domain_mix" -> ((s, dir) => {
      val rate = lit(100) - substring(col("source"), 4, 10).cast("int") * 4
      t(s, dir, "documents")
        .filter(col("doc_id") % 100 < rate)
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
        .orderBy(col("source"))
    }),

    // ---------------- PII redaction (corpus-release scrub) ----------------
    // fixture plants deterministic emails/phones in every 10th doc (same
    // construction in the oracle); the scrub must count and redact exactly
    "q_pii_redact" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 10 === 0,
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@example.com or call 555-010-1234 now")))
          .otherwise(col("text")).as("text"))
      val c = TextAnalysis.piiCounts(col("text"))
      d.select(col("doc_id"),
        c.getField("n_emails").as("n_emails"),
        c.getField("n_phones").as("n_phones"),
        TextAnalysis.redactPii(col("text")).as("redacted"))
        .orderBy(col("doc_id"))
    }),

    // ---------------- decontamination (eval-overlap flagging) ----------------
    // contamination list = the first word-3-gram of every 50th doc (derived
    // from the corpus on both sides); flag every doc whose 3-gram set
    // contains ANY listed gram — the benchmark-overlap check run before
    // training. Inverted-index semi-join, no cross product.
    "q_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val contam = docs.filter(col("doc_id") % 50 === 0)
        .select(concat_ws(" ", slice(filter(split(col("text"), " "), t0 => t0 =!= ""), 1, 3)).as("tok"))
        .filter(length(col("tok")) > 0).distinct()
      TextDedup.shingleTokens(docs, 3)
        .join(contam, Seq("tok"), "left_semi")
        .select(col("id").as("doc_id")).distinct()
        .orderBy(col("doc_id"))
    }),

    // ---------------- streaming training-data ingest (driver-gated) ----------------
    // the STREAMING clean path under the same DuckDB gate as the batch ops:
    // stage the documents file as a stream source, drain it with
    // DocIngest.ingest (AvailableNow -> watermark-bounded dedup + Gopher
    // gates -> one snapshot commit per micro-batch), then return the kept
    // TEXT set. Survivor doc_ids are arrival-order-dependent in the stream
    // and arbitrary in the batch dropDuplicates, but the kept distinct-text
    // set IS the dedup+gate semantics — the oracle replays it in SQL.
    "q_stream_ingest" -> ((s, dir) => {
      import java.nio.file.{Files, Paths}
      val src = Files.createTempDirectory("graft-qstream-src")
      Files.copy(Paths.get(s"$dir/documents.parquet"), src.resolve("documents-0.parquet"))
      val store = graft.snapshot.SnapshotStore(
        Files.createTempDirectory("graft-qstream-store").toString)
      val table = store.table("clean_documents")
      val ckpt = Files.createTempDirectory("graft-qstream-ckpt").toString
      // statePartitions=8: the fixture drains one file per micro-batch, so
      // per-batch state-store delta/snapshot IO (64 stores at the session's
      // shuffle width) dominates the wall; 8 stores bound that fan-out while
      // holding this horizon's hash keys comfortably
      val q = graft.streaming.DocIngest.ingest(s, src.toString, table, ckpt,
        statePartitions = Some(8))
      awaitDrained(q, "q_stream_ingest")
      deleteTempDir(src) // source fully consumed by the drain
      table.read(s).getOrElse(s.emptyDataFrame.select(lit("").as("text")).limit(0))
        .select(col("text")).orderBy(col("text"))
    }),

    // ---------------- text analysis: lang-id + quality (rows-only) ----------------
    // ---------------- streaming near-dup dedup (driver-gated) ----------------
    // three micro-batches (base corpus, then two planted branch files) drain
    // through DedupStream; the pairs table must equal the EXACT Jaccard pair
    // set over the whole union (stream == batch == exhaustive — the same
    // equivalence chain q_dedup_minhash/q_dedup_incremental pin in batch)
    "q_stream_dedup" -> ((s, dir) => {
      import java.nio.file.Files
      val src = stageClusterStream(s, dir)
      val store = graft.snapshot.SnapshotStore(
        Files.createTempDirectory("graft-qsdedup-store").toString)
      val pairsT = store.table("near_dup_pairs")
      val ckpt = Files.createTempDirectory("graft-qsdedup-ckpt").toString
      val q = graft.streaming.DedupStream.ingest(s, src,
        store.table("corpus"), pairsT, store.table("band_index"), ckpt, threshold = 0.8)
      awaitDrained(q, "q_stream_dedup")
      deleteTempDir(java.nio.file.Paths.get(src)) // source fully consumed
      pairsT.read(s)
        .getOrElse(s.emptyDataFrame.select(lit(0L).as("a"), lit(0L).as("b")).limit(0))
        .select(col("a"), col("b")).orderBy(col("a"), col("b"))
    }),

    // ---------------- streaming cluster resolution (driver-gated) ----------------
    // the same three-micro-batch drain, now with the kept/redirect table
    // maintained incrementally (affected clusters only, latest-wins rows);
    // the drained resolution view must equal the one-shot BATCH
    // resolveClusters over the whole union — the oracle is q_dedup_resolve's
    // replay verbatim (same fixture, same survivor rule)
    "q_stream_resolve" -> ((s, dir) => {
      import java.nio.file.Files
      val src = stageClusterStream(s, dir)
      val store = graft.snapshot.SnapshotStore(
        Files.createTempDirectory("graft-qsresolve-store").toString)
      val corpusT = store.table("corpus")
      val redirT = store.table("redirects")
      val ckpt = Files.createTempDirectory("graft-qsresolve-ckpt").toString
      val q = graft.streaming.DedupStream.ingest(s, src,
        corpusT, store.table("near_dup_pairs"), store.table("band_index"), ckpt,
        threshold = 0.8, redirectsTable = Some(redirT),
        quality = TextAnalysis.qualityScore)
      awaitDrained(q, "q_stream_resolve")
      deleteTempDir(java.nio.file.Paths.get(src)) // source fully consumed
      val red = graft.streaming.DedupStream.latestRedirects(s, redirT)
        .select(col("doc_id"), col("survivor_id"))
      corpusT.read(s)
        .getOrElse(s.emptyDataFrame.select(lit(0L).as("doc_id")).limit(0))
        .select(col("doc_id"))
        .join(red, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("survivor_id"), col("doc_id")).as("survivor_id"),
          (coalesce(col("survivor_id"), col("doc_id")) === col("doc_id")).as("kept"))
        .orderBy(col("doc_id"))
    }),

    // ---------------- streaming hot-host top-k (driver-gated) ----------------
    // the events table replayed as a THREE-FILE FetchEvent stream (event_id
    // mod 3 spreads every host's events across all three files, so the
    // cumulative flatMapGroupsWithState count must survive micro-batch
    // boundaries to rank correctly); the drained top-k must equal the batch
    // GROUP BY count
    "q_stream_hosts" -> ((s, dir) => {
      import java.nio.file.{Files, attribute}
      val events = t(s, dir, "events")
        .select(
          concat(lit("https://host-"), col("user_id"), lit("/e"), col("event_id")).as("url"),
          concat(lit("host-"), col("user_id")).as("host"),
          lit(0).as("salt"),
          unix_millis(col("ts").cast("timestamp")).as("scheduled_ms"), // ts is NTZ; session tz is UTC
          lit(100L).as("min_delay_ms"),
          lit(0).as("round"),
          lit(0).as("phase"),
          col("event_id"))
      val src = Files.createTempDirectory("graft-qshosts-src")
      (0 until 3).foreach { i =>
        val tmp = Files.createTempDirectory("graft-qshosts-part")
        events.filter(pmod(col("event_id"), lit(3)) === i).drop("event_id")
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val ls = Files.list(tmp)
        val part = try {
          import scala.jdk.CollectionConverters._
          ls.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet"))
        } finally ls.close()
        val f = src.resolve(f"$i%02d.parquet")
        Files.move(part.get, f)
        Files.setLastModifiedTime(f, attribute.FileTime.fromMillis(1000000L * (i + 1))): Unit
        deleteTempDir(tmp) // only _SUCCESS/.crc debris remains after the move
      }
      // 8 state stores (same sizing rationale as q_stream_ingest): the
      // fixture's micro-batches are small, so per-batch state-store
      // delta/snapshot IO dominates at the session's full shuffle width
      val session = s.newSession()
      s.conf.getAll.foreach { case (k, v) =>
        try session.conf.set(k, v) catch { case _: Exception => () }
      }
      session.conf.set("spark.sql.shuffle.partitions", "8")
      import session.implicits._
      val schema = org.apache.spark.sql.Encoders.product[graft.model.FetchEvent].schema
      val stream = session.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(src.toString).as[graft.model.FetchEvent]
      val qname = s"q_stream_hosts_${System.nanoTime()}"
      val q = graft.streaming.FetchStream.runningHostCounts(stream)
        .toDF().writeStream.outputMode("append").format("memory")
        .queryName(qname)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      awaitDrained(q, "q_stream_hosts")
      // the memory sink holds the drained rows; the staged source dir is
      // fully consumed and deletable (ADVICE r5: these leaked per run)
      deleteTempDir(src)
      graft.streaming.FetchStream.hotHostTopK(session.table(qname), 25)
    }),

    "q_lang_quality" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.langIdHeuristic(col("text")).as("lang_pred"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))
    }),

    // ---------------- document fingerprinting (rows-only) ----------------
    // rolling_fingerprint AND winnow_fingerprints are native codegen'd
    // Catalyst Expressions (graft.functions.expressions), not UDFs — the
    // whole fingerprint scan stays inside whole-stage codegen
    "q_fingerprint" -> ((s, dir) => {
      graft.functions.expressions.GraftFunctions.register(s)
      t(s, dir, "documents").select(col("doc_id"),
        expr("rolling_fingerprint(text)").as("fingerprint"),
        size(TextAnalysis.winnowingFingerprints("text", 8, 4)).as("n_winnow"))
        .orderBy(col("doc_id"))
    }),

    // ---------------- multimodal decode (REAL BMP/WAV/GRFV codecs) ----------------
    // payloads are actual encoded bytes; every aggregate below comes from
    // PARSING them (headers + pixel/sample data), and the DuckDB oracle
    // recomputes the same values from the doc_id arithmetic that
    // parameterized the encoders
    "q_multimodal" -> ((s, dir) => {
      val media = Multimodal.syntheticMedia(t(s, dir, "documents"))
      Multimodal.decodeFeatures(media).toDF()
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n"), sum(col("n_bytes")).as("total_bytes"),
          sum(col("frames_sampled")).as("total_frames"),
          sum(col("content_sum")).as("checksum"),
          sum(col("width")).as("total_width"),
          sum(col("duration_ms")).as("total_duration_ms"))
        .orderBy(col("kind"))
    }),

    // ---------------- export surface: ISO timestamps at export (F6/F7) ----------------
    // exercises JsonlExport's date_format renderers on a deterministic
    // doc_id-derived timestamp (engine tables stay timestamp-free; the
    // run_ts enters only at export)
    "q_export_records" -> ((s, dir) => {
      import graft.`export`.JsonlExport
      val ts = timestamp_micros((lit(1700000000L) + col("doc_id") % 100000) * lit(1000000L))
      t(s, dir, "documents").select(col("doc_id"),
        JsonlExport.isoNaive(ts).as("stored_at"),
        JsonlExport.isoAwarePlusZ(ts).as("extracted_at"),
        concat(lit("run_links_"), JsonlExport.runFileTs(ts), lit(".jsonl")).as("run_file"))
        .orderBy(col("doc_id"))
    }),

    // ---------------- crawl ops on the synthetic web (rows-only) ----------------
    "q_crawl_search" -> ((s, dir) => {
      import s.implicits._
      val cfg = WebConfig(seed = 42, nHosts = 100)
      val qs = (1 to 8).map(i => s"singapore topic $i")
      val hits = s.createDataset(qs).flatMap(q =>
        SyntheticWeb.searchHits(cfg, q, 1, isImage = false).map(h => (q, h.url, h.title, h.content)))
        .toDF("query", "url", "title", "content")
      val w = Window.partitionBy(col("url")).orderBy(col("query"))
      hits.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .filter(Predicates.isRelevantCol(col("title"), col("url"), col("content")))
        .select(col("query"), col("url")).orderBy(col("query"), col("url"))
    }),

    // ---------------- span extraction on the synthetic web (rows-only) ----------------
    "q_span_extract" -> ((s, dir) => {
      import s.implicits._
      val cfg = WebConfig(seed = 42, nHosts = 100)
      val urls = (1 to 40).map(i => SyntheticWeb.pageUrl(cfg, 1 + i % 20, i.toLong))
      s.createDataset(urls.distinct)
        .flatMap { u =>
          SyntheticWeb.fetch(cfg, u).toSeq.flatMap { html =>
            val ex = graft.functions.SpanExtractor.extract(u, html)
            ex.spans.map(sp => (graft.functions.SpanExtractor.docId(u), sp.offset, sp.kind, sp.text))
          }
        }.toDF("doc_id", "offset", "kind", "text")
        .orderBy(col("doc_id"), col("offset"))
    })
  )

  /** The planted-near-dup fixture in SQL (mirrors [[plantedDocs]]). */
  private val plantedAugSql: String =
    """aug AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text || ' zzzplanted' AS text
      |  FROM documents WHERE doc_id % 10 = 0)""".stripMargin

  /** The cluster fixture in SQL (mirrors [[clusterDocs]]). */
  private val clusterAugSql: String =
    """aug AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text || ' zzzplanted' AS text
      |  FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 2000000 AS doc_id, text || ' zzzplanted2' AS text
      |  FROM documents WHERE doc_id % 20 = 0)""".stripMargin

  /** Shared exact word-3-gram Jaccard pair CTEs over an `aug` fixture. */
  private def jaccardCtes(aug: String): String =
    s"""$aug,
       |words AS (SELECT doc_id AS id, list_filter(string_split(text, ' '), x -> x <> '') AS w FROM aug),
       |sh AS (SELECT DISTINCT id, array_to_string(w[i + 1:i + 3], ' ') AS tok
       |       FROM words, UNNEST(range(len(w) - 2)) AS t(i)
       |       WHERE len(w) >= 3),
       |sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
       |pairs AS (SELECT x.id AS a, y.id AS b, count(*) AS shared
       |          FROM sh x JOIN sh y ON x.tok = y.tok AND x.id < y.id
       |          GROUP BY x.id, y.id)""".stripMargin

  /** Exact Jaccard-threshold pair query (a, b only) over an aug fixture. */
  private def jaccardPairsSql(aug: String, threshold: Double): String =
    s"""WITH ${jaccardCtes(aug)}
       |SELECT a, b
       |FROM pairs JOIN sizes sa ON sa.id = a JOIN sizes sb ON sb.id = b
       |WHERE shared * 1.0 / (sa.n + sb.n - shared) >= $threshold
       |ORDER BY a, b""".stripMargin

  // SQL fragments shared by the lang/quality oracle, generated from the same
  // Scala stopword lists the Spark side uses (no drift possible)
  private def sqlList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("[", ", ", "]")

  /** Cluster-resolution replay over the cluster fixture: reachability
    * clustering, then the engine's quality arithmetic (the q_lang_quality
    * replay, proven hash-equal) picks each cluster's survivor —
    * argmax(quality), min-id tiebreak. SHARED by q_dedup_resolve (the batch
    * operator) and q_stream_resolve (the streaming maintenance of the same
    * decision): both must produce this table exactly.
    */
  private lazy val resolveSql: String = {
    val allStops = sqlList(TextAnalysis.StopwordsByLang.values.flatten.toSeq.distinct)
    s"""WITH RECURSIVE ${jaccardCtes(clusterAugSql)},
       |pr AS (SELECT a, b
       |       FROM pairs JOIN sizes sa ON sa.id = a JOIN sizes sb ON sb.id = b
       |       WHERE shared * 1.0 / (sa.n + sb.n - shared) >= 0.8),
       |nodes AS (SELECT a AS id FROM pr UNION SELECT b FROM pr),
       |edges AS (SELECT a AS u, b AS v FROM pr UNION SELECT b AS u, a AS v FROM pr),
       |reach(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.u, rr.r FROM edges e JOIN reach rr ON e.v = rr.id),
       |cl AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
       |qm AS (
       |  SELECT doc_id,
       |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens,
       |    length(text) AS n_chars,
       |    len(list_intersect(list_distinct(list_transform(
       |      list_filter(string_split(text, ' '), x -> x <> ''), t -> lower(t))), $allStops)) AS n_stop,
       |    length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')) AS n_punct
       |  FROM aug),
       |qs AS (
       |  SELECT doc_id,
       |    (CAST(CASE WHEN n_tokens BETWEEN 5 AND 100000 THEN 1 ELSE 0 END AS DOUBLE)
       |     + CAST(CASE WHEN n_stop >= 1 THEN 1 ELSE 0 END AS DOUBLE)
       |     + CAST(CASE WHEN CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) <= 0.2 THEN 1 ELSE 0 END AS DOUBLE))
       |    / CAST(3 AS DOUBLE) AS q
       |  FROM qm),
       |surv AS (
       |  SELECT cluster, id AS survivor_id FROM (
       |    SELECT cl.cluster, cl.id,
       |           row_number() OVER (PARTITION BY cl.cluster ORDER BY qs.q DESC, cl.id) AS rn
       |    FROM cl JOIN qs ON qs.doc_id = cl.id) t
       |  WHERE rn = 1),
       |mapping AS (
       |  SELECT cl.id AS doc_id, surv.survivor_id
       |  FROM cl JOIN surv ON surv.cluster = cl.cluster)
       |SELECT a.doc_id,
       |  coalesce(m.survivor_id, a.doc_id) AS survivor_id,
       |  coalesce(m.survivor_id, a.doc_id) = a.doc_id AS kept
       |FROM aug a LEFT JOIN mapping m ON m.doc_id = a.doc_id
       |ORDER BY a.doc_id""".stripMargin
  }

  /** DuckDB-equivalent SQL per oracle-checkable query. Table names resolve
    * to the same parquet files; column aliases match the Spark side exactly.
    */
  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |count(*) AS n, count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_seed_filter" ->
      "SELECT doc_id, n_chars FROM documents WHERE length(trim(text)) > 0 ORDER BY doc_id",

    "q_first_seen_dedup" ->
      """SELECT user_id, event_id AS first_event_id FROM (
        |  SELECT user_id, event_id,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events) t WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q_anti_join" ->
      """SELECT c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,

    "q_semi_join" ->
      """SELECT c_custkey FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q_argmax" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity FROM (
        |  SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
        |         row_number() OVER (PARTITION BY l_suppkey
        |           ORDER BY l_quantity DESC, l_orderkey, l_linenumber) AS rn
        |  FROM lineitem) t WHERE rn = 1 ORDER BY l_suppkey""".stripMargin,

    "q_topk_per_group" ->
      """SELECT o_custkey, rank, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |           ORDER BY o_totalprice DESC, o_orderkey) AS rank
        |  FROM orders) t WHERE rank <= 3 ORDER BY o_custkey, rank""".stripMargin,

    "q_join_agg" ->
      """SELECT r_name, count(*) AS n_customers
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    "q_sessionize" ->
      """SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions FROM (
        |  SELECT user_id,
        |    CASE WHEN prev_ms IS NULL OR epoch_ms(ts) - prev_ms > 1800000 THEN 1 ELSE 0 END AS new_s
        |  FROM (SELECT user_id, ts,
        |          lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
        |        FROM events) a) b
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_tumbling_window" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_pdf_heuristic" ->
      """WITH u AS (
        |  SELECT doc_id, 'https://host' || (doc_id % 40) || '.example' ||
        |    CASE
        |      WHEN doc_id % 7 = 0 THEN '/files/doc' || doc_id || '.pdf'
        |      WHEN doc_id % 7 = 1 THEN '/download/item' || doc_id
        |      WHEN doc_id % 7 = 2 THEN '/report' || doc_id || '?format=pdf'
        |      WHEN doc_id % 7 = 3 THEN '/images/img' || doc_id || '-640x400.jpg'
        |      WHEN doc_id % 7 = 4 THEN '/assets/style' || doc_id || '.svg'
        |      WHEN doc_id % 7 = 5 THEN '/private/page' || doc_id || '.html'
        |      ELSE '/wiki/page' || doc_id || '.html'
        |    END AS url
        |  FROM documents),
        |p AS (SELECT doc_id, url,
        |        regexp_extract(lower(url), '^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
        |        CASE WHEN contains(lower(url), '?')
        |             THEN regexp_extract(lower(url), '\?([^#]*)', 1) ELSE '' END AS query
        |      FROM u)
        |SELECT doc_id, url,
        |  (path LIKE '%.pdf' OR contains(path, 'pdf') OR contains(query, 'pdf')
        |   OR regexp_matches(path, '\b(viewcontent|article)\.cgi\?')
        |   OR regexp_matches(path, '\b(attachment|download|file|document)\b')) AS is_likely_pdf
        |FROM p ORDER BY doc_id""".stripMargin,

    "q_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS dup_count
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,

    "q_dedup_jaccard" ->
      s"""WITH ${jaccardCtes(plantedAugSql)}
         |SELECT a, b, shared, sa.n AS na, sb.n AS nb
         |FROM pairs JOIN sizes sa ON sa.id = a JOIN sizes sb ON sb.id = b
         |WHERE shared * 1.0 / (sa.n + sb.n - shared) >= 0.8
         |ORDER BY a, b""".stripMargin,

    // minhash/simhash outputs are exact-verified pair sets — the oracle is
    // the exhaustive exact-Jaccard pair query at the same threshold (the
    // sketches only prune the pair space, recall is lossless: 16x2 banding
    // miss prob ~8e-8 at j=0.8; 7-chunk simhash banding is pigeonhole-exact
    // for hamming<=6 and J>=0.9 docs sit within that radius on this corpus)
    "q_dedup_minhash" -> jaccardPairsSql(plantedAugSql, 0.8),
    "q_dedup_simhash" -> jaccardPairsSql(plantedAugSql, 0.9),

    // batch pairs over the union, restricted to pairs touching the delta
    // (ids >= 1000000) — the incremental operator's contracted output
    "q_dedup_incremental" ->
      s"""WITH ${jaccardCtes(clusterAugSql)}
         |SELECT a, b
         |FROM pairs JOIN sizes sa ON sa.id = a JOIN sizes sb ON sb.id = b
         |WHERE shared * 1.0 / (sa.n + sb.n - shared) >= 0.8
         |  AND (a >= 1000000 OR b >= 1000000)
         |ORDER BY a, b""".stripMargin,

    "q_dedup_cluster" ->
      s"""WITH RECURSIVE ${jaccardCtes(clusterAugSql)},
         |pr AS (SELECT a, b
         |       FROM pairs JOIN sizes sa ON sa.id = a JOIN sizes sb ON sb.id = b
         |       WHERE shared * 1.0 / (sa.n + sb.n - shared) >= 0.8),
         |nodes AS (SELECT a AS id FROM pr UNION SELECT b FROM pr),
         |edges AS (SELECT a AS u, b AS v FROM pr UNION SELECT b AS u, a AS v FROM pr),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.u, rr.r FROM edges e JOIN reach rr ON e.v = rr.id)
         |SELECT id AS doc_id, min(r) AS keep_id FROM reach GROUP BY id
         |ORDER BY doc_id""".stripMargin,

    // cluster resolution: same reachability replay, then the engine's
    // quality arithmetic (the q_lang_quality replay, proven hash-equal)
    // decides each cluster's survivor — argmax(quality), min-id tiebreak
    "q_dedup_resolve" -> resolveSql,

    // streaming cluster resolution: the stream drains the SAME fixture the
    // batch query reads, and its maintained redirect view must equal the
    // one-shot batch resolution — so the oracle is shared verbatim
    "q_stream_resolve" -> resolveSql,

    "q_dedup_embedding" ->
      """WITH base AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0),
        |aug AS (
        |  SELECT vec_id, embedding FROM base
        |  UNION ALL
        |  SELECT vec_id + 1000000 AS vec_id,
        |         list_transform(embedding, x -> x * 1.001::FLOAT) AS embedding
        |  FROM base)
        |SELECT x.vec_id AS a, y.vec_id AS b
        |FROM aug x JOIN aug y ON x.vec_id < y.vec_id
        |WHERE list_cosine_similarity(x.embedding, y.embedding) >= 0.95
        |ORDER BY a, b""".stripMargin,

    "q_ann_topk" ->
      """SELECT query_id, rank, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         row_number() OVER (PARTITION BY q.vec_id
        |           ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS rank
        |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 10) t
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // exact-equivalence ANN configs (probeAll LSH / nprobe=nlist IVF): both
    // provably return the brute-force ranking, so they share its oracle
    "q_ann_lsh" ->
      """SELECT query_id, rank, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         row_number() OVER (PARTITION BY q.vec_id
        |           ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS rank
        |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 10) t
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "q_ann_ivf" ->
      """SELECT query_id, rank, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         row_number() OVER (PARTITION BY q.vec_id
        |           ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS rank
        |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 10) t
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "q_text_stats" ->
      """SELECT doc_id,
        |  len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens,
        |  len(regexp_extract_all(text, '[a-z]+|[A-Z][a-z]*|[0-9]+|[^a-zA-Z0-9\s]')) AS n_subword
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_lang_dist" ->
      """SELECT lang, source, count(*) AS n, max(n_chars) AS max_chars
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin,

    // Gopher-style gates: same stopword list (generated from the Scala
    // map), same double arithmetic (int sums divided in DOUBLE)
    "q_quality_gates" -> {
      val allStops = sqlList(TextAnalysis.StopwordsByLang.values.flatten.toSeq.distinct)
      s"""WITH w AS (
         |  SELECT doc_id, text,
         |         list_filter(string_split(text, ' '), x -> x <> '') AS words
         |  FROM documents),
         |m AS (
         |  SELECT doc_id,
         |    len(words) AS n_words,
         |    CAST(list_sum([length(x) FOR x IN words]) AS DOUBLE)
         |      / greatest(len(words), 1) AS mean_word_len,
         |    CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
         |      / greatest(length(text), 1) AS symbol_ratio,
         |    len(list_intersect(list_distinct([lower(x) FOR x IN words]), $allStops)) AS n_stop_types
         |  FROM w)
         |SELECT doc_id, n_words, mean_word_len, symbol_ratio, n_stop_types,
         |  (n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
         |   AND symbol_ratio <= 0.1 AND n_stop_types >= 2) AS keep
         |FROM m ORDER BY doc_id""".stripMargin
    },

    // the batch replay of the streaming ingest: distinct text (the stream
    // dedups by xxhash64(text); equal up to 64-bit collisions) filtered by
    // the same Gopher gates, returned as the kept text set
    "q_stream_ingest" -> {
      val allStops = sqlList(TextAnalysis.StopwordsByLang.values.flatten.toSeq.distinct)
      s"""WITH d AS (SELECT DISTINCT text FROM documents),
         |w AS (
         |  SELECT text, list_filter(string_split(text, ' '), x -> x <> '') AS words
         |  FROM d),
         |m AS (
         |  SELECT text,
         |    len(words) AS n_words,
         |    CAST(list_sum([length(x) FOR x IN words]) AS DOUBLE)
         |      / greatest(len(words), 1) AS mean_word_len,
         |    CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
         |      / greatest(length(text), 1) AS symbol_ratio,
         |    len(list_intersect(list_distinct([lower(x) FOR x IN words]), $allStops)) AS n_stop_types
         |  FROM w)
         |SELECT text FROM m
         |WHERE n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
         |  AND symbol_ratio <= 0.1 AND n_stop_types >= 2
         |ORDER BY text""".stripMargin
    },

    // streaming near-dup: the drained pairs table equals the exhaustive
    // exact-Jaccard pair set over the streamed union (same aug fixture as
    // the cluster family)
    "q_stream_dedup" -> jaccardPairsSql(clusterAugSql, 0.8),

    // streaming hot-host top-k: the cumulative stateful count drained from
    // the 3-file event stream must equal the batch per-host GROUP BY
    "q_stream_hosts" ->
      """SELECT 'host-' || CAST(user_id AS VARCHAR) AS host,
        |  CAST(count(*) AS BIGINT) AS n_scheduled
        |FROM events GROUP BY user_id
        |ORDER BY n_scheduled DESC, host
        |LIMIT 25""".stripMargin,

    "q_token_topk" ->
      """SELECT token, count(*) AS n FROM (
        |  SELECT unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS token
        |  FROM documents) t
        |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin,

    "q_chunking" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS words
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, words,
        |    CASE WHEN len(words) = 0 THEN 0
        |         ELSE greatest(CAST(ceil((CAST(greatest(len(words), 1) AS DOUBLE) - 100) / 50) AS INT) + 1, 1)
        |    END AS nc
        |  FROM w)
        |SELECT doc_id, i AS chunk_idx,
        |       array_to_string(words[i * 50 + 1 : i * 50 + 100], ' ') AS chunk_text
        |FROM c, UNNEST(range(nc)) AS t(i)
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    // the greedy restart-at-capacity walk is inherently sequential, so the
    // oracle replays it with a recursive CTE per (source, salt) stream —
    // exactly the engine's per-group kernel semantics (flush when a
    // non-empty bin would overflow; an oversized doc gets its own bin).
    // ((x % 4) + 4) % 4 replays Spark's pmod for any doc_id sign and
    // coalesce(..., 0) the engine's null-text guard — without it a NULL
    // token count would poison the running total for the rest of a stream
    "q_seq_pack" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, source,
        |         CAST(((doc_id % 4) + 4) % 4 AS INT) AS salt,
        |         coalesce(len(list_filter(string_split(text, ' '), x -> x <> '')), 0) AS n
        |  FROM documents),
        |o AS (
        |  SELECT d.*, row_number() OVER (PARTITION BY source, salt ORDER BY doc_id) AS rn
        |  FROM d),
        |walk AS (
        |  SELECT source, salt, rn, n, 0 AS bin, n AS tot FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.source, o.salt, o.rn, o.n,
        |         CASE WHEN w.tot + o.n > 256 THEN w.bin + 1 ELSE w.bin END AS bin,
        |         CASE WHEN w.tot + o.n > 256 THEN o.n ELSE w.tot + o.n END AS tot
        |  FROM walk w JOIN o ON o.source = w.source AND o.salt = w.salt AND o.rn = w.rn + 1)
        |SELECT source, salt, CAST(bin AS INT) AS bin_id,
        |       CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens
        |FROM walk GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q_domain_mix" ->
      """SELECT source, count(*) AS n_kept FROM documents
        |WHERE doc_id % 100 < 100 - CAST(substring(source, 4) AS INT) * 4
        |GROUP BY source ORDER BY source""".stripMargin,

    "q_pii_redact" -> {
      // DuckDB standard strings do no backslash processing — embed the
      // regexes verbatim (single backslashes), same literal both engines
      val email = TextAnalysis.EmailRe
      val phone = TextAnalysis.PhoneRe
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 10 = 0
         |         THEN text || ' contact user' || doc_id || '@example.com or call 555-010-1234 now'
         |         ELSE text END AS text
         |  FROM documents)
         |SELECT doc_id,
         |  len(regexp_extract_all(text, '$email')) AS n_emails,
         |  len(regexp_extract_all(text, '$phone')) AS n_phones,
         |  regexp_replace(regexp_replace(text, '$email', '<EMAIL>', 'g'), '$phone', '<PHONE>', 'g') AS redacted
         |FROM d ORDER BY doc_id""".stripMargin
    },

    "q_decontaminate" ->
      """WITH words AS (
        |  SELECT doc_id AS id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        |  FROM documents),
        |contam AS (
        |  SELECT DISTINCT array_to_string(w[1:3], ' ') AS tok
        |  FROM words WHERE id % 50 = 0 AND len(array_to_string(w[1:3], ' ')) > 0),
        |sh AS (SELECT DISTINCT id, array_to_string(w[i + 1:i + 3], ' ') AS tok
        |       FROM words, UNNEST(range(len(w) - 2)) AS t(i)
        |       WHERE len(w) >= 3)
        |SELECT DISTINCT id AS doc_id FROM sh
        |WHERE tok IN (SELECT tok FROM contam)
        |ORDER BY doc_id""".stripMargin,

    "q_repetition" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS words
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    CASE WHEN len(words) >= 2
        |         THEN [words[i + 1] || ' ' || words[i + 2] FOR i IN range(len(words) - 1)]
        |         ELSE [] END AS grams
        |  FROM w)
        |SELECT doc_id, len(grams) AS n_grams, len(list_distinct(grams)) AS n_distinct,
        |  CASE WHEN len(grams) > 0
        |       THEN 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams)
        |       ELSE 0.0 END AS dup_frac
        |FROM g ORDER BY doc_id""".stripMargin,

    // lang-id + quality: same stopword lists (generated from the Scala map),
    // argmax with lexicographically-LAST tie-break = the CASE cascade in
    // reverse-alphabetical order; all ratio arithmetic in DOUBLE to match
    // Spark exactly
    "q_lang_quality" -> {
      val langs = TextAnalysis.StopwordsByLang.toSeq.sortBy(_._1)
      val scoreDefs = langs.map { case (lang, words) =>
        s"len(list_intersect(toks, ${sqlList(words)})) AS s_$lang"
      }.mkString(",\n|        ")
      val allStops = sqlList(TextAnalysis.StopwordsByLang.values.flatten.toSeq.distinct)
      val caseArms = langs.map(_._1).reverse
        .map(l => s"WHEN s_$l = m THEN '$l'").dropRight(1).mkString(" ")
      val lastLang = langs.head._1
      s"""WITH tok AS (
         |  SELECT doc_id, text,
         |        list_distinct(string_split(lower(text), ' ')) AS toks,
         |        list_filter(string_split(text, ' '), x -> x <> '') AS toks_ne
         |  FROM documents),
         |sc AS (
         |  SELECT doc_id, text, toks_ne,
         |        $scoreDefs
         |  FROM tok),
         |m AS (
         |  SELECT doc_id, text, toks_ne,
         |        greatest(${langs.map(l => "s_" + l._1).mkString(", ")}) AS m,
         |        ${langs.map(l => "s_" + l._1).mkString(", ")}
         |  FROM sc),
         |q AS (
         |  SELECT doc_id,
         |    CASE WHEN m = 0 THEN 'und' $caseArms ELSE '$lastLang' END AS lang_pred,
         |    len(toks_ne) AS n_tokens,
         |    length(text) AS n_chars,
         |    len(list_intersect(list_distinct(list_transform(toks_ne, t -> lower(t))), $allStops)) AS n_stop,
         |    length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')) AS n_punct
         |  FROM m)
         |SELECT doc_id, lang_pred,
         |  (CAST(CASE WHEN n_tokens BETWEEN 5 AND 100000 THEN 1 ELSE 0 END AS DOUBLE)
         |   + CAST(CASE WHEN n_stop >= 1 THEN 1 ELSE 0 END AS DOUBLE)
         |   + CAST(CASE WHEN CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) <= 0.2 THEN 1 ELSE 0 END AS DOUBLE))
         |  / CAST(3 AS DOUBLE) AS quality
         |FROM q ORDER BY doc_id""".stripMargin
    },

    // rolling fingerprint + winnowing count: base-257 polynomial mod 2^64
    // replayed in HUGEINT arithmetic, mapped back to the signed BIGINT the
    // engine emits; winnowing = min per sliding window of 4 over 8-gram
    // hashes, distinct count (window shorter than 4 = one window, like
    // Scala's sliding())
    "q_fingerprint" -> {
      val init = "CAST('14695981039346656037' AS HUGEINT)" // FNV offset, unsigned
      val mod = "CAST('18446744073709551616' AS HUGEINT)" // 2^64
      val half = "CAST('9223372036854775808' AS HUGEINT)" // 2^63
      def signed(x: String) =
        s"CAST(CASE WHEN $x >= $half THEN $x - $mod ELSE $x END AS BIGINT)"
      def roll(codes: String) =
        s"list_reduce(list_prepend($init, $codes), (a, b) -> (a * 257 + b) % $mod)"
      s"""WITH n AS (
         |  SELECT doc_id,
         |    regexp_replace(regexp_replace(lower(text), '^[\\x00-\\x20]+|[\\x00-\\x20]+$$', '', 'g'),
         |                   '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g') AS s
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, s,
         |    [CAST(unicode(s[i + 1]) AS HUGEINT) FOR i IN range(length(s))] AS codes
         |  FROM n),
         |g AS (
         |  SELECT doc_id, ${signed(roll("codes"))} AS fingerprint,
         |    CASE WHEN length(s) >= 8 THEN
         |      [${signed(roll("codes[i + 1:i + 8]"))} FOR i IN range(length(s) - 7)]
         |    ELSE [] END AS grams
         |  FROM c),
         |w AS (
         |  SELECT doc_id, fingerprint,
         |    CASE WHEN len(grams) = 0 THEN []
         |         WHEN len(grams) <= 4 THEN [list_min(grams)]
         |         ELSE [list_min(grams[j + 1:j + 4]) FOR j IN range(len(grams) - 3)]
         |    END AS wins
         |  FROM g)
         |SELECT doc_id, fingerprint, len(list_distinct(wins)) AS n_winnow
         |FROM w ORDER BY doc_id""".stripMargin
    },

    // multimodal: replay the encoder parameterization (plain doc_id
    // arithmetic) — n_bytes from the BMP/WAV/GRFV layout formulas, content
    // checksums as list-comprehension sums; everything the Spark side
    // DECODED from payload bytes is recomputed here from first principles
    "q_multimodal" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |    2 + doc_id % 7 AS w, 2 + doc_id % 5 AS h,
        |    16 + doc_id % 50 AS ns, 1 + doc_id % 5 AS fr
        |  FROM documents),
        |d AS (
        |  SELECT kind,
        |    CASE kind
        |      WHEN 'image' THEN 54 + h * (((w*3 + 3) // 4) * 4)
        |      WHEN 'audio' THEN 44 + 2 * ns
        |      ELSE 8 + fr * (54 + h * (((w*3 + 3) // 4) * 4)) END AS n_bytes,
        |    CASE kind WHEN 'video' THEN fr ELSE 1 END AS frames,
        |    CASE kind
        |      WHEN 'image' THEN list_sum([ (doc_id*31 + i) % 256 FOR i IN range(w*h*3) ])
        |      WHEN 'audio' THEN list_sum([ (doc_id*131 + i*17) % 65536 - 32768 FOR i IN range(ns) ])
        |      ELSE list_sum([ (doc_id*31 + (j // (w*h*3))*7 + (j % (w*h*3))) % 256
        |                      FOR j IN range(fr*w*h*3) ])
        |    END AS content_sum,
        |    CASE kind WHEN 'audio' THEN 0 ELSE w END AS width,
        |    CASE kind WHEN 'image' THEN 0
        |              WHEN 'audio' THEN ns * 1000 // 8000
        |              ELSE fr * 1000 END AS dur
        |  FROM m)
        |SELECT kind, count(*) AS n,
        |  CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
        |  CAST(sum(frames) AS BIGINT) AS total_frames,
        |  CAST(sum(content_sum) AS BIGINT) AS checksum,
        |  CAST(sum(width) AS BIGINT) AS total_width,
        |  CAST(sum(dur) AS BIGINT) AS total_duration_ms
        |FROM d GROUP BY kind ORDER BY kind""".stripMargin,

    "q_export_records" ->
      """SELECT doc_id,
        |  strftime(make_timestamp((1700000000 + doc_id % 100000) * 1000000), '%Y-%m-%dT%H:%M:%S.%f') AS stored_at,
        |  strftime(make_timestamp((1700000000 + doc_id % 100000) * 1000000), '%Y-%m-%dT%H:%M:%S.%f') || '+00:00Z' AS extracted_at,
        |  'run_links_' || strftime(make_timestamp((1700000000 + doc_id % 100000) * 1000000), '%Y%m%d_%H%M%S') || '.jsonl' AS run_file
        |FROM documents ORDER BY doc_id""".stripMargin
  )
}
