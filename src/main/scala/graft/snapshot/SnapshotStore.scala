package graft.snapshot

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.execution.datasources.{BucketingUtils, FileStatusCache, HadoopFsRelation,
  InMemoryFileIndex, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.json4s.jackson.Serialization

import scala.jdk.CollectionConverters._

/** Iceberg-style snapshot table layer over Parquet (SURVEY §4.3: no Iceberg
  * artifact exists in the offline environment, so the engine implements the
  * subset of Iceberg the north rule exercises):
  *
  *  - append / replace commits producing immutable snapshots
  *  - a JSON manifest per snapshot: snapshot id, parent id, generation,
  *    per-file row counts (per-partition lineage), commit counters
  *  - atomic commit by writing `snapshot-<id>.json` then atomically renaming
  *    a temp pointer onto `current` (crash before the rename = clean
  *    rollback to the parent snapshot)
  *  - time-travel reads by snapshot id; resume = read `current`
  *
  * Layout:
  * {{{
  *   <root>/<table>/data/s<id>/part-*.parquet
  *   <root>/<table>/snapshots/snapshot-<id>.json
  *   <root>/<table>/current
  * }}}
  */
final case class DataFileMeta(path: String, rows: Long)

/** `dirBuckets`: storage-bucketing registry for the snapshot's data dirs —
  * maps a commit dir name ("s3") to "numBuckets:bucketCol" when that dir
  * was written with [[SnapshotTable.appendBucketed]]. Carried forward (and
  * pruned to still-referenced dirs) on every commit so the info survives
  * manifest vacuuming; absent for plain commits and pre-bucketing
  * manifests (json4s reads the missing field as None).
  */
final case class SnapshotMeta(
    snapshotId: Long,
    parentId: Long, // -1 = none
    generation: Int,
    files: List[DataFileMeta],
    rowCount: Long,
    counters: Map[String, Long],
    dirBuckets: Option[Map[String, String]] = None)

final class SnapshotTable(val root: Path, val name: String) {
  private implicit val formats: Formats = DefaultFormats

  private def tableDir: Path = root.resolve(name)
  private def snapDir: Path = tableDir.resolve("snapshots")
  private def currentPtr: Path = tableDir.resolve("current")

  def currentSnapshotId: Option[Long] =
    if (Files.exists(currentPtr)) Some(Files.readString(currentPtr).trim.toLong) else None

  def snapshot(id: Long): SnapshotMeta =
    Serialization.read[SnapshotMeta](Files.readString(snapDir.resolve(s"snapshot-$id.json")))

  def currentSnapshot: Option[SnapshotMeta] = currentSnapshotId.map(snapshot)

  def isEmpty: Boolean = currentSnapshot.forall(_.files.isEmpty)

  /** List a directory through a CLOSED stream: Files.list/Files.walk hold an
    * open fd until close() — a long-lived driver running maintain() over 13
    * tables each generation would otherwise exhaust fds.
    */
  private def listDir(dir: Path): List[Path] = {
    val s = Files.list(dir)
    try s.iterator.asScala.toList finally s.close()
  }

  /** All snapshots, oldest first (time-travel index). */
  def history: Seq[SnapshotMeta] = {
    if (!Files.exists(snapDir)) return Seq.empty
    listDir(snapDir)
      .filter(_.getFileName.toString.startsWith("snapshot-"))
      .map(p => Serialization.read[SnapshotMeta](Files.readString(p)))
      .sortBy(_.snapshotId)
  }

  /** Read table state at a snapshot (default: current). Returns None when
    * the table has no data yet (caller supplies the empty-case plan).
    */
  def read(spark: SparkSession, at: Option[Long] = None): Option[DataFrame] = {
    val meta = at.map(snapshot).orElse(currentSnapshot)
    meta.filter(_.files.nonEmpty).map(m => scan(spark, m.files, None))
  }

  /** Driver-side Hadoop statuses of manifest files (no Spark job), with the
    * qualified paths the file index keys its leaf files by.
    */
  private def fileStatuses(spark: SparkSession, files: List[DataFileMeta]): List[FileStatus] = {
    val conf = spark.sessionState.newHadoopConf()
    files.map { f => val p = new HPath(f.path); p.getFileSystem(conf).getFileStatus(p) }
  }

  /** THE scan of manifest files, planned from the manifest alone: a file
    * index rooted at the files, whose status cache already holds their
    * driver-side stats, and the schema of the least path's footer (the file
    * `spark.read` infers from, so files that differ in schema read the same
    * columns). Building it starts no Spark job at any file or dir count.
    * `bucket` claims a bucket spec over the stamped file ids. One cache per
    * scan: a rollback then a re-commit reuses an `s<id>` dir name.
    */
  private def scan(spark: SparkSession, files: List[DataFileMeta],
                   bucket: Option[(Int, String)]): DataFrame = {
    val statuses = fileStatuses(spark, files)
    val known = statuses.map(s => s.getPath -> Array(s)).toMap
    val cache = new FileStatusCache {
      override def getLeafFiles(path: HPath): Option[Array[FileStatus]] = known.get(path)
      def putLeafFiles(path: HPath, leafFiles: Array[FileStatus]): Unit = ()
      def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(spark, statuses.map(_.getPath), Map.empty, None, cache,
      Some(PartitionSpec.emptySpec))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, new StructType(),
      parquetSchema(statuses.map(_.getPath).minBy(_.toString)),
      bucket.map { case (n, bc) => BucketSpec(n, Seq(bc), Nil) },
      new ParquetFileFormat(), Map.empty)(spark))
  }

  /** Append commit: write df as new data files, new snapshot = parent files
    * + new files. Returns the committed snapshot.
    */
  def append(df: DataFrame, generation: Int, counters: Map[String, Long] = Map.empty): SnapshotMeta =
    commit(df, generation, counters, replace = false, bucketed = None)

  /** Replace commit: new snapshot's data = df alone (used for compacted
    * state tables like host_state where the new state supersedes the old).
    */
  def replace(df: DataFrame, generation: Int, counters: Map[String, Long] = Map.empty): SnapshotMeta =
    commit(df, generation, counters, replace = true, bucketed = None)

  /** Append commit whose data files are STORAGE-BUCKETED: rows are hash-
    * partitioned on `bucketCol` into `buckets` files, each file's bucket
    * id is stamped into its name, and the spec is recorded in the
    * manifest ([[SnapshotMeta]] `dirBuckets`). [[readBucketed]] then
    * reconstructs a scan whose `outputPartitioning` Catalyst TRUSTS — a
    * join keyed on `bucketCol` reads this side with no Exchange (the
    * Iceberg storage-partitioned-join shape, SURVEY §4.3). `bucketCol`
    * must be a stored column
    * (typically a persisted xxhash64 of the logical key so probe sides can
    * recompute it).
    */
  def appendBucketed(df: DataFrame, generation: Int, buckets: Int, bucketCol: String,
                     counters: Map[String, Long] = Map.empty): SnapshotMeta =
    commit(df, generation, counters, replace = false, bucketed = Some((buckets, bucketCol)))

  /** [[replace]] with storage-bucketed data files (see [[appendBucketed]]). */
  def replaceBucketed(df: DataFrame, generation: Int, buckets: Int, bucketCol: String,
                      counters: Map[String, Long] = Map.empty): SnapshotMeta =
    commit(df, generation, counters, replace = true, bucketed = Some((buckets, bucketCol)))

  private def commit(df: DataFrame, generation: Int, counters: Map[String, Long],
                     replace: Boolean, bucketed: Option[(Int, String)]): SnapshotMeta =
    commitRetaining(df, generation, counters,
      if (replace) Nil else currentSnapshot.map(_.files).getOrElse(Nil), bucketed)

  /** Commit `df` as a new data dir while carrying `retained` files (a
    * subset of the parent's) into the new snapshot unchanged. append =
    * retain all parent files; replace = retain none; a partial fold
    * ([[compactTiered]]) retains the files of every dir it did not merge.
    */
  private def commitRetaining(df: DataFrame, generation: Int, counters: Map[String, Long],
                              retained: List[DataFileMeta],
                              bucketed: Option[(Int, String)]): SnapshotMeta = {
    Files.createDirectories(snapDir)
    val parent = currentSnapshot
    val id = parent.map(_.snapshotId + 1).getOrElse(0L)
    val dataDir = tableDir.resolve(s"data/s$id")
    bucketed match {
      case Some((n, bc)) =>
        // bucketed layout WITHOUT the bucketed-table writer: repartition on
        // the SAME hash function the bucket reader assumes (repartition's
        // HashPartitioning and Spark's bucket-id expression are both
        // pmod(murmur3(col), n)), write plain parquet — partition index i
        // then holds exactly bucket i's rows — and stamp the bucket id into
        // each file name in the `_NNNNN` form BucketingUtils parses. The
        // saveAsTable route produced identical files but paid catalog DDL +
        // managed-committer overhead PER COMMIT (~2 s on the generation
        // commit path, measured).
        df.repartition(n, org.apache.spark.sql.functions.col(bc))
          .write.mode("overwrite").parquet(dataDir.toString)
        listParquet(dataDir).foreach { p =>
          val nm = p.getFileName.toString // part-00003-<uuid>.snappy.parquet
          val stamped = nm.replaceFirst("^(part-(\\d+)-[^.]*)", "$1_$2")
          if (stamped != nm) Files.move(p, p.resolveSibling(stamped), StandardCopyOption.ATOMIC_MOVE)
        }
      case None =>
        df.write.mode("overwrite").parquet(dataDir.toString)
    }
    // footer row counts read in parallel: a generation at N shuffle
    // partitions writes N part files per table — serial footer opens were
    // an O(partitions) driver-side cost that grew with parallelism and ate
    // into scaling efficiency
    val newFiles = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      Await.result(
        Future.traverse(listParquet(dataDir))(p =>
          Future(DataFileMeta(p.toString, parquetRows(p)))),
        Duration.Inf)
    }
    val files = retained ++ newFiles
    // carry the bucket registry forward, pruned to dirs still referenced
    val liveDirs = files.map(f => Paths.get(f.path).getParent.getFileName.toString).toSet
    val carried = parent.flatMap(_.dirBuckets).getOrElse(Map.empty)
      .filter { case (d, _) => liveDirs(d) }
    val dirB = carried ++ bucketed.map { case (n, bc) => s"s$id" -> s"$n:$bc" }.toMap
    val meta = SnapshotMeta(id, parent.map(_.snapshotId).getOrElse(-1L), generation,
      files, files.map(_.rows).sum, counters,
      if (dirB.isEmpty) None else Some(dirB))
    Files.writeString(snapDir.resolve(s"snapshot-$id.json"), Serialization.write(meta))
    // atomic pointer flip — the actual commit point
    val tmp = tableDir.resolve(s".current.tmp$id")
    Files.writeString(tmp, id.toString)
    Files.move(tmp, currentPtr, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    meta
  }

  /** The single storage-bucket spec of the CURRENT snapshot, when every
    * data dir was bucketed with the same (buckets, col) — the condition
    * under which [[readBucketed]] can scan the table as one relation.
    */
  def bucketSpec: Option[(Int, String)] = currentSnapshot.flatMap { cur =>
    val dirs = cur.files.map(f => Paths.get(f.path).getParent.getFileName.toString).distinct
    val reg = cur.dirBuckets.getOrElse(Map.empty)
    val specs = dirs.map(reg.get).distinct
    specs match {
      case List(Some(s)) =>
        val Array(n, bc) = s.split(":", 2)
        Some((n.toInt, bc))
      case _ => None
    }
  }

  /** The current snapshot as ONE bucketed [[scan]] under the table's
    * spec: it reports `HashPartitioning(bucketCol, n)` across every live
    * commit dir at once, so a join keyed on the bucket column reads this
    * side with NO exchange however many dirs the snapshot holds, and a
    * filter on it prunes buckets. Each bucket's task reads that bucket's
    * file from every dir. Nothing is registered in the session catalog. No
    * sort columns are claimed: the writer repartitions but does not sort.
    * None when the table is empty; throws when the dirs do not share one
    * spec — [[heal]] first.
    */
  def readBucketed(spark: SparkSession): Option[DataFrame] =
    currentSnapshot.filter(_.files.nonEmpty).map { cur =>
      val spec = bucketSpec.getOrElse(throw new IllegalStateException(
        s"table $name: commit dirs do not share one bucket spec (${cur.dirBuckets}); rebucket it"))
      scan(spark, cur.files, Some(spec))
    }

  /** Rewrite the table bucketed (`buckets`, `bucketCol`) unless it already
    * is: the self-heal for a table whose dirs carry mixed or stale specs
    * (a restart with a different bucket count, or plain commits from
    * before the table was bucketed). No-op on an empty or healthy table.
    */
  def heal(spark: SparkSession, buckets: Int, bucketCol: String): Option[SnapshotMeta] =
    if (bucketSpec.contains((buckets, bucketCol))) None
    else rebucket(spark, buckets, bucketCol)

  /** Plain [[scan]] of the current snapshot's files whose stamped bucket
    * id (parsed by `BucketingUtils.getBucketId`, as the bucketed scan
    * assigns files) passes `keep(numBuckets, bucketId)` under their dir's
    * spec — FILE-level pruning from the manifest alone, so a probe that
    * knows its occupied buckets reads O(occupied/total) of the table with
    * no plan-side cost (contrast a thousand-literal `isInCollection`).
    * `bucketCol` names the column the caller's keys hash: dirs bucketed on
    * ANY OTHER column, or with no spec, are kept in full — pruning them by
    * ids routed under another hash would silently drop matching rows. None
    * when the table is empty or every file was skipped. The scan reports no
    * bucket partitioning; use [[readBucketed]] for that shape.
    */
  def readBucketSkipped(spark: SparkSession, bucketCol: String,
                        keep: (Int, Int) => Boolean): Option[DataFrame] =
    currentSnapshot.filter(_.files.nonEmpty).flatMap { cur =>
      val reg = cur.dirBuckets.getOrElse(Map.empty)
      val kept = cur.files.filter { f =>
        val p = Paths.get(f.path)
        reg.get(p.getParent.getFileName.toString) match {
          case Some(spec) =>
            val Array(n, bc) = spec.split(":", 2)
            bc != bucketCol ||
              BucketingUtils.getBucketId(p.getFileName.toString).forall(keep(n.toInt, _))
          case None => true
        }
      }
      if (kept.isEmpty) None else Some(scan(spark, kept, None))
    }

  /** Number of live commit dirs in the current snapshot (manifest-only —
    * no file IO, no Spark job). Each bucket of a [[readBucketed]] scan
    * reads one file per dir, and [[compactTiered]] bounds this count.
    */
  def commitDirCount: Int =
    currentSnapshot.map(_.files.map(f => Paths.get(f.path).getParent).distinct.size).getOrElse(0)

  /** Rows added by this commit relative to its parent (free from the
    * manifests — no Spark job). For replace commits this is the new total.
    */
  def deltaRows(meta: SnapshotMeta): Long =
    meta.rowCount - (if (meta.parentId >= 0) snapshot(meta.parentId).rowCount else 0L)

  /** Time-travel the current pointer back until the table's latest commit
    * is from generation <= gen (crash-recovery: discard partial-generation
    * commits whose processed_queries barrier never landed). Data files of
    * discarded snapshots stay on disk (they are unreachable, like Iceberg
    * orphans) — commits are pointer flips, so this is atomic per table.
    */
  def rollbackToGeneration(gen: Int): Unit = {
    var cur = currentSnapshot
    while (cur.exists(_.generation > gen)) {
      val parentId = cur.get.parentId
      if (parentId < 0) {
        Files.deleteIfExists(currentPtr)
        cur = None
      } else {
        val tmp = tableDir.resolve(s".current.tmp.rb$parentId")
        Files.writeString(tmp, parentId.toString)
        Files.move(tmp, currentPtr, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
        cur = Some(snapshot(parentId))
      }
    }
  }

  /** Bin-pack compaction — the operational answer to the small-files
    * problem this table layout accumulates at scale (every generation's
    * append adds one file set; at 10⁴ generations a 10¹⁰-row seen table
    * would otherwise carry ~10⁵ files and every scan pays the open/footer
    * cost per file). Rewrites the CURRENT file list into
    * ceil(totalBytes / targetFileBytes) files via a replace commit; history
    * stays time-travelable (old snapshots keep their file lists until
    * [[vacuum]]). No-op (None) when the table is empty or already compact.
    */
  def compact(spark: SparkSession, targetFileBytes: Long = 128L << 20): Option[SnapshotMeta] =
    currentSnapshot.filter(_.files.nonEmpty).flatMap { cur =>
      bucketSpec match {
        case Some((n, bc)) =>
          // bucketed table: fold k commit dirs × n files into ONE dir × n
          // files, preserving the bucket layout (the rewrite shuffles on the
          // bucket column — the price of keeping exchange-free reads)
          if (commitDirCount <= 1) None
          else Some(replaceBucketed(scan(spark, cur.files, None), cur.generation, n, bc, cur.counters))
        case None =>
          val totalBytes = fileStatuses(spark, cur.files).map(_.getLen).sum
          val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
          if (cur.files.size <= nFiles) None
          else {
            // coalesce, not repartition: compaction is an IO rewrite, no shuffle
            Some(replace(scan(spark, cur.files, None).coalesce(nFiles), cur.generation, cur.counters))
          }
      }
    }

  /** MAJOR rebucketing pass: rewrite the whole table as ONE dir bucketed
    * (`buckets`, `bucketCol`) — the self-heal ([[heal]]) for dirs that carry
    * MIXED or stale specs (a restart with a different bucket count, or
    * plain commits from before a table was bucketed), states in which
    * [[bucketSpec]] is None/stale: [[readBucketed]] refuses the table and
    * the tiered fold and file skips silently degrade. Rows and generation are preserved; only the layout moves.
    * No-op on an empty table.
    */
  def rebucket(spark: SparkSession, buckets: Int, bucketCol: String): Option[SnapshotMeta] =
    currentSnapshot.filter(_.files.nonEmpty).map { cur =>
      replaceBucketed(scan(spark, cur.files, None), cur.generation, buckets, bucketCol, cur.counters)
    }

  /** Size-tiered MINOR compaction for a bucketed table (the LSM merge shape):
    * when the commit-dir chain exceeds `targetDirs`, fold the SMALLEST
    * (by manifest row count) `nDirs - targetDirs + 1` dirs into one new
    * bucketed dir and retain every other dir's files untouched — the new
    * snapshot lands at exactly `targetDirs` dirs. Contrast [[compact]]
    * (major): that rewrites the WHOLE table, O(|table|) per call; at 10¹⁰
    * rows with small per-generation deltas a major fold every K generations
    * rewrites the full base each time, while smallest-first merging rewrites
    * a row O(log(|table|/|delta|)) times over its life — the standard
    * size-tiered write-amplification bound. Rows, bucketing (same
    * `repartition(n, col)` the bucketed reader assumes) and the manifest
    * registry are preserved; only dir boundaries move, so a
    * [[readBucketed]] scan reads the same rows. No-op (None) when the table
    * is not uniformly bucketed or the chain is already within bounds.
    */
  def compactTiered(spark: SparkSession, targetDirs: Int): Option[SnapshotMeta] = {
    require(targetDirs >= 1, s"targetDirs must be >= 1, got $targetDirs")
    currentSnapshot.filter(_.files.nonEmpty).flatMap { cur =>
      bucketSpec.flatMap { case (n, bc) =>
        val byDir = cur.files.groupBy(f => Paths.get(f.path).getParent)
        if (byDir.size <= targetDirs) None
        else {
          // smallest rows first; dir name tie-breaks for determinism
          val foldDirs = byDir.toSeq
            .sortBy { case (d, fs) => (fs.map(_.rows).sum, d.getFileName.toString) }
            .take(byDir.size - targetDirs + 1)
            .map(_._1).toSet
          val (folded, kept) = cur.files.partition(f => foldDirs(Paths.get(f.path).getParent))
          Some(commitRetaining(scan(spark, folded, None), cur.generation, cur.counters, kept,
            Some((n, bc))))
        }
      }
    }
  }

  /** Expire history: keep the last `keepSnapshots` snapshots on the current
    * chain, delete every other snapshot manifest and every data file no
    * kept snapshot references (rollback orphans included). Returns the
    * number of data files deleted. Time-travel to expired snapshots is gone
    * afterwards — the Iceberg expire-snapshots contract.
    */
  def vacuum(keepSnapshots: Int = 2): Int = {
    val cur = currentSnapshot match {
      case Some(c) => c
      case None => return 0
    }
    // walk the parent chain from current, stopping at any manifest a prior
    // vacuum already expired (the chain may be shorter than keepSnapshots)
    val keep = scala.collection.mutable.ListBuffer[SnapshotMeta](cur)
    var walking = true
    while (walking && keep.size < keepSnapshots && keep.last.parentId >= 0) {
      val pid = keep.last.parentId
      if (Files.exists(snapDir.resolve(s"snapshot-$pid.json"))) keep += snapshot(pid)
      else walking = false
    }
    val keepIds = keep.map(_.snapshotId).toSet
    val referenced = keep.flatMap(_.files.map(f => Paths.get(f.path).normalize.toString)).toSet
    // drop expired manifests (everything not on the kept chain)
    history.filterNot(m => keepIds(m.snapshotId))
      .foreach(m => Files.deleteIfExists(snapDir.resolve(s"snapshot-${m.snapshotId}.json")))
    // delete unreferenced data files, then empty s<id> dirs
    val dataRoot = tableDir.resolve("data")
    if (!Files.exists(dataRoot)) return 0
    var deleted = 0
    val walk = Files.walk(dataRoot)
    val entries = try walk.iterator.asScala.toList.reverse finally walk.close()
    entries.foreach { p =>
      if (Files.isRegularFile(p) && !referenced(p.normalize.toString)) {
        Files.deleteIfExists(p); deleted += 1
      } else if (Files.isDirectory(p) && p != dataRoot) {
        try { if (listDir(p).isEmpty) Files.deleteIfExists(p) }
        catch { case _: Exception => () }
      }
    }
    deleted
  }

  private def listParquet(dir: Path): List[Path] =
    listDir(dir).filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.toString)

  private def openFooter(p: HPath): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(p, new Configuration()))

  /** Row count from the parquet footer (no data read). */
  private def parquetRows(p: Path): Long = {
    val r = openFooter(new HPath(p.toString))
    try r.getRecordCount finally r.close()
  }

  /** Spark schema from one file's footer, read on the driver: inferring
    * it through `spark.read` would run a Spark job per scan built. Every
    * field, nested ones included, is made nullable, as a `spark.read`
    * relation makes them.
    */
  private def parquetSchema(p: HPath): StructType = {
    val r = openFooter(p)
    val s = try ParquetFileFormat.readSchemaFromFooter(new Footer(p, r.getFooter),
      new ParquetToSparkSchemaConverter(SQLConf.get)) finally r.close()
    nullable(s).asInstanceOf[StructType]
  }

  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case ArrayType(e, _) => ArrayType(nullable(e), containsNull = true)
    case MapType(k, v, _) => MapType(nullable(k), nullable(v), valueContainsNull = true)
    case other => other
  }
}

/** A set of snapshot tables under one root — the engine's "warehouse". */
final class SnapshotStore(val root: Path) {
  def table(name: String): SnapshotTable = new SnapshotTable(root, name)
}

object SnapshotStore {
  def apply(root: String): SnapshotStore = {
    val p = Paths.get(root)
    Files.createDirectories(p)
    new SnapshotStore(p)
  }

  /** The storage-bucket id [[SnapshotTable.appendBucketed]] assigns to a
    * LONG key: `repartition(n, col)` routes rows by
    * `pmod(murmur3(key, seed=42), n)` and the writer stamps the partition
    * index into the file name, so this driver-side replica lets a probe
    * side turn its occupied keys into the file set to read
    * ([[SnapshotTable.readBucketSkipped]]). Pinned against Spark's own
    * `pmod(hash(col), n)` by SnapshotStoreSpec — a divergence here would be
    * a silent candidate-recall loss, not an error.
    */
  def bucketIdOfLong(key: Long, numBuckets: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
      .hash(key, org.apache.spark.sql.types.LongType, 42L).toInt
    ((h % numBuckets) + numBuckets) % numBuckets
  }
}
