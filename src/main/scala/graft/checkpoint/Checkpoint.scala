package graft.checkpoint

import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.CheckpointEntry

/**
 * Checkpoint manifest: per-partition lineage (snapshot_id, ruleset_hash,
 * verdict, metrics) enabling resumable runs — the Spark-native replacement
 * for the reference's RUNNING/PASS/FAIL state machine + README sentinel
 * (reference validation_manager.py:209-253, cleanup_manager.py:114-128,
 * batch_notification.py:206-218). A restarted job skips partitions whose
 * (snapshot_id, ruleset_hash) already completed; any change to input data
 * or rule set re-validates exactly the affected partitions.
 *
 * Crash safety: jobs write violations → verdicts → checkpoint LAST, and
 * every data write is an idempotent dynamic-partition overwrite, so a replay
 * after a crash reproduces identical output (SURVEY.md §7.5 risk 3).
 */
object Checkpoint {

  def read(spark: SparkSession, path: String): Dataset[CheckpointEntry] = {
    import spark.implicits._
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.parquet(path).as[CheckpointEntry]
    else spark.emptyDataset[CheckpointEntry]
  }

  /** Write one run's checkpoint entries as that run's OWN generation
    * (`run_seg=<runId>` hive partition, dynamic overwrite). Two properties
    * a plain parquet append lacks: (1) CONCURRENT-safe — each writing job
    * stages under its own unique `.spark-staging-*` dir and commits only
    * its own partition, so two runs over disjoint partition sets can
    * finish simultaneously (a shared FileOutputCommitter `_temporary`
    * would let one run's commit delete the other's in-flight staging);
    * (2) replay-idempotent — a crashed run replays with the same derived
    * runId and overwrites its own generation instead of appending a
    * duplicate. runId is deterministic per (snapshot, ruleset, scope), so
    * distinct concurrent scopes land in distinct generations. */
  def appendRun(
      entries: Dataset[CheckpointEntry], path: String, runId: String): Unit =
    entries.toDF()
      .withColumn("run_seg", org.apache.spark.sql.functions.lit(runId))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("run_seg")
      .parquet(path)

  /** COMPACT the checkpoint's per-run generations (VERDICT r03 #7 spirit,
    * applied to the checkpoint itself): every run appends its own
    * `run_seg` partition, so a long-lived table accumulates one tiny
    * file per run and resume pays O(runs) open costs. Folds every
    * current generation into ONE consolidated `base-<hash>` generation
    * (exact duplicate rows collapsed — reruns overwrite their own segment
    * but distinct lineages all survive), then deletes exactly the
    * segments that were read. Crash-safe without atomic directory swaps:
    * base is written FIRST, so a crash between write and deletes leaves
    * duplicate entries — harmless to every reader (completedPartitions*
    * are distinct/filter lookups) — and the next compaction collapses
    * them. Concurrent appendRun is safe: a new run writes a fresh
    * run_seg this call never read and never deletes.
    * Returns the number of segments folded (0 = nothing to do; with
    * dryRun: the count that WOULD fold, nothing touched). */
  def compact(
      spark: SparkSession, path: String, dryRun: Boolean = false): Int = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return 0
    val segs = fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith("run_seg="))
      .map(n => graft.sources.TableIO.unescapePathName(
        n.stripPrefix("run_seg=")))
    if (segs.size <= 1) return 0
    if (dryRun) return segs.size
    // checkpoint entries are metadata (|runs × partitions| small rows):
    // collected so the base write never reads the path it overwrites
    import spark.implicits._
    val entries = spark.read.parquet(path)
      .where(org.apache.spark.sql.functions.col("run_seg")
        .isin(segs.map(x => x: Any): _*))
      .drop("run_seg")
      .distinct()
      .as[CheckpointEntry]
      .collect()
    val baseId = "base-" + java.util.UUID.randomUUID().toString.take(8)
    appendRun(spark.createDataset(entries.toSeq).coalesce(1), path, baseId)
    graft.sources.TableIO.deletePartitions(spark, path, "run_seg", segs)
    segs.size
  }

  /** Atomic create-if-absent on a single lock file, with stale reclaim.
    * Shared by the whole-dir run lock and the per-partition locks. */
  private def tryLockFile(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path,
      staleMs: Long,
      attempts: Int): Boolean = {
    if (attempts <= 0) return false
    def retry() = tryLockFile(fs, p, staleMs, attempts - 1)
    try {
      // createNewFile semantics: atomic create-if-absent
      val out = fs.create(p, false)
      out.writeBytes(java.time.Instant.now().toString)
      out.close()
      true
    } catch {
      case _: java.io.IOException =>
        // the lock may vanish between the failed create and the stat
        // (another run just released/reclaimed it) — that's a retry, not
        // an escaping IOException (ADVICE r02)
        val age =
          try System.currentTimeMillis() -
            fs.getFileStatus(p).getModificationTime
          catch { case _: java.io.FileNotFoundException => return retry() }
        if (age > staleMs) {
          // Reclaim via RENAME-then-delete: rename is atomic, so of N runs
          // observing the same stale lock exactly ONE wins the rename (and
          // deletes the tombstone); losers fail the rename and retry —
          // where they contend on create-if-absent against the winner's
          // fresh lock. The delete-then-create race (both delete, each
          // creates, B deletes A's fresh lock, both proceed) is gone.
          val tomb = new org.apache.hadoop.fs.Path(
            p.getParent, s"${p.getName}.reclaim.${java.util.UUID.randomUUID()}")
          if (fs.rename(p, tomb)) fs.delete(tomb, false)
          retry()
        } else false
    }
  }

  /** Whole-dir run lock — an atomically-created marker file under the
    * output dir. A second concurrent run on the same outDir fails to
    * create it and aborts instead of double-writing. Stale locks (crashed
    * runs) are reclaimed after `staleMs`. Jobs whose write unit is the
    * whole output dir (TransferJob's store+manifest regeneration) use
    * this; ValidationJob locks at PARTITION granularity below. */
  def acquireRunLock(
      spark: SparkSession, outDir: String,
      staleMs: Long = 6 * 3600 * 1000L,
      attempts: Int = 5): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$outDir/_running")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p.getParent)
    tryLockFile(fs, p, staleMs, attempts)
  }

  def releaseRunLock(spark: SparkSession, outDir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$outDir/_running")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, false)
  }

  /** Lock-file path for one partition value (URL-encoded so any partition
    * string maps to a distinct, filesystem-safe name). */
  def partitionLockPath(
      outDir: String, partition: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(s"$outDir/_locks/" +
      java.net.URLEncoder.encode(partition, "UTF-8") + ".lock")

  /** PER-PARTITION run locks (VERDICT r03 #4) — the reference's
    * concurrency unit is the submission PREFIX, not the whole results
    * area (folder_lock.py:44-164 denies writes to one submission folder
    * while it is processed). Locking the partition SET a run will write
    * lets two runs over disjoint partition sets of the same table proceed
    * concurrently, while overlapping sets still refuse each other.
    *
    * All-or-nothing: partitions are locked in sorted order; on the first
    * conflict every lock this call took is released and the call returns
    * false — no partial hold, so two overlapping runs cannot deadlock
    * (one of them wins every contended lock or backs out fully). Stale
    * locks from crashed runs reclaim after `staleMs`, per lock file. */
  def acquirePartitionLocks(
      spark: SparkSession, outDir: String, partitions: Seq[String],
      staleMs: Long = 6 * 3600 * 1000L,
      attempts: Int = 5): Boolean = {
    val sorted = partitions.distinct.sorted
    if (sorted.isEmpty) return true
    val root = new org.apache.hadoop.fs.Path(s"$outDir/_locks")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(root)
    val acquired = scala.collection.mutable.ListBuffer
      .empty[org.apache.hadoop.fs.Path]
    sorted.foreach { part =>
      val lp = partitionLockPath(outDir, part)
      if (tryLockFile(fs, lp, staleMs, attempts)) acquired += lp
      else {
        acquired.foreach(fs.delete(_, false))
        return false
      }
    }
    true
  }

  def releasePartitionLocks(
      spark: SparkSession, outDir: String, partitions: Seq[String]): Unit = {
    val root = new org.apache.hadoop.fs.Path(s"$outDir/_locks")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    partitions.distinct.foreach { part =>
      val lp = partitionLockPath(outDir, part)
      if (fs.exists(lp)) fs.delete(lp, false)
    }
  }

  def logPath(outDir: String): String = s"$outDir/checkpoint"
  def sketchesPath(outDir: String): String = s"$outDir/_sketches"
  def statsStatePath(outDir: String): String = s"$outDir/_stats_state"
  def inventoryPath(outDir: String): String = s"$outDir/_inventory"
  def rulesetsPath(outDir: String): String = s"$outDir/_rulesets"

  /** The four side tables share one layout: metadata rows coalesced to one
    * file per directory, hive-partitioned by `dir`, a copy of the exact
    * key column `key` (partition columns are TYPE-INFERRED on read — a
    * numeric-looking source name would come back as a long — so readers
    * use `key`). Dynamic overwrite per directory: a re-validated partition
    * (or a replayed ruleset hash) replaces exactly its own rows, and two
    * concurrent disjoint-scope runs commit disjoint directories safely.
    * Per-partition rows carry their lineage in snapshot_id, so stale rows
    * are detectable. */
  private def writeSide[T <: Product: TypeTag](
      spark: SparkSession, path: String, key: String, dir: String,
      rows: Seq[T], cols: String*): Unit = {
    import spark.implicits._
    if (rows.nonEmpty)
      graft.sources.TableIO.writePartitioned(
        rows.toDF(cols: _*).withColumn(dir, col(key)).coalesce(1),
        path, partitionCol = dir, recluster = false)
  }

  private def readSide(
      spark: SparkSession, path: String, cols: String*): Array[Row] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Array.empty
    else spark.read.parquet(path).select(cols.map(col): _*).collect()
  }

  /** Persist per-partition key sketches (one row per (partition, rule)):
    * the membership side of the CROSS-RUN uniqueness gate — the
    * Spark-native stand-in for the reference's global ETag table
    * (dynamodb.py:22-40). */
  def writeSketches(
      spark: SparkSession, outDir: String,
      rows: Seq[(String, String, String, String, Array[Byte])]): Unit =
    writeSide(spark, sketchesPath(outDir), "part_value", "partition", rows,
      "part_value", "snapshot_id", "rule_id", "key_col", "sketch")

  /** rule id → partition → (snapshot_id, sketch). */
  private def sketchesByRule(spark: SparkSession, outDir: String)
      : Map[String, Map[String, (String, Array[Byte])]] =
    readSide(spark, sketchesPath(outDir),
        "rule_id", "part_value", "snapshot_id", "sketch")
      .groupBy(_.getString(0))
      .map { case (id, rs) =>
        id -> rs.map(r => r.getString(1) ->
          ((r.getString(2), r.getAs[Array[Byte]](3)))).toMap
      }

  /** Sketches for one rule, keyed by exact partition value. */
  def readSketches(
      spark: SparkSession, outDir: String,
      ruleId: String): Map[String, (String, Array[Byte])] =
    sketchesByRule(spark, outDir).getOrElse(ruleId, Map.empty)

  /** Persist the PER-RULE fingerprint map of one ruleset hash — the
    * lookup table rule-delta revalidation diffs against: a later run whose
    * ruleset hash differs finds out WHICH rules changed and re-evaluates
    * only those. One row per rule, keyed by the exact hash (`hash_value`). */
  def writeRulesetMap(
      spark: SparkSession, outDir: String, rulesetHash: String,
      fps: Map[String, String]): Unit =
    writeSide(spark, rulesetsPath(outDir), "hash_value", "ruleset",
      fps.toSeq.map { case (id, fp) => (id, fp, rulesetHash) },
      "rule_id", "rule_fp", "hash_value")

  /** Persist each validated partition's mergeable per-source stats state
    * (see [[graft.drift.SourceStatsAggregate.serializeStates]]) — the
    * material an APPEND-DELTA run folds a new-files-only scan into, so
    * stats/drift/RI re-evaluate over the WHOLE partition without
    * rescanning old files. */
  def writeStatsState(
      spark: SparkSession, outDir: String,
      rows: Seq[(String, String, Array[Byte])]): Unit =
    writeSide(spark, statsStatePath(outDir), "part_value", "partition", rows,
      "part_value", "snapshot_id", "state")

  /** partition → (snapshot_id, serialized stats state). */
  def readStatsState(
      spark: SparkSession, outDir: String): Map[String, (String, Array[Byte])] =
    readSide(spark, statsStatePath(outDir), "part_value", "snapshot_id", "state")
      .map(r => r.getString(0) -> ((r.getString(1), r.getAs[Array[Byte]](2))))
      .toMap

  /** Persist each validated partition's `path:length` file inventory —
    * the list a later append-delta run subtracts from the current listing
    * to find exactly the NEW files. One row per file; snapshot_id is
    * itself the md5 of this sorted list, so inventory and checkpoint
    * cannot desync silently. */
  def writeInventory(
      spark: SparkSession, outDir: String,
      rows: Seq[(String, String, String)]): Unit =
    writeSide(spark, inventoryPath(outDir), "part_value", "partition", rows,
      "part_value", "snapshot_id", "file")

  /** Partitions already validated for (snapshotId, rulesetHash) — the skip
    * set for a resumed run over a table-granular snapshot id. */
  def completedPartitions(
      spark: SparkSession,
      path: String,
      snapshotId: String,
      rulesetHash: String): Set[String] =
    completedUnder(read(spark, path).collect().toSeq, rulesetHash,
      _ => Some(snapshotId))

  /** Partitions with an entry under `rulesetHash` whose snapshot id is the
    * partition's current one (None = the partition has no current id). */
  private def completedUnder(
      entries: Seq[CheckpointEntry], rulesetHash: String,
      current: String => Option[String]): Set[String] =
    entries.filter(e => e.ruleset_hash == rulesetHash &&
        current(e.partition).contains(e.snapshot_id))
      .map(_.partition).toSet

  /** Everything an eligible append-delta partition carries into the run:
    * its last validated snapshot id and file inventory, the files added
    * since, and the stats state and per-rule key sketches persisted under
    * that old snapshot id. */
  final case class DeltaPart(
      oldSnapshotId: String,
      oldFiles: Seq[String],
      newFiles: Seq[String],
      oldState: Array[Byte],
      oldSketches: Map[String, Array[Byte]])

  /** One output dir's per-partition lineage, as a run sees it at start:
    * the checkpoint entries (metadata, |runs × partitions| small rows,
    * collected once) and the side tables, each read at most once and only
    * when a question needs it. Every answer is a pure function of those.
    * The run's own writes come after every question it asks, so what it
    * read stays the lineage it decided on. */
  final class Lineage private (
      spark: SparkSession, outDir: String, entries: Seq[CheckpointEntry]) {

    private lazy val inventory: Map[String, (String, Seq[String])] =
      readSide(spark, inventoryPath(outDir), "part_value", "snapshot_id", "file")
        .groupBy(_.getString(0))
        .map { case (part, rs) =>
          part -> ((rs.head.getString(1), rs.map(_.getString(2)).toSeq))
        }
    private lazy val states = readStatsState(spark, outDir)
    private lazy val sketches = sketchesByRule(spark, outDir)
    private lazy val rulesets: Map[String, Map[String, String]] =
      readSide(spark, rulesetsPath(outDir), "hash_value", "rule_id", "rule_fp")
        .groupBy(_.getString(0))
        .map { case (h, rs) =>
          h -> rs.map(r => r.getString(1) -> r.getString(2)).toMap
        }

    /** Latest entry (by completed_at) per partition among those kept. */
    private def latest(
        keep: CheckpointEntry => Boolean): Map[String, CheckpointEntry] =
      entries.filter(keep).groupBy(_.partition)
        .map { case (part, es) => part -> es.maxBy(_.completed_at) }

    /** The skip set: partitions already validated under `rulesetHash` for
      * their current content. With per-partition snapshot ids a partition
      * is done iff some entry carries its OWN current id — a new or
      * re-uploaded partition re-validates exactly itself; without them
      * (non-hive layouts) the whole-table `snapshotId` decides. */
    def completed(
        rulesetHash: String, partSnaps: Map[String, String],
        snapshotId: String): Set[String] =
      completedUnder(entries, rulesetHash,
        if (partSnaps.nonEmpty) partSnaps.get else _ => Some(snapshotId))

    /** Append-delta eligibility: a `todo` partition qualifies iff its last
      * completed run under `rulesetHash` left an inventory, a stats state
      * and a sketch per cross-run rule, all under that run's snapshot id,
      * and its current file set strictly extends the old one (same paths,
      * same lengths). Every other partition falls back to a full rescan. */
    def deltaParts(
        todo: Seq[String], rulesetHash: String,
        filesByPart: Map[String, Seq[String]],
        crossRunIds: Seq[String]): Map[String, DeltaPart] = {
      val last = latest(_.ruleset_hash == rulesetHash)
      todo.flatMap { part =>
        for {
          files <- filesByPart.get(part)
          oldSnap <- last.get(part).map(_.snapshot_id)
          (invSnap, oldFiles) <- inventory.get(part)
          if invSnap == oldSnap
          (stSnap, oldState) <- states.get(part)
          if stSnap == oldSnap
          oldSketches = crossRunIds.flatMap(id =>
            sketches.get(id).flatMap(_.get(part))
              .filter(_._1 == oldSnap).map(id -> _._2)).toMap
          if oldSketches.size == crossRunIds.size
          oldSet = oldFiles.toSet
          if oldSet.subsetOf(files.toSet) && files.size > oldFiles.size
        } yield part -> DeltaPart(oldSnap, oldFiles,
          files.filterNot(oldSet).sorted, oldState, oldSketches)
      }.toMap
    }

    /** Rule-delta: the rules whose fingerprint differs from the one the
      * partition's unchanged data was last validated under (latest entry
      * carrying its current snapshot id, any ruleset hash), unioned over
      * `todo`. All-or-nothing: if any partition has no such entry, or its
      * ruleset hash has no persisted map, every rule is returned. */
    def changedRules(
        todo: Seq[String], partSnaps: Map[String, String],
        ruleFps: Map[String, String]): Set[String] = {
      val last = latest(e => partSnaps.get(e.partition).contains(e.snapshot_id))
      val perPart = todo.map(p =>
        for {
          e <- last.get(p)
          old <- rulesets.get(e.ruleset_hash)
        } yield ruleFps.keySet.filter(id => !old.get(id).contains(ruleFps(id))))
      if (perPart.contains(None)) ruleFps.keySet
      else perPart.flatten.flatten.toSet
    }

    /** Cross-run history coverage: the `ruleId` sketch of every
      * (partition, snapshot id) in `history`, in order — or None when any
      * partition has no sketch under that snapshot id (the check cannot
      * complete). */
    def historySketches(
        ruleId: String,
        history: Seq[(String, String)]): Option[Seq[Array[Byte]]] = {
      val byPart = sketches.getOrElse(ruleId, Map.empty)
      val found = history.flatMap { case (part, snap) =>
        byPart.get(part).filter(_._1 == snap).map(_._2)
      }
      if (found.size == history.size) Some(found) else None
    }
  }

  object Lineage {
    /** One collect of `checkpoint/`; side tables stay unread. */
    def load(spark: SparkSession, outDir: String): Lineage =
      new Lineage(spark, outDir, read(spark, logPath(outDir)).collect().toSeq)
  }
}
