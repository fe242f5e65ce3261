package graft.jobs

import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model._
import graft.rules.{RuleEngine, RuleSet, Rules}
import graft.checkpoint.Checkpoint
import graft.sources.{ManifestTable, TableIO}

/**
 * The end-to-end resumable validation run — one spark-submit replaces the
 * reference's E1→E3 Lambda/Batch choreography (SURVEY.md §3): scan the
 * sequences table, skip checkpointed partitions, evaluate the rule set,
 * write violations + verdicts (idempotent dynamic-partition overwrite),
 * then append checkpoint entries LAST so a crash replays safely.
 */
object ValidationJob {

  final case class Config(
      inputPath: String,
      manifestPath: String,
      outDir: String,
      baselinePath: Option[String] = None,
      /** Reference snapshot for the cross-snapshot token-equality rule
        * (J10); the rule rolls up NOT_COMPLETED when absent. */
      refSnapshotPath: Option[String] = None,
      rules: RuleSet = Rules.standard,
      vocab: Int = graft.gen.SequenceGen.vocabSize,
      /** Restrict the run to this subset of source partitions — the
        * reference's SUBMISSION unit (one validation processes one
        * submission prefix, folder_lock.py:44-164). A restricted run
        * locks, validates, reports and checkpoints ONLY these sources, so
        * two runs over disjoint subsets of the same table proceed
        * concurrently (per-partition locks, VERDICT r03 #4). None = the
        * whole table (every non-checkpointed partition). Cross-partition
        * rules (uniqueness) evaluate WITHIN the run's scope — the same
        * contract a resumed run already has (it rescans only non-
        * checkpointed partitions), and the reference's, whose duplicate
        * gate is submission-local (manifest_processor.py:283-305); run
        * unrestricted on a fresh checkpoint for global uniqueness. */
      partitions: Option[Seq[String]] = None,
      /** Per-partition capacity of the cross-run uniqueness sketches
        * (CrossRunUniqueRule). Size to the expected partition row count;
        * ~1.2 MB of sketch per 10^6 keys at fpp=0.001. Over-filled
        * sketches only RAISE the false-positive rate — the confirm join
        * keeps the reported violations exact regardless, at the cost of
        * more confirm-scan traffic. */
      sketchExpectedItems: Long = 1000000L,
      sketchFpp: Double = 0.001,
      /** APPEND-DELTA mode: a changed partition whose current file set is
        * a strict superset of its last-validated inventory (same paths,
        * same lengths) re-validates by scanning ONLY the new files — the
        * Iceberg-snapshot-diff shape of incremental ingestion, where
        * partitions grow by appended files run over run. Stats / drift /
        * RI / completeness evaluate over the WHOLE partition by folding
        * the persisted mergeable stats state into the delta scan's
        * aggregates (field-exactly what a full rescan computes);
        * within-delta duplicates surface through the normal uniqueness
        * pass, old↔new duplicates through the cross-run sketch gate
        * (booked as R_CROSS_RUN_UNIQUE with prior-copy evidence — a full
        * rescan books the same docs under R_UNIQUE_DOC_ID; the partition
        * verdict is identical), and old-files row/uniqueness violations
        * are preserved from the current violations table. Partitions
        * ineligible for delta (rewritten/removed files, missing persisted
        * state or sketch, first sight) fall back to a full rescan
        * automatically. Incompatible with refSnapshotPath (the equality
        * join needs both sides complete). */
      appendDelta: Boolean = false,
      /** RULE-DELTA mode: a partition whose data is UNCHANGED (same
        * per-partition snapshot id as its latest completed checkpoint
        * entry) but whose rule set changed re-validates only the CHANGED
        * rules — the per-rule fingerprint maps persisted under _rulesets/
        * say which — carrying forward verdicts of unchanged rules and
        * preserving their violations. With declarative rule configs this
        * makes "add one rule to a 10^12-row table" cost one scan
        * evaluating one rule, not |rules| of them; a baseline refresh
        * re-runs only the drift family (each drift rule's fingerprint
        * folds the baseline snapshot id). All-or-nothing per run: if ANY
        * to-validate partition is ineligible (data changed, or its old
        * ruleset has no persisted map), the whole run falls back to full
        * evaluation — partitions needing different rule subsets in one run
        * would need one scan per subset, which is the full rescan it was
        * avoiding. Incompatible with appendDelta (changed data vs
        * changed rules — a partition is one or the other). */
      ruleDelta: Boolean = false)

  final case class RunReport(
      snapshotId: String,
      rulesetHash: String,
      validatedPartitions: Seq[String],
      skippedPartitions: Seq[String],
      rowsValidated: Long,
      violations: Long,
      wallMs: Long,
      /** Subset of validatedPartitions that ran as append-delta (only
        * their new files were scanned). */
      deltaPartitions: Seq[String] = Nil,
      /** Subset of validatedPartitions that ran as rule-delta (same data,
        * only changed rules evaluated). */
      ruleDeltaPartitions: Seq[String] = Nil,
      /** Rule ids actually evaluated this run (the changed subset under
        * rule-delta; the full set otherwise). */
      rulesEvaluated: Seq[String] = Nil)

  def violationsPath(outDir: String) = s"$outDir/violations"
  def verdictsPath(outDir: String) = s"$outDir/verdicts"
  def checkpointPath(outDir: String) = Checkpoint.logPath(outDir)
  def runLogPath(outDir: String) = s"$outDir/run_log"
  def violationsLogPath(outDir: String) = s"$outDir/violations_log"

  def run(spark: SparkSession, cfg: Config): RunReport = {
    import spark.implicits._
    val t0 = System.nanoTime()
    var tLast = t0
    val phaseLog = sys.env.get("GRAFT_PHASE_LOG").contains("1")
    def phase(name: String): Unit = if (phaseLog) {
      val now = System.nanoTime()
      System.err.println(f"[phase] $name%-22s ${(now - tLast) / 1e6}%9.1f ms")
      tLast = now
    }

    // PER-PARTITION snapshot lineage (BASELINE: "per-Iceberg-partition
    // lineage (snapshot-id, ...)"): each source partition carries its OWN
    // content id, so resume re-validates exactly the partitions whose
    // files changed — a new submission neither re-validates nor blocks
    // the untouched ones. The whole-table id derives from the same single
    // directory walk. Non-hive layouts fall back to table-granular ids.
    // Manifest-first (the Iceberg read path): a committed file manifest
    // replaces the recursive listing with one pruned parquet read —
    // the walk is the cost the manifest removes. Unmanifested tables
    // (every test fixture written directly) fall back to the listing.
    val filesByPart: Option[Map[String, Seq[String]]] =
      ManifestTable.partitionFiles(spark, cfg.inputPath)
        .orElse(TableIO.partitionFiles(spark, cfg.inputPath, "source"))
    val partSnaps: Map[String, String] = filesByPart
      .map(_.map { case (v, fls) => v -> TableIO.snapshotIdOfFiles(fls) })
      .getOrElse(Map.empty)
    val snapshotId =
      if (partSnaps.nonEmpty) TableIO.snapshotIdFromPartitions(partSnaps)
      else TableIO.snapshotId(spark, cfg.inputPath)
    def snapOf(src: String): String = partSnaps.getOrElse(src, snapshotId)
    phase("snapshot_id")
    // Checkpoint lineage = rule set + rule-INPUT configuration (ADVICE r02):
    // a drift rule with no baseline rolls up NOT_COMPLETED, which does not
    // block the partition verdict (level 0) — so a PASS checkpoint written
    // without a baseline must NOT satisfy a later run that adds one (or
    // changes its content; same for the reference snapshot). Folding the
    // baseline/refSnapshot snapshot ids into the hash re-validates exactly
    // when those inputs change.
    def md5(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val baselineFp = cfg.baselinePath
      .map(TableIO.snapshotId(spark, _)).getOrElse("none")
    val refSnapshotFp = cfg.refSnapshotPath
      .map(TableIO.snapshotId(spark, _)).getOrElse("none")
    val rulesetHash = md5(cfg.rules.rulesetHash +
      s"|baseline=$baselineFp|refSnapshot=$refSnapshotFp")
    // PER-RULE lineage fingerprints (the _rulesets map): descriptor plus
    // the rule's OWN input snapshot, so rule-delta re-runs exactly what a
    // change touches — a baseline refresh changes only the drift rules'
    // fingerprints, a refSnapshot swap only the equality rule's.
    val ruleFps: Map[String, String] = cfg.rules.rules.map { r =>
      val inputFp = r match {
        case _: graft.rules.DriftRule => s"|baseline=$baselineFp"
        case _: graft.rules.SnapshotEqualityRule =>
          s"|refSnapshot=$refSnapshotFp"
        case _ => ""
      }
      r.id -> md5(r.descriptor + inputFp)
    }.toMap

    // Explicit schemas: parquet schema inference runs a footer-reading
    // job per table read (~0.5 s of SERIAL driver time per session at the
    // bench layout) for schemas the engine already owns as case classes.
    // Partition columns (e.g. hive `source=` dirs) are matched by name
    // against the declared schema, so partitioned and unpartitioned
    // layouts both read identically.
    import org.apache.spark.sql.Encoders
    // Structural gate BEFORE the enforced-schema read: schema(S).parquet
    // silently NULLs missing columns and prunes extras, so a renamed or
    // retyped column would otherwise surface as a wall of row violations
    // instead of "the table's shape changed". One footer read each.
    def gatedRead[T <: Product: TypeTag](what: String, p: String) = {
      val schema = Encoders.product[T].schema
      graft.operators.SchemaCheck.requireCompatible(
        graft.operators.SchemaCheck.parquetSchema(spark, p), schema, s"$what $p")
      spark.read.schema(schema).parquet(p).as[T]
    }
    val all = gatedRead[Sequence]("input table", cfg.inputPath)
    val manifest = gatedRead[ManifestEntry]("manifest table", cfg.manifestPath)
    val baseline =
      cfg.baselinePath.map(gatedRead[BaselineBin]("baseline table", _))

    // Resume: drop partitions already validated under this exact
    // (snapshot, rule set) lineage. The filter is on the partition column,
    // so Catalyst prunes their files from the scan entirely. The lineage
    // is read once here and answers every later skip / delta / history
    // question of the run.
    val lineage = Checkpoint.Lineage.load(spark, cfg.outDir)
    val done = lineage.completed(rulesetHash, partSnaps, snapshotId)
    val allParts = TableIO.partitionValues(spark, cfg.inputPath, "source")
      .getOrElse(
        all.select("source").distinct().as[String].collect().toSeq.sorted)
    // submission scope: a restricted run sees only its requested sources
    val requested = cfg.partitions.map(_.toSet)
    def inScope(src: String): Boolean = requested.forall(_(src))
    val todo = allParts.filterNot(done).filter(inScope)
    phase("checkpoint+parts")

    if (todo.isEmpty) {
      return RunReport(snapshotId, rulesetHash, Nil,
        allParts.filter(inScope), 0L, 0L,
        (System.nanoTime() - t0) / 1000000)
    }

    // RULE-DELTA classification (Lineage.changedRules): one engine pass
    // over the union of changed rules beats one per distinct subset. A
    // strict subset is required twice over: changed == all rules means
    // delta buys nothing, and changed == ∅ (a config-input edit touching
    // no rule that exists, e.g. baseline swap with no drift rules) still
    // needs the new lineage hash stamped, which the full path does
    // trivially.
    require(!(cfg.ruleDelta && cfg.appendDelta),
      "ruleDelta and appendDelta are mutually exclusive: a partition " +
        "re-validates for changed DATA or changed RULES, never both ways")
    val allIds = cfg.rules.ruleIds.toSet
    val ruleDeltaChanged: Set[String] =
      if (cfg.ruleDelta) lineage.changedRules(todo, partSnaps, ruleFps)
      else allIds
    val ruleDeltaActive =
      ruleDeltaChanged.nonEmpty && ruleDeltaChanged != allIds
    val evalRules =
      if (ruleDeltaActive)
        graft.rules.RuleSet(cfg.rules.rules.filter(r =>
          ruleDeltaChanged(r.id)))
      else cfg.rules
    // rules whose verdicts/violations carry forward untouched
    val carriedIds: Set[String] =
      if (ruleDeltaActive) allIds -- evalRules.ruleIds else Set.empty

    // PER-PARTITION locks on exactly the sources this run will write
    // (todo, plus — for a restricted run — any requested manifest-only
    // source its RI reporting covers): disjoint submission scopes proceed
    // concurrently, overlapping scopes refuse each other. Whole-dir
    // locking was the r03 shape; the reference's unit is the submission
    // prefix (folder_lock.py:44-164). Released in the finally below.
    val lockParts = requested
      .fold(todo)(ps => (ps -- done).toSeq.sorted)
    require(
      Checkpoint.acquirePartitionLocks(spark, cfg.outDir, lockParts),
      s"another validation run holds a partition lock under ${cfg.outDir} " +
        s"overlapping ${lockParts.mkString(",")} (stale locks under " +
        "_locks/ reclaim automatically)")
    try {

    // APPEND-DELTA classification (Lineage.deltaParts): old↔new
    // duplicates only surface through the cross-run sketches, so a rule
    // set without a cross-run rule never runs as delta.
    val deltaInfo: Map[String, Checkpoint.DeltaPart] =
      if (!cfg.appendDelta || cfg.rules.crossRunRules.isEmpty) Map.empty
      else {
        require(cfg.refSnapshotPath.isEmpty,
          "appendDelta cannot run with a reference snapshot: the " +
            "cross-snapshot equality join needs both sides complete")
        lineage.deltaParts(todo, rulesetHash, filesByPart.getOrElse(Map.empty),
          cfg.rules.crossRunRules.map(_.id))
      }
    val deltaParts = deltaInfo.keySet
    val fullTodo = todo.filterNot(deltaParts)
    // Delta files come from whatever writer appended them — re-gate their
    // OWN footers (merged, all of them) against the contract. The
    // table-level gate above reads one footer, which the old files
    // dominate, so a retyped new file would otherwise pass the gate and
    // kill the scan with a raw executor error.
    if (deltaInfo.nonEmpty) {
      val newPaths = deltaInfo.values.flatMap(_.newFiles).toSeq.sorted
        .map(TableIO.inventoryEntryPath)
      graft.operators.SchemaCheck.requireCompatible(
        graft.operators.SchemaCheck.parquetSchemaOfFiles(
          spark, cfg.inputPath, newPaths,
          s"delta files of ${cfg.inputPath}"),
        Encoders.product[Sequence].schema,
        s"delta files of ${cfg.inputPath}")
    }
    phase("delta_classify")

    def readFiles(entries: Seq[String]) =
      spark.read.schema(Encoders.product[Sequence].schema)
        .option("basePath", cfg.inputPath)
        .parquet(entries.map(TableIO.inventoryEntryPath): _*)
        .as[Sequence]

    val seqs =
      if (deltaParts.isEmpty) {
        if (done.isEmpty && requested.isEmpty) all
        else all.filter(col("source").isin(todo.map(x => x: Any): _*))
      } else {
        // full partitions read whole; delta partitions read NEW files only
        val deltaSeqs = readFiles(deltaInfo.values.flatMap(_.newFiles).toSeq)
        if (fullTodo.isEmpty) deltaSeqs
        else all.filter(col("source").isin(fullTodo.map(x => x: Any): _*))
          .unionByName(deltaSeqs)
      }

    val refSnapshot =
      cfg.refSnapshotPath.map(gatedRead[Sequence]("reference snapshot", _))
    // FUSED evaluation (VERDICT r02 #1): the tokens array — ~96% of the
    // table's bytes — is decoded exactly once. The row-rule scan carries
    // the per-source token stats via observe(); the narrow aggregation
    // pass below reads only (source, doc_id, n_tok).
    val staged = RuleEngine.planStaged(
      seqs, manifest, evalRules, baseline, cfg.vocab, refSnapshot,
      mergeStates =
        deltaInfo.map { case (p, d) => p -> d.oldState })
    phase("plan_build")

    val todoSet = todo.toSet
    val allPartsSet = allParts.toSet

    // Restrict verdict/violation output to partitions being validated
    // (manifest-only sources surface through RI; those belong to this run
    // only if not already checkpointed). The violations set is SMALL by
    // construction (the failing slice of the data), so it is persisted:
    // the heavy scans behind it run ONCE here, and the write, the verdict
    // roll-up and the report count all reuse the cached rows instead of
    // re-reading what was just written — at the prior shape those four
    // write/re-read round-trips were the dominant serial section of the
    // scaling bench (VERDICT r01 #1).
    // Clustered BEFORE the persist: the scan produces one cache partition
    // per input split (~hundreds), and every downstream consumer of the
    // cache (count, both violation writes, the verdict roll-up) would pay
    // that task count again — a per-job fixed cost that taxes the 4N
    // scaling level 4x harder. One tiny shuffle (violations are the
    // failing slice) buys |shuffle.partitions| cache partitions, already
    // clustered by source for the partitioned write.
    val nPart = spark.sessionState.conf.numShufflePartitions
    // manifest-only sources (RI reporting on sources with no data) belong
    // to an unrestricted run, or to a restricted run that REQUESTED them —
    // a submission-scoped run must not write outside its locked scope.
    val manifestOnlyScope = requested match {
      case Some(ps) =>
        col("source").isin(ps.toSeq.map(x => x: Any): _*)
      case None => lit(true)
    }
    val scanVio = staged.scanViolations
      .filter(col("source").isin(todo.map(x => x: Any): _*) ||
        (!col("source").isin(allParts.map(x => x: Any): _*) &&
          manifestOnlyScope))
      .repartition(nPart, col("source"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materializes the row-rule (+ observed token stats), unique and
    // snapshot passes — the contract planStaged.finish() requires
    val scanVioCount = scanVio.count()
    phase("violation_passes")

    val fin = staged.finish() // observed stats + driver-side rule families
    // exact per-source counts come free from the observed aggregates; in
    // an append-delta run those are MERGED (whole-partition) counts, so
    // the rows actually scanned = merged total − persisted old totals
    // (both known driver-side, no extra job)
    val oldStateDocs =
      if (deltaInfo.isEmpty) 0L
      else graft.drift.SourceStatsAggregate
        .mergeStateBytes(
          deltaInfo.values.map(_.oldState).toSeq, graft.drift.Drift.tokenBins)
        .values.map(_.nDocs).sum
    val rowsValidated =
      fin.rowCount.map(_ - oldStateDocs).getOrElse(seqs.count())
    phase("stats_finish")

    // Storage-manifest ROW-COUNT reconciliation (StorageCountRule): the
    // per-partition scanned counts (free — fin.aggregates) against the
    // table manifest's metadata counts (one |files|-row read). Catches
    // rows lost or added between ingest-commit and validation — file
    // truncation, debris a bypassing writer dropped in — as a partition
    // FAIL instead of silently validating whatever the scan saw. A
    // partition whose metadata can't answer (no manifest, unstatted
    // files) rolls up NOT_COMPLETED, never PASS.
    val storageRules = evalRules.storageCountRules
    var storageNotCompleted = Set.empty[(String, String)]
    val storageVios: Seq[Violation] = storageRules.flatMap { rule =>
      val counts: Map[String, Option[Long]] =
        ManifestTable.readFull(spark, cfg.inputPath) match {
          case Some(mf) if mf.columns.contains("row_count") =>
            mf.groupBy(col("partition"))
              .agg(sum(col("row_count")).as("rows"),
                count(lit(1)).as("files"),
                count(col("row_count")).as("statted"))
              .collect()
              .map(r => r.getString(0) ->
                (if (r.getLong(3) == r.getLong(2)) Some(r.getLong(1))
                 else None))
              .toMap
          case _ => Map.empty
        }
      val actualBy = fin.aggregates.map(a => a.source -> a.nDocs).toMap
      todo.sorted.flatMap { src =>
        counts.get(src).flatten match {
          case Some(exp) =>
            val act = actualBy.getOrElse(src, 0L)
            if (exp != act)
              Some(Violation(
                doc_id = null,
                rule_id = rule.id,
                observed =
                  s"""{"scanned_rows":$act,"manifest_rows":$exp}""",
                source = src,
                severity = rule.severity))
            else None
          case None =>
            storageNotCompleted += ((src, rule.id)); None
        }
      }
    }
    phase("storage_rowcount")

    // CROSS-RUN uniqueness (CrossRunUniqueRule): the reference's duplicate
    // gate is store-GLOBAL — every new upload's key is checked against the
    // accumulated ETag record (manifest_processor.py:283-305,
    // dynamodb.py:22-40) — while uniqueViolations evaluates within this
    // run's scope. The persisted per-partition sketches of previously-
    // validated partitions route the new scope's keys: bloom-negative keys
    // (the overwhelming majority) never touch history at all, and bloom
    // positives are CONFIRMED against a partition-pruned NARROW scan of
    // the history key column — reported violations are exact at any fpp.
    // Skipped entirely on a fresh checkpoint (no history → vacuous PASS,
    // zero extra work). History partitions with no lineage-matching
    // sketch make the check NOT_COMPLETED, never a silent partial PASS.
    val crossRules = evalRules.crossRunRules
    // delta partitions' OLD content is history too: their persisted
    // sketches (lineage = the OLD snapshot id, verified at classification)
    // route delta keys, and the confirm scan reads exactly their OLD
    // files — new↔old duplicates inside a growing partition surface here.
    val history = (done.toSeq ++ deltaParts).sorted.map(s =>
      s -> deltaInfo.get(s).fold(snapOf(s))(_.oldSnapshotId))
    var xrunNotCompleted = Set.empty[(String, String)]
    val xrunCaches =
      scala.collection.mutable.ListBuffer.empty[Dataset[_]]
    val xrunVioFrames = crossRules.flatMap { rule =>
      if (history.isEmpty) None
      else lineage.historySketches(rule.id, history) match {
        case None =>
          xrunNotCompleted ++= todo.map(s => (s, rule.id))
          None
        case Some(sketches) =>
          val merged = sketches.reduce(graft.operators.BloomDedup.merge)
          val cands = seqs
            .select(col("source"), col(rule.key).cast("string").as("xk"))
            .filter(col("xk").isNotNull &&
              graft.operators.BloomDedup.mightContain(merged, col("xk")))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          xrunCaches += cands
          // short-circuit: when the sketch fired nothing (the common
          // incremental case), history is never scanned
          if (cands.count() == 0) None
          else {
            val (coveredDelta, coveredDone) =
              history.map(_._1).partition(deltaParts)
            val doneKeys =
              if (coveredDone.isEmpty) None
              else Some(all
                .filter(col("source").isin(coveredDone.map(x => x: Any): _*))
                .toDF())
            // delta history = the partition's OLD files only: the current
            // directory also holds the new files this run is scanning,
            // which must not self-match
            val deltaKeys =
              if (coveredDelta.isEmpty) None
              else Some(readFiles(
                coveredDelta.flatMap(s => deltaInfo(s).oldFiles).toSeq).toDF())
            val histKeys = (doneKeys.toSeq ++ deltaKeys.toSeq)
              .reduce(_ unionByName _)
              .select(col(rule.key).cast("string").as("xk"),
                col("source").as("dup_in"))
              .filter(col("xk").isNotNull)
            Some(cands.join(histKeys, Seq("xk"))
              .groupBy(col("xk"), col("source"))
              .agg(count(lit(1)).as("n_prior_copies"),
                slice(sort_array(collect_set(col("dup_in"))), 1,
                  RuleEngine.DupEvidenceCap).as("dup_in_sources"))
              .select(
                col("xk").as("doc_id"),
                lit(rule.id).as("rule_id"),
                to_json(struct(col("n_prior_copies"),
                  col("dup_in_sources"))).as("observed"),
                col("source"),
                lit(rule.severity).as("severity")))
          }
      }
    }
    phase("cross_run_unique")

    // driver-derived violations (RI / drift / manifest) obey the same
    // partition restriction, applied driver-side on the tiny seq.
    // Coalesced to ONE slice so the union stays clustered enough to write
    // without re-shuffling (scanVio is already repartitioned by source):
    // per source dir, <= 1 file from the scan side + 1 from this slice.
    val driverVios = (fin.driverViolations
      .filter(v => todoSet(v.source) ||
        (!allPartsSet(v.source) && inScope(v.source)))) ++ storageVios
    // cross-run duplicates: a small distributed frame (the duplicated
    // slice of the NEW scope only), persisted so the two write chains and
    // the count reuse one materialization of the confirm join
    val xrunVio = xrunVioFrames.reduceOption(_ unionByName _).map { f =>
      val p = f.repartition(nPart, col("source"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      xrunCaches += p
      p
    }
    val xrunCount = xrunVio.map(_.count()).getOrElse(0L)

    val doneSources = done.toSet
    // fin.sources = data sources (already todo-filtered) ∪ ALL manifest
    // sources; a restricted run reports (and deletes stale partitions!)
    // only inside its locked scope — without the inScope filter a
    // submission-scoped run would delete violations partitions a
    // CONCURRENT run over the other sources is writing.
    val runSources = fin.sources.filterNot(doneSources).filter(inScope)

    // PRESERVED violations (materialized EAGERLY — the violations chain
    // deletes these partitions before rewriting them):
    //  · append-delta: OLD files' per-doc violations (row rules,
    //    uniqueness, prior cross-run hits) remain true for the delta
    //    partitions — only the driver-rule families (stats / RI / drift /
    //    manifest) are dropped, since they re-derive from the merged
    //    aggregates.
    //  · rule-delta: every violation of a CARRIED (unchanged) rule remains
    //    true — the data did not change — across the whole rewrite scope
    //    (runSources, so a carried RI violation on a manifest-only source
    //    survives the partition rewrite too); changed rules' old rows drop
    //    and re-derive, removed rules' rows drop for good.
    val (preserveSources, preserveIds): (Seq[String], Seq[String]) =
      if (ruleDeltaActive) (runSources, carriedIds.toSeq.sorted)
      else if (deltaParts.nonEmpty)
        (deltaParts.toSeq.sorted,
          evalRules.rowRules.map(_.id) ++ evalRules.uniqueRules.map(_.id) ++
            evalRules.crossRunRules.map(_.id))
      else (Nil, Nil)
    val preservedVio: Option[DataFrame] =
      // a prior run with ZERO violations leaves the table dir present but
      // file-less; schema inference on an empty parquet dir aborts the read
      if (preserveSources.isEmpty || preserveIds.isEmpty ||
          !TableIO.hasDataFiles(spark, violationsPath(cfg.outDir))) None
      else {
        val p = spark.read.parquet(violationsPath(cfg.outDir))
          .filter(col("source").isin(preserveSources.map(x => x: Any): _*)
            && col("rule_id").isin(preserveIds.map(x => x: Any): _*))
          .select("doc_id", "rule_id", "observed", "source", "severity")
          .repartition(nPart, col("source"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        xrunCaches += p
        Some(p)
      }
    val preservedCount = preservedVio.map(_.count()).getOrElse(0L)
    val vio = Seq(
        Some(scanVio.toDF()), xrunVio, preservedVio,
        Some(spark.createDataset(driverVios).coalesce(1).toDF()))
      .flatten
      .reduce(_ unionByName _)
      .as[Violation]
    // NOTE (ADVICE r02): `violations` counts EVERY violation attributable
    // to this run — including manifest-only sources that never appear in
    // the data (the `!isin(allParts)` clause above) — not just rows from
    // `todo` partitions. Consumers diffing this count across engine
    // versions should compare under this (widened, r02+) definition.
    val vioCount = scanVioCount + xrunCount + preservedCount + driverVios.size

    val completedAt = java.time.Instant.now().toString
    // run lineage id: restricted runs fold their scope in, so two
    // concurrent disjoint-scope runs write DISTINCT run_id generations of
    // the violations/run logs (and distinct checkpoint segments) while a
    // crash replay of either still overwrites exactly its own generation.
    val scopeSuffix =
      requested.fold("")(ps => "-" + md5(ps.toSeq.sorted.mkString(",")).take(8))
    val runId =
      s"${snapshotId.take(12)}-${rulesetHash.take(12)}$scopeSuffix"

    // Rule-delta carried verdicts: collected driver-side BEFORE the write
    // chains run (the verdict chain overwrites the table they come from).
    // The domain is runSources × carriedIds; pairs the prior run never
    // produced (a source newly in the manifest) synthesize NOT_COMPLETED.
    val carriedVerdicts: Seq[Verdict] =
      if (!ruleDeltaActive || carriedIds.isEmpty) Nil
      else {
        val prior: Map[(String, String), Verdict] =
          if (!TableIO.hasDataFiles(spark, verdictsPath(cfg.outDir))) Map.empty
          else spark.read.parquet(verdictsPath(cfg.outDir))
            .filter(col("source").isin(runSources.map(x => x: Any): _*) &&
              col("rule_id").isin(carriedIds.toSeq.map(x => x: Any): _*))
            .select("source", "rule_id", "status", "severity", "metrics")
            .as[Verdict]
            .collect()
            .map(v => (v.source, v.rule_id) -> v)
            .toMap
        val sevOf = cfg.rules.rules.map(r => r.id -> r.severity).toMap
        for {
          src <- runSources
          id <- carriedIds.toSeq.sorted
        } yield prior.getOrElse((src, id), Verdict(
          source = src, rule_id = id, status = Status.NotCompleted,
          severity = sevOf(id), metrics = """{"carried":"no_prior_row"}"""))
      }

    // The two write CHAINS below are independent of each other (both read
    // only the materialized violations cache + collected driver facts), so
    // they run CONCURRENTLY — the write tail is a fixed serial cost that
    // taxes the 4N scaling level 4x harder, and overlapping the chains
    // roughly halves it. The crash-replay contract orders the CHECKPOINT
    // strictly after ALL writes (below, after both chains join); order
    // between the chains themselves is free — a crash before the
    // checkpoint replays the whole run idempotently either way.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global

    val vioChain = Future {
      // Dynamic overwrite only replaces partitions PRESENT in the output:
      // a re-validated source that is now clean writes zero rows, so its
      // stale violations must be dropped explicitly (ADVICE r01).
      TableIO.deletePartitions(
        spark, violationsPath(cfg.outDir), "source", runSources)
      // already clustered by source (the repartition before the persist) —
      // no re-shuffle on the way out
      TableIO.writePartitioned(vio.toDF(), violationsPath(cfg.outDir),
        recluster = false)

      // K2 completion (VERDICT r02 #5): the dynamic overwrite above keeps
      // the CURRENT violations queryable; the audit log below keeps EVERY
      // generation, keyed by run lineage — the reference mirrors every
      // record type into archive tables (dynamodb.py:518-532), violations
      // included, not just verdicts. Written as a run_id-partitioned
      // dynamic overwrite, NOT a blind append: a crash after this write
      // but before the checkpoint replays the run with the same derived
      // run_id, and the replay must overwrite its own generation instead
      // of duplicating it (the crash-replay idempotence contract,
      // Checkpoint.scala doc). recluster=false: the cache partitions
      // already spread the single run_id dir over several writers (the
      // job the salt used to do, minus the shuffle).
      TableIO.writePartitioned(
        vio.toDF()
          .withColumn("run_id", lit(runId))
          .withColumn("snapshot_id", lit(snapshotId))
          .withColumn("ruleset_hash", lit(rulesetHash))
          .withColumn("completed_at", lit(completedAt)),
        violationsLogPath(cfg.outDir),
        partitionCol = "run_id",
        recluster = false)
    }

    val verdictChain = Future {
      // Verdicts are |sources| x |rules| rows: roll up from the cached
      // violations, collect once, and reuse the collected rows for the
      // write, the run log, AND the checkpoint — zero re-reads.
      // Rule-delta: evaluated-rule verdicts roll up fresh; CARRIED rules'
      // verdicts copy forward from the current verdicts table (the data
      // is unchanged, so they still hold — metrics included). A carried
      // (source, rule) pair with no prior row (a source new to the
      // manifest) rolls up NOT_COMPLETED, never a silent PASS.
      val rows = RuleEngine.rollUpVerdicts(
          spark, runSources, evalRules, vio, fin.stats,
          fin.notCompleted ++ xrunNotCompleted ++ storageNotCompleted)
        .collect().toSeq ++ carriedVerdicts
      TableIO.writePartitioned(
        spark.createDataset(rows).coalesce(1).toDF(),
        verdictsPath(cfg.outDir), recluster = false)

      // K2 audit trail: every run appends its verdict generation to the
      // run log (reference archive-table semantics, dynamodb.py:518-532).
      TableIO.writePartitioned(
        spark.createDataset(rows.map(v =>
          RunLogRecord(runId, snapshotId, rulesetHash, v.source, v.rule_id,
            v.status, v.severity, v.metrics, completedAt)))
          .coalesce(1).toDF(),
        runLogPath(cfg.outDir), partitionCol = "run_id", recluster = false)
      rows
    }

    // Per-partition key sketches for FUTURE runs' cross-run gate: one
    // narrow (source, key) scan of the new scope, one small row per
    // (partition, rule). Written before the checkpoint like every other
    // output — a crash replay overwrites its own partitions (dynamic
    // overwrite), and a partition's sketch travels with its snapshot id
    // so staleness is detectable.
    val sketchChain = Future {
      val rows = crossRules.flatMap { rule =>
        val fresh = seqs.filter(col(rule.key).isNotNull)
          .groupBy(col("source"))
          .agg(graft.operators.BloomDedup.sketchAgg(
            col(rule.key).cast("string"),
            cfg.sketchExpectedItems, cfg.sketchFpp).as("sk"))
          .collect()
          .map(r => r.getString(0) -> r.getAs[Array[Byte]]("sk"))
          .toMap
        // delta partitions: the refreshed sketch must cover old + new
        // keys — Bloom sketches OR together, so fold the old sketch in
        // (and carry it alone if the delta files held no non-null keys:
        // the snapshot id still advanced)
        (fresh.keySet ++ deltaParts).toSeq.sorted.map { s =>
          val old = deltaInfo.get(s).map(_.oldSketches(rule.id))
          val sk = (fresh.get(s), old) match {
            case (Some(f), Some(o)) => graft.operators.BloomDedup.merge(o, f)
            case (Some(f), None) => f
            case (None, Some(o)) => o
            case (None, None) =>
              throw new IllegalStateException(s"no sketch material for $s")
          }
          (s, snapOf(s), rule.id, rule.key, sk)
        }
      }
      Checkpoint.writeSketches(spark, cfg.outDir, rows)
    }

    // Persist the merged per-source stats state + the current file
    // inventory for every validated partition — the material the NEXT
    // append-delta run starts from. Written before the checkpoint like
    // every other output (dynamic overwrite per partition; lineage =
    // the partition's new snapshot id).
    val stateChain = Future {
      val stateRows = fin.aggregates
        .filter(a => todoSet(a.source) && a.stateBytes.nonEmpty)
        .map(a => (a.source, snapOf(a.source), a.stateBytes))
      Checkpoint.writeStatsState(spark, cfg.outDir, stateRows)
      filesByPart.foreach { m =>
        val invRows = todo.flatMap(p =>
          m.getOrElse(p, Nil).map(f => (p, snapOf(p), f)))
        Checkpoint.writeInventory(spark, cfg.outDir, invRows)
      }
      // per-rule fingerprints of the FULL rule set under this run's hash —
      // written by every run (delta or not) so any FUTURE rule edit can
      // diff against what this lineage actually meant
      Checkpoint.writeRulesetMap(spark, cfg.outDir, rulesetHash, ruleFps)
    }

    import scala.concurrent.duration.Duration
    // Join ALL chains before anything can unwind: if one chain fails
    // while another is mid-write, bailing out immediately would abandon
    // the in-flight write after its stale partitions were already deleted
    // (and swallow its error). All outcomes are observed; the violations
    // chain's error wins (table integrity first).
    Seq(vioChain, verdictChain, sketchChain, stateChain)
      .map(f => scala.util.Try(Await.result(f, Duration.Inf)))
      .foreach(_.get)
    val verdictRows = Await.result(verdictChain, Duration.Inf)
    phase("write_violations+verdicts")

    val wallMs = (System.nanoTime() - t0) / 1000000
    // NOT_COMPLETED rules (e.g. drift with no baseline configured) record
    // their status per rule but do not block the partition verdict — they
    // would otherwise block resume forever on a permanent configuration.
    val perPartStatus = verdictRows
      .filter(v => todoSet(v.source))
      .groupBy(_.source).toSeq
      .map { case (src, vs) =>
        val verdict = Seq(Status.Fail, Status.PassWithWarnings)
          .find(st => vs.exists(_.status == st)).getOrElse(Status.Pass)
        CheckpointEntry(
          partition = src,
          // the partition's OWN snapshot id: resume and the transfer
          // lineage gate both compare per partition
          snapshot_id = snapOf(src),
          ruleset_hash = rulesetHash,
          verdict = verdict,
          metrics = s"""{"n_rules":${vs.size},"wall_ms":$wallMs}""",
          completed_at = completedAt)
      }

    Checkpoint.appendRun(
      spark.createDataset(perPartStatus), checkpointPath(cfg.outDir), runId)
    phase("checkpoint_write")

    scanVio.unpersist(blocking = false)
    xrunCaches.foreach(_.unpersist(blocking = false))
    RunReport(snapshotId, rulesetHash, todo,
      done.toSeq.filter(inScope).sorted,
      rowsValidated, vioCount, wallMs,
      deltaPartitions = deltaParts.toSeq.sorted,
      ruleDeltaPartitions = if (ruleDeltaActive) todo.sorted else Nil,
      rulesEvaluated = evalRules.ruleIds.sorted)

    } finally
      Checkpoint.releasePartitionLocks(spark, cfg.outDir, lockParts)
  }
}
