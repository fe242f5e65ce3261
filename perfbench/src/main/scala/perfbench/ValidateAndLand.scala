package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.checkpoint.Checkpoint
import graft.gen.SequenceGen
import graft.jobs.ValidationJob
import graft.jobs.ValidationJob.RunReport
import graft.model.{ManifestEntry, Status}
import graft.rules.{DriftRule, RuleEngine, RuleSet, Rules}
import graft.sources.{ManifestTable, TableIO}
import graft.streaming.StreamingValidation
import Workload.{noop, timed}

/** `validate_and_land`: the engine's validation jobs on one seeded,
  * manifested table. Set-up lands the table through the manifested
  * exactly-once commit (`ManifestTable.commitAppend`) and validates it. Every cycle restores that
  * validated state from a set-up copy (untimed) and times five steps:
  *
  *  1. split ingest of new files into two partitions, one micro-batch per
  *     file (`StreamingValidation.startSplitIngest`);
  *  2. append-delta revalidate;
  *  3. full rules-complete validate of the grown table with a fresh
  *     checkpoint — the validate_full measurement, and the full rescan the
  *     append-delta result must equal;
  *  4. rule-delta revalidate after one rule parameter changes;
  *  5. resume with nothing left to do.
  *
  * The table has the generator's 40% hot `cardiac` source, bad n_tok,
  * duplicate ids, an undeclared source and one drifted source. */
final class ValidateAndLand(spark: SparkSession, tracer: Tracer, work: String,
    seed: Long, rows: Long, landRows: Long, landFiles: Int)
    extends Workload(spark, tracer) {
  val name = "validate_and_land"
  private val dir = s"$work/validate_and_land"
  private val table = s"$dir/table"
  private val out = s"$dir/out"
  private val full = s"$dir/out_full"
  private val manifestPath = s"$dir/manifest"
  private val baseline = s"$dir/baseline"
  private val landing = s"$dir/landing"
  private val quarantine = s"$dir/quarantine"
  private val streamCkpt = s"$dir/ingest_ckpt"
  /** The two partitions new files land in. */
  private val landSources = Seq("mito", "renal")

  /** The rule-delta step changes the PSI action threshold: one parameter
    * of one rule, so exactly that rule is re-evaluated. */
  private val changedRule = Rules.RDriftNtokPsi
  private val editedRules = RuleSet(Rules.standard.rules.map {
    case d: DriftRule if d.id == changedRule => d.copy(alpha = 0.2)
    case r => r
  })

  private def cfg(outDir: String, rules: RuleSet = Rules.standard,
      appendDelta: Boolean = false, ruleDelta: Boolean = false) =
    ValidationJob.Config(table, manifestPath, outDir,
      baselinePath = Some(baseline), rules = rules,
      appendDelta = appendDelta, ruleDelta = ruleDelta)

  private val validateSeqPerS = mutable.ArrayBuffer.empty[Double]
  private val ingestRowsPerS = mutable.ArrayBuffer.empty[Double]
  private val batchS = mutable.ArrayBuffer.empty[Double]
  private val deltaS = mutable.ArrayBuffer.empty[Double]
  private val ruleDeltaS = mutable.ArrayBuffer.empty[Double]
  private val resumeS = mutable.ArrayBuffer.empty[Double]

  def prepare(): Unit = {
    ManifestTable.commitAppend(spark, table,
      SequenceGen.sequences(spark, rows, seed, Inputs.validateKnobs,
        numPartitions = 4).toDF(), key = s"base-$seed")
    Inputs.writeManifest(spark, manifestPath, rows, seed)
    Inputs.writeBaseline(spark, baseline, rows / 10, seed)
    val r = ValidationJob.run(spark, cfg(out))
    require(r.rowsValidated == rows,
      s"base validate scanned ${r.rowsValidated} of $rows rows")
    Files.restore(table, s"$dir/golden/table")
    Files.restore(out, s"$dir/golden/out")
    Inputs.writeLanding(spark, landing, landRows, seed, rows, landSources,
      landFiles)
  }

  private def manifest =
    spark.read.parquet(manifestPath).as(Encoders.product[ManifestEntry])

  /** One cycle; `record` adds its timings to the reported samples. None if
    * a step failed. */
  private def runCycle(record: Boolean): Option[ValidateAndLand.Cycle] = {
    Files.restore(s"$dir/golden/table", table)
    Files.restore(s"$dir/golden/out", out)
    Seq(streamCkpt, quarantine, full).foreach(Files.delete)

    val ingest = op("StreamingValidation.startSplitIngest") {
      timed(tracer.span("streaming.ingest") {
        val q = StreamingValidation.startSplitIngest(spark, landing, manifest,
          table, quarantine, streamCkpt, maxFilesPerTrigger = 1)
        q.awaitTermination()
        q.recentProgress.toSeq.filter(_.numInputRows > 0)
      })
    }
    val tableRows = spark.read.parquet(table).count()
    ingest.foreach { case (progress, s) =>
      expect(progress.size == landFiles,
        s"split ingest ran ${progress.size} micro-batches, want $landFiles")
      if (record) {
        ingestRowsPerS += progress.map(_.numInputRows).sum / s
        batchS ++= progress.map(p =>
          p.durationMs.get("triggerExecution").doubleValue / 1000.0)
      }
    }
    val delta = op("ValidationJob.run (append-delta)") {
      val (r, s) = timed(tracer.span("jobs.delta")(
        ValidationJob.run(spark, cfg(out, appendDelta = true))))
      expect(r.deltaPartitions == landSources.sorted,
        s"append-delta ran on ${r.deltaPartitions}, want $landSources")
      expect(r.rowsValidated == tableRows - rows,
        s"append-delta scanned ${r.rowsValidated} rows, " +
          s"${tableRows - rows} landed")
      if (record) deltaS += s
      (r, s)
    }
    val fullRun = op("ValidationJob.run (full)") {
      val (r, s) = timed(tracer.span("jobs.validate")(
        ValidationJob.run(spark, cfg(full))))
      expect(r.rowsValidated == tableRows,
        s"full validate scanned ${r.rowsValidated} of $tableRows rows")
      if (record) validateSeqPerS += tableRows / s
      (r, s)
    }
    if (ingest.nonEmpty && delta.nonEmpty && fullRun.nonEmpty) checking {
      checkQuarantine()
      checkFull()
      checkDelta()
    }
    val ruleDelta = op("ValidationJob.run (rule-delta)") {
      val (r, s) = timed(tracer.span("jobs.rule_delta")(
        ValidationJob.run(spark, cfg(out, editedRules, ruleDelta = true))))
      expect(r.rulesEvaluated == Seq(changedRule),
        s"rule-delta evaluated ${r.rulesEvaluated}, want $changedRule")
      expect(r.ruleDeltaPartitions == r.validatedPartitions &&
        r.validatedPartitions.nonEmpty,
        s"rule-delta partitions ${r.ruleDeltaPartitions}")
      if (record) ruleDeltaS += s
      (r, s)
    }
    val resume = op("ValidationJob.run (resume)") {
      val (r, s) = timed(tracer.span("jobs.resume")(
        ValidationJob.run(spark, cfg(out, editedRules))))
      expect(r.validatedPartitions.isEmpty,
        s"no-change resume re-validated ${r.validatedPartitions}")
      if (record) resumeS += s
      (r, s)
    }
    for (i <- ingest; d <- delta; f <- fullRun; r <- ruleDelta; n <- resume)
    yield {
      if (record) cycleSeconds += i._2 + d._2 + f._2 + r._2 + n._2
      ValidateAndLand.Cycle(d._1, r._1, tableRows)
    }
  }

  /** The base validate of [[prepare]] warms the validation paths. */
  def warmUp(): Unit = ()

  def cycle(): Unit = runCycle(record = true)

  /** A no-change resume; after a cycle every partition is complete. */
  def probe(): Unit = op("ValidationJob.run (probe resume)")(
    tracer.span("jobs.probe")(ValidationJob.run(spark, cfg(out, editedRules))))

  /** The ingest gate quarantined every bad-n_tok row, and every row that
    * arrived either landed or was quarantined. */
  private def checkQuarantine(): Unit = {
    val land = spark.read.parquet(landing)
    val landed = spark.read.parquet(table).count() - rows
    val q = spark.read.parquet(quarantine)
    val quarantined = q.select("doc_id").as(Encoders.STRING).collect().toSet
    val bad = land.filter(col("n_tok") =!= size(col("tokens")))
      .select("doc_id").as(Encoders.STRING).collect().toSet
    expect(bad.nonEmpty && bad.subsetOf(quarantined),
      s"${(bad -- quarantined).size} bad-n_tok rows escaped the ingest gate")
    expect(landed + q.count() == land.count(),
      "landed plus quarantined rows differ from the rows that arrived")
  }

  /** The full validate's per-rule violation counts against a plain-DataFrame
    * recount of the defects, and the drifted source's KS verdict. */
  private def checkFull(): Unit = {
    val df = spark.read.parquet(table)
    val badNtok = df.filter(col("n_tok") =!= size(col("tokens"))).count()
    val dupMembers = df.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), collect_set(col("source")).as("srcs"))
      .filter(col("n") > 1)
      .select(explode(col("srcs")))
      .count()
    val undeclaredOrShort = df.groupBy("source").count()
      .join(spark.read.parquet(manifestPath), Seq("source"), "full_outer")
      .filter(col("expected_docs").isNull ||
        coalesce(col("count"), lit(0L)) =!= col("expected_docs"))
      .count()
    val got = spark.read.parquet(ValidationJob.violationsPath(full))
      .groupBy("rule_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def same(rule: String, want: Long): Unit = {
      val n = got.getOrElse(rule, 0L)
      expect(n == want, s"$rule: engine booked $n violations, recount $want")
    }
    same(Rules.RConsistentNtok, badNtok)
    same(Rules.RUniqueDocId, dupMembers)
    same(Rules.RRefIntegrity, undeclaredOrShort)
    expect(badNtok > 0 && dupMembers > 0 && undeclaredOrShort > 0,
      "the table lacks one of its injected defects")
    val ks = verdicts(full)
      .filter(v => v._1 == Inputs.driftedSource && v._2 == Rules.RDriftNtokKs)
    expect(ks.map(_._3) == Set(Status.Fail),
      s"drifted source ${Inputs.driftedSource} KS verdict $ks, want FAIL")
  }

  private def verdicts(o: String): Set[(String, String, String)] =
    spark.read.parquet(ValidationJob.verdictsPath(o))
      .select("source", "rule_id", "status").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

  /** After the append-delta, the stats state and verdicts equal those of
    * the full rescan — the equality AppendDeltaSpec asserts. The two runs
    * book an old-to-new duplicate under different uniqueness rules, so for
    * those only the per-source FAIL must agree. */
  private def checkDelta(): Unit = {
    val ds = Checkpoint.readStatsState(spark, out)
    val fs = Checkpoint.readStatsState(spark, full)
    expect(ds.keySet == fs.keySet && ds.forall { case (p, (_, b)) =>
        b.sameElements(fs(p)._2) },
      "append-delta stats state differs from a full rescan")
    val uniq = Set(Rules.RUniqueDocId, Rules.RCrossRunUnique)
    val (du, dn) = verdicts(out).partition(v => uniq(v._2))
    val (fu, fn) = verdicts(full).partition(v => uniq(v._2))
    expect(dn == fn, "append-delta verdicts differ from a full rescan")
    def failing(vs: Set[(String, String, String)]) =
      vs.filter(_._3 == Status.Fail).map(_._1)
    expect(failing(du) == failing(fu),
      "append-delta uniqueness verdicts differ from a full rescan")
  }

  def rowsPerSecond: Double = Stats.median(validateSeqPerS.toSeq)

  def report: Seq[(String, Double, String)] = Seq(
    ("validate_seq_per_s", rowsPerSecond, "seq/s"),
    ("ingest_rows_per_s", Stats.median(ingestRowsPerS.toSeq), "rows/s"),
    ("ingest_batch_p50_s", Stats.median(batchS.toSeq), "s"),
    ("delta_validate_s", Stats.median(deltaS.toSeq), "s"),
    ("rule_delta_s", Stats.median(ruleDeltaS.toSeq), "s"),
    ("resume_noop_s", Stats.median(resumeS.toSeq), "s"))

  def traced(): Seq[(String, Double, String)] = {
    val before = tracer.batches.size
    val c = runCycle(record = false).getOrElse(
      throw new IllegalStateException("traced validate_and_land cycle failed"))
    val batches = tracer.batches.drop(before)
    val steps = Seq("validate", "delta", "rule_delta", "resume").flatMap(s =>
      counterMetrics(s"jobs.$s", tracer.counters(s"jobs.$s")))
    // checkpoint and manifest reads a resume starts with
    val (_, ckptS) = timed(tracer.span("checkpoint.read") {
      val ck = ValidationJob.checkpointPath(out)
      Checkpoint.read(spark, ck).collect()
      Checkpoint.completedPartitions(spark, ck, c.ruleDelta.snapshotId,
        c.ruleDelta.rulesetHash)
      Checkpoint.readStatsState(spark, out)
      Checkpoint.readSketches(spark, out, Rules.RCrossRunUnique)
    })
    val (_, mfS) = timed(tracer.span("sources.manifest_read")(
      ManifestTable.readFull(spark, table).map(_.collect())))
    // direct calls into the rule, drift and source layers on the table
    val seqs = TableIO.readTable(spark, table)
    val man = manifest
    val rules = Rules.standard
    val (_, scan) = timed(tracer.span("sources.scan")(noop(seqs)))
    val (_, row) = timed(tracer.span("rules.row")(noop(
      RuleEngine.rowViolations(RuleEngine.withManifest(seqs, man),
        rules.rowRules).toDF())))
    val (_, uniq) = timed(tracer.span("rules.unique")(noop(
      RuleEngine.uniqueViolations(seqs, rules.uniqueRules.head).toDF())))
    val uniqBytes = tracer.counters("rules.unique").shuffleWriteBytes
    val (_, ref) = timed(tracer.span("rules.ref")(noop(
      RuleEngine.refViolations(seqs, man, rules.refRules.head).toDF())))
    val (_, agg) = timed(tracer.span("drift.aggregate")(
      RuleEngine.aggregateBySource(seqs, SequenceGen.vocabSize)))
    steps ++ Seq(
      ("jobs.delta.scan_ratio",
        c.delta.rowsValidated.toDouble / c.tableRows, "ratio"),
      ("jobs.rule_delta.rules_evaluated",
        c.ruleDelta.rulesEvaluated.size.toDouble, "count"),
      ("checkpoint.read_s", ckptS, "s"),
      ("sources.manifest_read_s", mfS, "s"),
      ("sources.scan_s", scan, "s"),
      ("rules.row_s", row, "s"),
      ("rules.unique_s", uniq, "s"),
      ("rules.unique_shuffle_bytes", uniqBytes.toDouble, "bytes"),
      ("rules.ref_s", ref, "s"),
      ("drift.aggregate_s", agg, "s"),
      ("streaming.batches", batches.size.toDouble, "count"),
      ("streaming.add_batch_s", Stats.median(batches.map(_._2)), "s"),
      ("streaming.batch_overhead_s",
        Stats.median(batches.map(b => b._1 - b._2)), "s"))
  }
}

object ValidateAndLand {
  final case class Cycle(delta: RunReport, ruleDelta: RunReport,
      tableRows: Long)
}
