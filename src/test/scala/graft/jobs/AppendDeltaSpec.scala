package graft.jobs

import graft.SparkSpec
import graft.gen.SequenceGen
import graft.gen.SequenceGen.Knobs
import graft.model._
import graft.drift.Drift
import graft.rules.RuleEngine
import org.apache.spark.sql.functions._

/** Append-delta validation: a partition that only GREW re-validates by
  * scanning its new files, with stats / drift / RI folding the persisted
  * mergeable state in — field-exactly what a full rescan computes. */
class AppendDeltaSpec extends SparkSpec {
  import spark.implicits._

  private val N = 1500L

  private def writeInput(dir: String, knobs: Knobs = Knobs.clean): Unit = {
    SequenceGen.sequences(spark, N, knobs = knobs)
      .write.mode("overwrite").partitionBy("source").parquet(s"$dir/input")
    SequenceGen.manifest(spark, N)
      .write.mode("overwrite").parquet(s"$dir/manifest")
  }

  test("merged state bytes reproduce a full-scan aggregate field-exactly " +
      "(incl. HLL estimate and exact percentiles)") {
    val seqs = SequenceGen.sequences(spark, 800,
      knobs = Knobs(badNtokRate = 0.05)).toDF()
    val a = seqs.filter(xxhash64(col("doc_id")) % 2 === 0)
    val b = seqs.filter(xxhash64(col("doc_id")) % 2 =!= 0)
    val full = RuleEngine.aggregateBySource(seqs, SequenceGen.vocabSize)
    val merged = RuleEngine.aggregatesFromStateBytes(
      RuleEngine.aggregateBySource(a, SequenceGen.vocabSize).map(_.stateBytes) ++
        RuleEngine.aggregateBySource(b, SequenceGen.vocabSize).map(_.stateBytes))
    assert(full.map(_.source) === merged.map(_.source))
    full.zip(merged).foreach { case (f, m) =>
      assert(f.nDocs == m.nDocs && f.minNtok == m.minNtok &&
        f.maxNtok == m.maxNtok && f.avgNtok == m.avgNtok &&
        f.totalTokens == m.totalTokens &&
        f.nullFracDocId == m.nullFracDocId &&
        f.approxDistinctDocId == m.approxDistinctDocId &&
        f.minTokenId == m.minTokenId && f.maxTokenId == m.maxTokenId &&
        f.p50Ntok == m.p50Ntok && f.p95Ntok == m.p95Ntok &&
        f.ntokHist.sameElements(m.ntokHist) &&
        f.tokenHist.sameElements(m.tokenHist) &&
        f.stateBytes.sameElements(m.stateBytes),
        s"merged aggregate differs for ${f.source}")
    }
  }

  test("append-delta run scans only new files and matches a full rescan") {
    val dir = tmpDir("adelta")
    // baseline so the drift rules RUN (their merged histograms are part
    // of the equivalence claim)
    Drift.histograms(
        SequenceGen.sequences(spark, N).toDF(), SequenceGen.vocabSize, "base")
      .write.mode("overwrite").parquet(s"$dir/baseline")
    writeInput(dir, Knobs(badNtokRate = 0.03))
    def cfg(out: String, delta: Boolean) = ValidationJob.Config(
      s"$dir/input", s"$dir/manifest", s"$dir/out_$out",
      baselinePath = Some(s"$dir/baseline"), appendDelta = delta)

    val r1 = ValidationJob.run(spark, cfg("d", delta = true))
    assert(r1.deltaPartitions.isEmpty) // first sight: nothing to delta
    val hist = spark.read.parquet(s"$dir/input").as[Sequence]
      .filter($"source" === "cardiac").collect()
    val oldDup = hist.head

    // grow ONE partition: a bad-ntok row, an old↔new duplicate, a
    // new↔new duplicate pair, and a clean row
    val appended = Seq(
      Sequence("D999999999990", Array(1, 2, 3), 99, "cardiac"), // bad n_tok
      Sequence(oldDup.doc_id, Array(1, 2), 2, "cardiac"), // dup of history
      Sequence("D999999999991", Array(5), 1, "cardiac"), // new-new dup pair
      Sequence("D999999999991", Array(6), 1, "cardiac"),
      Sequence("D999999999992", Array(7, 8), 2, "cardiac"))
    appended.toDS().write.mode("append").partitionBy("source")
      .parquet(s"$dir/input")

    val r2 = ValidationJob.run(spark, cfg("d", delta = true))
    assert(r2.deltaPartitions === Seq("cardiac"), r2.toString)
    assert(r2.validatedPartitions === Seq("cardiac"))
    // ONLY the appended rows were scanned
    assert(r2.rowsValidated === appended.size.toLong, r2.toString)

    // control: full rescan of the identical input in a fresh outDir
    ValidationJob.run(spark, cfg("full", delta = false))

    val dv = spark.read.parquet(
      ValidationJob.violationsPath(s"$dir/out_d"))
    val fv = spark.read.parquet(
      ValidationJob.violationsPath(s"$dir/out_full"))
    def docs(df: org.apache.spark.sql.DataFrame, rule: String) =
      df.filter($"rule_id" === rule).select("doc_id").as[String]
        .collect().toSet

    // row rules agree exactly (old violations preserved + new ones found)
    assert(docs(dv, "R_CONSISTENT_NTOK") === docs(fv, "R_CONSISTENT_NTOK"))
    assert(docs(dv, "R_CONSISTENT_NTOK").contains("D999999999990"))
    // new↔new duplicates agree under R_UNIQUE_DOC_ID
    assert(docs(dv, "R_UNIQUE_DOC_ID").contains("D999999999991"))
    assert(docs(fv, "R_UNIQUE_DOC_ID").contains("D999999999991"))
    // old↔new duplicate: the full rescan books BOTH copies under
    // R_UNIQUE_DOC_ID; the delta run books the INCOMING copy under
    // R_CROSS_RUN_UNIQUE (the reference's semantics: a new upload is
    // checked against the accepted record, which is not retro-flagged)
    assert(docs(fv, "R_UNIQUE_DOC_ID").contains(oldDup.doc_id))
    assert(docs(dv, "R_CROSS_RUN_UNIQUE") === Set(oldDup.doc_id))

    // verdict parity: every per-source FAIL/PASS matches, except the two
    // uniqueness labels whose split is documented above
    def verdicts(out: String) = spark.read
      .parquet(ValidationJob.verdictsPath(s"$dir/out_$out"))
      .filter(!$"rule_id".isin("R_UNIQUE_DOC_ID", "R_CROSS_RUN_UNIQUE"))
      .select("source", "rule_id", "status").as[(String, String, String)]
      .collect().toSet
    assert(verdicts("d") === verdicts("full"))
    def uniqVerdict(out: String) = spark.read
      .parquet(ValidationJob.verdictsPath(s"$dir/out_$out"))
      .filter($"source" === "cardiac" &&
        $"rule_id".isin("R_UNIQUE_DOC_ID", "R_CROSS_RUN_UNIQUE") &&
        $"status" === Status.Fail)
      .count()
    assert(uniqVerdict("d") > 0 && uniqVerdict("full") > 0)

    // the STRONGEST check: the delta run's persisted per-partition stats
    // state is BYTE-IDENTICAL to the full rescan's — every downstream
    // stats/drift/RI evaluation and every future delta merge see exactly
    // the same thing
    val ds = graft.checkpoint.Checkpoint.readStatsState(spark, s"$dir/out_d")
    val fs = graft.checkpoint.Checkpoint.readStatsState(spark, s"$dir/out_full")
    assert(ds.keySet === fs.keySet)
    ds.foreach { case (part, (_, bytes)) =>
      assert(bytes.sameElements(fs(part)._2), s"stats state differs: $part")
    }

    // resume: nothing left to validate
    val r3 = ValidationJob.run(spark, cfg("d", delta = true))
    assert(r3.validatedPartitions.isEmpty)
  }

  test("two consecutive appends chain: each delta folds the PREVIOUS " +
      "merged state and still matches a from-scratch full rescan") {
    val dir = tmpDir("adelta2")
    writeInput(dir)
    def cfg(out: String, delta: Boolean) = ValidationJob.Config(
      s"$dir/input", s"$dir/manifest", s"$dir/out_$out", appendDelta = delta)
    ValidationJob.run(spark, cfg("d", delta = true))

    Seq(Sequence("D999999999980", Array(1, 2), 2, "mito"))
      .toDS().write.mode("append").partitionBy("source").parquet(s"$dir/input")
    val r2 = ValidationJob.run(spark, cfg("d", delta = true))
    assert(r2.deltaPartitions === Seq("mito") && r2.rowsValidated === 1L)

    Seq(
      Sequence("D999999999981", Array(3, 4, 5), 3, "mito"),
      Sequence("D999999999980", Array(9), 1, "mito")) // dup of append #1
      .toDS().write.mode("append").partitionBy("source").parquet(s"$dir/input")
    val r3 = ValidationJob.run(spark, cfg("d", delta = true))
    assert(r3.deltaPartitions === Seq("mito") && r3.rowsValidated === 2L)

    // the second delta's duplicate-of-a-previous-delta-row is caught
    val dv = spark.read.parquet(ValidationJob.violationsPath(s"$dir/out_d"))
    assert(dv.filter($"rule_id" === "R_CROSS_RUN_UNIQUE")
      .select("doc_id").as[String].collect().toSet === Set("D999999999980"))

    // from-scratch full rescan of the final table: stats state identical
    ValidationJob.run(spark, cfg("full", delta = false))
    val ds = graft.checkpoint.Checkpoint.readStatsState(spark, s"$dir/out_d")
    val fs = graft.checkpoint.Checkpoint.readStatsState(spark, s"$dir/out_full")
    assert(ds.keySet === fs.keySet)
    ds.foreach { case (part, (_, bytes)) =>
      assert(bytes.sameElements(fs(part)._2), s"stats state differs: $part")
    }
  }

  test("a RETYPED delta file aborts at the schema gate with the column " +
      "diff, not mid-scan as an executor read error") {
    val dir = tmpDir("adelta_schema")
    writeInput(dir)
    val cfg = ValidationJob.Config(
      s"$dir/input", s"$dir/manifest", s"$dir/out", appendDelta = true)
    ValidationJob.run(spark, cfg)

    // a foreign writer appends a file whose tokens are int64, not int32
    Seq(("D999999999970", Array(1L, 2L), 2)).toDF("doc_id", "tokens", "n_tok")
      .write.mode("append").parquet(s"$dir/input/source=mito")
    val e = intercept[IllegalStateException](ValidationJob.run(spark, cfg))
    assert(e.getMessage.contains("schema drift") &&
      e.getMessage.contains("tokens"), e.getMessage)
  }

  test("a REWRITTEN partition is not delta-eligible and falls back to a " +
      "full rescan") {
    val dir = tmpDir("adelta_rw")
    writeInput(dir)
    val cfg = ValidationJob.Config(
      s"$dir/input", s"$dir/manifest", s"$dir/out", appendDelta = true)
    ValidationJob.run(spark, cfg)

    // rewrite cardiac with a different file layout (not a superset)
    spark.read.parquet(s"$dir/input").as[Sequence]
      .filter($"source" === "cardiac")
      .write.mode("overwrite").parquet(s"$dir/tmp")
    graft.sources.TableIO.deletePartitions(
      spark, s"$dir/input", "source", Seq("cardiac"))
    spark.read.parquet(s"$dir/tmp").as[Sequence].repartition(3)
      .write.mode("append").partitionBy("source").parquet(s"$dir/input")

    val r2 = ValidationJob.run(spark, cfg)
    assert(r2.validatedPartitions === Seq("cardiac"))
    assert(r2.deltaPartitions.isEmpty, r2.toString)
    assert(r2.rowsValidated > 0)
  }

  test("a partition whose persisted sketch or stats state carries a stale " +
      "snapshot id falls back to a full rescan") {
    import graft.checkpoint.Checkpoint
    val restamp: Seq[(String, String => Unit)] = Seq(
      "state" -> { out =>
        val (_, bytes) = Checkpoint.readStatsState(spark, out)("cardiac")
        Checkpoint.writeStatsState(spark, out, Seq(("cardiac", "stale", bytes)))
      },
      "sketch" -> { out =>
        val rule = graft.rules.Rules.standard.crossRunRules.head
        val (_, sk) = Checkpoint.readSketches(spark, out, rule.id)("cardiac")
        Checkpoint.writeSketches(spark, out,
          Seq(("cardiac", "stale", rule.id, rule.key, sk)))
      })
    restamp.foreach { case (what, stale) =>
      val dir = tmpDir(s"adelta_stale_$what")
      writeInput(dir)
      val cfg = ValidationJob.Config(
        s"$dir/input", s"$dir/manifest", s"$dir/out", appendDelta = true)
      ValidationJob.run(spark, cfg)
      stale(s"$dir/out")

      Seq(Sequence("D999999999960", Array(1, 2), 2, "cardiac"))
        .toDS().write.mode("append").partitionBy("source")
        .parquet(s"$dir/input")
      val r2 = ValidationJob.run(spark, cfg)
      assert(r2.validatedPartitions === Seq("cardiac"), s"$what: $r2")
      assert(r2.deltaPartitions.isEmpty, s"$what: $r2")
      // the whole partition was rescanned, old files included
      val cardiacRows = spark.read.parquet(s"$dir/input")
        .filter($"source" === "cardiac").count()
      assert(r2.rowsValidated === cardiacRows, s"$what: $r2")
    }
  }
}
