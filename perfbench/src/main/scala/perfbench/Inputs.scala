package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.drift.Drift
import graft.gen.SequenceGen
import graft.gen.SequenceGen.Knobs

/** Seeded inputs. Every table is a pure function of (seed, size), so the
  * same seed gives the same bytes; the engine only ever sees the files. */
object Inputs {

  /** The source shifted by `validateKnobs`, and the drift it gets. */
  val driftedSource = "mito"

  /** Defects of the validate_and_land table: bad n_tok, duplicate ids,
    * rows of an undeclared source, and one drifted source. */
  val validateKnobs: Knobs = Knobs(
    badNtokRate = 0.03, dupDocIdRate = 0.01, unknownSourceRate = 0.01,
    driftShiftSources = Seq(driftedSource), driftShift = 300)

  /** Manifest dimension with the clean per-source counts of `rows` rows. */
  def writeManifest(spark: SparkSession, dir: String, rows: Long,
      seed: Long): Unit =
    SequenceGen.manifest(spark, rows, seed).coalesce(1)
      .write.mode("overwrite").parquet(dir)

  /** Drift baseline histograms from an independent clean sample. */
  def writeBaseline(spark: SparkSession, dir: String, rows: Long,
      seed: Long): Unit =
    Drift.histograms(
        SequenceGen.sequences(spark, rows, seed ^ 0x5eedL, numPartitions = 4)
          .toDF(),
        SequenceGen.vocabSize, s"baseline-$seed")
      .coalesce(1).write.mode("overwrite").parquet(dir)

  /** Rows that land on an existing table: fresh ids above every base id,
    * spread over `sources`, with bad n_tok rows (the ingest gate quarantines
    * them) and re-used ids of base rows (cross-run duplicates). Written as
    * `files` unpartitioned files, one micro-batch each. */
  def writeLanding(spark: SparkSession, dir: String, rows: Long, seed: Long,
      baseRows: Long, sources: Seq[String], files: Int): Unit = {
    val g = SequenceGen.sequences(spark, rows, seed ^ 0x1a4dL,
        Knobs(badNtokRate = 0.02), numPartitions = files).toDF()
    val id = substring(col("doc_id"), 2, 12).cast("long")
    val u = pmod(xxhash64(lit(seed), lit("landing-dup"), id), lit(1000L))
    val pick = pmod(xxhash64(lit(seed), lit("landing-src"), id),
      lit(sources.size.toLong)).cast("int") + lit(1)
    def docId(n: org.apache.spark.sql.Column) =
      concat(lit("D"), lpad(n.cast("string"), 12, "0"))
    g.withColumn("doc_id",
        when(u < 5, docId(pmod(id * 7919L, lit(baseRows))))
          .otherwise(docId(id + lit(baseRows))))
      .withColumn("source", element_at(array(sources.map(lit): _*), pick))
      .write.mode("overwrite").parquet(dir)
  }

  /** Word list and shape of the corpus tables (documents, embeddings) the
    * operator queries read, fitted to the sf0.1 test data (the README lists
    * both, measured with `corpus_shape.py`): words drawn uniformly from the
    * same 30 words, 10-99 words an original, 20 round-robin sources,
    * languages in the sf0.1 shares. Then 5% of the documents, one after
    * another, are overwritten by another document's text plus " dup", so a
    * copy may precede its original, copy a copy, or lose its original to a
    * later overwrite, as in sf0.1. Embeddings are random unit vectors with
    * labels drawn independently of them, as in sf0.1. */
  private val words = Array("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  private val langs = Seq.fill(8)("en") ++
    Seq("de", "es", "fr", "zh").flatMap(Seq.fill(3)(_))

  def writeCorpus(spark: SparkSession, dir: String, docs: Int, vecs: Int,
      dims: Int, seed: Long): Unit = {
    import spark.implicits._
    val r = new java.util.Random(seed)
    val texts = Array.fill(docs)(Array.fill(10 + r.nextInt(90))(
      words(r.nextInt(words.length))).mkString(" "))
    val lang = Array.fill(docs)(langs(r.nextInt(langs.size)))
    // distinct overwritten positions by a partial Fisher-Yates shuffle
    val pos = Array.range(0, docs)
    (0 until docs / 20).foreach { k =>
      val p = k + r.nextInt(docs - k)
      val i = pos(p)
      pos(p) = pos(k)
      pos(k) = i
      val j = (i + 1 + r.nextInt(docs - 1)) % docs
      texts(i) = texts(j) + " dup"
    }
    texts.indices.map(i => (i.toLong, texts(i), lang(i), s"src${i % 20}",
        texts(i).length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val vecRows = (0 until vecs).map { i =>
      val v = Array.fill(dims)(r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat), r.nextInt(10))
    }
    vecRows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }
}

object Files {
  import java.nio.file.{Files => JFiles, Path, Paths, StandardCopyOption}
  import scala.jdk.CollectionConverters._

  def delete(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))

  /** Replace `to` by a copy of `from`. */
  def restore(from: String, to: String): Unit = {
    delete(to)
    val src: Path = Paths.get(from)
    val s = JFiles.walk(src)
    try s.iterator.asScala.foreach { p =>
      val q = Paths.get(to).resolve(src.relativize(p))
      if (JFiles.isDirectory(p)) JFiles.createDirectories(q)
      else JFiles.copy(p, q, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }
}
