package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.functions._
import Workload.{noop, timed}

/** `operator_queries`: one pass over the dedup (with clustering),
  * similarity, quality-LR, BPE and chunk-rewrite query families of
  * `SparkEntry.queries` per cycle, each query computed in full into a noop
  * sink. The cold first pass writes every result for the DuckDB oracle
  * comparison, which the launcher runs after the JVM exits. */
final class OperatorQueries(spark: SparkSession, tracer: Tracer, work: String,
    seed: Long, docs: Int, vecs: Int) extends Workload(spark, tracer) {
  val name = "operator_queries"
  private val dir = s"$work/operator_queries"
  val tablesDir = s"$dir/tables"
  val resultsDir = s"$dir/results"

  val families: Seq[(String, Seq[String])] = Seq(
    "dedup" -> Seq("dedup_clusters"),
    "similarity" -> Seq("ann_topk_cosine"),
    "quality" -> Seq("quality_auc"),
    "bpe" -> Seq("bpe_fertility"),
    "chunk" -> Seq("dedup_chunk_rewrite", "dedup_cdc_rewrite"))
  private val queryNames = families.flatMap(_._2)
  /** The one query that reads the embeddings; the others read documents. */
  private val embeddingQuery = "ann_topk_cosine"

  private val times = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private var docRows = 0L
  private var vecRows = 0L

  private def table(t: String) = spark.read.parquet(s"$tablesDir/$t.parquet")

  def prepare(): Unit = {
    Inputs.writeCorpus(spark, tablesDir, docs, vecs, 64, seed)
    docRows = table("documents").count()
    vecRows = table("embeddings").count()
  }

  private def run(q: String)(sink: DataFrame => Unit): Option[Double] =
    op(q)(timed(sink(SparkEntry.queries(q)(spark, tablesDir)))._2)

  def warmUp(): Unit = {
    queryNames.foreach(q => run(q)(_.coalesce(1).write.mode("overwrite")
      .parquet(s"$resultsDir/$q")))
    // the oracle SQL of the compared queries, for the launcher's DuckDB pass
    val oracle = queryNames.map(q => Json.str(q) + ":" +
      Json.str(SparkEntry.oracleSql(q))).mkString("{", ",", "}")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$resultsDir/oracle_sql.json"),
      oracle.getBytes("UTF-8"))
  }

  /** One pass; the pass's wall time is the sum of its query times. */
  def cycle(): Unit = {
    val ts = families.flatMap { case (fam, qs) =>
      qs.flatMap { q =>
        tracer.span(s"queries.$fam.$q")(run(q)(noop)).map { s =>
          times.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += s
          s
        }
      }
    }
    if (ts.size == queryNames.size) {
      cycleSeconds += ts.sum
      System.err.println("[perfbench] pass: " + queryNames.zip(ts)
        .map { case (q, t) => f"$q $t%.2f" }.mkString(", "))
    }
  }

  /** Sum over the queries of each query's median time. */
  def totalSeconds: Double =
    queryNames.map(q => Stats.median(times(q).toSeq)).sum

  /** Input rows per second of the pass: the rows of each query's input
    * table, summed over the queries, over [[totalSeconds]]. */
  def rowsPerSecond: Double = queryNames.map(q =>
    if (q == embeddingQuery) vecRows else docRows).sum.toDouble / totalSeconds

  def report: Seq[(String, Double, String)] =
    Seq(("queries_total_s", totalSeconds, "s"))

  /** The text kernels, called through their Column wrappers. */
  private def kernels(t: Column): Seq[(String, Column)] = Seq(
    "poly_hash" -> PolyHash(t),
    "shingle_hashes" -> ShingleHashes(t, 3),
    "minhash_sig" -> MinhashSig(t, 16, 5),
    "simhash_bands" -> Simhash64Bands(t, 4, 16),
    "chunk_hashes" -> ChunkHashes(t, 10),
    "chunk_strings" -> ChunkStrings(t, 10),
    "window_keys" -> WindowKeys(t, 10),
    "winnow_fps" -> WinnowFps(t, 4, 5),
    "ngram_strings" -> NgramStrings(t, 2),
    "rep_stats" -> RepStats(t))

  /** Copies of the documents the kernel probes read, so that kernel work
    * and not job start-up dominates each probe. */
  private val kernelCopies = 4

  /** Each text kernel over `copies` copies of the documents into a noop
    * sink: (kernel, seconds). */
  def kernelProbes(copies: Int): Seq[(String, Double)] = {
    val text = table("documents")
      .select(col("text"), explode(sequence(lit(1), lit(copies))))
      .select("text")
    kernels(col("text")).map { case (k, c) =>
      k -> timed(tracer.span(s"functions.$k")(noop(text.select(c))))._2
    }
  }

  /** The kernel probes over one copy: ten short jobs. */
  def probe(): Unit = op("kernel probes")(kernelProbes(1))

  def traced(): Seq[(String, Double, String)] = {
    cycle()
    val fam = families.flatMap { case (f, qs) =>
      val spans = tracer.all.filter(_.name.startsWith(s"queries.$f."))
        .takeRight(qs.size)
      val cs = spans.map(s => tracer.counters(s.name))
      Seq(
        (s"queries.${f}_s", spans.map(_.seconds).sum, "s"),
        (s"queries.$f.jobs", cs.map(_.jobs).sum.toDouble, "count"),
        (s"queries.$f.shuffle_write_bytes",
          cs.map(_.shuffleWriteBytes).sum.toDouble, "bytes"),
        (s"queries.$f.spill_bytes", cs.map(_.spillBytes).sum.toDouble, "bytes"),
        (s"queries.$f.skew", cs.map(_.skew).max, "ratio"))
    }
    val kern = kernelProbes(kernelCopies).map { case (k, s) =>
      (s"functions.$k.rows_per_s", docRows.toDouble * kernelCopies / s, "rows/s")
    }
    tracer.span("operators.dup_clusters")(noop(
      graft.operators.Dedup.dupClusters(graft.operators.Dedup.minhashLshPairs(
        table("documents"), "doc_id", "text",
        k = 16, bands = 4, minEstSim = 0.5, maxBucketSize = 20),
        inputDistinct = true)))
    fam ++ kern :+ ("operators.dup_clusters.jobs",
      tracer.counters("operators.dup_clusters").jobs.toDouble, "count")
  }
}

object Json {
  /** A JSON string literal; escapes quotes, backslashes and control chars. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A JSON number with every digit, or null when not finite. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
}
