package perfbench

import org.apache.spark.sql.SparkSession
import Workload.timed

/** The benchmark's JVM side: sets up one workload, runs its cycles in a
  * closed loop for the requested seconds, and writes the measurements as
  * one JSON object to `--result`; a workload whose every cycle failed
  * writes no metrics. `run.py` builds this, launches it, runs
  * the DuckDB oracle comparison and prints the final line.
  *
  * Sizes are fixed here, not options: every run of a workload does the
  * same amount of work, and only `--seed` changes the data. */
object Main {

  /** validate_and_land: rows of the seeded table, rows landed per cycle and
    * the landing files (one micro-batch each). */
  val tableRows = 12000L
  val landRows = 1500L
  val landFiles = 3
  /** operator_queries: documents and embeddings, as many as sf0.1 has. */
  val docs = 5000
  val vecs = 2000

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, cpus: Int, result: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("work"), m("cpus").toInt, m("result"))
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The workloads by name. */
  val workloads: Seq[(String, (SparkSession, Tracer, Args) => Workload)] = Seq(
    "validate_and_land" -> ((spark, t, a) => new ValidateAndLand(spark, t,
      a.work, a.seed, tableRows, landRows, landFiles)),
    "operator_queries" -> ((spark, t, a) => new OperatorQueries(spark, t,
      a.work, a.seed, docs, vecs)))

  /** Passes of the tracing-cost probe, each once untraced and once traced. */
  val overheadPairs = 3

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = parse(argv)
    val make = workloads.toMap.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload ${a.workload}"))
    HeapWatch.start()
    val spark = session(a)
    val tracer = new Tracer(f"${a.workload}-${a.seed}-${ProcessHandle.current.pid}")
    val own = make(spark, tracer, a)
    // the traced run measures every layer, so it sets up and warms up every
    // workload
    val all = if (a.trace) workloads.map { case (w, mk) =>
      if (w == a.workload) own else mk(spark, tracer, a) } else Seq(own)
    all.foreach { w =>
      val (_, p) = timed(w.prepare())
      val (_, warm) = timed(w.warmUp())
      System.err.println(f"[perfbench] ${w.name}: prepare $p%.1f s, warm-up $warm%.1f s")
    }
    val setupS = (System.nanoTime() - t0) / 1e9

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) {
        HeapWatch.reset()
        // at least one cycle, and more while --seconds has not passed
        val start = System.nanoTime()
        do own.cycle()
        while ((System.nanoTime() - start) / 1e9 < a.seconds && own.failed == 0)
        if (own.cycleSeconds.isEmpty) Nil
        else Seq(
          ("setup_s", setupS, "s"),
          ("cycle_s", Stats.median(own.cycleSeconds.toSeq), "s"),
          ("rows_per_s", own.rowsPerSecond, "rows/s"))
      } else {
        tracer.install(spark)
        val since = System.nanoTime()
        val layers = all.flatMap { w =>
          try w.traced()
          catch {
            case e: Throwable =>
              w.fail(s"traced ${w.name} threw ${e.getClass.getSimpleName}: " +
                e.getMessage)
              Nil
          }
        }
        tracer.uninstall()
        val until = System.nanoTime()
        val self = Seq("sources", "rules", "drift", "checkpoint", "jobs",
          "streaming", "functions", "operators", "queries").map { l =>
          (s"$l.self_s", tracer.all.filter(s => s.startNs >= since &&
              s.endNs <= until && s.name.startsWith(l + "."))
            .map(tracer.selfSeconds).sum, "s")
        }
        // tracing cost: every workload's probe, untraced and traced in
        // turn after one untimed pass; the order flips from pair to pair so
        // that a drift in machine speed cancels
        def pass(): Double = timed(all.foreach(_.probe()))._2
        def tracedPass(): Double = {
          tracer.install(spark)
          try pass() finally tracer.uninstall()
        }
        pass()
        val ratios = (0 until overheadPairs).map { i =>
          if (i % 2 == 0) { val u = pass(); tracedPass() / u }
          else { val t = tracedPass(); t / pass() }
        }
        System.err.println("[perfbench] traced over untraced probe time: " +
          ratios.map(r => f"$r%.3f").mkString(" "))
        tracer.dump(s"${a.result}.spans.jsonl")
        if (layers.isEmpty) Nil
        else layers ++ self :+
          ("trace.overhead_frac", Stats.median(ratios) - 1, "ratio")
      }

    // the traced run has no untraced samples of the workload's own metrics
    val report = (if (a.trace || own.cycleSeconds.isEmpty) Nil
      else own.report) ++ Seq(
      ("setup_s", setupS, "s"), ("peak_heap_mb", HeapWatch.peakMb, "MiB"))
    def obj(ms: Seq[(String, Double, String)]) = ms.map { case (k, v, u) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    val oracle = all.collectFirst { case o: OperatorQueries => o } match {
      case Some(o) =>
        s"""{"tables":${Json.str(o.tablesDir)},"results":${Json.str(o.resultsDir)}}"""
      case _ => "null"
    }
    val json =
      s"""{"workload":${Json.str(a.workload)},""" +
        s""""attempted":${all.map(_.attempted).sum},""" +
        s""""failed":${all.map(_.failed).sum},""" +
        s""""failures":${all.flatMap(_.failures).map(Json.str).mkString("[", ",", "]")},""" +
        s""""metrics":${obj(metrics)},"report":${obj(report)},"oracle":$oracle}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(a.result),
      json.getBytes("UTF-8"))
    spark.stop()
  }
}
