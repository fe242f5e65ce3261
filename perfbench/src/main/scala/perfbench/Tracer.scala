package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into a layer. `parent` is the enclosing span's id (0 for
  * a root); every span of one process shares `runId`. */
final case class Span(
    id: Int, parent: Int, runId: String, name: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark counters of one scope: everything that ran between the scope's
  * start and end. Scopes never overlap (one closed-loop caller), so a job
  * belongs to the scope that was open when it started. */
final case class ScopeCounters(
    jobs: Int, stages: Int, tasks: Long, cpuS: Double,
    shuffleWriteBytes: Long, spillBytes: Long, skew: Double,
    noTaskS: Double, largeTaskWarnings: Int)

/** In-memory tracer. Spans are timed from outside, around calls into the
  * engine's public functions; Spark counters come from a SparkListener, a
  * StreamingQueryListener and a log appender that counts Spark's
  * "task of very large size" warnings. Nothing is written until [[dump]].
  *
  * Without [[install]] the tracer records spans only (two clock reads per
  * call), which is what the end-to-end runs use. */
final class Tracer(val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String)] = Nil
  private var nextId = 1
  @volatile private var installed: Option[(SparkSession, Listener,
    StreamListener, LargeTaskCounter)] = None

  /** Time `body` as a span named `name` (convention: `<layer>.<call>`),
    * with the Spark job group set to the span name while it runs. */
  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(0)
    stack = (id, name) :: stack
    installed.foreach(_._1.sparkContext.setJobGroup(name, name))
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      installed.foreach { case (s, _, _, _) =>
        stack.headOption match {
          case Some((_, outer)) => s.sparkContext.setJobGroup(outer, outer)
          case None => s.sparkContext.clearJobGroup()
        }
      }
      spans += Span(id, parent, runId, name, t0, t1)
    }
  }

  def all: Seq[Span] = spans.toSeq

  /** Duration minus the part of it that direct children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs))
    (s.endNs - s.startNs - Stats.covered(kids.toSeq)) / 1e9
  }

  /** Register the Spark-side recorders. Used by the traced run only. */
  def install(spark: SparkSession): Unit = {
    val l = new Listener
    val sl = new StreamListener
    val lt = LargeTaskCounter.attach()
    spark.sparkContext.addSparkListener(l)
    spark.streams.addListener(sl)
    installed = Some((spark, l, sl, lt))
  }

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(): Unit = installed.foreach { case (s, _, _, _) =>
    org.apache.spark.PerfbenchBridge.drainListenerBus(s.sparkContext)
  }

  /** Spark counters of the latest span named `name`. */
  def counters(name: String): ScopeCounters = {
    drain()
    val sp = spans.filter(_.name == name).last
    val (_, l, _, lt) = installed.get
    l.scope(sp.startNs, sp.endNs, lt.countBetween(sp.startNs, sp.endNs))
  }

  /** Micro-batch progress seen by the StreamingQueryListener:
    * (trigger seconds, addBatch seconds, input rows) per batch. */
  def batches: Seq[(Double, Double, Long)] = {
    drain()
    installed.map(_._3.batches.toSeq).getOrElse(Nil)
  }

  /** Remove the Spark-side recorders; spans no longer set a job group. */
  def uninstall(): Unit = installed.foreach { case (s, l, sl, lt) =>
    drain()
    s.sparkContext.removeSparkListener(l)
    s.streams.removeListener(sl)
    lt.detach()
    installed = None
  }

  /** Write every span, one JSON object a line, with its self time. */
  def dump(path: String): Unit = {
    val lines = spans.map { s =>
      f"""{"run_id":"${s.runId}","id":${s.id},"parent":${s.parent},""" +
        f""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        f""""self_s":${selfSeconds(s)}%.6f}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** Job, stage and task records, keyed by the monotonic clock so they line
  * up with span boundaries (listener event times are wall-clock ms). */
private final class Listener extends SparkListener {
  import Listener._

  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def mono(ms: Long): Long = ms * 1000000L + offsetNs

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val stageSpan = mutable.Map.empty[Int, (Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(mono(e.time), e.stageIds)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      for (a <- i.submissionTime; b <- i.completionTime)
        stageSpan(i.stageId) = (mono(a), mono(b))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null)
      tasks += Task(e.stageId, mono(info.launchTime), mono(info.finishTime),
        m.executorRunTime, m.executorCpuTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  def scope(startNs: Long, endNs: Long, largeTasks: Int): ScopeCounters =
    synchronized {
      val js = jobs.filter(j => j.startNs >= startNs && j.startNs <= endNs)
      val stageIds = js.flatMap(_.stages).toSet
      val ts = tasks.filter(t => stageIds(t.stage))
      val ran = ts.map(_.stage).toSet
      // skew: max over median task run time in the stage that ran longest
      val skew = stageSpan.filter { case (id, _) => ran(id) }
        .maxByOption { case (_, (a, b)) => b - a }
        .map { case (id, _) =>
          val rs = ts.filter(_.stage == id).map(_.runMs.toDouble).toSeq
          val med = Stats.median(rs)
          if (med > 0) rs.max / med else 1.0
        }.getOrElse(1.0)
      // driver-serial time: the scope's wall minus the union of task spans
      val busy = Stats.covered(ts.map(t =>
        (math.max(t.launchNs, startNs), math.min(t.endNs, endNs))).toSeq)
      ScopeCounters(
        jobs = js.size, stages = ran.size, tasks = ts.size.toLong,
        cpuS = ts.map(_.cpuNs).sum / 1e9,
        shuffleWriteBytes = ts.map(_.shuffleWrite).sum,
        spillBytes = ts.map(_.spill).sum,
        skew = skew,
        noTaskS = (endNs - startNs - busy) / 1e9,
        largeTaskWarnings = largeTasks)
    }
}

private object Listener {
  final case class Task(stage: Int, launchNs: Long, endNs: Long,
    runMs: Long, cpuNs: Long, shuffleWrite: Long, spill: Long)
  final case class Job(startNs: Long, stages: Seq[Int])
}

private final class StreamListener extends StreamingQueryListener {
  val batches = mutable.ArrayBuffer.empty[(Double, Double, Long)]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val d = e.progress.durationMs
    def ms(k: String): Double =
      if (d.containsKey(k)) d.get(k).doubleValue / 1000.0 else 0.0
    if (e.progress.numInputRows > 0)
      batches += ((ms("triggerExecution"), ms("addBatch"), e.progress.numInputRows))
  }
}

/** Counts Spark's "task of very large size" warnings by the monotonic time
  * they were logged. */
private final class LargeTaskCounter private (
    appender: org.apache.logging.log4j.core.appender.AbstractAppender,
    times: mutable.ArrayBuffer[Long]) {
  def countBetween(a: Long, b: Long): Int =
    times.synchronized(times.count(t => t >= a && t <= b))
  def detach(): Unit = {
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
    ctx.getConfiguration.getRootLogger.removeAppender(appender.getName)
    ctx.updateLoggers()
    appender.stop()
  }
}

private object LargeTaskCounter {
  import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
  import org.apache.logging.log4j.core.appender.AbstractAppender
  import org.apache.logging.log4j.core.config.Property

  def attach(): LargeTaskCounter = {
    val times = mutable.ArrayBuffer.empty[Long]
    val app = new AbstractAppender(
        "perfbench-large-task", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains("task of very large size"))
          times.synchronized(times += System.nanoTime())
    }
    app.start()
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(
      app, org.apache.logging.log4j.Level.WARN, null)
    ctx.updateLoggers()
    new LargeTaskCounter(app, times)
  }
}
