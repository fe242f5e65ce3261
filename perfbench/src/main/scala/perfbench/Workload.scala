package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import Workload._

/** One benchmark workload: set-up, a repeatable closed-loop cycle, and the
  * numbers it reports. Set-up and checks run outside the timed window. */
abstract class Workload(val spark: SparkSession, val tracer: Tracer) {
  val name: String

  /** Engine operations and output checks attempted, and those that threw
    * or found a wrong output. */
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  /** Generate the inputs and build any base state. */
  def prepare(): Unit

  /** Work after [[prepare]] that brings the JVM to steady state. */
  def warmUp(): Unit

  /** One measured cycle. */
  def cycle(): Unit

  /** Wall seconds of the measured cycles so far. A cycle that failed adds
    * none. */
  val cycleSeconds = mutable.ArrayBuffer.empty[Double]

  /** Rows the cycle's headline operation processes per second. */
  def rowsPerSecond: Double

  /** A short, warm, repeatable operation of the workload, run with and
    * without the tracer's listeners to measure what tracing costs. */
  def probe(): Unit

  /** The workload's own metrics for the report line: (name, value, unit). */
  def report: Seq[(String, Double, String)]

  /** Per-layer metrics of one traced cycle (plus direct layer calls). */
  def traced(): Seq[(String, Double, String)]

  /** Output checks; each [[expect]] inside counts as one attempt, and a
    * check that throws counts as one failed attempt. */
  protected def checking(body: => Unit): Unit =
    try body
    catch {
      case e: Throwable =>
        attempted += 1
        fail(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  /** Run an engine operation; an exception counts as a failed operation. */
  protected def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        fail(s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        e.printStackTrace(System.err)
        None
    }
  }

  /** Record a correctness failure of the latest operation. */
  def fail(msg: String): Unit = {
    failed += 1
    failures += msg
    System.err.println(s"[perfbench] FAILED: $msg")
  }

  protected def expect(ok: Boolean, msg: => String): Unit = {
    attempted += 1
    if (!ok) fail(msg)
  }

  /** The usual counter set of one scope, named `<prefix>.<counter>`. */
  protected def counterMetrics(prefix: String, c: ScopeCounters)
      : Seq[(String, Double, String)] = Seq(
    (s"$prefix.jobs", c.jobs.toDouble, "count"),
    (s"$prefix.stages", c.stages.toDouble, "count"),
    (s"$prefix.tasks", c.tasks.toDouble, "count"),
    (s"$prefix.cpu_s", c.cpuS, "s"),
    (s"$prefix.shuffle_write_bytes", c.shuffleWriteBytes.toDouble, "bytes"),
    (s"$prefix.spill_bytes", c.spillBytes.toDouble, "bytes"),
    (s"$prefix.skew", c.skew, "ratio"),
    (s"$prefix.no_task_s", c.noTaskS, "s"),
    (s"$prefix.large_task_warnings", c.largeTaskWarnings.toDouble, "count"))
}

object Workload {
  /** The value of `body` and its wall seconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Compute `df` in full and discard the rows. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}
