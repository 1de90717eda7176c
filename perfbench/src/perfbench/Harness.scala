package perfbench

import java.util.concurrent.{Executors, ScheduledFuture, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One recorded span: a call into one layer (or a whole client op at the
  * root). Times are `System.nanoTime`; the wall-clock bounds anchor the
  * span so listener events (millisecond wall stamps) can be attributed
  * to the innermost span open when they happened.
  */
final case class Span(id: Int, parent: Int, opId: Int, name: String,
    startNs: Long, var endNs: Long, wallStartMs: Long, var wallEndMs: Long,
    fsStart: Array[Long], var fsEnd: Array[Long])

/** Client-side bookkeeping for one run: per-op-class attempted/failed
  * counts, latency samples, a per-op watchdog, and (when tracing) the
  * span tree. One client thread drives everything, so the open-span
  * stack needs no synchronization.
  */
final class Harness(val spark: SparkSession, val tracing: Boolean,
    deadlineNs: Long, opTimeoutMs: Long) {

  val attempted: mutable.LinkedHashMap[String, Long] = mutable.LinkedHashMap()
  val failed: mutable.LinkedHashMap[String, Long] = mutable.LinkedHashMap()
  val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer()
  private val samplesMs = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()

  /** Wall time spent driving episode scripts (checks and census excluded). */
  var scriptNs = 0L

  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer()
  private val open = mutable.Stack[Span]()
  private var nextOp = 0

  private val watchdog = Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "perfbench-watchdog"); t.setDaemon(true); t
  }

  /** Latency samples recorded under `cls`, in milliseconds. */
  def samples(cls: String): Seq[Double] =
    samplesMs.get(cls).map(_.toSeq).getOrElse(Nil)

  private def record(cls: String, ms: Double): Unit =
    samplesMs.getOrElseUpdate(cls, mutable.ArrayBuffer()) += ms

  def remainingNs: Long = deadlineNs - System.nanoTime()

  /** Run one client op of class `cls` under a watchdog and try/catch.
    * Returns the result and records the latency under `cls` on success;
    * on failure or timeout counts the op as failed and returns None. A
    * timed-out op has its Spark jobs cancelled so the run can go on.
    */
  def op[T](cls: String)(f: => T): Option[T] = {
    attempted(cls) = attempted.getOrElse(cls, 0L) + 1
    val timedOut = new AtomicBoolean(false)
    val budget = math.max(1000L, math.min(opTimeoutMs, remainingNs / 1000000L))
    val guard: ScheduledFuture[_] = watchdog.schedule(new Runnable {
      def run(): Unit = { timedOut.set(true); spark.sparkContext.cancelAllJobs() }
    }, budget, TimeUnit.MILLISECONDS)
    nextOp += 1
    val t0 = System.nanoTime()
    val result =
      try {
        val r = span(s"op.$cls", opId = nextOp)(f)
        if (timedOut.get()) throw new java.util.concurrent.TimeoutException(
          s"$cls exceeded its ${budget} ms watchdog")
        Some(r)
      } catch {
        case e: Throwable if scala.util.control.NonFatal(e) || e.isInstanceOf[InterruptedException] =>
          failed(cls) = failed.getOrElse(cls, 0L) + 1
          if (errors.size < 20) errors += s"$cls: ${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString
          None
      } finally guard.cancel(false)
    if (result.isDefined) record(cls, (System.nanoTime() - t0) / 1e6)
    result
  }

  /** A span around a call into one layer (no-op when not tracing). */
  def span[T](name: String, opId: Int = -1)(f: => T): T =
    if (!tracing) f
    else {
      val parent = open.headOption
      val s = Span(spans.size, parent.map(_.id).getOrElse(-1),
        if (opId >= 0) opId else parent.map(_.opId).getOrElse(0), name,
        System.nanoTime(), 0L, System.currentTimeMillis(), 0L,
        Census.fsSnapshot(), null)
      spans += s
      open.push(s)
      try f
      finally {
        open.pop()
        s.fsEnd = Census.fsSnapshot()
        s.endNs = System.nanoTime()
        s.wallEndMs = System.currentTimeMillis()
      }
    }

  /** Check outcome counted like an op: a failed output check is a failed
    * op of class `check`.
    */
  def check(what: String)(ok: => Boolean): Boolean = {
    val r = op("check")(ok)
    if (r.contains(false)) failed("check") = failed.getOrElse("check", 0L) + 1
    if (!r.contains(true) && errors.size < 20) errors += s"check failed: $what"
    r.contains(true)
  }

  def totalAttempted: Long = attempted.values.sum
  def totalFailed: Long = failed.values.sum

  def close(): Unit = watchdog.shutdownNow()
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  /** Latency of one op of a mix: the per-class medians weighted by each
    * class's op count. A plain median over several op classes jumps
    * between class clusters from run to run; this keeps each class's
    * median and the script's mix.
    */
  def mixMs(h: Harness, classes: Iterable[String]): Double = {
    val per = classes.toSeq.map(h.samples).filter(_.nonEmpty)
    per.map(s => s.size * median(s)).sum / per.map(_.size).sum
  }
}
