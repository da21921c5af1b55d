package graftbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, the tracer, its seeded inputs
  * and the run's limits. `work` is a scratch directory the run owns.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
    val seconds: Int, val data: String, val work: Path,
    val benchDir: Path) {
  val rng = new scala.util.Random(seed)

  /** One call into a layer, as a span of the traced run. */
  def call[A](layer: String, name: String)(body: => A): A =
    tracer.span(layer, name)(body)

  /** Runs the measured phase: operations in `log` are timed and, in the
    * traced run, recorded as spans. Returns the phase's wall seconds.
    */
  def measure(log: OpLog)(body: => Unit): Double = {
    log.timed = true
    tracer.recording = true
    val t0 = System.nanoTime()
    try body
    finally {
      tracer.recording = false
      log.timed = false
    }
    (System.nanoTime() - t0) / 1e9
  }
}

/** Thrown by an output check; the operation it checks counts as failed. */
final class CheckFailed(msg: String) extends Exception(msg)

object Check {
  def apply(ok: Boolean, what: => String): Unit =
    if (!ok) throw new CheckFailed(what)
}

/** Closed-loop operation log of one client. An operation that throws or
  * fails its check is counted against the number attempted and is never
  * timed.
  */
final class OpLog(ctx: Ctx) {
  var attempted = 0
  var failed = 0
  /** Set only during the measured phase: warm-up and check operations
    * count as attempted but are never timed.
    */
  var timed = false
  val latencyMs = mutable.ArrayBuffer.empty[Double]
  /** Measured-phase seconds spent outside operations (output checks,
    * storage walks); throughput leaves them out.
    */
  var untimedSec = 0.0
  val byKind = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  /** Times `body` as one operation of `kind`, then runs `check` on its
    * result outside the timing. Returns the result if both succeeded.
    * Only `pooled` operations enter the end-to-end latency percentiles.
    */
  def op[A](kind: String, name: String, pooled: Boolean = true)(body: => A)(
      check: A => Unit): Option[A] = {
    attempted += 1
    val t0 = System.nanoTime()
    val result = try Right(ctx.call("client", name)(body))
    catch { case e: Exception => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    result.flatMap(r => try { check(r); Right(r) } catch { case e: Exception => Left(e) }) match {
      case Right(r) =>
        if (timed) {
          if (pooled) latencyMs += ms
          byKind.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
        }
        Some(r)
      case Left(e) =>
        failed += 1
        System.err.println(s"[perfbench] $kind $name FAILED: $e")
        None
    }
  }

  /** Work between operations that is neither timed nor traced. */
  def untimed[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally if (timed) untimedSec += (System.nanoTime() - t0) / 1e9
  }

  /** An output check that is not itself an operation of the workload: its
    * failure counts as a failed operation, and it is neither timed nor
    * traced.
    */
  def verify[A](name: String)(body: => A)(check: A => Unit): Unit = untimed {
    attempted += 1
    try check(body)
    catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] $name FAILED: $e")
    }
  }
}

/** What a workload measured, before the shared metrics are derived. */
final case class Outcome(
    setupSec: Seq[Double],
    log: OpLog,
    measuredSec: Double,
    // workload-specific end-to-end figures for the detail line
    detail: Seq[(String, Double, String)],
    // per-layer levels and counts only the workload can see (the rest
    // come from spans); zero where the workload has no such layer work
    layer: Map[String, Double])

object Stats {
  /** Quantile with linear interpolation between order statistics. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
  def metrics(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s"""${str(n)}:{"value":${num(v)},"unit":${str(u)}}""" }
      .mkString("{", ",", "}")
}
