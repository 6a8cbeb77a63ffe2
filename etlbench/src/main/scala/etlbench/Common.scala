package etlbench

import graft.GraftSession
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Minimal JSON writer for the result and trace files. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => value(k.toString) + ": " + value(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => value(other.toString)
  }

  def obj(kv: (String, Any)*): String = value(scala.collection.immutable.ListMap(kv: _*))
}

object Stats {
  /** Median (mean of the middle two on an even count); NaN on no samples. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      (s((s.length - 1) / 2) + s(s.length / 2)) / 2
    }
}

/** One run's op ledger: every timed op with its kind, wall time and
  * whether its output passed the checks. A failed op keeps its time but
  * sorts as +inf in latency percentiles, so a failure never reads as a
  * speed-up. */
final class Ledger {
  final case class Op(kind: String, seconds: Double, ok: Boolean, items: Long)

  private val ops = mutable.ArrayBuffer.empty[Op]
  private val problems = mutable.ArrayBuffer.empty[String]
  private var excludedS = 0.0

  /** Time `body`; it returns the number of items it processed. A thrown
    * exception or a failed check inside marks the op failed. */
  def run(kind: String)(body: => Long): Unit = {
    val before = problems.size
    excludedS = 0.0
    val t0 = System.nanoTime()
    val items =
      try body
      catch {
        case e: Throwable if scala.util.control.NonFatal(e) =>
          problems += s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}"
          -1L
      }
    val dt = (System.nanoTime() - t0) / 1e9 - excludedS
    ops += Op(kind, dt, items >= 0 && problems.size == before, math.max(items, 0L))
    System.err.println(f"etlbench: op $kind%s ${dt}%.3f s ok=${ops.last.ok}")
  }

  /** Leave `seconds` of the current op out of its time. */
  def exclude(seconds: Double): Unit = excludedS += seconds

  /** Run `body` (output checks) inside the current op without timing it. */
  def pause[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally exclude((System.nanoTime() - t0) / 1e9)
  }

  /** Take over the failed checks of untimed ops recorded in `other`. */
  def adopt(other: Ledger): Unit = problems ++= other.failures

  /** Record a failed check; inside [[run]] it fails the current op. */
  def check(cond: Boolean, what: => String): Unit = if (!cond) problems += what

  def attempted: Int = ops.size
  def failed: Int = ops.count(!_.ok)
  def failures: Seq[String] = problems.toSeq
  /** Checks made outside any op (end-of-run audits). */
  def ok: Boolean = problems.isEmpty && failed == 0

  def of(kind: String): Seq[Op] = ops.filter(_.kind == kind).toSeq
  def count(kind: String): Int = of(kind).size

  /** Latency samples of one op kind; failed ops count as +inf. */
  def latencies(kind: String): Seq[Double] =
    of(kind).map(o => if (o.ok) o.seconds else Double.PositiveInfinity)

  def slowest: Double = ops.map(_.seconds).maxOption.getOrElse(0.0)

  def items(kinds: String*): Long = ops.filter(o => kinds.contains(o.kind)).map(_.items).sum
  def seconds(kinds: String*): Double = ops.filter(o => kinds.contains(o.kind)).map(_.seconds).sum
}

object Sessions {
  val Cores = 4

  /** The production session factory with the benchmark's scratch
    * directories kept inside its work directory. */
  def create(work: String): SparkSession =
    GraftSession.builder(s"local[$Cores]", Cores)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.host", "localhost")
      .getOrCreate()

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }
}
