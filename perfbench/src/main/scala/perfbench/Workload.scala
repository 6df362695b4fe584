package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One checked operation inside a unit of work. */
final case class OpRec(kind: String, ms: Double, ok: Boolean)

/** What a workload hands back from one unit of work (an ingest pair, a
  * lake cycle, an LLM pass): its checked operations. */
final class Round(val id: Int) {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  /** Timed steps inside ops (not counted as ops themselves). */
  val steps = mutable.ArrayBuffer.empty[(String, Double)]
  var ms = 0.0
}

/** A closed-loop, single-client workload: the next unit starts when the
  * previous one has finished. */
abstract class Workload(val spark: SparkSession, val seed: Long, val work: String) {
  def name: String

  /** Build the inputs and land any tables (one repetition, timed). */
  def setup(rep: Int): Unit

  /** Compute the expected results, off the measured path. */
  def expect(): Unit

  /** Reset expected state after a fresh set-up (stateful workloads). */
  def rebase(): Unit = ()

  /** Units the traced run measures (fixed, so its counts repeat). */
  def tracedUnits: Int

  /** Run one unit of work, checking every result. */
  def unit(u: Round, trace: Option[Trace]): Unit

  /** Named end-to-end metrics (name → (value, unit)) over measured units. */
  def named(units: Seq[Round]): Seq[(String, Double, String)]

  /** Per-layer metrics over the traced units. */
  def layers(trace: Trace, units: Seq[Round]): Map[String, Double]

  /** Extra run facts for the artifact (digests, sizes). */
  val facts = mutable.LinkedHashMap.empty[String, Any]

  /** Corrupt one expectation on purpose (checks that mismatches count). */
  var corrupt: Option[String] = None

  /** Time `body` as op `kind` of unit `u`; a thrown error or a false
    * check counts as a failed op. */
  protected def op(u: Round, kind: String, trace: Option[Trace])(body: => Boolean): Boolean = {
    val t0 = System.nanoTime()
    val ok = try traced(trace, s"op.$kind")(body) catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $name/$kind failed: ${e.getClass.getName}: ${e.getMessage}")
        e.getStackTrace.take(8).foreach(f => System.err.println(s"[perfbench]   at $f"))
        false
    }
    if (!ok) System.err.println(s"[perfbench] $name/$kind (unit ${u.id}) did not match its expectation")
    u.ops += OpRec(kind, (System.nanoTime() - t0) / 1e6, ok)
    ok
  }

  /** Time a step inside an op, under a span named `span` when tracing. */
  protected def step[T](u: Round, kind: String, trace: Option[Trace], span: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try traced(trace, span)(body)
    finally u.steps += kind -> (System.nanoTime() - t0) / 1e6
  }

  protected def traced[T](trace: Option[Trace], span: String)(body: => T): T =
    trace.fold(body)(_.span(span)(body))

  /** Medians of the op latencies of `kind` over `units`. */
  protected def p50(units: Seq[Round], kind: String): Double =
    Stats.median(units.flatMap(_.ops).filter(o => o.kind == kind && o.ok).map(_.ms))
  protected def stepP50(units: Seq[Round], kind: String): Double =
    Stats.median(units.flatMap(_.steps).filter(_._1 == kind).map(_._2))

  def rm(path: String): Unit = Stats.rm(new java.io.File(path))
}

object Stats {
  def rm(f: java.io.File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete(); ()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest of p50/p90/p95/p99/p99.9 with at least ten samples
    * beyond it: (percentile, value, samples beyond), or None. */
  def tail(xs: Seq[Double]): Option[(Double, Double, Int)] = {
    val s = xs.sorted; val n = s.size
    Seq(99.9, 99.0, 95.0, 90.0, 50.0).find(p => n * (1 - p / 100) >= 10).map { p =>
      val i = math.min(n - 1, math.ceil(p / 100 * n).toInt - 1)
      (p, s(i), n - 1 - i)
    }
  }
}
