package lakebench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One completed op. `traced` ops carry counter deltas; the untraced ops of
  * a traced run are the baseline the tracing overhead is measured against. */
final case class OpRec(kind: String, name: String, startMs: Long,
    endMs: Long, seconds: Double, rows: Long, userBytes: Long,
    timed: Boolean, traced: Boolean, counters: Option[Counters])

/** Shared run state: session, tracer, op log and failure accounting. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
    val listener: Option[JobListener], val seed: Long, val nproc: Int) {
  val ops = ArrayBuffer.empty[OpRec]
  val failures = ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  /** ops run now are measured (false during set-up and warm-up) */
  var timing = false
  /** traced runs trace every other timed round; the rest are the
    * untraced baseline for the overhead estimate */
  var roundTraced = false
  def traceThis: Boolean = tracer.enabled && timing && roundTraced

  private def fail(msg: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += msg
  }

  /** Runs one op: times `body`, then compares its answer with the model
    * through `verify` (untimed). An exception or any mismatch fails the
    * op; nothing is retried or masked. */
  def op[T](kind: String, name: String, rows: Long = 0L, userBytes: Long = 0L)(
      body: => T)(verify: T => Seq[String]): Unit = {
    attempted += 1
    val traced = traceThis
    val before = if (traced) Some(Counters.now()) else None
    if (traced) tracer.op = ops.size else tracer.op = -1
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = try {
      Right(if (traced) tracer.span(s"op:$name")(body) else body)
    } catch { case e: Throwable => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    val wall1 = System.currentTimeMillis()
    val delta = before.map(b => Counters.now() - b)
    tracer.op = -1
    ops += OpRec(kind, name, wall0, wall1, secs, rows, userBytes,
      timing, traced, delta)
    res match {
      case Left(e) =>
        fail(s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}"
          .take(400))
      case Right(v) =>
        val bad = try verify(v) catch {
          case e: Throwable => Seq(s"$name check threw ${e.getMessage}")
        }
        if (bad.nonEmpty) fail(s"$name: ${bad.mkString("; ")}".take(400))
    }
  }

  /** A traced-round-only measurement outside any op (a repeated listing,
    * a name resolution), attributed to the op that follows it. */
  def probe[T](name: String)(body: => T): Option[T] =
    if (!traceThis) None
    else {
      tracer.op = ops.size
      try Some(tracer.span(name)(body)) finally tracer.op = -1
    }

  /** An untimed correctness check that still counts as an attempted op. */
  def check(name: String)(body: => Seq[String]): Unit = {
    attempted += 1
    val bad = try body catch {
      case e: Throwable => Seq(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    if (bad.nonEmpty) fail(s"$name: ${bad.mkString("; ")}".take(400))
  }
}

/** A benchmark workload: builds its initial tables, then runs rounds of
  * ops (a round = one cycle plus its readbacks, or one served op). */
trait Workload {
  /** build the initial state under a fresh `dir`; the last build is kept */
  def prebuild(dir: String): Unit
  def warmupRounds: Int
  def round(): Unit
  /** reads timed once per run, after the last round */
  def endReads(): Unit = ()
  /** end-of-run model comparisons (each one an attempted op) */
  def finalChecks(): Unit
  /** table directories, for space amplification */
  def tableDirs: Seq[String]
  /** user bytes ingested into the kept tables so far (prebuilt rows
    * included; called outside every timer) */
  def userBytesIngested: Long
  /** per-layer values only the workload can compute (traced runs) */
  def layerExtras(traced: Seq[OpRec]): Map[String, Double] = Map.empty
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** linear-interpolated quantile; 0 for an empty sample */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  /** highest whole percentile with at least 10 samples above it:
    * (percentile, value, samples); None below 11 samples */
  def tail(xs: Seq[Double]): Option[(Int, Double, Int)] = {
    val n = xs.size
    (99 to 1 by -1).find(p => n * (100 - p) / 100.0 >= 10.0)
      .map(p => (p, quantile(xs, p / 100.0), n))
  }
  /** Median latency of each op kind, geometric mean across kinds. A mix
    * of kinds with very different latencies has a median that jumps
    * between kinds from run to run; per-kind medians do not. */
  def kindMedianGm(ops: Seq[OpRec]): Double = {
    val meds = ops.groupBy(_.name).values.map(k => median(k.map(_.seconds))).toSeq
    if (meds.isEmpty) 0.0 else math.exp(meds.map(math.log).sum / meds.size)
  }
  def dirBytes(f: java.io.File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
}
