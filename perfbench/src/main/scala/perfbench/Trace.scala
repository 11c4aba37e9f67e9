package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed interval of a pass.
  *
  * `kind` says how the interval counts:
  *  - `pass`: one run of the workload's whole operation sequence;
  *  - `op`: one user-level call of the sequence (what `job_s` is made of);
  *  - `probe`: a trace-only materialisation of a prefix of the next call's
  *    pipeline. An op or probe whose `base` is a probe gets the self time
  *    `duration − duration(base)`: the work its pipeline adds on top of
  *    the prefix;
  *  - `side`: a trace-only measurement outside the op partition;
  *  - `check`: output verification, never part of any timing.
  *
  * `parent` is the enclosing span, `op` the sequence step it serves. */
final case class Span(id: Int, pass: Int, name: String, op: String, kind: String,
                      parent: Int, base: Int, startNs: Long, endNs: Long,
                      counters: Map[String, Double])

/** A user-level operation as the closed loop saw it. */
final case class OpRecord(pass: Int, traced: Boolean, op: String, layer: String,
                          seconds: Double, ok: Boolean, error: String)

final case class CheckRecord(pass: Int, name: String, ok: Boolean, detail: String)

/** Collects everything one run records. Spans exist only in traced passes;
  * op records and checks exist in every pass. */
final class Recorder {
  val spans = mutable.ArrayBuffer.empty[Span]
  val ops = mutable.ArrayBuffer.empty[OpRecord]
  val checks = mutable.ArrayBuffer.empty[CheckRecord]
  /** per-pass scalar observations (recall, counts, batch latencies …) */
  val values = mutable.ArrayBuffer.empty[(Int, String, Double)]
  private var nextId = 0
  def newId(): Int = { nextId += 1; nextId }
}

/** Thrown by [[Ctx.op]] after recording a failed operation; ends the pass. */
final class OpFailed(msg: String, cause: Throwable) extends RuntimeException(msg, cause)

/** The wrapper every workload calls the engine through. In an untraced
  * pass it only times ops and checks; in a traced pass it also runs the
  * probes, records spans and tags Spark jobs with the span that ran them.
  *
  * `inject` is a fixed delay (layer name → ms) slept inside every span of
  * that layer; only the benchmark's self-test sets it. */
final class Ctx(val spark: SparkSession, val pass: Int, val traced: Boolean,
                rec: Recorder, listeners: Option[Listeners],
                inject: Map[String, Long]) {

  private val stack = mutable.Stack[Int]()
  private var passSpan = 0
  private var passStart = 0L
  private var passCpuStart = 0L
  private var checkNs = 0L
  private var checkCpuNs = 0L
  private var lastOp: Option[Int] = None // index into rec.ops

  private def parentId: Int = if (stack.isEmpty) passSpan else stack.top

  private def timed[T](name: String, op: String, kind: String, base: Int)
                      (body: => T): (T, Int) = {
    val id = rec.newId()
    val parent = parentId
    if (traced) enter(id)
    stack.push(id)
    val start = System.nanoTime()
    try {
      val r = body
      inject.get(name).foreach(ms => Thread.sleep(ms))
      (r, id)
    } finally {
      val end = System.nanoTime()
      stack.pop()
      if (traced) {
        val counters = leave(id)
        rec.spans += Span(id, pass, name, op, kind, parent, base, start, end, counters)
      }
    }
  }

  private def enter(id: Int): Unit = listeners.foreach(_.enter(id))
  private def leave(id: Int): Map[String, Double] =
    listeners.fold(Map.empty[String, Double])(_.leave(id, parentId))

  def beginPass(): Unit = {
    passSpan = rec.newId()
    passCpuStart = Ctx.cpuNs()
    passStart = System.nanoTime()
    if (traced) enter(passSpan)
  }

  /** Ends the pass; returns its job time and the process CPU time it used,
    * both in seconds and without the untimed checks. */
  def endPass(): (Double, Double) = {
    val end = System.nanoTime()
    val cpu = Ctx.cpuNs() - passCpuStart - checkCpuNs
    if (traced) {
      val counters = leave(passSpan)
      rec.spans += Span(passSpan, pass, "pass", "", "pass", 0, 0, passStart, end, counters)
    }
    ((end - passStart - checkNs) / 1e9, cpu / 1e9)
  }

  /** One user-level operation of the sequence. A throw is recorded as a
    * failed operation and ends the pass. */
  def op[T](op: String, layer: String, base: Int = 0)(body: => T): T = {
    val t0 = System.nanoTime()
    try {
      val (r, _) = timed(layer, op, "op", base)(body)
      rec.ops += OpRecord(pass, traced, op, layer, (System.nanoTime() - t0) / 1e9, ok = true, "")
      lastOp = Some(rec.ops.length - 1)
      r
    } catch {
      case t: Throwable =>
        rec.ops += OpRecord(pass, traced, op, layer, (System.nanoTime() - t0) / 1e9,
          ok = false, s"${t.getClass.getSimpleName}: ${t.getMessage}".take(300))
        lastOp = None
        throw new OpFailed(s"$op failed", t)
    }
  }

  /** Materialise a prefix of `op`'s pipeline; traced passes only. Returns
    * the span id for use as the next call's `base` (0 when untraced). */
  def probe(op: String, layer: String, base: Int = 0)(body: => Unit): Int =
    if (!traced) 0 else timed(layer, op, "probe", base)(body)._2

  /** A trace-only measurement outside the op partition. */
  def side(op: String, layer: String)(body: => Unit): Unit =
    if (traced) timed(layer, op, "side", 0)(body)

  /** Run `body` outside the pass's timing (its time is subtracted). */
  def untimed[T](name: String)(body: => T): T = {
    val c0 = Ctx.cpuNs()
    val t0 = System.nanoTime()
    try timed(name, "", "check", 0)(body)._1
    finally {
      checkNs += System.nanoTime() - t0
      checkCpuNs += Ctx.cpuNs() - c0
    }
  }

  /** Verify an output, untimed. A failure marks the most recent op failed. */
  def check(name: String)(body: => (Boolean, String)): Boolean = {
    val (ok, detail) =
      try untimed(name)(body)
      catch { case t: Throwable => (false, s"threw ${t.getClass.getSimpleName}: ${t.getMessage}".take(300)) }
    rec.checks += CheckRecord(pass, name, ok, detail)
    if (!ok) lastOp.foreach(i => rec.ops(i) = rec.ops(i).copy(ok = false, error = s"check $name: $detail"))
    ok
  }

  /** Record a per-pass observation. */
  def value(name: String, v: Double): Unit = rec.values += ((pass, name, v))
}

object Ctx {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM process (every thread), in ns. Unlike wall
    * time it does not grow when the host takes CPU away from this machine. */
  def cpuNs(): Long = os.getProcessCpuTime
}
