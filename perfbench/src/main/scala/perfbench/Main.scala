package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Runs one workload as a single-caller closed loop and writes what it
  * recorded as JSON for `run.py`, which derives the metrics.
  *
  * {{{
  * perfbench.Main --workload <name> --input <dir> --work <dir> --seconds <s>
  *                --trace <0|1> --out <result.json> --spans <spans.jsonl>
  * }}}
  *
  * Set-up is `GraftSession.build`, repeated [[SessionBuilds]] times (each on a fresh
  * session, the first in a cold JVM), then one warm-up pass on the last
  * session, which is the one measured. More untimed passes follow until
  * the warm-up has lasted [[WarmupS]] and made the workload's
  * [[Workload.warmupPasses]]. Passes then repeat until `seconds`
  * have elapsed, and at least twice. With `--trace 1` the first
  * half of the time is measured untraced and the second half traced, so
  * the tracing overhead is a same-run difference. */
object Main {
  /** Pass numbers of the warm-up passes (-1, -2, …) and of the checks made
    * once per run. */
  val WarmupPass = -1
  val RunChecksPass = -100
  /** Least time spent in untimed warm-up passes before measuring. */
  val WarmupS = 8.0
  /** Session builds per run; `setup_s` takes their median. */
  val SessionBuilds = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String): String = opt.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    val params = new Params(Paths.get(arg("input")))
    val work = Paths.get(arg("work"))
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    // delay injection for the self-test only: "layer:ms,layer:ms"
    val inject = sys.props.get("perfbench.inject").toSeq.flatMap(_.split(','))
      .filter(_.nonEmpty).map { s => val Array(l, ms) = s.split(':'); l -> ms.toLong }.toMap
    val cores = Runtime.getRuntime.availableProcessors
    val wl = Workload(workload, params, work)
    val rec = new Recorder

    def runPass(spark: SparkSession, pass: Int, tr: Boolean, l: Option[Listeners]): (Double, Double) = {
      val c = new Ctx(spark, pass, tr, rec, l, inject)
      c.beginPass()
      try wl.pass(c) catch {
        case _: OpFailed => ()
        case t: Throwable => // a failure outside any op still fails the pass
          rec.ops += OpRecord(pass, tr, "pass", "", 0.0, ok = false,
            s"${t.getClass.getSimpleName}: ${t.getMessage}".take(300))
      }
      c.endPass()
    }

    var spark: SparkSession = null
    val builds = (1 to SessionBuilds).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = GraftSession.build(s"local[$cores]", cores, "perfbench")
      (System.nanoTime() - t0) / 1e9
    }
    val warmup = runPass(spark, WarmupPass, tr = false, None)._1
    // further untimed passes until the warm-up has lasted WarmupS and made
    // the workload's warmupPasses: the first measured passes would otherwise
    // still be on the steep part of the JIT warm-up slope
    var warmed = warmup
    var extra = 0
    while (warmed < WarmupS || extra + 1 < wl.warmupPasses) {
      extra += 1
      warmed += runPass(spark, WarmupPass - extra, tr = false, None)._1
    }
    wl.runChecks(new Ctx(spark, RunChecksPass, traced = false, rec, None, inject))

    val passes = scala.collection.mutable.ArrayBuffer.empty[(Int, Boolean, (Double, Double))]
    def measure(budget: Double, tr: Boolean, minPasses: Int): Unit = {
      val l = if (tr) Some(new Listeners(spark)) else None
      l.foreach(_.attach())
      val t0 = System.nanoTime()
      var n = 0
      while (n < minPasses || (System.nanoTime() - t0) / 1e9 < budget) {
        passes += ((passes.length, tr, runPass(spark, passes.length, tr, l)))
        n += 1
      }
      l.foreach(_.detach())
    }
    if (traced) { measure(seconds / 2, tr = false, 1); measure(seconds / 2, tr = true, 1) }
    else measure(seconds, tr = false, 2)

    val env = Map(
      "cores" -> cores.toString,
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "java" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
      "master" -> spark.sparkContext.master)
    val conf = spark.conf.getAll.toSeq.sortBy(_._1)
    spark.stop()

    Files.write(Paths.get(arg("spans")),
      rec.spans.map(spanJson).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val json = new StringBuilder("{")
    json ++= s""""workload":${q(workload)},"env":${obj(env)},"conf":${obj(conf.toMap)},"""
    json ++= s""""build_s":[${builds.mkString(",")}],"warmup_s":$warmup,"""
    json ++= s""""passes":[${passes.map { case (p, tr, (s, cpu)) =>
      s"""{"pass":$p,"traced":$tr,"job_s":$s,"cpu_s":$cpu}""" }.mkString(",")}],"""
    json ++= s""""ops":[${rec.ops.map(o =>
      s"""{"pass":${o.pass},"traced":${o.traced},"op":${q(o.op)},"layer":${q(o.layer)},"s":${o.seconds},"ok":${o.ok},"error":${q(o.error)}}""").mkString(",")}],"""
    json ++= s""""checks":[${rec.checks.map(c =>
      s"""{"pass":${c.pass},"name":${q(c.name)},"ok":${c.ok},"detail":${q(c.detail)}}""").mkString(",")}],"""
    json ++= s""""values":[${rec.values.map { case (p, n, v) => s"""{"pass":$p,"name":${q(n)},"v":$v}""" }.mkString(",")}]}"""
    Files.write(Paths.get(arg("out")), json.toString.getBytes(StandardCharsets.UTF_8))
  }

  private def spanJson(s: Span): String =
    s"""{"id":${s.id},"pass":${s.pass},"name":${q(s.name)},"op":${q(s.op)},""" +
      s""""kind":${q(s.kind)},"parent":${s.parent},"base":${s.base},"start_ns":${s.startNs},""" +
      s""""end_ns":${s.endNs},"counters":{${s.counters.toSeq.sortBy(_._1).map { case (k, v) => s"${q(k)}:$v" }.mkString(",")}}}"""

  private def obj(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")

  private def q(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case ch if ch < ' ' => b ++= f"\\u${ch.toInt}%04x"
      case ch => b += ch
    }
    (b += '"').toString
  }
}
