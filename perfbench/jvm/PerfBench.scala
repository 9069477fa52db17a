package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.Tables
import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark's JVM program. Runs one workload against the engine's
  * public layer functions, in one process with one client (a closed loop),
  * and writes a JSON result that `run.py` checks and prints.
  *
  * Usage: PerfBench <manifest.json> <result.json>
  * The manifest (written by run.py from the seed) names the workload, the
  * generated input files, the run length and whether to trace.
  */
object PerfBench {

  final class Ctx(val spark: SparkSession, val m: JsonNode, val tracer: Tracer) {
    val work: String = m.get("work").asText
    val cores: Int = m.get("cores").asInt
    val seed: Long = m.get("seed").asLong
    val trace: Boolean = m.get("trace").asBoolean
    var attempted = 0L
    var failed = 0L
    val errors = mutable.ArrayBuffer[String]()
    val metrics = mutable.LinkedHashMap[String, Double]()
    val verify: com.fasterxml.jackson.databind.node.ObjectNode =
      new ObjectMapper().createObjectNode()

    /** One counted operation; an exception counts as a failure. */
    def op[T](what: String)(body: => T): Option[T] = {
      attempted += 1
      try Some(body)
      catch {
        case e: Throwable =>
          failed += 1
          val msg = s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
          errors += msg.take(500)
          System.err.println(s"[perfbench] FAILED $msg")
          None
      }
    }

    def span[T](name: String)(body: => T): T = tracer.span(name)(body)
  }

  def nowS(): Double = System.nanoTime() / 1e9

  /** Between timed operations (never inside a timed window): a full
    * collection, so that when garbage of earlier operations gets collected
    * does not move the next one's time.
    */
  def settle(): Unit = System.gc()

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolated percentile (the same rule as numpy's default). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def deleteTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
  }

  def copyTree(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val dst = java.nio.file.Paths.get(to)
    java.nio.file.Files.walk(src).forEach { f =>
      val t = dst.resolve(src.relativize(f).toString)
      if (java.nio.file.Files.isDirectory(f)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(f, t)
    }
  }

  /** Cumulative /proc/stat CPU ticks: (demand, steal). */
  def stealTicks(): Option[(Long, Long)] =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      val cpu = try f.getLines().next() finally f.close()
      val v = cpu.trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal
      if (v.length < 8) None else Some((v(0) + v(1) + v(2) + v(7), v(7)))
    } catch { case _: Throwable => None }

  def peakRssMb(): Double = {
    val f = scala.io.Source.fromFile("/proc/self/status")
    try f.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)
    finally f.close()
  }

  def workload(ctx: Ctx): Workload = ctx.m.get("workload").asText match {
    case "lake_query" => new LakeQuery(ctx)
    case "corpus_curation" => new CorpusCuration(ctx)
  }

  /** Set-up, the untraced timed region (end-to-end metrics), the traced
    * replay (per-layer metrics) when asked, and the gate's Spark side.
    */
  def run(spark: SparkSession, m: JsonNode, sessionReady: Long): Ctx = {
    val ctx = new Ctx(spark, m, new Tracer(spark))
    val t0ms = m.get("t0_ms").asLong
    val st0 = stealTicks()
    val w = workload(ctx)
    // set-up: from process start (input generation, session start) to the
    // end of the workload's set-up step (JIT warm pass, lake build)
    w.setup()
    val setupS = (System.currentTimeMillis() - t0ms) / 1e3
    System.err.println(f"[perfbench] session ${(sessionReady - t0ms) / 1e3}%.2f s, " +
      f"setup $setupS%.2f s")
    val tm = nowS()
    w.timed(Measure)
    System.err.println(f"[perfbench] timed region ${nowS() - tm}%.2f s")
    if (ctx.trace) {
      // a traced replay of the same work, then an untraced one: the JVM is
      // equally warm for both, so their difference is the tracing overhead
      ctx.tracer.enable()
      val tracedWall = w.timed(Traced)
      ctx.tracer.disable()
      ctx.metrics("trace.overhead_s") = tracedWall - w.timed(Replay)
      engineMetrics(ctx, tracedWall)
      w.layerMetrics()
      val tf = s"${ctx.work}/spans.jsonl"
      ctx.tracer.writeJsonl(tf, m.get("workload").asText, ctx.seed)
      ctx.verify.put("spans", tf)
    }
    val st1 = stealTicks()
    val tv = nowS()
    w.verify()
    System.err.println(f"[perfbench] gate (Spark side) ${nowS() - tv}%.2f s")
    ctx.metrics("setup_s") = setupS
    ctx.metrics("peak_rss_mb") = peakRssMb()
    val steal = for ((d0, s0) <- st0; (d1, s1) <- st1 if d1 > d0)
      yield (s1 - s0).toDouble / (d1 - d0)
    ctx.verify.put("steal_share", steal.getOrElse(-1.0))
    ctx
  }

  def main(args: Array[String]): Unit = {
    val om = new ObjectMapper()
    val m = om.readTree(new java.io.File(args(0)))
    val cores = m.get("cores").asInt
    val spark = Tables.configure(
      SparkSession.builder().master(s"local[$cores]"), cores.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = run(spark, m, System.currentTimeMillis())
    spark.stop()
    val out = om.createObjectNode()
    out.put("attempted", ctx.attempted)
    out.put("failed", ctx.failed)
    val errs = out.putArray("errors")
    ctx.errors.foreach(e => errs.add(e))
    val mo = out.putObject("metrics")
    ctx.metrics.foreach { case (k, v) => mo.put(k, v) }
    out.set[JsonNode]("verify", ctx.verify)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(1)),
      om.writeValueAsString(out))
  }

  /** Whole-engine counters over the traced timed region. */
  def engineMetrics(ctx: Ctx, wall: Double): Unit = {
    val t = ctx.tracer
    val tot = mutable.Map[String, Double]().withDefaultValue(0.0)
    t.roots.foreach(r => t.inclusive(r).foreach { case (k, v) => tot(k) += v })
    Seq("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "input_bytes",
      "output_bytes", "shuffle_write_bytes", "failed_tasks", "spill_bytes",
      "gc_s", "sched_delay_s").foreach(k => ctx.metrics(s"engine.$k") = tot(k))
    ctx.metrics("engine.core_util") = tot("task_run_s") / (wall * ctx.cores)
  }
}

/** How a timed region runs: `Measure` records the end-to-end metrics;
  * `Traced` and `Replay` redo exactly the same work with and without spans.
  */
sealed trait Mode
case object Measure extends Mode
case object Traced extends Mode
case object Replay extends Mode

/** A workload: its set-up step, its timed closed loop (returns the wall
  * seconds), the per-layer metrics of the traced replay (a workload may
  * trace further work of its own there), and the Spark side of the
  * correctness gate (run outside every timed region).
  */
trait Workload {
  def setup(): Unit
  def timed(mode: Mode): Double
  def layerMetrics(): Unit
  def verify(): Unit
}
