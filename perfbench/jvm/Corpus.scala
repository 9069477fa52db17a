package perfbench

import graft.SparkEntry

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import PerfBench.{Ctx, median, nowS, percentile}

/** corpus_curation: the LLM-curation rows in order, each built by its
  * registered `SparkEntry.queries(row)(spark, dir)` and written to a noop
  * sink. Every row sequence reads the corpus from a fresh path, so
  * path-keyed memos start cold, as for a user curating a new corpus.
  */
final class CorpusCuration(ctx: Ctx) extends Workload {
  private val m = ctx.m
  private val rows = m.get("rows").elements().asScala.map(_.asText).toSeq
  private val corpus = m.get("corpus").asText
  private val nDocs = m.get("n_docs").asLong
  private val sequences = m.get("sequences").asInt
  private var fresh = 0
  private val rowSeconds = mutable.ArrayBuffer[(String, Double)]()

  /** A copy of `src` under a path no earlier sequence has read. */
  private def freshCopy(src: String): String = {
    fresh += 1
    val d = s"${ctx.work}/corpus_$fresh"
    PerfBench.copyTree(src, d)
    d
  }

  /** Between rows: drop cached blocks and collect garbage, outside any
    * timed window, so one row's leftovers are not billed to the next.
    */
  private def clear(): Unit = {
    val spark = ctx.spark
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    PerfBench.settle()
  }

  /** Runs the row sequence on `dir`; returns per-row (construct, exec) s. */
  private def sequence(dir: String, sink: String => Option[String]): Seq[(String, Double, Double)] = {
    val out = rows.map { row =>
      val fn = SparkEntry.queries(row)
      var c = 0.0; var e = 0.0
      ctx.op(s"row $row") {
        ctx.span(s"corpus.$row") {
          val t0 = nowS()
          val df = ctx.span("corpus.construct")(fn(ctx.spark, dir))
          val t1 = nowS()
          ctx.span("corpus.exec")(sink(row) match {
            case None => df.write.format("noop").mode("overwrite").save()
            case Some(p) => df.write.mode("overwrite").parquet(p)
          })
          c = t1 - t0; e = nowS() - t1
        }
      }
      clear()
      (row, c, e)
    }
    PerfBench.deleteTree(dir)
    out
  }

  private val answers = s"${ctx.work}/answers"

  /** The JIT warm pass is also the correctness pass: the whole sequence on
    * its own copy of the corpus, answers to parquet for the DuckDB oracle.
    */
  def setup(): Unit = sequence(freshCopy(corpus), row => Some(s"$answers/$row"))

  def timed(mode: Mode): Double = {
    var wall = 0.0
    (1 to sequences).foreach { _ =>
      val res = sequence(freshCopy(corpus), _ => None)
      if (mode == Measure) res.foreach(r => rowSeconds += r._1 -> (r._2 + r._3))
      wall += res.map(r => r._2 + r._3).sum
    }
    if (mode == Measure) {
      // each row's median over the run's sequences, so that a sequence hit
      // by a pause of the host does not move the figures of the run
      val per = rows.map(r => median(rowSeconds.filter(_._1 == r).map(_._2).toSeq))
      ctx.metrics("op_p50_ms") = median(per) * 1e3
      ctx.metrics("op_p90_ms") = percentile(per, 0.9) * 1e3
      ctx.metrics("throughput_per_s") = nDocs / per.sum
      ctx.metrics("ops") = rowSeconds.size
    }
    wall
  }

  def layerMetrics(): Unit = {
    val t = ctx.tracer
    def total(name: String, k: String) =
      t.named(name).filter(_.name == name).map(s => t.inclusive(s).getOrElse(k, 0.0)).sum
    val cons = t.named("corpus.construct").filter(_.name == "corpus.construct")
    val exec = t.named("corpus.exec").filter(_.name == "corpus.exec")
    ctx.metrics("corpus.construct_s") = cons.map(_.seconds).sum / sequences
    ctx.metrics("corpus.construct_jobs") = total("corpus.construct", "jobs") / sequences
    ctx.metrics("corpus.exec_s") = exec.map(_.seconds).sum / sequences
    ctx.metrics("corpus.shuffle_bytes") =
      t.roots.map(s => t.inclusive(s).getOrElse("shuffle_write_bytes", 0.0)).sum / sequences
    rowSeconds.groupBy(_._1).foreach { case (row, xs) =>
      ctx.metrics(s"corpus.${row}_s") = median(xs.map(_._2).toSeq)
    }
  }

  def verify(): Unit = {
    val oracle = ctx.verify.putObject("oracle_sql")
    rows.foreach(r => SparkEntry.oracleSql.get(r).foreach(sql => oracle.put(r, sql)))
    ctx.verify.put("answers_dir", answers)
    ctx.verify.put("corpus_dir", corpus)
  }
}
