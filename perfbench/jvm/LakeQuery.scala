package perfbench

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ArrayNode
import graft.lake.Lake
import graft.operators.{Quantiles, Winsorize}
import graft.query.Reader
import graft.time.MadridTime
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import PerfBench.{Ctx, median, nowS, percentile}

/** lake_query: a lake of about three months built in set-up by the market
  * transforms (one bulk upsert per dataset and market, then compaction),
  * then one client sending the manifest's seeded queries in a closed loop.
  * The traced run also lands one day of the daily ETL job, leg by leg, into
  * a copy of the lake: the write layers' figures come from it.
  */
final class LakeQuery(ctx: Ctx) extends Workload {
  import MarketLegs._
  private val m = ctx.m
  private val queries = m.get("queries").elements().asScala.toSeq
  private val root = s"${ctx.work}/lake"
  private val etlRoot = s"${ctx.work}/lake_etl" // the traced daily job's copy
  private val etlLegs = m.get("etl_legs").elements().asScala.toSeq
  private val latency = mutable.ArrayBuffer[(String, Double)]()
  private val firstAnswers = ctx.verify.putArray("answers")

  /** Every day of the lake, per dataset: (dataset, raw files, batch 0). */
  private val buildInputs: Seq[(String, Seq[String], Long)] =
    Seq("esios", "i90", "omie").map { ds =>
      (ds, m.get("build").get(ds).elements().asScala.map(_.asText).toSeq, 0L)
    }

  def setup(): Unit = {
    buildInputs.foreach { case (ds, paths, batch) =>
      ctx.op(s"build $ds")(upsert(ctx, ds, transformed(ctx, ds, paths, batch), root))
    }
    ctx.op("build compact")(compact(ctx, root))
    // the JIT warm pass: one query of every kind, from another stream
    m.get("warm_queries").elements().asScala.zipWithIndex.foreach { case (q, i) =>
      if (i % SettleEvery == 0) PerfBench.settle()
      ctx.op("warm query")(run(q))
    }
  }

  // a full collection every few queries, outside the timed windows
  private val SettleEvery = 10

  private def lake(ds: String) = lakePath(root, ds)

  private def s(q: JsonNode, k: String) = q.get(k).asText

  private def ids(q: JsonNode, k: String = "ids"): Seq[Int] =
    q.get(k).elements().asScala.map(_.asInt).toSeq

  /** One query from construction to its last row. */
  private def run(q: JsonNode): Seq[Row] = {
    val spark = ctx.spark
    val (from, to) = (s(q, "from"), s(q, "to"))
    def collect(df: DataFrame): Seq[Row] =
      ctx.span("engine.collect")(df.collect().toSeq)
    def precios(mercado: String, is: Seq[Int]): DataFrame =
      ctx.span("query.Reader.precios")(
        Reader.precios(spark, lake("esios"), mercado, is, from, to))
        .select("datetime_utc", "id_mercado", "precio")
    s(q, "template") match {
      case "point" => collect(precios(s(q, "mercado"), ids(q)))
      case "range" =>
        val mk = q.get("markets").fields().asScala
          .map(e => e.getKey -> e.getValue.elements().asScala.map(_.asInt).toSeq).toMap
        collect(ctx.span("query.Reader.preciosMulti")(
          Reader.preciosMulti(spark, lake("esios"), mk, from, to))
          .select("datetime_utc", "id_mercado", "precio"))
      case "join" =>
        val vol = ctx.span("lake.read")(
          Lake.read(spark, lake("omie"), Some("diario"), Seq(1), Some(from), Some(to)))
          .select("datetime_utc", "id_mercado", "uof", "volumenes")
        val j = ctx.span("query.Reader.joinPreciosVolumenes")(
          Reader.joinPreciosVolumenes(precios("diario", Seq(1)), vol))
        collect(j.groupBy("datetime_utc")
          .agg(sum("importe").as("importe"), count(lit(1)).as("n")))
      case "window" if s(q, "kind") == "rolling" =>
        collect(ctx.span("query.Reader.rollingAvg")(
          Reader.rollingAvg(precios(s(q, "mercado"), ids(q)), "precio", 24)))
      case "window" =>
        collect(ctx.span("time.MadridTime.downsampleToHour")(
          MadridTime.downsampleToHour(precios(s(q, "mercado"), ids(q)),
            "datetime_utc", Seq("id_mercado"), Seq("precio"), Nil)))
      case "quantiles" =>
        val base = ctx.span("lake.read")(
          Lake.read(spark, lake("i90"), None, Nil, Some(from), Some(to)))
        if (s(q, "kind") == "exact")
          ctx.span("operators.Quantiles.exactCol")(
            Seq(Row.fromSeq(Quantiles.exactCol(base, "volumenes", Seq(0.01, 0.5, 0.99)))))
        else collect(ctx.span("operators.Winsorize.winsorizedStats")(
          Winsorize.winsorizedStats(spark, base, "volumenes", 0.01, 0.99)))
      case "sql_view" =>
        ctx.span("query.Reader.registerView")(
          Reader.registerView(spark, lake("omie"), "vol_omie"))
        collect(spark.sql(
          s"""SELECT uof, sum(volumenes) AS v, count(*) AS n FROM vol_omie
              WHERE datetime_utc >= TIMESTAMP '$from'
                AND datetime_utc < TIMESTAMP '$to'
              GROUP BY uof ORDER BY v DESC, uof LIMIT ${q.get("limit").asInt}"""))
    }
  }

  /** Answer rows as JSON: timestamps as epoch microseconds, numbers as
    * doubles (exact for the lake's float and double columns).
    */
  private def record(i: Int, rows: Seq[Row]): Unit = {
    val a = firstAnswers.addObject()
    a.put("i", i)
    val arr: ArrayNode = a.putArray("rows")
    rows.foreach { r =>
      val o = arr.addArray()
      r.toSeq.foreach {
        case null => o.addNull()
        case t: java.sql.Timestamp => o.add(t.getTime / 1000 * 1000000L + t.getNanos / 1000)
        case t: java.time.Instant => o.add(t.getEpochSecond * 1000000L + t.getNano / 1000)
        case n: java.lang.Number => o.add(n.doubleValue())
        case x => o.add(x.toString)
      }
    }
  }

  def timed(mode: Mode): Double = {
    var wall = 0.0
    queries.zipWithIndex.foreach { case (q, i) =>
      val tpl = s(q, "template")
      if (i % SettleEvery == 0) PerfBench.settle()
      val ts = nowS()
      val res = ctx.op(s"query $i $tpl")(ctx.span(s"query.$tpl") {
        val rows = run(q)
        ctx.tracer.note("rows_returned", rows.size)
        rows
      })
      val dt = nowS() - ts
      wall += dt
      if (mode == Measure) {
        latency += tpl -> dt
        res.foreach(record(i, _))
      }
    }
    if (mode == Measure) {
      val all = latency.map(_._2).toSeq
      ctx.metrics("op_p50_ms") = median(all) * 1e3
      ctx.metrics("op_p90_ms") = percentile(all, 0.9) * 1e3
      ctx.metrics("throughput_per_s") = queries.size / wall
      ctx.metrics("ops") = queries.size
      System.err.println("[perfbench] query medians ms: " + latency.groupBy(_._1).toSeq
        .sortBy(_._1).map { case (k, xs) => f"$k=${median(xs.map(_._2).toSeq) * 1e3}%.0f/${xs.size}" }
        .mkString(" "))
    }
    wall
  }

  def layerMetrics(): Unit = {
    queryLayerMetrics()
    // the daily job, traced, into a copy of the lake, so that the answers
    // checked against DuckDB stay those of the lake the queries read
    PerfBench.copyTree(root, etlRoot)
    ctx.tracer.enable()
    dailyJob(ctx, etlLegs, etlRoot)
    ctx.tracer.disable()
    writeLayerMetrics(ctx, etlLegs.map(l => legFrame(ctx, l).count()).sum, etlRoot)
  }

  private def queryLayerMetrics(): Unit = {
    val t = ctx.tracer
    val qs = t.roots.filter(_.name.startsWith("query."))
    val inc = qs.map(t.inclusive)
    def mean(k: String) = inc.map(_.getOrElse(k, 0.0)).sum / inc.size
    ctx.metrics("query.plan_ms") = mean("plan_ms")
    ctx.metrics("query.jobs_per_query") = mean("jobs")
    ctx.metrics("query.tasks_per_query") = mean("tasks")
    ctx.metrics("query.exec_ms") = mean("action_ms")
    ctx.metrics("query.bytes_read_per_query") = mean("input_bytes")
    ctx.metrics("query.files_read_per_query") = mean("files_read")
    ctx.metrics("query.scan_selectivity") =
      inc.map(_.getOrElse("rows_returned", 0.0)).sum /
        math.max(1.0, inc.map(_.getOrElse("rows_scanned", 0.0)).sum)
    latency.groupBy(_._1).foreach { case (tpl, xs) =>
      val name = if (tpl == "quantiles") "operators.quantiles_ms" else s"query.${tpl}_ms"
      ctx.metrics(name) = median(xs.map(_._2).toSeq) * 1e3
    }
    val qj = qs.filter(_.name == "query.quantiles").map(s => t.inclusive(s).getOrElse("jobs", 0.0))
    if (qj.nonEmpty) ctx.metrics("operators.quantiles_jobs") = qj.sum / qj.size
  }

  def verify(): Unit = {
    ctx.verify.put("lake_root", root)
    // the keep-last gate, on the daily job's lake (traced runs only: the
    // untraced runs land no leg, and their queries' answers are checked)
    if (ctx.trace) writeTransformed(ctx, buildInputs ++ etlLegs.map(l =>
      (l.get("ds").asText, Seq(l.get("path").asText), l.get("batch").asLong)), etlRoot)
    var files = 0; var parts = 0; var bytes = 0L; var live = 0L
    Seq("esios", "i90", "omie").foreach { ds =>
      val (f, p, b) = layout(lake(ds))
      files += f; parts += p; bytes += b
      live += ctx.spark.read.parquet(lake(ds)).count()
    }
    ctx.metrics("lake.stored_bytes_per_row") = bytes.toDouble / live
    ctx.metrics("lake.files_per_partition") = files.toDouble / parts
  }
}
