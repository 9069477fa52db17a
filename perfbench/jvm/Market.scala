package perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.ingest.Ingest
import graft.lake.Lake
import graft.link.Linking
import graft.transform.{EsiosTransform, I90Transform, OmieTransform}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

import PerfBench.Ctx

/** The market datasets as the reference's daily job lands them: raw file →
  * ingest → transform → keyed keep-last upsert into the partitioned lake.
  */
object MarketLegs {

  /** Market id → lake mercado folder (Reader.MarketIds), for the markets
    * the generated ESIOS batches carry.
    */
  val PreciosMercados: Seq[(String, Seq[Int])] = Seq(
    "diario" -> Seq(1), "intra" -> Seq(2, 3, 4, 5, 6, 7, 8))

  val I90Ids: Seq[String] =
    Seq("Unidad de Programación", "fecha", "Sentido", "Redespacho", "granularity")

  val EsiosRaw = StructType(Seq(
    StructField("datetime_utc", TimestampType), StructField("value", DoubleType),
    StructField("indicador_id", IntegerType), StructField("granularidad", StringType),
    StructField("geo_name", StringType)))

  val OmieRaw = StructType(Seq(
    StructField("Fecha", DateType), StructField("Unidad", StringType),
    StructField("Energía Compra/Venta", StringType),
    StructField("Ofertada (O)/Casada (C)", StringType),
    StructField("Tipo Oferta", StringType), StructField("Hora", IntegerType)))

  /** The wide sheet's hour labels, read from its header line (23, 24 or 25
    * of them, depending on the day's DST transition).
    */
  def i90HourCols(path: String): Seq[String] = {
    val r = java.nio.file.Files.newBufferedReader(java.nio.file.Paths.get(path),
      java.nio.charset.StandardCharsets.UTF_8)
    try r.readLine().split(";").toSeq.drop(I90Ids.size) finally r.close()
  }

  def i90Schema(hours: Seq[String]): StructType = StructType(
    I90Ids.map(n => StructField(n, if (n == "fecha") DateType else StringType)) ++
      hours.map(StructField(_, DoubleType)))

  /** Lazy transformed frame of one dataset's raw files (one day, or a bulk
    * of days); `batch` is the keep-last precedence.
    */
  def transformed(ctx: Ctx, ds: String, paths: Seq[String], batch: Long): DataFrame = {
    val spark = ctx.spark
    val out = ds match {
      case "esios" =>
        val raw = ctx.span("ingest.csv")(spark.read.schema(EsiosRaw)
          .option("header", "true").csv(paths: _*))
        ctx.span("transform.EsiosTransform.transform")(EsiosTransform.transform(raw))
      case "i90" =>
        // files sharing a header (the same DST shape) read as one frame
        paths.groupBy(i90HourCols).toSeq.sortBy(_._1.size).map { case (hours, ps) =>
          val wide = ctx.span("ingest.csv")(spark.read.schema(i90Schema(hours))
            .option("header", "true").option("sep", ";").csv(ps: _*))
          ctx.span("transform.I90Transform.transform")(
            I90Transform.transform(spark, wide, I90Ids, hours))
        }.reduce(_ unionByName _)
      case "omie" =>
        val raw = ctx.span("ingest.Ingest.readOmieCsv")(
          Ingest.readOmieCsv(spark, paths.mkString(","), OmieRaw, skipLines = 2))
        ctx.span("transform.OmieTransform.transform")(
          OmieTransform.transform(raw, idMercado = 1, quarterHourly = false))
    }
    out.withColumn("batch_id", lit(batch))
  }

  def lakePath(root: String, ds: String): String = ds match {
    case "esios" => s"$root/precios"
    case "i90" => s"$root/volumenes_i90"
    case "omie" => s"$root/volumenes_omie"
  }

  /** Keyed keep-last upsert(s) of one transformed frame. */
  def upsert(ctx: Ctx, ds: String, df: DataFrame, root: String): Unit = {
    val path = lakePath(root, ds)
    def up(frame: DataFrame, mercado: String, keys: Seq[String]): Unit =
      ctx.span("lake.upsert")(
        Lake.upsert(ctx.spark, frame, path, mercado, keys, "batch_id"))
    ds match {
      case "esios" => PreciosMercados.foreach { case (m, ids) =>
        up(df.filter(col("id_mercado").isin(ids: _*)), m,
          Seq("datetime_utc", "id_mercado"))
      }
      case "i90" => up(df, "restricciones", Seq("datetime_utc", "up", "id_mercado"))
      case "omie" => up(df, "diario", Seq("datetime_utc", "uof"))
    }
  }

  /** UP↔UOF linking over one window of the lake; returns the match count. */
  def link(ctx: Ctx, root: String, from: String, to: String): Long =
    ctx.span("link.link") {
      val spark = ctx.spark
      val ups = Lake.read(spark, lakePath(root, "i90"), None, Nil, Some(from), Some(to))
        .select(col("up").as("entity"), lit(1).as("id_mercado"),
          col("datetime_utc").as("hour"), col("volumenes"))
      val uofs = Lake.read(spark, lakePath(root, "omie"), None, Nil, Some(from), Some(to))
        .select(col("uof").as("entity"), col("id_mercado"),
          col("datetime_utc").as("hour"), col("volumenes"))
      Linking.link(ups, uofs).count()
    }

  def compact(ctx: Ctx, root: String): Unit =
    Seq("esios", "i90", "omie").foreach { ds =>
      val p = lakePath(root, ds)
      if (new java.io.File(p).exists)
        ctx.span("lake.compact")(Lake.compact(ctx.spark, p))
    }

  /** (parquet files, leaf partitions, bytes) of a lake dataset. */
  def layout(path: String): (Int, Int, Long) = {
    val root = java.nio.file.Paths.get(path)
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") &&
        !root.relativize(p).iterator().asScala.exists(_.toString.startsWith(".")))
      .toSeq
    (files.size, files.map(_.getParent).distinct.size,
      files.map(p => java.nio.file.Files.size(p)).sum)
  }

  def dayWindow(from: String, to: String): (String, String) = {
    val f = java.time.LocalDate.parse(from).minusDays(1)
    val t = java.time.LocalDate.parse(to).plusDays(1)
    (s"$f 00:00:00", s"$t 00:00:00")
  }

  /** The daily job over the manifest's legs, one at a time into the lake at
    * `root`: each leg's raw file → ingest → transform → keep-last upsert;
    * then UP↔UOF linking over the week that ends on the legs' day, then
    * compaction.
    */
  def dailyJob(ctx: Ctx, legs: Seq[JsonNode], root: String): Unit = {
    legs.foreach { leg =>
      PerfBench.settle()
      ctx.op(s"leg ${leg.get("ds").asText} ${leg.get("day").asText} r${leg.get("rev").asText}")(
        ctx.span("etl.leg")(upsert(ctx, leg.get("ds").asText, legFrame(ctx, leg), root)))
    }
    val day = java.time.LocalDate.parse(legs.head.get("day").asText)
    val (f, t) = dayWindow(day.minusDays(6).toString, day.toString)
    ctx.op("link")(link(ctx, root, f, t))
    ctx.op("compact")(compact(ctx, root))
  }

  def legFrame(ctx: Ctx, leg: JsonNode): DataFrame =
    transformed(ctx, leg.get("ds").asText, Seq(leg.get("path").asText), leg.get("batch").asLong)

  /** The write layers of the traced daily job: every ingest, transform,
    * upsert, link and compaction span recorded so far.
    */
  def writeLayerMetrics(ctx: Ctx, rowsLanded: Long, lakeRoot: String): Unit = {
    val t = ctx.tracer
    def sumOf(prefix: String, k: String): Double =
      t.named(prefix).map(s => t.inclusive(s).getOrElse(k, 0.0)).sum
    def secs(prefix: String): Double = t.named(prefix).map(_.seconds).sum
    val construct = t.named("ingest.") ++ t.named("transform.")
    ctx.metrics("transform.construct_s") = construct.map(_.seconds).sum
    ctx.metrics("transform.construct_jobs") =
      construct.map(s => t.inclusive(s).getOrElse("jobs", 0.0)).sum
    val upS = secs("lake.upsert")
    ctx.metrics("lake.upsert_s") = upS
    ctx.metrics("lake.upsert_jobs") = sumOf("lake.upsert", "jobs")
    ctx.metrics("lake.upsert_tasks") = sumOf("lake.upsert", "tasks")
    ctx.metrics("lake.upsert_core_util") =
      sumOf("lake.upsert", "task_run_s") / (upS * ctx.cores)
    ctx.metrics("lake.rewrite_ratio") = sumOf("lake.upsert", "output_records") / rowsLanded
    val lakeBytes = Seq("esios", "i90", "omie").map(ds => layout(lakePath(lakeRoot, ds))._3).sum
    ctx.metrics("lake.write_amp") =
      (sumOf("lake.upsert", "output_bytes") + sumOf("lake.compact", "output_bytes")) / lakeBytes
    ctx.metrics("lake.compact_s") = secs("lake.compact")
    ctx.metrics("lake.compact_bytes_rewritten") = sumOf("lake.compact", "output_bytes")
    ctx.metrics("link.link_s") = secs("link.link")
  }

  /** For the keep-last gate: every row handed to the lake at `lakeRoot`
    * (the transformed frames of `inputs`: dataset, raw files, batch),
    * written to parquet untimed; run.py compares the lake with an
    * independent keep-last over them.
    */
  def writeTransformed(ctx: Ctx, inputs: Seq[(String, Seq[String], Long)],
      lakeRoot: String): Unit = {
    val vdir = s"${ctx.work}/verify"
    Seq("esios", "i90", "omie").foreach { ds =>
      ctx.op(s"verify transformed $ds") {
        val all = inputs.filter(_._1 == ds)
          .map { case (_, paths, batch) => transformed(ctx, ds, paths, batch) }
          .reduce(_ unionByName _)
        val tagged = if (ds != "esios") all else all.withColumn("mercado",
          PreciosMercados.foldLeft(lit(null).cast(StringType)) { case (c, (mk, ids)) =>
            when(col("id_mercado").isin(ids: _*), lit(mk)).otherwise(c)
          })
        tagged.write.mode("overwrite").parquet(s"$vdir/$ds")
      }
      ctx.verify.put(s"transformed_$ds", s"$vdir/$ds")
      ctx.verify.put(s"lake_$ds", lakePath(lakeRoot, ds))
    }
  }
}
