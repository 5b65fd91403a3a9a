package pipebench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.PlanHash
import graft.operators.{Dedup, DeforestationPipeline, FloodOps, FloodPipeline, PrefixSum}
import graft.queries.PipelineQueries
import graft.sources.RasterContract
import graft.sources.nc.Hdf5Writer

/** Generator parameters of one input set (params.properties, written by run.py). */
final class Params(p: java.util.Properties) {
  def str(k: String): String =
    Option(p.getProperty(k)).getOrElse(sys.error(s"params: missing '$k'"))
  def int(k: String): Int = str(k).toInt
  def double(k: String): Double = str(k).toDouble
}

/** One benchmark pipeline. `run` is the job as a user composes it from the
  * public entry points; its `queries.*` spans only split the call into
  * building, planning and executing. `traced` makes the same calls one
  * module at a time in the pipeline's order, materializing each result
  * inside that module's span, and must write the same outputs.
  */
trait Workload {
  def run(out: String, tr: Tracer): Unit
  def traced(out: String, tr: Tracer): Unit
  /** Untimed: turn outputs DuckDB cannot read into parquet for the check. */
  def prepareCheck(out: String): Unit = ()
}

object Workload {
  def apply(name: String, spark: SparkSession, in: String, p: Params): Workload =
    name match {
      case "flood_e2e" => new Flood(spark, in, p)
      case "deforestation_zonal" => new Deforestation(spark, in, p)
      case "curation_dedup" => new Curation(spark, in)
      case other => sys.error(s"unknown workload '$other'")
    }

  /** Cache and count: the materialization point of a traced module call. */
  def keep(df: DataFrame): DataFrame = {
    val c = df.cache()
    c.count()
    c
  }
}

import Workload.keep

/** GRIB2 ensemble + RP NetCDF thresholds → FloodPipeline → detailed and
  * summary parquet + the summary intensity grid as NetCDF-4.
  */
final class Flood(spark: SparkSession, in: String, p: Params) extends Workload {
  private val cell = Seq("latitude", "longitude")
  private val n = p.int("n")
  private def round3(d: Double): Double =
    BigDecimal(d).setScale(FloodPipeline.Precision, BigDecimal.RoundingMode.HALF_UP).toDouble
  // the grid exactly as the GRIB reader derives it, then rounded like roundCoords
  private val lats = Array.tabulate(n)(j => round3(p.double("la1") - j * p.double("res")))
  private val lons = Array.tabulate(n)(i => round3(p.double("lo1") + i * p.double("res")))

  private def grib(file: String, dataType: String): DataFrame =
    spark.read.format("graft-grib").option("path", s"$in/$file")
      .option("withStep", "true").load()
      .filter(col("data_type") === dataType).drop("data_type")

  private def forecast: DataFrame =
    RasterContract.concatEnsemble(grib("cf.grib2", "cf"), grib("pf.grib2", "pf"))
      .select(col("number"), col("latitude"), col("longitude"),
        lit("2026-01-01").cast("date").as("issued_on"),
        expr("CAST(step_hours div 24 AS INT)").as("step"),
        expr("date_add(DATE'2026-01-01', CAST(step_hours div 24 AS INT))").as("valid_for"),
        col("value").as("dis24"))

  private def thresholds: DataFrame =
    FloodOps.restrictArea(
      spark.read.format("graft-netcdf")
        .option("paths", Seq(2, 5, 20).map(rp => s"$in/rp$rp.nc").mkString(","))
        .option("vars", "2yRP_GloFASv4,5yRP_GloFASv4,20yRP_GloFASv4")
        .option("cols", "threshold_2y,threshold_5y,threshold_20y")
        .load(),
      p.double("lat_min"), p.double("lat_max"), p.double("lon_min"), p.double("lon_max"))

  private def levels(summary: DataFrame): DataFrame =
    summary.select(col("latitude"), col("longitude"),
      when(col("intensity") === FloodOps.Intensities("purple"), 4)
        .when(col("intensity") === FloodOps.Intensities("red"), 3)
        .otherwise(2).as("level"))

  private def writeGrid(summary: DataFrame, out: String): Unit =
    Hdf5Writer.writeGrid(levels(summary), s"$out/intensity.nc", "intensity",
      "latitude", "longitude", "level", lats, lons, chunkRows = 16)

  def run(out: String, tr: Tracer): Unit = {
    val (detailed, summary) = tr.span("queries.build") {
      FloodPipeline.run(forecast, thresholds)
    }
    tr.span("queries.plan") {
      Seq(detailed, summary).foreach(_.queryExecution.executedPlan)
    }
    tr.span("queries.exec") {
      detailed.write.parquet(s"$out/detailed")
      summary.write.parquet(s"$out/summary")
      writeGrid(summary, out)
    }
  }

  def traced(out: String, tr: Tracer): Unit = {
    import FloodPipeline.{HalfGrid, Precision}
    val fc = tr.span("sources.grib.read")(keep(forecast))
    val th = tr.span("sources.nc.read")(keep(thresholds))
    val detailed = tr.span("operators.flood.detailed") {
      keep(FloodOps.withControl(FloodOps.thresholdPercentages(
        FloodOps.roundCoords(fc, Precision), FloodOps.roundCoords(th, Precision))))
    }
    val summary = tr.span("operators.flood.summary")(keep(FloodPipeline.summarize(detailed)))
    val (detailedWkt, summaryWkt) = tr.span("operators.flood.geometry") {
      (keep(FloodOps.addGeometry(
        detailed.join(broadcast(summary.select(cell.map(col): _*)), cell, "left_semi"),
        HalfGrid, Precision)),
        keep(FloodOps.addGeometry(summary, HalfGrid, Precision)))
    }
    tr.span("sinks.parquet.write") {
      detailedWkt.write.parquet(s"$out/detailed")
      summaryWkt.write.parquet(s"$out/summary")
    }
    tr.span("sources.nc.write")(writeGrid(summaryWkt, out))
  }

  override def prepareCheck(out: String): Unit =
    spark.read.format("graft-netcdf").option("path", s"$out/intensity.nc")
      .option("var", "intensity").load()
      .filter(!isnan(col("value")))
      .write.parquet(s"$out/intensity_readback")
}

/** Tiled GeoTIFF lossyear raster + basin shapefile → tree loss per year
  * block and per basin, both written as parquet.
  */
final class Deforestation(spark: SparkSession, in: String, p: Params) extends Workload {
  private val res = p.double("res")

  private def pixels: DataFrame =
    spark.read.format("graft-cog").option("path", s"$in/lossyear.tif").load()
      .select(col("x"), col("y"), col("value").as("lossyear"))

  private def basins: DataFrame =
    spark.read.format("graft-shp").option("path", s"$in/basins.shp")
      .option("idfield", "HYBAS_ID").load()
      .select(col("zone").as("HYBAS_ID"),
        array_min(col("ys")).as("lat_min"), array_max(col("ys")).as("lat_max"),
        array_min(col("xs")).as("lon_min"), array_max(col("xs")).as("lon_max"))
      .withColumn("basin_area",
        (col("lat_max") - col("lat_min")) * (col("lon_max") - col("lon_min")))

  private def perYear(px: DataFrame): DataFrame =
    DeforestationPipeline.treeLossPerYear(px, 200 * res, 1, 22)

  private def perBasin(px: DataFrame, boxes: DataFrame): DataFrame =
    DeforestationPipeline.treeLossPerBasin(px, boxes, p.double("oy"), p.double("ox"),
      res, 1, 22, indexCellSize = p.double("basin_cell"))

  def run(out: String, tr: Tracer): Unit = {
    val (year, basin) = tr.span("queries.build") {
      val px = pixels
      (perYear(px), perBasin(px, basins))
    }
    tr.span("queries.plan")(Seq(year, basin).foreach(_.queryExecution.executedPlan))
    tr.span("queries.exec") {
      year.write.parquet(s"$out/per_year")
      basin.write.parquet(s"$out/per_basin")
    }
  }

  def traced(out: String, tr: Tracer): Unit = {
    val px = tr.span("sources.tiff.read")(keep(pixels))
    val boxes = tr.span("sources.shp.read")(keep(basins))
    val year = tr.span("operators.deforestation.per_year")(keep(perYear(px)))
    val basin = tr.span("operators.deforestation.per_basin")(keep(perBasin(px, boxes)))
    tr.span("sinks.parquet.write") {
      year.write.parquet(s"$out/per_year")
      basin.write.parquet(s"$out/per_basin")
    }
  }
}

/** Documents parquet → the q147 curation DAG → training manifest parquet. */
final class Curation(spark: SparkSession, in: String) extends Workload {
  private def docs: DataFrame =
    spark.read.parquet(s"$in/documents.parquet")
      .select(col("doc_id"), col("lang"), col("text"))

  def run(out: String, tr: Tracer): Unit = {
    val manifest = tr.span("queries.build") {
      val d = docs
      PipelineQueries.curationPipeline(d, PipelineQueries.hashEvalPred(d.count()))
    }
    tr.span("queries.plan")(manifest.queryExecution.executedPlan)
    tr.span("queries.exec")(manifest.write.parquet(s"$out/manifest"))
  }

  /** curationPipeline's stages, one span each, in its order. */
  def traced(out: String, tr: Tracer): Unit = {
    val raw = tr.span("sources.parquet.read")(keep(docs))
    val evalPred = PipelineQueries.hashEvalPred(raw.count())
    val quality = tr.span("queries.pipeline.quality")(keep(PipelineQueries.qualityGate(raw)))
    val exact = tr.span("queries.pipeline.exact") {
      keep(quality
        .withColumn("rn", row_number().over(
          Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
        .filter(col("rn") === 1).drop("rn"))
    }
    val near = tr.span("operators.dedup.minhash") {
      PlanHash.localCheckpointTracked(
        Dedup.minhashDedup(exact, "doc_id", "text", threshold = 0.8))
    }
    val clean = tr.span("queries.pipeline.decontam") {
      val evalGrams = Dedup.wordGramKeys(raw.filter(evalPred), "doc_id", "text")
        .select("gk").distinct()
      val trainSide = near.filter(!evalPred)
      val contaminated = Dedup.wordGramKeys(trainSide, "doc_id", "text")
        .join(evalGrams, "gk").select("doc_id").distinct()
      PlanHash.localCheckpointTracked(
        trainSide.join(contaminated, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("lang"), col("quality"),
            col("n_tokens").cast("long").as("n_tokens")))
    }
    val manifest = tr.span("operators.prefixsum.budget") {
      val withCum = PrefixSum.runningSum(
        clean, Seq(col("quality").desc, col("doc_id").asc), col("n_tokens"), "cum_tokens")
      val total = clean.agg(sum("n_tokens").as("total_tokens"))
      keep(withCum.crossJoin(broadcast(total))
        .filter(col("cum_tokens") * 2 <= col("total_tokens"))
        .select(col("doc_id"), col("lang"), round(col("quality"), 6).as("quality"),
          col("n_tokens"), col("cum_tokens")))
    }
    tr.span("sinks.parquet.write")(manifest.write.parquet(s"$out/manifest"))
  }
}
