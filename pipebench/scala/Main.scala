package pipebench

import java.io.{File, FileInputStream}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.ServiceLoader

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PipebenchBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.sources.DataSourceRegister

import graft.core.ScopedCache
import graft.queries.PipelineQueries

/** The benchmark's JVM side, driven by run.py.
  *
  *   setup <cpus> <work>
  *     start a session, resolve the graft sources, print `SETUP <seconds>`
  *   run <workload> <in> <out> <seconds> <trace 0|1> <cpus>
  *     one cold pipeline run, one warm-up repeat, then at least two warm
  *     repeats, more while `seconds` (cold included) have not passed; with
  *     trace 1, untraced and traced repeats alternate (at least two of each).
  *     Writes <out>/record.json: confs, machine shape, every run, every span.
  */
object Main {
  // JVM start → main() in ms, then a monotonic clock from here on
  private val uptimeAtMainS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
  private val t0 = System.nanoTime()
  private def sinceJvmStart: Double = uptimeAtMainS + (System.nanoTime() - t0) / 1e9

  val GraftSources: Seq[String] = Seq("graft-grib", "graft-netcdf", "graft-cog",
    "graft-shp", "graft-grid", "graft-zarr", "graft-arrow")

  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("pipebench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", (cpus * 4).toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val found = ServiceLoader.load(classOf[DataSourceRegister],
      Thread.currentThread.getContextClassLoader).asScala.map(_.shortName()).toSet
    val missing = GraftSources.filterNot(found)
    require(missing.isEmpty, s"graft sources not resolvable: ${missing.mkString(", ")}")
    spark
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "setup" :: cpus :: work :: Nil =>
      val spark = session(cpus.toInt, work)
      val s = sinceJvmStart
      println(f"SETUP $s%.6f")
      spark.stop()
    case "run" :: workload :: in :: out :: seconds :: trace :: cpus :: Nil =>
      run(workload, in, out, seconds.toDouble, trace == "1", cpus.toInt)
    case _ =>
      System.err.println("usage: Main setup <cpus> <work> | " +
        "run <workload> <in> <out> <seconds> <trace 0|1> <cpus>")
      sys.exit(2)
  }

  private def run(name: String, in: String, out: String, seconds: Double,
      trace: Boolean, cpus: Int): Unit = {
    val spark = session(cpus, out)
    val setupS = sinceJvmStart
    val sc = spark.sparkContext
    val props = new java.util.Properties()
    val pin = new FileInputStream(s"$in/params.properties")
    try props.load(pin) finally pin.close()
    val wl = Workload(name, spark, in, new Params(props))
    val tracer = new Tracer(sc, trace)
    val listener = if (trace) Some(new ExecListener) else None
    listener.foreach(sc.addSparkListener)
    val runs = mutable.ArrayBuffer.empty[Map[String, Any]]

    def once(id: Int, kind: String): Unit = {
      val dir = f"$out/run_$id%03d"
      tracer.beginRun(id)
      listener.foreach { l => PipebenchBus.drain(sc); l.resetStoragePeak() }
      val start = System.nanoTime()
      val error =
        try {
          if (kind == "traced") tracer.span("pipeline")(wl.traced(dir, tracer))
          else wl.run(dir, tracer)
          None
        } catch { case NonFatal(e) => Some(e.toString) }
      val secs = (System.nanoTime() - start) / 1e9
      // everything below is outside the timed region
      val checkError = if (error.nonEmpty) None else
        try { wl.prepareCheck(dir); None }
        catch { case NonFatal(e) => Some(s"check preparation: $e") }
      var rec = Map[String, Any]("id" -> id, "kind" -> kind, "seconds" -> secs,
        "ok" -> error.isEmpty, "error" -> error.orElse(checkError).orNull,
        "dir" -> dir)
      listener.foreach { l =>
        rec += "live_heap_mb" -> HeapMonitor.liveHeapBytes() / (1024.0 * 1024.0)
        PipebenchBus.drain(sc)
        rec += "storage_peak_mb" -> l.storagePeakBytes / (1024.0 * 1024.0)
        rec += "exec" -> l.counters(id, None, secs, cpus)
        rec += "phases" -> tracer.spans.filter(s => s.run == id && s.parent < 0).map { s =>
          Map("name" -> s.name, "seconds" -> (s.endNs - s.startNs) / 1e9,
            "jobs" -> l.counters(id, Some(s.id), 0, cpus)("jobs"))
        }
      }
      runs += rec
      spark.catalog.clearCache()
      ScopedCache.releaseAll()
      System.gc()
    }

    val measureStart = System.nanoTime()
    def elapsed = (System.nanoTime() - measureStart) / 1e9
    once(0, "cold")
    // the first repeat still runs partly JIT-cold code; it is checked, not timed
    once(1, "warmup")
    var id = 2
    def count(kind: String) = runs.count(_("kind") == kind)
    def enough = count("warm") >= 2 && (!trace || count("traced") >= 2)
    while (!enough || elapsed < seconds) {
      once(id, if (trace && id % 2 == 1) "traced" else "warm")
      id += 1
    }

    val spans = listener.map { l =>
      tracer.spans.map { s =>
        Map("id" -> s.id, "name" -> s.name, "run" -> s.run, "parent" -> s.parent,
          "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
          "exec" -> l.counters(s.run, Some(s.id), (s.endNs - s.startNs) / 1e9, cpus))
      }.toSeq
    }.getOrElse(Nil)
    val rt = Runtime.getRuntime
    val record = Map(
      "workload" -> name,
      "trace" -> trace,
      "setup_s" -> setupS,
      "machine" -> Map("cpus" -> cpus, "available_processors" -> rt.availableProcessors,
        "heap_max_mb" -> rt.maxMemory / (1024.0 * 1024.0),
        "java" -> System.getProperty("java.version"), "spark" -> spark.version),
      "confs" -> scala.collection.immutable.TreeMap(spark.conf.getAll.toSeq: _*),
      "runs" -> runs.toSeq,
      "spans" -> spans,
      "oracle_sql" -> (if (name == "curation_dedup")
        PipelineQueries.curationOracleSql(
          "SELECT doc_id, lang, text FROM documents", PipelineQueries.hashEvalPredSql)
      else null))
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
      .writerWithDefaultPrettyPrinter().writeValueAsString(record)
    Files.write(new File(s"$out/record.json").toPath, json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
