package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.SparkEntry
import graft.operators.Merge
import graft.pipeline.{CatalogDdl, TradeInPipeline, TradeInSchema}
import graft.sources.{ApiSource, QuarantiningJsonSource}

/** One benchmark process: builds a production-shaped session, runs one
  * workload, and writes what it measured as JSON.
  *
  * Usage: `perfbench.Main <config.properties> <result.json>`. The config
  * is written by `perfbench/run.py`, which generates the inputs, launches
  * this process and checks its outputs. Every operation is timed here;
  * correctness is judged by the caller against its own expectations. */
object Main {

  def main(args: Array[String]): Unit = {
    val conf = new java.util.Properties()
    val in = Files.newBufferedReader(Paths.get(args(0)), StandardCharsets.UTF_8)
    try conf.load(in) finally in.close()
    def get(k: String): String = Option(conf.getProperty(k))
      .getOrElse(throw new IllegalArgumentException(s"missing config key $k"))

    val work = get("work")
    val spark = SparkSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors}]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    val ready = System.currentTimeMillis()
    spark.sparkContext.setLogLevel("ERROR")

    val out = mutable.LinkedHashMap[String, Any]("ready_ms" -> ready)
    val code =
      try {
        get("workload") match {
          case "setup" => ()
          case "daily" => new Daily(spark, get).run(out)
          case "queries" => new Queries(spark, get).run(out)
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
        if (get("workload") != "setup") out("memory") = Memory.retained()
        0
      } catch {
        case e: Throwable => e.printStackTrace(); 1
      } finally {
        Files.writeString(Paths.get(args(1)), Json(out) + "\n")
      }
    // Everything is measured and written; skip the session's orderly
    // shutdown, which no metric includes.
    Runtime.getRuntime.halt(code)
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def errorOf(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(500)}"

  def traceMetrics(tr: Tracer, extra: Seq[(String, Double)]): Map[String, Double] = {
    val layers = tr.layers()
    val named = layers.toSeq.flatMap { case (layer, m) => m.toMap(layer) }
    val runS = layers.values.map(_.runS).sum
    val wall = layers.values.map(_.wall).sum
    val cores = Runtime.getRuntime.availableProcessors
    (named ++ extra ++ Seq(
      "spark.codegen_s" -> layers.values.map(_.compileS).sum,
      "query.plan_s" -> layers.values.map(_.planS).sum,
      "spark.core_util" -> (if (wall > 0) runS / (wall * cores) else 0.0))).toMap
  }
}

/** The daily ETL's stages composed exactly as `TradeInPipeline.run`
  * composes them (partitioned target, catalog registration on), each
  * wrapped in a trace span. The caller checks that it produces the same
  * counts and target as `run` itself. */
final class TracedPipeline(spark: SparkSession, tr: Tracer, source: ApiSource,
    stagingPath: String, targetPath: String, now: Column) {
  import TradeInSchema._

  private val names = TradeInPipeline.Names()

  private def exists(path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def empty(schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  def run(params: Map[String, String]): (TradeInPipeline.EtlResult, Seq[String]) = {
    val metrics = mutable.LinkedHashMap.empty[String, Long]
    tr.span("ddl") {
      CatalogDdl.migrateRename(spark, names.legacyStaging, names.staging)
      CatalogDdl.ensureTable(spark, names.staging, stagingSchema, Some(stagingPath))
      CatalogDdl.ensureTable(spark, names.target, targetSchema, Some(targetPath))
    }
    val raw = tr.span("fetch")(source.fetch(spark, params))
    tr.span("load_staging") {
      val staged = TradeInPipeline.stage(raw, now)
      val prior = if (exists(stagingPath)) spark.read.schema(stagingSchema).parquet(stagingPath)
        else empty(stagingSchema)
      val obs = Observation()
      Merge.writeSnapshot(
        prior.unionByName(staged).observe(obs, count(lit(1)).as("staged_rows")), stagingPath)
      metrics("staged_rows") = obs.get("staged_rows").asInstanceOf[Long]
    }
    val staging = spark.read.schema(stagingSchema).parquet(stagingPath)
    val parts = tr.span("merge") {
      TradeInPipeline.mergeIntoTargetPartitioned(spark, targetPath, staging, now)
    }
    val (ins, upd) = tr.span("counts") {
      val target = if (exists(targetPath))
        spark.read.parquet(targetPath).select(targetSchema.fieldNames.map(col).toSeq: _*)
        else empty(targetSchema)
      TradeInPipeline.todayCounts(target, now)
    }
    tr.span("retention") {
      val obs = Observation()
      Merge.writeSnapshot(TradeInPipeline.retainToday(staging, now)
        .observe(obs, count(lit(1)).as("retained_rows")), stagingPath)
      metrics("retained_rows") = obs.get("retained_rows").asInstanceOf[Long]
    }
    (TradeInPipeline.EtlResult(ins, upd, metrics.toMap), parts)
  }
}

/** Consecutive daily runs over a seeded history, in this fresh JVM: the
  * first run is the cold one every production run pays. A traced process
  * follows `trace_pattern`: a `T` day is composed under spans, a `U` day
  * goes through `TradeInPipeline.run` with the listeners detached. */
final class Daily(spark: SparkSession, get: String => String) {
  private val rawSchema =
    StructType(TradeInSchema.rawColumns.map(StructField(_, StringType)))
  private val traced = get("trace") == "1"
  private lazy val tracer = new Tracer(spark)
  private var partsWritten, filesWritten = 0L

  def run(out: mutable.Map[String, Any]): Unit = {
    val days = get("days").split(",").toSeq.map(_.split("\\|")).map(a => (a(0), a(1)))
    val minDays = get("min_days").toInt
    val pattern = get("trace_pattern")
    val seconds = get("seconds").toDouble
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    var warmStart = 0L
    def more: Boolean =
      if (traced) ops.size < pattern.length
      else ops.size < minDays || Main.seconds(warmStart) < seconds
    while (ops.size < days.size && (ops.isEmpty || more)) {
      val i = ops.size
      val (file, now) = days(i)
      ops += runOnce(i, file, now, f"${get("quarantine")}/day-$i%02d",
        withTrace = traced && pattern(i) == 'T')
      if (i == 0) warmStart = System.nanoTime()
    }
    out("ops") = ops.toSeq
    if (traced) {
      def sum(k: String) = ops.filter(_("traced") == true)
        .map(_.getOrElse(k, 0L).asInstanceOf[Long].toDouble).sum
      out("trace") = Main.traceMetrics(tracer, Seq(
        "pipeline.staged_rows" -> sum("staged_rows"),
        "pipeline.retained_rows" -> sum("retained_rows"),
        "merge.partitions_rewritten" -> partsWritten.toDouble,
        "merge.files_written" -> filesWritten.toDouble))
    }
  }

  private def runOnce(index: Int, input: String, now: String, quarantine: String,
      withTrace: Boolean): Map[String, Any] = {
    val (staging, target) = (get("staging"), get("target"))
    val nowCol = () => lit(now).cast("timestamp")
    val source = new QuarantiningJsonSource(input, rawSchema, quarantine)
    val params = Map("StartDate" -> now, "StopDate" -> now)
    if (withTrace) tracer.attach() else if (traced) tracer.detach()
    val rec = mutable.LinkedHashMap[String, Any]("index" -> index, "traced" -> withTrace)
    val t0 = System.nanoTime()
    try {
      val result =
        if (withTrace) {
          val (r, parts) = new TracedPipeline(spark, tracer, source, staging, target,
            nowCol()).run(params)
          rec("wall_s") = Main.seconds(t0)
          partsWritten += parts.size
          filesWritten += parts.map { p =>
            val dir = new java.io.File(s"$target/${TradeInPipeline.partitionDayCol}=$p")
            Option(dir.listFiles()).getOrElse(Array.empty).count(_.getName.endsWith(".parquet"))
          }.sum
          r
        } else {
          val r = new TradeInPipeline(source, staging, target, now = nowCol).run(spark, params)
          rec("wall_s") = Main.seconds(t0)
          r
        }
      rec("stage_ms") = result.metrics.filter(_._1.endsWith("_ms"))
      rec("inserted") = result.inserted
      rec("updated") = result.updated
      rec("staged_rows") = result.metrics.getOrElse("staged_rows", 0L)
      rec("retained_rows") = result.metrics.getOrElse("retained_rows", 0L)
    } catch {
      case e: Throwable =>
        rec("wall_s") = Main.seconds(t0)
        rec("error") = Main.errorOf(e)
    }
    spark.catalog.clearCache()
    rec.toMap
  }
}

/** A fixed slice of the query registry. The cold pass runs the slice in
  * registry order and writes each result as parquet for the oracle check;
  * the warm passes run it in a seeded order into the noop sink. A traced
  * process runs one pass per letter of `trace_pattern`, tracing the `T`
  * passes. */
final class Queries(spark: SparkSession, get: String => String) {
  def run(out: mutable.Map[String, Any]): Unit = {
    graft.sources.Tables.configure(spark)
    val names = get("names").split(",").toSeq
    val corpus = get("corpus")
    val seconds = get("seconds").toDouble
    val traced = get("trace") == "1"
    val minWarm = get("min_warm_passes").toInt
    val pattern = get("trace_pattern")
    val tracer = new Tracer(spark)
    val rng = new scala.util.Random(get("seed").toLong)
    val errors = mutable.LinkedHashMap.empty[String, String]

    def one(name: String, withTrace: Boolean, resultDir: Option[String]): Double = {
      def exec(df: DataFrame): Unit = resultDir match {
        case Some(dir) => df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
        case None => df.write.format("noop").mode("overwrite").save()
      }
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      try {
        if (withTrace) {
          val df = tracer.span("query_build")(fn(spark, corpus))
          tracer.span("query_exec")(exec(df))
        } else exec(fn(spark, corpus))
      } catch {
        case e: Throwable => errors.getOrElseUpdate(name, Main.errorOf(e))
      }
      val t = Main.seconds(t0)
      spark.catalog.clearCache()
      System.err.println(f"[perfbench] $name%s $t%.3f s")
      t
    }

    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    def pass(order: Seq[String], withTrace: Boolean, resultDir: Option[String]): Unit = {
      if (withTrace) tracer.attach() else if (traced) tracer.detach()
      val t0 = System.nanoTime()
      val lat = order.map(n => n -> one(n, withTrace, resultDir))
      passes += Map("wall_s" -> Main.seconds(t0), "traced" -> withTrace,
        "latency_s" -> lat.toMap)
    }

    pass(names, withTrace = traced && pattern(0) == 'T', Some(get("results")))
    val warmStart = System.nanoTime()
    def more: Boolean =
      if (traced) passes.size < pattern.length
      else passes.size <= minWarm || Main.seconds(warmStart) < seconds
    while (more)
      pass(rng.shuffle(names), withTrace = traced && pattern(passes.size) == 'T', None)
    if (traced) {
      tracer.detach()
      out("trace") = Main.traceMetrics(tracer, Nil)
    }
    out("passes") = passes.toSeq
    out("errors") = errors.toMap
    out("oracle_sql") = names.map(n => n -> SparkEntry.oracleSql(n)).toMap
  }
}

/** Memory the program holds at the end of the run, read after the last
  * timed operation. `live_heap_mb` is the heap still reachable once
  * collected: Spark's context cleaner frees dropped broadcasts and shuffles
  * only after a collection finds them unreachable, so a second collection
  * follows a pause. `class_mb` is the peak of metaspace and class space:
  * the classes the program loads and generates. Neither depends on how the
  * collector sizes the heap. The JIT's code cache is left out: it grows
  * with every operation run, so a faster program that fits more operations
  * into the run would read as using more memory. */
object Memory {
  import java.lang.management.{ManagementFactory, MemoryType}
  import scala.jdk.CollectionConverters._

  private val mib = 1024.0 * 1024.0
  private val cleanerPauseMs = 1000L

  def retained(): Map[String, Double] = {
    System.gc()
    Thread.sleep(cleanerPauseMs)
    System.gc()
    Map(
      "live_heap_mb" -> ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / mib,
      "class_mb" -> ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getType == MemoryType.NON_HEAP && !p.getName.startsWith("CodeHeap"))
        .map(_.getPeakUsage.getUsed / mib).sum)
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
