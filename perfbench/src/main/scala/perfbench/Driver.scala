package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions.{broadcast, col, lit}
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

import graft.{Pipeline, Sessions, SparkEntry, Tables}
import graft.ops.GeoOps
import graft.queries.Q

/** Benchmark driver: runs one workload in one JVM as a closed loop with a
  * single client and writes every raw measurement to a JSON file; the
  * Python front end (run.py) turns it into metrics and checks outputs.
  *
  * All measurement is from outside the engine: wall time around calls into
  * its public entry points (`Q.run`, `queryExecution.executedPlan`, the noop
  * write, `Pipeline.runStage*`, `Tables.table`) and task counters from a
  * `SparkListener`. Each job is attributed to the span that was open when
  * it started through a thread-local Spark property, which Spark hands on
  * to the threads it starts for a query (broadcasts, subqueries).
  *
  * Usage: Driver <workload> <dataDir> <workDir> <outFile> <seed> <seconds>
  *                <trace 0|1> <cores>
  */
object Driver {
  val SpanKey = "perfbench.span"

  /** The catalog_mix operations: TPC-H shapes, call sites that opt into
    * the scan fan-out (`fanned = true`), and a builder-driven iterative
    * graph query (eager jobs + lineage cuts per round). */
  val CatalogMix = Seq("q_tpch_q1", "q_tpch_q3", "q_tpch_q18",
    "geo_enrich_xjoin", "q_gopher_rules", "q_hits_bipartite")

  def queriesOf(workload: String): Seq[Q] = workload match {
    case "catalog_mix" =>
      val byName = SparkEntry.catalog.map(q => q.name -> q).toMap
      CatalogMix.map(byName)
    case _ => Seq.empty
  }

  /** Counters of one span, filled by the listener thread. */
  final class Counters {
    var jobs, tasks, runMs, cpuNs, shuffleWrite, input, spill, written, records = 0L
    def json: String = Json.obj(Seq("jobs" -> jobs, "tasks" -> tasks,
      "task_s" -> runMs / 1e3, "cpu_s" -> cpuNs / 1e9,
      "shuffle_write_bytes" -> shuffleWrite, "input_bytes" -> input,
      "spill_bytes" -> spill, "written_bytes" -> written,
      "written_records" -> records))
  }

  final class Meter extends SparkListener {
    private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
    val bySpan = new ConcurrentHashMap[Long, Counters]()
    def of(span: Long): Counters = bySpan.computeIfAbsent(span, _ => new Counters)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toLong).getOrElse(0L)
      of(span).jobs += 1
      e.stageIds.foreach(s => stageSpan.put(s, span))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = of(Option(stageSpan.get(e.stageId)).map(_.longValue).getOrElse(0L))
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.input += m.inputMetrics.bytesRead
        c.spill += m.diskBytesSpilled
        c.written += m.outputMetrics.bytesWritten
        c.records += m.outputMetrics.recordsWritten
      }
    }
  }

  /** Shape of a planned query, read from its physical plan. */
  object PlanShape extends AdaptiveSparkPlanHelper {
    /** Hash repartitions to a fixed partition count — the exchange the
      * engine's scan fan-out (`Tables.table(..., fanned = true)`) adds. */
    def repartitions(plan: SparkPlan): Int = collect(plan) {
      case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM => e
    }.size
  }

  final case class Span(id: Long, parent: Long, name: String, kind: String,
                        start: Long, var end: Long = -1L)

  /** In-memory span recorder; the driver is single-threaded, so the open
    * span is a stack. Spans are written once, at the end of the run. */
  final class Tracer(spark: SparkSession) {
    val spans = mutable.ArrayBuffer.empty[Span]
    private val open = mutable.Stack[Span]()
    private var next = 1L
    def current: Long = open.head.id
    def apply[T](name: String, kind: String)(body: => T): T = {
      val s = Span(next, open.headOption.map(_.id).getOrElse(0L), name, kind,
        System.nanoTime())
      next += 1
      spans += s
      open.push(s)
      spark.sparkContext.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        open.pop()
        spark.sparkContext.setLocalProperty(SpanKey,
          open.headOption.map(_.id.toString).orNull)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, workDir, outFile, seedS, secondsS, traceS, coresS) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val cores = coresS.toInt
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config(Sessions.defaults)
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.graft.checkpoint.dir", s"$workDir/checkpoint")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val meter = new Meter
    spark.sparkContext.addSparkListener(meter)
    val tracer = new Tracer(spark)
    val errors = mutable.LinkedHashMap.empty[String, (Int, String)]
    val leaked = mutable.Map.empty[Long, Int] // op span id -> persisted RDDs
    val repartitions = mutable.Map.empty[Long, Int] // traced op span id -> exchanges

    def attempt(name: String)(body: => Unit): Unit =
      try body
      catch { case e: Throwable =>
        val (n, msg) = errors.getOrElse(name, (0, String.valueOf(e.getMessage).take(300)))
        errors(name) = (n + 1, msg)
        System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
      }

    val queries = queriesOf(workload)
    val lake = if (workload == "lake_refresh") Some(new Lake(spark, dataDir, workDir)) else None
    require(queries.nonEmpty || lake.nonEmpty, s"unknown workload $workload")
    val opNames: Seq[String] = lake.map(_ => Lake.Ops).getOrElse(queries.map(_.name))

    val verifyDir = s"$workDir/verify"

    /** One operation. Measured query ops end in the noop sink, which
      * materializes every row and column of the plan as declared; the warm
      * pass writes each result as parquet for the correctness check
      * instead. Persisted frames are counted, then dropped, so each op
      * replans and rescans. */
    def runOp(name: String, mode: String): Unit = lake match {
      case Some(l) if mode == "traced" => attempt(name)(tracer("pipeline", "layer")(l.run(name)))
      case Some(l) => attempt(name)(l.run(name))
      case None =>
        val q = queries.find(_.name == name).get
        attempt(name) {
          if (mode == "warm")
            q.run(spark, dataDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$verifyDir/$name")
          else if (mode == "traced") {
            val df = tracer("builder", "layer")(q.run(spark, dataDir))
            val plan = tracer("planning", "layer")(df.queryExecution.executedPlan)
            repartitions(tracer.current) = PlanShape.repartitions(plan)
            tracer("exec", "layer")(df.write.format("noop").mode("overwrite").save())
          } else q.run(spark, dataDir).write.format("noop").mode("overwrite").save()
        }
    }

    def pass(index: Int, kind: String, mode: String): Unit = {
      // lake stages depend on each other and keep their order
      val order = if (lake.nonEmpty) { if (kind == "warm") Lake.WarmOps else opNames }
        else new Random(seed * 1000003L + index).shuffle(opNames)
      tracer(s"pass$index", kind) {
        order.foreach(n => tracer(n, "op") {
          runOp(n, mode)
          leaked(tracer.current) = spark.sparkContext.getPersistentRDDs.size
          spark.catalog.clearCache()
        })
      }
    }

    // set-up: untimed passes absorb JIT/codegen warm-up and every
    // once-per-JVM bootstrap, so set-up time shows work moved into it. The
    // first writes the outputs the correctness check reads; on the short
    // catalog passes a second one lets the JIT settle (the first measured
    // pass otherwise runs ~20% slower than the ones after it)
    pass(-1, "warm", "warm")
    if (lake.isEmpty) pass(0, "warm", "measured")
    val setupEndMs = System.currentTimeMillis()

    // measured region: whole passes until `seconds` have elapsed, at least
    // three catalog passes or one of the longer lake passes; a traced run
    // alternates untraced and traced passes, at least three, so the
    // difference of their walls is the tracing overhead
    val t0 = System.nanoTime()
    var i = 1
    var lastPassStartMs = 0L
    val minPasses = if (lake.isEmpty || traced) 3 else 1
    while (i <= minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      lastPassStartMs = System.currentTimeMillis()
      val kind = if (traced && i % 2 == 0) "traced" else "measured"
      pass(i, kind, kind)
      i += 1
    }
    val measuredS = (System.nanoTime() - t0) / 1e9

    // per-table loads (Tables layer), outside the passes
    if (traced) for (r <- 1 to 3) tracer(s"load$r", "load") {
      val names = lake.map(_ => Seq("nation", "events"))
        .getOrElse(Seq("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"))
      names.foreach(n => tracer(n, "table") {
        if (n == "events") Tables.events(spark, dataDir).schema
        else Tables.table(spark, dataDir, n).schema
      })
    }

    org.apache.spark.perfbench.BusDrain(spark.sparkContext)

    val oracles = SparkEntry.oracleSql
    val out = Json.obj(Seq(
      "workload" -> Json.str(workload), "cores" -> cores,
      "session_s" -> sessionS,
      "setup_in_jvm_s" -> (setupEndMs - jvmStartMs) / 1e3,
      "measured_s" -> measuredS,
      "last_pass_start_ms" -> lastPassStartMs,
      "ops" -> Json.arr(opNames.map(Json.str)),
      "oracle" -> Json.obj((queries.map(_.name) ++ lake.map(_ => Lake.Oracles).getOrElse(Nil))
        .flatMap(n => oracles.get(n).map(n -> Json.str(_)))),
      "errors" -> Json.obj(errors.toSeq.map { case (k, (n, msg)) =>
        k -> Json.obj(Seq("count" -> n, "message" -> Json.str(msg))) }),
      "lake" -> lake.map(_.info).getOrElse("null"),
      "spans" -> Json.arr(tracer.spans.toSeq.map { s =>
        val c = Option(meter.bySpan.get(s.id)).getOrElse(new Counters)
        Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> Json.str(s.name),
          "kind" -> Json.str(s.kind), "s" -> (s.end - s.start) / 1e9,
          "start_s" -> (s.start - t0) / 1e9, "counters" -> c.json) ++
          leaked.get(s.id).map(n => "persisted_rdds" -> n) ++
          repartitions.get(s.id).map(n => "repartitions" -> n))
      })))
    Files.writeString(Paths.get(outFile), out)
    spark.stop()
  }

  /** The lake flow of `graft.Pipeline`: a full refresh into one scratch
    * lake and a windowed incremental refresh into another. */
  final class Lake(spark: SparkSession, dataDir: String, workDir: String) {
    val eventsRoot = s"$dataDir/events.parquet"
    val full = s"$workDir/lake_full"
    val incr = s"$workDir/lake_incremental"
    val dates: Seq[String] = new java.io.File(eventsRoot).listFiles()
      .map(_.getName).filter(_.startsWith("date=")).map(_.stripPrefix("date=")).sorted.toSeq
    val endDate: String = dates.last

    private lazy val zones = Tables.zones(spark, dataDir)

    /** Stage 1 enrichment of one batch of raw events — the same expression
      * chain as `GeoPipeline.enriched`, applied to a date window. */
    def enrich(raw: DataFrame): DataFrame = {
      val ev = raw.schema("ts").dataType match {
        case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
        case _ => raw
      }
      val geo = ev
        .withColumn("lat_e", ((col("event_id") * 13) % 1200) / lit(10.0) - lit(60.0))
        .withColumn("lon_e", ((col("event_id") * 29) % 3600) / lit(10.0) - lit(180.0))
      GeoOps.nearestZone(geo, zones, "lat_e", "lon_e")
        .join(broadcast(zones.select(col("zone_id").cast("long").as("zone_id"),
          col("lon_z"))), Seq("zone_id"))
    }

    def run(op: String): Unit = op match {
      case "bootstrap" => // seeds the incremental lake with every date once
        Pipeline.runStage1Incremental(spark, eventsRoot, incr, endDate, dates.size)(enrich)
      case "full.stage1" => Pipeline.runStage1GeoEnrich(spark, dataDir, full)
      case "full.stage2" => Pipeline.runStage2UserCity(spark, full)
      case "full.stage3" => Pipeline.runStage3ZoneReport(spark, full)
      case "full.stage4" => Pipeline.runStage4Recommendations(spark, full)
      case "incremental.stage1" =>
        Pipeline.runStage1Incremental(spark, eventsRoot, incr, endDate, Lake.Depth)(enrich)
    }

    def info: String = Json.obj(Seq("full" -> Json.str(full), "incremental" -> Json.str(incr),
      "end_date" -> Json.str(endDate), "depth_days" -> Lake.Depth,
      "dates" -> dates.size))
  }

  object Lake {
    /** Catalog queries whose oracle SQL computes the lake's three marts. */
    val Oracles = Seq("user_city_mart", "zone_report", "recommendations", "geo_enrich")
    /** The reference's sliding window (DEPTH=10 days). */
    val Depth = 10
    /** Stages run in dependency order; a pass is the full refresh (stages
      * 1-4) followed by the incremental stage-1 rewrite of the window.
      * Stages 2-4 over the incremental lake run the same code on the same
      * rows as over the full one, so a pass does not repeat them. */
    val Ops = Seq("full.stage1", "full.stage2", "full.stage3", "full.stage4",
      "incremental.stage1")
    /** The set-up pass: seed the incremental lake, then one full refresh
      * (stages 2-4 run the same code on either lake). */
    val WarmOps = Seq("bootstrap", "full.stage1", "full.stage2", "full.stage3",
      "full.stage4")
  }
}

/** Minimal JSON writer for the raw-results file. */
object Json {
  def str(s: String): String = graft.Verify.jsonString(s)
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, Any)]): String = kv.map { case (k, v) =>
    s"${str(k)}:${value(v)}"
  }.mkString("{", ",", "}")
  private def value(v: Any): String = v match {
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case s: String => s // already encoded
    case other => other.toString
  }
}
