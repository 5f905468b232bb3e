package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

import graft.SparkEntry
import graft.etl.WalmartPipeline

/** JVM side of the benchmark (driven by `perfbench/run.py`).
  *
  * One process, one `local[nproc]` session, one closed-loop caller: the
  * next unit starts only after the previous one returned. A pipeline unit
  * is one `WalmartPipeline.run`; a query-mix unit is one pass over the
  * given queries, each timed from the builder call until a `noop` write
  * completes (`count()` would let Catalyst drop the final projection).
  *
  * Arguments are `key=value` pairs; see `run.py` for the keys. The result
  * is one JSON file (`out=`) with raw samples; every statistic is computed
  * by `run.py`, so the rules live in one tested place.
  *
  * With `trace=1`, traced and untraced units interleave. Traced units record
  * spans (unit > stage | query > build | action) and set a job group per
  * span, so Spark's job, task and SQL-planning metrics are attributed to
  * the innermost span that launched them.
  */
object Harness {

  final class Span(val id: Int, val parent: Int, val unit: Int, val name: String, val t0: Long) {
    var t1: Long = -1L
  }

  /** Task and job counters of one job group (= one span). */
  final class Counters {
    var jobs = 0L; var tasks = 0L; var taskMs = 0L; var readBytes = 0L
    var shuffleWriteBytes = 0L; var spillBytes = 0L; var outputBytes = 0L
    var actions = 0L; var planningMs = 0L
  }

  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var tracing = false
  private var currentUnit = -1
  private var spark: SparkSession = _
  private val epoch = System.nanoTime()
  // At least five timed units, so the median is not one sample.
  private val MinUnits = 5
  // Untimed warm-up units. Passes keep speeding up for about four passes
  // after the first, cold one (6.8, 6.4, 5.8, 4.9, 4.9 s in one run with
  // the check pass only), so two noop passes follow the check pass.
  // Pipeline runs keep speeding up for about six runs after the cold one
  // (11, 2.5, 2.1, then 2.0 down to 1.5 s), while the JIT is still busy;
  // timing from the fourth run on left that trend in the median.
  private val PipelineWarmUnits = 5
  private val QueryWarmPasses = 2

  private def now(): Long = System.nanoTime() - epoch

  /** Runs `body` inside a span when tracing; a plain call otherwise. */
  def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val parent = stack.headOption
      val s = new Span(spans.size, parent.map(_.id).getOrElse(-1), currentUnit, name, now())
      spans += s
      stack = s :: stack
      val sc = spark.sparkContext
      sc.setJobGroup(s"pb${s.id}", name, interruptOnCancel = false)
      try body
      finally {
        s.t1 = now()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"pb${p.id}", p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Collects job-group-attributed task metrics and SQL planning time.
    *
    * Planning time is read from each SQL execution's QueryPlanningTracker
    * when the execution ends. A QueryExecutionListener callback would carry
    * the same tracker but no execution id, so it could not be joined to the
    * job group (= span) the execution started under.
    */
  final class Tracer extends SparkListener {
    val byGroup = mutable.Map[String, Counters]()
    private val stageGroup = mutable.Map[Int, String]()
    private val execGroup = mutable.Map[Long, String]()

    private def counters(g: String) = byGroup.getOrElseUpdate(g, new Counters)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      g.filter(_.startsWith("pb")).foreach { group =>
        counters(group).jobs += 1
        e.stageIds.foreach(id => stageGroup(id) = group)
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (group <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
        val c = counters(group)
        c.tasks += 1
        c.taskMs += m.executorRunTime
        c.readBytes += m.inputMetrics.bytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.outputBytes += m.outputMetrics.bytesWritten
      }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobGroupId.filter(_.startsWith("pb")).foreach(execGroup(s.executionId) = _)
      case end: SparkListenerSQLExecutionEnd =>
        for (g <- execGroup.remove(end.executionId); qe <- Option(executionOf(end))) {
          val phases = qe.tracker.phases
          val c = counters(g)
          c.actions += 1
          c.planningMs += Seq("analysis", "optimization", "planning")
            .flatMap(phases.get).map(_.durationMs).sum
        }
      case _ =>
    }

    // `qe` is package-private in Scala but public in bytecode.
    private def executionOf(end: SparkListenerSQLExecutionEnd): QueryExecution =
      end.getClass.getMethod("qe").invoke(end).asInstanceOf[QueryExecution]
  }

  // ---- workloads -------------------------------------------------------

  /** Golden outputs from the DuckDB twin: `clean_rows` then `month,avg`. */
  final case class Golden(cleanRows: Long, agg: Seq[(Int, Double)])

  private def readGolden(p: String): Golden = {
    val lines = Files.readAllLines(Paths.get(p), UTF_8).asScala.map(_.trim).filter(_.nonEmpty)
    Golden(lines.head.toLong, lines.tail.map { l =>
      val Array(m, v) = l.split(",")
      (m.toInt, v.toDouble)
    }.toSeq)
  }

  private def csvParts(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.filter(p => p.getFileName.toString.startsWith("part-")).toSeq.sorted
      finally s.close()
    }

  /** Data lines in a header-per-file CSV sink. */
  private def csvRows(dir: Path): Long = csvParts(dir).map { p =>
    val s = Files.lines(p, UTF_8)
    try math.max(0L, s.count() - 1) finally s.close()
  }.sum

  /** Checks one pipeline run's sinks against the golden; None when correct. */
  private def checkPipeline(out: Path, g: Golden): Option[String] = {
    val rows = csvRows(out.resolve("clean_data"))
    val agg = csvParts(out.resolve("agg_data")).flatMap { p =>
      Files.readAllLines(p, UTF_8).asScala.drop(1).filter(_.nonEmpty).map { l =>
        val Array(m, v) = l.split(",")
        (m.toInt, v.toDouble)
      }
    }.sortBy(_._1)
    // Spark rounds the mean to 2 dp (half-even); the golden is the exact
    // DuckDB mean, so a correct value lies within half a cent of it.
    def close(a: (Int, Double), b: (Int, Double)) =
      a._1 == b._1 && math.abs(a._2 - b._2) <= 0.005 + 1e-6 &&
        math.abs(a._2 * 100 - math.rint(a._2 * 100)) < 1e-6
    if (rows != g.cleanRows) Some(s"clean_data has $rows rows, golden ${g.cleanRows}")
    else if (agg.size != g.agg.size || !agg.zip(g.agg).forall { case (a, b) => close(a, b) })
      Some(s"agg_data ${agg.mkString(";")} differs from golden ${g.agg.mkString(";")}")
    else None
  }

  final case class UnitResult(seconds: Double, traced: Boolean, error: Option[String])

  private def errText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300)

  /** Seconds `body` took, and its value. */
  private def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val v = body
    ((System.nanoTime() - t0) / 1e9, v)
  }

  /** One pipeline run into `out`; None when `validate` passed. */
  private def pipelineRun(csv: String, parquet: String, out: Path): Option[String] =
    try {
      val results =
        if (!tracing) WalmartPipeline.run(spark, csv, parquet, out.toString)
        else {
          // The five public stage calls, composed exactly as `run` does.
          val merged = span("extract")(WalmartPipeline.extract(spark, csv, parquet))
          val clean = span("transform")(WalmartPipeline.transform(merged))
          val agg = span("aggregate")(WalmartPipeline.avgWeeklySalesPerMonth(clean))
          val paths = span("load")(
            WalmartPipeline.load(Map("clean_data" -> clean, "agg_data" -> agg), out.toString))
          span("validate")(WalmartPipeline.validate(paths))
        }
      if (!results.forall(_._2)) Some(s"validate reported ${results.mkString(",")}")
      else None
    } catch { case e: Throwable => Some(errText(e)) }

  /** Counts persisted RDDs and cached plans a query left behind, then
    * clears both so the next query starts from an empty cache. */
  private def sweepCaches(): Int = {
    val sc = spark.sparkContext
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
    // numCachedEntries is package-private in Scala but public in bytecode.
    val cached = cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int]
    val left = sc.getPersistentRDDs.size + cached
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    left
  }

  final case class QueryRun(name: String, seconds: Double, leftover: Int, error: Option[String])

  /** One pass over `order`; `sink` materializes each result. A query's
    * time runs from the builder call until `sink` returns; the cache sweep
    * after it is the harness's and is not counted. */
  private def queryPass(order: Seq[String], dir: String,
                        sink: (String, DataFrame) => Unit): Seq[QueryRun] =
    order.map { q =>
      val (secs, err) = timed {
        try {
          span(q) {
            val df = span("build")(SparkEntry.queries(q)(spark, dir))
            span("action")(sink(q, df))
          }
          None
        } catch { case e: Throwable => Some(errText(e)) }
      }
      QueryRun(q, secs, sweepCaches(), err)
    }

  /** Heap in use after full GCs. Unreachable shuffles and broadcasts are
    * freed by Spark's ContextCleaner only after a GC has enqueued them, and
    * listener events still queued hold task metrics, so several GCs with a
    * pause between them are taken and the smallest reading is kept. */
  private def heapLiveMb(): Double = {
    val mx = ManagementFactory.getMemoryMXBean
    (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(500)
      mx.getHeapMemoryUsage.getUsed / 1e6
    }.min
  }

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = opt("workload")
    val seconds = opt("seconds").toDouble
    val traceRun = opt("trace") == "1"
    val work = Paths.get(opt("work"))
    val cores = Runtime.getRuntime.availableProcessors()

    val tSetup = System.nanoTime()
    // Same session confs as graft.Bench; scratch dirs stay under `work`.
    spark = SparkSession.builder()
      .withExtensions(graft.functions.GraftExtensions.inject)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer
    if (traceRun) spark.sparkContext.addSparkListener(tracer)

    val warm = mutable.ArrayBuffer[UnitResult]()
    val units = mutable.ArrayBuffer[UnitResult]()
    val queryRuns = mutable.ArrayBuffer[(Int, QueryRun)]() // (unit, run)
    var setupSeconds = 0.0

    // Timed units: `unit(i)` runs unit i and returns the program's seconds
    // (the harness's own output check excluded) and its error. At least
    // MinUnits units; after that the next unit starts only if, at the last
    // unit's pace, it ends within `seconds`, so the unit count does not flip
    // with noise when a unit takes about `seconds`. Under trace=1 units are
    // traced in the order T U U T (which cancels a linear warm-up trend),
    // with at least one of each; the first unit is traced, so the traced
    // units include the position a --trace 0 run measures.
    def loop(unit: Int => (Double, Option[String])): Unit = {
      val tLoop = System.nanoTime()
      var i = 0
      def elapsed = (System.nanoTime() - tLoop) / 1e9
      def haveBoth = !traceRun || (units.exists(_.traced) && units.exists(!_.traced))
      while (i < MinUnits || elapsed + units.last.seconds <= seconds || !haveBoth) {
        tracing = traceRun && (i % 4 == 0 || i % 4 == 3)
        currentUnit = i
        val (secs, err) = unit(i)
        units += UnitResult(secs, tracing, err)
        tracing = false
        i += 1
      }
    }

    workload match {
      case "pipeline_ref" =>
        val out = work.resolve("out")
        val golden = readGolden(opt("golden"))
        def unit(): (Double, Option[String]) = {
          val (secs, err) = timed(span("unit")(pipelineRun(opt("csv"), opt("parquet"), out)))
          (secs, err.orElse(checkPipeline(out, golden)))
        }
        for (_ <- 0 until PipelineWarmUnits) {
          val (secs, err) = unit()
          warm += UnitResult(secs, traced = false, err)
        }
        setupSeconds = (System.nanoTime() - tSetup) / 1e9
        loop(_ => unit())

      case "query_mix" =>
        val dir = opt("tables")
        val queries = opt("queries").split(",").toSeq
        val seed = opt("seed").toLong
        val check = Files.createDirectories(work.resolve("check"))
        // The untimed check pass is the first warm-up pass: it runs every
        // query once (including the layout artifacts the queries ingest on
        // first use) and writes each result for the DuckDB oracle compare.
        val checkRuns = queryPass(queries, dir, (q, df) =>
          df.write.mode("overwrite").parquet(check.resolve(q).toString))
        val oracle = SparkEntry.oracleSql
        Files.writeString(check.resolve("oracle_sql.json"), compact(render(
          JObject(queries.filter(oracle.contains).map(q => JField(q, JString(oracle(q)))).toList))))
        checkRuns.foreach(r => warm += UnitResult(r.seconds, traced = false, r.error))
        val noop = (_: String, df: DataFrame) => df.write.format("noop").mode("overwrite").save()
        for (_ <- 0 until QueryWarmPasses)
          queryPass(queries, dir, noop).foreach(r => warm += UnitResult(r.seconds, traced = false, r.error))
        setupSeconds = (System.nanoTime() - tSetup) / 1e9
        loop { pass =>
          val order = new scala.util.Random(seed * 1000003L + pass).shuffle(queries)
          val runs = span("unit")(queryPass(order, dir, noop))
          runs.foreach(r => queryRuns += ((pass, r)))
          (runs.map(_.seconds).sum, runs.flatMap(r => r.error.map(e => s"${r.name}: $e")).headOption)
        }

      case other =>
        throw new IllegalArgumentException(s"unknown workload $other")
    }

    val heapMb = heapLiveMb()
    val heapMaxMb = Runtime.getRuntime.maxMemory() / 1e6
    val sparkVersion = spark.version
    spark.stop() // drains the listener bus

    def unitsJson(us: Seq[UnitResult]): JValue =
      us.map(u => ("s" -> u.seconds) ~ ("traced" -> u.traced) ~ ("error" -> u.error))
    val spansJson: JValue = spans.toList.map { s =>
      val c = tracer.byGroup.getOrElse(s"pb${s.id}", new Counters)
      ("id" -> s.id) ~ ("parent" -> s.parent) ~ ("unit" -> s.unit) ~ ("name" -> s.name) ~
        ("t0" -> s.t0 / 1e9) ~ ("t1" -> s.t1 / 1e9) ~ ("jobs" -> c.jobs) ~ ("tasks" -> c.tasks) ~
        ("task_s" -> c.taskMs / 1e3) ~ ("read_bytes" -> c.readBytes) ~
        ("shuffle_write_bytes" -> c.shuffleWriteBytes) ~ ("spill_bytes" -> c.spillBytes) ~
        ("output_bytes" -> c.outputBytes) ~ ("actions" -> c.actions) ~
        ("planning_s" -> c.planningMs / 1e3)
    }
    val queryJson: JValue = queryRuns.toList.map { case (u, r) =>
      ("unit" -> u) ~ ("name" -> r.name) ~ ("s" -> r.seconds) ~ ("leftover" -> r.leftover) ~
        ("error" -> r.error)
    }
    val json = ("workload" -> workload) ~ ("cores" -> cores) ~ ("heap_max_mb" -> heapMaxMb) ~
      ("spark_version" -> sparkVersion) ~ ("setup_s" -> setupSeconds) ~
      ("heap_live_mb" -> heapMb) ~ ("warm" -> unitsJson(warm.toSeq)) ~
      ("units" -> unitsJson(units.toSeq)) ~ ("queries" -> queryJson) ~ ("spans" -> spansJson)
    Files.writeString(Paths.get(opt("out")), compact(render(json)) + "\n")
  }
}
