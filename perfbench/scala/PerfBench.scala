package perfbench

import java.io.PrintWriter
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp
import java.time.LocalDate
import java.util.concurrent.atomic.AtomicLongArray

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.Runner

/** Spark task and job counters, summed over everything the session runs
  * while the listener is registered. Read them only after [[BusDrain]].
  */
final class Counters extends SparkListener {
  import Counters._
  private val c = new AtomicLongArray(Names.length)
  override def onJobStart(e: SparkListenerJobStart): Unit = c.incrementAndGet(Jobs)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    c.incrementAndGet(Stages)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c.incrementAndGet(Tasks)
    c.addAndGet(TaskMs, e.taskInfo.duration)
    val m = e.taskMetrics
    if (m != null) {
      c.addAndGet(RunMs, m.executorRunTime)
      c.addAndGet(CpuNs, m.executorCpuTime)
      c.addAndGet(GcMs, m.jvmGCTime)
      c.addAndGet(ShuffleRead, m.shuffleReadMetrics.totalBytesRead)
      c.addAndGet(ShuffleWrite, m.shuffleWriteMetrics.bytesWritten)
      c.addAndGet(Spill, m.memoryBytesSpilled + m.diskBytesSpilled)
      c.addAndGet(RecordsRead, m.inputMetrics.recordsRead)
      c.addAndGet(BytesWritten, m.outputMetrics.bytesWritten)
    }
  }
  def snapshot(): Array[Long] = Array.tabulate(Names.length)(c.get)
}

object Counters {
  val Names = Array("jobs", "stages", "tasks", "task_ms", "run_ms", "cpu_ns",
    "gc_ms", "shuffle_read_b", "shuffle_write_b", "spill_b", "records_read",
    "bytes_written")
  val Jobs = 0; val Stages = 1; val Tasks = 2; val TaskMs = 3; val RunMs = 4
  val CpuNs = 5; val GcMs = 6; val ShuffleRead = 7; val ShuffleWrite = 8
  val Spill = 9; val RecordsRead = 10; val BytesWritten = 11
}

/** In-memory spans. Off, [[span]] only runs its body. Each span records
  * `own_ns`, the time the tracer spent on it outside its [start, end]
  * interval: draining the listener bus and reading the counters.
  */
final class Tracer(spark: SparkSession) {
  private val counters = new Counters
  private val spans = ArrayBuffer.empty[String]
  private val stack = scala.collection.mutable.Stack.empty[Int]
  private var nextId = 0
  private var on = false
  var pass = -1

  def isOn: Boolean = on

  def enable(flag: Boolean): Unit = if (flag != on) {
    BusDrain(spark.sparkContext)
    if (flag) spark.sparkContext.addSparkListener(counters)
    else spark.sparkContext.removeSparkListener(counters)
    on = flag
  }

  def span[T](name: String, op: Int, label: String = "")(body: => T): T =
    if (!on) body
    else {
      val b0 = System.nanoTime()
      BusDrain(spark.sparkContext)
      val c0 = counters.snapshot()
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        BusDrain(spark.sparkContext)
        val c1 = counters.snapshot()
        stack.pop()
        val deltas = Counters.Names.indices
          .map(i => s""""${Counters.Names(i)}":${c1(i) - c0(i)}""").mkString(",")
        val own = (t0 - b0) + (System.nanoTime() - t1)
        spans += s"""{"id":$id,"parent":$parent,"op":$op,"pass":$pass,""" +
          s""""name":${Json.str(name)},"label":${Json.str(label)},""" +
          s""""start_ns":$t0,"end_ns":$t1,"own_ns":$own,"counts":{$deltas}}"""
      }
    }

  def write(path: String): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try spans.foreach(w.println) finally w.close()
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def longs(m: Map[String, Long]): String = obj(m.toSeq.sorted.map { case (k, v) => k -> v.toString })
}

/** The benchmark's JVM side: runs one workload in passes on a local session
  * and writes per-operation results (and, traced, spans) for run.py.
  *
  * Usage: PerfBench <workload> <inputDir> <workDir> <seconds> <trace 0|1>
  * A negative `seconds` runs the untimed preparation only.
  */
object PerfBench {
  private val Source = "perfbench_api"
  private val RetainedExecutions = 8
  private val Entities = Seq("products", "users", "carts", "orders")
  private val BaseTables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** One operation's record; `timed` is false for a pipeline history day,
    * which is checked but is not part of any timing. */
  final case class Op(pass: Int, name: String, timed: Boolean, secs: Double,
                      ok: Boolean, error: String, detail: String)

  def main(args: Array[String]): Unit = {
    val Array(workload, inputDir, workDir, secondsArg, traceArg) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.local.dir", s"$workDir/tmp")
      .config("spark.sql.ui.retainedExecutions", RetainedExecutions.toString)
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // staging: a fresh copy of the generated inputs
    val staged = s"$workDir/stage"
    copyTree(Paths.get(inputDir), Paths.get(staged))

    val tracer = new Tracer(spark)
    val ops = ArrayBuffer.empty[Op]
    var heapMax = 0L
    val heapBean = java.lang.management.ManagementFactory.getMemoryMXBean
    // After every timed pipeline operation and after the untimed
    // preparation, outside the timing. The collection also lets Spark's
    // cleaner drop the broadcasts and shuffle files an operation left.
    // graft.Bench settles after every query too; here the queries do not,
    // because at about 0.17 s a collection it took 7 s of a 45 s pass and
    // the run budget had no room for it. Each pass ends with one.
    def settle(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
    }
    // Heap still in use at the end of a pass. Trivial queries first replace
    // the executions the SQL status store keeps (the last few, which depend
    // on the seeded order); the second collection runs after Spark's
    // cleaner has dropped the blocks the first one released.
    def retainedHeap(): Unit = {
      for (_ <- 1 to RetainedExecutions) spark.range(1).collect()
      System.gc()
      Thread.sleep(300)
      System.gc()
      heapMax = math.max(heapMax, heapBean.getHeapMemoryUsage.getUsed)
    }
    var pass = 0
    var opId = 0
    /** Runs one operation, records it and checks its output (`check`,
      * outside the timed window); with `gc`, a timed one is then settled. */
    def op[T](name: String, span: String, label: String = "", timed: Boolean = true,
              gc: Boolean = true)(body: => T)(check: T => String): Unit = {
      val t0 = System.nanoTime()
      val r = try Right(tracer.span(span, opId, label)(body))
        catch { case e: Throwable => Left(describe(e)) }
      val secs = (System.nanoTime() - t0) / 1e9
      val detail = r.flatMap(v =>
        try Right(check(v)) catch { case e: Throwable => Left(describe(e)) })
      ops += Op(pass, name, timed, secs, detail.isRight,
        detail.left.getOrElse(""), detail.getOrElse("null"))
      opId += 1
      if (timed && gc) settle()
    }

    // A pass is `prepare` (untimed; the queries prepare on pass 0 only)
    // followed by `timedOps`.
    val (prepare, timedOps): (Int => Unit, Int => Unit) = if (workload == "pipeline_daily") {
      val plan = readPlan(s"$inputDir/pipeline.txt")
      val firstDay = LocalDate.parse(plan("first_day").head)
      val days = plan("days").head.toInt
      val history = plan("history").head.toInt
      val Seq(bfFrom, bfTo) = plan("backfill").map(_.toInt)
      val cutoff = plan("cutoff").head.toInt
      val schemas = (0 until days).map { d =>
        Entities.map(e => e -> spark.read.parquet(s"$staged/day$d/$e.parquet").schema).toMap
      }
      def batch(d: Int): Map[String, DataFrame] = Entities.map { e =>
        e -> spark.read.schema(schemas(d)(e)).parquet(s"$staged/day$d/$e.parquet")
      }.toMap
      def noon(d: Int) = Timestamp.valueOf(firstDay.plusDays(d).atTime(12, 0))
      def layout(p: Int) = {
        val root = s"$workDir/lake/pass$p"
        Runner.Layout(s"$root/bronze", s"$root/silver", s"$root/gold", s"$root/audit")
      }
      def day(p: Int, d: Int, timed: Boolean): Unit =
        op(s"day$d", "pipeline.batch", timed = timed) {
          val input = batch(d)
          if (tracer.isOn) tracedRunFull(spark, tracer, opId, input, layout(p), s"p$p-d$d", noon(d))
          else Runner.runFull(spark, input, layout(p), Source, s"p$p-d$d", noon(d))
        }(report)
      // The history days load the lake the timed days build on; they also
      // warm the engine up, as the warm pass does for the queries.
      val prep: Int => Unit = p => (0 until history).foreach(day(p, _, timed = false))
      val run: Int => Unit = p => {
        (history until days).foreach(day(p, _, timed = true))
        op("backfill", "maintenance.backfill") {
          Runner.backfillBronze(spark, d => batch(
            java.time.temporal.ChronoUnit.DAYS.between(firstDay, d).toInt),
            layout(p), Source, firstDay.plusDays(bfFrom), firstDay.plusDays(bfTo))
        }(Json.longs)
        op("archive", "maintenance.archive") {
          Entities.map(e => e -> Runner.stageArchive(spark, layout(p),
            e, firstDay.plusDays(cutoff), noon(days))).toMap
        }(Json.longs)
      }
      (prep, run)
    } else {
      val orders = scala.io.Source.fromFile(s"$inputDir/orders.txt").getLines()
        .map(_.split(" ").toSeq).toIndexedSeq
      val registry = graft.SparkEntry.queries
      def query(name: String): Digest = {
        val df = tracer.span("registry.build", opId)(registry(name)(spark, staged))
        val d = new Digest(df, opId)
        // A separate planning of the query: the noop write below plans
        // the write command, with the query inside it, again.
        if (tracer.isOn) tracer.span("planner.plan", opId)(d.observed.queryExecution.executedPlan)
        tracer.span("exec.run", opId)(d.observed.write.format("noop").mode("overwrite").save())
        d
      }
      def queries(order: Seq[String], timed: Boolean): Unit = order.foreach { name =>
        op(name, "query", name, timed = timed, gc = false)(query(name))(d => Json.str(d.value))
      }
      // orders.txt: the warm pass's order, then one order per timed pass.
      // The warm pass runs the floor queries once, untimed and checked. The
      // first run of a query in a JVM pays for code generation and class
      // initialisation, a cost as large as a floor query itself. The heavy
      // queries are not warmed: their first-run cost is a small share of
      // their time, and warming them would not fit the run budget.
      ((p: Int) => if (p == 0) queries(orders(0), timed = false),
        (p: Int) => queries(orders(1 + p % (orders.size - 1)), timed = true))
    }

    // Every run times whole passes of the measured operations in a fresh
    // JVM, after the warm pass (queries) or the history days (pipeline). A
    // traced run makes the same passes with the tracer on.
    prepare(0)
    settle()
    if (traced && workload != "pipeline_daily") {
      tracer.enable(true)
      tracer.span("tables.probe", -1) {
        BaseTables.foreach { t =>
          tracer.span("tables.resolve", -1, t)(graft.Tables.t(spark, staged, t))
        }
      }
      tracer.enable(false)
    }

    // Timed phase: whole passes until `seconds` have gone by, at least one
    // unless `seconds` is negative.
    val firstOpMs = System.currentTimeMillis()
    val start = System.nanoTime()
    val written = ArrayBuffer.empty[Long]
    while ((pass < 1 && seconds >= 0) || (System.nanoTime() - start) / 1e9 < seconds) {
      if (pass > 0) { prepare(pass); settle() }
      tracer.enable(traced)
      tracer.pass = pass
      val w0 = bytesWritten()
      timedOps(pass)
      written += bytesWritten() - w0
      tracer.enable(false)
      retainedHeap()
      pass += 1
    }
    val lastOpMs = System.currentTimeMillis()
    if (traced) tracer.write(s"$workDir/spans.jsonl")

    val opsJson = ops.map { o =>
      Json.obj(Seq("pass" -> o.pass.toString, "name" -> Json.str(o.name),
        "timed" -> o.timed.toString, "secs" -> o.secs.toString,
        "ok" -> o.ok.toString, "error" -> Json.str(o.error), "detail" -> o.detail))
    }.mkString("[", ",", "]")
    val out = Json.obj(Seq(
      "first_op_ms" -> firstOpMs.toString,
      "last_op_ms" -> lastOpMs.toString,
      "bytes_written" -> written.mkString("[", ",", "]"),
      "heap_retained_mb" -> (heapMax / 1048576.0).toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576.0).toString,
      "spark_version" -> Json.str(spark.version),
      "cores" -> cores.toString,
      "ops" -> opsJson))
    Files.writeString(Paths.get(s"$workDir/result.json"), out)
    spark.stop()
  }

  /** Bytes this process has handed to write(2) so far (`wchar` in
    * /proc/self/io): files, shuffle blocks, spills and checkpoints. */
  private def bytesWritten(): Long =
    Files.readAllLines(Paths.get("/proc/self/io")).asScala
      .find(_.startsWith("wchar:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  /** Runner.runFull re-expressed stage by stage, with a span per stage. */
  private def tracedRunFull(spark: SparkSession, tracer: Tracer, op: Int,
                            staged: Map[String, DataFrame], layout: Runner.Layout,
                            runId: String, now: Timestamp): Runner.RunReport = {
    import graft.audit.Audit
    val log = Audit.start(runId, Source, "pipeline", now)
    try {
      val bronze = tracer.span("bronze.stage", op)(
        Runner.stageBronze(spark, staged, layout, Source, now))
      val silver = tracer.span("silver.stage", op)(Runner.stageSilver(spark, layout))
      val quality = tracer.span("quality.stage", op)(Runner.stageQuality(spark, layout))
      val gold = tracer.span("gold.stage", op)(Runner.stageGold(spark, layout, now))
      val fetched = bronze.values.sum
      tracer.span("audit.append", op)(Audit.append(spark,
        Seq(Audit.complete(log, fetched, fetched, 0L, now)), layout.audit))
      Runner.RunReport(runId, bronze, silver, quality, gold)
    } catch {
      case e: Throwable =>
        tracer.span("audit.append", op)(Audit.append(spark,
          Seq(Audit.fail(log, e.getMessage, now)), layout.audit))
        throw e
    }
  }

  private def report(r: Runner.RunReport): String = Json.obj(Seq(
    "bronze" -> Json.longs(r.bronzeCounts), "silver" -> Json.longs(r.silverCounts),
    "gold" -> Json.longs(r.goldCounts),
    "quality_failed" -> r.qualityResults.count(!_.passed).toString))

  /** Attaches an order-independent digest to a result: the row count and
    * the sum of a 64-bit hash per row over the columns in name order. It is
    * collected by an observation on the timed write, so no output is
    * computed twice; the hashing adds one pass over the output rows.
    */
  final class Digest(df: DataFrame, id: Int) {
    private val obs = org.apache.spark.sql.Observation(s"digest$id")
    val observed: DataFrame = {
      val byName = df.schema.fields.indices.sortBy(df.schema.fields(_).name)
      df.toDF(df.columns.indices.map(i => s"c$i"): _*)
        .observe(obs, count(lit(1)).as("n"),
          sum(xxhash64(byName.map(i => col(s"c$i")): _*).cast("decimal(20,0)")).as("s"))
    }
    def value: String = {
      val m = obs.get
      val s = Option(m("s").asInstanceOf[java.math.BigDecimal])
        .map(_.toBigInteger).getOrElse(java.math.BigInteger.ZERO)
      s"${m("n")}:${s.mod(java.math.BigInteger.ONE.shiftLeft(64)).toString(16)}"
    }
  }

  private def describe(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse("")).take(300)

  private def readPlan(path: String): Map[String, Seq[String]] =
    scala.io.Source.fromFile(path).getLines().filter(_.trim.nonEmpty).map { l =>
      val w = l.trim.split("\\s+"); w.head -> w.tail.toSeq
    }.toMap

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit =
    Files.walk(from).iterator().asScala.foreach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
    }
}
