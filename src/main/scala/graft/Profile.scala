package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev tool: time one registered query and optionally dump its plan.
  * Usage: runMain graft.Profile <sfDir> <queryName> [explain] [stages]
  *
  * `stages` prints one line per completed stage (task count, summed
  * task run/CPU time, max task time) — the §7.1 stage-page evidence
  * with the UI off. A stage whose nTasks=1 while the box has 32 cores
  * is the under-parallel-scan signature this round hunts. It also adds
  * to each run's PROFILE line the Spark jobs the run started and the
  * generated-code classes it compiled (the count of Spark's
  * `CodegenMetrics` compilation-time histogram), which split a
  * query's fixed cost into dispatch and compilation.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id) s").collect() // warmup

    val showStages = args.contains("stages")
    @volatile var stageLines = List.empty[String]
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val tm = si.taskMetrics
        val line = f"  stage ${si.stageId}%4d tasks=${si.numTasks}%4d " +
          f"run=${tm.executorRunTime / 1e3}%7.2fs cpu=${tm.executorCpuTime / 1e9}%7.2fs " +
          f"shufR=${tm.shuffleReadMetrics.totalBytesRead / 1e6}%8.1fMB " +
          f"shufW=${tm.shuffleWriteMetrics.bytesWritten / 1e6}%8.1fMB  ${si.name.takeWhile(_ != '\n').take(60)}"
        stageLines ::= line
      }
    }
    if (showStages) spark.sparkContext.addSparkListener(listener)

    if (args.contains("explain"))
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    (1 to 3).foreach { i =>
      stageLines = Nil
      jobs.set(0)
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      // time construction + evaluation together, like Bench: several
      // operators do their real work EAGERLY at construction (persist/
      // localCheckpoint pipelines), so timing only the final write
      // would miss them entirely
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      // noop sink, matching Bench: count() would prune every projection
      df.write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t0) / 1e9
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      // listener bus is async; a short sleep drains late job and stage events
      if (showStages) Thread.sleep(500)
      val counts = if (showStages) s" jobs=${jobs.get} compiles=$compiles" else ""
      println(f"PROFILE $name run$i secs=$secs%.2f$counts")
      if (showStages && i == 3) {
        println(s"STAGES (run3, ${stageLines.size} stages):")
        stageLines.reverse.foreach(println)
      }
    }
    spark.stop()
  }
}
