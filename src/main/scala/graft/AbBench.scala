package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Interleaved same-JVM A/B benchmark — the ONLY perf-comparison
  * methodology that works on this box. Single-shot suite snapshots
  * (BENCH_r*.json) swing ±25-50% run-to-run here (documented in
  * BASELINE.md): untouched queries have inflated up to 2.5× between
  * rounds, and two back-to-back full runs of identical code differed
  * by 9%. Alternating the two contenders inside one JVM cancels the
  * shared drift (JIT state, page cache, cgroup throttling) because
  * every A run has a B run as its contemporary; the per-round WIN
  * COUNT and the paired medians are then readable where cross-round
  * absolute seconds are not.
  *
  * Usage: `runMain graft.AbBench <queryA> <queryB> [rounds=5]`
  * where each name is a registered [[SparkEntry.queries]] entry.
  *
  * Superseded plan shapes are not kept here: git history keeps them.
  * To replay an old claim, check out the commit that still has the
  * shape and run it there, e.g. (c6a12ee is the last commit with the
  * `v<NNN>_…` shapes COVERAGE.md cites):
  *
  *   git checkout c6a12ee && sbt 'runMain graft.AbBench q145_pagerank v145_unpartitioned'
  *
  * Protocol: one UNTIMED warm run of each side (codegen compilation and
  * parquet footer caches are not what's under test), then `rounds`
  * alternating timed pairs with [[Bench]]'s exact evaluation discipline
  * — noop-format write (every output column fully evaluated; a count()
  * would let Catalyst prune the projections under test), cache clear +
  * persistent-RDD unpersist + System.gc() between runs, OUTSIDE the
  * timed window. Emits one `BENCH_AB` JSON line with per-round seconds,
  * medians, and win counts.
  */
object AbBench {

  private def resolve(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.getOrElse(name, sys.error(
      s"unknown query '$name'; known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))

  private def runOnce(spark: SparkSession, sfDir: String,
                      fn: (SparkSession, String) => DataFrame): Double = {
    val t0 = System.nanoTime()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    val secs = (System.nanoTime() - t0) / 1e9
    // free blocks + force the ContextCleaner's GC outside the timed
    // window — same discipline as Bench, same rationale
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
    secs
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: runMain graft.AbBench <queryA> <queryB> [rounds=5]")
    val (nameA, nameB) = (args(0), args(1))
    val rounds = if (args.length > 2) args(2).toInt else 5
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val (fa, fb) = (resolve(nameA), resolve(nameB))
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    runOnce(spark, sfDir, fa) // untimed warm-up: codegen compile,
    runOnce(spark, sfDir, fb) // parquet footers, scheduler spin-up
    val (as, bs) = (Array.ofDim[Double](rounds), Array.ofDim[Double](rounds))
    for (r <- 0 until rounds) {
      as(r) = runOnce(spark, sfDir, fa)
      bs(r) = runOnce(spark, sfDir, fb)
      System.err.println(f"[ab] round ${r + 1}/$rounds: $nameA ${as(r)}%.3f s  $nameB ${bs(r)}%.3f s")
    }
    val aWins = (0 until rounds).count(r => as(r) < bs(r))
    def dp3(v: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def arr(xs: Array[Double]) = xs.map(dp3).mkString("[", ",", "]")
    println(s"""BENCH_AB {"a":"$nameA","b":"$nameB","rounds":$rounds,""" +
      s""""a_secs":${arr(as)},"b_secs":${arr(bs)},""" +
      s""""a_median":${dp3(median(as.toSeq))},"b_median":${dp3(median(bs.toSeq))},""" +
      s""""a_wins":$aWins,"b_wins":${rounds - aWins},"sf":"$sfDir"}""")
    spark.stop()
  }
}
