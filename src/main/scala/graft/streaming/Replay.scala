package graft.streaming

import java.io.File
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** The shared harness of the registry's stream replays. A replay stages
  * a table into a watched directory as a few micro-batches, drives a
  * real StreamingQuery over them, and reads the sink back so the result
  * can be hash-compared with the batch oracle. Every exit path stops
  * the query, restores the session conf and deletes the temp root: an
  * orphaned query or a leaked conf would pollute every later query in
  * the shared session.
  */
object Replay {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Shuffle partitions inside a replay's streaming scope. A stateful
    * operator's state store commits one delta file per shuffle
    * partition per micro-batch, so at a session's 32 partitions a few
    * thousand rows of state cost hundreds of filesystem commits; 8 cuts
    * that commit storm 4× (q270 7.6 → 3.0 s, q216 6.6 → 3.2 s at sf0.1).
    * Results do not depend on the count. Structured Streaming pins the
    * count in the checkpoint at the first batch, so it must be set
    * before the query is built.
    */
  val StatePartitions = 8

  /** Runs `body` on a fresh temp directory named `prefix*`, deleting it
    * on every exit path. The body must materialize (e.g. eagerly
    * `localCheckpoint`) anything it returns that reads the directory.
    */
  def withTempRoot[T](prefix: String)(body: String => T): T = {
    val root = Files.createTempDirectory(prefix).toFile
    try body(root.toString) finally delete(root)
  }

  /** Best-effort recursive delete: never throws, so it cannot mask the
    * exception of the body it cleans up after; logs a WARN naming every
    * path it could not remove.
    */
  private def delete(f: File): Unit =
    try {
      Option(f.listFiles()).foreach(_.foreach(delete))
      if (!f.delete() && f.exists()) log.warn(s"could not delete $f")
    } catch { case NonFatal(e) => log.warn(s"could not delete $f", e) }

  /** Writes `df` aside, then moves every part file into `dir` as
    * `b<n>_<i>.parquet`, so a file-stream source watching `dir` sees
    * only finished files and picks the whole batch up at once.
    */
  def stage(df: DataFrame, dir: String, n: Int): Unit = {
    val aside = s"${dir}_stage$n"
    df.write.mode("overwrite").parquet(aside)
    new File(dir).mkdirs()
    new File(aside).listFiles()
      .filter(_.getName.endsWith(".parquet")).zipWithIndex
      .foreach { case (part, i) =>
        Files.move(part.toPath, Paths.get(s"$dir/b${n}_$i.parquet"))
      }
  }

  /** A parquet file stream over `dir`, with the schema of the files
    * already staged there.
    */
  def source(s: SparkSession, dir: String): DataFrame =
    s.readStream.schema(s.read.parquet(dir).schema).parquet(dir)

  /** Runs `body` with `spark.sql.shuffle.partitions` at
    * [[StatePartitions]], restoring the previous value on every exit
    * path.
    */
  def withStatePartitions[T](s: SparkSession)(body: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", StatePartitions.toLong)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Builds the query inside the partition scope, drains its first
    * batch, then runs each step (typically staging the next batch) and
    * drains again; the query is stopped on every exit path.
    */
  def drive(s: SparkSession)(start: => StreamingQuery)(
      steps: (() => Unit)*): Unit =
    withStatePartitions(s) {
      val sq = start
      try {
        sq.processAllAvailable()
        steps.foreach { step => step(); sq.processAllAvailable() }
      } finally sq.stop()
    }
}
