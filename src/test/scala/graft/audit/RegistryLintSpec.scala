package graft.audit

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
import graft.{SparkEntry, TestSpark}

/** Registry output lint — the r09 lesson made permanent. The driver's
  * correctness compare loads both sides into pandas, sorts rows, and
  * hashes dtype-sensitively; an `array<...>` (or struct/map) output
  * column crashes its sorter outright (q158's red row: "unhashable
  * type: numpy.ndarray"). So: every REGISTERED query must emit a flat
  * schema — nested shapes stay library-API-only (e.g. Quantize.sqEncode
  * returns array<int>; its registry entry explodes to (vec_id, dim,
  * code)). The twin oracle-side lint (no HUGEINT in any DuckDB result —
  * q175/q179's red rows) needs DuckDB and lives in tools/check.py.
  *
  * Building each query at sf0.001 also smoke-checks that every
  * registered fn constructs (analysis passes) — a registry entry that
  * throws at build time would otherwise first surface in the driver's
  * Verify run.
  *
  * The same loop checks that no query leaks into the next one sharing
  * the session: after each build no StreamingQuery is running,
  * `spark.sql.shuffle.partitions` and the two parquet read confs that
  * table resolution scopes to inference have their old values, and no
  * new `graft_q*` temp root is left under `java.io.tmpdir`.
  */
class RegistryLintSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"
  private val tmpDir = new java.io.File(System.getProperty("java.io.tmpdir"))

  private def tempRoots: Set[String] =
    Option(tmpDir.list()).fold(Set.empty[String])(
      _.filter(_.startsWith("graft_q")).toSet)

  private val readConfs = Seq("spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled")
  private val watched = "spark.sql.shuffle.partitions" +: readConfs

  private def watchedConfs: Map[String, Option[String]] = {
    val all = spark.conf.getAll
    watched.map(k => k -> all.get(k)).toMap
  }

  test("every registered query emits a flat (driver-comparable) schema") {
    // Start without the parquet read confs, so a query that sets them shows.
    readConfs.foreach(spark.conf.unset)
    val confs = watchedConfs
    val leaks = Seq.newBuilder[String]
    val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val rootsBefore = tempRoots
        val schema = fn(spark, sf).schema
        val running = spark.streams.active
        if (running.nonEmpty) {
          leaks += s"$name left ${running.length} StreamingQuery running"
          running.foreach(_.stop())
        }
        watchedConfs.foreach { case (k, after) =>
          if (after != confs(k)) {
            leaks += s"$name left $k=${after.getOrElse("<unset>")}"
            confs(k).fold(spark.conf.unset(k))(spark.conf.set(k, _))
          }
        }
        val newRoots = tempRoots -- rootsBefore
        if (newRoots.nonEmpty)
          leaks += s"$name left ${newRoots.mkString(", ")} in $tmpDir"
        val nested = schema.fields.collect {
          case f if f.dataType.isInstanceOf[ArrayType] ||
            f.dataType.isInstanceOf[StructType] ||
            f.dataType.isInstanceOf[MapType] =>
            s"$name.${f.name}: ${f.dataType.simpleString}"
        }
        nested
    }
    assert(bad.isEmpty,
      s"nested output columns crash the driver's pandas sorter: " +
        bad.mkString("; "))
    assert(leaks.result().isEmpty,
      s"queries leak into the shared session: " +
        leaks.result().mkString("; "))
  }
}
