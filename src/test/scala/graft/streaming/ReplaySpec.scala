package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The replay harness's cleanup contract: whatever a replay throws, and
  * wherever, the caller gets that exception and the session is left as
  * it was — no running query, no temp root, the old shuffle-partition
  * count.
  */
class ReplaySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def partitions = spark.conf.get("spark.sql.shuffle.partitions")

  test("a step that throws mid-replay: exception unchanged, session clean") {
    val before = partitions
    val boom = new IllegalStateException("step failed")
    var root = ""
    var activeInStep = -1
    var partitionsInStep = ""
    var rowsInStep = -1L
    val thrown = intercept[IllegalStateException] {
      Replay.withTempRoot("graft_replayspec_") { tmp =>
        root = tmp
        val feed = s"$tmp/feed"
        val rows = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
        Replay.stage(rows.filter($"k" < 3).coalesce(1), feed, 1)
        Replay.drive(spark) {
          Replay.source(spark, feed).dropDuplicates("k")
            .writeStream.format("parquet")
            .option("path", s"$tmp/out")
            .option("checkpointLocation", s"$tmp/ckpt")
            .start()
        }(() => Replay.stage(rows.union(rows), feed, 2),
          () => {
            activeInStep = spark.streams.active.length
            partitionsInStep = partitions
            rowsInStep = spark.read.parquet(s"$tmp/out").count()
            throw boom
          })
      }
    }
    assert(thrown eq boom)
    // the step ran against a live, stateful replay of both batches
    assert(activeInStep == 1)
    assert(partitionsInStep == Replay.StatePartitions.toString)
    assert(rowsInStep == 3L)
    assert(spark.streams.active.isEmpty)
    assert(root.nonEmpty && !new java.io.File(root).exists())
    assert(partitions == before)
  }

  test("a throw while the query is built, before start(), restores the conf") {
    val before = partitions
    val boom = new IllegalArgumentException("bad stream definition")
    var root = ""
    var partitionsInBuild = ""
    val thrown = intercept[IllegalArgumentException] {
      Replay.withTempRoot("graft_replayspec_") { tmp =>
        root = tmp
        val feed = s"$tmp/feed"
        Replay.stage(Seq(1L, 2L).toDF("k"), feed, 1)
        Replay.drive(spark) {
          Replay.source(spark, feed)
          partitionsInBuild = partitions
          throw boom
        }()
      }
    }
    assert(thrown eq boom)
    assert(partitionsInBuild == Replay.StatePartitions.toString)
    assert(spark.streams.active.isEmpty)
    assert(root.nonEmpty && !new java.io.File(root).exists())
    assert(partitions == before)
  }
}
