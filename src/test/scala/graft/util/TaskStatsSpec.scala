package graft.util

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the one task-stats listener the bench, DebugPlan and the stress
  * scenarios read: exact task counts once settled, every channel zeroed by
  * `reset()`, and the shuffle-read straggler channel seeing a hot key.
  */
class TaskStatsSpec extends SparkSpec {
  import spark.implicits._

  private def watching[T](body: TaskStats => T): T = {
    val stats = TaskStats.attach(spark)
    try body(stats) finally spark.sparkContext.removeSparkListener(stats)
  }

  test("a 7-partition job settles to exactly 7 tasks, sum >= max") {
    watching { stats =>
      stats.reset()
      spark.range(0, 10000, 1, 7).write.format("noop").mode("overwrite").save()
      assert(stats.settled().tasks == 7L)
      assert(stats.taskSumMs >= stats.maxTaskMs)
      assert(stats.stages.size == 1)
      assert(stats.stages.head._2.tasks == 7)
      assert(stats.stages.head._2.totalMs == stats.taskSumMs)
    }
  }

  test("reset() zeroes every channel") {
    watching { stats =>
      spark.range(0, 10000, 1, 3).repartition(2, $"id").groupBy($"id").count()
        .write.format("noop").mode("overwrite").save()
      stats.settled()
      assert(stats.tasks > 0L && stats.maxShuffleReadRecords > 0L &&
        stats.stages.nonEmpty)
      stats.reset()
      assert(stats.tasks == 0L)
      assert(stats.taskSumMs == 0L)
      assert(stats.maxTaskMs == 0L)
      assert(stats.maxShuffleReadRecords == 0L)
      assert(stats.stages.isEmpty)
    }
  }

  test("a hash-shuffled aggregate with one hot key reports a task reading " +
    "at least the hot key's rows") {
    val hotRows = 6000L
    watching { stats =>
      val df = spark.range(0, 10000, 1, 4)
        .select(when($"id" < hotRows, 0L).otherwise($"id").as("k"))
      stats.reset()
      df.repartition(4, $"k").groupBy($"k").count()
        .write.format("noop").mode("overwrite").save()
      stats.settled()
      assert(stats.maxShuffleReadRecords >= hotRows)
    }
  }
}
