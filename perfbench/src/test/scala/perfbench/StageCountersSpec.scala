package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class StageCountersSpec extends AnyFunSuite {
  test("counters are complete once the listener bus drains: no lost stage events") {
    val spark = SparkSession.builder().master("local[2]").appName("stage-counters")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val sc = spark.sparkContext
      val c = new StageCounters
      sc.addSparkListener(c)
      val jobs = 25
      (1 to jobs).foreach { _ =>
        // one job: a 4-task map stage (map-side combine: 7 records per
        // task) and a 3-task result stage
        sc.parallelize(1 to 1000, 4).map(x => (x % 7, x)).reduceByKey(_ + _, 3).count()
      }
      org.apache.spark.BenchBus.drain(sc)
      val got = c.snapshot
      assert(got.jobs == jobs && got.stages == 2 * jobs && got.tasks == 7 * jobs)
      assert(got.shuffleWriteRecords == 28L * jobs)
      assert(got.shuffleWriteBytes > 0 && got.taskRunMs >= 0 && got.jobBusyMs >= 0)
    } finally spark.stop()
  }
}
