package graft

import org.apache.spark.SparkException

/** [[RunCounters]] counts what the check mains read from it, and
  * [[RunCounters.settle]] makes the counts readable right after an
  * action returns (no fixed sleep).
  */
class RunCountersSpec extends SparkSpec {

  private def withCounters(body: RunCounters => Unit): Unit = {
    val c = RunCounters.attach(spark.sparkContext)
    try {
      assert(c.settle())
      c.reset()
      body(c)
    } finally spark.sparkContext.removeSparkListener(c)
  }

  test("a 4-partition job counts 1 job and at least 4 tasks after settle()") {
    withCounters { c =>
      assert(spark.sparkContext.parallelize(1 to 100, 4).map(_ * 2).count() == 100L)
      assert(c.settle())
      assert(c.jobs.map(_._1).size == 1)
      assert(c.stages.get == 1)
      assert(c.tasks.get >= 4)
      assert(c.failedTasks.get == 0)
    }
  }

  test("reset() zeroes every counter") {
    withCounters { c =>
      spark.sparkContext.parallelize(1 to 100, 4).count()
      assert(c.settle())
      assert(c.jobs.nonEmpty && c.tasks.get > 0)
      c.reset()
      assert(c.jobs.isEmpty)
      assert(Seq(c.stages, c.tasks, c.failedTasks, c.executorsAdded,
        c.executorsRemoved).map(_.get) == Seq(0, 0, 0, 0, 0))
      assert(c.memSpilled.get == 0L && c.diskSpilled.get == 0L)
    }
  }

  test("a task that throws counts one failed task") {
    withCounters { c =>
      intercept[SparkException] {
        spark.sparkContext.parallelize(Seq(1), 1)
          .map[Int](_ => throw new IllegalStateException("boom")).count()
      }
      assert(c.settle())
      assert(c.failedTasks.get == 1)
      assert(c.jobs.size == 1)
    }
  }

  test("a DataFrame aggregate's jobs are described by SQL execution and plan operator") {
    import org.apache.spark.sql.functions.col
    withCounters { c =>
      spark.range(1000).groupBy(col("id") % 7).count().collect()
      assert(c.settle())
      val descs = c.jobs.map(_._3)
      // the shuffle-map job is the Exchange's; the result job reads `collect`
      assert(descs.forall(_.matches("""exec \d+ \w+""")), descs)
      assert(descs.exists(_.endsWith(" Exchange")), descs)
      assert(!descs.exists(_.startsWith("$anonfun$")), descs)
    }
  }
}
