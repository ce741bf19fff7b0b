package graft

import java.util.concurrent.atomic.AtomicBoolean

class DriverThreadsSpec extends SparkSpec {

  test("all: results in task order") {
    assert(DriverThreads.all(Seq(() => { Thread.sleep(100); 1 }, () => 2, () => 3)) == Seq(1, 2, 3))
  }

  test("all: first failure rethrown, the rest suppressed, never returns early") {
    val slowDone = new AtomicBoolean(false)
    val lateDone = new AtomicBoolean(false)
    val first = new IllegalStateException("first")
    val second = new IllegalArgumentException("second")
    val e = intercept[IllegalStateException] {
      DriverThreads.all(Seq(
        () => { Thread.sleep(400); slowDone.set(true) },
        () => { Thread.sleep(150); throw first },
        () => throw second, // fails before `first`, but comes after it in task order
        () => { Thread.sleep(300); lateDone.set(true) }))
    }
    assert(e eq first)
    assert(e.getSuppressed.toSeq == Seq(second))
    assert(slowDone.get && lateDone.get, "returned before every task had finished")
  }

  test("all: task threads inherit the caller's Spark local properties") {
    val sc = spark.sparkContext
    sc.setLocalProperty("graft.test.tag", "caller")
    try {
      val (_, perCount) = jobsDuring(spark.range(10).count())
      assert(perCount >= 1)
      val (seen, jobs) = jobsDuring(DriverThreads.all(Seq.fill(3)(() => {
        spark.range(10).count()
        sc.getLocalProperty("graft.test.tag")
      })))
      assert(seen == Seq.fill(3)("caller"))
      // every thread's jobs carry the job group jobsDuring set on the caller
      assert(jobs == 3 * perCount)
    } finally sc.setLocalProperty("graft.test.tag", null)
  }
}
