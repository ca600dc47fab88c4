package graft

import org.apache.spark.TaskContext

import graft.ext.ParJobs

/** `ParJobs` returns each action's result in argument order, and the
  * jobs it submits carry the caller's job group and local properties —
  * what tags a job with the query or pipeline stage that ran it.
  */
class ParJobsSpec extends SparkSpec {

  test("ParJobs returns the actions' results in argument order") {
    val got = ParJobs(
      () => { Thread.sleep(50); spark.range(10).count() },
      () => spark.range(3).count(),
      () => 7L)
    assert(got == Seq(10L, 3L, 7L))
  }

  test("ParJobs runs more thunks than threads in argument order and " +
      "attaches a later failure to the first as suppressed") {
    val running = new java.util.concurrent.atomic.AtomicInteger
    val peak = new java.util.concurrent.atomic.AtomicInteger
    val got = ParJobs((0 until 12).map(i => () => {
      val now = running.incrementAndGet()
      peak.accumulateAndGet(now, (a, b) => math.max(a, b))
      try { Thread.sleep((12 - i) * 5L); spark.range(i).count() }
      finally running.decrementAndGet()
    }): _*)
    assert(got == (0 until 12).map(_.toLong))
    assert(peak.get <= ParJobs.MaxThreads)
    val first = new IllegalStateException("first")
    val second = new IllegalArgumentException("second")
    val e = intercept[IllegalStateException] {
      ParJobs((0 until 12).map(i => () => {
        if (i == 3) throw first
        if (i == 9) throw second
        i
      }): _*)
    }
    assert(e eq first)
    assert(e.getSuppressed.toSeq == Seq(second))
  }

  test("a job submitted inside ParJobs carries the caller's job group " +
      "and local properties") {
    val sc = spark.sparkContext
    def seen(): Set[(String, String)] =
      sc.parallelize(1 to 8, 4).map { _ =>
        val tc = TaskContext.get()
        (tc.getLocalProperty("spark.jobGroup.id"),
          tc.getLocalProperty("graft.test.stage"))
      }.collect().toSet
    sc.setJobGroup("ingest-group", "pipeline stage")
    sc.setLocalProperty("graft.test.stage", "stage.ingest")
    try {
      val got = ParJobs(() => seen(), () => seen())
      assert(got == Seq.fill(2)(Set(("ingest-group", "stage.ingest"))))
      // a later call sees the caller's properties as they are now
      sc.setLocalProperty("graft.test.stage", "stage.catalog")
      assert(ParJobs(() => seen(), () => seen()) ==
        Seq.fill(2)(Set(("ingest-group", "stage.catalog"))))
    } finally {
      sc.clearJobGroup()
      sc.setLocalProperty("graft.test.stage", null)
    }
  }
}
