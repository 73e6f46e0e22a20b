package graft

import org.apache.spark.sql.functions.{col, udf}

/** Bench's failure accounting: a key that throws is reported as
  * failed, never as a (fast) timing, and a run with a failed key can
  * not produce a medians artifact. */
class BenchSpec extends SparkSpec {
  private val ok: Bench.Query = (s, _) => s.range(10).toDF()
  private val throwsAtPlan: Bench.Query = (_, _) => sys.error("plan-time failure")
  private val throwsAtCount: Bench.Query = { (s, _) =>
    // a filter, not a projection: count() prunes an unused projection
    val boom = udf((x: Long) => { if (x >= 0) sys.error("task failure"); true })
    s.range(10).toDF().filter(boom(col("id")))
  }

  test("a key whose reps all throw lands in failed, not in the timings") {
    val t = Bench.timeSuite(spark, sfDir,
      Seq("a_ok" -> ok, "b_plan" -> throwsAtPlan, "c_task" -> throwsAtCount, "d_ok" -> ok),
      reps = 2, runs = 2)
    assert(t.failed == Seq("b_plan", "c_task"))
    assert(t.min.map(_._1) == Seq("a_ok", "d_ok"))
    assert(t.median.map(_._1) == Seq("a_ok", "d_ok"))
    assert(t.min.forall(_._2 > 0))
  }

  test("a failed rep gives no time; the key's successful reps still count") {
    var calls = 0
    val flaky: Bench.Query = { (s, d) =>
      calls += 1
      if (calls == 1) sys.error("first rep only") else ok(s, d)
    }
    val t = Bench.timeSuite(spark, sfDir, Seq("flaky" -> flaky), reps = 3, runs = 1)
    assert(calls == 3)
    assert(t.failed.isEmpty)
    assert(t.min.map(_._1) == Seq("flaky"))
  }

  test("a run with a failed key never writes a medians file") {
    assert(Bench.outFileFor(None, reps = 3, subsetRun = false, anyFailed = false) ==
      "BENCH_MEDIANS.json")
    assert(Bench.outFileFor(Some("BENCH_MEDIANS_x.json"), 3, subsetRun = false, anyFailed = false) ==
      "BENCH_MEDIANS_x.json")
    assert(Bench.outFileFor(None, 3, subsetRun = false, anyFailed = true) == "BENCH_LAST_RUN.json")
    assert(Bench.outFileFor(Some("BENCH_MEDIANS_x.json"), 3, subsetRun = false, anyFailed = true) ==
      "BENCH_LAST_RUN.json")
    // the pre-existing qualifications still hold
    assert(Bench.outFileFor(Some("BENCH_MEDIANS.json"), 1, subsetRun = false, anyFailed = false) ==
      "BENCH_LAST_RUN.json")
    assert(Bench.outFileFor(Some("BENCH_MEDIANS.json"), 3, subsetRun = true, anyFailed = false) ==
      "BENCH_LAST_RUN.json")
    assert(Bench.outFileFor(Some("mine.json"), 1, subsetRun = false, anyFailed = false) == "mine.json")
  }
}
