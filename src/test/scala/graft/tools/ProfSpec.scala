package graft.tools

import graft.SparkTestBase

/** The one profiling path: `Prof.measure` attributes to a body exactly
  * the jobs and tasks it ran, once the listener bus has delivered them. */
class ProfSpec extends SparkTestBase {

  test("measure counts both actions of a two-action body, and only those") {
    val df = spark.range(0, 10000, 1, 4).selectExpr("id % 7 AS k").groupBy("k").count()
    // stray work before the call must not leak into the next measurement
    spark.range(100).count()
    val c = Prof.measure(spark) {
      assert(df.count() === 7L)
      assert(df.collect().length === 7)
    }
    assert(c.jobs >= 2, c.line)
    assert(c.tasks > 0, c.line)
    assert(c.stages >= 2, c.line)
    assert(c.wallS > 0, c.line)
    assert(c.taskS >= 0 && c.shufWriteMb > 0, c.line)

    val idle = Prof.measure(spark)(())
    assert((idle.jobs, idle.stages, idle.tasks) === ((0, 0, 0)), idle.line)
  }
}
