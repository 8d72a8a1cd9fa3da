package graft

import graft.queries.QueryDef

/** A bench entry that throws must be recorded as invalid (-1, -1), never
  * as its time-to-failure — an early throw would otherwise read as a
  * speed-up in the graded total.
  */
class BenchTimeOneSpec extends SparkTestBase {

  test("a query that throws while building its plan is recorded as (-1, -1)") {
    val q = QueryDef("throws_eagerly", (_, _) => throw new IllegalStateException("boom"), None)
    assert(Bench.timeOne(spark, "unused", q) == ((-1.0, -1.0)))
  }

  test("a query that throws while executing is recorded as (-1, -1)") {
    val q = QueryDef("throws_at_count",
      (s, _) => s.range(1).where("raise_error('boom') IS NULL").toDF(), None)
    assert(Bench.timeOne(spark, "unused", q) == ((-1.0, -1.0)))
  }

  test("a query that succeeds reports its non-negative wall and CPU") {
    val q = QueryDef("succeeds", (s, _) => s.range(10).toDF(), None)
    val (wall, cpu) = Bench.timeOne(spark, "unused", q)
    assert(wall >= 0.0 && cpu >= 0.0)
  }
}
