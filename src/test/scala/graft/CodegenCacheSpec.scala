package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** The shared session's generated-class cache holds more than Spark's
  * default 100 classes (`EntryKit.CodegenCacheEntries`): a query whose
  * classes were compiled once is not compiled again after a hundred
  * other plans have run.
  */
class CodegenCacheSpec extends SparkSpec {

  private def compiles(): Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a repeated projection is not recompiled after 120 other plans") {
    // the literal is inlined into the generated code, so each i is a
    // distinct whole-stage class
    def project(i: Int): Long =
      spark.range(8).selectExpr(s"sum(id * ${i + 1000} + $i)")
        .head().getLong(0)
    val first = project(0)
    val c0 = compiles()
    (1 to 120).foreach(project)
    assert(compiles() - c0 >= 120,
      "the 120 projections must compile distinct classes")
    val c1 = compiles()
    assert(project(0) == first)
    assert(compiles() == c1, "the first projection was compiled again")
  }
}
