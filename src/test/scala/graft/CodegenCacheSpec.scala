package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** The test session sizes Spark's generated-class cache to
  * [[Graft.CodegenCacheEntries]], so a query that runs again in the same
  * JVM reuses its compiled classes. At Spark's default of 100 entries
  * the second round below recompiles every class: its 160 sources make
  * about 320 cache keys (the driver and the task threads each key a
  * source under their own class loader), and LRU evicts each one before
  * its reuse. */
class CodegenCacheSpec extends AnyFunSuite {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a second run of 160 distinct generated classes compiles nothing") {
    val spark = TestSpark.spark
    // integer literals are inlined into the generated code, so each i
    // is a distinct source; a union branch is its own codegen stage, so
    // one query compiles ten of them
    def round(): Long = {
      val before = compiles
      (1 to 160).grouped(10).foreach { is =>
        is.map(i => spark.range(0, 8, 1, 1).selectExpr(s"id * $i + 1"))
          .reduce(_ union _).collect()
      }
      compiles - before
    }
    val first = round()
    assert(first >= 160, s"the first round compiled only $first classes")
    assert(round() == 0)
  }
}
