package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** A session deployed through `GraftExtensions` alone — no
  * GraftFunctions.register call — must resolve every native function by
  * its SQL name, the same set register() installs. */
class GraftExtensionsSpec extends AnyFunSuite {

  test("an extension-built session resolves all 11 native functions by SQL name") {
    TestSpark.spark // start the shared SparkContext
    // create() joins that context but leaves the active and default
    // sessions as they are
    val s2 = SparkSession.builder().withExtensions(new GraftExtensions).create()
    val calls = Seq(
      "graft_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d))",
      "graft_jaccard_sorted(array('a', 'b'), array('a', 'c'))",
      "graft_intersect_sorted(array('a', 'b'), array('a', 'c'))",
      "graft_minhash_bands(array('a', 'b'), 4, 2)",
      "graft_rolling_hash(array('a', 'b'))",
      "graft_shingles(array('a', 'b', 'c'), 2)",
      "graft_simhash64(array('a', 'b'))",
      "graft_max_run(array('a', 'a', 'b'))",
      "graft_jaro_winkler('martha', 'marhta')",
      "graft_l2sq(array(1L, 2L), array(3L, 5L))",
      "graft_dotl(array(1L, 2L), array(3L, 5L))")
    assert(calls.map(_.takeWhile(_ != '(')).toSet ===
      graft.functions.GraftFunctions.all.map(_.name).toSet)
    val row = s2.sql(calls.mkString("SELECT ", ", ", "")).head()
    calls.indices.foreach(i => assert(!row.isNullAt(i), calls(i)))
    assert(row.getDouble(0) === 1.0)
    assert(row.getLong(9) === 13L)
    assert(row.getLong(10) === 13L)
  }
}
