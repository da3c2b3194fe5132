package graft

import org.apache.spark.SparkEnv
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeAndComment, CodeGenerator}

/** IN-SUITE CLUSTER SMOKE (round-13, VERDICT r12 item 2): the full
  * cluster gate (tools/cluster_gate.sh — all 282 queries under
  * local-cluster, ~1h) runs when a human remembers; the bug class it
  * exists to catch (closure/task-binary TRANSPORT — e.g. the r12 find
  * where a relative executor classpath made every graft lambda
  * deserialize as a bare `SerializedLambda`) would not fail `sbt test`
  * on its own. This main is the slim standing version: a handful of
  * representative queries, each run twice in one JVM —
  *
  *  1. `local[4]` — tasks in-process, the mode every other spec uses;
  *  2. `local-cluster[2,1,1024]` — executors as SEPARATE JVM processes
  *     (closure serialization, broadcast transport, remote shuffle
  *     reads, RocksDB state on a remote executor all real);
  *
  * and requires identical order-independent result fingerprints. After
  * the `local-cluster` run, [[executorRecompiles]] checks that every
  * executor's generated-class cache took the session's
  * `spark.sql.codegen.cache.maxEntries`, which reaches the executors only
  * through the tasks' propagated SQL conf. The
  * query set covers the transport-sensitive shapes: a lambda-heavy typed
  * aggregator (q50 — Aggregator closures ship to executors), a broadcast
  * join (q10 — broadcast blocks over the wire), a [[Transients.cut]]
  * iterative (q66 — checkpoint files + lineage across processes), a
  * codegen'd native expression (q53 — GraftExtensions-registered
  * Expression classes must load on the executor classpath), and a
  * `transformWithState` stream (q225 — StatefulProcessor closure +
  * RocksDB provider on executors).
  *
  * Runs as a CHILD JVM forked by ClusterSmokeSpec (the shared test
  * session owns this JVM's one SparkContext; local-cluster needs its
  * own, plus SPARK_HOME/SPARK_SCALA_VERSION env the spec stages).
  * Prints one JSON line; exit 0 iff every query matches and no executor
  * recompiles.
  *
  * `runMain graft.ClusterSmoke [sfDir] [q1,q2,...]`
  */
object ClusterSmoke {

  /** One query per transport-sensitive shape — see scaladoc above. */
  val DefaultQueries: Seq[String] = Seq(
    "q10_join_inner_agg",     // broadcast join over the wire
    "q50_udaf_stats",         // typed Aggregator closure transport
    "q53_cosine_topk_native", // native codegen'd Expression on executors
    "q66_dedup_components",   // Transients.cut iterative across processes
    "q225_stream_kmv")        // transformWithState + RocksDB on executors

  /** Classes each executor recompiles when one of its tasks compiles 160
    * distinct sources twice in a row: 0 when its codegen cache holds them
    * all, and all 160 at Spark's default of 100 entries. Call it after a
    * SQL job has run on every executor: an executor sizes its cache from
    * the conf of the first task that generates code, and this probe's
    * plain RDD tasks carry no SQL conf. The sleep spreads the tasks over
    * every executor. */
  private def executorRecompiles(spark: SparkSession, executors: Int): Map[String, Long] = {
    val n = 8 * executors
    val recompiles = spark.sparkContext.parallelize(0 until n, n).mapPartitions { _ =>
      Thread.sleep(50)
      val sources = (1 to 160).map(i => new CodeAndComment(
        s"public Object generate(Object[] references) { return Long.valueOf(${i}L); }",
        Map.empty))
      def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      sources.foreach(CodeGenerator.compile)
      val before = compiles
      sources.foreach(CodeGenerator.compile)
      Iterator(SparkEnv.get.executorId -> (compiles - before))
    }.collect().groupMapReduce(_._1)(_._2)(math.max)
    require(recompiles.size == executors,
      s"compile probe reached executors ${recompiles.keys.mkString(",")}, not $executors")
    recompiles
  }

  /** Each query's fingerprint, and given the master's executor count,
    * the executors' recompiles after the queries. */
  private def runAll(master: String, sfDir: String, queries: Seq[String],
                     executors: Int = 0)
  : (Map[String, (Long, String)], Map[String, Long]) = {
    val spark = Graft.sessionBuilder(master, 4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val fingerprints = queries.map { q =>
        Bench.evictCaches(spark)
        try q -> ClusterRecoveryDemo.fingerprint(SparkEntry.queries(q)(spark, sfDir))
        finally Transients.drop(spark)
      }.toMap
      (fingerprints,
        if (executors > 0) executorRecompiles(spark, executors) else Map.empty)
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(s"${GenEdge.TestdataRoot}/sf0.001")
    val queries = args.lift(1).map(_.split(",").toSeq).getOrElse(DefaultQueries)
    val (local, _) = runAll("local[4]", sfDir, queries)
    val (cluster, recompiles) = runAll("local-cluster[2,1,1024]", sfDir, queries, executors = 2)
    val verdicts = queries.map { q =>
      val ok = local.get(q).isDefined && local.get(q) == cluster.get(q)
      q -> ok
    }
    val body = verdicts.map { case (q, ok) =>
      val (ln, lh) = local.getOrElse(q, (-1L, "?"))
      val (cn, ch) = cluster.getOrElse(q, (-1L, "?"))
      s""""$q":{"match":$ok,"local":{"rows":$ln,"hash":"$lh"},""" +
        s""""cluster":{"rows":$cn,"hash":"$ch"}}"""
    }.mkString(",")
    val allOk = verdicts.forall(_._2)
    val cacheOk = recompiles.values.forall(_ == 0)
    val byExecutor = recompiles.map { case (e, n) => s""""$e":$n""" }.mkString(",")
    println(s"""{"smoke":"local_vs_cluster","sf":"$sfDir",""" +
      s""""mode":"local-cluster[2,1,1024]","all_match":$allOk,""" +
      s""""executor_recompiles":{$byExecutor},$body}""")
    if (!allOk || !cacheOk) sys.exit(1)
  }
}
