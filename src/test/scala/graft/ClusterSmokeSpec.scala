package graft

import org.scalatest.funsuite.AnyFunSuite

/** STANDING process-boundary gate (round-13, VERDICT r12 item 2): forks
  * [[ClusterSmoke]] as a child JVM (this test JVM's one SparkContext
  * belongs to the shared TestSpark session — local-cluster needs its
  * own) and requires every representative query to fingerprint-match
  * between `local[4]` and `local-cluster[2,1,1024]` REAL executor
  * processes. This makes the closure-transport regression class — the
  * exact bug r12 found and fixed in Graft.sessionBuilder's classpath
  * absolutization — fail `sbt test` instead of waiting for the hand-run
  * full cluster gate. The child also fails when an executor's
  * generated-class cache did not take the engine's size
  * ([[Graft.CodegenCacheEntries]]): its verdict line then shows non-zero
  * `executor_recompiles`.
  *
  * The child needs what tools/cluster_gate.sh stages: a SPARK_HOME whose
  * layout the in-process standalone Worker can launch executors from
  * (jars + conf + RELEASE — a /tmp symlink farm over /opt/spark), the
  * pinned SPARK_SCALA_VERSION, and the JDK17 --add-opens flags build.sbt
  * gives every forked JVM.
  */
class ClusterSmokeSpec extends AnyFunSuite {

  private def stageSparkHome(): String = {
    import java.nio.file.{Files, Paths}
    val sh = Paths.get("/tmp/graft_spark_home")
    Files.createDirectories(sh)
    Seq("jars", "conf", "RELEASE").foreach { n =>
      val link = sh.resolve(n)
      Files.deleteIfExists(link)
      Files.createSymbolicLink(link, Paths.get(s"/opt/spark/$n"))
    }
    sh.toString
  }

  test("representative queries fingerprint-match across real executor processes") {
    TestSpark.requireTestdata(GenEdge.SkewSource)
    assume(new java.io.File("/opt/spark/jars").isDirectory,
      "/opt/spark distribution not present — cannot launch executor JVMs")
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar")
      .flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cmd = Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx4g",
      "-Dspark.ui.enabled=false",
      "-Dspark.sql.session.timeZone=UTC",
      "-Dspark.sql.legacy.parquet.nanosAsLong=true",
      "-cp", sys.props("java.class.path"),
      "graft.ClusterSmoke", GenEdge.SkewSource)
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().put("SPARK_HOME", stageSparkHome())
    pb.environment().put("SPARK_SCALA_VERSION", "2.13")
    pb.redirectErrorStream(true)
    val p = pb.start()
    // drain on a side thread: readAllBytes inline would block past any
    // timeout if the child wedges (the stream only closes on child exit)
    val buf = new java.io.ByteArrayOutputStream()
    val reader = new Thread(() => { p.getInputStream.transferTo(buf); () })
    reader.setDaemon(true)
    reader.start()
    val finished = p.waitFor(15, java.util.concurrent.TimeUnit.MINUTES)
    if (!finished) {
      p.destroyForcibly()
      fail(s"ClusterSmoke timed out:\n${buf.toString.takeRight(4000)}")
    }
    reader.join(10000)
    val out = buf.toString
    val verdict = out.linesIterator.find(_.contains("\"smoke\":\"local_vs_cluster\""))
    assert(p.exitValue() == 0 && verdict.exists(_.contains("\"all_match\":true")),
      s"ClusterSmoke exit ${p.exitValue()}; verdict line: " +
        s"${verdict.getOrElse("<none>")}\ntail:\n${out.takeRight(4000)}")
  }
}
