package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.BenchListenerBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Graft, SparkEntry, Transients}
import graft.ingest.IngestPipeline

/** One operation of a pass: a query execution or one ingest run. A failed
  * operation is charged at least its untimed reference time, so a failure
  * never makes a pass look faster. */
final case class OpResult(name: String, family: String, start: Double, end: Double,
                          ok: Boolean, error: String, spans: Seq[Span]) {
  def seconds: Double = (end - start) / 1e3
}

final case class PassResult(traced: Boolean, start: Double, end: Double,
                            taskCpuS: Double, jvmGcS: Double, ops: Seq[OpResult],
                            layers: Map[String, Double]) {
  def wallS: Double = (end - start) / 1e3
}

/** Runs one workload in this JVM and writes its raw measurements as JSON;
  * `run.py` turns them into the benchmark's metrics and checks outputs.
  *
  * Untraced passes carry only the task-CPU counter. With `--trace 1`
  * untraced passes alternate with passes that have the tracing listeners
  * and spans on, so the run reports its own overhead. */
object Harness {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = new File(a("work")).getAbsolutePath
    val cores = a("cores").toInt
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    var builder = Graft.sessionBuilder(s"local[$cores]", cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    if (traced) builder = builder
      .config("spark.sql.queryExecutionListeners", classOf[TraceQueryListener].getName)
      .config("spark.sql.streaming.streamingQueryListeners", classOf[TraceStreamListener].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val cpu = new CpuCounter
    spark.sparkContext.addSparkListener(cpu)
    val workload: Workload = a("workload") match {
      case "ingest_airq" => new IngestWorkload(spark, work, a("zip"))
      case _ => new QueryWorkload(spark, a("data"),
        Files.readAllLines(Paths.get(a("queries"))).asScala.toSeq.filter(_.nonEmpty))
    }
    val out = new StringBuilder
    try {
      val reference = workload.setup()
      val timer = new PassTimer(spark, cpu, cores, workload)
      val firstTimed = Clock.ms()
      val passes = if (traced) timer.alternating(seconds) else timer.passesFor(seconds)
      out ++= Json.render(Json.obj(
        "host_probe_s" -> HostProbe.seconds(cores),
        "jvm_start_epoch_s" -> ManagementFactory.getRuntimeMXBean.getStartTime / 1e3,
        "first_timed_epoch_s" -> firstTimed / 1e3,
        "reference" -> reference,
        "passes" -> passes.map(p => Json.obj(
          "traced" -> p.traced, "wall_s" -> p.wallS, "task_cpu_s" -> p.taskCpuS,
          "jvm_gc_s" -> p.jvmGcS, "layers" -> p.layers,
          "ops" -> p.ops.map(o => Json.obj(
            "name" -> o.name, "seconds" -> o.seconds, "ok" -> o.ok, "error" -> o.error)))),
        "spans" -> passes.filter(_.traced).flatMap(_.ops.flatMap(_.spans)).map(s =>
          Json.obj("name" -> s.name, "op" -> s.op, "start_ms" -> s.start, "end_ms" -> s.end)),
        "outputs" -> workload.outputs))
    } finally spark.stop()
    Files.writeString(Paths.get(a("out")), out.toString)
  }
}

/** Fixed work on every core, timed after the measuring window: memory
  * reads in a dependent chain plus integer mixing. No engine code runs in
  * it, so its time moves only with the host, and a run slowed by other
  * tenants labels itself in the run context. */
object HostProbe {
  private val chain: Array[Int] = {
    val n = 1 << 23 // 32 MB, beyond the last-level cache
    val rnd = new java.util.Random(42)
    val order = Array.range(0, n)
    for (i <- n - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1)
      val t = order(i); order(i) = order(j); order(j) = t
    }
    val next = new Array[Int](n)
    for (i <- 0 until n) next(order(i)) = order((i + 1) % n)
    next
  }
  @volatile private var sink = 0L

  private def walk(start: Int, steps: Int): Long = {
    var i = start
    var h = 0L
    var k = 0
    while (k < steps) {
      i = chain(i)
      h = (h ^ i) * 0x9E3779B97F4A7C15L
      k += 1
    }
    h
  }

  /** Median of three timed rounds, each a 2M-step walk per core. */
  def seconds(cores: Int): Double = {
    def round(): Double = {
      val t0 = System.nanoTime()
      val threads = (0 until cores).map(c => new Thread(() => sink += walk(c * 1000, 2000000)))
      threads.foreach(_.start())
      threads.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    round() // warm-up: compiles the walk
    Seq(round(), round(), round()).sorted.apply(1)
  }
}

/** A workload: an untimed set-up (warm-up and output fingerprints) and one
  * timed pass at a time. */
trait Workload {
  /** Untimed reference run; returns what `run.py` checks. */
  def setup(): Map[String, Any]
  def pass(traced: Boolean): Seq[OpResult]
  /** Layer metrics of one traced pass, beyond the shared execution ones. */
  def layers(pass: PassResult, jobs: Seq[JobRec], tasks: Seq[TaskRec]): Map[String, Double]
  def outputs: Seq[String] = Nil
}

/** Times passes and folds the traced ones into per-layer metrics. */
final class PassTimer(spark: SparkSession, cpu: CpuCounter, cores: Int, w: Workload) {
  private val sc = spark.sparkContext
  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Whole untraced passes within `seconds`: at least one, and no further
    * pass once another of the last pass's length would overrun the window. */
  def passesFor(seconds: Double): Seq[PassResult] = {
    val until = Clock.ms() + seconds * 1e3
    val passes = Seq.newBuilder[PassResult]
    var last = one(traced = false)
    passes += last
    while (Clock.ms() + (last.end - last.start) <= until) {
      last = one(traced = false)
      passes += last
    }
    passes.result()
  }

  /** Untraced and traced passes in turn, starting and ending untraced, so
    * every traced pass sits between two untraced ones and warm-up drift
    * does not read as tracing overhead: at least three passes, more
    * while another pair fits in `seconds`. */
  def alternating(seconds: Double): Seq[PassResult] = {
    val until = Clock.ms() + seconds * 1e3
    val passes = Seq.newBuilder[PassResult]
    var last = one(traced = false)
    passes += last
    do {
      passes += tracing(one(traced = true))
      last = one(traced = false)
      passes += last
    } while (Clock.ms() + 2 * (last.end - last.start) <= until)
    passes.result()
  }

  private def tracing(pass: => PassResult): PassResult = {
    sc.addSparkListener(Trace.Listener)
    Trace.active = true
    try pass
    finally {
      Trace.active = false
      sc.removeSparkListener(Trace.Listener)
    }
  }

  private def one(traced: Boolean): PassResult = {
    // every pass starts from a collected heap: whether a large collection
    // lands inside a pass otherwise depends on the passes before it
    System.gc()
    BenchListenerBus.drain(sc)
    if (traced) Trace.reset()
    val cpu0 = cpu.cpuNs.get
    val gc0 = gcMs()
    val start = Clock.ms()
    val ops = w.pass(traced)
    val end = Clock.ms()
    val gcS = (gcMs() - gc0) / 1e3
    BenchListenerBus.drain(sc)
    val p = PassResult(traced, start, end, (cpu.cpuNs.get - cpu0) / 1e9, gcS, ops, Map.empty)
    if (!traced) p
    else {
      val jobs = Trace.jobList
      val tasks = Trace.taskList
      p.copy(layers = Layers.execution(p, jobs, tasks, cores) ++ w.layers(p, jobs, tasks))
    }
  }
}

/** Layer metrics every workload shares: Catalyst, scheduling, task
  * execution, scan, shuffle, spill, streaming and the JVM. */
object Layers {
  def sum[T](xs: Iterable[T])(f: T => Double): Double = xs.iterator.map(f).sum

  /** Job attributed to an operation by the local property set around it,
    * or else by the operation running when the job started. */
  def opOf(job: JobRec, ops: Seq[OpResult]): Option[OpResult] =
    Option(job.op).flatMap(n => ops.find(o => o.name == n && o.start <= job.start && job.start <= o.end + 1))
      .orElse(ops.find(o => o.start <= job.start && job.start <= o.end))

  /** Seconds of `op` with no job of it running. */
  def driverOnlyS(op: OpResult, jobs: Seq[JobRec]): Double = {
    val spans = jobs.map(j => (math.max(j.start.toDouble, op.start),
        math.min(if (j.end < 0) op.end else j.end.toDouble, op.end)))
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered, reach = 0.0
    spans.foreach { case (s, e) =>
      if (s > reach) { covered += e - s; reach = e }
      else if (e > reach) { covered += e - reach; reach = e }
    }
    op.seconds - covered / 1e3
  }

  def execution(p: PassResult, jobs: Seq[JobRec], tasks: Seq[TaskRec], cores: Int): Map[String, Double] = {
    val cpuS = sum(tasks)(_.cpuNs / 1e9)
    val jobsOfOp = jobs.groupBy(j => opOf(j, p.ops).map(_.name).orNull)
    val jobOfStage = jobs.flatMap(j => j.stages.map(_ -> j)).toMap
    val opOfTask = (t: TaskRec) => jobOfStage.get(t.stage).flatMap(opOf(_, p.ops))
    val byFamily = Workloads.Families.flatMap { f =>
      val ops = p.ops.filter(_.family == f)
      val names = ops.map(_.name).toSet
      Seq(s"ops.$f.wall_s" -> sum(ops)(_.seconds),
        s"ops.$f.task_cpu_s" -> sum(tasks.filter(t => opOfTask(t).exists(o => names(o.name))))(_.cpuNs / 1e9))
    }
    Map(
      "exec.driver_only_s" -> sum(p.ops)(o => driverOnlyS(o, jobsOfOp.getOrElse(o.name, Nil))),
      "exec.jobs" -> jobs.size.toDouble,
      "exec.stages" -> Trace.stages.get.toDouble,
      "exec.tasks" -> tasks.size.toDouble,
      "exec.task_run_s" -> sum(tasks)(_.runMs / 1e3),
      "exec.task_cpu_s" -> cpuS,
      "exec.gc_s" -> sum(tasks)(_.gcMs / 1e3),
      "exec.failed_tasks" -> tasks.count(!_.ok).toDouble,
      "exec.core_util" -> cpuS / (p.wallS * cores),
      "scan.input_bytes" -> sum(tasks)(_.inBytes.toDouble),
      "scan.input_records" -> sum(tasks)(_.inRecords.toDouble),
      "shuffle.write_bytes" -> sum(tasks)(_.shuffleWrite.toDouble),
      "shuffle.read_bytes" -> sum(tasks)(_.shuffleRead.toDouble),
      "shuffle.fetch_wait_s" -> sum(tasks)(_.fetchWaitMs / 1e3),
      "spill.memory_bytes" -> sum(tasks)(_.spillMemory.toDouble),
      "spill.disk_bytes" -> sum(tasks)(_.spillDisk.toDouble),
      "plan.analysis_s" -> Trace.analysisS.sum,
      "plan.optimization_s" -> Trace.optimizationS.sum,
      "plan.planning_s" -> Trace.planningS.sum,
      "aqe.plan_updates" -> Trace.aqeUpdates.get.toDouble,
      "stream.drains" -> Trace.streamDrains.get.toDouble,
      "stream.batches" -> Trace.streamBatches.get.toDouble,
      "stream.batch_s" -> Trace.streamBatchS.sum,
      "stream.state_commit_s" -> Trace.stateCommitS.sum,
      "entry.build_s" -> sum(p.ops.flatMap(_.spans).filter(_.name == "build"))(_.seconds),
      "transients.drop_s" -> sum(p.ops.flatMap(_.spans).filter(_.name == "Transients.drop"))(_.seconds),
      "jvm.gc_s" -> p.jvmGcS) ++ byFamily
  }
}

object Workloads {
  /** The query families: each ops module's `queries` map, plus the stream
    * drains SparkEntry registers itself. */
  val Families: Seq[String] = Seq("Relational", "TpchOps", "TextOps", "DedupOps",
    "GraphOps", "SimilarityOps", "MultimodalOps", "StatsOps", "EtlOps",
    "LayoutOps", "streaming")

  lazy val familyOf: Map[String, String] = {
    import graft.ops._
    Seq("Relational" -> Relational.queries, "TpchOps" -> TpchOps.queries,
      "TextOps" -> TextOps.queries, "DedupOps" -> DedupOps.queries,
      "GraphOps" -> GraphOps.queries, "SimilarityOps" -> SimilarityOps.queries,
      "MultimodalOps" -> MultimodalOps.queries, "StatsOps" -> StatsOps.queries,
      "EtlOps" -> EtlOps.queries, "LayoutOps" -> LayoutOps.queries)
      .flatMap { case (f, qs) => qs.keys.map(_ -> f) }.toMap
      .withDefaultValue("streaming")
  }

  def timed(name: String, op: String)(body: => Unit): Span = {
    val s = Clock.ms()
    body
    Span(name, op, s, Clock.ms())
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** `SparkEntry.queries` in a frozen order. Each execution builds the query
  * and runs its full plan into the `noop` sink; after each one the harness
  * drops the query's transients, as the engine's own bench does. */
final class QueryWorkload(spark: SparkSession, data: String, names: Seq[String]) extends Workload {
  import Workloads._
  private val fns = SparkEntry.queries
  private val sc = spark.sparkContext
  // the engine bench's between-query GC nudge, timed from the first pass
  private lazy val gc = new Graft.GcNudge()
  private var reference = Map.empty[String, Double]

  /** Row count plus an order-insensitive sum of row hashes. */
  private def fingerprint(df: DataFrame): (Long, String) = {
    val r = df.select(xxhash64(to_json(struct(col("*")))).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  def setup(): Map[String, Any] = {
    val fingerprints = names.map { n =>
      val t0 = Clock.ms()
      val fp = try Right(fingerprint(fns(n)(spark, data)))
        catch { case NonFatal(e) => Left(e.toString) }
        finally Transients.drop(spark)
      reference += n -> (Clock.ms() - t0) / 1e3
      n -> (fp match {
        case Right((rows, hash)) => Json.obj("rows" -> rows, "hash" -> hash, "seconds" -> reference(n))
        case Left(err) => Json.obj("error" -> err, "seconds" -> reference(n))
      })
    }.toMap
    // the reference pass never wrote to the noop sink; warm its write path
    // so the first timed query does not pay for it
    spark.range(0, 1000000, 1, sc.defaultParallelism).selectExpr("id", "cast(id as string) s")
      .write.format("noop").mode("overwrite").save()
    fingerprints
  }

  def pass(traced: Boolean): Seq[OpResult] = names.map { n =>
    gc.maybe()
    sc.setLocalProperty(Trace.OpProperty, n)
    val start = Clock.ms()
    val spans = Seq.newBuilder[Span]
    val err = try {
      var df: DataFrame = null
      spans += timed("build", n) { df = fns(n)(spark, data) }
      spans += timed("write", n) { df.write.format("noop").mode("overwrite").save() }
      null
    } catch { case NonFatal(e) => e.toString }
    val end = math.max(Clock.ms(), if (err == null) 0.0 else start + reference(n) * 1e3)
    sc.setLocalProperty(Trace.OpProperty, null)
    spans += timed("Transients.drop", n) { Transients.drop(spark) }
    OpResult(n, familyOf(n), start, end, err == null, err, if (traced) spans.result() else Nil)
  }

  def layers(p: PassResult, jobs: Seq[JobRec], tasks: Seq[TaskRec]): Map[String, Double] = Map.empty
}

/** The paper's pipeline, cold on every run: each operation extracts the
  * archive into a fresh directory and writes a fresh single-file Parquet
  * output through `IngestPipeline.run`. A pass is one operation plus the
  * removal of its extracted CSV. */
final class IngestWorkload(spark: SparkSession, work: String, zip: String) extends Workload {
  import Workloads._
  private var n = 0
  private var reference = 0.0
  private val outs = Seq.newBuilder[String]
  private var extractedBytes = 0L
  private var lastOutput = ""

  // `<dir>/csv/.`: absent until extracted, so ensureCsv takes the cold
  // path and unpacks every flat entry into `<dir>/csv`, which readCsv then
  // reads as one directory of CSV files
  private def config(dir: String) =
    IngestPipeline.Config(s"$dir/csv/.", Some(zip), s"$dir/out")

  private def op(traced: Boolean): OpResult = {
    n += 1
    val dir = s"$work/ingest/op$n"
    val conf = config(dir)
    val spans = Seq.newBuilder[Span]
    spark.sparkContext.setLocalProperty(Trace.OpProperty, "ingest")
    val start = Clock.ms()
    val err = try {
      if (traced) {
        // ensureCsv first, so the run below takes the warm path and the
        // extraction shows as its own span
        spans += timed("IngestPipeline.ensureCsv", "ingest") { IngestPipeline.ensureCsv(conf) }
        extractedBytes = Option(new File(s"$dir/csv").listFiles).toSeq.flatten.map(_.length).sum
        spans += timed("IngestPipeline.run", "ingest") { IngestPipeline.run(spark, conf) }
      } else IngestPipeline.run(spark, conf)
      null
    } catch { case NonFatal(e) => e.toString }
    val end = math.max(Clock.ms(), if (err == null) 0.0 else start + reference * 1e3)
    spark.sparkContext.setLocalProperty(Trace.OpProperty, null)
    deleteTree(new File(s"$dir/csv"))
    outs += conf.outputPath
    lastOutput = conf.outputPath
    OpResult("ingest", "ingest", start, end, err == null, err, spans.result())
  }

  /** Two untimed runs: the JIT is still compiling the pipeline's hot paths
    * through the first. Both outputs are checked like the timed ones. */
  def setup(): Map[String, Any] = {
    val warm = Seq(op(traced = false), op(traced = false))
    reference = warm.last.seconds
    Map("ingest" -> Json.obj("seconds" -> reference, "ok" -> warm.map(_.ok),
      "errors" -> warm.flatMap(w => Option(w.error))))
  }

  def pass(traced: Boolean): Seq[OpResult] = Seq(op(traced))

  override def outputs: Seq[String] = outs.result()

  /** The ingest layer, split at its public calls and, inside `run`, at the
    * Spark jobs: jobs whose call site is `readCsv` are the read, the rest
    * the write. */
  def layers(p: PassResult, jobs: Seq[JobRec], tasks: Seq[TaskRec]): Map[String, Double] = {
    val o = p.ops.head
    val extract = o.spans.find(_.name == "IngestPipeline.ensureCsv")
    val run = o.spans.find(_.name == "IngestPipeline.run")
    val (readJobs, writeJobs) = jobs.partition(_.details.contains("IngestPipeline$.readCsv"))
    val runStart = run.map(_.start).getOrElse(o.start)
    val runEnd = run.map(_.end).getOrElse(o.end)
    val readEnd = if (readJobs.isEmpty) runStart else readJobs.map(_.end.toDouble).max
    val writeStart = if (writeJobs.isEmpty) runEnd else writeJobs.map(_.start.toDouble).min
    val writeStages = writeJobs.flatMap(_.stages).toSet
    val cpuS = Layers.sum(tasks)(_.cpuNs / 1e9)
    val inBytes = Layers.sum(tasks)(_.inBytes.toDouble)
    val files = Option(new File(lastOutput).listFiles).toSeq.flatten
      .filter(_.getName.endsWith(".parquet"))
    Map(
      "ingest.extract_s" -> extract.map(_.seconds).getOrElse(0.0),
      "ingest.extract_bytes" -> extractedBytes.toDouble,
      "ingest.read_s" -> (readEnd - runStart) / 1e3,
      "ingest.verify_s" -> math.max(0.0, writeStart - readEnd) / 1e3,
      "ingest.write_s" -> (runEnd - writeStart) / 1e3,
      "ingest.jobs" -> jobs.size.toDouble,
      "ingest.tasks" -> tasks.size.toDouble,
      "ingest.write_tasks" -> tasks.count(t => writeStages(t.stage)).toDouble,
      "ingest.input_bytes" -> inBytes,
      "ingest.scan_ratio" -> (if (extractedBytes > 0) inBytes / extractedBytes else 0.0),
      "ingest.core_util" -> cpuS / (o.seconds * spark.sparkContext.defaultParallelism),
      "ingest.output_bytes" -> files.map(_.length).sum.toDouble,
      "ingest.output_files" -> files.size.toDouble)
  }
}

/** Minimal JSON rendering for the measurement file. */
object Json {
  def obj(kv: (String, Any)*): Map[String, Any] = kv.toMap

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
