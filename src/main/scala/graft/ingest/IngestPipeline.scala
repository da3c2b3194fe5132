package graft.ingest

import java.io.{FileNotFoundException, IOException, InputStream}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import scala.collection.mutable.ArrayBuffer
import scala.util.Try
import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.hadoop.io.Text
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.hadoop.util.LineReader
import org.apache.parquet.column.ParquetProperties
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.spark.{SparkException, SparkThrowable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.{CSVInferSchema, CSVOptions}
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, NullType, StringType, StructType}
import org.slf4j.LoggerFactory
import graft.ingest.ZipEntrySplits.EntrySplit

/** The end-to-end parity pipeline — Spark rebuild of the reference's `main`
  * (/root/reference/src/main.rs:27-80):
  *
  *   (cold) inflate zip entries to CSV  | (warm: CSV already local, skip)
  *   read CSV (header + sampled types)  | main.rs:36-42 short-circuit
  *   -> advisory schema verification (O4)
  *   -> 8-column projection (O5; missing column => AnalysisException, the
  *      same fail-hard contract as PolarsError::ColumnNotFound, surfaced at
  *      analysis time instead of execution time)
  *   -> single-file Parquet (O6; the reference's one-file ParquetWriter
  *      output, main.rs:41-42, written by one task per scan partition and
  *      joined by a raw row-group concatenation, see [[writeOneFile]])
  *
  * Differences by design (SURVEY.md §4.1 anti-optimizations, not copied):
  *  - the zip entries inflate in parallel on driver threads, one per core,
  *    into a hidden staging directory that is moved into place only once
  *    every entry has passed its CRC check: extraction is all or nothing,
  *    so a failed run never leaves a warm path behind (see [[extract]]);
  *  - verification reads plan metadata, and Catalyst's ColumnPruning
  *    pushes the projection into the CSV reader. Types come from a leading
  *    sample, as Polars' `infer_schema_length` does, inferred on the driver
  *    with Spark's own CSV inference classes and no Spark job, so the one
  *    scan of the CSV is the write's (see [[readCsv]]);
  *  - no fsync-per-chunk download loop: the zip path is any Hadoop-FS URI
  *    (file:/, s3a://), read entry by entry through [[ZipEntrySplits]].
  */
object IngestPipeline {
  private val log = LoggerFactory.getLogger(getClass)

  /** Config object — the reference's env contract (main.rs:32-48) with the
    * DESTINATION/zip-path coupling made explicit (one setting, SURVEY.md O8).
    */
  final case class Config(
      csvPath: String,          // UNZIPPED_DATA_1: extracted CSV (warm-path key)
      zipPath: Option[String],  // DESTINATION: zip (any Hadoop-FS URI) to extract on cold path
      outputPath: String)       // parquet sink (reference: data/datafile.parquet)

  object Config {
    def fromEnv(env: Map[String, String] = sys.env): Config = Config(
      csvPath = env.getOrElse("UNZIPPED_DATA_1",
        throw new IllegalArgumentException("UNZIPPED_DATA_1 is required")),
      zipPath = env.get("DESTINATION"),
      outputPath = env.getOrElse("OUTPUT_PATH", "data/datafile.parquet"))
  }

  /** Warm/cold short-circuit (O7, main.rs:36): extract only if the CSV is
    * not already present. */
  def ensureCsv(conf: Config): Unit = {
    val warmKey = Paths.get(conf.csvPath)
    if (Files.exists(warmKey)) {
      log.info("File already exists so skipping the data gathering")
    } else conf.zipPath match {
      case Some(zip) => extract(zip, warmKey)
      case None =>
        throw new IllegalArgumentException(
          s"${conf.csvPath} absent and no zip path configured")
    }
  }

  /** Inflate every entry the listing keeps (flat names only — nested and
    * traversal entries are never written) into the warm key's directory,
    * all or nothing.
    *
    * The entries stream through [[ZipEntrySplits.openEntry]] on a fixed pool
    * of min(entries, cores) driver threads, each checking its entry's
    * length and CRC-32 at end of stream, so memory is bounded by the
    * threads' stream buffers, never by entry size. They land in a hidden
    * staging directory: a sibling of that directory that is renamed into
    * place whole, or, when it already exists, a directory inside it whose
    * files are moved out with the warm key last. After any failure the
    * staging directory is deleted, so the warm key is absent and no file of
    * this extraction remains: the next run takes the cold path again. The
    * first failure, in entry order, is rethrown as is (a CRC error stays a
    * ZipException naming its entry) once every thread has stopped. An entry
    * name listed twice keeps its last copy. */
  private def extract(zip: String, warmKey: Path): Unit = {
    // the active session's conf carries spark.hadoop.* (s3a credentials)
    val hadoopConf = SparkSession.getActiveSession
      .fold(new Configuration())(_.sparkContext.hadoopConfiguration)
    // one file per name, the last copy's, as sequential overwrites gave
    val entries = ZipEntrySplits.listEntries(hadoopConf, zip).reverse.distinctBy(_.entry).reverse
    // a bare relative filename has no parent -> extract into the cwd
    val target = Option(warmKey.getParent).getOrElse(Paths.get(".")).toAbsolutePath.normalize
    val existed = Files.isDirectory(target)
    val home = if (existed) target else target.getParent
    Files.createDirectories(home)
    val staging = Files.createTempDirectory(home, ".extracting-")
    try {
      inflateAll(hadoopConf, entries, staging)
      if (!existed) Files.move(staging, target, StandardCopyOption.ATOMIC_MOVE)
      else {
        val key = warmKey.toAbsolutePath.normalize
        val moved = ArrayBuffer.empty[Path]
        try entries.map(_.entry).sortBy(e => target.resolve(e) == key).foreach { e =>
          moved += Files.move(staging.resolve(e), target.resolve(e),
            StandardCopyOption.REPLACE_EXISTING)
        } catch { case e: Throwable => moved.foreach(Files.deleteIfExists); throw e }
      }
      entries.foreach(s => log.info(s"Extracted ${s.entry}"))
    } finally graft.FsUtil.deleteRec(staging) // gone already after a whole-directory move
  }

  private def inflateAll(conf: Configuration, entries: Seq[EntrySplit], dir: Path): Unit =
    if (entries.nonEmpty) {
      val pool = Executors.newFixedThreadPool(
        math.min(entries.size, Runtime.getRuntime.availableProcessors), { (r: Runnable) =>
          val t = new Thread(r, "ingest-extract")
          t.setDaemon(true)
          t
        })
      val failed = new AtomicBoolean(false)
      try {
        val tasks = entries.map { split =>
          pool.submit(new Callable[Unit] {
            def call(): Unit = if (!failed.get) try {
              val in = ZipEntrySplits.openEntry(conf, split)
              try Files.copy(in, dir.resolve(split.entry)) finally in.close()
            } catch { case e: Throwable => failed.set(true); throw e }
          })
        }
        val errors = tasks.flatMap { t =>
          try { t.get(); None } catch { case e: ExecutionException => Some(e.getCause) }
        }
        errors.headOption.foreach { first =>
          errors.tail.foreach(first.addSuppressed)
          throw first
        }
      } finally {
        pool.shutdownNow()
        pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
      }
    }

  /** Records in the leading sample the column types are inferred from.
    * Polars' `infer_schema_length` defaults to 100; a thousand lines cost
    * one small read. */
  private val SampleRecords = 1000

  /** Chars univocity buffers per CSV parser. Spark hands it one line at a
    * time, and a longer line is read in several fills. Its default, 1M
    * chars (2 MB), is one humongous G1 allocation per file split. */
  private val ParserBufferChars = "8192"

  private val csvOptions = Map("header" -> "true", "inputBufferSize" -> ParserBufferChars)

  /** Header + sampled schema, after the reference's CsvReadOptions defaults
    * (main.rs:83-87). The types come from [[inferSchema]] over the
    * [[sampleLines]]: the header and the first [[SampleRecords]] records,
    * read and inferred on the driver without a Spark job. The full input is
    * then read once, under that schema, by the job that consumes it.
    *
    * Malformed-row policy: FAILFAST, as Polars fails a read whose later
    * value does not fit the sampled type. A projected value that does not
    * parse as its column's type fails the job instead of becoming null;
    * [[run]] names the column. Spark parses only the fields a query
    * selects. In [[run]] that is the projection, so values outside it are
    * not checked, nor is a row's field count. */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.options(csvOptions).option("mode", "FAILFAST")
      .schema(inferSchema(spark, sampleLines(spark, path))).csv(path)

  /** The first [[SampleRecords]] + 1 lines the scan reads, in its order:
    * the files under `path` (a file, directory or glob; names starting with
    * `_` or `.` skipped, as Spark's file index does), largest first, ties
    * by path, each decompressed by the codec its name selects (`.gz`, ...)
    * and split into lines as the text reader splits them. The next file is
    * read only if the ones before it hold too few lines. Throws
    * FileNotFoundException if `path` matches no file. */
  private[graft] def sampleLines(spark: SparkSession, path: String): Seq[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new HPath(path)
    val fs = root.getFileSystem(conf)
    def visible(st: FileStatus) = !st.getPath.getName.startsWith("_") &&
      !st.getPath.getName.startsWith(".")
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.filter(visible).flatMap(leaves)
      else Seq(st)
    val files = Option(fs.globStatus(root)).toSeq.flatten.flatMap(leaves)
      .sortBy(st => (-st.getLen, st.getPath.toString))
    if (files.isEmpty) throw new FileNotFoundException(s"$path: no CSV file to read")
    val codecs = new CompressionCodecFactory(conf)
    val lines = ArrayBuffer.empty[String]
    files.iterator.takeWhile(_ => lines.size <= SampleRecords).foreach { st =>
      val raw = fs.open(st.getPath)
      var in: InputStream = raw
      try {
        // a codec stream returns its pooled decompressor when closed
        in = Option(codecs.getCodec(st.getPath)).fold(in)(_.createInputStream(raw))
        val reader = new LineReader(in)
        val line = new Text
        val start = lines.size
        while (lines.size <= SampleRecords && reader.readLine(line) > 0) lines += line.toString
        // the text reader drops a UTF-8 byte-order mark at the start of a file
        if (lines.size > start) lines(start) = lines(start).stripPrefix("\uFEFF")
      } finally in.close()
    }
    lines.toSeq
  }

  /** The schema `spark.read.option("header", "true").option("inferSchema",
    * "true").csv(lines)` infers, computed on the driver with no job. It
    * follows Spark's `TextInputCSVDataSource.inferFromDataset` step by
    * step: the first non-empty line is the header, made safe (empty and
    * duplicate names renamed); lines equal to it are dropped; the column
    * types fold over the rest with `CSVInferSchema.inferRowType`. No line
    * gives an empty schema. These are Spark internals: IngestSpec compares
    * the result with Spark's own inference on every fixture. */
  private[graft] def inferSchema(spark: SparkSession, lines: Seq[String]): StructType = {
    val sqlConf = spark.sessionState.conf
    SQLConf.withExistingConf(sqlConf) {
      val options = new CSVOptions(csvOptions + ("inferSchema" -> "true"),
        sqlConf.csvColumnPruning, sqlConf.sessionLocalTimeZone)
      val parser = new CsvParser(options.asParserSettings)
      val rows = CSVUtils.filterCommentAndEmpty(lines.iterator, options).toSeq
      rows.headOption.flatMap(first => Option(parser.parseLine(first)).map(first -> _)) match {
        case Some((first, names)) =>
          val header = CSVUtils.makeSafeHeader(names, sqlConf.caseSensitiveAnalysis, options)
          val infer = new CSVInferSchema(options)
          val types = CSVUtils.filterHeaderLine(rows.iterator, first, options)
            .map(parser.parseLine)
            .foldLeft(Array.fill[DataType](header.length)(NullType))(infer.inferRowType)
          StructType(infer.toStructFields(types, header))
        case None => StructType(Nil)
      }
    }
  }

  /** The O5 projection. Missing column -> AnalysisException (fail-hard).
    * Names are backtick-quoted: `PM2.5` would otherwise parse as a struct
    * field access. */
  def project(df: DataFrame): DataFrame =
    df.select(AirQualitySchema.projectedColumns.map(c => col(s"`$c`")): _*)

  /** Full pipeline; returns the projected frame after writing it. A value
    * that does not fit its sampled type fails the run with a SparkException
    * that names the column. */
  def run(spark: SparkSession, conf: Config): DataFrame = {
    ensureCsv(conf)
    val df = readCsv(spark, conf.csvPath)
    SchemaVerifier.verify(df) // advisory only, as in the reference
    val projected = project(df)
    try writeOneFile(projected, conf.outputPath)
    catch {
      case e: SparkException if malformedRecord(e) =>
        throw unparsedColumn(projected).fold(e)(f => new SparkException(
          s"CSV column `${f.name}` holds a value that is not ${f.dataType.sql}, " +
            s"the type inferred from its first $SampleRecords records", e))
    }
    projected
  }

  private def malformedRecord(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
      case s: SparkThrowable => Option(s.getCondition).exists(_.startsWith("MALFORMED_RECORD"))
      case _ => false
    }

  /** FAILFAST's error shows the record, not the column. The CSV reader
    * parses only the fields a query selects, so the first typed column
    * whose reading alone fails is the one at fault. */
  private def unparsedColumn(df: DataFrame) =
    df.schema.fields.filter(_.dataType != StringType).find { f =>
      Try(df.select(col(s"`${f.name}`")).write.format("noop").mode("overwrite").save()).isFailure
    }

  /** Write `df` as ONE Parquet file into the directory `out`, replacing
    * it. Each scan partition parses and encodes its own part into the
    * hidden `out/_staging` in parallel. The driver then appends the parts'
    * row groups, in part-index order, to one file: a raw byte copy, no
    * decode or re-encode. Part order is scan-partition order, so the rows
    * keep the order a single coalesced task would have written. The footer
    * carries the parts' key-value metadata (Spark's row schema and its
    * datetime-rebase keys). An empty frame leaves one part with no row
    * group, which gives a file with the schema and no rows. The merged file
    * is renamed into `out` whole and the staging directory is deleted, so a
    * reader never sees the parts beside it. */
  private def writeOneFile(df: DataFrame, out: String): Unit = {
    val hadoopConf = df.sparkSession.sessionState.newHadoopConf()
    val outDir = new HPath(out)
    val fs = outDir.getFileSystem(hadoopConf)
    val staging = new HPath(outDir, "_staging")
    fs.delete(outDir, true)
    try {
      df.write.parquet(staging.toString)
      // part-<task partition index>-<write job uuid>-c000.<codec>.parquet
      val parts = fs.listStatus(staging).map(_.getPath).filter(_.getName.startsWith("part-"))
        .sortBy(_.getName.stripPrefix("part-").takeWhile(_.isDigit).toInt)
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(parts.head, hadoopConf))
      val meta = try reader.getFooter.getFileMetaData finally reader.close()
      val merged = new HPath(staging, "merged")
      val writer = new ParquetFileWriter(HadoopOutputFile.fromPath(merged, hadoopConf),
        meta.getSchema, ParquetFileWriter.Mode.CREATE, ParquetWriter.DEFAULT_BLOCK_SIZE,
        0, null, ParquetProperties.builder().build()) // no padding, no encryption
      try {
        writer.start()
        parts.foreach(p => writer.appendFile(HadoopInputFile.fromPath(p, hadoopConf)))
        writer.end(meta.getKeyValueMetaData)
      } finally writer.close()
      if (!fs.rename(merged, new HPath(outDir, parts.head.getName)))
        throw new IOException(s"could not move the merged Parquet file into $out")
      val success = new HPath(staging, "_SUCCESS")
      if (fs.exists(success)) fs.rename(success, new HPath(outDir, "_SUCCESS"))
    } finally fs.delete(staging, true)
  }
}
