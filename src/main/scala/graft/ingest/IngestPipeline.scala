package graft.ingest

import java.io.IOException
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.util.Try
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.column.ParquetProperties
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.spark.{SparkException, SparkThrowable}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StringType
import org.slf4j.LoggerFactory

/** The end-to-end parity pipeline — Spark rebuild of the reference's `main`
  * (/root/reference/src/main.rs:27-80):
  *
  *   (cold) stream zip entries to CSV   | (warm: CSV already local, skip)
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
  *  - verification reads plan metadata, and Catalyst's ColumnPruning
  *    pushes the projection into the CSV reader. Types come from a leading
  *    sample, as Polars' `infer_schema_length` does, so the CSV is scanned
  *    once (see [[readCsv]]);
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
  def ensureCsv(conf: Config): Unit =
    if (Files.exists(Paths.get(conf.csvPath))) {
      log.info("File already exists so skipping the data gathering")
    } else conf.zipPath match {
      case Some(zip) =>
        // a bare relative filename has no parent -> extract into the cwd
        extract(zip, Option(Paths.get(conf.csvPath).getParent).getOrElse(Paths.get(".")))
      case None =>
        throw new IllegalArgumentException(
          s"${conf.csvPath} absent and no zip path configured")
    }

  /** Stream every entry the listing keeps (flat names only — nested and
    * traversal entries are never written) into `outDir`. An entry that
    * fails its CRC check leaves no file behind, so a later warm run cannot
    * pick up a corrupt CSV. */
  private def extract(zip: String, outDir: Path): Unit = {
    // the active session's conf carries spark.hadoop.* (s3a credentials)
    val hadoopConf = SparkSession.getActiveSession
      .fold(new Configuration())(_.sparkContext.hadoopConfiguration)
    Files.createDirectories(outDir)
    ZipEntrySplits.listEntries(hadoopConf, zip).foreach { split =>
      val target = outDir.resolve(split.entry)
      val in = ZipEntrySplits.openEntry(hadoopConf, split)
      try Files.copy(in, target, StandardCopyOption.REPLACE_EXISTING)
      catch { case e: Throwable => Files.deleteIfExists(target); throw e }
      finally in.close()
      log.info(s"Extracted ${split.entry}")
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

  /** Header + sampled schema, after the reference's CsvReadOptions defaults
    * (main.rs:83-87). The types are Spark's own CSV inference, in one task,
    * over the header and the first [[SampleRecords]] records the scan
    * reads: the start of the file whose header names the columns, and the
    * next file the scan reads only if that one holds fewer records. The
    * full input is then read once, under that schema.
    *
    * Malformed-row policy: FAILFAST, as Polars fails a read whose later
    * value does not fit the sampled type. A projected value that does not
    * parse as its column's type fails the job instead of becoming null;
    * [[run]] names the column. Spark parses only the fields a query
    * selects. In [[run]] that is the projection, so values outside it are
    * not checked, nor is a row's field count. */
  def readCsv(spark: SparkSession, path: String): DataFrame = {
    val sample = spark.read.textFile(path).take(SampleRecords + 1)
    def reader = spark.read.option("header", "true").option("inputBufferSize", ParserBufferChars)
    val schema = reader.option("inferSchema", "true")
      .csv(spark.createDataset(sample.toSeq)(Encoders.STRING).coalesce(1)).schema
    reader.option("mode", "FAILFAST").schema(schema).csv(path)
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
