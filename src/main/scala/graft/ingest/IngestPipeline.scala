package graft.ingest

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.slf4j.LoggerFactory

/** The end-to-end parity pipeline — Spark rebuild of the reference's `main`
  * (/root/reference/src/main.rs:27-80):
  *
  *   (cold) stream zip entries to CSV   | (warm: CSV already local, skip)
  *   read CSV (header + inferSchema)    | main.rs:36-42 short-circuit
  *   -> advisory schema verification (O4)
  *   -> 8-column projection (O5; missing column => AnalysisException, the
  *      same fail-hard contract as PolarsError::ColumnNotFound, surfaced at
  *      analysis time instead of execution time)
  *   -> single-file Parquet (O6; coalesce(1) reproduces the reference's
  *      one-file ParquetWriter output, main.rs:41-42)
  *
  * Differences by design (SURVEY.md §4.1 anti-optimizations, not copied):
  *  - verification reads plan metadata, and Catalyst's ColumnPruning
  *    pushes the projection into the CSV reader. The CSV is still scanned
  *    TWICE: `inferSchema` makes its own full pass before the read;
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

  /** Header + inferred schema, faithful to the reference's CsvReadOptions
    * defaults (main.rs:83-87). Inference is its own full pass over the
    * CSV, before the pass that reads the rows. */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  /** The O5 projection. Missing column -> AnalysisException (fail-hard).
    * Names are backtick-quoted: `PM2.5` would otherwise parse as a struct
    * field access. */
  def project(df: DataFrame): DataFrame =
    df.select(AirQualitySchema.projectedColumns
      .map(c => org.apache.spark.sql.functions.col(s"`$c`")): _*)

  /** Full pipeline; returns the projected frame after writing it. */
  def run(spark: SparkSession, conf: Config): DataFrame = {
    ensureCsv(conf)
    val df = readCsv(spark, conf.csvPath)
    SchemaVerifier.verify(df) // advisory only, as in the reference
    val projected = project(df)
    projected.coalesce(1).write.mode("overwrite").parquet(conf.outputPath)
    projected
  }
}
