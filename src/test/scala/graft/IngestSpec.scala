package graft

import java.io.{File, FileOutputStream}
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.SparkException
import org.apache.spark.sql.{AnalysisException, Encoders, Row}
import org.apache.spark.sql.functions.{col, xxhash64}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest._

/** Parity-pipeline tests against generated fixtures, mirroring the reference
  * contract (FIXTURES.md §A): 19-column CSV, advisory verifier, fail-hard
  * projection, zip-slip skipping, warm-path short-circuit. */
class IngestSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def tmpDir(): File = Files.createTempDirectory("graft_ingest").toFile

  private val header = AirQualitySchema.expectedColumns
    .map(c => "\"" + c + "\"").mkString(",")
  private def csvBody(rows: Int): String =
    (0 until rows).map { i =>
      val date = f"2020-01-${i % 28 + 1}%02d"
      val nums = (0 until 16).map(j => (i * 16 + j) / 10.0).mkString(",")
      s""""$date",$nums,"C$i","id$i""""
    }.mkString("\n")
  private def writeCsv(dir: File, name: String, text: String): File = {
    val f = new File(dir, name)
    Files.writeString(f.toPath, text)
    f
  }

  test("full pipeline: read once, verify, project 8 of 19, single parquet file") {
    val dir = tmpDir()
    val csv = writeCsv(dir, "data.csv", header + "\n" + csvBody(50))
    val out = new File(dir, "out.parquet")
    val conf = IngestPipeline.Config(csv.getPath, None, out.getPath)
    val projected = IngestPipeline.run(spark, conf)
    assert(projected.columns.toSeq === AirQualitySchema.projectedColumns)
    val written = spark.read.parquet(out.getPath)
    assert(written.count() === 50)
    assert(written.columns.toSeq === AirQualitySchema.projectedColumns)
    // single-file contract (O6): exactly one part file
    assert(out.listFiles().count(_.getName.endsWith(".parquet")) === 1)
  }

  private def parquetFiles(out: File): Seq[File] =
    out.listFiles().toSeq.filter(_.getName.endsWith(".parquet"))

  test("parallel write: one file of several row groups, rows in coalesce(1) order") {
    val dir = tmpDir()
    val in = new File(dir, "in")
    in.mkdir()
    // three sizes, so the scan's size-descending split order matters
    Seq(300, 200, 100).zipWithIndex.foreach { case (n, i) =>
      writeCsv(in, s"f$i.csv", header + "\n" + csvBody(n).replace("\"id", s"\"f$i-id"))
    }
    val out = new File(dir, "out")
    val key = "spark.sql.files.maxPartitionBytes"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "8k")
    val expected = try {
      IngestPipeline.run(spark, IngestPipeline.Config(in.getPath, None, out.getPath))
      IngestPipeline.project(IngestPipeline.readCsv(spark, in.getPath)).coalesce(1).collect()
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val files = parquetFiles(out)
    assert(files.size === 1)
    assert(!new File(out, "_staging").exists())
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(files.head.getPath), new Configuration()))
    try assert(reader.getRowGroups.size >= 2)
    finally reader.close()
    val written = spark.read.parquet(files.head.getPath).collect()
    assert(written.length === 600)
    assert(written.toSeq === expected.toSeq)
  }

  test("a value outside the sampled type fails the run and names the column") {
    val dir = tmpDir()
    def row(i: Int, no2: String) =
      (Seq("\"2020-01-01\"", no2) ++ (1 until 16).map(j => (i * 16 + j) / 10.0) ++
        Seq(s""""C$i"""", s""""id$i"""")).mkString(",")
    // NO2 is integral through the sample and well past it, then 1.5
    val body = (0 until 1200).map(i => row(i, i.toString)) :+ row(1200, "1.5")
    val csv = writeCsv(dir, "data.csv", (header +: body).mkString("\n"))
    val e = intercept[SparkException] {
      IngestPipeline.run(spark,
        IngestPipeline.Config(csv.getPath, None, new File(dir, "out").getPath))
    }
    assert(e.getMessage.contains("`NO2`"), e.getMessage)
  }

  test("round-trip oracle: ingest(csv(T)) equals T by row hash, explicit schema") {
    val schema = StructType(StructField("Date", DateType) +:
      AirQualitySchema.projectedColumns.slice(1, 7).map(StructField(_, DoubleType)) :+
      StructField("station_name", StringType))
    val rnd = new scala.util.Random(7)
    def value(): Double = { val k = rnd.nextInt(100000); (if (k % 100 == 0) k + 1 else k) / 100.0 }
    val t = (0 until 900).map { i =>
      val date = java.time.LocalDate.of(2019, 1, 1).plusDays(rnd.nextInt(900).toLong)
      val nums = Seq.fill(6)(value()).zipWithIndex
        .map { case (d, j) => if (j == 0 && i % 37 == 5) null else d }
      Row.fromSeq(java.sql.Date.valueOf(date) +: nums :+ s"Station ${i % 13}, Porto")
    }
    def cell(v: Any): String = v match {
      case null => ""
      case s: String => "\"" + s + "\""
      case d: java.sql.Date => "\"" + d.toLocalDate + "\""
      case x => x.toString
    }
    val dir = tmpDir()
    val in = new File(dir, "in")
    in.mkdir()
    // three files; the 11 columns outside the projection carry filler
    Seq(t.slice(0, 450), t.slice(450, 750), t.slice(750, 900)).zipWithIndex.foreach {
      case (rows, f) =>
        writeCsv(in, s"t$f.csv", (header +: rows.map { r =>
          (r.toSeq.map(cell) ++ (0 until 9).map(j => s"$j.5") ++ Seq("1", "\"x\"")).mkString(",")
        }).mkString("\n"))
    }
    // the CSV order of the 19 columns puts the 8 projected ones first
    assert(AirQualitySchema.expectedColumns.take(8) === AirQualitySchema.projectedColumns)
    val out = new File(dir, "out")
    IngestPipeline.run(spark, IngestPipeline.Config(in.getPath, None, out.getPath))
    def hashes(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select(xxhash64(schema.fieldNames.toSeq.map(c => col(s"`$c`")): _*))
        .collect().map(_.getLong(0)).toSeq.sorted
    val want = spark.createDataFrame(java.util.Arrays.asList(t: _*), schema)
    val got = spark.read.parquet(out.getPath)
    // the sampled types are T's types, so the hashes compare like for like
    assert(got.schema.map(f => (f.name, f.dataType)) === schema.map(f => (f.name, f.dataType)))
    assert(got.count() === 900)
    assert(hashes(got) === hashes(want))
  }

  test("header-only CSV: one Parquet file, the header's columns, all strings") {
    val dir = tmpDir()
    val csv = writeCsv(dir, "data.csv", header + "\n")
    val out = new File(dir, "out")
    IngestPipeline.run(spark, IngestPipeline.Config(csv.getPath, None, out.getPath))
    assert(parquetFiles(out).size === 1)
    val written = spark.read.parquet(out.getPath)
    assert(written.count() === 0)
    assert(written.schema.map(f => (f.name, f.dataType)) ===
      AirQualitySchema.projectedColumns.map(_ -> StringType))
  }

  /** The driver's sample must be the lines the text scan reads first, and
    * its inference must equal Spark's CSV inference over those lines. */
  private def assertSparkInference(path: String): StructType = {
    val lines = IngestPipeline.sampleLines(spark, path)
    assert(lines === spark.read.textFile(path).take(1001).toSeq)
    val want = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(spark.createDataset(lines)(Encoders.STRING)).schema
    val got = IngestPipeline.inferSchema(spark, lines)
    assert(got === want)
    got
  }

  test("driver inference equals Spark's CSV inference over the same sample") {
    val dir = tmpDir()
    // the air-quality layout, past the sample, with a byte-order mark
    val air = writeCsv(dir, "air.csv", "\uFEFF" + header + "\n" + csvBody(1500))
    val airSchema = assertSparkInference(air.getPath)
    assert(airSchema.fieldNames.toSeq === AirQualitySchema.expectedColumns)
    assert(airSchema.map(_.dataType).toSet === Set(DateType, DoubleType, StringType))
    // duplicate (also by case) and empty header names
    assertSparkInference(writeCsv(dir, "dup.csv", "a,a,,b,B,\n1,2,3,x,4.5,\n6,7,8,y,9,z\n").getPath)
    // header only
    assert(assertSparkInference(writeCsv(dir, "hdr.csv", "p,q\n").getPath).map(_.dataType) ===
      Seq(StringType, StringType))
    // blank lines before the header and between records
    assertSparkInference(
      writeCsv(dir, "blank.csv", "\n\np,q\n\n1,2\n   \n3,4.5\n\n").getPath)
    // gzip, decompressed as the scan does
    val gz = new File(dir, "data.csv.gz")
    val zout = new java.util.zip.GZIPOutputStream(new FileOutputStream(gz))
    zout.write((header + "\n" + csvBody(40)).getBytes("UTF-8"))
    zout.close()
    assert(assertSparkInference(gz.getPath) === airSchema)
    // a directory: largest file first, the sample runs into the next one
    // (whose header line is dropped), hidden files are not read
    val multi = new File(dir, "multi")
    multi.mkdir()
    writeCsv(multi, "big.csv", header + "\n" + csvBody(800))
    writeCsv(multi, "small.csv", header + "\n" + csvBody(400).replace("\"C", "\"Z"))
    writeCsv(multi, ".hidden.csv", "not,a,csv\n" * 5000)
    writeCsv(multi, "_SUCCESS", "")
    val lines = IngestPipeline.sampleLines(spark, multi.getPath)
    assert(lines.size === 1001 && lines.count(_ == header) === 2 && lines(1000).contains("\"Z"))
    assert(assertSparkInference(multi.getPath) === airSchema)
    // no file to read
    intercept[java.io.FileNotFoundException] {
      IngestPipeline.sampleLines(spark, new File(dir, "absent.csv").getPath)
    }
    val empty = new File(dir, "empty")
    empty.mkdir()
    intercept[java.io.FileNotFoundException] { IngestPipeline.readCsv(spark, empty.getPath) }
  }

  test("verifier: advisory — missing expected warns, unexpected extra noted, run proceeds") {
    val dir = tmpDir()
    val noO3 = AirQualitySchema.expectedColumns.filterNot(_ == "O3")
    val csv = writeCsv(dir, "data.csv",
      noO3.map(c => "\"" + c + "\"").mkString(",") + ",\"extra_sensor\"\n" +
        (noO3.map(_ => "1").mkString(",") + ",42"))
    val df = IngestPipeline.readCsv(spark, csv.getPath)
    val report = SchemaVerifier.verify(df)
    assert(report.missing === Seq("O3"))
    assert(report.unexpected === Seq("extra_sensor"))
    assert(!report.ok)
    // projection then fails hard, as the reference's ColumnNotFound does
    intercept[AnalysisException] { IngestPipeline.project(df).collect() }
  }

  test("zip extract: flat entries extracted, traversal + nested entries skipped") {
    val dir = tmpDir()
    val zipFile = new File(dir, "data.zip")
    val zos = new ZipOutputStream(new FileOutputStream(zipFile))
    def add(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    add("good.csv", "a,b\n1,2")
    add("../evil.csv", "pwned")
    add("nested/deep.csv", "x")
    add(".", "names the output directory itself")
    zos.close()
    val outDir = new File(dir, "unzipped")
    // cold path: the CSV is absent, so ensureCsv extracts the archive
    IngestPipeline.ensureCsv(IngestPipeline.Config(
      new File(outDir, "good.csv").getPath, Some(zipFile.getPath), "unused"))
    assert(outDir.list().toSeq === Seq("good.csv"))
    assert(Files.readString(new File(outDir, "good.csv").toPath) === "a,b\n1,2")
    assert(!new File(dir, "evil.csv").exists())
    assert(!new File(outDir, "evil.csv").exists())
    assert(!new File(dir, "nested").exists() && !new File(outDir, "nested").exists())
  }

  test("warm path short-circuit: existing CSV is not re-extracted") {
    val dir = tmpDir()
    val csv = writeCsv(dir, "data.csv", header + "\n" + csvBody(3))
    // zipPath=None would throw on the cold path; presence of csv short-circuits
    IngestPipeline.ensureCsv(IngestPipeline.Config(csv.getPath, None, "unused"))
  }

  test("distributed zip source: graft-zip skips '..', expandCsv parses the rest") {
    val dir = tmpDir()
    val zipFile = new File(dir, "archive.zip")
    val zos = new ZipOutputStream(new FileOutputStream(zipFile))
    zos.putNextEntry(new ZipEntry("part1.csv"))
    zos.write((header + "\n" + csvBody(5)).getBytes("UTF-8"))
    zos.closeEntry()
    zos.putNextEntry(new ZipEntry("../bad.csv"))
    zos.write("nope".getBytes("UTF-8"))
    zos.closeEntry()
    zos.close()
    val entries = spark.read.format("graft-zip").load(zipFile.getPath)
      .select("entry").collect().map(_.getString(0))
    assert(entries.toSeq === Seq("part1.csv"))
    val parsed = ZipSource.expandCsv(spark, zipFile.getPath)
    assert(parsed.count() === 5)
    assert(parsed.columns.length === 19)
  }

  test("expandCsv keeps data rows byte-equal to the header, drops only line 1") {
    val dir = tmpDir()
    val zipFile = new File(dir, "hdr.zip")
    val zos = new ZipOutputStream(new FileOutputStream(zipFile))
    zos.putNextEntry(new ZipEntry("a.csv"))
    // line 2 repeats the header text verbatim — it is DATA and must survive
    zos.write(s"$header\n$header\n${csvBody(2)}".getBytes("UTF-8"))
    zos.closeEntry()
    zos.close()
    val parsed = ZipSource.expandCsv(spark, zipFile.getPath)
    assert(parsed.count() === 3)
  }

  test("expandCsv of a header-only archive yields an empty frame with the right columns") {
    val dir = tmpDir()
    val zipFile = new File(dir, "empty.zip")
    val zos = new ZipOutputStream(new FileOutputStream(zipFile))
    zos.putNextEntry(new ZipEntry("a.csv"))
    zos.write((header + "\n").getBytes("UTF-8"))
    zos.closeEntry()
    zos.close()
    val parsed = ZipSource.expandCsv(spark, zipFile.getPath)
    assert(parsed.count() === 0)
    assert(parsed.columns.length === 19)
  }

  test("expandCsv fails hard on an entry whose header differs") {
    val dir = tmpDir()
    val zipFile = new File(dir, "mismatch.zip")
    val zos = new ZipOutputStream(new FileOutputStream(zipFile))
    zos.putNextEntry(new ZipEntry("a.csv"))
    zos.write(s"$header\n${csvBody(2)}".getBytes("UTF-8"))
    zos.closeEntry()
    zos.putNextEntry(new ZipEntry("b.csv"))
    // same columns, different order: silently parsing under a.csv's header
    // would corrupt every row, so the contract is a loud failure
    zos.write(("\"id\"," + header.stripSuffix(",\"id\"") + "\nx,1,2\n").getBytes("UTF-8"))
    zos.closeEntry()
    zos.close()
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    val e = intercept[Throwable] { ZipSource.expandCsv(spark, zipFile.getPath).count() }
    assert(messages(e).exists(_.contains("does not match expected")), e.toString)
  }
}
