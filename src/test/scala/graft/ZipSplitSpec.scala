package graft

import java.io.{File, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.{CRC32, ZipEntry, ZipFile, ZipOutputStream}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ingest.{IngestPipeline, ZipEntrySplits}

class ZipSplitSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private def hadoopConf = spark.sparkContext.hadoopConfiguration

  private def tmpDir(): File = {
    val d = java.nio.file.Files.createTempDirectory("graft_zipsplit").toFile
    d.deleteOnExit(); d
  }

  /** A STORED entry: the payload sits verbatim in the archive. */
  private def putStored(zos: ZipOutputStream, name: String, payload: Array[Byte]): Unit = {
    val crc = new CRC32(); crc.update(payload)
    val se = new ZipEntry(name)
    se.setMethod(ZipEntry.STORED)
    se.setSize(payload.length); se.setCompressedSize(payload.length)
    se.setCrc(crc.getValue)
    zos.putNextEntry(se); zos.write(payload); zos.closeEntry()
  }

  /** Archive with deflated + stored entries, a directory, and unsafe names. */
  private def writeFixture(dir: File, name: String, entries: Int): File = {
    val f = new File(dir, name)
    val zos = new ZipOutputStream(new FileOutputStream(f))
    (1 to entries).foreach { i =>
      zos.putNextEntry(new ZipEntry(s"part$i.bin"))
      zos.write(Array.fill(1000 + i)((i % 251).toByte))
      zos.closeEntry()
    }
    putStored(zos, "stored.txt", "stored entry payload".getBytes("UTF-8"))
    // skipped by the flat-archive contract
    zos.putNextEntry(new ZipEntry("sub/dir/nested.bin"))
    zos.write(Array[Byte](1, 2, 3)); zos.closeEntry()
    zos.putNextEntry(new ZipEntry("folder/")); zos.closeEntry()
    zos.close()
    f
  }

  /** The JDK's own reader as the reference: (entry -> bytes) of every
    * flat, non-directory entry. */
  private def jdkEntries(f: File): Map[String, Seq[Byte]] = {
    val zf = new ZipFile(f)
    try zf.entries().asScala
      .filter(e => !e.isDirectory && !e.getName.contains("/"))
      .map { e =>
        val in = zf.getInputStream(e)
        try e.getName -> in.readAllBytes().toSeq finally in.close()
      }.toMap
    finally zf.close()
  }

  private def graftZip(path: String): Map[String, Seq[Byte]] =
    spark.read.format("graft-zip").load(path).collect()
      .map(r => r.getAs[String]("entry") -> r.getAs[Array[Byte]]("content").toSeq).toMap

  /** Messages of a throwable and all of its causes. */
  private def messages(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))

  test("graft-zip over a glob equals java.util.zip.ZipFile, byte for byte") {
    val dir = tmpDir()
    val a = writeFixture(dir, "a.zip", entries = 6)
    val b = writeFixture(dir, "b.zip", entries = 3)
    val rows = spark.read.format("graft-zip").load(s"${dir.getAbsolutePath}/*.zip")
      .collect().map(r => (new File(r.getAs[String]("archive").stripPrefix("file:")).getName,
        r.getAs[String]("entry"), r.getAs[Array[Byte]]("content").toSeq))
    val got = rows.map(t => (t._1, t._2) -> t._3).toMap
    val expect = Seq(a, b).flatMap(f => jdkEntries(f).map { case (e, c) => (f.getName, e) -> c }).toMap
    assert(rows.length === got.size)
    assert(got === expect)
    // stored + deflated both present, unsafe entries absent
    assert(got.keySet.exists(_._2 == "stored.txt"))
    assert(!got.keySet.exists(_._2.contains("/")))
  }

  test("one archive fans out to MANY tasks (the non-splittable-format fix)") {
    val dir = tmpDir()
    writeFixture(dir, "big.zip", entries = 12)
    val df = spark.read.format("graft-zip").load(s"${dir.getAbsolutePath}/big.zip")
    val parts = df.select(spark_partition_id()).distinct().collect()
    assert(parts.length > 1, s"expected >1 task, got ${parts.length}")
    assert(df.count() === 13) // 12 deflated + 1 stored; nested+dir skipped
  }

  test("driver listing carries offsets, not content; entries parse correctly") {
    val dir = tmpDir()
    writeFixture(dir, "a.zip", entries = 2)
    val splits = ZipEntrySplits.listEntries(hadoopConf, s"${dir.getAbsolutePath}/a.zip")
    assert(splits.map(_.entry).toSet === Set("part1.bin", "part2.bin", "stored.txt"))
    splits.foreach { s =>
      assert(s.localHeaderOffset >= 0 && s.compressedSize > 0)
      assert(s.method == 0 || s.method == 8)
    }
    val stored = splits.find(_.entry == "stored.txt").get
    assert(stored.method === 0)
    assert(stored.compressedSize === stored.uncompressedSize)
  }

  test("truncated central directory fails hard, not silently short") {
    val dir = tmpDir()
    val f = writeFixture(dir, "trunc.zip", entries = 2)
    // no archive comment in the fixture, so the EOCD is the last 22 bytes;
    // declare one MORE entry than the directory holds (both the this-disk
    // and total u16 counts, offsets 8 and 10) — the walk must refuse to
    // stop quietly at the buffer edge
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    val eocd = bytes.length - 22
    def u16(o: Int): Int = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8)
    val declared = u16(eocd + 10) + 1
    Seq(eocd + 8, eocd + 10).foreach { o =>
      bytes(o) = (declared & 0xff).toByte
      bytes(o + 1) = ((declared >> 8) & 0xff).toByte
    }
    java.nio.file.Files.write(f.toPath, bytes)
    val e = intercept[IllegalArgumentException] {
      ZipEntrySplits.listEntries(hadoopConf, f.getAbsolutePath)
    }
    assert(e.getMessage.contains("truncated central directory"))
  }

  test("non-zip input fails with a clear error") {
    val dir = tmpDir()
    val f = new File(dir, "not.zip")
    val out = new FileOutputStream(f)
    out.write(Array.fill(100)(7.toByte)); out.close()
    val e = intercept[IllegalArgumentException] {
      ZipEntrySplits.listEntries(hadoopConf, f.getAbsolutePath)
    }
    assert(e.getMessage.contains("end-of-central-directory"))
    // a literal path that does not exist is an error, not an empty listing
    intercept[java.io.FileNotFoundException] {
      ZipEntrySplits.listEntries(hadoopConf, new File(dir, "absent.zip").getAbsolutePath)
    }
  }

  // ------------------------------------------------- graft-zip DataSourceV2
  test("graft-zip connector: one partition per entry, bytes match the expansion") {
    val dir = tmpDir()
    val zip = writeFixture(dir, "dsv2.zip", entries = 6)
    val path = zip.getAbsolutePath
    val df = spark.read.format("graft-zip").load(path)
    assert(df.schema.fieldNames.toSeq ===
      Seq("archive", "entry", "size", "content"))
    // per-ENTRY parallelism: 6 deflated + 1 stored = 7 flat entries
    assert(df.rdd.getNumPartitions === 7)
    val got = df.collect()
      .map(r => r.getAs[String]("entry") ->
        (r.getAs[Long]("size"), r.getAs[Array[Byte]]("content").toSeq)).toMap
    val expect = jdkEntries(zip)
    assert(got.keySet === expect.keySet)
    got.foreach { case (entry, (size, bytes)) =>
      assert(bytes === expect(entry), entry)
      assert(size === bytes.length.toLong, entry)
    }
  }

  test("graft-zip connector: column pruning keeps content out of the scan schema") {
    val dir = tmpDir()
    writeFixture(dir, "prune.zip", entries = 3)
    val path = new File(dir, "prune.zip").getAbsolutePath
    val df = spark.read.format("graft-zip").load(path).select("entry", "size")
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty, df.queryExecution.executedPlan.toString)
    val readSchema = scans.head.scan.readSchema()
    assert(!readSchema.fieldNames.contains("content"), readSchema.treeString)
    // the metadata-only read still answers correctly
    assert(df.collect().map(_.getAs[String]("entry")).sorted.length === 4)
  }

  test("graft-zip connector: entry predicates prune input partitions at planning") {
    val dir = tmpDir()
    writeFixture(dir, "filter.zip", entries = 5)
    val path = new File(dir, "filter.zip").getAbsolutePath
    val df = spark.read.format("graft-zip").load(path)
      .filter(col("entry").endsWith(".bin"))
    // 5 part*.bin entries; stored.txt pruned BEFORE partition planning
    assert(df.rdd.getNumPartitions === 5)
    assert(df.count() === 5)
    val one = spark.read.format("graft-zip").load(path)
      .filter(col("entry") === "part3.bin")
    assert(one.rdd.getNumPartitions === 1)
    assert(one.select("size").head().getLong(0) === 1003L)
  }

  // ------------------------------------------- CRC-32 and zip64 (one reader)
  test("a flipped byte in a stored entry fails graft-zip and ensureCsv with a CRC error") {
    val dir = tmpDir()
    val f = new File(dir, "flip.zip")
    val payload = "a,b\n1,2\n3,4\n".getBytes("UTF-8")
    val zos = new ZipOutputStream(new FileOutputStream(f))
    putStored(zos, "data.csv", payload)
    zos.close()
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    val at = bytes.indexOfSlice(payload.toSeq) + 4 // the '1' of the first data row
    bytes(at) = '9'.toByte
    java.nio.file.Files.write(f.toPath, bytes)

    val e1 = intercept[Throwable] { graftZip(f.getAbsolutePath) }
    assert(messages(e1).exists(_.contains("invalid entry CRC")), e1.toString)
    val csv = new File(dir, "out/data.csv")
    val e2 = intercept[java.util.zip.ZipException] {
      IngestPipeline.ensureCsv(IngestPipeline.Config(csv.getPath, Some(f.getPath), "unused"))
    }
    assert(e2.getMessage.contains("invalid entry CRC"))
    // no corrupt CSV is left for a later warm run to pick up
    assert(!csv.exists())
  }

  /** Flip one byte of a STORED entry's payload in place. */
  private def flip(f: File, payload: Array[Byte]): Unit = {
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    val at = bytes.indexOfSlice(payload.take(32).toSeq) + 8
    bytes(at) = (bytes(at) ^ 0x5a).toByte
    java.nio.file.Files.write(f.toPath, bytes)
  }

  test("a failed extraction leaves no warm path and no file behind") {
    val dir = tmpDir()
    val f = new File(dir, "three.zip")
    val last = "x,y\n7,8\n9,10\n11,12\n13,14\n15,16\n17,18\n19,20\n".getBytes("UTF-8")
    val zos = new ZipOutputStream(new FileOutputStream(f))
    putStored(zos, "p1.csv", "a,b\n1,2\n".getBytes("UTF-8"))
    putStored(zos, "p2.csv", "a,b\n3,4\n".getBytes("UTF-8"))
    putStored(zos, "p3.csv", last)
    zos.close()
    flip(f, last)
    // directory-style warm key: `<dir>/csv` itself, as the benchmark uses
    val conf = IngestPipeline.Config(s"${dir.getPath}/csv/.", Some(f.getPath), "unused")
    val e = intercept[java.util.zip.ZipException] { IngestPipeline.ensureCsv(conf) }
    assert(e.getMessage.contains("'p3.csv'") && e.getMessage.contains("invalid entry CRC"))
    assert(!new File(dir, "csv").exists())
    assert(dir.list().toSeq === Seq("three.zip"))
    // the next run takes the cold path again instead of ingesting p1 and p2
    intercept[java.util.zip.ZipException] { IngestPipeline.ensureCsv(conf) }
    assert(dir.list().toSeq === Seq("three.zip"))
    // file-style warm key inside a directory that already holds a file
    val out = new File(dir, "out")
    out.mkdir()
    java.nio.file.Files.writeString(new File(out, "keep.txt").toPath, "kept")
    intercept[java.util.zip.ZipException] {
      IngestPipeline.ensureCsv(IngestPipeline.Config(
        new File(out, "p3.csv").getPath, Some(f.getPath), "unused"))
    }
    assert(out.list().toSeq === Seq("keep.txt"))
  }

  test("parallel extraction equals java.util.zip.ZipFile; a middle CRC error names its entry") {
    val dir = tmpDir()
    val f = new File(dir, "many.zip")
    val rnd = new scala.util.Random(11)
    // 14 entries of 40-80 KB, stored and deflated alternating; half the
    // bytes repeat so deflate has something to do
    val payloads = (1 to 14).map { i =>
      val b = new Array[Byte](40000 + rnd.nextInt(40000))
      rnd.nextBytes(b)
      java.util.Arrays.fill(b, 0, b.length / 2, (i % 7).toByte)
      (s"e$i.csv", b.reverse)
    }
    val zos = new ZipOutputStream(new FileOutputStream(f))
    payloads.zipWithIndex.foreach { case ((name, b), i) =>
      if (i % 2 == 0) putStored(zos, name, b)
      else { zos.putNextEntry(new ZipEntry(name)); zos.write(b); zos.closeEntry() }
    }
    zos.close()
    val splits = ZipEntrySplits.listEntries(hadoopConf, f.getAbsolutePath)
    assert(splits.map(_.method).toSet === Set(0, 8))
    val out = new File(dir, "out")
    IngestPipeline.ensureCsv(IngestPipeline.Config(
      new File(out, "e1.csv").getPath, Some(f.getPath), "unused"))
    val got = out.listFiles().map(x => x.getName -> java.nio.file.Files.readAllBytes(x.toPath).toSeq).toMap
    assert(got === jdkEntries(f))
    assert(got.size === 14)

    // a corrupt STORED entry in the middle (index 6 of 14)
    val (bad, badBytes) = payloads(6)
    flip(f, badBytes)
    val out2 = new File(dir, "out2")
    val e = intercept[java.util.zip.ZipException] {
      IngestPipeline.ensureCsv(IngestPipeline.Config(
        new File(out2, "e1.csv").getPath, Some(f.getPath), "unused"))
    }
    assert(e.getMessage.contains(s"'$bad'") && e.getMessage.contains("invalid entry CRC"),
      e.getMessage)
    assert(!out2.exists())
  }

  test("zip64: an archive of 70,000 entries lists fully and reads its last entry") {
    val dir = tmpDir()
    val f = new File(dir, "many.zip")
    val n = 70000 // past 65 535: ZipOutputStream writes the zip64 end records
    val zos = new ZipOutputStream(new java.io.BufferedOutputStream(new FileOutputStream(f)))
    (0 until n).foreach { i =>
      zos.putNextEntry(new ZipEntry(f"e$i%05d.txt"))
      zos.write(i.toString.getBytes("UTF-8"))
      zos.closeEntry()
    }
    zos.close()
    val splits = ZipEntrySplits.listEntries(hadoopConf, f.getAbsolutePath)
    assert(splits.length === n)
    assert(splits.last.entry === "e69999.txt")
    val last = spark.read.format("graft-zip").load(f.getAbsolutePath)
      .filter(col("entry") === "e69999.txt")
    assert(last.rdd.getNumPartitions === 1)
    assert(new String(last.head().getAs[Array[Byte]]("content"), "UTF-8") === "69999")
  }

  test("zip64 extra field: sizes and offset come from a hand-built central record") {
    // one deflated entry, after a 7-byte preamble, whose central record
    // saturates all three 32-bit fields; the real (all different) values
    // sit in the zip64 extra field (id 0x0001), after an unrelated extra
    // block the parser must step over
    val payload = ("zip64 payload " * 20).getBytes("UTF-8")
    val deflater = new java.util.zip.Deflater(9, true)
    deflater.setInput(payload); deflater.finish()
    val packed = new Array[Byte](1024)
    val csize = deflater.deflate(packed)
    deflater.end()
    val name = "wide.txt".getBytes("UTF-8")
    val crc = new CRC32(); crc.update(payload)
    val buf = ByteBuffer.allocate(2048).order(ByteOrder.LITTLE_ENDIAN)
    buf.put(new Array[Byte](7))
    // local header (its sizes are ignored by the reader)
    buf.putInt(0x04034b50).putShort(45.toShort).putShort(0.toShort).putShort(8.toShort)
      .putInt(0).putInt(crc.getValue.toInt).putInt(csize).putInt(payload.length)
      .putShort(name.length.toShort).putShort(0.toShort).put(name).put(packed, 0, csize)
    val cdOffset = buf.position()
    buf.putInt(0x02014b50).putShort(45.toShort).putShort(45.toShort).putShort(0.toShort)
      .putShort(8.toShort).putInt(0).putInt(crc.getValue.toInt)
      .putInt(-1).putInt(-1) // compressed / uncompressed size: see zip64 extra
      .putShort(name.length.toShort).putShort((9 + 28).toShort).putShort(0.toShort)
      .putShort(0.toShort).putShort(0.toShort).putInt(0)
      .putInt(-1) // local header offset: see zip64 extra
      .put(name)
      .putShort(0x5455.toShort).putShort(5.toShort).put(1.toByte).putInt(0) // timestamp
      .putShort(1.toShort).putShort(24.toShort) // zip64: usize, csize, offset
      .putLong(payload.length).putLong(csize).putLong(7L)
    val cdSize = buf.position() - cdOffset
    buf.putInt(0x06054b50).putShort(0.toShort).putShort(0.toShort)
      .putShort(1.toShort).putShort(1.toShort).putInt(cdSize).putInt(cdOffset)
      .putShort(0.toShort)
    val f = new File(tmpDir(), "hand64.zip")
    java.nio.file.Files.write(f.toPath, java.util.Arrays.copyOf(buf.array(), buf.position()))

    val Seq(split) = ZipEntrySplits.listEntries(hadoopConf, f.getAbsolutePath)
    assert(split.entry === "wide.txt")
    assert(split.localHeaderOffset === 7L)
    assert(split.compressedSize === csize.toLong)
    assert(csize < payload.length)
    assert(split.uncompressedSize === payload.length.toLong)
    assert(split.crc === crc.getValue)
    assert(graftZip(f.getAbsolutePath) === Map("wide.txt" -> payload.toSeq))
  }
}
