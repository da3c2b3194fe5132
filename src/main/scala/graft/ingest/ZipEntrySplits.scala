package graft.ingest

import java.io.{FileNotFoundException, InputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.{CRC32, Inflater, InflaterInputStream, ZipException}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** The engine's one zip reader: a central-directory listing plus one
  * stream per entry, over any Hadoop filesystem URI (file:, s3a:, ...).
  *
  * Zip is not a splittable format, so a single large archive otherwise
  * serializes into one task (reference main.rs:153-170 unzips driver-side
  * and hits the same wall one process earlier). Here the driver reads each
  * archive's END-OF-CENTRAL-DIRECTORY record + central directory only (one
  * ranged read of <= ~64 KB + one of the directory itself — never the
  * archive body), yielding one split per entry: (archive, entry, local
  * header offset, sizes, method, CRC-32). A reader seeks straight to its
  * entry's local header and streams just that byte range, so parallelism
  * is per entry and the driver holds O(entries) metadata, never content.
  *
  *  - zip64 archives (> 4 GiB or > 65 535 entries) are read through the
  *    zip64 end record and the zip64 extra field;
  *  - deflate (method 8) and stored (method 0) entries are supported;
  *  - every entry stream checks its length and CRC-32 against the central
  *    directory at end of stream, so corrupt bytes fail the read;
  *  - flat-archive contract (the reference's zip-slip skip, main.rs:160-165):
  *    the LISTING drops every entry whose name carries a path separator or
  *    is empty, `.` or `..`, so no caller ever sees one.
  *
  * Callers: [[IngestPipeline.ensureCsv]] (extract to local disk) and the
  * `graft-zip` DataSourceV2 reader ([[ZipDataSource]]).
  */
object ZipEntrySplits {

  /** One extractable entry: everything a reader needs for just its bytes.
    * `method`: 0 = stored, 8 = deflated; `crc`: the directory's CRC-32. */
  case class EntrySplit(archive: String, entry: String, localHeaderOffset: Long,
                        compressedSize: Long, uncompressedSize: Long, method: Int,
                        crc: Long)

  private val EOCD_SIG = 0x06054b50
  private val ZIP64_LOCATOR_SIG = 0x07064b50
  private val ZIP64_EOCD_SIG = 0x06064b50
  private val CEN_SIG = 0x02014b50
  private val LOC_SIG = 0x04034b50
  private val MAX32 = 0xffffffffL

  private def u16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def u32(b: Array[Byte], o: Int): Long =
    (u16(b, o).toLong) | (u16(b, o + 2).toLong << 16)
  private def u64(b: Array[Byte], o: Int): Long =
    u32(b, o) | (u32(b, o + 4) << 32)

  private def unsafe(name: String): Boolean =
    name.isEmpty || name == "." || name == ".." ||
      name.exists(c => c == '/' || c == '\\')

  /** Driver-side: list every safe entry of every archive under the glob by
    * parsing central directories — no archive body is read. */
  def listEntries(conf: Configuration, pathGlob: String): Seq[EntrySplit] = {
    val globPath = new Path(pathGlob)
    val fs = globPath.getFileSystem(conf)
    // null (not empty) means a literal path that does not exist
    val statuses = Option(fs.globStatus(globPath)).getOrElse(
      throw new FileNotFoundException(s"$pathGlob: no such zip archive"))
    statuses.toSeq.filter(_.isFile).flatMap { st =>
      val archive = st.getPath.toString
      val len = st.getLen
      val in = fs.open(st.getPath)
      try {
        // EOCD sits in the last 22..(22 + 65535) bytes, and a zip64 locator
        // (20 bytes) right before it; read that tail once. The signature
        // alone can appear inside an archive COMMENT, so a candidate only
        // counts if its comment-length field exactly spans the remaining
        // tail — scanning backwards, the first such offset is the record.
        val tailLen = math.min(len, 20L + 22L + 65535L).toInt
        val tail = new Array[Byte](tailLen)
        in.readFully(len - tailLen, tail)
        var eocd = -1
        var i = tailLen - 22
        while (i >= 0 && eocd < 0) {
          if (u32(tail, i) == EOCD_SIG && u16(tail, i + 20) == tailLen - (i + 22)) eocd = i
          else i -= 1
        }
        if (eocd < 0) throw new IllegalArgumentException(
          s"$archive: no end-of-central-directory record (not a zip?)")
        var nEntries = u16(tail, eocd + 10).toLong
        var cdSize = u32(tail, eocd + 12)
        var cdOffset = u32(tail, eocd + 16)
        if (eocd >= 20 && u32(tail, eocd - 20) == ZIP64_LOCATOR_SIG) {
          // zip64: the locator points at the zip64 end record, whose 64-bit
          // fields replace the saturated 16/32-bit ones above
          val rec = new Array[Byte](56)
          in.readFully(u64(tail, eocd - 12), rec)
          if (u32(rec, 0) != ZIP64_EOCD_SIG) throw new IllegalArgumentException(
            s"$archive: corrupt zip64 end-of-central-directory record")
          nEntries = u64(rec, 32)
          cdSize = u64(rec, 40)
          cdOffset = u64(rec, 48)
        }
        // the directory is buffered whole; past 2 GiB a JVM array cannot
        // hold it — reject clearly instead of NegativeArraySizeException
        if (cdSize > Int.MaxValue) throw new UnsupportedOperationException(
          s"$archive: central directory of $cdSize bytes exceeds the " +
            "split reader's 2 GiB buffer limit")
        val cd = new Array[Byte](cdSize.toInt)
        in.readFully(cdOffset, cd)
        val out = Seq.newBuilder[EntrySplit]
        var p = 0
        var n = 0L
        while (n < nEntries && p + 46 <= cd.length) {
          if (u32(cd, p) != CEN_SIG) throw new IllegalArgumentException(
            s"$archive: corrupt central directory at offset $p")
          val nameLen = u16(cd, p + 28)
          val extraLen = u16(cd, p + 30)
          val commentLen = u16(cd, p + 32)
          // the while-guard covers only the FIXED 46-byte header; the
          // variable tail (name/extra/comment) needs its own bound or a
          // directory cut mid-record surfaces as an opaque
          // StringIndexOutOfBounds instead of the truncation contract
          if (p + 46 + nameLen + extraLen + commentLen > cd.length)
            throw new IllegalArgumentException(
              s"$archive: truncated central directory (record at " +
                s"offset $p extends past the directory's $cdSize bytes)")
          val name = new String(cd, p + 46, nameLen, StandardCharsets.UTF_8)
          if (!unsafe(name)) {
            val csize = u32(cd, p + 20)
            val usize = u32(cd, p + 24)
            val lho = u32(cd, p + 42)
            val (u, c, o) =
              if (usize != MAX32 && csize != MAX32 && lho != MAX32) (usize, csize, lho)
              else zip64Fields(cd, p + 46 + nameLen, extraLen, usize, csize, lho,
                s"$archive: entry '$name'")
            out += EntrySplit(archive, name, o, c, u, u16(cd, p + 10), u32(cd, p + 16))
          }
          p += 46 + nameLen + extraLen + commentLen
          n += 1
        }
        // the loop's bounds check stops quietly on a short buffer; a record
        // count mismatch means the directory was truncated mid-entry
        if (n != nEntries) throw new IllegalArgumentException(
          s"$archive: truncated central directory " +
            s"(EOCD declares $nEntries entries, found $n)")
        out.result()
      } finally in.close()
    }
  }

  /** The zip64 extra field (id 0x0001) of a central record whose extra
    * field starts at `extra`: it holds an 8-byte value for exactly the
    * saturated (0xffffffff) fields among (uncompressed size, compressed
    * size, local header offset), in that order. */
  private def zip64Fields(cd: Array[Byte], extra: Int, extraLen: Int, usize: Long,
                          csize: Long, lho: Long, where: String): (Long, Long, Long) = {
    val end = extra + extraLen
    var q = extra
    while (q + 4 <= end && u16(cd, q) != 1) q += 4 + u16(cd, q + 2)
    if (q + 4 > end) throw new ZipException(s"$where: zip64 sizes without a zip64 extra field")
    val fieldEnd = math.min(end, q + 4 + u16(cd, q + 2))
    var f = q + 4
    def wide(v: Long): Long =
      if (v != MAX32) v
      else if (f + 8 > fieldEnd) throw new ZipException(s"$where: short zip64 extra field")
      else { f += 8; u64(cd, f - 8) }
    (wide(usize), wide(csize), wide(lho))
  }

  /** A stream over exactly one entry's bytes: seek to its local header,
    * skip it (its extra field can differ from the central one), then read
    * the compressed range as stored bytes or through a raw inflater. At
    * end of stream the length and CRC-32 must match the central directory,
    * or the read fails with a ZipException. The caller closes the stream. */
  def openEntry(conf: Configuration, split: EntrySplit): InputStream = {
    val path = new Path(split.archive)
    val in = path.getFileSystem(conf).open(path)
    val where = s"${split.archive}: entry '${split.entry}'"
    try {
      val header = new Array[Byte](30)
      in.readFully(split.localHeaderOffset, header)
      if (u32(header, 0) != LOC_SIG) throw new ZipException(s"$where: local header mismatch")
      in.seek(split.localHeaderOffset + 30 + u16(header, 26) + u16(header, 28))
      val raw: InputStream = new ChunkStream {
        private var left = split.compressedSize
        override def read(b: Array[Byte], off: Int, len: Int): Int =
          if (left <= 0) -1
          else {
            val n = in.read(b, off, math.min(len.toLong, left).toInt)
            if (n > 0) left -= n
            n
          }
        override def close(): Unit = in.close()
      }
      val data = split.method match {
        case 0 => raw
        case 8 => new InflaterInputStream(raw, new Inflater(true), 64 * 1024) {
          // a caller-supplied inflater is not ended by super.close()
          override def close(): Unit = try super.close() finally inf.end()
        }
        case m => throw new ZipException(s"$where: unsupported compression method $m")
      }
      new CheckedEntry(data, split, where)
    } catch { case e: Throwable => in.close(); throw e }
  }

  /** An InputStream whose single-byte read goes through the bulk one. */
  private abstract class ChunkStream extends InputStream {
    override def read(): Int = {
      val one = new Array[Byte](1)
      var n = 0
      while (n == 0) n = read(one, 0, 1)
      if (n < 0) -1 else one(0) & 0xff
    }
  }

  /** Counts and CRCs the uncompressed bytes; at end of stream they must
    * equal the central directory's size and CRC-32. */
  private final class CheckedEntry(data: InputStream, split: EntrySplit, where: String)
      extends ChunkStream {
    private val crc = new CRC32
    private var count = 0L
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val n = data.read(b, off, len)
      if (n > 0) { crc.update(b, off, n); count += n }
      else if (n < 0) {
        if (count != split.uncompressedSize) throw new ZipException(
          s"$where: read $count bytes, central directory declares ${split.uncompressedSize}")
        if (crc.getValue != split.crc) throw new ZipException(
          f"$where: invalid entry CRC (expected 0x${split.crc}%08x, got 0x${crc.getValue}%08x)")
      }
      n
    }
    override def close(): Unit = data.close()
  }
}
