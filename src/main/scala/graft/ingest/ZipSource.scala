package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Zipped CSV shards as one DataFrame. Entries come from the `graft-zip`
  * reader ([[ZipDataSource]]: one partition per entry, CRC-checked, with
  * the listing's flat-archive rule). The path is any Hadoop-FS glob — an
  * `s3a://bucket/prefix` glob of zips works unchanged, with credentials from
  * the default AWS provider chain exactly as the reference's
  * `aws_config::load_defaults` (main.rs:56-57).
  */
object ZipSource {

  /** Expand zipped CSV archives and parse the bodies — end-to-end
    * distributed (no driver-side temp files). All entries are assumed to be
    * shards of ONE logical CSV (shared header): each entry drops exactly
    * its FIRST line — never mid-file lines that happen to equal the header
    * text (a data row byte-equal to the header is data) — and a single
    * header is re-prepended, because Spark's `csv(Dataset[String])` parses
    * one LINE per element. An entry whose first line differs from the
    * probe header fails HARD with the entry name: silently parsing a
    * reordered-column shard under the wrong header would corrupt every
    * row of that shard. */
  def expandCsv(spark: SparkSession, pathGlob: String): DataFrame = {
    import spark.implicits._
    // cache: header probe, schema inference, and the parse would otherwise
    // each re-download and re-unzip every archive. The cached text lives
    // until the caller drops it (spark.catalog.clearCache() / unpersist on
    // the plan) — the price of keeping this API lazy.
    val texts = spark.read.format("graft-zip").load(pathGlob)
      .select("entry", "content").as[(String, Array[Byte])]
      .filter(_._1.toLowerCase.endsWith(".csv"))
      .map { case (entry, bytes) =>
        (entry, new String(bytes, java.nio.charset.StandardCharsets.UTF_8)) }
      .cache()
    val header = texts.take(1).headOption.getOrElse(
      throw new IllegalArgumentException(
        s"no .csv entries found in archives matching $pathGlob"))
      ._2.linesIterator.next()
    val data = texts.flatMap { case (entry, text) =>
      val lines = text.linesIterator
      if (!lines.hasNext) Iterator.empty[String]
      else {
        val entryHeader = lines.next()
        if (entryHeader != header) throw new IllegalStateException(
          s"zip entry '$entry' header '$entryHeader' does not match expected '$header'")
        lines
      }
    }
    // parse HEADERLESS and rename from the probed header: Spark's csv
    // reader with header=true over a Dataset[String] silently drops every
    // line byte-equal to the header (its multi-shard header handling), and
    // a data row that happens to equal the header is data, not a header
    val names = spark.read.csv(spark.createDataset(Seq(header)))
      .head.toSeq.map(String.valueOf)
    if (data.isEmpty) {
      // header-only archives: csv() cannot infer a schema from zero rows —
      // return the empty frame with the probed columns (all string, the
      // same type inference yields when every value is absent)
      import org.apache.spark.sql.types.{StringType, StructField, StructType}
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(names.map(StructField(_, StringType))))
    } else {
      spark.read.option("inferSchema", "true").csv(data).toDF(names: _*)
    }
  }
}
