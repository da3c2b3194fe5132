package graft.ingest

import graft.Graft

/** Executable parity entry point — the Spark analogue of the reference's
  * binary (/root/reference/src/main.rs:27-80). Reads the same env contract
  * (UNZIPPED_DATA_1 required; DESTINATION optional zip path; OUTPUT_PATH
  * optional sink), runs warm/cold short-circuit -> verify -> project ->
  * single-file parquet. The session is [[Graft.sessionBuilder]]'s, the
  * config the engine's benchmark ingests under.
  *
  * Run: UNZIPPED_DATA_1=data/unzipped/data.csv sbt "runMain graft.ingest.IngestMain"
  */
object IngestMain {
  def main(args: Array[String]): Unit = {
    val spark = Graft.sessionBuilder(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft-ingest")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val conf = IngestPipeline.Config.fromEnv()
      val out = IngestPipeline.run(spark, conf)
      println(s"[ingest] wrote ${out.columns.length} columns to ${conf.outputPath}")
    } finally spark.stop()
  }
}
