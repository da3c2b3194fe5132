package graft

import org.scalatest.funsuite.AnyFunSuite

/** Opt-in live-S3 smoke (round-5 verdict item 7): the engine's O1 parity —
  * reading the reference's S3 objects through s3a:// — is config-complete
  * but cannot run in the offline build container (no egress, no
  * hadoop-aws jar). Environments with credentials + the S3A jars exercise
  * it by setting GRAFT_S3A_SMOKE_URI to a zip prefix; everywhere else the
  * test reports as canceled, never as passed. */
class S3aSmokeSpec extends AnyFunSuite {

  test("O1 live path: graft-zip read over an s3a:// prefix (env-gated)") {
    val uri = sys.env.get("GRAFT_S3A_SMOKE_URI")
    assume(uri.isDefined,
      "set GRAFT_S3A_SMOKE_URI='s3a://bucket/prefix/*.zip' (and put " +
        "hadoop-aws + aws-java-sdk-bundle on the classpath) to run")
    val rows = TestSpark.spark.read.format("graft-zip").load(uri.get)
      .select("content").limit(5).collect()
    assert(rows.nonEmpty, s"no zip entries found under ${uri.get}")
    assert(rows.forall(_.getAs[Array[Byte]](0).nonEmpty))
  }
}
