package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite via lazy val. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // the first session in the test JVM sizes Spark's generated-class cache
      .config(GraftSession.CodegenReuse)
      .getOrCreate()
    GraftSession.quietUnpartitionedWindows()
    s
  }

  /** The smallest generated scale factor (TESTDATA.md). */
  val SfDir = "/root/testdata/sf0.001"

  val RefXml =
    "/root/reference/data/log_example/simlogs/trace.172.17.0.3.4500.1763869069.8tVoRN.0.1.xml"
  val RefJson = "/root/reference/data/sample_log.json"
}
