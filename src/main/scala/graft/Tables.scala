package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Loaders for the driver-generated parquet tables (TESTDATA.md). */
object Tables {
  /** The events table carries TIMESTAMP(NANOS) which Spark 4 refuses to
    * read natively; sessions set spark.sql.legacy.parquet.nanosAsLong and
    * we rebuild a microsecond timestamp here (truncation — same behavior
    * Spark has for µs-precision parquet). */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    df.schema.find(f => f.name == "ts" && f.dataType == LongType) match {
      case Some(_) => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case None => df
    }
  }
}
