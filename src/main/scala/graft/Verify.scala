package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json for the driver's DuckDB compare and failed.json
  * (`{query: message}`, `{}` when every query ran).
  *
  * Optional third arg: comma-separated name prefixes — dump (and list in
  * oracle_sql.json) only matching queries. Used by the past-fixture-scale
  * oracle runs (e.g. `doc_` at the generated 10× tables); the driver's
  * two-arg invocation is unchanged and covers everything. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val keep: String => Boolean =
      if (args.length < 3) _ => true
      else { val ps = args(2).split(',').toSeq; n => ps.exists(n.startsWith) }
    val spark = GraftSession.build("graft-verify")
    dump(spark, sfDir, outDir, keep)
    spark.stop()
  }

  /** Writes every kept query's result, oracle_sql.json and failed.json
    * under `outDir`; returns the failed queries with their messages. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      keep: String => Boolean): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries.filter(kv => keep(kv._1)).flatMap {
      case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          spark.catalog.clearCache() // per-query cache isolation
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name -> String.valueOf(e.getMessage))
        }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def obj(kvs: Iterable[(String, String)]): String =
      kvs.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      obj(SparkEntry.oracleSql.filter(kv => keep(kv._1))))
    Files.writeString(Paths.get(s"$outDir/failed.json"), obj(failed))
    failed.toMap
  }
}
