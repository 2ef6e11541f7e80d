package graft

import java.nio.file.{Files, Path}

/** Verify's dump reports failed queries as data, next to oracle_sql.json.
  * Calls `Verify.dump`, not `main`: main stops the shared SparkContext. */
class VerifySpec extends SparkSpec {

  test("dump writes failed.json naming a query that cannot read its tables") {
    val sfDir = Files.createTempDirectory("graft_verify_sf") // no tables
    val outDir = Files.createTempDirectory("graft_verify_out")
    val failed = Verify.dump(spark, sfDir.toString, outDir.toString,
      _.startsWith("q1_"))
    assert(failed.keySet === Set("q1_pricing_summary"))
    def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")
    val json = read(outDir.resolve("failed.json"))
    assert(json.startsWith("{\"q1_pricing_summary\": \""), json)
    assert(read(outDir.resolve("oracle_sql.json"))
      .startsWith("{\"q1_pricing_summary\": "))
  }
}
