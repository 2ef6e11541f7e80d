package graft

import org.apache.spark.sql.functions._

import graft.functions.{SimHash, TextFunctions}
import graft.ops.TextAnalysis

/** Training-data pipeline operators: SimHash locality, rolling-hash
  * fingerprints, language ID, BPE-ish token counts. */
class PipelineOpsSpec extends SparkSpec {

  import spark.implicits._

  test("SimHash: near-identical texts land within small Hamming distance") {
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = "the quick brown fox jumps over the lazy dog again and once"
    val c = "completely different words about spark query engines at scale"
    assert(SimHash.hamming(SimHash.simhash(a), SimHash.simhash(b)) <= 6)
    assert(SimHash.simhash(a) === SimHash.simhash(a)) // deterministic
    // unrelated text: expected ~8 bits differ; just require non-identity
    assert(SimHash.simhash(a) !== SimHash.simhash(c))
  }

  test("rolling hash fingerprint: deterministic, order-sensitive") {
    import graft.functions.RollingHash
    assert(RollingHash.hash("abc") === ((('a' * 31) + 'b') * 31 + 'c') % 1000000007L)
    assert(RollingHash.hash("abc") !== RollingHash.hash("acb"))
    assert(RollingHash.hash("") === 0L)
    // Spark expression path matches the pure function
    TextFunctions.register(spark)
    val viaExpr = Seq("abc", "hello world").toDF("t")
      .select(TextFunctions.rollingHash(col("t"))).collect().map(_.getLong(0))
    assert(viaExpr.toSeq === Seq(RollingHash.hash("abc"), RollingHash.hash("hello world")))
  }

  test("langid: classic samples route to the right profile") {
    assert(TextAnalysis.LangId.detect(
      "the cat sat on the mat and it was happy with this") === "en")
    assert(TextAnalysis.LangId.detect(
      "el perro corre por la calle y se va para la casa") === "es")
    assert(TextAnalysis.LangId.detect(
      "der Hund läuft auf der Straße und ist nicht müde") === "de")
    assert(TextAnalysis.LangId.detect(
      "le chien court dans la rue et il est pour les amis") === "fr")
    assert(TextAnalysis.LangId.detect("") === "unknown")
    assert(TextAnalysis.LangId.detect("12345 67890") === "unknown")
  }

  test("bpeish token count: matches manual tokenization") {
    val df = Seq("hello, world 42", "a  b").toDF("t")
    val counts = df.select(TextAnalysis.bpeishTokenCount(col("t")))
      .collect().map(_.getInt(0)).toSeq
    // "hello" "," " " "world" " " "4" "2"  → 7 ; "a" "  " "b" → 3
    assert(counts === Seq(7, 3))
  }
}
