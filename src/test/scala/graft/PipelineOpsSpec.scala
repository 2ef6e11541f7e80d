package graft

import graft.functions.SimHash

/** Text fingerprint helpers: SimHash locality and the rolling-hash
  * fingerprint the LLM stub client keys on. */
class PipelineOpsSpec extends SparkSpec {

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
  }
}
