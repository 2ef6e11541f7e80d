package graft

/** The rolling-hash fingerprint the LLM stub client keys on. */
class PipelineOpsSpec extends SparkSpec {

  test("rolling hash fingerprint: deterministic, order-sensitive") {
    import graft.functions.RollingHash
    assert(RollingHash.hash("abc") === ((('a' * 31) + 'b') * 31 + 'c') % 1000000007L)
    assert(RollingHash.hash("abc") !== RollingHash.hash("acb"))
    assert(RollingHash.hash("") === 0L)
  }
}
