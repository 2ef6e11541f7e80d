package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Bounded-state distinct-count sketch via K MINIMUM VALUES (Bar-Yossef
  * et al., RANDOM 2002) — the rare approximate distinct aggregate that
  * is HASH-COMPARABLE against another engine, unlike HLL whose register
  * layout is implementation-defined.
  *
  * State: the k smallest DISTINCT md5 digests of the input strings —
  * at most 16·k bytes per group forever, independent of cardinality
  * (k = 256 → 4 KB, vs unbounded hash state for exact
  * `count(distinct)`). Because md5 is a uniform pseudo-random
  * permutation, the k-th smallest digest's position estimates the
  * distinct count: with the leading 60 bits of the k-th digest read as
  * h ∈ [0, 2⁶⁰), the estimator is (k−1)·2⁶⁰ / h; under k distinct
  * inputs the sketch holds every digest and the count is EXACT. The
  * whole derivation is replayable in ANY engine as
  *   SELECT DISTINCT md5(v) ORDER BY 1 LIMIT k
  * followed by the same arithmetic on the k-th row — both engines cast
  * the SAME integers to double and perform the SAME two IEEE
  * operations, so even the estimate compares bit-for-bit (the
  * registered `ev_profile_kmv` oracle does exactly that).
  *
  * Error: the KMV estimate's relative standard error is ~1/√(k−2)
  * (k = 256 → ~6.3 %). Merge = keep the k smallest distinct digests of
  * the union — associative, commutative, partition-order independent.
  *
  * Input must be STRING (callers cast; only cast types whose string
  * forms agree across engines — ints/strings, not doubles/timestamps —
  * when the result feeds a cross-engine compare).
  */
case class KmvAgg(
    child: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KmvAgg.Buffer]
  with UnaryLike[Expression] {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_kmv"

  override def checkInputDataTypes(): TypeCheckResult =
    if (k < 2) TypeCheckResult.TypeCheckFailure(
      s"graft_kmv k must be >= 2, got $k")
    else child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_kmv expects a STRING input, got ${t.sql}")
    }

  override def createAggregationBuffer(): KmvAgg.Buffer =
    new KmvAgg.Buffer(k)

  override def update(buf: KmvAgg.Buffer, input: InternalRow)
      : KmvAgg.Buffer = {
    val v = child.eval(input)
    if (v != null) {
      val md = KmvAgg.digest.get()
      md.reset()
      md.update(v.asInstanceOf[UTF8String].getBytes)
      buf.insert(md.digest())
    }
    buf
  }

  override def merge(b1: KmvAgg.Buffer, b2: KmvAgg.Buffer): KmvAgg.Buffer = {
    val it = b2.set.iterator()
    while (it.hasNext) b1.insert(it.next())
    b1
  }

  override def eval(buf: KmvAgg.Buffer): Any = KmvAgg.estimate(buf)

  override def serialize(buf: KmvAgg.Buffer): Array[Byte] =
    KmvAgg.serializeBuffer(buf)

  override def deserialize(bytes: Array[Byte]): KmvAgg.Buffer =
    KmvAgg.deserializeBuffer(bytes, k)

  override def withNewMutableAggBufferOffset(o: Int): KmvAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KmvAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): KmvAgg =
    copy(child = c)
}

object KmvAgg {

  /** Unsigned-lexicographic digest order == md5 hex-string order ==
    * any engine's ORDER BY md5(v). */
  val ord: java.util.Comparator[Array[Byte]] =
    (a: Array[Byte], b: Array[Byte]) => java.util.Arrays.compareUnsigned(a, b)

  /** The k smallest DISTINCT digests: a TreeSet capped at k — a
    * duplicate digest is a no-op (the DISTINCT in KMV), a candidate
    * past capacity must beat the current maximum. */
  final class Buffer(val k: Int) {
    val set = new java.util.TreeSet[Array[Byte]](ord)

    def insert(digest: Array[Byte]): Unit = {
      if (set.size() < k) { set.add(digest); () }
      else if (ord.compare(digest, set.last()) < 0 && !set.contains(digest)) {
        set.add(digest)
        set.pollLast()
        ()
      }
    }
  }

  private val digest = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  /** Insert a string value — md5s it and applies the k-smallest-distinct
    * rule. Shared with the streaming carrier
    * (StreamingOps.runningKmv), which feeds the SAME sketch
    * incrementally across triggers. */
  def insertString(buf: Buffer, v: String): Unit = {
    val md = digest.get()
    md.reset()
    md.update(v.getBytes("UTF-8"))
    buf.insert(md.digest())
  }

  /** Fixed layout: entry count + n × 16-byte digests — at most
    * 4 + 16·k bytes, the flat-state guarantee. */
  def serializeBuffer(buf: Buffer): Array[Byte] = {
    val n = buf.set.size()
    val out = java.nio.ByteBuffer.allocate(4 + n * 16)
    out.putInt(n)
    val it = buf.set.iterator()
    while (it.hasNext) out.put(it.next())
    out.array()
  }

  def deserializeBuffer(bytes: Array[Byte], k: Int): Buffer = {
    val in = java.nio.ByteBuffer.wrap(bytes)
    val n = in.getInt
    val buf = new Buffer(k)
    var i = 0
    while (i < n) {
      val d = new Array[Byte](16)
      in.get(d)
      buf.insert(d)
      i += 1
    }
    buf
  }

  /** 2⁶⁰ as a double (exactly representable). */
  private val Two60 = math.pow(2.0, 60)

  /** Sketch → estimate: exact size below capacity; (k−1)·2⁶⁰ / h₆₀(kth)
    * at capacity. Both operands round to double from the SAME integers
    * in any engine, and the multiply/divide are single IEEE ops — the
    * estimate is cross-engine bit-identical. */
  def estimate(buf: Buffer): Double = {
    val n = buf.set.size()
    if (n < buf.k) n.toDouble
    else {
      // leading 60 bits == CAST('0x' || substr(md5_hex, 1, 15) AS BIGINT)
      val kth = buf.set.last()
      var h = 0L
      var i = 0
      while (i < 8) { h = (h << 8) | (kth(i) & 0xffL); i += 1 }
      // clamp 0 → 1: a kth digest whose leading 60 bits are all zero
      // (adversarial input; ~2⁻⁶⁰ per element otherwise) would divide to
      // Infinity and engines could disagree on it — the ev_profile_kmv /
      // ev_streaming_kmv oracle SQL carries the same GREATEST(…, 1)
      val h60 = math.max(h >>> 4, 1L)
      (buf.k - 1).toDouble * Two60 / h60.toDouble
    }
  }

  /** Shared builder (per-session registry AND GraftExtensions). */
  val builder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 2,
      s"graft_kmv expects (value, k), got ${exprs.length} arguments")
    val k = exprs(1) match {
      case Literal(v: Int, IntegerType) => v
      case Literal(v: Long, LongType) if v.isValidInt => v.toInt
      case other => throw new IllegalArgumentException(
        s"graft_kmv k must be an integer literal, got $other")
    }
    KmvAgg(exprs.head, k).toAggregateExpression()
  }

  /** No-op when the session already has the function (injected by
    * GraftExtensions or registered earlier): the Column API below calls
    * this on every use. */
  def register(spark: SparkSession): Unit =
    if (!spark.sessionState.functionRegistry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("graft_kmv")))
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_kmv", builder, "built-in")

  /** Column API; self-registers on the active session. */
  def kmv(value: Column, k: Int): Column = {
    register(SparkSession.active)
    call_function("graft_kmv", value, lit(k))
  }
}
