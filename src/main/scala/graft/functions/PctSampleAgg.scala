package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{array, call_function, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Bounded-state percentile via a DETERMINISTIC bottom-k row sample —
  * the 100-TB replacement for Spark's exact `Percentile`, whose buffer
  * holds every distinct value of the group (per-(metric, role) groups at
  * 100 TB hold billions of distinct doubles → executor OOM at merge).
  *
  * Sampling rule (KMV / bottom-k over a hash-induced permutation): keep
  * the k rows whose md5(keyExpr) digests are SMALLEST, then take the
  * exact interpolated percentile over just those ≤ k values. Because md5
  * of a unique row key is a uniform pseudo-random permutation of the
  * group's rows, the retained set is a uniform k-sample WITHOUT
  * replacement, independent of partitioning and arrival order — so the
  * result is deterministic, mergeable (merge = keep the k smallest of
  * the union), and reproducible in ANY engine as
  *   ROW_NUMBER() OVER (PARTITION BY grp ORDER BY md5(key), v) <= k
  * followed by an exact quantile over the survivors. That makes this the
  * rare approximate aggregate that is hash-comparable against DuckDB
  * (the registered `*_approx` oracle twins do exactly that), unlike
  * percentile_approx/t-digest whose sketch internals differ per engine.
  *
  * Error: the sample p-quantile's RANK error obeys the DKW bound
  * P(|F̂ - F|∞ > ε) ≤ 2·exp(-2kε²): k = 1024 gives ε ≈ 0.043 at 98 %
  * confidence — a p95 that is really a p91..p99 — independent of group
  * size; k = 16384 gives ε ≈ 0.011. State is exactly k (digest, value)
  * pairs = 24k bytes per group regardless of input rows (k=1024 → 24 KB
  * flat, vs unbounded for exact). PctSampleSpec pins both: equality with
  * the window-sample form, the DKW rank bound at sf0.1, and the flat
  * buffer size.
  *
  * Groups smaller than k retain EVERY row, so the "sample" percentile is
  * then the exact percentile — small-scale oracles stay anchored while
  * only true-at-scale groups pay the (bounded, quantified) rank error.
  *
  * Interpolation mirrors Spark's exact `Percentile`
  * ((hi - pos)·v[lo] + (pos - lo)·v[hi], pos = p·(n-1)), the form the
  * ev_percentiles precedent proved hash-equal to DuckDB's quantile_cont
  * at 6 rounded decimals.
  *
  * Ties: digests compare unsigned-lexicographic (== hex-string order ==
  * DuckDB `ORDER BY md5(key)`), ties broken by value ascending — so rows
  * sharing a key string cannot make membership engine-dependent.
  */
case class PctSampleAgg(
    key: Expression,
    value: Expression,
    pcts: Seq[Double],
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[PctSampleAgg.Buffer]
  with BinaryLike[Expression] {

  override def left: Expression = key
  override def right: Expression = value

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pct_sample"

  override def checkInputDataTypes(): TypeCheckResult =
    (key.dataType, value.dataType) match {
      case _ if k <= 0 => TypeCheckResult.TypeCheckFailure(
        s"graft_pct_sample k must be positive, got $k")
      case _ if pcts.isEmpty || pcts.exists(p => p < 0.0 || p > 1.0) =>
        TypeCheckResult.TypeCheckFailure(
          s"graft_pct_sample percentages must all be in [0, 1], got $pcts")
      case (StringType, DoubleType) => TypeCheckResult.TypeCheckSuccess
      case (kt, vt) => TypeCheckResult.TypeCheckFailure(
        s"graft_pct_sample expects (STRING key, DOUBLE value), " +
          s"got (${kt.sql}, ${vt.sql})")
    }

  override def createAggregationBuffer(): PctSampleAgg.Buffer =
    new PctSampleAgg.Buffer(k)

  override def update(buf: PctSampleAgg.Buffer, input: InternalRow)
      : PctSampleAgg.Buffer = {
    val kv = key.eval(input)
    val vv = value.eval(input)
    if (kv != null && vv != null) {
      val md = PctSampleAgg.digest.get()
      md.reset()
      md.update(kv.asInstanceOf[UTF8String].getBytes)
      buf.insert(md.digest(), vv.asInstanceOf[Double])
    }
    buf
  }

  override def merge(b1: PctSampleAgg.Buffer, b2: PctSampleAgg.Buffer)
      : PctSampleAgg.Buffer = {
    val it = b2.heap.iterator()
    while (it.hasNext) { val e = it.next(); b1.insert(e.digest, e.value) }
    b1
  }

  override def eval(buf: PctSampleAgg.Buffer): Any =
    PctSampleAgg.quantilesOf(buf, pcts) match {
      case null => null
      case qs => new GenericArrayData(qs.map(v => v: Any))
    }

  override def serialize(buf: PctSampleAgg.Buffer): Array[Byte] =
    PctSampleAgg.serializeBuffer(buf)

  override def deserialize(bytes: Array[Byte]): PctSampleAgg.Buffer =
    PctSampleAgg.deserializeBuffer(bytes, k)

  override def withNewMutableAggBufferOffset(o: Int): PctSampleAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): PctSampleAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(key = l, value = r)
}

object PctSampleAgg {

  final class Entry(val digest: Array[Byte], val value: Double)

  /** (digest, value) ascending — the global sample order. */
  val ord: java.util.Comparator[Entry] = (a: Entry, b: Entry) => {
    val c = java.util.Arrays.compareUnsigned(a.digest, b.digest)
    if (c != 0) c else java.lang.Double.compare(a.value, b.value)
  }

  /** Bounded "k smallest" set: a size-capped MAX-heap — a candidate
    * beats the current maximum or is discarded, O(log k) per accepted
    * row, O(1) (one compare) per rejected row once the heap is warm. */
  final class Buffer(val k: Int) {
    val heap = new java.util.PriorityQueue[Entry](
      math.min(k, 1024).max(1), ord.reversed())

    def insert(digest: Array[Byte], value: Double): Unit = {
      if (heap.size() < k) heap.add(new Entry(digest, value))
      else {
        val worst = heap.peek()
        val e = new Entry(digest, value)
        if (ord.compare(e, worst) < 0) { heap.poll(); heap.add(e) }
      }
    }
  }

  private val digest = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  /** Insert a (string row key, value) pair — md5s the key and applies the
    * bottom-k rule. Shared with the streaming carrier
    * (StreamingOps.runningQuantiles), which feeds the SAME sample
    * incrementally across triggers. */
  def insertKeyed(buf: Buffer, rowKey: String, value: Double): Unit = {
    val md = digest.get()
    md.reset()
    md.update(rowKey.getBytes("UTF-8"))
    buf.insert(md.digest(), value)
  }

  /** Interpolated quantiles over the sample (Spark `Percentile`'s exact
    * formula, the form proven hash-equal to DuckDB's quantile_cont at 6
    * rounded decimals); null for an empty sample. */
  def quantilesOf(buf: Buffer, pcts: Seq[Double]): Array[Double] = {
    val n = buf.heap.size()
    if (n == 0) return null
    val vs = new Array[Double](n)
    val it = buf.heap.iterator()
    var i = 0
    while (it.hasNext) { vs(i) = it.next().value; i += 1 }
    java.util.Arrays.sort(vs)
    val out = new Array[Double](pcts.length)
    var j = 0
    while (j < pcts.length) {
      val pos = pcts(j) * (n - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      out(j) =
        if (lo == hi) vs(lo)
        else (hi - pos) * vs(lo) + (pos - lo) * vs(hi)
      j += 1
    }
    out
  }

  /** Fixed layout: entry count + n × (16-byte digest, 8-byte value) —
    * at most 4 + 24·k bytes, the flat-state guarantee. */
  def serializeBuffer(buf: Buffer): Array[Byte] = {
    val n = buf.heap.size()
    val out = java.nio.ByteBuffer.allocate(4 + n * 24)
    out.putInt(n)
    val it = buf.heap.iterator()
    while (it.hasNext) {
      val e = it.next()
      out.put(e.digest)
      out.putDouble(e.value)
    }
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
      buf.insert(d, in.getDouble)
      i += 1
    }
    buf
  }

  /** Shared builder (per-session registry AND GraftExtensions). */
  val builder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 4,
      s"graft_pct_sample expects (key, value, percentages, k), " +
        s"got ${exprs.length} arguments")
    import org.apache.spark.sql.catalyst.expressions.{CreateArray, Literal}
    val pcts = exprs(2) match {
      case CreateArray(children, _) => children.map {
        case Literal(v, _) => v.toString.toDouble
        case other => throw new IllegalArgumentException(
          s"graft_pct_sample percentages must be literals, got $other")
      }
      case Literal(arr: org.apache.spark.sql.catalyst.util.ArrayData,
          ArrayType(DoubleType, _)) => arr.toDoubleArray().toSeq
      case other => throw new IllegalArgumentException(
        s"graft_pct_sample percentages must be a literal array, got $other")
    }
    val k = exprs(3) match {
      case Literal(v, _) => v.toString.toInt
      case other => throw new IllegalArgumentException(
        s"graft_pct_sample k must be a literal, got $other")
    }
    PctSampleAgg(exprs.head, exprs(1), pcts, k).toAggregateExpression()
  }

  /** No-op when the session already has the function (injected by
    * GraftExtensions or registered earlier): the Column API below calls
    * this on every use. */
  def register(spark: SparkSession): Unit =
    if (!spark.sessionState.functionRegistry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("graft_pct_sample")))
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_pct_sample", builder, "built-in")

  /** Column API; self-registers on the active session. Returns
    * ARRAY<DOUBLE> aligned with `pcts`. */
  def pctSample(key: Column, value: Column, pcts: Seq[Double], k: Int)
      : Column = {
    register(SparkSession.active)
    call_function("graft_pct_sample", key, value,
      array(pcts.map(lit): _*), lit(k))
  }
}
