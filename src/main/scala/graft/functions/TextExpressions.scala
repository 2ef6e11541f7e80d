package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Polynomial rolling-hash fingerprint: h = (h*31 + codepoint)
  * mod 1_000_000_007, over unicode codepoints. Deterministic and cheap;
  * the LLM boundary's stub client keys its canned responses on it.
  */
object RollingHash {
  final val Mod = 1000000007L

  def hash(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * 31 + cp) % Mod
      i += Character.charCount(cp)
    }
    h
  }
}

/** All `n` seeded md5 hex digests of a string in ONE pass:
  * element i == md5(concat('i|', input)) — byte-for-byte the form the
  * DuckDB oracle computes — but with a single reused MessageDigest, the
  * input's UTF-8 bytes extracted once, cached seed-prefix bytes, and a
  * branch-free hex encode. The per-seed `md5(concat(...))` plan this
  * replaces pays a digest lookup + UTF8String concat allocation + hex
  * string build per seed per row; on MinHash signatures (16 seeds ×
  * every shingle occurrence in the corpus) that is the dominant cost of
  * the whole dedup pipeline. */
case class Md5Seeds(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if n > 0 => TypeCheckResult.TypeCheckSuccess
    case StringType => TypeCheckResult.TypeCheckFailure(
      s"md5_seeds seed count must be positive, got $n")
    case other => TypeCheckResult.TypeCheckFailure(
      s"md5_seeds expects STRING, got ${other.sql}")
  }

  override def nullSafeEval(v: Any): Any =
    Md5Seeds.all(v.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Md5Seeds.all($c, $n)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object Md5Seeds {
  private val digest = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))
  private val Hex = "0123456789abcdef".getBytes("US-ASCII")
  // seed prefixes "0|".."63|" precomputed; beyond that, built on the fly
  private val prefixes: Array[Array[Byte]] =
    Array.tabulate(64)(i => s"$i|".getBytes("UTF-8"))

  /** Shared by interpreted + generated code paths. */
  def all(s: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val in = s.getBytes
    val md = digest.get()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      md.reset()
      md.update(if (i < prefixes.length) prefixes(i)
        else s"$i|".getBytes("UTF-8"))
      md.update(in)
      val d = md.digest()
      val hex = new Array[Byte](32)
      var j = 0
      while (j < 16) {
        hex(2 * j) = Hex((d(j) >> 4) & 0xf)
        hex(2 * j + 1) = Hex(d(j) & 0xf)
        j += 1
      }
      out(i) = UTF8String.fromBytes(hex)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** 32-bit SimHash over token n-grams (bigrams of whitespace tokens), using
  * the first 4 md5 bytes of each feature as per-bit votes: bit b of the
  * signature is 1 iff more features have bit b set than not. Deterministic
  * and md5-based → reproducible in any engine; near-duplicate texts differ
  * in few bits (Hamming distance). Bigram features keep word-order
  * sensitivity so vocabulary-similar but distinct docs don't collide.
  */
object SimHash {
  final val Bits = 32

  private def tokenBits(tok: String): Long = {
    val d = java.security.MessageDigest.getInstance("md5")
      .digest(tok.getBytes("UTF-8"))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  def simhash(text: String): Long = {
    if (text == null) return 0L
    val votes = new Array[Int](Bits)
    val toks = text.split("\\s+").filter(_.nonEmpty)
    val features =
      if (toks.length < 2) toks.toSeq
      else toks.sliding(2).map(_.mkString(" ")).toSeq
    features.foreach { tok =>
      val bits = tokenBits(tok)
      var b = 0
      while (b < Bits) {
        if (((bits >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
    }
    votes.zipWithIndex.foldLeft(0L) { case (acc, (v, b)) =>
      if (v > 0) acc | (1L << b) else acc
    }
  }

  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Static entry shared by the interpreted and generated code paths of
    * [[SimHash32]] (a name no class member shadows, so scalac emits the
    * static forwarder codegen calls). */
  def hashU(s: UTF8String): Long = simhash(s.toString)
}

/** Native codegen form of [[SimHash.simhash]] — the former ScalaUDF
  * blocked whole-stage codegen of every projection it appeared in.
  * Same bits, same determinism. */
case class SimHash32(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash32 expects STRING, got ${other.sql}")
  }

  override def nullSafeEval(v: Any): Any =
    SimHash.hashU(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash.hashU($c)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Native codegen form of the recursive character splitter
  * (graft.trace.Chunker.splitText — langchain's
  * RecursiveCharacterTextSplitter algorithm). chunkSize/overlap are
  * plan-time constants, so they ride as constructor fields, not child
  * expressions. Null text → empty array (matching the UDF it replaces),
  * hence the non-null-intolerant eval. */
case class SplitTextExpr(child: Expression, chunkSize: Int, overlap: Int)
  extends UnaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if chunkSize > 0 && overlap >= 0 && overlap < chunkSize =>
      TypeCheckResult.TypeCheckSuccess
    case StringType => TypeCheckResult.TypeCheckFailure(
      s"graft_split_text needs 0 <= overlap < chunkSize, got ($chunkSize, $overlap)")
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_split_text expects STRING, got ${other.sql}")
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    SplitTextExpr.splitU(
      child.eval(input).asInstanceOf[UTF8String], chunkSize, overlap)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val c = child.genCode(ctx)
    ev.copy(code =
      code"""
        ${c.code}
        org.apache.spark.sql.catalyst.util.GenericArrayData ${ev.value} =
          graft.functions.SplitTextExpr.splitU(
            ${c.isNull} ? null : ${c.value}, $chunkSize, $overlap);
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object SplitTextExpr {
  /** Static entry shared by interpreted + generated code. */
  def splitU(s: UTF8String, chunkSize: Int, overlap: Int)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val pieces =
      if (s == null) Seq.empty[String]
      else graft.trace.Chunker.splitText(s.toString, chunkSize, overlap)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      pieces.map(UTF8String.fromString).toArray[Any])
  }
}

/** Native word k-gram hasher: ONE compiled pass over the UTF-8 buffer
  * returning every gram's md5 — as the full 32-char hex digest
  * (`hex = true`, the dupPassages/decontam recipe) or as the 60-bit
  * always-positive BIGINT `CAST(conv(substr(md5(g),1,15),16,10) AS
  * BIGINT)` (`hex = false`, the winnowing/dup-span recipe, extracted
  * straight from the digest bytes — no hex string, no conv parse).
  * `clip = true` replicates `transform(sequence(1, greatest(len-k+1,
  * 1)), slice)` (a doc shorter than k words yields its whole text as
  * the single gram); `clip = false` replicates the
  * `filter(len >= k) + sequence(1, len-k+1)` stream (short docs yield
  * an EMPTY array, which explode drops like the former filter).
  *
  * Value-identical to the SQL chain it replaces: tokens split on the
  * single space byte (limit -1 semantics), and because the joiner
  * equals the splitter every gram IS a contiguous byte slice of the
  * original buffer — hashed zero-copy through one reused MessageDigest.
  * The per-gram `concat_ws(slice(...))` plan this replaces allocated a
  * token-array slice, a joined string, a digest lookup, a 32-char hex
  * string and a conv() decimal parse per gram per pass. */
case class GramHashesExpr(child: Expression, k: Int, clip: Boolean,
    hex: Boolean) extends UnaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      if (hex) StringType else LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if k >= 1 => TypeCheckResult.TypeCheckSuccess
    case StringType => TypeCheckResult.TypeCheckFailure(
      s"graft_gram_hashes k must be >= 1, got $k")
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_gram_hashes expects STRING, got ${other.sql}")
  }

  override def nullSafeEval(v: Any): Any =
    GramHashesExpr.hashes(v.asInstanceOf[UTF8String], k, clip, hex)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.GramHashesExpr.hashes($c, $k, $clip, $hex)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object GramHashesExpr {
  private val digest = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))
  private val Hex = "0123456789abcdef".getBytes("US-ASCII")

  /** Shared by interpreted + generated code paths. */
  def hashes(u: UTF8String, k: Int, clip: Boolean, hex: Boolean)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val bytes = u.getBytes
    var nTok = 1
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) == 0x20) nTok += 1
      i += 1
    }
    val starts = new Array[Int](nTok)
    var t = 1
    i = 0
    while (i < bytes.length) {
      if (bytes(i) == 0x20) { starts(t) = i + 1; t += 1 }
      i += 1
    }
    def tokEnd(x: Int): Int =
      if (x == nTok - 1) bytes.length else starts(x + 1) - 1
    val nGrams =
      if (clip) math.max(nTok - (k - 1), 1)
      else nTok - (k - 1)
    if (nGrams <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        new Array[Any](0))
    val md = digest.get()
    val out = new Array[Any](nGrams)
    var g = 0
    while (g < nGrams) {
      val from = starts(g)
      val until = tokEnd(math.min(g + k - 1, nTok - 1))
      md.reset()
      md.update(bytes, from, until - from)
      val d = md.digest()
      if (hex) {
        val h = new Array[Byte](32)
        var j = 0
        while (j < 16) {
          h(2 * j) = Hex((d(j) >> 4) & 0xf)
          h(2 * j + 1) = Hex(d(j) & 0xf)
          j += 1
        }
        out(g) = UTF8String.fromBytes(h)
      } else {
        // first 15 hex digits == top 60 bits of the digest, always >= 0
        out(g) =
          ((d(0) & 0xffL) << 52) | ((d(1) & 0xffL) << 44) |
          ((d(2) & 0xffL) << 36) | ((d(3) & 0xffL) << 28) |
          ((d(4) & 0xffL) << 20) | ((d(5) & 0xffL) << 12) |
          ((d(6) & 0xffL) << 4) | ((d(7) & 0xffL) >>> 4)
      }
      g += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

object TextFunctions {
  /** Shared builder (per-session registry AND GraftExtensions). */
  val md5SeedsBuilder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 2,
      s"graft_md5_seeds expects (text, n), got ${exprs.length} arguments")
    val n = exprs(1) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v, _) =>
        v.toString.toInt
      case other => throw new IllegalArgumentException(
        s"graft_md5_seeds n must be a literal, got $other")
    }
    Md5Seeds(exprs.head, n)
  }

  val simhashBuilder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 1,
      s"simhash32 expects (text), got ${exprs.length} arguments")
    SimHash32(exprs.head)
  }

  val gramHashesBuilder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 4,
      s"graft_gram_hashes expects (text, k, clip, hex), got ${exprs.length} arguments")
    // a NULL literal or one that does not parse as `kind` (NPE /
    // NumberFormatException from the parse) gets the same descriptive error
    def lt[T](e: Expression, what: String, kind: String, f: String => T): T = {
      def bad = new IllegalArgumentException(
        s"graft_gram_hashes $what must be a non-null $kind literal, got $e")
      e match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v, _) if v != null =>
          try f(v.toString) catch { case _: IllegalArgumentException => throw bad }
        case _ => throw bad
      }
    }
    GramHashesExpr(exprs.head, lt(exprs(1), "k", "int", _.toInt),
      lt(exprs(2), "clip", "boolean", _.toBoolean),
      lt(exprs(3), "hex", "boolean", _.toBoolean))
  }

  val splitTextBuilder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 3,
      s"graft_split_text expects (text, chunkSize, overlap), got ${exprs.length} arguments")
    def asInt(e: Expression, what: String): Int = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v, _) =>
        v.toString.toInt
      case other => throw new IllegalArgumentException(
        s"graft_split_text $what must be a literal, got $other")
    }
    SplitTextExpr(exprs.head, asInt(exprs(1), "chunkSize"),
      asInt(exprs(2), "overlap"))
  }

  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_md5_seeds", md5SeedsBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash32", simhashBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_split_text", splitTextBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_gram_hashes", gramHashesBuilder, "built-in")
  }

  // The helpers below self-register on the ACTIVE session (these are leaf
  // projections built from ops code that holds only a Column, not a
  // session); GraftExtensions registers the same builders cluster-wide.
  def simhash32(c: Column): Column = {
    register(SparkSession.active); call_function("simhash32", c)
  }
  /** 60-bit gram hashes (the winnow/dup-span BIGINT recipe). */
  def gramHash60(c: Column, k: Int, clip: Boolean): Column = {
    register(SparkSession.active)
    import org.apache.spark.sql.functions.lit
    call_function("graft_gram_hashes", c, lit(k), lit(clip), lit(false))
  }
  /** Full md5 hex gram digests (the dupPassages/decontam recipe). */
  def gramMd5(c: Column, k: Int, clip: Boolean): Column = {
    register(SparkSession.active)
    import org.apache.spark.sql.functions.lit
    call_function("graft_gram_hashes", c, lit(k), lit(clip), lit(true))
  }
  /** Registers only `graft_split_text`, and only when the session lacks
    * it: the trace chunker calls this once per `splitChunks`. */
  def splitText(c: Column, chunkSize: Int, overlap: Int): Column = {
    val spark = SparkSession.active
    if (!spark.sessionState.functionRegistry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("graft_split_text")))
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_split_text", splitTextBuilder, "built-in")
    call_function("graft_split_text", c,
      org.apache.spark.sql.functions.lit(chunkSize),
      org.apache.spark.sql.functions.lit(overlap))
  }
  /** Requires register(spark) on the session first. */
  def md5Seeds(c: Column, n: Int): Column =
    call_function("graft_md5_seeds", c, org.apache.spark.sql.functions.lit(n))
}
