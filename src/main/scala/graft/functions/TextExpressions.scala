package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Polynomial rolling-hash document fingerprint: h = (h*31 + codepoint)
  * mod 1_000_000_007, over unicode codepoints. Deterministic, partition
  * independent, and cheap enough to run inline with the scan (whole-stage
  * codegen). The same fold is expressible in DuckDB
  * (list_reduce over unicode()) so fingerprints are oracle-checkable.
  */
case class RollingHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"rolling_hash expects STRING, got ${other.sql}")
  }

  override def nullSafeEval(v: Any): Any =
    RollingHash.hash(v.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.RollingHash.hash($c.toString())")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object RollingHash {
  final val Mod = 1000000007L

  /** Shared by interpreted + generated code paths. */
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
    * [[SimHash32]] (the RollingHash pattern — a name no class member
    * shadows, so scalac emits the static forwarder codegen calls). */
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

/** Native codegen form of the language-ID heuristic
  * (graft.ops.TextAnalysis.LangId.detect — the scoring table and decision
  * procedure live there, next to the DuckDB oracle that re-derives them).
  * Null routes to "unknown" like the Scala function, so the expression is
  * NOT null-intolerant: eval handles null itself instead of inheriting
  * UnaryExpression's null short-circuit. */
case class LangIdExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_langid expects STRING, got ${other.sql}")
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    LangIdExpr.detectU(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val c = child.genCode(ctx)
    ev.copy(code =
      code"""
        ${c.code}
        UTF8String ${ev.value} = graft.functions.LangIdExpr.detectU(
          ${c.isNull} ? null : ${c.value});
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object LangIdExpr {
  /** Static entry shared by interpreted + generated code. */
  def detectU(s: UTF8String): UTF8String =
    UTF8String.fromString(
      graft.ops.TextAnalysis.LangId.detect(if (s == null) null else s.toString))
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

/** Native per-row character-entropy statistics: one compiled O(L) pass
  * over the UTF-16 units returning [n_chars_seen, distinct_chars,
  * entropy_micro] (H = log2fp(L) − (Σ n_c·log2fp(n_c)) div L, every
  * log2 micro-rounded so the statistic is an exact BIGINT — see
  * TextAnalysis.charEntropyStats' contract). A HigherOrderFunction fold
  * computes the same values but interprets ~5 µs/char (measured 10.7 s
  * for sf0.1's 1.75M chars); this expression runs inside whole-stage
  * codegen at ~ns/char. ASCII counts hit a flat 128-slot array; other
  * units fall to a map — same multiset either way. */
case class CharEntropyExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_char_entropy expects STRING, got ${other.sql}")
  }

  override def nullSafeEval(v: Any): Any =
    CharEntropyExpr.stats(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.CharEntropyExpr.stats($c)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object CharEntropyExpr {
  private def log2fp(n: Long): Long =
    Math.round(Math.log(n.toDouble) / Math.log(2.0) * 1e6)

  def stats(u: UTF8String): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val s = u.toString
    val len = s.length.toLong
    if (len == 0L)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array(0L, 0L, 0L))
    val ascii = new Array[Long](128)
    var other: java.util.HashMap[Character, Long] = null
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c < 128) ascii(c) += 1L
      else {
        if (other == null) other = new java.util.HashMap[Character, Long]()
        other.merge(c, 1L, (a, b) => a + b)
      }
      i += 1
    }
    var sum = 0L
    var k = 0L
    var j = 0
    while (j < 128) {
      val n = ascii(j)
      if (n > 0L) { sum += n * log2fp(n); k += 1L }
      j += 1
    }
    if (other != null) {
      val it = other.values().iterator()
      k += other.size().toLong
      while (it.hasNext) { val n = it.next(); sum += n * log2fp(n) }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array(len, k, log2fp(len) - sum / len))
  }
}

/** Native per-row Gopher-repetition statistics (Rae et al. 2021 §A1.1):
  * one compiled pass over the doc's single-space word stream returning
  * struct(top2_gram, top2_count, dup3_chars) — the most frequent word
  * 2-gram (ties: count DESC, gram ASC in binary/UTF8 order, exactly the
  * batch aggregate's min_by key) and the character mass of word 3-grams
  * occurring more than once. Value-identical to the former two
  * explode + groupBy passes of TextAnalysis.repetitionSignals, which
  * shuffled every corpus gram twice for what is a purely per-document
  * statistic; this runs inside whole-stage codegen with zero exchanges.
  *
  * Tokenization replicates split(text, ' ') with Java limit -1 (empty
  * tokens between consecutive spaces and at the ends are KEPT); n-grams
  * replicate transform(sequence(1, greatest(len-n+1, 1)), slice + single-
  * space concat_ws) including the short-doc clip (a doc under n words
  * yields its whole text as the single gram). Because the joiner equals
  * the splitter, every gram is a contiguous byte slice of the original
  * UTF-8 buffer — counted zero-copy. Gram lengths count codepoints
  * (Spark length() == UTF8String.numChars == DuckDB length). */
case class RepetitionStatsExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = RepetitionStatsExpr.OutType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_repetition_stats expects STRING, got ${other.sql}")
  }

  override def nullSafeEval(v: Any): Any =
    RepetitionStatsExpr.stats(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.RepetitionStatsExpr.stats($c)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object RepetitionStatsExpr {
  val OutType: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("top2_gram", StringType,
        nullable = false),
      org.apache.spark.sql.types.StructField("top2_count", LongType,
        nullable = false),
      org.apache.spark.sql.types.StructField("dup3_chars", LongType,
        nullable = false)))

  /** Shared by interpreted + generated code paths. */
  def stats(u: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = u.getBytes
    // token boundaries: split on the single space byte (0x20 never occurs
    // inside a multi-byte UTF-8 sequence), limit -1 semantics (empty
    // tokens kept, including trailing)
    val starts = new java.util.ArrayList[Integer]()
    starts.add(0)
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) == 0x20) starts.add(i + 1)
      i += 1
    }
    val nTok = starts.size()
    def tokStart(t: Int): Int = starts.get(t)
    def tokEnd(t: Int): Int =
      if (t == nTok - 1) bytes.length else starts.get(t + 1) - 1
    // count n-grams as byte slices [tokStart(i), tokEnd(i+n-1)) — the
    // single-space joiner equals the splitter, so the gram IS the
    // original substring; short docs yield one clipped whole-array gram
    def gramCounts(n: Int): java.util.HashMap[UTF8String, Array[Long]] = {
      val m = new java.util.HashMap[UTF8String, Array[Long]]()
      val nGrams = math.max(nTok - (n - 1), 1)
      var g = 0
      while (g < nGrams) {
        val from = tokStart(g)
        val until = tokEnd(math.min(g + n - 1, nTok - 1))
        val gram = UTF8String.fromBytes(bytes, from, until - from)
        val c = m.get(gram)
        if (c == null) m.put(gram, Array(1L)) else c(0) += 1L
        g += 1
      }
      m
    }
    val g2 = gramCounts(2)
    var bestCnt = 0L
    var bestGram: UTF8String = null
    val it2 = g2.entrySet().iterator()
    while (it2.hasNext) {
      val e = it2.next()
      val c = e.getValue()(0)
      if (c > bestCnt ||
          (c == bestCnt && e.getKey.compareTo(bestGram) < 0)) {
        bestCnt = c
        bestGram = e.getKey
      }
    }
    val g3 = gramCounts(3)
    var dup3 = 0L
    val it3 = g3.entrySet().iterator()
    while (it3.hasNext) {
      val e = it3.next()
      val c = e.getValue()(0)
      if (c > 1L) dup3 += c * e.getKey.numChars()
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestGram, bestCnt, dup3))
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

  val charEntropyBuilder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 1,
      s"graft_char_entropy expects (text), got ${exprs.length} arguments")
    CharEntropyExpr(exprs.head)
  }

  val langIdBuilder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 1,
      s"graft_langid expects (text), got ${exprs.length} arguments")
    LangIdExpr(exprs.head)
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

  val repetitionStatsBuilder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 1,
      s"graft_repetition_stats expects (text), got ${exprs.length} arguments")
    RepetitionStatsExpr(exprs.head)
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
      "rolling_hash", exprs => RollingHash(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_md5_seeds", md5SeedsBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash32", simhashBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_langid", langIdBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_char_entropy", charEntropyBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_split_text", splitTextBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_repetition_stats", repetitionStatsBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_gram_hashes", gramHashesBuilder, "built-in")
  }

  def rollingHash(c: Column): Column = call_function("rolling_hash", c)
  // The three below self-register on the ACTIVE session (these are leaf
  // projections built from ops code that holds only a Column, not a
  // session); GraftExtensions registers the same builders cluster-wide.
  def simhash32(c: Column): Column = {
    register(SparkSession.active); call_function("simhash32", c)
  }
  def langId(c: Column): Column = {
    register(SparkSession.active); call_function("graft_langid", c)
  }
  def charEntropy(c: Column): Column = {
    register(SparkSession.active); call_function("graft_char_entropy", c)
  }
  def repetitionStats(c: Column): Column = {
    register(SparkSession.active); call_function("graft_repetition_stats", c)
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
  def splitText(c: Column, chunkSize: Int, overlap: Int): Column = {
    register(SparkSession.active)
    call_function("graft_split_text", c,
      org.apache.spark.sql.functions.lit(chunkSize),
      org.apache.spark.sql.functions.lit(overlap))
  }
  /** Requires register(spark) on the session first. */
  def md5Seeds(c: Column, n: Int): Column =
    call_function("graft_md5_seeds", c, org.apache.spark.sql.functions.lit(n))
}
