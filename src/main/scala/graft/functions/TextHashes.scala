package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native shingle-hashing expressions.
  *
  * The composable forms (`transform(transform(...), md5 ... instr-fold)`)
  * are higher-order lambdas, which Spark evaluates as interpreted
  * expression trees — per-element megamorphic `eval` walks that both
  * run slowly and destabilise the JIT (observed: random 20-90s C2
  * recompile storms on repeated identical queries). These expressions
  * do the same math in a tight monomorphic Java loop per row. The
  * semantics — and therefore the SQL oracles — are IDENTICAL:
  * md5 of the UTF-8 shingle bytes, lexicographic/hex-fold results.
  */
private[graft] object Md5 {
  private val local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  def digest(bytes: Array[Byte]): Array[Byte] = {
    val d = local.get(); d.reset(); d.digest(bytes)
  }
  private val hex = "0123456789abcdef".toCharArray
  def hexString(d: Array[Byte]): String = {
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hex((d(i) >> 4) & 0xf); out(2 * i + 1) = hex(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }
  /** first 12 hex digits = first 6 bytes, big-endian unsigned */
  def fold48(d: Array[Byte]): Long = {
    var v = 0L; var i = 0
    while (i < 6) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v
  }
  def shingleBytes(tokens: ArrayData, start: Int, n: Int): Array[Byte] = {
    val sb = new java.lang.StringBuilder()
    var o = 0
    while (o < n) {
      if (o > 0) sb.append(' ')
      val t = tokens.getUTF8String(start + o)
      if (t != null) sb.append(t.toString)
      o += 1
    }
    sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }
}

/** word-3-gram 48-bit md5 digests of a tokens array — same values as
  * `transform(transform(shingles, md5), instr-fold)` */
case class ShingleHash48(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"shingle_hash48 expects array<string>, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val n = math.max(toks.numElements() - 2, 1)
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) = Md5.fold48(Md5.digest(Md5.shingleBytes(toks, i,
        math.min(3, toks.numElements() - i))))
      i += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** K=16 MinHash signature: per seed k, the lexicographic min of
  * md5hex(s"$k:" + shingle) over all word-3-gram shingles — same
  * values as 16 `min(md5(concat('k:', s)))` aggregates. */
case class MinHashSig(child: Expression)
    extends UnaryExpression with CodegenFallback {

  val K = 16

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig expects array<string>, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val n = math.max(toks.numElements() - 2, 1)
    val mins = new Array[String](K)
    var i = 0
    while (i < n) {
      val sh = Md5.shingleBytes(toks, i, math.min(3, toks.numElements() - i))
      var k = 0
      while (k < K) {
        val prefix = (k + ":").getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val buf = new Array[Byte](prefix.length + sh.length)
        System.arraycopy(prefix, 0, buf, 0, prefix.length)
        System.arraycopy(sh, 0, buf, prefix.length, sh.length)
        val h = Md5.hexString(Md5.digest(buf))
        if (mins(k) == null || h.compareTo(mins(k)) < 0) mins(k) = h
        k += 1
      }
      i += 1
    }
    new GenericArrayData(mins.map(m => UTF8String.fromString(m): Any))
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** word-N-gram 48-bit md5 digests of a tokens array — same values as
  * the portable `instr`-fold of `md5(w1 || ' ' || ... || wN)` over
  * each window, and EMPTY (not one whole-doc gram) for arrays
  * shorter than N, matching the `list_zip`/`arrays_zip` slice
  * semantics the n-gram oracles use. [[ShingleHash48]] is the fixed
  * 3-gram variant with the short-doc whole-doc fallback; this one
  * parameterizes N for feature hashing (DSIR's bigrams). */
case class NgramHash48(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"ngram_hash48 expects array<string>, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val m = toks.numElements() - n + 1
    if (m <= 0) new GenericArrayData(new Array[Any](0))
    else {
      val out = new Array[Any](m)
      var i = 0
      while (i < m) {
        out(i) = Md5.fold48(Md5.digest(Md5.shingleBytes(toks, i, n)))
        i += 1
      }
      new GenericArrayData(out)
    }
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** fold48(md5(str)) as one native call — the salted-position hash
  * shared by the CMS/Bloom families, minus the 12 interpreted
  * instr/substr folds and repeated md5s of the composed SQL chain
  * (measured: the sf1 orders-side sketch build pays 7.2M chain
  * evaluations = ~6s; native ≈ 0.3s). Values are IDENTICAL to
  * `fold48(md5(s))` — the q50 oracle recomputes them through the
  * SQL chain in DuckDB and hash-matches. */
case class Md5Fold48(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"md5_fold48 expects string, got ${t.simpleString}")
  }
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    Md5.fold48(Md5.digest(input.asInstanceOf[UTF8String].getBytes))
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(c)
}

/** Bloom membership probe against a 32-bits-per-long word bitmap —
  * the whole k-position test as ONE native call per row: for each
  * salt j < k, position = fold48(md5(s"$j:" + key)) % mBits (the
  * EXACT arithmetic of [[graft.operators.TextAnalysis.bloomPosSpark]]
  * — the bitmap is BUILT through that SQL chain, so probe/build
  * cannot disagree on a position; RuntimeFilterSpec's zero-false-
  * negative test pins the parity) and the word bit must be set. The
  * composed SQL form pays 3 md5s + 36 interpreted instr/substr
  * string scans per fact row — this is the t22 NgramHash48 fix
  * applied to the runtime-filter probe, the hottest per-row site of
  * q49 (every fact row, pre-reduction). */
case class BloomHit(left: Expression, right: Expression,
    k: Int, mBits: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"bloom_hit expects (string, array<bigint>), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }
  override def dataType: DataType = BooleanType

  override def nullSafeEval(key: Any, bloom: Any): Any = {
    val kb = key.asInstanceOf[UTF8String].getBytes
    val words = bloom.asInstanceOf[ArrayData]
    var j = 0
    while (j < k) {
      val prefix = (j + ":")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val buf = new Array[Byte](prefix.length + kb.length)
      System.arraycopy(prefix, 0, buf, 0, prefix.length)
      System.arraycopy(kb, 0, buf, prefix.length, kb.length)
      val p = (Md5.fold48(Md5.digest(buf)) % mBits).toInt
      if ((words.getLong(p / 32) & (1L << (p % 32))) == 0L) return false
      j += 1
    }
    true
  }
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): Expression = copy(left = l, right = r)
}

object TextHashes {
  def shingle_hash48(tokens: Column): Column =
    GraftBridge.column(ShingleHash48(GraftBridge.expression(tokens)))
  def minhash_sig(tokens: Column): Column =
    GraftBridge.column(MinHashSig(GraftBridge.expression(tokens)))
  def ngram_hash48(tokens: Column, n: Int): Column =
    GraftBridge.column(NgramHash48(GraftBridge.expression(tokens), n))
  def bloom_hit(key: Column, bloom: Column, k: Int, mBits: Int): Column =
    GraftBridge.column(BloomHit(GraftBridge.expression(key),
      GraftBridge.expression(bloom), k, mBits))
  def md5_fold48(s: Column): Column =
    GraftBridge.column(Md5Fold48(GraftBridge.expression(s)))

  /** Register the native text-hash functions for SQL use
    * (`shingle_hash48`, `minhash_sig`, `ngram_hash48`, `md5_fold48`,
    * `bloom_hit`) — the int parameters arrive as SQL literals and
    * fold into the expression at registration (they size codegen'd
    * loops, so they must be compile-time constants, exactly like the
    * Column API's Int parameters). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
    def intLit(e: Expression, fn: String): Int = e match {
      case Literal(v: Int, _) => v
      case Literal(v: Long, _) => v.toInt
      case other => throw new IllegalArgumentException(
        s"$fn: parameter must be an integer literal, got $other")
    }
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction(
      "shingle_hash48", exprs => ShingleHash48(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction(
      "minhash_sig", exprs => MinHashSig(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction(
      "md5_fold48", exprs => Md5Fold48(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction(
      "ngram_hash48", exprs =>
        NgramHash48(exprs(0), intLit(exprs(1), "ngram_hash48")), "built-in")
    reg.createOrReplaceTempFunction(
      "bloom_hit", exprs => BloomHit(exprs(0), exprs(1),
        intLit(exprs(2), "bloom_hit"), intLit(exprs(3), "bloom_hit")),
      "built-in")
  }
}
