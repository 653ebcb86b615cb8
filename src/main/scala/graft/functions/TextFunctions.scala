package graft.functions

import org.apache.spark.sql.{Column, functions => F}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Modular arithmetic in the Mersenne field p = 2^61 - 1.
  *
  * Used by the document-fingerprint and MinHash expressions. All ops stay in
  * primitive longs (no BigInt): `x mod p` for a 128-bit product hi·2^64+lo
  * uses 2^61 ≡ 1 and 2^64 ≡ 8 (mod p).
  */
object Mersenne61 {
  final val P = 2305843009213693951L // 2^61 - 1
  final val B = 131L // polynomial base

  /** (a * b) mod p for 0 <= a, b < p. */
  def mulmod(a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    var r = (lo & P) + (lo >>> 61) + hi * 8L
    while (r >= P) r -= P
    r
  }

  /** Polynomial rolling hash over the string's Unicode code points:
    * h = fold(h * 131 + codepoint) mod p. Matches the DuckDB oracle's
    * HUGEINT list_reduce fold exactly. */
  def polyHash(s: UTF8String): Long = {
    val str = s.toString
    polyHash(str, 0, str.length)
  }

  /** [[polyHash]] of `str.substring(from, until)`, without the copy. */
  def polyHash(str: String, from: Int, until: Int): Long = {
    var h = 0L
    var i = from
    while (i < until) {
      val cp = str.codePointAt(i)
      h = mulmod(h, B) + cp
      if (h >= P) h -= P
      i += Character.charCount(cp)
    }
    h
  }
}

/** poly_fingerprint(text): 61-bit polynomial rolling-hash document
  * fingerprint (SURVEY §2 `text_fingerprint`). Native expression so the
  * fingerprint pass over a 100 TB corpus is one codegen'd scan — the
  * generated code calls the static hasher on the UTF8String directly, no
  * row materialization. */
case class PolyFingerprint(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def prettyName: String = "poly_fingerprint"
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any): Any =
    Mersenne61.polyHash(a.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Mersenne61.polyHash($c)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object TextOps {
  import org.apache.spark.sql.catalyst.util.{ArrayData, CollationFactory, CollationSupport, GenericArrayData}
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.internal.SQLConf

  /** The word tokenizer: ASCII letter/digit runs of the LOWERCASED text
    * ([[TextFunctions.words]]); the DuckDB oracle spells the same. */
  final val WordPattern = "[a-z0-9]+"
  private val WordRegex = java.util.regex.Pattern.compile(WordPattern)

  /** Whether `lower` case-maps through ICU, read the way Spark's `Lower`
    * reads it. */
  def icuCaseMappings: Boolean = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  /** The hashed-text kernel, the engine's stand-in for an embedding
    * model: text → `dim` (signed count, touched count) slots in one pass.
    * It lowercases with the call Spark's `lower` makes, matches
    * [[WordPattern]] as `regexp_extract_all` does, and accumulates each
    * match's [[Mersenne61.polyHash]] like [[hashingFeaturize]] — equal to
    * `hashing_featurize(transform(words(text), poly_fingerprint), dim)`
    * without the token array, the per-token strings or the lambda. The
    * corpus scan ([[HashedWeights]]), the query featurizer and the
    * default embedder all run it. */
  def hashedWeights(text: UTF8String, dim: Int, useICU: Boolean): ArrayData = {
    val s = CollationSupport.Lower.exec(
      text, CollationFactory.UTF8_BINARY_COLLATION_ID, useICU).toString
    val w = new Array[Long](dim)
    val n = new Array[Long](dim)
    val m = WordRegex.matcher(s)
    while (m.find()) addHash(w, n, Mersenne61.polyHash(s, m.start, m.end))
    slots(w, n)
  }

  /** The kernel's accumulation over precomputed token hashes: one
    * O(tokens) pass into `dim` (signed-count, touched-count) slots. */
  def hashingFeaturize(hs: ArrayData, dim: Int): ArrayData = {
    val w = new Array[Long](dim)
    val n = new Array[Long](dim)
    var i = 0
    val m = hs.numElements()
    while (i < m) { addHash(w, n, hs.getLong(i)); i += 1 }
    slots(w, n)
  }

  /** The one bucket/sign rule: bucket `h mod dim`, sign from bit
    * `(h / dim) & 1`. */
  private def addHash(w: Array[Long], n: Array[Long], h: Long): Unit = {
    val dim = w.length
    val d = (h % dim).toInt // poly hashes are nonnegative
    if (((h / dim) & 1L) == 0L) w(d) += 1 else w(d) -= 1
    n(d) += 1
  }

  private def slots(w: Array[Long], n: Array[Long]): ArrayData = {
    val out = new Array[Any](w.length)
    var j = 0
    while (j < w.length) { out(j) = InternalRow(w(j), n(j)); j += 1 }
    new GenericArrayData(out)
  }

  private def weight(ws: ArrayData, i: Int): Long = ws.getStruct(i, 2).getLong(0)

  /** Squared L2 norm of the signed counts: exact, in integers. */
  def norm2(ws: ArrayData): Long =
    (0 until ws.numElements()).foldLeft(0L)((s, i) => s + weight(ws, i) * weight(ws, i))

  /** The float unit vector of the signed counts, `(w / sqrt(norm2))
    * .toFloat` per slot. Callers drop `norm2 = 0` first: a zero vector
    * has no direction. */
  def unitVector(ws: ArrayData): Array[Float] = {
    val s = Math.sqrt(norm2(ws).toDouble)
    Array.tabulate(ws.numElements())(i => (weight(ws, i).toDouble / s).toFloat)
  }
}

/** One-pass multi-set marker counter: for N marker word-sets (stopword
  * lists, per-language marker lists), count per set how many tokens of a
  * document belong to it — one hash lookup per token instead of N
  * interpreted `filter(toks, t -> array_contains(set, t))` higher-order
  * passes (Spark HOFs don't participate in whole-stage codegen, and
  * `array_contains` of a literal array is a linear scan per token: the
  * sf100 stage probe measured langid's 5-pass formulation at 12× the cost
  * of the single-pass quality scan over the same corpus). A marker may
  * appear in several sets; each membership counts. The map builds lazily
  * per JVM from the serializable word sets. */
class MarkerLookup(val sets: Array[Array[String]]) extends Serializable {
  import org.apache.spark.sql.catalyst.util.ArrayData
  @transient private lazy val map: java.util.HashMap[UTF8String, Array[Int]] = {
    val m = new java.util.HashMap[UTF8String, Array[Int]]()
    var i = 0
    while (i < sets.length) {
      // distinct: a word repeated WITHIN one set must count once per
      // token occurrence, matching the filter/array_contains formulation
      // this class replaces (cross-SET repeats still each count)
      sets(i).distinct.foreach { w =>
        val k = UTF8String.fromString(w)
        val prev = m.get(k)
        m.put(k, if (prev == null) Array(i) else prev :+ i)
      }
      i += 1
    }
    m
  }
  def count(toks: ArrayData): ArrayData = {
    val c = new Array[Int](sets.length)
    var i = 0
    val n = toks.numElements()
    while (i < n) {
      val hit = map.get(toks.getUTF8String(i))
      if (hit != null) {
        var j = 0
        while (j < hit.length) { c(hit(j)) += 1; j += 1 }
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(c)
  }
}

/** marker_counts(tokens): per-set marker hit counts as array<int>, one
  * codegen'd pass (see [[MarkerLookup]]). The lookup rides as a codegen
  * reference object like the BPE merge table. */
case class MarkerCounts(child: Expression, lookup: MarkerLookup)
    extends UnaryExpression with ExpectsInputTypes {
  override def prettyName: String = "marker_counts"
  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(a: Any): Any =
    lookup.count(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l = ctx.addReferenceObj("markerLookup", lookup,
      "graft.functions.MarkerLookup")
    defineCodeGen(ctx, ev, c => s"$l.count($c)")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object BpeOps {
  /** Apply a ranked merge table to one separator-delimited symbol
    * string: one `String.replace` pass per merge, in rank order —
    * leftmost-non-overlapping, the exact greedy scan-with-skip
    * semantics BpeTrainSpec pins. Living behind ONE expression node
    * (instead of an nMerges-deep replace column chain) keeps the
    * expression tree flat at production merge counts, where a
    * thousands-deep chain would blow codegen limits. */
  def applyMerges(
      s: UTF8String, pats: Array[String], reps: Array[String]): UTF8String = {
    var str = s.toString
    var i = 0
    while (i < pats.length) { str = str.replace(pats(i), reps(i)); i += 1 }
    UTF8String.fromString(str)
  }
}

/** apply_bpe_merges(syms): the full ranked merge table applied in one
  * codegen'd loop — the serving-side BPE tokenizer step over the wrapped
  * symbol representation. The pattern/replacement arrays ride as a
  * codegen reference object, so the generated code is a constant-size
  * loop regardless of merge count. */
case class ApplyBpeMerges(
    child: Expression, patterns: Array[String], repls: Array[String])
    extends UnaryExpression with ExpectsInputTypes {
  override def prettyName: String = "apply_bpe_merges"
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullSafeEval(a: Any): Any =
    BpeOps.applyMerges(a.asInstanceOf[UTF8String], patterns, repls)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val p = ctx.addReferenceObj("bpePats", patterns, "java.lang.String[]")
    val r = ctx.addReferenceObj("bpeReps", repls, "java.lang.String[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.BpeOps.applyMerges($c, $p, $r)")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** array<struct<w: signed count, n: touched count>>, the slot layout. */
private object WeightSlots {
  val dataType: DataType = ArrayType(StructType(Seq(
    StructField("w", LongType, nullable = false),
    StructField("n", LongType, nullable = false))), containsNull = false)
}

/** hashing_featurize(hashes): dense array of (signed bucket count, touched
  * count) pairs — the feature-hashing trick as a single codegen'd pass. */
case class HashingFeaturize(child: Expression, dim: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def prettyName: String = "hashing_featurize"
  override def inputTypes = Seq(ArrayType(LongType))
  override def dataType: DataType = WeightSlots.dataType
  override def nullSafeEval(a: Any): Any =
    TextOps.hashingFeaturize(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], dim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextOps.hashingFeaturize($c, $dim)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** hashed_weights(text): the hashed-text kernel ([[TextOps.hashedWeights]])
  * as one codegen'd expression. Like `Lower`, it reads the case-mapping
  * mode once per instance. */
case class HashedWeights(child: Expression, dim: Int)
    extends UnaryExpression with ExpectsInputTypes {
  private lazy val useICU = TextOps.icuCaseMappings
  override def prettyName: String = "hashed_weights"
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = WeightSlots.dataType
  override def nullSafeEval(a: Any): Any =
    TextOps.hashedWeights(a.asInstanceOf[UTF8String], dim, useICU)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextOps.hashedWeights($c, $dim, $useICU)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** unit_vector(ws): [[TextOps.unitVector]] over the slot layout. */
case class UnitVector(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def prettyName: String = "unit_vector"
  override def inputTypes = Seq(WeightSlots.dataType)
  // nullable elements, as the per-slot SQL division this replaced typed
  // them: the store's parquet schema stays byte-for-byte what it was
  override def dataType: DataType = ArrayType(FloatType, containsNull = true)
  override def nullSafeEval(a: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(TextOps.unitVector(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "org.apache.spark.sql.catalyst.expressions.UnsafeArrayData" +
        s".fromPrimitiveArray(graft.functions.TextOps.unitVector($c))")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object TextFunctions {
  import Bridge.{col, expr}
  def polyFingerprint(x: Column): Column = col(PolyFingerprint(expr(x)))
  def hashedWeights(text: Column, dim: Int): Column =
    col(HashedWeights(expr(text), dim))
  def unitVector(ws: Column): Column = col(UnitVector(expr(ws)))
  /** The word tokens of a text column: `regexp_extract_all(lower(text),
    * WordPattern, 0)`. */
  def words(text: Column): Column =
    F.regexp_extract_all(F.lower(text), F.lit(TextOps.WordPattern), F.lit(0))
  def applyBpeMerges(
      x: Column, pats: Array[String], reps: Array[String]): Column =
    col(ApplyBpeMerges(expr(x), pats, reps))
  def markerCounts(x: Column, sets: Seq[Seq[String]]): Column =
    col(MarkerCounts(expr(x), new MarkerLookup(sets.map(_.toArray).toArray)))
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    Bridge.register(spark, "poly_fingerprint", es => PolyFingerprint(es.head))
}
