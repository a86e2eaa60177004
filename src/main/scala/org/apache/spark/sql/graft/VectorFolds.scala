package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, Literal, QuaternaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, BooleanType, DataType, DoubleType, IntegerType, LongType}

/** Native Catalyst expressions for vector math over `array<double>` columns.
  *
  * Hosted under `org.apache.spark.sql` because the implicit-cast input-type
  * API (`AbstractDataType`) and the Expression→Column bridge
  * (`ExpressionUtils`) are `private[sql]` — the standard packaging for Spark
  * extension libraries that implement native expressions. The public user
  * API lives in `graft.functions.VectorFunctions`.
  *
  * Why a custom Expression (preferred over a UDF, per the extension
  * hierarchy): the higher-order-function formulation
  * (`aggregate(zip_with(a,b,*),0,+)`) allocates an intermediate array per
  * row and runs three separate folds for a cosine; these expressions
  * generate one fused loop inside whole-stage codegen — no allocation, no
  * serialization boundary.
  *
  * Numerics: accumulation is sequential left-to-right in double — the same
  * order as the HOF fold and the DuckDB oracle's
  * `list_sum(list_transform(...))`, so all three produce bit-identical
  * doubles. Null/length semantics also match the HOF fold: null input →
  * null, null element → null, mismatched lengths → null.
  */
abstract class VectorFold extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  protected def fold(x: ArrayData, y: ArrayData, n: Int): Any

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      i += 1
    }
    fold(x, y, n)
  }

}

/** dot(a, b) = Σ aᵢ·bᵢ */
case class DotProduct(left: Expression, right: Expression) extends VectorFold {
  override def prettyName: String = "graft_dot"

  override protected def fold(x: ArrayData, y: ArrayData, n: Int): Any = {
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val acc = ctx.freshName("dotAcc")
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $acc;
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** l2sq(a, b) = Σ(aᵢ−bᵢ)² — squared Euclidean distance, one fused
  * traversal. The IVF-PQ family's hottest kernel: the encode evaluates
  * it M×K times per vector (128M 8-dim folds at 10⁶ vectors), where the
  * interpreted `aggregate(zip_with(a,b,(x,y)->(x-y)*(x-y)),0D,+)` HOF
  * also allocates the intermediate diff array per pair. Accumulation is
  * sequential left-to-right, so results are bit-identical to the HOF
  * fold and the DuckDB `list_sum(list_transform(...))` mirror. */
case class L2Sq(left: Expression, right: Expression) extends VectorFold {
  override def prettyName: String = "graft_l2sq"

  override protected def fold(x: ArrayData, y: ArrayData, n: Int): Any = {
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = x.getDouble(i) - y.getDouble(i)
      s += d * d
      i += 1
    }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val acc = ctx.freshName("l2Acc")
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val d = ctx.freshName("d")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $d = $a.getDouble($i) - $b.getDouble($i);
         |    $acc += $d * $d;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $acc;
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** cosine(a, b) = Σaᵢbᵢ / (√Σaᵢ² · √Σbᵢ²) — one fused traversal. */
case class CosineSim(left: Expression, right: Expression) extends VectorFold {
  override def prettyName: String = "graft_cosine"

  override protected def fold(x: ArrayData, y: ArrayData, n: Int): Any = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val d = ctx.freshName("cosDot")
    val na = ctx.freshName("cosNa")
    val nb = ctx.freshName("cosNb")
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $d = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $xi = $a.getDouble($i); double $yi = $b.getDouble($i);
         |    $d += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $d / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** All 16 MinHash permutation minima in ONE traversal of the shingle set:
  * sig[j] = min over shingles h of (paⱼ·(h mod P) + pbⱼ) mod P, starting at P.
  *
  * Replaces 16 separate `aggregate(...)` higher-order folds — HOF lambdas
  * are interpreted per element in Spark, so the fused form moves 16
  * interpreted folds into one whole-stage-codegen loop and hoists the
  * `h mod P` reduction out of the per-permutation work. Values are
  * EXACTLY the HOF formulation's (same integer ops, same init), so the
  * DuckDB oracle is unchanged.
  */
case class MinhashSignature(child: Expression, pa: Array[Long], pb: Array[Long], p: Long)
  extends UnaryExpression with ImplicitCastInputTypes {
  require(pa.length == pb.length)
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    val k = pa.length
    val mins = Array.fill(k)(p)
    var i = 0
    while (i < n) {
      if (x.isNullAt(i)) return null
      val hm = x.getLong(i) % p
      var j = 0
      while (j < k) {
        val v = (pa(j) * hm + pb(j)) % p
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val paRef = ctx.addReferenceObj("minhashPa", pa, "long[]")
    val pbRef = ctx.addReferenceObj("minhashPb", pb, "long[]")
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val hm = ctx.freshName("hm")
      val v = ctx.freshName("v")
      val mins = ctx.freshName("mins")
      s"""
         |int $n = $a.numElements();
         |long[] $mins = new long[${pa.length}];
         |java.util.Arrays.fill($mins, ${p}L);
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  long $hm = $a.getLong($i) % ${p}L;
         |  for (int $j = 0; $j < ${pa.length}; $j++) {
         |    long $v = ($paRef[$j] * $hm + $pbRef[$j]) % ${p}L;
         |    if ($v < $mins[$j]) $mins[$j] = $v;
         |  }
         |}
         |if (!${ev.isNull}) {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** |A ∩ B| for two SORTED-distinct `array<long>` columns by two-pointer
  * merge — the verification kernel of every set-similarity join (Jaccard,
  * containment, MinHash verify).
  *
  * Precondition: both arrays ascending-sorted, duplicate- and null-free
  * (what `sort_array(array_distinct(...))` produces — the shingle pipeline's
  * normal form). Under it, the count equals
  * `size(array_intersect(a, b))` exactly — same integer, so Jaccard /
  * containment ratios and the DuckDB oracle are untouched.
  *
  * Why: `array_intersect` builds a hash set of one side PER ROW-PAIR and
  * allocates the matched elements as a new array nobody reads (only its
  * size survives). The merge is allocation-free, branch-predictable, and
  * fuses into whole-stage codegen. Null input → null; a null element
  * (impossible in the normal form) also degrades to null rather than a
  * wrong count.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements(); val m = y.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < n && j < m) {
      if (x.isNullAt(i) || y.isNullAt(j)) return null
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val c = ctx.freshName("c")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $n = $a.numElements(); int $m = $b.numElements();
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $n && $j < $m) {
         |  if ($a.isNullAt($i) || $b.isNullAt($j)) { ${ev.isNull} = true; break; }
         |  long $xv = $a.getLong($i); long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $c++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |if (!${ev.isNull}) {
         |  ${ev.value} = $c;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Word-level longest-common-prefix of two document SUFFIXES:
  * `graft_suffix_lcp(w1, p1, w2, p2)` = number of consecutive equal words
  * starting at 1-based positions p1 in w1 and p2 in w2, stopping at the
  * first mismatch or either array's end — the LCP kernel of the
  * suffix-ordered span-dedup pass (`graft.llm.SuffixDedup`).
  *
  * Why a custom Expression: the HOF formulation
  * (`filter(sequence(1,m), j -> w1[p+j-1] <> w2[q+j-1])[1]`) materializes
  * an index array per row and evaluates an INTERPRETED lambda per element
  * (higher-order functions do not participate in codegen) — measured 7 s
  * of a 20 s pass at sf0.1. This fused loop compares UTF8String slices
  * in place inside whole-stage codegen and exits at the first mismatch.
  *
  * Null semantics: null input → null; a null ELEMENT stops the scan (a
  * mismatch) — split()-produced word arrays contain no nulls, so the
  * branch is defensive only. Out-of-range positions yield 0.
  */
case class SuffixLcp(first: Expression, second: Expression,
                     third: Expression, fourth: Expression)
  extends QuaternaryExpression with ImplicitCastInputTypes {
  import org.apache.spark.sql.types.StringType
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(StringType), LongType, ArrayType(StringType), LongType)
  override def dataType: DataType = LongType
  override def nullable: Boolean =
    first.nullable || second.nullable || third.nullable || fourth.nullable
  override def prettyName: String = "graft_suffix_lcp"

  override def nullSafeEval(w1: Any, p1: Any, w2: Any, p2: Any): Any = {
    val a = w1.asInstanceOf[ArrayData]
    val b = w2.asInstanceOf[ArrayData]
    val n1 = a.numElements(); val n2 = b.numElements()
    val s1 = p1.asInstanceOf[Long]
    val s2 = p2.asInstanceOf[Long]
    // range-check the LONGS before narrowing: a position like 2^32+5
    // would otherwise truncate to a wrong-but-valid int index
    if (s1 < 1 || s1 > n1 || s2 < 1 || s2 > n2) return 0L
    var i = s1.toInt - 1
    var j = s2.toInt - 1
    var c = 0L
    while (i < n1 && j < n2 &&
      !a.isNullAt(i) && !b.isNullAt(j) &&
      a.getUTF8String(i).equals(b.getUTF8String(j))) {
      c += 1; i += 1; j += 1
    }
    c
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (w1, p1, w2, p2) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n1 = ctx.freshName("n1"); val n2 = ctx.freshName("n2")
      val c = ctx.freshName("c")
      s"""
         |int $n1 = $w1.numElements(); int $n2 = $w2.numElements();
         |long $c = 0L;
         |if ($p1 >= 1 && $p1 <= $n1 && $p2 >= 1 && $p2 <= $n2) {
         |  int $i = (int) $p1 - 1; int $j = (int) $p2 - 1;
         |  while ($i < $n1 && $j < $n2 &&
         |         !$w1.isNullAt($i) && !$w2.isNullAt($j) &&
         |         $w1.getUTF8String($i).equals($w2.getUTF8String($j))) {
         |    $c++; $i++; $j++;
         |  }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): Expression =
    copy(first = newFirst, second = newSecond,
      third = newThird, fourth = newFourth)
}

/** Expression→Column bridge + SQL registration (inside the sql package
  * because both touch `private[sql]` API).
  */
object VectorBridge {
  def suffixLcp(w1: Column, p1: Column, w2: Column, p2: Column): Column =
    ExpressionUtils.column(SuffixLcp(
      ExpressionUtils.expression(w1), ExpressionUtils.expression(p1),
      ExpressionUtils.expression(w2), ExpressionUtils.expression(p2)))

  def dotProduct(a: Column, b: Column): Column =
    ExpressionUtils.column(DotProduct(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def cosineSim(a: Column, b: Column): Column =
    ExpressionUtils.column(CosineSim(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def l2Sq(a: Column, b: Column): Column =
    ExpressionUtils.column(L2Sq(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def minhashSignature(shingles: Column, params: Seq[(Long, Long)], p: Long): Column =
    ExpressionUtils.column(MinhashSignature(
      ExpressionUtils.expression(shingles),
      params.map(_._1).toArray, params.map(_._2).toArray, p))

  def sortedIntersectCount(a: Column, b: Column): Column =
    ExpressionUtils.column(SortedIntersectCount(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def wordNgramHashes(text: Column, n: Int, distinct: Boolean): Column =
    ExpressionUtils.column(WordNgramHashes(
      ExpressionUtils.expression(text), n, distinct))

  def simhash60(tokenHashes: Column): Column =
    ExpressionUtils.column(Simhash60(ExpressionUtils.expression(tokenHashes)))

  def tokenPairs(state: Column): Column =
    ExpressionUtils.column(TokenPairs(ExpressionUtils.expression(state)))

  def wordPairs(text: Column): Column =
    ExpressionUtils.column(WordPairs(ExpressionUtils.expression(text)))

  /** Integral division (SQL `div`) — exact on longs, unlike `/` which
    * routes through double. The Column API exposes no wrapper for
    * catalyst's `IntegralDivide`, so it is bridged here.
    */
  def idiv(a: Column, b: Column): Column =
    ExpressionUtils.column(
      new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** The SQL-callable surface, registered on a live session by
    * [[register]] (through `graft.Graft.install`).
    */
  val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot"    -> (exprs => DotProduct(exprs(0), exprs(1))),
    "graft_cosine" -> (exprs => CosineSim(exprs(0), exprs(1))),
    "graft_l2sq"   -> (exprs => L2Sq(exprs(0), exprs(1))),
    "graft_intersect_count" -> (exprs => SortedIntersectCount(exprs(0), exprs(1))),
    "graft_suffix_lcp" -> (exprs => SuffixLcp(exprs(0), exprs(1), exprs(2), exprs(3))),
    "graft_simhash60" -> (exprs => Simhash60(exprs(0))),
    // graft_word_ngrams60(text, n[, distinct]) — n/distinct must be literals
    "graft_word_ngrams60" -> (exprs => {
      val n = exprs(1) match {
        case Literal(v: Int, IntegerType) => v
        case other => throw new IllegalArgumentException(
          s"graft_word_ngrams60: n must be an int literal, got $other")
      }
      val distinct = exprs.lift(2).forall {
        case Literal(b: Boolean, BooleanType) => b
        case other => throw new IllegalArgumentException(
          s"graft_word_ngrams60: distinct must be a boolean literal, got $other")
      }
      WordNgramHashes(exprs(0), n, distinct)
    }),
    "graft_token_pairs" -> (exprs => TokenPairs(exprs(0))),
    "graft_word_pairs"  -> (exprs => WordPairs(exprs(0))),
    "graft_adjacent_pairs" -> (exprs => ArrayAdjacentPairs(exprs(0))))

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlFunctions.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
