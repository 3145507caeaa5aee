package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native Catalyst expression: cosine similarity of two `array<double>`
  * columns in ONE fused pass (dot product + both norms in a single loop),
  * with whole-stage codegen via [[doGenCode]].
  *
  * This is the builder-guidance preference ladder in action: the same
  * computation as `aggregate(zip_with(...))` higher-order functions, but
  * codegen'd instead of interpreted and without three separate array
  * traversals. Exposed as SQL function `graft_cosine` through
  * [[GraftExtensions]] (spark.sql.extensions) or [[functions.ensureRegistered]].
  *
  * Accumulation order is the sequential element order, matching both the
  * HOF formulation and DuckDB's list_dot_product — oracle-comparable.
  */
case class CosineSimilarity(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_cosine expects two array<double> arguments, got $l and $r")
    }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_cosine"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)

  // a null ELEMENT yields a null result (the zip_with twin's semantics)
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarity.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val r = ctx.freshName("r")
      s"""
         |java.lang.Double $r = graft.sql.CosineSimilarity.compute($x, $y);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
       """.stripMargin
    })
}

object CosineSimilarity {
  /** Interpreted + generated code share this loop; null when any element
    * pair holds a null. */
  def compute(x: ArrayData, y: ArrayData): java.lang.Double = {
    val n = x.numElements()
    // loud dim-drift contract (same as the IVF probes): silently truncating
    // to the shorter vector would score a drifted embedding as a perfect
    // neighbour instead of failing the caller's schema bug
    if (n != y.numElements())
      throw new IllegalArgumentException(
        s"graft_cosine: vector dims differ ($n vs ${y.numElements()})")
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0) 0.0 else dot / denom
  }
}

/** Native Catalyst expression: Jaccard similarity of two SORTED
  * `array<bigint>` columns (hashed shingle sets) with threshold-aware early
  * exit, rounded to 4 decimals.
  *
  * Contract: returns the exact rounded Jaccard whenever it can reach
  * `threshold` (relaxed by the rounding half-step 5e-5); pairs that provably
  * cannot reach it return -1 from mid-merge — callers filter on
  * `>= threshold`, so the sentinel is never observable. Reading `ArrayData`
  * in place inside generated code avoids the per-row array copy a Scala UDF
  * pays at the serialization boundary — measured as the dominant cost of the
  * verify stage on a 315k-pair corpus.
  */
case class SortedArrayJaccardGE(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _), DoubleType) =>
        if (third.foldable) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure("graft_jaccard_ge threshold must be a literal")
      case (a, b, t) => TypeCheckResult.TypeCheckFailure(
        s"graft_jaccard_ge expects (array<bigint>, array<bigint>, double), got ($a, $b, $t)")
    }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_jaccard_ge"

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): SortedArrayJaccardGE =
    copy(first = newFirst, second = newSecond, third = newThird)

  override def nullSafeEval(a: Any, b: Any, t: Any): Any =
    SortedArrayJaccardGE.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      t.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y, t) => s"graft.sql.SortedArrayJaccardGE.compute($x, $y, $t)")
}

object SortedArrayJaccardGE {
  /** Interpreted + generated code share this sorted merge. */
  def compute(x: ArrayData, y: ArrayData, threshold: Double): Double = {
    val na = x.numElements(); val nb = y.numElements()
    val tt = threshold - 0.00005
    val need = math.ceil(tt * (na + nb) / (1.0 + tt)).toInt
    val inter = SortedMerge.intersect(x, y, need)
    if (inter < 0) -1.0
    else {
      val union = na + nb - inter
      if (union == 0) 1.0 else math.round(inter.toDouble / union * 10000).toDouble / 10000.0
    }
  }
}

/** The sorted-merge intersection behind [[SortedArrayJaccardGE]] and
  * [[SortedArrayContainGE]]. */
private[sql] object SortedMerge {
  /** |x ∩ y| of two sorted-ascending distinct long arrays, or -1 as soon
    * as the elements left provably cannot bring it to `need`. */
  def intersect(x: ArrayData, y: ArrayData, need: Int): Int = {
    val na = x.numElements(); val nb = y.numElements()
    var i = 0; var j = 0; var inter = 0
    var viable = true
    while (viable && i < na && j < nb) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { inter += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
      viable = inter + math.min(na - i, nb - j) >= need
    }
    if (viable) inter else -1
  }
}

/** Native Catalyst expression: thresholded CONTAINMENT |X∩Y| / |X| of two
  * sorted-ascending distinct long arrays — the directional twin of
  * [[SortedArrayJaccardGE]] for "is X (near-)wholly inside Y" verification
  * (boilerplate-wrapped / quoted-in-full docs). Same single sorted-merge
  * pass, same mid-merge abandonment once the remaining elements provably
  * cannot reach `threshold·|X|`, same -1 sentinel for below-threshold
  * pairs. Replaces an `array_intersect` (per-row hash-set build) verify
  * stage measured at 8.7s over a 315k-candidate corpus.
  */
case class SortedArrayContainGE(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _), DoubleType) =>
        if (third.foldable) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure("graft_contain_ge threshold must be a literal")
      case (a, b, t) => TypeCheckResult.TypeCheckFailure(
        s"graft_contain_ge expects (array<bigint>, array<bigint>, double), got ($a, $b, $t)")
    }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_contain_ge"

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): SortedArrayContainGE =
    copy(first = newFirst, second = newSecond, third = newThird)

  override def nullSafeEval(a: Any, b: Any, t: Any): Any =
    SortedArrayContainGE.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      t.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y, t) => s"graft.sql.SortedArrayContainGE.compute($x, $y, $t)")
}

object SortedArrayContainGE {
  /** Interpreted + generated code share this sorted merge. */
  def compute(x: ArrayData, y: ArrayData, threshold: Double): Double = {
    val na = x.numElements()
    val inter = SortedMerge.intersect(x, y, math.ceil((threshold - 0.00005) * na).toInt)
    if (inter < 0) -1.0
    else if (na == 0) 1.0
    else math.round(inter.toDouble / na * 10000).toDouble / 10000.0
  }
}

/** Native Catalyst expression: content-defined-chunking boundary positions
  * of a string — interior start positions (1-based, codepoint-indexed,
  * ≥ 2) where the `window`-codepoint polynomial rolling hash
  * (h·257 + cp mod 2³¹−1) ≡ 0 (mod `divisor`).
  *
  * Exists because the pure-HOF formulation is quadratic-or-interpreted:
  * per-position `substr(text, p, 1)` re-scans the UTF8 string (position
  * lookup is O(p)), and the linear `aggregate` fold pays interpreted
  * struct/array churn per character (~27s for the sf0.1 corpus). This is
  * one tight JVM loop per row (~100×), inside whole-stage codegen via a
  * static call. Semantics identical to the DuckDB oracle's
  * list_reduce-over-codepoints formulation.
  */
case class CdcBounds(first: Expression, second: Expression, third: Expression,
    fourth: Expression, fifth: Expression)
  extends org.apache.spark.sql.catalyst.expressions.QuinaryExpression {

  import org.apache.spark.sql.types.{IntegerType, StringType}

  override def children: Seq[Expression] = Seq(first, second, third, fourth, fifth)

  override def checkInputDataTypes(): TypeCheckResult =
    children.map(_.dataType) match {
      case Seq(StringType, IntegerType, IntegerType, IntegerType, IntegerType) =>
        if (children.tail.forall(_.foldable)) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          "graft_cdc_bounds window/divisor/minLen/maxLen must be literals")
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_cdc_bounds expects (string, int, int, int, int), got $other")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_cdc_bounds"

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CdcBounds =
    copy(newChildren(0), newChildren(1), newChildren(2), newChildren(3), newChildren(4))

  override def nullSafeEval(s: Any, w: Any, d: Any, mn: Any, mx: Any): Any =
    CdcBounds.compute(s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      w.asInstanceOf[Int], d.asInstanceOf[Int], mn.asInstanceOf[Int], mx.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, w, d, mn, mx) => {
      s"${ev.value} = graft.sql.CdcBounds.compute($s, $w, $d, $mn, $mx);"
    })
}

object CdcBounds {
  /** One pass over the string's codepoints with a ring-buffered window.
    * Called from both interpreted eval and generated code.
    *
    * Clamps (the FastCDC-style production guards; hash is content-only so
    * non-forced boundaries keep their shift-resistance):
    *  - `minLen` (≥1): a hash boundary closer than minLen codepoints to the
    *    previous boundary is skipped — bounds tiny-chunk churn.
    *  - `maxLen` (0 = unlimited): a cut is FORCED every maxLen codepoints
    *    inside any longer gap (including after the last hash hit) — a
    *    pathological low-entropy document (megabytes of one repeated char
    *    hits zero hash boundaries) can no longer become a single giant
    *    chunk and skew every downstream task. */
  def compute(str: org.apache.spark.unsafe.types.UTF8String,
      window: Int, divisor: Int, minLen: Int, maxLen: Int): ArrayData = {
    // validate here (both eval paths funnel through): window/divisor of 0
    // would otherwise surface as per-row '/ by zero' task failures deep in
    // the executor instead of a readable message
    require(window >= 1, s"graft_cdc_bounds: window must be >= 1, got $window")
    require(divisor >= 1, s"graft_cdc_bounds: divisor must be >= 1, got $divisor")
    val s = str.toString
    val M = 2147483647L
    var pow = 1L
    var k = 0
    while (k < window) { pow = pow * 257L % M; k += 1 }
    val buf = scala.collection.mutable.ArrayBuffer[Long]()
    val win = new Array[Long](window)
    var h = 0L
    var pos = 0L
    var last = 1L // previous boundary (position 1 is always one)
    def forceUpTo(p: Long): Unit =
      if (maxLen > 0) while (p - last > maxLen) { last += maxLen; buf += last }
    var i = 0
    var n = 0L
    while (i < s.length) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      pos += 1
      n = pos
      val slot = ((pos - 1) % window).toInt // char leaving = same ring slot
      h = if (pos > window)
        ((h * 257L + cp - win(slot) * pow) % M + M) % M
      else (h * 257L + cp) % M
      win(slot) = cp
      val startP = pos - window + 1
      if (pos >= window && startP >= 2 && h % divisor == 0) {
        forceUpTo(startP) // forced cuts inside the gap come first
        if (startP - last >= math.max(minLen, 1)) { last = startP; buf += startP }
      }
    }
    forceUpTo(n + 1) // bound the tail gap too
    ArrayData.toArrayData(buf.toArray)
  }
}

/** One greedy left-to-right BPE merge pass over a symbol array: every
  * non-overlapping adjacent (l, r) pair becomes the single symbol l+r.
  *
  * Native twin of the `aggregate` HOF fold [[graft.operators.Bpe]] used to
  * build per-iteration: semantically identical (a merged symbol cannot
  * immediately start another merge — its value l+r never equals l), but a
  * single JVM loop per row instead of a lambda-resolved fold, and — the
  * real win for iterative training — a three-node expression tree whose
  * per-iteration Catalyst analysis/optimisation cost is negligible, where
  * the HOF fold re-planned a deep lambda tree on every merge iteration.
  * Exposed as SQL function `graft_bpe_merge`.
  */
case class BpeMergePass(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression {

  import org.apache.spark.sql.types.StringType

  override def checkInputDataTypes(): TypeCheckResult =
    children.map(_.dataType) match {
      case Seq(ArrayType(StringType, _), StringType, StringType) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_bpe_merge expects (array<string>, string, string), got $other")
    }

  // a null symbol passes through (see compute): the result may hold a null
  // exactly when the input array may
  override def dataType: DataType = first.dataType match {
    case ArrayType(_, containsNull) => ArrayType(StringType, containsNull)
    case _ => ArrayType(StringType, containsNull = true)
  }

  override def prettyName: String = "graft_bpe_merge"

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): BpeMergePass =
    copy(newFirst, newSecond, newThird)

  override def nullSafeEval(a: Any, l: Any, r: Any): Any =
    BpeMergePass.compute(a.asInstanceOf[ArrayData],
      l.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      r.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, l, r) => {
      s"${ev.value} = graft.sql.BpeMergePass.compute($a, $l, $r);"
    })
}

object BpeMergePass {
  /** Single left-to-right pass; called from interpreted eval and codegen. */
  def compute(arr: ArrayData,
      l: org.apache.spark.unsafe.types.UTF8String,
      r: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Any](n)
    var outLen = 0
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      // a null symbol (arr.getUTF8String of a null element) never matches;
      // it passes through — the raw equals would NPE and kill the job
      if (s != null && i + 1 < n && s.equals(l) &&
          arr.getUTF8String(i + 1) != null &&
          arr.getUTF8String(i + 1).equals(r)) {
        out(outLen) = org.apache.spark.unsafe.types.UTF8String.concat(l, r)
        i += 2
      } else {
        out(outLen) = s
        i += 1
      }
      outLen += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(out.asInstanceOf[Array[AnyRef]], outLen))
  }
}

/** Native BPE ENCODER: apply a COMPLETE ranked merge table to one word in a
  * single kernel — `graft_bpe_encode(word, array<array<string>>) ->
  * array<string>` where the table is a FOLDABLE list of `[lhs, rhs]` pairs
  * in rank (training) order.
  *
  * The serving-path twin of the per-iteration [[BpeMergePass]]: chaining
  * one `graft_bpe_merge` per learned merge builds an expression tree as
  * deep as the vocabulary — fine for the ~10-merge gate tables, fatal for
  * the production 32k-merge tables the trainer targets (Catalyst
  * analysis/codegen cost grows with tree depth, and codegen splits give
  * up long before 32k nested calls). This expression is CONSTANT depth:
  * the table rides in as one literal, materialised once per executor into
  * a rank map, and each word runs the classic rank-priority loop — find
  * the lowest-ranked adjacent pair, merge all its non-overlapping
  * occurrences left-to-right, repeat. That is provably the same result as
  * folding every merge over the word in rank order (a pass over pair
  * (l, r) can never create a new occurrence of (l, r) or of any
  * earlier-ranked pair: the merged symbol l+r is strictly longer than l
  * and r, and any pair involving l+r was necessarily learned later), at
  * O(len² ) pair scans per word instead of O(merges × len) — the word
  * length, not the vocabulary size, bounds the work. BpeSpec pins kernel
  * ≡ chained fold on randomized words and merge tables. */
case class BpeEncode(word: Expression, table: Expression)
  extends BinaryExpression {

  import org.apache.spark.sql.types.StringType
  import org.apache.spark.unsafe.types.UTF8String

  override def left: Expression = word
  override def right: Expression = table

  override def checkInputDataTypes(): TypeCheckResult =
    (word.dataType, table.dataType) match {
      case (StringType, ArrayType(ArrayType(StringType, _), _)) if table.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (_, t) if !table.foldable => TypeCheckResult.TypeCheckFailure(
        s"graft_bpe_encode needs a literal merge table, got a non-foldable $t")
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_bpe_encode expects (string, array<array<string>>), got $other")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "graft_bpe_encode"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BpeEncode =
    copy(word = newLeft, table = newRight)

  /** lhs + NUL + rhs -> rank; NUL cannot occur inside a symbol learned from
    * the `[a-z]+` word pattern, so the key is collision-free. */
  @transient private lazy val ranks: java.util.HashMap[String, Integer] = {
    val ad = table.eval(null)
    require(ad != null, "graft_bpe_encode: merge table must not be null")
    val arr = ad.asInstanceOf[ArrayData]
    val m = new java.util.HashMap[String, Integer](arr.numElements() * 2)
    var i = 0
    while (i < arr.numElements()) {
      val pair = arr.getArray(i)
      require(pair.numElements() == 2,
        s"graft_bpe_encode: merge $i must be a [lhs, rhs] pair")
      val key = pair.getUTF8String(0).toString + "\u0000" +
        pair.getUTF8String(1).toString
      // a duplicated pair keeps its FIRST (lowest) rank — same pass the
      // chained fold would perform, later copies are no-ops there too
      if (!m.containsKey(key)) m.put(key, Integer.valueOf(i)): Unit
      i += 1
    }
    m
  }

  override def nullSafeEval(w: Any, unused: Any): Any =
    BpeEncode.compute(w.asInstanceOf[UTF8String], ranks)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ranksRef = ctx.addReferenceObj("ranks", ranks, "java.util.HashMap")
    nullSafeCodeGen(ctx, ev, (w, _) =>
      s"${ev.value} = graft.sql.BpeEncode.compute($w, $ranksRef);")
  }
}

object BpeEncode {
  /** Interpreted + generated code share this loop. */
  def compute(word: org.apache.spark.unsafe.types.UTF8String,
      ranks: java.util.HashMap[String, Integer]): ArrayData = {
    val s = word.toString
    // codepoint-wise split, identical to the `substr` char symbolisation
    // (Spark string indexing is codepoint-based)
    var n = 0
    var syms = new Array[String](s.codePointCount(0, s.length))
    var ci = 0
    while (ci < s.length) {
      val cp = s.codePointAt(ci)
      val cc = Character.charCount(cp)
      syms(n) = s.substring(ci, ci + cc)
      n += 1
      ci += cc
    }
    var done = n <= 1 || ranks.isEmpty
    while (!done) {
      // lowest-ranked pair present anywhere in the word
      var bestRank = Int.MaxValue
      var bl: String = null; var br: String = null
      var i = 0
      while (i < n - 1) {
        val r = ranks.get(syms(i) + "\u0000" + syms(i + 1))
        if (r != null && r.intValue() < bestRank) {
          bestRank = r.intValue(); bl = syms(i); br = syms(i + 1)
        }
        i += 1
      }
      if (bl == null) done = true
      else {
        // merge every non-overlapping occurrence, left to right — one
        // full pass, exactly like the per-merge fold's pass
        var out = 0; i = 0
        while (i < n) {
          if (i + 1 < n && syms(i) == bl && syms(i + 1) == br) {
            syms(out) = bl + br; i += 2
          } else {
            syms(out) = syms(i); i += 1
          }
          out += 1
        }
        n = out
        done = n <= 1
      }
    }
    val out = new Array[Any](n)
    var k = 0
    while (k < n) {
      out(k) = org.apache.spark.unsafe.types.UTF8String.fromString(syms(k))
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Winnowing fingerprints (Schleimer, Wilkerson, Aiken 2003 — the MOSS
  * local document fingerprinting scheme): hash every k-codepoint gram with
  * the house rolling hash (base 257 mod 2^31−1, same family as
  * [[CdcBounds]]), slide a w-hash window, and select the RIGHTMOST minimal
  * hash per window. Guarantees every shared substring of length ≥ k+w−1
  * contributes at least one common fingerprint — position-robust partial-
  * overlap detection, where simhash/minhash only see whole-document
  * similarity.
  *
  * Returns array<struct<pos, hash>> of the distinct selections in position
  * order (selection position is non-decreasing as the window slides, so
  * consecutive-dedup IS global dedup). Texts shorter than k yield an empty
  * array; k ≤ length < k+w−1 yields the single whole-range window. One
  * fused JVM loop per row inside whole-stage codegen — the natural
  * formulation (per-position HOF hash + per-window HOF min) re-walks each
  * codepoint k× and each hash w×, interpreted. Exposed as SQL function
  * `graft_winnow`.
  */
case class WinnowFingerprints(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression {

  import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

  override def checkInputDataTypes(): TypeCheckResult =
    children.map(_.dataType) match {
      case Seq(StringType, IntegerType, IntegerType) =>
        if (second.foldable && third.foldable) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure("graft_winnow k/w must be literals")
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_winnow expects (string, int, int), got $other")
    }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("pos", LongType, nullable = false),
    StructField("hash", LongType, nullable = false))), containsNull = false)

  override def prettyName: String = "graft_winnow"

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): WinnowFingerprints =
    copy(newFirst, newSecond, newThird)

  override def nullSafeEval(s: Any, k: Any, w: Any): Any =
    WinnowFingerprints.compute(s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      k.asInstanceOf[Int], w.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, k, w) => {
      s"${ev.value} = graft.sql.WinnowFingerprints.compute($s, $k, $w);"
    })
}

object WinnowFingerprints {
  /** Rolling k-gram hashes + rightmost-min winnowing in one pass over the
    * codepoint stream. Called from interpreted eval and generated code. */
  def compute(str: org.apache.spark.unsafe.types.UTF8String, k: Int, w: Int): ArrayData = {
    require(k >= 1 && w >= 1, "graft_winnow k and w must be >= 1")
    val s = str.toString
    val M = 2147483647L
    val cps = s.codePoints().toArray
    val n = cps.length
    val m = n - k + 1
    if (m < 1) return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](0))
    var pow = 1L
    var t = 0
    while (t < k) { pow = pow * 257L % M; t += 1 }
    val hs = new Array[Long](m)
    var h = 0L
    var i = 0
    while (i < n) {
      val c = cps(i).toLong
      h = if (i >= k) ((h * 257L + c - cps(i - k).toLong * pow) % M + M) % M
      else (h * 257L + c) % M
      if (i >= k - 1) hs(i - k + 1) = h
      i += 1
    }
    val nw = math.max(m - w + 1, 1)
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var lastPos = -1
    var wi = 0
    while (wi < nw) {
      val end = math.min(wi + w, m) // exclusive
      var best = wi
      var j = wi
      while (j < end) { if (hs(j) <= hs(best)) best = j; j += 1 } // rightmost min
      if (best != lastPos) {
        out += org.apache.spark.sql.catalyst.InternalRow((best + 1).toLong, hs(best))
        lastPos = best
      }
      wi += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}

/** 60-bit SimHash over whitespace tokens — the native twin of the HOF
  * formulation in [[graft.operators.Dedup.simHash]], bit-for-bit identical:
  * per token the top 60 bits of md5 (= `conv(substr(md5(t),1,15),16,10)`),
  * each bit voting ±1 into a 60-counter vector, sign bits packed MSB-first
  * (counter 0 highest). One JVM loop per row with a reused MessageDigest;
  * the HOF version walks 60 interpreted lambda frames per token (~2 ms per
  * document — measured 94 s for a 50 k-doc fingerprint pass at sf1, which
  * this expression collapses to seconds). Exposed as SQL function
  * `graft_simhash60`.
  */
case class SimHash60(child: Expression) extends UnaryExpression {

  import org.apache.spark.sql.types.StringType

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_simhash60 expects string, got $other")
    }

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_simhash60"

  override protected def withNewChildInternal(newChild: Expression): SimHash60 =
    copy(newChild)

  override def nullSafeEval(s: Any): Any =
    SimHash60.compute(s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.sql.SimHash60.compute($s)")
}

object SimHash60 {
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Java-regex `\s` (the class `regexp_extract_all(_, '\S+')` splits on):
    * space, tab, newline, vertical tab, form feed, carriage return. */
  @inline private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  /** One pass: tokenize, hash, vote, pack. Called from interpreted eval and
    * generated code. */
  def compute(str: org.apache.spark.unsafe.types.UTF8String): Long = {
    // BYTE-level scan: every \\s delimiter is a single ASCII byte and
    // multi-byte UTF-8 sequences are entirely >= 0x80, so tokenization is
    // identical to the char scan — but tokens become contiguous byte
    // slices fed to md5 via update(bytes, off, len), dropping the former
    // per-token String + substring + getBytes copies (three transient
    // allocations x ~1e7 tokens on the 50k-doc fingerprint pass)
    val bytes = str.getBytes
    val counters = new Array[Int](60)
    val md = md5Local.get()
    var i = 0
    val n = bytes.length
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      val start = i
      while (i < n && !isWs(bytes(i))) i += 1
      if (i > start) {
        md.reset()
        md.update(bytes, start, i - start)
        val d = md.digest()
        // top 15 hex chars = first 8 bytes big-endian, dropped low nibble
        var h = 0L
        var b = 0
        while (b < 8) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
        h = h >>> 4
        var bit = 0
        while (bit < 60) {
          counters(bit) += (if (((h >> bit) & 1L) == 1L) 1 else -1)
          bit += 1
        }
      }
    }
    var acc = 0L
    var bit = 0
    while (bit < 60) { // counter 0 first => most significant, like the fold
      acc = (acc << 1) | (if (counters(bit) >= 0) 1L else 0L)
      bit += 1
    }
    acc
  }
}

/** Session wiring for the native expressions. Enable engine-wide with
  * `spark.sql.extensions=graft.sql.GraftExtensions`, or lazily per session
  * via [[functions.ensureRegistered]]. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    functions.table.foreach(ext.injectFunction)
    functions.strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
    functions.rules.foreach(r => ext.injectOptimizerRule(_ => r))
  }
}

/** Native Catalyst expression: nearest-centroid assignment (squared-L2
  * argmin) of an `array<double>` vector against a FOLDABLE
  * `array<array<double>>` centroid table — the IVF encode/probe hot path
  * (`graft_cell_assign(vec, centroids)`).
  *
  * The table child must be a literal (typedLit of the trained centroids);
  * it is materialised ONCE into a `double[][]` that rides into the
  * generated code as a referenced object, and the vector is read from
  * `ArrayData` IN PLACE — the Scala-UDF formulation pays a full
  * `Array[Double]` copy per row at the serialization boundary, which is
  * pure overhead on a corpus-scale encode. Ties keep the LOWEST centroid
  * index (strict `<`, same contract as the UDF it replaces). A vector
  * longer than the centroid dimension throws; a shorter one compares over
  * its own length — both identical to the UDF's `v.length` loop.
  */
case class CellAssign(vector: Expression, table: Expression)
  extends BinaryExpression {

  override def left: Expression = vector
  override def right: Expression = table

  override def checkInputDataTypes(): TypeCheckResult =
    (vector.dataType, table.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(ArrayType(DoubleType, _), _))
          if table.foldable => TypeCheckResult.TypeCheckSuccess
      case (v, t) if !table.foldable => TypeCheckResult.TypeCheckFailure(
        s"graft_cell_assign needs a literal centroid table, got a non-foldable $t")
      case (v, t) => TypeCheckResult.TypeCheckFailure(
        s"graft_cell_assign expects (array<double>, array<array<double>>), got ($v, $t)")
    }

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType

  override def prettyName: String = "graft_cell_assign"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CellAssign =
    copy(vector = newLeft, table = newRight)

  @transient private lazy val cents: Array[Array[Double]] =
    FoldableTable.materialise(table, "graft_cell_assign")

  override def nullSafeEval(a: Any, unused: Any): Any =
    CellAssign.compute(a.asInstanceOf[ArrayData], cents)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the table child is foldable: pre-materialise it and reference the
    // double[][] directly; the generated code never touches the literal
    val centsRef = ctx.addReferenceObj("cents", cents, "double[][]")
    nullSafeCodeGen(ctx, ev, (v, _) =>
      s"${ev.value} = graft.sql.CellAssign.compute($v, $centsRef);")
  }
}

object CellAssign {
  /** Interpreted + generated code share this loop. */
  def compute(v: ArrayData, cents: Array[Array[Double]]): Int = {
    val n = v.numElements()
    var best = 0
    var bestD = Double.MaxValue
    var ci = 0
    while (ci < cents.length) {
      val cent = cents(ci)
      var d = 0.0
      var i = 0
      while (i < n) { val x = v.getDouble(i) - cent(i); d += x * x; i += 1 }
      if (d < bestD) { bestD = d; best = ci }
      ci += 1
    }
    best
  }
}

/** Native Catalyst expression: nearest-centroid assignment (squared-L2
  * argmin) of the SUBVECTOR `[offset, offset + subDim)` of an
  * `array<double>` against a FOLDABLE per-subspace codebook
  * `array<array<double>>` — the PQ encode hot path
  * (`graft_subvec_assign(vec, codebook, offset, expectDim)`).
  *
  * Replaces the Scala-UDF PQ encoder: the codebook materialises ONCE into
  * a `double[][]` referenced from generated code, and the subvector is
  * read from `ArrayData` IN PLACE — no per-row `Array[Double]` copy at a
  * serialization boundary and no `slice()` intermediate. `subDim` is the
  * codebook's centroid length. The full-vector length must equal
  * `expectDim` or the row FAILS LOUDLY (same dim-drift contract as the
  * UDF it replaces: a silent `copyOfRange` zero-pad would turn schema
  * drift into garbage codes once models persist across jobs). Ties keep
  * the LOWEST centroid index (strict `<`).
  */
case class SubvecAssign(vector: Expression, table: Expression,
    offset: Expression, expectDim: Expression)
  extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {

  import org.apache.spark.sql.types.IntegerType

  override def first: Expression = vector
  override def second: Expression = table
  override def third: Expression = offset
  override def fourth: Expression = expectDim

  override def checkInputDataTypes(): TypeCheckResult =
    (vector.dataType, table.dataType, offset.dataType, expectDim.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(ArrayType(DoubleType, _), _),
          IntegerType, IntegerType) =>
        if (table.foldable && offset.foldable && expectDim.foldable)
          TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          "graft_subvec_assign codebook/offset/expectDim must be literals")
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_subvec_assign expects (array<double>, array<array<double>>, " +
          s"int, int), got $other")
    }

  override def dataType: DataType = IntegerType

  override def prettyName: String = "graft_subvec_assign"

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): SubvecAssign =
    copy(newFirst, newSecond, newThird, newFourth)

  @transient private lazy val cents: Array[Array[Double]] =
    FoldableTable.materialise(table, "graft_subvec_assign")

  override protected def nullSafeEval(a: Any, unused: Any, o: Any, d: Any): Any =
    SubvecAssign.compute(a.asInstanceOf[ArrayData], cents,
      o.asInstanceOf[Int], d.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("cents", cents, "double[][]")
    nullSafeCodeGen(ctx, ev, (v, _, o, d) => {
      s"${ev.value} = graft.sql.SubvecAssign.compute($v, $centsRef, $o, $d);"
    })
  }
}

/** Native Catalyst expression: per-set counts of maximal ASCII word runs
  * of `text` that exactly equal a member of each FOLDABLE word set —
  * `graft_word_sets_count(text, array<array<string>>) -> array<bigint>`.
  *
  * Word runs are maximal spans of `\b`'s word characters — which in Java
  * are UNICODE letters/digits plus `_` even without
  * UNICODE_CHARACTER_CLASS (so "theé" is one run containing no bounded
  * "the", exactly like the regex; see the companion's isWordCp note).
  * For word sets of nonempty pure `[a-z0-9_]` members (the TextFunctions
  * callers validate that and keep the regex path otherwise), this count
  * is PROVABLY the
  * `size(regexp_extract_all(text, '\b(w1|w2|…)\b'))` count: both
  * boundaries demand a non-word char, so a match is precisely a maximal
  * word run equal to a member, matches never overlap, and each run
  * contributes at most one match per set. One fused pass with hash-set
  * lookups replaces one full regex scan PER SET — the q16 language-ID
  * projection paid ~10 such scans per row before round 13. Callers pass
  * text already `lower()`ed wherever the regex twin lowered it. */
case class WordSetsCount(text: Expression, sets: Expression)
  extends BinaryExpression {

  import org.apache.spark.sql.types.StringType
  import org.apache.spark.unsafe.types.UTF8String

  override def left: Expression = text
  override def right: Expression = sets

  override def checkInputDataTypes(): TypeCheckResult =
    (text.dataType, sets.dataType) match {
      case (StringType, ArrayType(ArrayType(StringType, _), _)) if sets.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (_, t) if !sets.foldable => TypeCheckResult.TypeCheckFailure(
        s"graft_word_sets_count needs a literal word-set table, got a non-foldable $t")
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_word_sets_count expects (string, array<array<string>>), got $other")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_word_sets_count"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WordSetsCount =
    copy(text = newLeft, sets = newRight)

  @transient private lazy val wordSets: Array[java.util.HashSet[String]] = {
    val ad = sets.eval(null)
    require(ad != null, "graft_word_sets_count: word-set table must not be null")
    val arr = ad.asInstanceOf[ArrayData]
    Array.tabulate(arr.numElements()) { i =>
      val s = new java.util.HashSet[String]()
      val inner = arr.getArray(i)
      var j = 0
      while (j < inner.numElements()) {
        s.add(inner.getUTF8String(j).toString): Unit
        j += 1
      }
      s
    }
  }

  override def nullSafeEval(t: Any, unused: Any): Any =
    WordSetsCount.compute(t.asInstanceOf[UTF8String], wordSets)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setsRef = ctx.addReferenceObj("wordSets", wordSets,
      "java.util.HashSet[]")
    nullSafeCodeGen(ctx, ev, (t, _) =>
      s"${ev.value} = graft.sql.WordSetsCount.compute($t, $setsRef);")
  }
}

object WordSetsCount {
  import org.apache.spark.unsafe.types.UTF8String

  /** Interpreted + generated code share this loop. It reproduces Java
    * regex `\b`'s word-character semantics WITHOUT UNICODE_CHARACTER_CLASS
    * — measured against the real engine (GopherFilterSpec pins every row
    * below), because the rules are quirkier than any single predicate:
    *  - word chars are `_` plus `Character.isLetterOrDigit` — UNICODE
    *    letters and Nd digits even though `\w` stays ASCII, so "theé" is
    *    ONE word with no bounded "the" (Nl/No number forms are NOT
    *    letters-or-digits and do break words);
    *  - a NONSPACING mark (Mn) is a word char iff OpenJDK's
    *    hasBaseCharacter walk (backward, index-wise `codePointAt` over Mn
    *    chars) finds a letter-or-digit: so "x́the" is one word, while after
    *    an underscore, after a SUPPLEMENTARY letter (the backward walk
    *    lands on its low surrogate — type SURROGATE, so the walk stops),
    *    or bare after a space, the mark BREAKS the word;
    *  - a SUPPLEMENTARY Mn is asymmetric: it absorbs into a preceding
    *    BMP-letter word (left test reads it codepoint-wise) but forces a
    *    boundary after itself (the walk from the next index starts on its
    *    low surrogate) — handled in the loop below.
    * Tracked left-to-right: `baseActive` = the last non-Mn CHAR was a
    * single-char (BMP) letter-or-digit — exactly what the backward walk
    * would find. */
  def compute(t: UTF8String, sets: Array[java.util.HashSet[String]]): ArrayData = {
    val s = t.toString
    val counts = new Array[Long](sets.length)
    val n = s.length
    var i = 0
    var runStart = -1
    var baseActive = false
    def close(end: Int): Unit = if (runStart >= 0) {
      val run = s.substring(runStart, end)
      var k = 0
      while (k < sets.length) {
        if (sets(k).contains(run)) counts(k) += 1
        k += 1
      }
      runStart = -1
    }
    while (i < n) {
      val cp = s.codePointAt(i)
      val cc = Character.charCount(cp)
      val mn = Character.getType(cp) == Character.NON_SPACING_MARK
      if (mn && cc == 2) {
        // SUPPLEMENTARY Mn is ASYMMETRIC (empirically pinned, r14): the
        // boundary test on its LEFT reads it codepoint-wise (Mn, and the
        // base walk from the high surrogate skips it to the base letter),
        // so with an active base it absorbs into the current word — but
        // the walk from any position AFTER it starts on its own low
        // surrogate (type SURROGATE) and stops, forcing a boundary right
        // after the mark. Net: the run it absorbed into closes bounded
        // WITH the mark inside (so it can never equal a pure word —
        // discard), while an inactive base closes the run cleanly before
        // the mark. Either way the mark kills the base for later marks.
        if (baseActive && runStart >= 0) runStart = -1 else close(i)
        baseActive = false
      } else {
        val word =
          if (mn) baseActive && runStart >= 0
          else cp == '_' || Character.isLetterOrDigit(cp)
        if (word) { if (runStart < 0) runStart = i }
        else close(i)
        if (!mn) baseActive = cc == 1 && Character.isLetterOrDigit(cp)
      }
      i += cc
    }
    close(n)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(counts)
  }
}

/** Native Catalyst expression: dense plane-table × vector product in one
  * fused loop — `graft_matvec(vec, array<array<double>>) -> array<double>`
  * where the plane table is FOLDABLE (a literal random-projection /
  * hyperplane matrix, materialised once per executor).
  *
  * Replaces one interpreted `aggregate(zip_with(...))` HOF PER PLANE per
  * row (the q76 shape: 8 planes × 64 dims = 512 deep-tree element
  * evaluations per row). Accumulation is element order (left fold), each
  * term `plane[i] * v[i]` with the float element widened to double —
  * bit-identical to the HOF chain. A null vector ELEMENT nulls the
  * affected components exactly like the fold (null poisons the sum);
  * dimension drift fails loudly instead of projecting garbage. */
case class MatVec(vec: Expression, table: Expression)
  extends BinaryExpression {

  import org.apache.spark.sql.types.FloatType

  override def left: Expression = vec
  override def right: Expression = table

  override def checkInputDataTypes(): TypeCheckResult =
    (vec.dataType, table.dataType) match {
      case (ArrayType(FloatType | DoubleType, _),
            ArrayType(ArrayType(DoubleType, _), _)) if table.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (_, t) if !table.foldable => TypeCheckResult.TypeCheckFailure(
        s"graft_matvec needs a literal plane table, got a non-foldable $t")
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_matvec expects (array<float|double>, array<array<double>>), got $other")
    }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)

  override def prettyName: String = "graft_matvec"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MatVec =
    copy(vec = newLeft, table = newRight)

  @transient private lazy val planes: Array[Array[Double]] =
    FoldableTable.materialise(table, "graft_matvec")

  private lazy val vecIsFloat: Boolean =
    vec.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(v: Any, unused: Any): Any =
    MatVec.compute(v.asInstanceOf[ArrayData], planes, vecIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "double[][]")
    nullSafeCodeGen(ctx, ev, (v, _) =>
      s"${ev.value} = graft.sql.MatVec.compute($v, $planesRef, $vecIsFloat);")
  }
}

object MatVec {
  /** Interpreted + generated code share this loop. */
  def compute(v: ArrayData, planes: Array[Array[Double]],
      vecIsFloat: Boolean): ArrayData = {
    val dim = planes(0).length
    if (v.numElements() != dim)
      throw new IllegalArgumentException(
        s"graft_matvec: vector of dim ${v.numElements()} does not match " +
          s"the plane dim $dim")
    // a null element nulls EVERY component (each plane's fold crosses it)
    var i = 0
    while (i < dim) {
      if (v.isNullAt(i))
        return new org.apache.spark.sql.catalyst.util.GenericArrayData(
          new Array[Any](planes.length))
      i += 1
    }
    val out = new Array[Any](planes.length)
    var p = 0
    while (p < planes.length) {
      val plane = planes(p)
      var acc = 0.0
      i = 0
      while (i < dim) {
        val x = if (vecIsFloat) v.getFloat(i).toDouble else v.getDouble(i)
        acc += plane(i) * x
        i += 1
      }
      out(p) = acc
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Native Catalyst expression: int8 min-max quantization codes + MSE for
  * one vector in ONE fused loop —
  * `graft_int8_quant(vec, mins, maxs) -> struct<codes: array<int>, mse: double>`
  * with per-dimension ranges supplied as (typically 1-row broadcast)
  * array columns.
  *
  * Replaces two `transform` HOFs plus an `aggregate` fold per row — all
  * interpreted per ELEMENT, with the code expression evaluated twice per
  * dimension (once for the code, once inside the reconstruction error).
  * Semantics are BIT-identical to that HOF formulation, quirks included
  * (QuantizationSpec pins them side by side):
  *
  *  - a null element yields code -128 when the dim has range (Spark
  *    `greatest` skips the null floor result, clamping to 0) and POISONS
  *    the MSE to null from that element on;
  *  - a NaN anywhere (element, or a stat — Spark `max` propagates a NaN
  *    in the data into the dim's range) rides Spark's floor(double) ->
  *    BIGINT conversion, which maps NaN to 0: code -128, MSE NaN;
  *  - a range-less or null-ranged dim (max <= min, or either stat null)
  *    contributes code 0 and zero error — but NaN compares GREATEST in
  *    Spark's `>`, so a NaN max still quantizes (degenerately);
  *  - accumulation order is element order (left fold), and the division
  *    by n happens here — rounding stays in the caller.
  *
  * The caller guards empty/null vectors (`when(size(vec) > 0, ...)`), so
  * null-in => null-out is correct for this expression itself. */
case class Int8Quant(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression {

  import org.apache.spark.sql.types.{FloatType, IntegerType, StructField, StructType}

  private def elemOk(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (v, ArrayType(DoubleType, _), ArrayType(DoubleType, _)) if elemOk(v) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        "graft_int8_quant expects (array<float|double>, array<double>, " +
          s"array<double>), got $other")
    }

  override def dataType: DataType = StructType(Seq(
    StructField("codes", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("mse", DoubleType, nullable = true)))

  override def prettyName: String = "graft_int8_quant"

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Int8Quant =
    copy(newFirst, newSecond, newThird)

  private lazy val vecIsFloat: Boolean =
    first.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(v: Any, mn: Any, mx: Any): Any =
    Int8Quant.compute(v.asInstanceOf[ArrayData], mn.asInstanceOf[ArrayData],
      mx.asInstanceOf[ArrayData], vecIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, mn, mx) =>
      s"${ev.value} = graft.sql.Int8Quant.compute($v, $mn, $mx, $vecIsFloat);")
}

object Int8Quant {
  /** Interpreted + generated code share this loop. */
  def compute(vec: ArrayData, mins: ArrayData, maxs: ArrayData,
      vecIsFloat: Boolean): org.apache.spark.sql.catalyst.InternalRow = {
    val n = vec.numElements()
    val codes = new Array[Int](n)
    var acc = 0.0
    var poisoned = false
    var i = 0
    while (i < n) {
      val statNull = mins.isNullAt(i) || maxs.isNullAt(i)
      val mn = if (statNull) 0.0 else mins.getDouble(i)
      val mx = if (statNull) 0.0 else maxs.getDouble(i)
      // Spark's `>` orders NaN GREATEST: NaN > x is true for any non-NaN
      // x (so a NaN in the stats still takes the quantizing branch, where
      // the NaN arithmetic then degrades the dim exactly like the HOF)
      val cond = !statNull &&
        (if (mx.isNaN) !mn.isNaN else if (mn.isNaN) false else mx > mn)
      if (!cond) {
        codes(i) = 0 // rangeless dim: code 0, zero error
      } else if (vec.isNullAt(i)) {
        // greatest(null-floor, 0) = 0 -> least = 0 -> code -128; the null
        // diff poisons the running MSE to null permanently
        codes(i) = -128
        poisoned = true
      } else {
        val v = if (vecIsFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
        // Spark floor(double) returns BIGINT: Math.floor then toLong, so
        // NaN lands on 0 (code -128) and infinities saturate — replicated
        // exactly, NOT IEEE double floor
        val fl = Math.floor((v - mn) / (mx - mn) * 255.0).toLong
        val le = Math.min(Math.max(fl.toDouble, 0.0), 255.0)
        val code = le.toInt - 128
        codes(i) = code
        if (!poisoned) {
          val recon = mn + (code.toDouble + 128.5) * (mx - mn) / 255.0
          val d = v - recon
          acc += d * d
        }
      }
      i += 1
    }
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
    row.update(0, new org.apache.spark.sql.catalyst.util.GenericArrayData(
      codes.map(c => c: Any)))
    if (poisoned) row.setNullAt(1) else row.update(1, acc / n)
    row
  }
}

/** Native Catalyst expression: every raw count behind the Gopher document
  * signals in ONE fused pass —
  * `graft_gopher_counts(text) -> array<bigint>` of
  * `[n_tokens, non_ws_chars, symbol_matches, n_lines, bullet_lines,
  *   ellipsis_lines, alpha_tokens]`.
  *
  * Replaces six separate `regexp_extract_all`/`regexp_replace` scans per
  * row (and their re-computation inside `gopherPass` — round-13
  * measurement: 6.7s of q50's sf1 time was regex scans). Each count
  * reproduces its live Java-regex twin EXACTLY (GopherFilterSpec pins all
  * of them empirically, adversarial shapes included):
  *
  *  - `n_tokens` = count of `\S+` matches: maximal runs of
  *    non-`[ \t\n\x0B\f\r]` (Java default `\s` is ASCII);
  *  - `non_ws_chars` = `length(regexp_replace(text, '\s+', ''))`:
  *    codepoints outside that same ASCII whitespace set (Spark `length`
  *    counts codepoints);
  *  - `symbol_matches` = count of `#|\.\.\.|…` under leftmost scan with
  *    ordered alternation ("...." counts once);
  *  - `n_lines` = `size(split(text, '\n'))` = `\n` count + 1 — the literal
  *    split, NOT Java line terminators;
  *  - `bullet_lines` = count of `(?m)^[ \t]*[-*•]` and `ellipsis_lines` =
  *    count of `(?m)(\.\.\.|…)$`, where `^`/`$` follow Java MULTILINE
  *    semantics: terminators are \n, \r\n (one unit — no match between
  *    the two), lone \r, U+0085 NEL, U+2028 LS, U+2029 PS, plus start/end of input.
  *    Each segment matches at most once by construction (the match is
  *    anchored);
  *  - `alpha_tokens` = count of `\S*\p{L}\S*` matches: a match consumes a
  *    maximal non-ws run from its start (greedy `\S*` + backtrack finds
  *    any letter inside the run), so the count is exactly the number of
  *    runs containing at least one Unicode letter.
  */
case class GopherCounts(child: Expression) extends UnaryExpression {

  import org.apache.spark.sql.types.StringType

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_gopher_counts expects a string argument, got $t")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_gopher_counts"

  override protected def withNewChildInternal(newChild: Expression): GopherCounts =
    copy(child = newChild)

  override def nullSafeEval(t: Any): Any =
    GopherCounts.compute(t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.sql.GopherCounts.compute($t);")
}

object GopherCounts {
  /** Interpreted + generated code share these loops: three tight scans
    * (token/alpha/non-ws state machine; symbol alternation; line-segment
    * anchors), no regex machinery. */
  def compute(t: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val s = t.toString
    val len = s.length
    @inline def isWs(cp: Int): Boolean =
      cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B || cp == '\f' || cp == '\r'
    // pass 1 (codepoint-wise): token runs, letters in runs, non-ws chars
    var nTok = 0L; var nonWs = 0L; var alphaTok = 0L
    var inRun = false; var runHasLetter = false
    var i = 0
    while (i < len) {
      val cp = s.codePointAt(i)
      if (isWs(cp)) {
        if (inRun) {
          nTok += 1; if (runHasLetter) alphaTok += 1
          inRun = false; runHasLetter = false
        }
      } else {
        nonWs += 1
        inRun = true
        if (!runHasLetter && Character.isLetter(cp)) runHasLetter = true
      }
      i += Character.charCount(cp)
    }
    if (inRun) { nTok += 1; if (runHasLetter) alphaTok += 1 }
    // pass 2 (char-wise): symbol alternation + literal '\n' line count
    var sym = 0L; var nLines = 1L
    i = 0
    while (i < len) {
      val c = s.charAt(i)
      if (c == '\n') { nLines += 1; i += 1 }
      else if (c == '#') { sym += 1; i += 1 }
      else if (c == '.' && i + 2 < len && s.charAt(i + 1) == '.' &&
               s.charAt(i + 2) == '.') { sym += 1; i += 3 }
      else if (c == '…') { sym += 1; i += 1 }
      else i += 1
    }
    // pass 3: Java-MULTILINE segments for the anchored bullet/ellipsis hits
    @inline def isTerm(c: Char): Boolean =
      c == '\n' || c == '\r' || c == '\u0085' || c == '\u2028' || c == '\u2029'
    var bullets = 0L; var ell = 0L
    var segStart = 0
    i = 0
    while (i <= len) {
      if (i == len || isTerm(s.charAt(i))) {
        var j = segStart
        while (j < i && (s.charAt(j) == ' ' || s.charAt(j) == '\t')) j += 1
        if (j < i && (s.charAt(j) == '-' || s.charAt(j) == '*' ||
            s.charAt(j) == '•')) bullets += 1
        if (i - segStart >= 3 && s.charAt(i - 1) == '.' &&
            s.charAt(i - 2) == '.' && s.charAt(i - 3) == '.') ell += 1
        else if (i - segStart >= 1 && s.charAt(i - 1) == '…') ell += 1
        if (i < len && s.charAt(i) == '\r' && i + 1 < len &&
            s.charAt(i + 1) == '\n') i += 1 // \r\n is ONE terminator
        i += 1
        segStart = i
      } else i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array[Any](nTok, nonWs, sym, nLines, bullets, ell, alphaTok))
  }
}

/** Shared materialisation of a FOLDABLE `array<array<double>>` child into
  * a `double[][]` — one definition behind CellAssign / SubvecAssign /
  * CentroidSub (the three copies had to be kept in sync by hand). */
private[sql] object FoldableTable {
  def materialise(table: Expression, fn: String): Array[Array[Double]] = {
    val ad = table.eval(null)
    require(ad != null, s"$fn: centroid table must not be null")
    val arr = ad.asInstanceOf[ArrayData]
    require(arr.numElements() > 0, s"$fn: centroid table is empty")
    Array.tabulate(arr.numElements())(i => arr.getArray(i).toDoubleArray)
  }
}

object SubvecAssign {
  def compute(v: ArrayData, cents: Array[Array[Double]],
      off: Int, dim: Int): Int = {
    if (v.numElements() != dim) throw new IllegalArgumentException(
      s"graft_subvec_assign: vector of dim ${v.numElements()} does not " +
        s"match expected dim $dim — re-encode or rebuild the model")
    // bounds-check the subspace window: UnsafeArrayData reads past the end
    // are raw memory access — garbage codes, no exception — so a bad
    // offset must fail HERE, loudly
    if (off < 0 || off + cents(0).length > dim)
      throw new IllegalArgumentException(
        s"graft_subvec_assign: subspace [$off, ${off + cents(0).length}) " +
          s"outside vector dim $dim")
    var best = 0
    var bestD = Double.MaxValue
    var ci = 0
    while (ci < cents.length) {
      val cent = cents(ci)
      var d = 0.0
      var i = 0
      while (i < cent.length) {
        val x = v.getDouble(off + i) - cent(i)
        d += x * x
        i += 1
      }
      if (d < bestD) { bestD = d; best = ci }
      ci += 1
    }
    best
  }
}

/** Native Catalyst expression: residual subtraction `vec - table[cell]`
  * against a FOLDABLE centroid table
  * (`graft_centroid_sub(vec, centroids, cell)`) — the second half of the
  * IVF residual-encode hot path, pairing with [[CellAssign]]: assign the
  * cell in one codegen'd projection, subtract its centroid in the next,
  * both reading `ArrayData` in place with the centroid table materialised
  * ONCE as a `double[][]`. The former Scala-UDF formulation recomputed the
  * argmin AND paid a per-row `Array[Double]` copy at the serialization
  * boundary for every corpus vector on every (re-)ingest.
  *
  * FAILS LOUDLY when the vector length differs from the trained centroid
  * dimension (the dim-drift contract of the ingest UDF it replaces) or
  * when `cell` is outside the table.
  */
case class CentroidSub(vector: Expression, table: Expression, cell: Expression)
  extends TernaryExpression {

  import org.apache.spark.sql.types.IntegerType

  override def first: Expression = vector
  override def second: Expression = table
  override def third: Expression = cell

  override def checkInputDataTypes(): TypeCheckResult =
    (vector.dataType, table.dataType, cell.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(ArrayType(DoubleType, _), _),
          IntegerType | LongType) =>
        if (table.foldable) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          "graft_centroid_sub needs a literal centroid table")
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_centroid_sub expects (array<double>, array<array<double>>, " +
          s"int|bigint), got $other")
    }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def prettyName: String = "graft_centroid_sub"

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): CentroidSub =
    copy(newFirst, newSecond, newThird)

  @transient private lazy val cents: Array[Array[Double]] =
    FoldableTable.materialise(table, "graft_centroid_sub")

  private def cellToLong(c: Any): Long = c match {
    case i: java.lang.Integer => i.longValue()
    case l: java.lang.Long => l.longValue()
  }

  override protected def nullSafeEval(a: Any, unused: Any, c: Any): Any =
    CentroidSub.compute(a.asInstanceOf[ArrayData], cents, cellToLong(c))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("cents", cents, "double[][]")
    nullSafeCodeGen(ctx, ev, (v, _, c) => {
      s"${ev.value} = graft.sql.CentroidSub.compute($v, $centsRef, (long) $c);"
    })
  }
}

object CentroidSub {
  /** Interpreted + generated code share this JVM loop. The cell arrives as
    * a LONG and is range-checked before narrowing — truncating first (the
    * old `(int) cell`) let an out-of-range bigint wrap INTO range and
    * subtract the wrong centroid silently. */
  def compute(v: ArrayData, cents: Array[Array[Double]], cell: Long): ArrayData = {
    if (cell < 0 || cell >= cents.length) throw new IllegalArgumentException(
      s"graft_centroid_sub: cell $cell outside centroid table of ${cents.length}")
    val cent = cents(cell.toInt)
    val n = v.numElements()
    if (n != cent.length) throw new IllegalArgumentException(
      s"graft_centroid_sub: vector of dim $n does not match centroid dim " +
        s"${cent.length} — re-encode or rebuild the index")
    val res = new Array[Double](n)
    var i = 0
    while (i < n) { res(i) = v.getDouble(i) - cent(i); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(res)
  }
}

/** Native Catalyst expression: the count-min bucket row of an item for
  * EVERY depth in one pass —
  * `graft_cm_buckets(item_str, depth, width) -> array<long>`.
  *
  * Value-identical to the md5-affine chain it replaces
  * ([[graft.operators.Sketches]] keeps that chain as the spec twin):
  * per depth `d`, bucket = first 32 bits of `md5("cm_<d>_" + item)` taken
  * as an unsigned value, mod `width`. The SQL formulation
  * (`conv(substring(md5(concat(...)),1,8),16,10) % width`) hex-encodes the
  * full 16-byte digest into a 32-char string, substrings it, and re-parses
  * the prefix through `conv` — three string allocations and a base-16
  * parse per (row, depth), all to recover 4 bytes the digest already held.
  * Measured on the q131 lineitem sketch leg this was 2.3 s of pure
  * map-side expression time for 600k rows x depth 4 (~13 µs per hash);
  * the fused kernel reuses one MessageDigest and one prefix byte array per
  * depth and reads the bucket straight from the digest bytes.
  *
  * Null handling: the caller guards null items (the chain maps a null item
  * to an array of null buckets, not a null array — see
  * [[graft.operators.Sketches.buckets]]); this expression itself is
  * null-intolerant like any TernaryExpression. */
case class CmBuckets(item: Expression, depthE: Expression, widthE: Expression)
  extends TernaryExpression {

  import org.apache.spark.sql.types.{IntegerType, StringType}
  import org.apache.spark.unsafe.types.UTF8String

  override def first: Expression = item
  override def second: Expression = depthE
  override def third: Expression = widthE

  override def checkInputDataTypes(): TypeCheckResult =
    (item.dataType, depthE.dataType, widthE.dataType) match {
      case (StringType, IntegerType, IntegerType)
          if depthE.foldable && widthE.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_cm_buckets expects (string, int literal, int literal), got $other")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_cm_buckets"

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): CmBuckets =
    copy(newFirst, newSecond, newThird)

  @transient private lazy val width: Int = {
    val w = widthE.eval(null).asInstanceOf[Int]
    require(w >= 1, s"graft_cm_buckets: width must be >= 1, got $w")
    w
  }

  /** The per-depth row tags, built once: "cm_<d>_" as raw bytes. */
  @transient private lazy val prefixes: Array[Array[Byte]] = {
    val d = depthE.eval(null).asInstanceOf[Int]
    require(d >= 1, s"graft_cm_buckets: depth must be >= 1, got $d")
    Array.tabulate(d)(i =>
      s"cm_${i}_".getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  override def nullSafeEval(s: Any, unused1: Any, unused2: Any): Any =
    CmBuckets.compute(s.asInstanceOf[UTF8String], prefixes, width)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val prefRef = ctx.addReferenceObj("prefixes", prefixes, "byte[][]")
    nullSafeCodeGen(ctx, ev, (s, _, _) =>
      s"${ev.value} = graft.sql.CmBuckets.compute($s, $prefRef, $width);")
  }
}

object CmBuckets {
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Interpreted + generated code share this loop. */
  def compute(item: org.apache.spark.unsafe.types.UTF8String,
      prefixes: Array[Array[Byte]], width: Int): ArrayData = {
    val itemBytes = item.getBytes
    val out = new Array[Long](prefixes.length)
    val md = md5Local.get()
    var d = 0
    while (d < prefixes.length) {
      md.reset()
      md.update(prefixes(d))
      md.update(itemBytes)
      val h = md.digest()
      // first 8 hex chars of the digest = first 4 bytes as an unsigned int
      val v = ((h(0) & 0xFFL) << 24) | ((h(1) & 0xFFL) << 16) |
        ((h(2) & 0xFFL) << 8) | (h(3) & 0xFFL)
      out(d) = v % width
      d += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Native Catalyst expression: the first `nHex` hex chars of md5 as a long —
  * `graft_md5_prefix64(str_or_bin, nHex) -> bigint`, the house cross-engine
  * hash primitive (`('0x' || substr(md5(x),1,n))::BIGINT` in DuckDB).
  *
  * Value-identical to `conv(substring(md5(x), 1, nHex), 16, 10)
  * .cast("long")`, which allocates the 32-char hex string, substrings it
  * and re-parses base 16 per row; this reads the value straight off the
  * digest bytes. `nHex` is capped at 15 (60 bits) so the value always fits
  * a non-negative long, exactly like every call site of the SQL chain. */
case class Md5Prefix64(str: Expression, nHexE: Expression)
  extends BinaryExpression {

  import org.apache.spark.sql.types.{BinaryType, IntegerType, StringType}
  import org.apache.spark.unsafe.types.UTF8String

  override def left: Expression = str
  override def right: Expression = nHexE

  override def checkInputDataTypes(): TypeCheckResult =
    (str.dataType, nHexE.dataType) match {
      case (StringType | BinaryType, IntegerType) if nHexE.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_md5_prefix64 expects (string|binary, int literal), got $other")
    }

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_md5_prefix64"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Md5Prefix64 =
    copy(newLeft, newRight)

  @transient private lazy val nHex: Int = {
    val n = nHexE.eval(null).asInstanceOf[Int]
    require(n >= 1 && n <= 15,
      s"graft_md5_prefix64: nHex must be in [1, 15], got $n")
    n
  }

  private lazy val strIsBinary: Boolean = str.dataType ==
    org.apache.spark.sql.types.BinaryType

  override def nullSafeEval(s: Any, unused: Any): Any = {
    val bytes =
      if (strIsBinary) s.asInstanceOf[Array[Byte]]
      else s.asInstanceOf[UTF8String].getBytes
    Md5Prefix64.compute(bytes, nHex)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, _) => {
      val bytes = if (strIsBinary) s else s"$s.getBytes()"
      s"${ev.value} = graft.sql.Md5Prefix64.compute($bytes, $nHex);"
    })
}

object Md5Prefix64 {
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Interpreted + generated code share this loop: the first `nHex`
    * nibbles of the digest, assembled high-to-low like a base-16 parse. */
  def compute(bytes: Array[Byte], nHex: Int): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(bytes)
    var v = 0L
    var i = 0
    while (i < nHex) {
      val nib =
        if ((i & 1) == 0) (d(i >> 1) >> 4) & 0xF
        else d(i >> 1) & 0xF
      v = (v << 4) | nib
      i += 1
    }
    v
  }
}

object functions {

  /** The one table of native SQL functions: each `graft_*` name, its arity
    * and its expression's constructor. [[GraftExtensions]] injects it and
    * [[ensureRegistered]] registers it. */
  private[graft] val table: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    fn("graft_cosine", 2)(c => CosineSimilarity(c(0), c(1))),
    fn("graft_jaccard_ge", 3)(c => SortedArrayJaccardGE(c(0), c(1), c(2))),
    fn("graft_cdc_bounds", 5)(c => CdcBounds(c(0), c(1), c(2), c(3), c(4))),
    fn("graft_bpe_merge", 3)(c => BpeMergePass(c(0), c(1), c(2))),
    fn("graft_bpe_encode", 2)(c => BpeEncode(c(0), c(1))),
    fn("graft_gopher_counts", 1)(c => GopherCounts(c(0))),
    fn("graft_int8_quant", 3)(c => Int8Quant(c(0), c(1), c(2))),
    fn("graft_matvec", 2)(c => MatVec(c(0), c(1))),
    fn("graft_cm_buckets", 3)(c => CmBuckets(c(0), c(1), c(2))),
    fn("graft_md5_prefix64", 2)(c => Md5Prefix64(c(0), c(1))),
    fn("graft_winnow", 3)(c => WinnowFingerprints(c(0), c(1), c(2))),
    fn("graft_simhash60", 1)(c => SimHash60(c(0))),
    fn("graft_topk", 3)(c => TopKPairs(c(0), c(1), c(2))),
    fn("graft_kmv", 2)(c => KmvSketch(c(0), c(1))),
    fn("graft_contain_ge", 3)(c => SortedArrayContainGE(c(0), c(1), c(2))),
    fn("graft_cell_assign", 2)(c => CellAssign(c(0), c(1))),
    fn("graft_subvec_assign", 4)(c => SubvecAssign(c(0), c(1), c(2), c(3))),
    fn("graft_centroid_sub", 3)(c => CentroidSub(c(0), c(1), c(2))),
    fn("graft_gramian", 1)(c => GramianMoments(c(0))),
    fn("graft_word_sets_count", 2)(c => WordSetsCount(c(0), c(1))))

  /** One table row; the builder rejects any other argument count. */
  private def fn[E <: Expression](name: String, arity: Int)(make: Seq[Expression] => E)(
      implicit cls: scala.reflect.ClassTag[E]): (FunctionIdentifier, ExpressionInfo, FunctionBuilder) = (
    new FunctionIdentifier(name),
    new ExpressionInfo(cls.runtimeClass.getName, name),
    (children: Seq[Expression]) => {
      require(children.size == arity,
        s"$name expects exactly $arity argument${if (arity == 1) "" else "s"}")
      make(children)
    })

  /** The planner strategies and optimizer rules of the native joins. */
  private[graft] val strategies: Seq[SparkStrategy] =
    Seq(graft.plans.AsOfJoinStrategy, graft.plans.IntervalJoinStrategy)
  private[graft] val rules: Seq[Rule[LogicalPlan]] =
    Seq(graft.plans.NativeJoinPushdown, graft.plans.NativeJoinColumnPruning)

  /** Idempotently install the whole native set in an existing session:
    * the function table, both join strategies and both join rules — the
    * set `spark.sql.extensions=graft.sql.GraftExtensions` installs. The
    * read-modify-write of the session's strategy and rule lists runs under
    * the session's lock, so concurrent callers on one session never drop
    * each other's additions. */
  def ensureRegistered(spark: SparkSession): Unit = {
    val experimental = spark.experimental
    experimental.synchronized {
      val registry = spark.sessionState.functionRegistry
      table.foreach { case (id, info, builder) =>
        if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
      }
      val newStrategies = strategies.filterNot(experimental.extraStrategies.contains)
      if (newStrategies.nonEmpty)
        experimental.extraStrategies = experimental.extraStrategies ++ newStrategies
      val newRules = rules.filterNot(experimental.extraOptimizations.contains)
      if (newRules.nonEmpty)
        experimental.extraOptimizations = experimental.extraOptimizations ++ newRules
    }
  }

  /** The house 60-bit-or-less md5-prefix hash as a Column builder:
    * value-identical to `conv(substring(md5(x), 1, nHex), 16, 10)
    * .cast("long")` (the cross-engine-replayable formulation — `('0x' ||
    * substr(md5(x),1,n))::BIGINT` in DuckDB), but computed straight off the
    * digest bytes by [[Md5Prefix64]] instead of hex-encoding all 16 bytes,
    * substringing and base-16-parsing per row. Falls back to the expression
    * chain when no session is active to register the native function with
    * (the chain is also the spec-equivalence twin — SketchKernelSpec). */
  def md5Prefix64(c: org.apache.spark.sql.Column, nHex: Int)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    require(nHex >= 1 && nHex <= 15, s"nHex must be in [1, 15], got $nHex")
    SparkSession.getActiveSession match {
      case Some(s) =>
        ensureRegistered(s)
        call_function("graft_md5_prefix64", c, lit(nHex))
      case None =>
        conv(substring(md5(c), 1, nHex), 16, 10).cast("long")
    }
  }
}
