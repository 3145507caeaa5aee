package graft.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}
import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

import scala.util.Random

/** The `compute` behind four native kernels against plain-Scala references
  * on generated inputs, with no Spark session: cosine similarity, the
  * thresholded Jaccard and containment merges, and nearest-centroid
  * assignment. Every case runs over both array layouts a kernel meets —
  * `GenericArrayData` (interpreted literals, local relations) and
  * `UnsafeArrayData` (scans, shuffles). 1,000 deterministic seeds per
  * property. */
class KernelComputePropertySpec extends AnyFunSpec with Matchers {

  private val Trials = 1000

  private def unsafe(elementType: DataType) = {
    val proj = UnsafeProjection.create(Array[DataType](ArrayType(elementType, containsNull = true)))
    (a: ArrayData) => proj(InternalRow(a)).getArray(0).copy()
  }
  private val unsafeDoubles = unsafe(DoubleType)
  private val unsafeLongs = unsafe(LongType)

  /** Both layouts of one array; `null` elements stay null. */
  private def layouts(xs: Seq[Any], toUnsafe: ArrayData => ArrayData): Seq[(String, ArrayData)] = {
    val generic = new GenericArrayData(xs.toArray)
    Seq("generic" -> generic, "unsafe" -> toUnsafe(generic))
  }

  private def sameDouble(a: Double, b: Double): Boolean =
    java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b)

  private val special = Array(Double.NaN, 0.0, -0.0, 1.0, -1.0, 0.5, 1e300, -1e-300,
    Double.PositiveInfinity)

  private def element(rnd: Random): Double =
    if (rnd.nextInt(4) == 0) special(rnd.nextInt(special.length)) else rnd.nextGaussian()

  describe("CosineSimilarity.compute") {
    def reference(x: Seq[java.lang.Double], y: Seq[java.lang.Double]): java.lang.Double =
      if (x.contains(null) || y.contains(null)) null
      else {
        val (dot, nx, ny) = x.zip(y).foldLeft((0.0, 0.0, 0.0)) { case ((d, a, b), (xi, yi)) =>
          (d + xi * yi, a + xi * xi, b + yi * yi)
        }
        val denom = math.sqrt(nx) * math.sqrt(ny)
        if (denom == 0.0) 0.0 else dot / denom
      }

    it("equals the reference: nulls give null, NaN and ±0.0 pass through, unequal dims throw") {
      var nullCases = 0; var nanCases = 0; var dimCases = 0
      (1 to Trials).foreach { seed =>
        val rnd = new Random(seed)
        val n = rnd.nextInt(9) // empty arrays included
        val m = if (rnd.nextInt(8) == 0) n + 1 + rnd.nextInt(3) else n
        def vec(len: Int): Seq[java.lang.Double] = Seq.fill(len)(
          if (rnd.nextInt(12) == 0) null else java.lang.Double.valueOf(element(rnd)))
        val (x, y) = (vec(n), vec(m))
        for ((lx, ax) <- layouts(x, unsafeDoubles); (ly, ay) <- layouts(y, unsafeDoubles))
          withClue(s"seed=$seed x=$x ($lx) y=$y ($ly): ") {
            if (n != m) {
              val e = the[IllegalArgumentException] thrownBy CosineSimilarity.compute(ax, ay)
              e.getMessage shouldBe s"graft_cosine: vector dims differ ($n vs $m)"
            } else {
              val (got, want) = (CosineSimilarity.compute(ax, ay), reference(x, y))
              if (want == null) got shouldBe null
              else {
                got should not be null
                assert(sameDouble(got, want), s"got $got, want $want")
              }
            }
          }
        if (n != m) dimCases += 1
        else if (x.contains(null) || y.contains(null)) nullCases += 1
        else if (reference(x, y).isNaN) nanCases += 1
      }
      // the generator reaches every branch of the contract
      all(Seq(nullCases, nanCases, dimCases)) should be > 20
    }
  }

  /** Sorted distinct longs over a small universe (so pairs overlap) plus the
    * extremes (so comparisons are signed). */
  private def sortedSet(rnd: Random): Seq[Long] = {
    val universe = (0L until 30L) ++ Seq(Long.MinValue, -1L, Long.MaxValue)
    val p = rnd.nextDouble()
    universe.filter(_ => rnd.nextDouble() < p).sorted.distinct
  }

  /** A threshold in (0, 1]: uniform, 1.0, tiny, the pair's exact value
    * (reachable by a margin of the rounding half-step), or just above it. */
  private def threshold(rnd: Random, exact: Double): Double = rnd.nextInt(5) match {
    case 0 => 1.0 - rnd.nextDouble()
    case 1 => 1.0
    case 2 => 1e-9
    case 3 if exact > 0 => exact
    case _ => math.min(1.0, exact + 1e-4)
  }

  /** Runs `kernel` on both layouts of `x` and `y` and checks its contract
    * against the exact ratio |x ∩ y| / `den` (1.0 when `den` is 0):
    * the rounded value whenever `t - 5e-5` is reachable, and otherwise
    * either that value or the -1 "provably below" sentinel. */
  private def checkThresholded(name: String, den: (Int, Int, Int) => Int,
      kernel: (ArrayData, ArrayData, Double) => Double): Unit = {
    var exactAtThreshold = 0; var sentinels = 0
    (1 to Trials).foreach { seed =>
      val rnd = new Random(seed)
      val (x, y) = (sortedSet(rnd), sortedSet(rnd))
      val inter = x.intersect(y).size
      val d = den(x.size, y.size, inter)
      val ratio = if (d == 0) 1.0 else inter.toDouble / d
      val rounded = if (d == 0) 1.0 else math.round(ratio * 10000).toDouble / 10000.0
      val t = threshold(rnd, ratio)
      val reachable = d == 0 || ratio >= t - 0.00005
      for ((lx, ax) <- layouts(x, unsafeLongs); (ly, ay) <- layouts(y, unsafeLongs))
        withClue(s"$name seed=$seed x=$x ($lx) y=$y ($ly) t=$t: ") {
          val got = kernel(ax, ay, t)
          if (reachable) got shouldBe rounded
          else assert(got == rounded || got == -1.0, s"got $got, want $rounded or -1")
          if (got == -1.0) sentinels += 1
        }
      if (reachable && t == ratio) exactAtThreshold += 1
    }
    all(Seq(exactAtThreshold, sentinels)) should be > 20
  }

  describe("SortedArrayJaccardGE.compute") {
    it("gives the exact rounded Jaccard when reachable and -1 only when provably not") {
      checkThresholded("jaccard", (na, nb, inter) => na + nb - inter,
        SortedArrayJaccardGE.compute)
    }
  }

  describe("SortedArrayContainGE.compute") {
    it("gives the exact rounded containment when reachable and -1 only when provably not") {
      checkThresholded("containment", (na, _, _) => na,
        SortedArrayContainGE.compute)
    }
  }

  describe("CellAssign.compute") {
    def reference(v: Seq[Double], cents: Array[Array[Double]]): Int =
      cents.indices.foldLeft((0, Double.MaxValue)) { case ((best, bestD), ci) =>
        val d = v.indices.foldLeft(0.0) { (acc, i) => val x = v(i) - cents(ci)(i); acc + x * x }
        if (d < bestD) (ci, d) else (best, bestD)
      }._1

    it("picks the nearest centroid, ties to the lowest index, and throws on a longer vector") {
      val pool = Array(-1.0, -0.0, 0.0, 0.5, 1.0)
      var ties = 0; var longer = 0
      (1 to Trials).foreach { seed =>
        val rnd = new Random(seed)
        val dim = 1 + rnd.nextInt(4)
        // coordinates from a small pool: duplicate and mirrored centroids
        // give exact distance ties
        val distinct = Array.fill(1 + rnd.nextInt(4))(Array.fill(dim)(pool(rnd.nextInt(pool.length))))
        val cents = Array.fill(1 + rnd.nextInt(6))(distinct(rnd.nextInt(distinct.length)))
        val n = rnd.nextInt(8) match {
          case 0 => dim + 1 + rnd.nextInt(2)
          case 1 => rnd.nextInt(dim)
          case _ => dim
        }
        val v = Seq.fill(n)(
          if (rnd.nextInt(10) == 0) Double.NaN
          else if (rnd.nextBoolean()) pool(rnd.nextInt(pool.length)) else rnd.nextGaussian())
        for ((layout, av) <- layouts(v, unsafeDoubles)) withClue(s"seed=$seed v=$v ($layout): ") {
          if (n > dim) a[ArrayIndexOutOfBoundsException] should be thrownBy CellAssign.compute(av, cents)
          else CellAssign.compute(av, cents) shouldBe reference(v, cents)
        }
        if (n > dim) longer += 1
        else {
          val ds = cents.map(c => v.indices.foldLeft(0.0) { (acc, i) => val x = v(i) - c(i); acc + x * x })
          if (ds.count(_ == ds.min) > 1) ties += 1
        }
      }
      all(Seq(ties, longer)) should be > 20
    }
  }
}
