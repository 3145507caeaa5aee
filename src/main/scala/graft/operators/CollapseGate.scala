package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.util.DynamicVariable

/** The distinct-content collapse of the pair operators, written once.
  *
  * A pair operator scores two rows on their content alone, so rows that
  * share a content class key are interchangeable: the quadratic pair stage
  * may run over one member per class, after which the class pairs expand
  * back to ids and the pairs inside each class are added ([[expand]]).
  * Each operator writes its pair logic once, as a function of the key
  * column, and [[pairs]] runs it on ids (direct path) or on class keys
  * (collapse path).
  *
  * The collapse costs ~1.5–2x on a LOW-duplication corpus (extra hash /
  * dropDuplicates / expansion stages) and wins 20–40x on a replicated one
  * (sf1's 10x corpus). The duplication gate ([[collapseWorthIt]]) prices
  * the trade with one cheap aggregate over the already-materialized
  * signature frame.
  *
  * Correctness contract: the direct path is bit-identical to the collapsed
  * one ONLY when input ids are unique — under duplicate ids the collapse's
  * class-pair semantics are the pinned ones (one row per qualifying
  * content-class pair, never an `id_a == id_b` row), and a row-level
  * dropDuplicates(id_a, id_b) would pick arbitrarily. So id uniqueness is a
  * HARD requirement for the direct path (exact countDistinct, not
  * approximate); the duplication ratio merely decides whether the collapse
  * is worth its overhead (HLL estimate at Spark's default rsd ~5% — the
  * 0.15 threshold needs no more precision, and a wrong call costs time,
  * never correctness).
  *
  * Test seam: `forced.withValue(Some(true|false)) { ... }` pins the gate's
  * decision for operators built inside the block, so the equivalence specs
  * run both branches on the same input.
  */
private[graft] object CollapseGate {

  /** Measured crossover (round-12 duplication sweep at 5000 rows, COVERAGE
    * table): the direct path still wins at 10% duplicate rows
    * (22.0s vs 26.9s warm) and the collapse wins by 30% (17.2 vs 19.7);
    * the break-even sits near ~20%. 0.15 keeps a margin on the collapse
    * side — the asymmetric risk: taking the direct path at duplication d
    * inflates verify work by only (1/(1-d))², while missing the collapse
    * on a truly replicated corpus (sf1's 90%) costs 20-40x. */
  val DefaultMinDupFraction = 0.15

  private[graft] val forced = new DynamicVariable[Option[Boolean]](None)

  /** True when the collapse stages should run. One aggregate pass over
    * `withCk` (callers pass the frame AFTER Materialize, so this never
    * re-runs upstream work). */
  def collapseWorthIt(withCk: DataFrame, idCol: Column, ckCol: Column,
      minDupFraction: Double = DefaultMinDupFraction): Boolean =
    forced.value.getOrElse {
      // TWO cheap single-distinct jobs, never one multi-distinct: mixing
      // countDistinct with other aggregates plans an Expand that
      // multiplies the signature frame (measured 1.8s vs 0.3s on 5000
      // rows), and rsd 0.01 HLL pays ~8x the default's register cost for
      // precision the 0.15 threshold doesn't need. HLL ignores nulls;
      // null-content rows drop in BOTH paths, so counting them as
      // "duplicated" only errs toward the collapse.
      val r = withCk.agg(
        count(lit(1)).as("n"),
        approx_count_distinct(ckCol).as("classes")).head()
      val n = r.getLong(0)
      val dupFraction = if (n == 0L) 0.0 else 1.0 - r.getLong(1).toDouble / n
      // about to take the direct path: its bit-identity needs EXACT id
      // uniqueness — checked second so the duplicated-corpus case never
      // pays for it
      dupFraction >= minDupFraction ||
        withCk.agg(countDistinct(idCol)).head().getLong(0) != n
    }

  /** (id_a, id_b, `score`) pairs of `rows` (materialized: the gate and
    * every leg read it). `pairsOf(frame, key)` is the operator's pair
    * logic: (id_a, id_b, `score`) over `frame` with id_a < id_b, the ids
    * being `key` values. `twins(classes)` gives the (`ckCol`, `score`)
    * rows of the classes whose members pair with each other. */
  def pairs(rows: DataFrame, idCol: String, ckCol: String, score: String)(
      pairsOf: (DataFrame, String) => DataFrame,
      twins: DataFrame => DataFrame): DataFrame =
    if (!collapseWorthIt(rows, col(idCol), col(ckCol))) pairsOf(rows, idCol)
    else {
      // one arbitrary member per class: all members carry the content the
      // pair logic reads
      val classes = rows.dropDuplicates(ckCol)
      expand(pairsOf(classes, ckCol), rows, idCol, ckCol, score, twins(classes))
    }

  /** Class pairs (id_a, id_b, `score`), their ids being `ckCol` values, to
    * id pairs: every member combination of each class pair (least/greatest
    * restores id_a < id_b), plus every member pair inside each class of
    * `twins` (`ckCol`, `score`). `ids` maps `idCol` to `ckCol`. A
    * duplicate input id carrying two contents never pairs with itself. */
  def expand(classPairs: DataFrame, ids: DataFrame, idCol: String,
      ckCol: String, score: String, twins: DataFrame): DataFrame = {
    def members(ck: String, id: String) =
      ids.select(col(ckCol).as(ck), col(idCol).as(id))
    val cross = classPairs
      .join(members("id_a", "__a"), "id_a")
      .join(members("id_b", "__b"), "id_b")
      .select(least(col("__a"), col("__b")).as("id_a"),
        greatest(col("__a"), col("__b")).as("id_b"), col(score))
      .where(col("id_a") =!= col("id_b"))
    val within = twins.select(col(ckCol), col(score))
      .join(members(ckCol, "id_a"), ckCol)
      .join(members(ckCol, "id_b"), ckCol)
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col(score))
    cross.unionByName(within)
  }
}
