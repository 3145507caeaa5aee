package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Duplication gate for the distinct-content collapse (round-12 verdict
  * item 5).
  *
  * The round-11 collapse rewrites (one verify per distinct-content class,
  * expansion joins back to ids) cost ~1.5–2x on a LOW-duplication corpus —
  * extra hash / dropDuplicates / expansion stages that only pay for
  * themselves when duplication exists (sf1's 10x-replicated corpus: 20–40x
  * wins). This gate prices the trade with one cheap aggregate over the
  * already-materialized signature frame and lets each pair operator skip
  * the collapse stages when duplication is negligible.
  *
  * Correctness contract: the DIRECT (row-level) path is bit-identical to
  * the collapsed one ONLY when input ids are unique — under duplicate ids
  * the collapse's class-pair semantics are the pinned ones (one row per
  * qualifying content-class pair) and a row-level dropDuplicates(id_a,id_b)
  * would pick arbitrarily. So id uniqueness is a HARD requirement for
  * taking the direct path (exact countDistinct, not approximate); the
  * duplication ratio merely decides whether the collapse is worth its
  * overhead (HLL estimate at Spark's default rsd ~5% — the 0.15 threshold
  * needs no more precision, and a wrong call costs time, never
  * correctness).
  *
  * `spark.graft.collapse.force` = `always` | `never` overrides the gate —
  * the lever the equivalence specs use to pin both branches on the same
  * data. Any other value throws.
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

  /** True when the collapse stages should run. One aggregate pass over
    * `withCk` (callers pass the frame AFTER Materialize, so this never
    * re-runs upstream work). */
  def collapseWorthIt(withCk: DataFrame, idCol: Column, ckCol: Column,
      minDupFraction: Double = DefaultMinDupFraction): Boolean =
    withCk.sparkSession.conf.getOption("spark.graft.collapse.force") match {
      case Some("always") => true
      case Some("never") => false
      case Some(other) => throw new IllegalArgumentException(
        s"spark.graft.collapse.force=$other; allowed: always, never (unset: the gate decides)")
      case None =>
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
        if (dupFraction >= minDupFraction) true
        else {
          // about to take the direct path: its bit-identity needs EXACT id
          // uniqueness — checked second so the duplicated-corpus case never
          // pays for it
          val ids = withCk.agg(countDistinct(idCol)).head().getLong(0)
          ids != n
        }
    }
}
