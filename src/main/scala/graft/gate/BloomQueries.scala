package graft.gate

import org.apache.spark.sql.functions._

/** Gate queries whose result comes from [[graft.operators.Bloom]]. */
object BloomQueries {
  lazy val queries: Seq[GateQuery] = Seq(
    // bloom-pruned join: the large side (lineitem) is filtered by a compact
    // Bloom sketch of the selective small side's keys BEFORE its shuffle —
    // false positives are removed by the real join, so the oracle is the
    // plain join (operators.Bloom)
    GateQuery("q47_bloom_join", (s, dir) => {
      import graft.operators.Bloom
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 150000)
        .select(col("o_orderkey"), col("o_orderdate"))
      Bloom.bloomPrunedJoin(
        t(s, dir, "lineitem"), Seq("l_orderkey"),
        urgent, Seq("o_orderkey"), fpp = 0.01)
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(count(lit(1)).as("n_items"),
          // round in the DECIMAL domain, cast to double LAST: rounding the
          // double instead diverges cross-engine at exact .005 ties (Spark
          // rounds the shortest decimal rendering, DuckDB the binary
          // multiply — sf1 surfaced two such groups)
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(28,8)")).cast("decimal(28,2)").cast("double")
            .as("revenue"))
        .orderBy(col("month"))
    },
      """SELECT date_trunc('month', o_orderdate) AS month,
        |  count(*) AS n_items,
        |  CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,8))), 2) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000
        |GROUP BY 1 ORDER BY month""".stripMargin),
  )
}
