package graft.gate

import org.apache.spark.sql.functions._

/** Gate queries whose result comes from [[graft.operators.Semistructured]]. */
object SemistructuredQueries {
  lazy val queries: Seq[GateQuery] = Seq(
    // typed extraction from the semi-structured props column: ONE from_json
    // parse per row feeds every field + the aggregate (operators
    // .Semistructured) — not a get_json_object per field per row
    GateQuery("q58_json_extract", (s, dir) => {
      import graft.operators.Semistructured
      import org.apache.spark.sql.types.{LongType, StructField}
      Semistructured.extractJson(
        events(s, dir).select(col("event_id"), col("event_type"), col("props")),
        "props", Seq(StructField("k", LongType)))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("k")).as("sum_k"),
          round(sum(col("k")).cast("double") / count(lit(1)), 6).as("avg_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    },
      // sum(BIGINT) is HUGEINT in DuckDB — cast back; avg spelled as an
      // explicit exact-sum / count division so both engines round the same
      // double
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  round(CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS DOUBLE) / count(*), 6) AS avg_k,
        |  min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
        |  max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
  )
}
