package graft.gate

import org.apache.spark.sql.functions._

/** Gate queries whose result comes from [[graft.operators.Boilerplate]]. */
object BoilerplateQueries {
  lazy val queries: Seq[GateQuery] = Seq(
    // boilerplate-line removal on deterministically synthesized multi-line
    // docs (corpus texts carry no newlines): per-source nav + copyright
    // lines appear in 100% of a source's docs -> stripped; a PROMO line on
    // even doc_ids sits at exactly 50% -> kept (boundary is strict >)
    GateQuery("q85_strip_boilerplate", (s, dir) => {
      import graft.operators.Boilerplate
      val ml = t(s, dir, "documents").withColumn("ml_text",
        concat(lit("NAV BAR\n"), col("text"), lit("\nCOPYRIGHT "), col("source"),
          when(pmod(col("doc_id"), lit(2L)) === 0, lit("\nPROMO")).otherwise(lit(""))))
      Boilerplate.stripBoilerplate(ml.select(col("doc_id"), col("source"), col("ml_text")),
        "doc_id", "source", "ml_text", maxDocFrac = 0.5, minDocs = 5L)
        .select(col("doc_id"), col("source"), md5(col("ml_text")).as("clean_md5"),
          size(split(col("ml_text"), "\n")).cast("long").as("n_lines"))
        .orderBy(col("doc_id"))
    },
      """WITH ml AS (
        |  SELECT doc_id, source,
        |    'NAV BAR' || chr(10) || text || chr(10) || 'COPYRIGHT ' || source
        |      || CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'PROMO' ELSE '' END AS t
        |  FROM documents
        |), lines AS (
        |  SELECT doc_id, source,
        |    generate_subscripts(string_split(t, chr(10)), 1) AS pos,
        |    unnest(string_split(t, chr(10))) AS line
        |  FROM ml
        |), gd AS (
        |  SELECT source, count(DISTINCT doc_id) AS docs FROM ml GROUP BY source
        |), lc AS (
        |  SELECT source, line, count(DISTINCT doc_id) AS in_docs
        |  FROM lines GROUP BY source, line
        |), boiler AS (
        |  SELECT lc.source, lc.line FROM lc JOIN gd ON lc.source = gd.source
        |  WHERE docs >= 5 AND CAST(in_docs AS DOUBLE) > CAST(docs AS DOUBLE) * 0.5
        |), kept AS (
        |  SELECT l.doc_id, l.source, l.pos, l.line
        |  FROM lines l LEFT JOIN boiler b
        |    ON l.source = b.source AND l.line = b.line
        |  WHERE b.line IS NULL
        |), reb AS (
        |  SELECT doc_id, source, string_agg(line, chr(10) ORDER BY pos) AS t
        |  FROM kept GROUP BY doc_id, source
        |)
        |SELECT m.doc_id, m.source, md5(coalesce(r.t, '')) AS clean_md5,
        |  CAST(len(string_split(coalesce(r.t, ''), chr(10))) AS BIGINT) AS n_lines
        |FROM ml m LEFT JOIN reb r ON m.doc_id = r.doc_id AND m.source = r.source
        |ORDER BY m.doc_id""".stripMargin),
  )
}
