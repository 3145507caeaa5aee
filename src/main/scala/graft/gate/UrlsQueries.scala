package graft.gate

import org.apache.spark.sql.functions._

/** Gate queries whose result comes from [[graft.operators.Urls]]. */
object UrlsQueries {
  lazy val queries: Seq[GateQuery] = Seq(
    // URL canonicalization + registrable domain — the first dedup key of a
    // web corpus. The corpus has no URL column, so each doc gets a
    // deterministically synthesized MESSY url (mixed-case host, default
    // port, tracking params in leading AND interior positions, trailing
    // slash, fragment) exercising every normalization rule; pure map-side
    // codegen (operators.Urls)
    GateQuery("q89_url_canonicalize", (s, dir) => {
      import graft.operators.Urls
      val url = concat(
        lit("HTTPS://WWW."), upper(substring(col("source"), 1, 1)),
        substring(col("source"), 2, 100), lit(".Example.COM:443/docs/"),
        pmod(col("doc_id"), lit(7L)).cast("string"), lit("/page/"),
        when(pmod(col("doc_id"), lit(2L)) === 0,
          concat(lit("?id="), col("doc_id").cast("string"),
            lit("&utm_source=feed&ref=abc&keep=1")))
          .otherwise(concat(lit("?utm_source=feed&id="), col("doc_id").cast("string"))),
        lit("#frag"))
      t(s, dir, "documents").select(col("doc_id"), url.as("raw_url"))
        .select(col("doc_id"),
          Urls.canonicalizeUrl(col("raw_url")).as("canonical_url"),
          Urls.registrableDomain(col("raw_url")).as("domain"))
        .orderBy(col("doc_id"))
    },
      // adjacent pairs via list_zip against the tail slice (padding row
      // filtered); PMI from exact integer counts, rounded before ranking
      """WITH raw AS (
        |  SELECT doc_id,
        |    'HTTPS://WWW.' || upper(substr(source, 1, 1)) || substr(source, 2)
        |      || '.Example.COM:443/docs/' || CAST(doc_id % 7 AS VARCHAR) || '/page/'
        |      || CASE WHEN doc_id % 2 = 0
        |           THEN '?id=' || CAST(doc_id AS VARCHAR) || '&utm_source=feed&ref=abc&keep=1'
        |           ELSE '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR) END
        |      || '#frag' AS url
        |  FROM documents
        |), parts AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS auth,
        |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS pth,
        |    regexp_extract(url, '\?([^#]*)', 1) AS qry
        |  FROM raw
        |), norm AS (
        |  SELECT doc_id, scheme,
        |    regexp_replace(lower(regexp_replace(auth, ':[0-9]+$', '')), '^www\.', '') AS host,
        |    regexp_extract(auth, ':([0-9]+)$', 1) AS prt,
        |    regexp_replace(pth, '/+$', '') AS cpth,
        |    regexp_replace(
        |      regexp_replace(qry, '&(?:utm_[A-Za-z0-9_]*|gclid|fbclid|ref)=[^&]*', '', 'g'),
        |      '^(?:utm_[A-Za-z0-9_]*|gclid|fbclid|ref)=[^&]*&?', '') AS cqry
        |  FROM parts
        |)
        |SELECT doc_id,
        |  scheme || '://' || host
        |    || CASE WHEN prt <> '' AND NOT (scheme = 'https' AND prt = '443')
        |              AND NOT (scheme = 'http' AND prt = '80')
        |         THEN ':' || prt ELSE '' END
        |    || cpth
        |    || CASE WHEN cqry <> '' THEN '?' || cqry ELSE '' END AS canonical_url,
        |  CASE WHEN host LIKE '%.%'
        |       THEN regexp_extract(host, '([^.]+\.[^.]+)$', 1) ELSE host END AS domain
        |FROM norm ORDER BY doc_id""".stripMargin),
  )
}
