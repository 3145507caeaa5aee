package graft.gate

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Gate queries whose result comes from [[graft.functions.TextFunctions]]. */
object TextFunctionsQueries {
  lazy val queries: Seq[GateQuery] = Seq(
    GateQuery("q14_text_fingerprint", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin),

    GateQuery("q15_text_stats", (s, dir) => {
      val txt = col("text")
      t(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.tokenCount(txt).as("n_tokens"),
        TextFunctions.charCount(txt).as("n_chars_m"),
        TextFunctions.meanTokenLength(txt).as("mean_tok_len"),
        TextFunctions.punctRatio(txt).as("punct_ratio"),
        TextFunctions.stopwordRatio(txt).as("stop_ratio"),
        TextFunctions.qualityScore(txt).as("quality"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id,
        | len(regexp_extract_all(text, '\S+')) AS n_tokens,
        | length(text) AS n_chars_m,
        | round(CAST(list_sum(list_transform(regexp_extract_all(text, '\S+'), t -> length(t))) AS DOUBLE)
        |   / greatest(len(regexp_extract_all(text, '\S+')), 1), 4) AS mean_tok_len,
        | round(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
        |   / greatest(length(text), 1), 6) AS punct_ratio,
        | round(CAST(len(regexp_extract_all(lower(text), '\b(the|a|an|and|of|to|in|is|it|that)\b')) AS DOUBLE)
        |   / greatest(len(regexp_extract_all(text, '\S+')), 1), 6) AS stop_ratio,
        | round((least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
        |   + greatest(1.0 - round(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) / greatest(length(text), 1), 6) * 5.0, 0.0)
        |   + least(round(CAST(len(regexp_extract_all(lower(text), '\b(the|a|an|and|of|to|in|is|it|that)\b')) AS DOUBLE) / greatest(len(regexp_extract_all(text, '\S+')), 1), 6) * 4.0, 1.0)
        |  ) / 3.0, 6) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin),

    // all four marker counts come from ONE fused text pass (langCounts —
    // round 13: this projection used to pay ~10 full regex scans per row);
    // langScore/languageId share the identical counts subtree, which
    // subexpression elimination evaluates once per row
    GateQuery("q16_language_id", (s, dir) => {
      val txt = col("text")
      t(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.langScore(txt, "en").as("en_n"),
        TextFunctions.langScore(txt, "de").as("de_n"),
        TextFunctions.langScore(txt, "fr").as("fr_n"),
        TextFunctions.langScore(txt, "es").as("es_n"),
        TextFunctions.cjkCount(txt).as("zh_n"),
        TextFunctions.languageId(txt).as("lang_pred"))
        .orderBy(col("doc_id"))
    },
      """WITH sc AS (
        | SELECT doc_id,
        |  len(regexp_extract_all(lower(text), '\b(the|and|of|is|a)\b')) AS en_n,
        |  len(regexp_extract_all(lower(text), '\b(der|die|das|und|nicht)\b')) AS de_n,
        |  len(regexp_extract_all(lower(text), '\b(le|la|les|et|est)\b')) AS fr_n,
        |  len(regexp_extract_all(lower(text), '\b(el|los|las|y|es)\b')) AS es_n,
        |  len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS zh_n
        | FROM documents
        |)
        |SELECT doc_id, en_n, de_n, fr_n, es_n, zh_n,
        | CASE WHEN zh_n > 0 THEN 'zh'
        |      WHEN en_n >= de_n AND en_n >= fr_n AND en_n >= es_n THEN 'en'
        |      WHEN de_n >= fr_n AND de_n >= es_n THEN 'de'
        |      WHEN fr_n >= es_n THEN 'fr'
        |      ELSE 'es' END AS lang_pred
        |FROM sc ORDER BY doc_id""".stripMargin),

    // Gopher-style repetition signals (token-level variant): distinct-token
    // ratio, top-token fraction, top-bigram fraction
    GateQuery("q44_repetition", (s, dir) => {
      val txt = col("text")
      t(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.distinctTokenRatio(txt).as("distinct_ratio"),
        TextFunctions.topTokenFrac(txt).as("top_token_frac"),
        TextFunctions.topBigramFrac(txt).as("top_bigram_frac"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id,
        |  round(CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1), 4) AS distinct_ratio,
        |  round(CAST(coalesce(list_max(list_transform(list_distinct(toks),
        |      t -> len(list_filter(toks, x -> x = t)))), 0) AS DOUBLE)
        |    / greatest(len(toks), 1), 4) AS top_token_frac,
        |  round(CAST(coalesce(list_max(list_transform(list_distinct(bg),
        |      t -> len(list_filter(bg, x -> x = t)))), 0) AS DOUBLE)
        |    / greatest(len(bg), 1), 4) AS top_bigram_frac
        |FROM (
        |  SELECT doc_id, toks,
        |    list_transform(range(1, greatest(len(toks) - 1, 1) + 1),
        |      i -> array_to_string(toks[i:i+1], ' ')) AS bg
        |  FROM (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents))
        |ORDER BY doc_id""".stripMargin),

    // full Gopher document-filter rule set (Rae et al. 2021 §A1.1) — every
    // signal + the combined verdict, all codegen'd regex/arithmetic
    GateQuery("q50_gopher_filter", (s, dir) => {
      val txt = col("text")
      t(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.tokenCount(txt).as("n_words"),
        TextFunctions.meanTokenLength(txt).as("mean_word_len"),
        TextFunctions.symbolToWordRatio(txt).as("symbol_ratio"),
        TextFunctions.bulletLineFrac(txt).as("bullet_frac"),
        TextFunctions.ellipsisLineFrac(txt).as("ellipsis_frac"),
        TextFunctions.alphaWordFrac(txt).as("alpha_frac"),
        TextFunctions.stopwordPresence(txt).as("n_stopwords"),
        TextFunctions.gopherPass(txt).as("pass"))
        .orderBy(col("doc_id"))
    },
      """WITH m AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(text, '\S+')) AS n_words,
        |    round(CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
        |      / greatest(len(regexp_extract_all(text, '\S+')), 1), 4) AS mean_word_len,
        |    round(CAST(len(regexp_extract_all(text, '#|\.\.\.|…')) AS DOUBLE)
        |      / greatest(len(regexp_extract_all(text, '\S+')), 1), 6) AS symbol_ratio,
        |    round(CAST(len(regexp_extract_all(text, '(?m)^[ \t]*[-*•]')) AS DOUBLE)
        |      / greatest(len(string_split(text, chr(10))), 1), 6) AS bullet_frac,
        |    round(CAST(len(regexp_extract_all(text, '(?m)(\.\.\.|…)$')) AS DOUBLE)
        |      / greatest(len(string_split(text, chr(10))), 1), 6) AS ellipsis_frac,
        |    round(CAST(len(regexp_extract_all(text, '\S*\p{L}\S*')) AS DOUBLE)
        |      / greatest(len(regexp_extract_all(text, '\S+')), 1), 6) AS alpha_frac,
        |    (CASE WHEN regexp_matches(lower(text), '\bthe\b') THEN 1 ELSE 0 END
        |     + CASE WHEN regexp_matches(lower(text), '\bbe\b') THEN 1 ELSE 0 END
        |     + CASE WHEN regexp_matches(lower(text), '\bto\b') THEN 1 ELSE 0 END
        |     + CASE WHEN regexp_matches(lower(text), '\bof\b') THEN 1 ELSE 0 END
        |     + CASE WHEN regexp_matches(lower(text), '\band\b') THEN 1 ELSE 0 END
        |     + CASE WHEN regexp_matches(lower(text), '\bthat\b') THEN 1 ELSE 0 END
        |     + CASE WHEN regexp_matches(lower(text), '\bhave\b') THEN 1 ELSE 0 END
        |     + CASE WHEN regexp_matches(lower(text), '\bwith\b') THEN 1 ELSE 0 END
        |    )::BIGINT AS n_stopwords
        |  FROM documents
        |)
        |SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
        |  ellipsis_frac, alpha_frac, n_stopwords,
        |  (n_words >= 50 AND n_words <= 100000
        |   AND mean_word_len BETWEEN 3.0 AND 10.0
        |   AND symbol_ratio <= 0.1
        |   AND bullet_frac <= 0.9
        |   AND ellipsis_frac <= 0.3
        |   AND alpha_frac >= 0.8
        |   AND n_stopwords >= 2) AS pass
        |FROM m ORDER BY doc_id""".stripMargin),

    // canonical + aggressive text normalization (codegen'd regexp chain)
    GateQuery("q60_normalize", (s, dir) => {
      val txt = col("text")
      t(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.normalizeText(txt).as("norm_text"),
        length(TextFunctions.normalizeText(txt)).cast("long").as("n_norm"),
        length(TextFunctions.normalizeAggressive(txt)).cast("long").as("n_aggr"),
        md5(TextFunctions.normalizeAggressive(txt)).as("aggr_md5"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id,
        |  trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm_text,
        |  CAST(length(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS BIGINT) AS n_norm,
        |  CAST(length(trim(regexp_replace(regexp_replace(lower(text), '[^\p{L}\p{N}\s]', '', 'g'), '\s+', ' ', 'g'))) AS BIGINT) AS n_aggr,
        |  md5(trim(regexp_replace(regexp_replace(lower(text), '[^\p{L}\p{N}\s]', '', 'g'), '\s+', ' ', 'g'))) AS aggr_md5
        |FROM documents ORDER BY doc_id""".stripMargin),

    // PII scrub over synthesized contact lines (the corpus itself carries no
    // PII, so the patterns are planted deterministically from doc_id — the
    // redaction regexes then have real matches to erase)
    GateQuery("q62_pii_redact", (s, dir) => {
      val synth = concat(
        substring(col("text"), 1, 40),
        lit(" contact u"), col("doc_id").cast("string"),
        lit("@example.com via 10.1."), (col("doc_id") % 200).cast("string"),
        lit(".7 call +1 555-00"), (col("doc_id") % 90 + 10).cast("string"))
      t(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.piiEmailCount(synth).as("n_emails"),
        TextFunctions.piiIpCount(synth).as("n_ips"),
        TextFunctions.piiPhoneCount(synth).as("n_phones"),
        TextFunctions.redactPii(synth).as("redacted"))
        .orderBy(col("doc_id"))
    },
      // same synthesized contact line; RE2-compatible patterns mirror the
      // Spark side verbatim ('g' flag: DuckDB replaces first match only by
      // default, Spark replaces all)
      """WITH s AS (
        |  SELECT doc_id,
        |    substr(text, 1, 40) || ' contact u' || CAST(doc_id AS VARCHAR)
        |      || '@example.com via 10.1.' || CAST(doc_id % 200 AS VARCHAR)
        |      || '.7 call +1 555-00' || CAST(doc_id % 90 + 10 AS VARCHAR) AS synth
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(synth, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(synth, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        |  CAST(len(regexp_extract_all(synth, '\+\d[\d .-]{7,}\d')) AS BIGINT) AS n_phones,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(synth, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\+\d[\d .-]{7,}\d', '<PHONE>', 'g') AS redacted
        |FROM s ORDER BY doc_id""".stripMargin),

    // HTML -> text preprocessing: wrap each doc in deterministic markup
    // (script/style bodies, attributes, comments, entities), strip, hash.
    // Every pass is an RE2-safe regexp the oracle replays verbatim
    GateQuery("q79_strip_html", (s, dir) => {
      val html = concat(
        lit("<html><head><style>p{color:red}</style></head><body onload=\"f()\"><p>"),
        col("text"),
        lit("</p><br>&amp;lt;<script>var x = 1 < 2;</script><!-- tail --></body></html>"))
      val stripped = TextFunctions.stripHtml(html)
      t(s, dir, "documents")
        .select(col("doc_id"), md5(stripped).as("stripped_md5"),
          length(stripped).cast("long").as("n_chars"))
        .orderBy(col("doc_id"))
    },
      // same regexp pipeline as TextFunctions.stripHtml, 'g' option per pass
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><style>p{color:red}</style></head><body onload="f()"><p>'
        |    || text ||
        |    '</p><br>&amp;lt;<script>var x = 1 < 2;</script><!-- tail --></body></html>' AS t
        |  FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(
        |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |        regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
        |          '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g'),
        |          '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g'),
        |          '(?s)<!--.*?-->', ' ', 'g'),
        |          '(?s)<[^>]*>', ' ', 'g'),
        |          '&lt;', '<', 'g'),
        |          '&gt;', '>', 'g'),
        |          '&quot;', '"', 'g'),
        |          '&#39;', CHR(39), 'g'),
        |          '&amp;', '&', 'g'),
        |      '\s+', ' ', 'g')) AS stripped
        |  FROM h
        |)
        |SELECT doc_id, md5(stripped) AS stripped_md5,
        |  CAST(length(stripped) AS BIGINT) AS n_chars
        |FROM s ORDER BY doc_id""".stripMargin),

    // per-document token-distribution entropy (quality signal): fused
    // one-pass count; oracle recomputes via group-by
    GateQuery("q80_token_entropy", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.tokenEntropy(col("text")).as("token_entropy"))
        .orderBy(col("doc_id"))
    },
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS t
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, t, count(*) AS c FROM tok GROUP BY doc_id, t
        |), n AS (
        |  SELECT doc_id, CAST(sum(c) AS DOUBLE) AS n FROM c GROUP BY doc_id
        |), h AS (
        |  SELECT c.doc_id, round(-sum((c.c / n.n) * ln(c.c / n.n)), 4) AS token_entropy
        |  FROM c JOIN n ON c.doc_id = n.doc_id GROUP BY c.doc_id
        |)
        |SELECT d.doc_id, coalesce(h.token_entropy, 0.0) AS token_entropy
        |FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id
        |ORDER BY d.doc_id""".stripMargin),

    // code-vs-prose signals (mix curation: route source code and prose to
    // different pipelines): punct density / semicolons per line / indent
    // fraction + threshold gate, all map-side codegen; every 7th doc is
    // synthesized code-like so both branches are exercised
    // (functions.TextFunctions.codePunctDensity/semicolonPerLine/
    // indentLineFrac/isCodeLike)
    GateQuery("q96_code_signals", (s, dir) => {
      import graft.functions.TextFunctions
      val code = concat(lit("def f_"), col("doc_id").cast("string"),
        lit("(x) {\n    return x + "), col("doc_id").cast("string"),
        lit(";\n    }\n"), substring(col("text"), 1, 40))
      val synth = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 7 === 0, code).otherwise(col("text")).as("text"))
      synth.select(col("doc_id"),
        TextFunctions.codePunctDensity(col("text")).as("punct_density"),
        TextFunctions.semicolonPerLine(col("text")).as("semis_per_line"),
        TextFunctions.indentLineFrac(col("text")).as("indent_frac"),
        TextFunctions.isCodeLike(col("text")).as("is_code"))
        .orderBy(col("doc_id"))
    },
      """WITH synth AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN
        |      'def f_' || doc_id::VARCHAR || '(x) {' || chr(10)
        |        || '    return x + ' || doc_id::VARCHAR || ';' || chr(10)
        |        || '    }' || chr(10) || substr(text, 1, 40)
        |    ELSE text END AS text
        |  FROM documents
        |), sig AS (
        |  SELECT doc_id,
        |    round(len(regexp_extract_all(text, '[{}\[\]()<>;=]'))
        |      / greatest(len(text), 1)::DOUBLE, 4) AS punct_density,
        |    round(len(regexp_extract_all(text, ';'))
        |      / greatest(len(list_filter(string_split(text, chr(10)),
        |          l -> len(l) > 0)), 1)::DOUBLE, 4) AS semis_per_line,
        |    round(len(list_filter(list_filter(string_split(text, chr(10)),
        |          l -> len(l) > 0), l -> regexp_matches(l, '^(    |\t)')))
        |      / greatest(len(list_filter(string_split(text, chr(10)),
        |          l -> len(l) > 0)), 1)::DOUBLE, 4) AS indent_frac
        |  FROM synth
        |)
        |SELECT doc_id, punct_density, semis_per_line, indent_frac,
        |  (punct_density > 0.01 OR semis_per_line > 0.5 OR indent_frac > 0.2)
        |    AS is_code
        |FROM sig ORDER BY doc_id""".stripMargin),
  )
}
