package graft

import searchspark.analyze.Analyzer

/** DuckDB-dialect oracle SQL for every SparkEntry query (the driver runs
  * these over the same parquet tables and hash-compares).
  *
  * Cross-engine determinism rules (see searchspark.ops.TextOps):
  *  - every ratio/score is emitted as an integer-scaled BIGINT
  *    (⌊x·10^6⌋ via integer `//`, or ⌊double·10^4⌋ via floor) — raw
  *    doubles never cross the Spark/DuckDB comparison boundary;
  *  - all numeric literals in floating expressions carry ::DOUBLE —
  *    bare 0.5/1.2 parse as DECIMAL in DuckDB and DECIMAL division has
  *    different rounding than IEEE double;
  *  - every query ends in a full deterministic ORDER BY;
  *  - all hashes are md5-derived (the 15-hex-char prefix as a 60-bit
  *    int: DuckDB `('0x' || substr(md5(x),1,15))::UBIGINT` == Spark
  *    `conv(substr(md5(x),1,15),16,10)`).
  */
object OracleSql {

  /** Fixed search-term list for the query-side operators: "dup" is the
    * rare marker term (df≈0.05N in the testdata documents table),
    * "key"/"vector" are mid-df. */
  val SearchTerms: Seq[String] = Seq("dup", "key", "vector")
  /** Wider 2-term query for the pagination case (the 3-term conjunctive
    * one has <20 hits at sf0.001, which would make offset=20 vacuous). */
  val WideTerms: Seq[String] = Seq("key", "vector")
  val ScopeLang = "en"
  /** documents/embeddings are synthetic near-orthogonal vectors; max
    * pairwise cosine ≈ 0.51, so 0.45 yields a small non-empty pair set. */
  val EmbedDupThreshold = 0.45
  /** Query-vector ids for the batched ANN entry (one corpus scan, three
    * simultaneous top-k's). */
  val AnnBatchIds: Seq[Long] = Seq(0L, 1L, 2L)

  private val stop = Analyzer.Stopwords.map(s => s"'$s'").mkString(", ")
  private val keep = Analyzer.KeepShort.toSeq.sorted.map(s => s"'$s'").mkString(", ")
  private val lemmaCase = Analyzer.lemmaSqlCase("tok")
  private def inList(ts: Seq[String]) = ts.map(t => s"'$t'").mkString(", ")

  /** Token/TF/doc-length CTE chain over `documents`, optionally scoped. */
  private def cte(where: String = ""): String = {
    val docsSrc = if (where.isEmpty) "documents" else s"(SELECT * FROM documents WHERE $where)"
    s"""WITH docsrc AS (SELECT * FROM $docsSrc),
       |rawtok AS (
       |  SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS tok
       |  FROM docsrc
       |  WHERE trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) <> ''
       |),
       |ftok AS (
       |  SELECT doc_id, tok FROM rawtok
       |  WHERE (length(tok) > 1 OR tok IN ($keep)) AND tok NOT IN ($stop)
       |),
       |termx AS (SELECT doc_id, $lemmaCase AS term FROM ftok),
       |tfx AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM termx GROUP BY doc_id, term),
       |dlx AS (
       |  SELECT d.doc_id, coalesce(s.dl, 0)::BIGINT AS dl
       |  FROM docsrc d LEFT JOIN (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tfx GROUP BY doc_id) s USING (doc_id)
       |)""".stripMargin
  }

  /** Word-3-gram shingle CTE (distinct per doc), appended after cte(). */
  private val shingCte =
    s""",
       |lx AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS l FROM docsrc),
       |ix AS (SELECT doc_id, l, unnest(generate_series(1, len(l) - 2)) AS i FROM lx WHERE len(l) >= 3),
       |shing AS (SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle FROM ix)""".stripMargin

  private def bm25Sql(where: String, k: Int, offset: Int,
                      terms: Seq[String] = SearchTerms): String = {
    val t = inList(terms)
    s"""${cte(where)},
       |nx AS (SELECT count(*)::BIGINT AS n FROM dlx),
       |ax AS (SELECT sum(dl)::DOUBLE / count(*) AS avgdl FROM dlx),
       |dfq AS (SELECT term, count(*)::BIGINT AS df FROM tfx WHERE term IN ($t) GROUP BY term),
       |surv AS (SELECT term, df FROM dfq WHERE df * 100 < 85 * (SELECT n FROM nx)),
       |scored AS (
       |  SELECT t.doc_id, count(*)::BIGINT AS nm,
       |    sum( ln(1::DOUBLE + ((SELECT n FROM nx) - s.df + 0.5::DOUBLE) / (s.df + 0.5::DOUBLE))
       |         * t.tf / (t.tf + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE * d.dl / (SELECT avgdl FROM ax))) ) AS score
       |  FROM tfx t JOIN surv s USING (term) JOIN dlx d USING (doc_id)
       |  GROUP BY t.doc_id
       |  HAVING count(*) = (SELECT count(*) FROM surv)
       |)
       |SELECT doc_id, floor(score * 10000)::BIGINT AS score_e4 FROM scored
       |ORDER BY score_e4 DESC, doc_id LIMIT $k OFFSET $offset""".stripMargin
  }

  val sql: Map[String, String] = Map(
    "b1_tokenize" ->
      s"${cte()} SELECT doc_id, tok FROM rawtok ORDER BY doc_id, tok",

    "b2b3_token_filter" ->
      s"${cte()} SELECT doc_id, tok FROM ftok ORDER BY doc_id, tok",

    "b4_lemmatize" ->
      s"${cte()} SELECT tok, $lemmaCase AS term FROM (SELECT DISTINCT tok FROM ftok) ORDER BY tok",

    // Russian analyzer config over the inline RuFixture literals — the
    // DuckDB side regenerates the SAME alphabet/keep/stop/exception/rule
    // SQL from Analyzers.Ru, so the hash check pins the config switch
    "b4_lemmatize_ru" -> {
      val ru = searchspark.analyze.Analyzers.Ru
      val vals = searchspark.analyze.RuFixture.texts
        .map { case (i, t) => s"($i::BIGINT, '$t')" }.mkString(",\n         ")
      s"""WITH docsrc(doc_id, text) AS (VALUES
         |         $vals),
         |rawtok AS (
         |  SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '[^${ru.alphabet}]+', ' ', 'g')), ' ')) AS tok
         |  FROM docsrc
         |  WHERE trim(regexp_replace(lower(text), '[^${ru.alphabet}]+', ' ', 'g')) <> ''
         |),
         |ftok AS (SELECT doc_id, tok FROM rawtok
         |         WHERE ${ru.keepSqlPredicate("tok")} AND ${ru.notStopSqlPredicate("tok")}),
         |termx AS (SELECT doc_id, ${ru.lemmaSqlCase("tok")} AS term FROM ftok)
         |SELECT doc_id, term, count(*)::BIGINT AS tf FROM termx
         |GROUP BY doc_id, term ORDER BY doc_id, term""".stripMargin
    },

    "b5_tf" ->
      s"${cte()} SELECT doc_id, term, tf FROM tfx ORDER BY doc_id, term",

    // reference C5 overwrite rule (Link.java:209-216): body replaces
    // title; DuckDB positions are 1-based (i <= titleTokens ⇔ Spark
    // pos < titleTokens); generated from the SAME ZoneConfig as Spark
    "c5_zone_weighted_tf" -> {
      val z = searchspark.ops.TextOps.DriverZoneConfig
      s"""WITH docsrc AS (SELECT * FROM documents),
         |lx AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS l FROM docsrc),
         |px AS (SELECT doc_id, l[i] AS tok, i FROM (SELECT doc_id, l, unnest(generate_series(1, len(l))) AS i FROM lx)),
         |ft AS (SELECT doc_id, tok, i FROM px
         |       WHERE (length(tok) > 1 OR tok IN ($keep)) AND tok NOT IN ($stop)),
         |tz AS (SELECT doc_id, $lemmaCase AS term, (i <= ${z.titleTokens}) AS is_title FROM ft),
         |g AS (SELECT doc_id, term,
         |             sum(CASE WHEN is_title THEN 1 ELSE 0 END)::BIGINT AS tf_title,
         |             sum(CASE WHEN is_title THEN 0 ELSE 1 END)::BIGINT AS tf_body
         |      FROM tz GROUP BY doc_id, term)
         |SELECT doc_id, term, tf_title, tf_body,
         |       (CASE WHEN tf_body > 0 THEN tf_body * ${z.bodyWeightE1} ELSE tf_title * ${z.titleWeightE1} END)::BIGINT AS rank_e1
         |FROM g ORDER BY doc_id, term""".stripMargin
    },

    "c6_doc_stats" ->
      s"${cte()} SELECT doc_id, dl FROM dlx ORDER BY doc_id",

    "q1_stopword_prune" ->
      s"""${cte()}
         |SELECT term, count(*)::BIGINT AS df,
         |       (count(*) * 1000000 // (SELECT count(*) FROM documents))::BIGINT AS part_e6
         |FROM tfx GROUP BY term
         |HAVING count(*) * 100 < 85 * (SELECT count(*) FROM documents)
         |ORDER BY part_e6, term""".stripMargin,

    "q2_conjunctive" ->
      s"""${cte()}
         |SELECT doc_id FROM tfx WHERE term IN (${inList(SearchTerms)})
         |GROUP BY doc_id HAVING count(*) = ${SearchTerms.size}
         |ORDER BY doc_id""".stripMargin,

    "q3_relevance" ->
      s"""${cte()},
         |cand AS (SELECT doc_id FROM tfx WHERE term IN (${inList(SearchTerms)})
         |         GROUP BY doc_id HAVING count(*) = ${SearchTerms.size}),
         |absx AS (SELECT doc_id, sum(tf)::BIGINT AS rel_abs FROM tfx
         |         WHERE term IN (${inList(SearchTerms)}) AND doc_id IN (SELECT doc_id FROM cand)
         |         GROUP BY doc_id)
         |SELECT doc_id, rel_abs,
         |       (rel_abs * 1000000 // (SELECT max(rel_abs) FROM absx))::BIGINT AS relevance_e6
         |FROM absx ORDER BY rel_abs DESC, doc_id LIMIT 20""".stripMargin,

    "bm25_topk" -> bm25Sql("", 20, 0),
    "bm25_paginated" -> bm25Sql("", 20, 20, WideTerms),
    "bm25_scoped" -> bm25Sql(s"lang = '$ScopeLang'", 20, 0),

    "q6_docs_per_scope" ->
      """SELECT lang, count(*)::BIGINT AS n_docs FROM documents
        |WHERE length(trim(text)) > 0 GROUP BY lang ORDER BY lang""".stripMargin,

    "q7_terms_per_scope" ->
      s"""${cte()}
         |SELECT d.lang, count(DISTINCT t.term)::BIGINT AS n_terms
         |FROM tfx t JOIN documents d USING (doc_id)
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin,

    "c11_statistics" ->
      s"""${cte()},
         |per AS (SELECT source, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS sum_chars
         |        FROM documents GROUP BY source),
         |ts AS (SELECT d.source, count(DISTINCT t.term)::BIGINT AS n_terms, sum(t.tf)::BIGINT AS n_tokens
         |       FROM tfx t JOIN documents d USING (doc_id) GROUP BY d.source)
         |SELECT per.source, per.n_docs, per.sum_chars, ts.n_terms, ts.n_tokens
         |FROM per LEFT JOIN ts ON per.source = ts.source ORDER BY per.source""".stripMargin,

    "a5_dedup_exact" ->
      """SELECT md5(text) AS h, min(doc_id)::BIGINT AS keep_doc_id, count(*)::BIGINT AS n_dupes
        |FROM documents GROUP BY md5(text) ORDER BY keep_doc_id""".stripMargin,

    "text_langid" ->
      s"""${cte()}
         |SELECT doc_id, count(*)::BIGINT AS n_toks,
         |       sum(CASE WHEN tok IN ($stop) THEN 1 ELSE 0 END)::BIGINT AS n_stop,
         |       (sum(CASE WHEN tok IN ($stop) THEN 1 ELSE 0 END) * 1000000 // count(*))::BIGINT AS stop_ratio_e6,
         |       CASE WHEN sum(CASE WHEN tok IN ($stop) THEN 1 ELSE 0 END) * 100 >= count(*) * 5
         |            THEN 'en' ELSE 'other' END AS pred_lang
         |FROM rawtok GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Gopher-style repetition signals; tokens via the shared B1 split
    "text_repetition" ->
      """WITH lx AS (SELECT doc_id,
        |             CASE WHEN trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) = ''
        |                  THEN []::VARCHAR[]
        |                  ELSE string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') END AS l
        |      FROM documents),
        |gx AS (SELECT doc_id, l[i] || ' ' || l[i+1] AS g
        |       FROM (SELECT doc_id, l, unnest(generate_series(1, len(l) - 1)) AS i FROM lx WHERE len(l) >= 2)),
        |gc AS (SELECT doc_id, g, count(*)::BIGINT AS c FROM gx GROUP BY doc_id, g),
        |ga AS (SELECT doc_id, max(c) AS max_g, sum(c) AS n_g FROM gc GROUP BY doc_id),
        |dx AS (SELECT doc_id, len(l)::BIGINT AS n_toks, len(list_distinct(l))::BIGINT AS n_distinct FROM lx)
        |SELECT d.doc_id,
        |       coalesce(ga.max_g * 1000000 // ga.n_g, 0)::BIGINT AS top_2gram_frac_e6,
        |       (CASE WHEN d.n_toks > 0 THEN d.n_distinct * 1000000 // d.n_toks ELSE 0 END)::BIGINT AS distinct_ratio_e6
        |FROM dx d LEFT JOIN ga ON d.doc_id = ga.doc_id ORDER BY d.doc_id""".stripMargin,

    // PII scrub: same RE2-compatible patterns as Spark (shared consts);
    // 'g' flag because DuckDB regexp_replace is first-match by default
    "text_pii_scrub" -> {
      val (e, u, d) = (searchspark.ops.TextOps.PiiEmail,
        searchspark.ops.TextOps.PiiUrl, searchspark.ops.TextOps.PiiDigits)
      s"""SELECT doc_id,
         |       len(regexp_extract_all(text, '$e'))::BIGINT AS n_emails,
         |       len(regexp_extract_all(text, '$u'))::BIGINT AS n_urls,
         |       len(regexp_extract_all(text, '$d'))::BIGINT AS n_digit_runs,
         |       md5(regexp_replace(regexp_replace(regexp_replace(text,
         |           '$e', '<EMAIL>', 'g'), '$u', '<URL>', 'g'), '$d', '<NUM>', 'g')) AS scrubbed_md5
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    // decontamination: blocklist 3-grams generated from the SAME inline
    // eval fixture the Spark side broadcasts
    "decontaminate" -> {
      val bl = searchspark.ops.TextOps.evalShingles(searchspark.ops.TextOps.EvalFixture)
        .map(s => s"('$s')").mkString(", ")
      s"""${cte()}$shingCte,
         |bl(shingle) AS (VALUES $bl),
         |hits AS (SELECT doc_id, count(*)::BIGINT AS n FROM shing JOIN bl USING (shingle) GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(h.n, 0)::BIGINT AS n_contaminated,
         |       coalesce(h.n, 0) > 0 AS contaminated
         |FROM documents d LEFT JOIN hits h USING (doc_id) ORDER BY d.doc_id""".stripMargin
    },

    // graded decontamination: fraction of a doc's distinct 3-gram
    // shingles hitting the same eval blocklist, ⌊·10⁶⌋ integer
    "decontaminate_overlap" -> {
      val bl = searchspark.ops.TextOps.evalShingles(searchspark.ops.TextOps.EvalFixture)
        .map(s => s"('$s')").mkString(", ")
      s"""${cte()}$shingCte,
         |bl(shingle) AS (VALUES $bl),
         |per AS (SELECT doc_id, count(*)::BIGINT AS n_shingles FROM shing GROUP BY doc_id),
         |hits AS (SELECT doc_id, count(*)::BIGINT AS n FROM shing JOIN bl USING (shingle) GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(p.n_shingles, 0)::BIGINT AS n_shingles,
         |       coalesce(h.n, 0)::BIGINT AS n_contaminated,
         |       coalesce((h.n * 1000000) // p.n_shingles, 0)::BIGINT AS contamination_e6
         |FROM documents d LEFT JOIN per p USING (doc_id) LEFT JOIN hits h USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin
    },

    // unigram-LM surprisal: ⌊log₂(N/cf)⌋ via bit-length arithmetic
    // (length(bin(x))-1) — exact integers in both engines, no ln()
    "text_unigram_surprisal" ->
      s"""${cte()},
         |cfx AS (SELECT term, sum(tf)::BIGINT AS cf FROM tfx GROUP BY term),
         |ntx AS (SELECT sum(cf)::BIGINT AS n_total FROM cfx),
         |bitsx AS (SELECT term, (length(bin((SELECT n_total FROM ntx) // cf)) - 1)::BIGINT AS bits FROM cfx),
         |px AS (
         |  SELECT t.doc_id, (sum(t.tf * b.bits) * 1000000) // sum(t.tf) AS mean_surprisal_e6
         |  FROM tfx t JOIN bitsx b USING (term) GROUP BY t.doc_id
         |)
         |SELECT d.doc_id, coalesce(p.mean_surprisal_e6, 0)::BIGINT AS mean_surprisal_e6
         |FROM documents d LEFT JOIN px p USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    // per-doc top-3 TF-IDF keywords: score = tf·⌊log₂(N_docs/df)⌋,
    // ties by term ascending
    "tfidf_top_terms" ->
      s"""${cte()},
         |dfx AS (SELECT term, count(*)::BIGINT AS df FROM tfx GROUP BY term),
         |ndx AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
         |scored AS (
         |  SELECT t.doc_id, t.term,
         |         (t.tf * (length(bin((SELECT n_docs FROM ndx) // f.df)) - 1))::BIGINT AS score
         |  FROM tfx t JOIN dfx f USING (term)
         |),
         |ranked AS (
         |  SELECT doc_id, term, score,
         |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rnk
         |  FROM scored
         |)
         |SELECT doc_id, term, score, rnk::BIGINT AS rnk FROM ranked WHERE rnk <= 3
         |ORDER BY doc_id, rnk""".stripMargin,

    "text_quality" ->
      """SELECT doc_id, length(text)::BIGINT AS n_chars_txt,
        |       (length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) * 1000000 // length(text))::BIGINT AS alnum_ratio_e6,
        |       (length(regexp_replace(text, '[^0-9]', '', 'g')) * 1000000 // length(text))::BIGINT AS digit_ratio_e6,
        |       ((length(text) - length(regexp_replace(text, '\s', '', 'g'))) * 1000000 // length(text))::BIGINT AS ws_ratio_e6
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_tokcount" ->
      s"""${cte()}
         |SELECT d.doc_id,
         |       len(string_split_regex(trim(d.text), '\\s+'))::BIGINT AS ws_tokens,
         |       ceil(length(regexp_replace(lower(d.text), '[^a-z0-9]', '', 'g')) / 4.0::DOUBLE)::BIGINT AS bpe_est,
         |       dlx.dl AS analyzed_tokens
         |FROM documents d JOIN dlx ON d.doc_id = dlx.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "text_fingerprint" ->
      s"""${cte()}$shingCte
         |SELECT doc_id, min(md5(shingle)) AS fingerprint FROM shing
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "dedup_ngram_jaccard" ->
      s"""${cte()}$shingCte,
         |sdfx AS (SELECT shingle FROM (SELECT shingle, count(*) AS c FROM shing GROUP BY shingle)
         |         WHERE c BETWEEN 2 AND 100),
         |shr AS (SELECT s.doc_id, s.shingle FROM shing s JOIN sdfx USING (shingle)),
         |szx AS (SELECT doc_id, count(*)::BIGINT AS sz FROM shr GROUP BY doc_id),
         |px AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*)::BIGINT AS common
         |       FROM shr x JOIN shr y USING (shingle) WHERE x.doc_id < y.doc_id
         |       GROUP BY x.doc_id, y.doc_id)
         |SELECT a, b, (common * 1000000 // (sa.sz + sb.sz - common))::BIGINT AS jaccard_e6
         |FROM px JOIN szx sa ON px.a = sa.doc_id JOIN szx sb ON px.b = sb.doc_id
         |WHERE common * 1000000 >= 500000 * (sa.sz + sb.sz - common)
         |ORDER BY a, b""".stripMargin,

    "text_minhash_sig" ->
      s"""${cte()}$shingCte,
         |hx AS (SELECT doc_id, i::BIGINT AS i,
         |              min(('0x' || substr(md5(i::VARCHAR || ':' || shingle), 1, 15))::UBIGINT)::BIGINT AS minh
         |       FROM shing CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS i) hs
         |       GROUP BY doc_id, i)
         |SELECT doc_id, i, minh FROM hx ORDER BY doc_id, i""".stripMargin,

    "dedup_minhash_lsh" ->
      s"""${cte()}$shingCte,
         |hx AS (SELECT doc_id, i::BIGINT AS i,
         |              min(('0x' || substr(md5(i::VARCHAR || ':' || shingle), 1, 15))::UBIGINT)::BIGINT AS minh
         |       FROM shing CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS i) hs
         |       GROUP BY doc_id, i),
         |bx AS (SELECT doc_id, (i // 4)::BIGINT AS band, string_agg(minh::VARCHAR, '-' ORDER BY i) AS key
         |       FROM hx GROUP BY doc_id, i // 4),
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |         FROM bx x JOIN bx y ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id),
         |mx AS (SELECT c.a, c.b, sum(CASE WHEN ha.minh = hb.minh THEN 1 ELSE 0 END)::BIGINT AS matches
         |       FROM cand c JOIN hx ha ON ha.doc_id = c.a JOIN hx hb ON hb.doc_id = c.b AND hb.i = ha.i
         |       GROUP BY c.a, c.b)
         |SELECT a, b, (matches * 1000000 // 12)::BIGINT AS est_sim_e6 FROM mx ORDER BY a, b""".stripMargin,

    // connected components over the LSH candidate-pair graph via
    // recursive min-label closure (terminates: finite (id, rep) pairs,
    // UNION dedups); min(rep) per id = component minimum
    "dedup_clusters" ->
      s"""WITH RECURSIVE lx AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS l FROM documents),
         |ix AS (SELECT doc_id, l, unnest(generate_series(1, len(l) - 2)) AS i FROM lx WHERE len(l) >= 3),
         |shing AS (SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle FROM ix),
         |hx AS (SELECT doc_id, i::BIGINT AS i,
         |              min(('0x' || substr(md5(i::VARCHAR || ':' || shingle), 1, 15))::UBIGINT)::BIGINT AS minh
         |       FROM shing CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS i) hs
         |       GROUP BY doc_id, i),
         |bx AS (SELECT doc_id, (i // 4)::BIGINT AS band, string_agg(minh::VARCHAR, '-' ORDER BY i) AS key
         |       FROM hx GROUP BY doc_id, i // 4),
         |prs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |        FROM bx x JOIN bx y ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id),
         |edges AS (SELECT a AS src, b AS dst FROM prs UNION SELECT b, a FROM prs),
         |comp(id, rep) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.dst, c.rep FROM comp c JOIN edges e ON e.src = c.id
         |)
         |SELECT id::BIGINT AS doc_id, min(rep)::BIGINT AS cluster_rep
         |FROM comp GROUP BY id ORDER BY doc_id""".stripMargin,

    // tumbling-window rollup over events: integer epoch-micros floor
    // (ts_us − ts_us mod⁺ window; `//` truncates toward zero, which would
    // put a pre-1970 event in the window after it) so both engines land
    // every event in the same bucket exactly
    "events_windowed" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) - (((epoch_us(ts) % 3600000000) + 3600000000) % 3600000000)
        |           AS window_start_us,
        |         event_type, user_id, floor(value * 100)::BIGINT AS value_e2
        |  FROM events
        |)
        |SELECT window_start_us::BIGINT AS window_start_us, event_type,
        |       count(*)::BIGINT AS n_events,
        |       count(DISTINCT user_id)::BIGINT AS n_users,
        |       sum(value_e2)::BIGINT AS value_e2_sum
        |FROM e GROUP BY window_start_us, event_type
        |ORDER BY window_start_us, event_type""".stripMargin,

    // sessionization over the events table: per user, a new session
    // when the gap to the previous event exceeds 4 h; all comparisons
    // and sums in epoch-microsecond / value×100 integers (epoch_us here
    // == Spark's unix_micros under the pinned UTC session timezone)
    "events_sessionize" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         |         floor(value * 100)::BIGINT AS value_e2
         |  FROM events
         |),
         |f AS (
         |  SELECT user_id, event_id, ts_us, value_e2,
         |         CASE WHEN lag(ts_us) OVER w IS NULL
         |                OR ts_us - lag(ts_us) OVER w > ${searchspark.ops.EventOps.DefaultGapUs}
         |              THEN 1 ELSE 0 END AS new_sess
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
         |),
         |s AS (
         |  SELECT user_id, ts_us, value_e2,
         |         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)::BIGINT AS session_seq
         |  FROM f
         |)
         |SELECT user_id, session_seq, count(*)::BIGINT AS n_events,
         |       min(ts_us)::BIGINT AS start_us, max(ts_us)::BIGINT AS end_us,
         |       (max(ts_us) - min(ts_us))::BIGINT AS duration_us,
         |       sum(value_e2)::BIGINT AS value_e2_sum
         |FROM s GROUP BY user_id, session_seq
         |ORDER BY user_id, session_seq""".stripMargin,

    "sample_split" ->
      """SELECT doc_id, bucket,
        |       CASE WHEN bucket < 90 THEN 'train'
        |            WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |             (('0x' || substr(md5('split-v1:' || doc_id::VARCHAR), 1, 15))::UBIGINT % 100)::BIGINT AS bucket
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "text_simhash" ->
      s"""${cte()},
         |hterm AS (SELECT doc_id, tf, ('0x' || substr(md5(term), 1, 15))::UBIGINT::BIGINT AS h FROM tfx),
         |sx AS (SELECT doc_id, j, sum(tf * (((h >> j) & 1) * 2 - 1))::BIGINT AS s
         |       FROM hterm CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS j) js
         |       GROUP BY doc_id, j),
         |fpx AS (SELECT doc_id, sum(CASE WHEN s >= 0 THEN (1::BIGINT << j) ELSE 0::BIGINT END)::BIGINT AS simhash
         |        FROM sx GROUP BY doc_id)
         |SELECT doc_id, simhash FROM fpx ORDER BY doc_id""".stripMargin,

    "dedup_simhash_pairs" ->
      s"""${cte()},
         |hterm AS (SELECT doc_id, tf, ('0x' || substr(md5(term), 1, 15))::UBIGINT::BIGINT AS h FROM tfx),
         |sx AS (SELECT doc_id, j, sum(tf * (((h >> j) & 1) * 2 - 1))::BIGINT AS s
         |       FROM hterm CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS j) js
         |       GROUP BY doc_id, j),
         |fpx AS (SELECT doc_id, sum(CASE WHEN s >= 0 THEN (1::BIGINT << j) ELSE 0::BIGINT END)::BIGINT AS simhash
         |        FROM sx GROUP BY doc_id)
         |SELECT x.doc_id AS a, y.doc_id AS b,
         |       bit_count(xor(x.simhash, y.simhash))::BIGINT AS hamming
         |FROM fpx x JOIN fpx y ON x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.simhash, y.simhash)) <= 6
         |ORDER BY a, b""".stripMargin,

    "ann_cosine_topk" ->
      """WITH n AS (
        |  SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v
        |  FROM embeddings
        |),
        |nn AS (SELECT vec_id, label, v, sqrt(list_inner_product(v, v)) AS norm FROM n),
        |q AS (SELECT v, norm FROM nn WHERE vec_id = 0)
        |SELECT vec_id, label,
        |       floor(list_inner_product(v, (SELECT v FROM q)) / (norm * (SELECT norm FROM q)) * 10000)::BIGINT AS cos_e4
        |FROM nn WHERE vec_id <> 0
        |ORDER BY cos_e4 DESC, vec_id LIMIT 10""".stripMargin,

    // batched ANN: exact top-10 per query id in {0,1,2} — the oracle is
    // the naive queries×corpus cross join; the Spark plan is one corpus
    // scan with per-partition bounded top-k buffers
    "ann_batch_topk" ->
      s"""WITH n AS (
         |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
         |  FROM embeddings
         |),
         |nn AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS norm FROM n),
         |q AS (SELECT vec_id AS query_id, v AS qv, norm AS qnorm FROM nn
         |      WHERE vec_id IN (${AnnBatchIds.mkString(", ")})),
         |scored AS (
         |  SELECT q.query_id, nn.vec_id,
         |         floor(list_inner_product(nn.v, q.qv) / (nn.norm * q.qnorm) * 10000)::BIGINT AS cos_e4
         |  FROM nn, q WHERE nn.vec_id <> q.query_id
         |),
         |ranked AS (
         |  SELECT query_id, vec_id, cos_e4,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos_e4 DESC, vec_id) AS rnk
         |  FROM scored
         |)
         |SELECT query_id, vec_id, cos_e4, rnk::BIGINT AS rnk FROM ranked WHERE rnk <= 10
         |ORDER BY query_id, rnk""".stripMargin,

    // oracle = exact brute-force top-k: the IVF index (k-means codebook
    // + persisted assignment, nProbe=6/16 buckets probed) must return
    // the TRUE top-10 — the hash check IS the recall assertion
    // (IvfSpec pins it across sf dirs and nProbe values).
    "ann_ivf" ->
      """WITH n AS (
        |  SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v
        |  FROM embeddings
        |),
        |nn AS (SELECT vec_id, label, v, sqrt(list_inner_product(v, v)) AS norm FROM n),
        |q AS (SELECT v, norm FROM nn WHERE vec_id = 0)
        |SELECT vec_id, label,
        |       floor(list_inner_product(v, (SELECT v FROM q)) / (norm * (SELECT norm FROM q)) * 10000)::BIGINT AS cos_e4
        |FROM nn WHERE vec_id <> 0
        |ORDER BY cos_e4 DESC, vec_id LIMIT 10""".stripMargin,

    "dedup_embed_cosine" ->
      """WITH n AS (
        |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        |  FROM embeddings
        |),
        |nn AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS norm FROM n)
        |SELECT x.vec_id AS a, y.vec_id AS b,
        |       floor(list_inner_product(x.v, y.v) / (x.norm * y.norm) * 10000)::BIGINT AS cos_e4
        |FROM nn x JOIN nn y ON x.vec_id < y.vec_id
        |WHERE floor(list_inner_product(x.v, y.v) / (x.norm * y.norm) * 10000) >= 4500
        |ORDER BY a, b""".stripMargin,

    // hyperplane-LSH near-dup pairs: DuckDB replicates the WHOLE pipeline
    // (md5-derived hyperplanes → sign bits → band join → exact rescore),
    // so the hash check pins the LSH plan itself, not just its input.
    // 2^59 = 576460752303423488 centers the 60-bit hash on zero.
    "dedup_embed_lsh" ->
      s"""WITH n AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         |nn AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS norm FROM n),
         |vd AS (SELECT vec_id, v, unnest(generate_series(0, len(v) - 1)) AS d FROM nn),
         |sigx AS (
         |  SELECT vec_id, p,
         |         CASE WHEN sum(v[d + 1] * (('0x' || substr(md5(p::VARCHAR || ':' || d::VARCHAR), 1, 15))::UBIGINT::BIGINT
         |                                   - 576460752303423488)) >= 0 THEN 1 ELSE 0 END AS bit
         |  FROM vd CROSS JOIN (SELECT unnest(generate_series(0, ${searchspark.ops.SimOps.LshPlanes - 1})) AS p) ps
         |  GROUP BY vec_id, p),
         |bx AS (SELECT vec_id, (p // ${searchspark.ops.SimOps.LshRowsPerBand}) AS band,
         |              string_agg(bit::VARCHAR, '' ORDER BY p) AS key
         |       FROM sigx GROUP BY vec_id, p // ${searchspark.ops.SimOps.LshRowsPerBand}),
         |cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
         |         FROM bx x JOIN bx y ON x.band = y.band AND x.key = y.key AND x.vec_id < y.vec_id)
         |SELECT c.a, c.b,
         |       floor(list_inner_product(xa.v, xb.v) / (xa.norm * xb.norm) * 10000)::BIGINT AS cos_e4
         |FROM cand c JOIN nn xa ON xa.vec_id = c.a JOIN nn xb ON xb.vec_id = c.b
         |WHERE floor(list_inner_product(xa.v, xb.v) / (xa.norm * xb.norm) * 10000) >= ${math.round(EmbedDupThreshold * 1e4)}
         |ORDER BY a, b""".stripMargin,

    // header sniffing mirrored for the ASCII-expressible magics (fmt
    // parity is defensive: verified no testdata text matches them);
    // binary magics (PNG 0x89.., JPEG 0xFFD8) cannot occur in UTF-8
    // text payloads, and MediaSpec pins them on real byte fixtures
    "media_meta" ->
      """SELECT doc_id, strlen(text)::BIGINT AS n_bytes, ascii(substr(text, 1, 1))::INT AS first_byte,
        |       CASE WHEN text LIKE 'RIFF%' AND substr(text, 9, 4) = 'WAVE' THEN 'wav'
        |            WHEN text LIKE 'GIF8%' THEN 'gif' ELSE 'txt' END AS fmt,
        |       NULL::INT AS width, NULL::INT AS height, NULL::INT AS sample_rate
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the binary-fixture check: payloads are generated from doc_id with
    // format cycling doc_id % 5 and every header field plain arithmetic
    // (MediaOps.fixturePayload), so the oracle states the expected
    // metadata WITHOUT parsing — Spark must recover identical values by
    // actually walking the PNG IHDR / JPEG SOFn / RIFF fmt / GIF headers
    "media_meta_bin" ->
      """SELECT doc_id,
        |       (CASE doc_id % 5 WHEN 0 THEN 33 WHEN 1 THEN 47 WHEN 2 THEN 62
        |             WHEN 3 THEN 14 ELSE 4 + length(CAST(doc_id AS VARCHAR)) END)::BIGINT AS n_bytes,
        |       (CASE doc_id % 5 WHEN 0 THEN 137 WHEN 1 THEN 255 WHEN 2 THEN 82
        |             WHEN 3 THEN 71 ELSE 100 END)::INT AS first_byte,
        |       CASE doc_id % 5 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'wav'
        |            WHEN 3 THEN 'gif' ELSE 'txt' END AS fmt,
        |       (CASE doc_id % 5 WHEN 0 THEN 16 + doc_id % 317 WHEN 1 THEN 16 + doc_id % 313
        |             WHEN 3 THEN 1 + doc_id % 640 END)::INT AS width,
        |       (CASE doc_id % 5 WHEN 0 THEN 8 + doc_id % 211 WHEN 1 THEN 8 + doc_id % 209
        |             WHEN 3 THEN 1 + doc_id % 480 END)::INT AS height,
        |       (CASE WHEN doc_id % 5 = 2 THEN 8000 + doc_id % 32000 END)::INT AS sample_rate
        |FROM documents ORDER BY doc_id""".stripMargin
  )
}
