package searchspark.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import searchspark.analyze.{Analyzer, Analyzers, RuFixture}
import searchspark.query.Scoring

/** The engine's relational stages re-expressed over the driver-provided
  * `documents(doc_id, text, lang, source, n_chars)` table — each stage is
  * a `graft.SparkEntry.queries` entry cross-checked against DuckDB SQL
  * (graft.OracleSql) by the round driver. SURVEY.md §2 rows cited per op.
  *
  * All plans are pure Catalyst (no UDFs): token pipeline is codegen'd,
  * aggregations get map-side partial agg, every query ends in a
  * deterministic ORDER BY so Spark and DuckDB emit comparable row sets.
  */
object TextOps {

  def documents(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")

  /** B1: raw token stream. */
  def tokensRaw(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(Analyzer.tokensCol(col("text"))).as("tok"))

  /** B2+B3: filtered token stream. */
  def tokensFiltered(docs: DataFrame): DataFrame = {
    val tok = col("tok")
    tokensRaw(docs)
      .filter(length(tok) > 1 || tok.isInCollection(Analyzer.KeepShort.toSeq.sorted))
      .filter(!tok.isInCollection(Analyzer.Stopwords.toIndexedSeq))
  }

  /** B4: distinct token → lemma mapping over the corpus vocabulary. */
  def lemmaMapping(docs: DataFrame): DataFrame =
    tokensFiltered(docs).select(col("tok")).distinct()
      .select(col("tok"), Analyzer.lemmaCol(col("tok")).as("term"))
      .orderBy("tok")

  /** B5 / C5: per-(doc, term) TF — the reference's `index` table rows
    * (rank = tf × 1.0 single-zone weight, Link.java:92-96). */
  def tf(docs: DataFrame): DataFrame =
    tokensFiltered(docs)
      .select(col("doc_id"), Analyzer.lemmaCol(col("tok")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))

  /** C5: zone-weighted TF with the reference's exact overwrite rule
    * (Link.java:88-100,209-216): rank = tf_body·0.8 when the term occurs
    * in body, else tf_title·1.0 — emitted ×10 as integer `rank_e1` so
    * the cross-engine compare is exact. Zones: first `z.titleTokens` raw
    * tokens of the doc are the "title" (transcripts lack HTML tags).
    * One ZoneConfig drives this, IndexBuild.tfFromDocs' zoned branch and
    * the DuckDB oracle — the weights cannot silently diverge. */
  val DriverZoneConfig: searchspark.model.ZoneConfig = searchspark.model.ZoneConfig(8)

  def zoneWeightedTf(docs: DataFrame,
                     z: searchspark.model.ZoneConfig = DriverZoneConfig): DataFrame = {
    val tok = col("tok")
    docs.select(col("doc_id"),
        posexplode(Analyzer.tokensCol(col("text"))).as(Seq("pos", "tok")))
      .filter(length(tok) > 1 || tok.isInCollection(Analyzer.KeepShort.toSeq.sorted))
      .filter(!tok.isInCollection(Analyzer.Stopwords.toIndexedSeq))
      .select(col("doc_id"), (col("pos") < z.titleTokens).as("is_title"),
        Analyzer.lemmaCol(tok).as("term"))
      .groupBy("doc_id", "term")
      .agg(sum(when(col("is_title"), 1L).otherwise(0L)).as("tf_title"),
        sum(when(col("is_title"), 0L).otherwise(1L)).as("tf_body"))
      .withColumn("rank_e1",
        when(col("tf_body") > 0, col("tf_body") * z.bodyWeightE1)
          .otherwise(col("tf_title") * z.titleWeightE1).cast("long"))
      .orderBy("doc_id", "term")
  }

  /** B1–B5 under the RUSSIAN analyzer config (reference-exact alphabet
    * `[а-яё]` + keep-list {"я"}, LemmaFinder.java:105,40; exception
    * dictionary + suffix rules) over the inline [[RuFixture]] — the
    * config-switch demonstration the round-1 verdict asked for. */
  def tfRu(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val ru = Analyzers.Ru
    val tok = col("tok")
    RuFixture.texts.toDF("doc_id", "text")
      .select(col("doc_id"), explode(ru.tokensCol(col("text"))).as("tok"))
      .filter(length(tok) > 1 || tok.isInCollection(ru.keepShort.toSeq.sorted))
      .filter(!tok.isInCollection(ru.stopwords.toIndexedSeq))
      .select(col("doc_id"), ru.lemmaCol(tok).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .orderBy("doc_id", "term")
  }

  /** C6: doc length (tokens surviving analysis). Docs with zero surviving
    * terms keep dl=0 via left join. */
  def docLengths(docs: DataFrame): DataFrame =
    docs.select("doc_id")
      .join(tf(docs).groupBy("doc_id").agg(sum("tf").as("dl")), Seq("doc_id"), "left")
      .withColumn("dl", coalesce(col("dl"), lit(0L)))

  /** Q1: term dictionary with df and the stopword-threshold part
    * (SearchingServiceImpl.java:235-257): part = df/N, HAVING part < 0.85.
    * `part_e6` = ⌊df·10^6/N⌋ in pure integer arithmetic and the 0.85
    * predicate as df·100 < 85·N — bit-exact across engines (doubles
    * never cross the Spark/DuckDB boundary; same convention below). */
  def stopwordPrune(docs: DataFrame, nDocs: Long): DataFrame =
    tf(docs).groupBy("term").agg(count(lit(1)).as("df"))
      .withColumn("part_e6", expr(s"df * 1000000 div ${nDocs}"))
      .filter(col("df") * 100 < lit(85L) * nDocs)
      .select("term", "df", "part_e6")
      .orderBy("part_e6", "term")

  /** Q2: conjunctive AND intersection — docs containing ALL query terms
    * (SearchingServiceImpl.java:181-213, iterated IN-list semi-joins
    * collapsed into one hash-agg). */
  def conjunctive(docs: DataFrame, terms: Seq[String]): DataFrame =
    tf(docs).filter(col("term").isInCollection(terms))
      .groupBy("doc_id").agg(count(lit(1)).as("n_terms"))
      .filter(col("n_terms") === terms.size)
      .select("doc_id").orderBy("doc_id")

  /** Q3: reference relevance — absolute = Σ rank (=tf) over query terms
    * on the conjunctive candidates, relative = r/max, ORDER BY DESC
    * LIMIT (SearchingServiceImpl.java:103-133). All-integer sums, so
    * exact cross-engine equality; only the final ratio is rounded. */
  def relevance(docs: DataFrame, terms: Seq[String], limit: Int): DataFrame = {
    val tq = tf(docs).filter(col("term").isInCollection(terms)).cache()
    val cand = tq.groupBy("doc_id").agg(count(lit(1)).as("n_terms"))
      .filter(col("n_terms") === terms.size).select("doc_id")
    val abs = tq.join(cand, Seq("doc_id"))
      .groupBy("doc_id").agg(sum("tf").as("rel_abs"))
    val mx = abs.agg(max("rel_abs")).head.getLong(0)
    abs.withColumn("relevance_e6", expr(s"rel_abs * 1000000 div $mx"))
      .orderBy(col("rel_abs").desc, col("doc_id").asc)
      .limit(limit)
  }

  /** BM25 partial column — arithmetic-order-identical to Scoring.partial
    * and to the SQL form in graft.OracleSql. */
  private def bm25Partial(idfCol: Column, avgdl: Double): Column = {
    val tfD = col("tf").cast("double")
    val dlD = col("dl").cast("double")
    idfCol * tfD / (tfD + lit(Scoring.K1) *
      (lit(1.0 - Scoring.B) + lit(Scoring.B) * dlD / lit(avgdl)))
  }

  /** Full BM25 top-k (§7.4 scoring spec) with conjunctive semantics over
    * `documents`, optional scope filter on a column (role-analog:
    * `lang`, mirroring the reference's site param,
    * SearchingServiceImpl.java:52). Scores rounded to 4dp; ordering is
    * on the ROUNDED score + doc_id so Spark and DuckDB rank identically
    * even if ln() differs in the last ulp. */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int, offset: Int = 0,
               scopeLang: Option[String] = None): DataFrame = {
    val scoped = scopeLang.map(l => docs.filter(col("lang") === l)).getOrElse(docs)
    // one analyzer pass: tf is cached and reused by doc lengths, the df
    // lookup, and the scoring join (uncached this plan tokenizes the
    // whole corpus three times). Spark's cache manager dedups by
    // logical plan, so repeated calls over the same corpus share ONE
    // pinned entry (bounded by distinct inputs, not call count).
    //
    // Scoped queries FILTER the corpus-wide tf (tf is per-doc, so
    // tf(scoped) == tf(docs) semi-joined to the scoped doc ids) instead
    // of re-tokenizing the scoped subset: every scope then shares the
    // SAME cached corpus-wide table — at 100 TB the analog is scoping
    // the persisted index, never re-analyzing text per scope.
    val tAll = tf(docs).cache()
    val t =
      if (scopeLang.isEmpty) tAll
      else tAll.join(scoped.select("doc_id"), Seq("doc_id"), "left_semi")
    val dls = scoped.select("doc_id")
      .join(t.groupBy("doc_id").agg(sum("tf").as("dl")), Seq("doc_id"), "left")
      .withColumn("dl", coalesce(col("dl"), lit(0L)))
    val statsRow = dls.agg(count(lit(1)), sum("dl")).head
    val n = statsRow.getLong(0)
    val avgdl = statsRow.getLong(1).toDouble / n
    val dfRows = t.filter(col("term").isInCollection(terms))
      .groupBy("term").agg(count(lit(1)).as("df")).collect()
    val dfMap = dfRows.map(r => r.getString(0) -> r.getLong(1)).toMap
    val surviving = terms.sorted
      .filter(x => dfMap.getOrElse(x, 0L) > 0)
      .filter(x => Scoring.survivesPrune(dfMap(x), n))
    val idfCol = surviving.foldLeft(lit(0.0)) { (acc, x) =>
      when(col("term") === x, lit(Scoring.idf(dfMap(x), n))).otherwise(acc)
    }
    t.filter(col("term").isInCollection(surviving))
      .join(dls, Seq("doc_id"))
      .withColumn("partial", bm25Partial(idfCol, avgdl))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("nm"),
        aggregate(
          array_sort(collect_list(struct(col("term"), col("partial")))),
          lit(0.0), (a, x) => a + x.getField("partial")).as("score"))
      .filter(col("nm") === surviving.size)
      .withColumn("score_e4", floor(col("score") * 10000.0).cast("long"))
      .select("doc_id", "score_e4")
      .orderBy(col("score_e4").desc, col("doc_id").asc)
      .offset(offset).limit(k)
  }

  /** Q6: doc counts per scope (reference countByPortal with code=200
    * filter, PageRepository.java:14-15; blank-text = failed fetch). */
  def docsPerScope(docs: DataFrame): DataFrame =
    docs.filter(length(trim(col("text"))) > 0)
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .orderBy("lang")

  /** Q7: distinct-term counts per scope (LemmaRepository countByPortal). */
  def termsPerScope(docs: DataFrame): DataFrame =
    tf(docs).join(docs.select("doc_id", "lang"), Seq("doc_id"))
      .groupBy("lang").agg(countDistinct(col("term")).as("n_terms"))
      .orderBy("lang")

  /** C11: statistics rollup per source (StatisticsServiceImpl.java:34-75:
    * per site pages+lemmas, plus totals row — here one row per source). */
  def statistics(docs: DataFrame): DataFrame = {
    val t = tf(docs).join(docs.select("doc_id", "source"), Seq("doc_id"))
    docs.groupBy("source").agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("sum_chars"))
      .join(t.groupBy("source").agg(countDistinct(col("term")).as("n_terms"),
          sum("tf").as("n_tokens")), Seq("source"), "left")
      .orderBy("source")
  }

  /** A5/C1: exact dedup — keep the min doc_id per distinct text (md5
    * identity), the batch analog of the reference's (site,path) upsert
    * dedup (Link.java:172-186). */
  def dedupExact(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(col("text")).as("h"))
      .groupBy("h").agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("n_dupes"))
      .orderBy("keep_doc_id")

  /** Language-ID heuristic: stopword-hit ratio over raw tokens (an
    * n-gram-free stand-in suited to the synthetic corpus; the operator
    * shape — scan, per-doc ratio, threshold label — is the scale part). */
  def langId(docs: DataFrame): DataFrame = {
    val tok = col("tok")
    tokensRaw(docs)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"),
        sum(when(tok.isInCollection(Analyzer.Stopwords.toIndexedSeq), 1L).otherwise(0L)).as("n_stop"))
      .withColumn("stop_ratio_e6", expr("n_stop * 1000000 div n_toks"))
      .withColumn("pred_lang",
        when(col("n_stop") * 100 >= col("n_toks") * 5, lit("en")).otherwise(lit("other")))
      .orderBy("doc_id")
  }

  /** Quality scoring: length/token/digit/char-class signals per doc. */
  def quality(docs: DataFrame): DataFrame = {
    val t = col("text")
    val nChars = length(t)
    val nAlnum = length(regexp_replace(lower(t), "[^a-z0-9]", ""))
    val nDigit = length(regexp_replace(t, "[^0-9]", ""))
    val nWs = length(t) - length(regexp_replace(t, "\\s", ""))
    docs.select(col("doc_id"), nChars.cast("long").as("n_chars_txt"),
        nAlnum.cast("long").as("na"), nDigit.cast("long").as("nd"), nWs.cast("long").as("nw"))
      .select(col("doc_id"), col("n_chars_txt"),
        expr("na * 1000000 div n_chars_txt").as("alnum_ratio_e6"),
        expr("nd * 1000000 div n_chars_txt").as("digit_ratio_e6"),
        expr("nw * 1000000 div n_chars_txt").as("ws_ratio_e6"))
      .orderBy("doc_id")
  }

  /** Token counting: whitespace tokens vs analyzer tokens vs a BPE-ish
    * sub-token estimate (ceil(alnum_chars / 4) — the "~4 chars per
    * token" rule of thumb, deterministic and SQL-expressible). */
  def tokenCounts(docs: DataFrame): DataFrame = {
    val wsToks = size(split(trim(col("text")), "\\s+"))
    val alnum = length(regexp_replace(lower(col("text")), "[^a-z0-9]", ""))
    docs.select(col("doc_id"), wsToks.cast("long").as("ws_tokens"),
        ceil(alnum.cast("double") / 4.0).cast("long").as("bpe_est"))
      .join(tf(docs).groupBy("doc_id").agg(sum("tf").as("analyzed_tokens")),
        Seq("doc_id"), "left")
      .withColumn("analyzed_tokens", coalesce(col("analyzed_tokens"), lit(0L)))
      .orderBy("doc_id")
  }

  /** Repetition signals (the Gopher-style repetition filters a quality
    * pipeline gates on): per doc, the fraction of word-2-gram mass in
    * the single most frequent 2-gram, and the distinct-token ratio —
    * both as exact ×10⁶ integers. Degenerate docs (<2 tokens) emit 0.
    * One narrow scan → explode → two aggs, all map-side combined. */
  def repetition(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), Analyzer.tokensCol(col("text")).as("toks"))
    val grams = toks.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> concat_ws(' ', slice(toks, i, 2)))"))
        .as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("max_g"), sum("c").as("n_g"))
    val dist = toks.select(col("doc_id"), size(col("toks")).cast("long").as("n_toks"),
      size(array_distinct(col("toks"))).cast("long").as("n_distinct"))
    dist.join(grams, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(expr("max_g * 1000000 div n_g"), lit(0L)).as("top_2gram_frac_e6"),
        when(col("n_toks") > 0, expr("n_distinct * 1000000 div n_toks"))
          .otherwise(lit(0L)).as("distinct_ratio_e6"))
      .orderBy("doc_id")
  }

  /** Deterministic train/val/test split — the standard hash-split a
    * training-data pipeline needs: bucket = md5-derived 60-bit hash of
    * (salt, doc_id) mod 100, train < 90 ≤ val < 95 ≤ test. Stable under
    * reprocessing (pure function of the key), leakage-free across
    * near-identical runs, and trivially reproducible in any engine. */
  def sampleSplit(docs: DataFrame, salt: String = "split-v1"): DataFrame =
    docs.select(col("doc_id"),
        pmod(SimOps.hash60(concat(lit(salt), lit(":"), col("doc_id").cast("string"))),
          lit(100L)).as("bucket"))
      .withColumn("split",
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "val").otherwise("test"))
      .select("doc_id", "bucket", "split")
      .orderBy("doc_id")

  /** PII scrubbing: redact emails / long digit runs (phone/account-ish)
    * / URLs with typed placeholders and count replacements per class —
    * the masking pass a training-data pipeline runs before tokenizing.
    * One narrow projection (regexp_replace/regexp_count are codegen'd);
    * patterns kept RE2-compatible so DuckDB computes identical results. */
  // shared RE2-compatible PII patterns — the DuckDB oracle embeds these
  // exact strings, so Spark/DuckDB regex semantics cannot diverge
  val PiiEmail = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val PiiUrl = "https?://[^\\s]+"
  val PiiDigits = "[0-9][0-9 ()+.-]{7,}[0-9]" // 9+ chars of phone-ish material

  def piiScrub(docs: DataFrame): DataFrame = {
    val scrubbed = regexp_replace(
      regexp_replace(
        regexp_replace(col("text"), PiiEmail, "<EMAIL>"),
        PiiUrl, "<URL>"),
      PiiDigits, "<NUM>")
    docs.select(col("doc_id"),
        regexp_count(col("text"), lit(PiiEmail)).as("n_emails"),
        regexp_count(col("text"), lit(PiiUrl)).as("n_urls"),
        regexp_count(col("text"), lit(PiiDigits)).as("n_digit_runs"),
        md5(scrubbed).as("scrubbed_md5"))
      .orderBy("doc_id")
  }

  /** Decontamination: flag docs sharing any word-3-gram with a blocklist
    * of held-out evaluation texts (the n-gram-overlap test-set leak
    * check). The blocklist shingles are BROADCAST (eval sets are small);
    * the corpus side is the same shingle projection the dedup ops use —
    * one narrow scan + broadcast semi-join, no shuffle of the corpus. */
  /** Word-3-gram blocklist of a held-out eval set (shared with the
    * DuckDB oracle, which embeds these as literals). */
  def evalShingles(evalTexts: Seq[String]): Seq[String] =
    evalTexts.flatMap { t =>
      val toks = Analyzer.tokenize(t)
      if (toks.length < 3) Nil
      else (0 to toks.length - 3).map(i => toks.slice(i, i + 3).mkString(" "))
    }.distinct

  def decontaminate(docs: DataFrame, evalTexts: Seq[String]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bl = broadcast(evalShingles(evalTexts).toDF("shingle"))
    docs.select("doc_id")
      .join(
        shingles(docs).join(bl, Seq("shingle"))
          .groupBy("doc_id").agg(count(lit(1)).as("n_hits")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_hits"), lit(0L)).as("n_contaminated"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
      .orderBy("doc_id")
  }

  /** Decontamination OVERLAP: per-doc fraction of distinct word-3-gram
    * shingles that hit the eval blocklist — the graded form of
    * [[decontaminate]] (pipelines gate on "≤ x% contaminated n-grams",
    * not just any-hit; boolean-only flags over-drop long documents that
    * share one idiom with an eval prompt). Same broadcast blocklist and
    * shared shingle cache; adds one map-side-combined per-doc count —
    * still zero corpus shuffles beyond the cached shingle build. Docs
    * too short to shingle emit (0, 0, 0). */
  def decontaminateOverlap(docs: DataFrame, evalTexts: Seq[String]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bl = broadcast(evalShingles(evalTexts).toDF("shingle"))
    val sh = shinglesCached(docs)
    val per = sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val hits = sh.join(bl, Seq("shingle"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    docs.select("doc_id")
      .join(per, Seq("doc_id"), "left")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_hits"), lit(0L)).as("n_contaminated"),
        coalesce(expr("n_hits * 1000000 div n_shingles"), lit(0L)).as("contamination_e6"))
      .orderBy("doc_id")
  }

  /** Deterministic inline "held-out eval set" for the decontamination
    * driver query: fragments lifted verbatim from testdata-style
    * generator vocabulary so some docs DO overlap, plus one fragment
    * that cannot. Both engines embed these exact literals. */
  val EvalFixture: Seq[String] = Seq(
    "table scan merge part window small hash",
    "spark group query row data slow",
    "value merge line table data line join",
    "the quick brown fox jumps over nothing here")

  /** Word k-gram shingles of each doc, distinct per doc. */
  def shingles(docs: DataFrame, k: Int = 3): DataFrame =
    docs.select(col("doc_id"), Analyzer.tokensCol(col("text")).as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(toks) - ${k - 1}), i -> concat_ws(' ', slice(toks, i, $k)))"))
        .as("shingle"))
      .distinct()

  /** [[shingles]] behind a session cache: shingling (tokenize + explode
    * + distinct) is the shared prefix of fingerprinting, n-gram Jaccard
    * and every MinHash op — the cache manager dedups by logical plan,
    * so all of them pin ONE entry per corpus and the tokenize pass runs
    * once per session instead of once per operator. Row width is one
    * (long, short-string) pair per distinct shingle; MEMORY_AND_DISK
    * spills gracefully at corpus scale. */
  def shinglesCached(docs: DataFrame, k: Int = 3): DataFrame =
    shingles(docs, k).cache()

  /** Document fingerprint: min md5 over the doc's shingles (winnowing
    * with window = whole doc; pure string order, no numeric-hash parity
    * issues across engines). */
  def fingerprint(docs: DataFrame): DataFrame =
    shinglesCached(docs).select(col("doc_id"), md5(col("shingle")).as("h"))
      .groupBy("doc_id").agg(min("h").as("fingerprint"))
      .orderBy("doc_id")

  /** N-gram Jaccard near-dup pairs: candidate pairs via shared shingle
    * (df-capped to bound the self-join fan-out — standard trick; cap is
    * part of the operator contract), then exact |∩|/|∪| ≥ threshold.
    * At 100 TB this is the same plan: shingle join is shuffle-on-shingle
    * with the cap keeping the hottest keys out. */
  def ngramJaccard(docs: DataFrame, threshold: Double = 0.5, dfCap: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Jaccard over the df∈[2,cap] shingle subspace — ubiquitous shingles
    // carry no near-dup signal and uncapped they make the self-join
    // quadratic in the hottest key; the SQL oracle applies the same cap.
    //
    // The df-cap is a MAP-SIDE-COMBINED groupBy joined back, not a
    // window count partitioned by shingle: a window funnels every
    // occurrence of the hottest shingle into ONE task's sort buffer (a
    // straggler/spill at corpus scale, and window partitions can't be
    // skew-split), while the partial agg reduces each hot key to one
    // row per map task and the join-back probe streams — AQE skew-join
    // can split it if a key is still hot (round-3 ADVICE). The df table
    // it joins is one narrow row per RARE shingle. The per-doc `sz`
    // window stays: its partitions are bounded by doc length. The whole
    // shRare subtree is still self-joined once below, so AQE reuses its
    // exchange across the a/b branches.
    val sh = shinglesCached(docs)
    val rareKeys = sh
      .groupBy("shingle").agg(count(lit(1)).as("sdf"))
      .filter(col("sdf") <= dfCap && col("sdf") >= 2)
      .select("shingle")
    val shRare = sh
      .join(rareKeys, Seq("shingle"))
      .withColumn("sz", count(lit(1)).over(Window.partitionBy("doc_id")))
      .select("doc_id", "shingle", "sz")
    val pairs = shRare
      .select(col("doc_id").as("a"), col("shingle"), col("sz").as("sza"))
      .join(shRare.select(col("doc_id").as("b"), col("shingle"), col("sz").as("szb")),
        Seq("shingle"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("common"), max("sza").as("sza"), max("szb").as("szb"))
    val thrE6 = math.round(threshold * 1e6)
    pairs
      .withColumn("union_sz", col("sza") + col("szb") - col("common"))
      .withColumn("jaccard_e6", expr("common * 1000000 div union_sz"))
      .filter(col("common") * 1000000L >= lit(thrE6) * col("union_sz"))
      .select("a", "b", "jaccard_e6")
      .orderBy("a", "b")
  }

  /** Session-shared per-(doc, term) TF cache — same discipline as
    * [[shinglesCached]]: CacheManager matches by plan equality, so every
    * op consuming this pins ONE entry per corpus and the tokenize pass
    * runs once per session. Load-bearing for [[unigramSurprisal]] and
    * [[tfidfTopTerms]], which each consume TF on two branches (vocab agg
    * + join-back) whose column pruning differs — without the cache the
    * pruned scans don't canonicalize equal, exchange reuse never fires,
    * and each branch re-tokenizes the corpus (the same trap
    * [[ngramJaccard]]'s history documents for shingles). Row width is
    * (long, short-string, long) per distinct (doc, term) — orders of
    * magnitude narrower than the text; spills gracefully at scale. */
  def tfCached(docs: DataFrame): DataFrame =
    tf(docs).cache()

  /** Floored log2 of a positive integral column, exact in both engines:
    * `length(bin(x)) - 1` — bit-length arithmetic, no floating log whose
    * last-ulp could diverge across Spark/DuckDB (same discipline as the
    * ×10⁶ integer ratios above). */
  private def floorLog2(x: Column): Column =
    (length(bin(x)) - 1).cast("long")

  /** Unigram-LM quality score — the engine-exact analog of the CCNet /
    * Wikipedia-LM perplexity filter a training-data pipeline gates on:
    * per doc, the mean per-token surprisal under the corpus unigram MLE,
    * in FLOORED BITS — surprisal(t) = ⌊log₂(N / cf_t)⌋ via [[floorLog2]]
    * of the integer quotient, so doubles never cross the engine
    * boundary. `mean_surprisal_e6` = Σ tf·bits · 10⁶ div dl. Low values
    * flag boilerplate/stopword-mass docs, high values flag OOV-noise
    * docs — the usual two-sided quality gate.
    *
    * Plan at 100 TB: the per-doc TF subtree is computed once and shared
    * across both consuming branches via [[tfCached]]; the vocabulary
    * table (one narrow row per
    * distinct lemma) aggregates with map-side combine and is orders of
    * magnitude smaller than the corpus; N is a 1-row broadcast; the
    * bits join back onto TF is shuffle-on-term of two narrow tables
    * (AQE will broadcast the vocab side when it fits); the final
    * per-doc agg is map-side combined. No text bytes past the tokenize
    * scan. */
  def unigramSurprisal(docs: DataFrame): DataFrame = {
    val tfs = tfCached(docs)
    val freq = tfs.groupBy("term").agg(sum("tf").as("n_term"))
    val total = freq.agg(sum("n_term").as("n_total"))
    val bits = freq.crossJoin(broadcast(total))
      .select(col("term"), floorLog2(expr("n_total div n_term")).as("bits"))
    val perDoc = tfs.join(bits, Seq("term"))
      .groupBy("doc_id")
      .agg(sum(col("tf") * col("bits")).as("wsum"), sum("tf").as("dl"))
      .select(col("doc_id"), expr("wsum * 1000000 div dl").as("mean_surprisal_e6"))
    docs.select("doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("mean_surprisal_e6"), lit(0L)).as("mean_surprisal_e6"))
      .orderBy("doc_id")
  }

  /** Per-doc top-k TF-IDF terms — the keyword-extraction pass that feeds
    * tagging/routing in a data pipeline (and the reference's lemma-rank
    * idea turned corpus-aware). score = tf · ⌊log₂(N_docs / df)⌋, exact
    * integer in both engines; ties broken by term ascending so the
    * row_number is engine-deterministic.
    *
    * Plan at 100 TB: df is a map-side-combined agg over the shared
    * [[tfCached]] table; N_docs is a 1-row broadcast; the window
    * partitions by
    * doc_id, whose partition size is bounded by a single document's
    * vocabulary — no skew funnel (contrast the df-capped shingle join
    * in [[ngramJaccard]], where the window-by-key form was rejected). */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tfs = tfCached(docs)
    val dfT = tfs.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.groupBy().agg(count(lit(1)).as("n_docs"))
    tfs.join(dfT, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"),
        (col("tf") * floorLog2(expr("n_docs div df"))).as("score"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("score").desc, col("term").asc))
        .cast("long"))
      .filter(col("rnk") <= k)
      .select("doc_id", "term", "score", "rnk")
      .orderBy("doc_id", "rnk")
  }
}
