package searchspark.model

import java.sql.Timestamp

/** Core row types of the engine.
  *
  * Data-model mapping from the reference (see SURVEY.md §1.2):
  *  - reference `page` (one crawled URL, key `(site_id, path)`,
  *    /root/reference/src/main/java/searchengine/model/Page.java:7-29) →
  *    [[Turn]]: one transcript turn, key `(conv_id, turn_idx)`.
  *  - reference `lemma(site_id, lemma, frequency)`
  *    (model/Lemma.java:6-25) → no table: a term's df is counted from
  *    its postings (the serving partitions at query time;
  *    IndexBuild.termDict / termsByRole over tf rows re-derived from the
  *    docs for a full listing),
  *    keyed by the term itself (no lemma_id). `df` = number of distinct
  *    documents containing the term (the honest version of the
  *    reference's `lemma.frequency`, which could double-count
  *    title+body, Link.java:201-207).
  *  - reference `index(page_id, lemma_id, rank)`
  *    (model/IndexEntity.java:5-23) → tf rows (docId, role, dlE1, term,
  *    tfE1), computed from the docs at build time and stored only as
  *    [[TermPostings]] of compressed [[PostingBlock]]s, which hold every
  *    field of a tf row (PostingIndex.decode gives them back). The
  *    reference stores its posting list once, and so does the index. The
  *    reference's rank is the zone-weighted
  *    tf (Link.java:188-218); transcripts are single-zone unless a
  *    [[ZoneConfig]] is given, so rank == tf (SURVEY.md §1.2).
  */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp)

/** Zone-weighted TF configuration (reference C5: per-(page,lemma) rank =
  * tf_in_tag × ratio with title 1.0 / body 0.8, the body call REPLACING
  * a title row — Link.java:88-100,209-216, records/IndexingParameters
  * .java:3). Transcripts have no HTML tags; the zone split is the first
  * `titleTokens` raw tokens of a turn (title) vs the rest (body).
  * Weights are ×10 integers so every tf stays exact integer arithmetic:
  * tfE1(doc, term) = tfBody·bodyWeightE1 if term in body else
  * tfTitle·titleWeightE1. */
final case class ZoneConfig(
    titleTokens: Int,
    titleWeightE1: Int = 10,
    bodyWeightE1: Int = 8)

/** One compressed posting block: up to `count` postings for one term
  * within one shard, docIds delta+varint encoded relative to `firstDoc`,
  * tfE1s, dlE1s (×10-scaled weighted tf / doc length — exact integers
  * even under zone weights) and per-posting roleIds varint encoded.
  *
  * Pruning metadata is STATS-FREE: `maxTfE1` / `minDl` bound the BM25
  * partial at QUERY time under whatever (idf, avgdl) are current —
  * partial is increasing in tf and decreasing in dl, so
  * partialE1(idf, maxTfE1, minDl, avgdl) ≥ any doc's partial in the
  * block. This is what makes reused incremental shards and scope-local
  * stats sound (a build-time maxScore baked under stale global stats
  * would not be an upper bound after avgdl/df drift — VERDICT r1). */
final case class PostingBlock(
    firstDoc: Long,
    lastDoc: Long,
    count: Int,
    maxTfE1: Int,
    minDl: Long,
    docs: Array[Byte],
    tfs: Array[Byte],
    dls: Array[Byte],
    roles: Array[Byte])

/** Posting list of one term within one doc-range shard. Shards are
  * docId ranges (docId / shardSize), so query-time intersection is
  * shard-local (scatter-gather top-k, no cross-shard shuffle). A row
  * holds nothing global: a term's df is the sum of its rows' posting
  * counts over all shards, so a shard an append does not touch keeps
  * its rows unchanged and they can never go stale. */
final case class TermPostings(
    shard: Int,
    term: String,
    blocks: Array[PostingBlock])

/** Scored search hit (API parity with the reference's response rows:
  * dto/searching/SearchingData fields site/uri/title/snippet/relevance;
  * SearchingServiceImpl.java:62-84). `score` is the raw BM25 value,
  * `relevance` = score / maxScore (the reference's r/max normalization,
  * SearchingServiceImpl.java:124-126). */
final case class Hit(
    docId: Long,
    conv_id: String,
    turn_idx: Int,
    role: String,
    score: Double,
    relevance: Double,
    snippet: String)

/** Search response (reference SearchingResponse: result/count/data/error,
  * dto/searching package). `count` = TOTAL candidate count before
  * pagination (SearchingServiceImpl.java:123). */
final case class SearchResult(
    ok: Boolean,
    count: Long,
    hits: Seq[Hit],
    error: String)
