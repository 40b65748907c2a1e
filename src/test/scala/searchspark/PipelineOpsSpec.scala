package searchspark

import org.scalatest.funsuite.AnyFunSuite

import searchspark.ops.{EventOps, SimOps, TextOps}

/** PII scrub + decontamination behavior on crafted fixtures (the
  * testdata corpus contains no PII, so the driver query only pins
  * cross-engine pattern parity — this pins the semantics). */
class PipelineOpsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("piiScrub redacts emails, urls, digit runs and counts per class") {
    import spark.implicits._
    val docs = Seq(
      (0L, "contact alice.smith+x@example.co.uk or call +1 (415) 555-0199 now"),
      (1L, "see https://example.com/a?b=c and http://foo.bar/baz too"),
      (2L, "no pii here at all")).toDF("doc_id", "text")
    val out = TextOps.piiScrub(docs).collect()
      .map(r => (r.getLong(0), r.get(1), r.get(2), r.get(3), r.getString(4))).toSeq
    assert(out(0)._2 == 1 && out(0)._4 == 1, "one email + one digit run in doc 0")
    assert(out(1)._3 == 2, "two urls in doc 1")
    assert(out(2)._2 == 0 && out(2)._3 == 0 && out(2)._4 == 0)
    // the scrubbed hash equals the hash of the expected redacted string
    val expected0 = "contact <EMAIL> or call +<NUM> now" // leading + is outside the digit-run pattern
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(expected0.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(0)._5 == md5, "redaction must produce the exact expected text")
  }

  test("decontaminate flags docs sharing a 3-gram with the eval set") {
    import spark.implicits._
    val docs = Seq(
      (0L, "clean document with its own words"),
      (1L, "prefix table scan merge suffix"), // contains an eval 3-gram
      (2L, "scan merge unrelated")).toDF("doc_id", "text")
    val out = TextOps.decontaminate(docs, TextOps.EvalFixture).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(out == Seq((0L, 0L, false), (1L, 1L, true), (2L, 0L, false)))
  }

  test("decontaminateOverlap grades the contaminated-shingle fraction") {
    import spark.implicits._
    val docs = Seq(
      (0L, "clean document with its own words"), // 6 toks → 4 shingles, 0 hits
      (1L, "prefix table scan merge suffix"), // 3 shingles, 1 hit ("table scan merge")
      (2L, "scan merge unrelated"), // 1 shingle, 0 hits
      (3L, "too short")) // <3 tokens → no shingles at all
      .toDF("doc_id", "text")
    val out = TextOps.decontaminateOverlap(docs, TextOps.EvalFixture).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out == Seq(
      (0L, 4L, 0L, 0L),
      (1L, 3L, 1L, 333333L), // 1·10⁶ div 3
      (2L, 1L, 0L, 0L),
      (3L, 0L, 0L, 0L)))
  }

  test("annBatchTopK names query vec_ids missing from the embeddings") {
    import spark.implicits._
    val emb = Seq((0L, Array(1f, 0f)), (1L, Array(0f, 1f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException](SimOps.annBatchTopK(emb, Seq(1L, 7L, 9L), 1))
    assert(e.getMessage.contains("vec_ids 7,9 not found"), e.getMessage)
  }

  test("annBatchTopK names query vec_ids duplicated in the embeddings") {
    import spark.implicits._
    val emb = Seq((0L, Array(1f, 0f)), (1L, Array(0f, 1f)), (1L, Array(1f, 1f)), (2L, Array(1f, 2f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException](SimOps.annBatchTopK(emb, Seq(0L, 1L), 1))
    assert(e.getMessage.contains("vec_ids 1 occur more than once"), e.getMessage)
  }

  test("sessionize: gap splits, tie order, integer sums, one exchange") {
    import spark.implicits._
    import java.sql.Timestamp
    val H = 3600L * 1000L // one hour in millis
    def ts(ms: Long) = new Timestamp(ms)
    // user 1: events at 0h, 1h, 9h (gap 8h > 4h → 2 sessions);
    // user 2: two events at the SAME timestamp (tie → event_id order,
    //         one session) then 100h (new session);
    // user 3: single event
    val ev = Seq(
      (10L, ts(0L), 1L, "view", 1.005, "{}"),
      (11L, ts(1L * H), 1L, "click", 2.0, "{}"),
      (12L, ts(9L * H), 1L, "view", 0.4, "{}"),
      (20L, ts(5L * H), 2L, "view", 10.0, "{}"),
      (21L, ts(5L * H), 2L, "error", 0.111, "{}"),
      (22L, ts(100L * H), 2L, "view", 3.0, "{}"),
      (30L, ts(7L * H), 3L, "view", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventOps.sessionize(ev)
    val out = q.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(5), r.getLong(6)))
    def us(h: Long) = h * 3600L * 1000000L
    assert(out.toSeq == Seq(
      // floor(1.005*100)=100 (double 1.005*100 = 100.49...), floor(2.0*100)=200
      (1L, 1L, 2L, us(0), us(1), 300L),
      (1L, 2L, 1L, us(9), 0L, 40L),
      (2L, 1L, 2L, us(5), 0L, 1011L), // floor(10*100)+floor(0.111*100)=1000+11
      (2L, 2L, 1L, us(100), 0L, 300L),
      (3L, 1L, 1L, us(7), 0L, 0L)))
    // scale pin: HashPartitioning(user_id) from the window must satisfy
    // the (user_id, session_seq) aggregation — exactly ONE exchange
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val exec = EventOps.sessionize(ev).queryExecution.executedPlan
      val shuffles = exec.collect { case e: ShuffleExchangeExec => e }
      // the final orderBy adds a range exchange; only ONE hash exchange
      // (the window's) may exist
      val hashShuffles = shuffles.filter(_.outputPartitioning.toString.contains("hashpartitioning"))
      assert(hashShuffles.size == 1,
        s"sessionize must reuse the window's partitioning for the agg:\n$exec")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("windowedCounts: integer bucketing, distinct users, edge event") {
    import spark.implicits._
    import java.sql.Timestamp
    val H = 3600L * 1000L
    def ts(ms: Long) = new Timestamp(ms)
    val ev = Seq(
      (1L, ts(0L), 1L, "view", 1.0, "{}"),
      (2L, ts(30L * 60L * 1000L), 1L, "view", 2.0, "{}"), // same hour, same user
      (3L, ts(H - 1L), 2L, "view", 0.5, "{}"), // last ms of hour 0
      (4L, ts(H), 2L, "view", 4.0, "{}"), // exactly on the boundary → hour 1
      (5L, ts(H + 1L), 3L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = EventOps.windowedCounts(ev).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val hourUs = 3600L * 1000000L
    assert(out.toSeq == Seq(
      (0L, "view", 3L, 2L, 350L), // users {1,2}; 100+200+50
      (hourUs, "click", 1L, 1L, 100L),
      (hourUs, "view", 1L, 1L, 400L)))
  }

  private def fl2(x: Long): Long = 63L - java.lang.Long.numberOfLeadingZeros(x)

  test("unigramSurprisal = mean floored-log2 bits under the corpus unigram MLE") {
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha alpha alpha alpha alpha alpha alpha"),
      (1L, "alpha beta gamma"),
      (2L, "beta beta gamma delta"),
      (3L, "")) // zero surviving terms → 0
      .toDF("doc_id", "text")
    // ground truth recomputed from the op's own TF stage (tokenize/lemma
    // parity is pinned by the driver oracle; this pins the bit-length
    // weighting and the ×10⁶ div)
    val tfRows = TextOps.tf(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val cf = tfRows.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val n = cf.values.sum
    val expected = tfRows.groupBy(_._1).view.mapValues { rows =>
      val wsum = rows.map { case (_, t, tf) => tf * fl2(n / cf(t)) }.sum
      val dl = rows.map(_._3).sum
      wsum * 1000000L / dl
    }.toMap.withDefaultValue(0L)
    val out = TextOps.unigramSurprisal(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq(0L, 1L, 2L, 3L).map(id => (id, expected(id))))
    // sanity on the shape: the all-one-common-term doc scores LOWER than
    // the doc holding the corpus-rarest term
    assert(expected(0L) < expected(2L))
  }

  test("tfidfTopTerms ranks tf·floor-log2-idf with term-asc ties, k=3") {
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha alpha beta gamma delta"),
      (1L, "alpha beta"),
      (2L, "alpha epsilon epsilon"),
      (3L, "alpha")).toDF("doc_id", "text")
    val tfRows = TextOps.tf(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val df = tfRows.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val nDocs = 4L
    val expected = tfRows.groupBy(_._1).view.mapValues { rows =>
      rows.map { case (_, t, tf) => (t, tf * fl2(nDocs / df(t))) }
        .sortBy { case (t, s) => (-s, t) }.take(3)
        .zipWithIndex.map { case ((t, s), i) => (t, s, i + 1L) }.toSeq
    }.toMap
    val out = TextOps.tfidfTopTerms(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val got = out.groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3, t._4)).toSeq).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (id, exp) => assert(got(id) == exp, s"doc $id") }
  }
}
