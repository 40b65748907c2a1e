package searchspark

import org.scalatest.funsuite.AnyFunSuite

import searchspark.gen.TranscriptGen
import searchspark.index.{IndexBuild, PostingIndex}
import searchspark.model.SearchResult
import searchspark.oracle.ScalarOracle
import searchspark.query.SearchEngine
import searchspark.stats.StatsService

/** THE rank-identity gate (SURVEY.md §5.3, BASELINE.md row "query
  * correctness"): the Spark engine must return the oracle's docIDs AND
  * BM25 scores with exact Double equality, same total count, same
  * normalized relevance, same snippets, on the whole reference query
  * set. */
class RankIdentitySpec extends AnyFunSuite {

  private lazy val turns = QueryFixtures.corpus(TranscriptGen.UnitConvs * 4) // ~2k turns
  private lazy val oracle = new ScalarOracle(turns)
  private lazy val idx = {
    val spark = TestSpark.spark
    import spark.implicits._
    IndexBuild.build(spark, spark.createDataset(turns), partitions = 4).cache()
  }

  def assertSame(id: String, engine: SearchResult, expect: SearchResult): Unit = {
    assert(engine.ok == expect.ok, s"$id ok")
    assert(engine.error == expect.error, s"$id error")
    assert(engine.count == expect.count, s"$id total count")
    assert(engine.hits.size == expect.hits.size, s"$id page size")
    engine.hits.zip(expect.hits).zipWithIndex.foreach { case ((e, x), i) =>
      assert(e.docId == x.docId, s"$id hit#$i docId: engine=${e.docId} oracle=${x.docId}")
      assert(e.score == x.score, s"$id hit#$i score exact: ${e.score} vs ${x.score}")
      assert(e.relevance == x.relevance, s"$id hit#$i relevance")
      assert(e.conv_id == x.conv_id && e.turn_idx == x.turn_idx, s"$id hit#$i key")
      assert(e.snippet == x.snippet, s"$id hit#$i snippet")
    }
  }

  test("corpus sanity: blanks excluded, fillers are stopword-tier") {
    assert(oracle.docCount > 1000)
    assert(oracle.skippedBlank > 0)
    val n = oracle.docCount
    TranscriptGen.FillerTerms.foreach { f =>
      assert(oracle.df(f).toDouble / n >= 0.85, s"$f df=${oracle.df(f)} n=$n")
    }
  }

  test("index stats match oracle") {
    assert(idx.stats.n == oracle.docCount)
    assert(idx.stats.skippedBlank == oracle.skippedBlank)
    assert(idx.stats.avgdl == oracle.avgdlGlobal)
    assert(StatsService.collect(idx).totalTerms == oracle.termCount)
  }

  // "Parity path": SearchEngine at its default shard size, which puts the
  // ~2k-turn corpus in one shard.
  test("parity path is rank-identical to the oracle on the query set") {
    val spark = TestSpark.spark
    val queries = QueryFixtures.deriveQueries(oracle)
    assert(queries.nonEmpty)
    val engine = SearchEngine(spark, idx, PostingIndex.build(spark, idx))
    try queries.foreach { q =>
      val expect = oracle.search(q.query, q.scope, q.offset, q.limit)
      assertSame(q.id, engine.search(q.query, q.scope, q.offset, q.limit), expect)
    } finally engine.close()
  }

  test("semantic branches hit what they should") {
    // q03: disjoint rare terms → not found
    val queries = QueryFixtures.deriveQueries(oracle).map(q => q.id -> q).toMap
    assert(!oracle.search(queries("q03").query).ok)
    // q06: only stopword-tier terms → all pruned → not found
    assert(!oracle.search(queries("q06").query).ok)
    // q07: blank → validation error
    assert(oracle.search("  ").error == "Empty search query")
    // q05 == q01: unknown term silently dropped
    val r05 = oracle.search(queries("q05").query)
    val r01 = oracle.search(queries("q01").query)
    assert(r05.count == r01.count)
    assert(r05.hits.map(_.docId) == r01.hits.map(_.docId))
    // q04: filler pruned → equals rare-term-alone result
    val q04 = queries("q04")
    val rareAlone = q04.query.split(" ").head
    val r04 = oracle.search(q04.query)
    val rRare = oracle.search(rareAlone)
    assert(r04.hits.map(_.docId) == rRare.hits.map(_.docId))
    // q10: pagination windows disjoint, same total
    val rA = oracle.search(queries("q10a").query, None, 20, 20)
    val rB = oracle.search(queries("q10b").query, None, 40, 20)
    assert(rA.count == rB.count)
    assert(rA.hits.map(_.docId).toSet.intersect(rB.hits.map(_.docId).toSet).isEmpty)
  }
}
