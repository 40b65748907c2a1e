package searchspark.query

import java.sql.Timestamp

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import searchspark.TestSpark
import searchspark.gen.TranscriptGen
import searchspark.index.{BuiltIndex, IndexBuild, PostingIndex}
import searchspark.model.{SearchResult, Turn, ZoneConfig}
import searchspark.oracle.ScalarOracle

/** Differential property: on generated queries, `SearchEngine` answers
  * exactly like `ScalarOracle`: the same ok flag, error text and total,
  * and per hit the same docId, key, role, `Double` score, relevance and
  * snippet.
  *
  * Three small corpora are each built once, in a layout of several
  * 64-doc shards over several serving partitions. A query mixes 1-4
  * terms drawn from the corpus's head, rare and pruned (filler) terms,
  * inflected forms and unknown words, or is blank; its scope is none,
  * a role of the corpus or an unknown role; its window may start past
  * the last hit, at a huge offset, or hold no rows (`limit = 0`) or
  * every row (`limit = Int.MaxValue`). Each case runs on a fresh engine,
  * so its df lookup is cold, and again on the same engine, warm.
  *
  * Each case is drawn from a pinned seed (`BaseSeed + 1000 · corpus +
  * case`), so a failure names the seed that reproduces it. */
class SearchPropertySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val CasesPerCorpus = 80
  private val BaseSeed = 20261021L
  private val ShardSize = 64
  private val UnknownRole = "no-such-role"

  /** A small-vocabulary corpus: a head term in most docs (pruned or
    * not, by scope), null roles (indexed as role ""), blank turns and
    * stopword-only turns. */
  private val smallVocab: Seq[Turn] = {
    val stems = (1 to 12).map(i => f"w$i%04d")
    val word = for {
      s <- Gen.frequency(stems.zipWithIndex.map { case (s, i) => (12 - i) -> Gen.const(s) }: _*)
      inflection <- Gen.oneOf("", "", "s", "ing", "ed")
    } yield s + inflection
    val text = Gen.frequency(
      12 -> (for {
        n <- Gen.choose(1, 10)
        ws <- Gen.listOfN(n, word)
        head <- Gen.frequency(4 -> Gen.const(" hx"), 1 -> Gen.const(""))
      } yield ws.mkString(" ") + head),
      1 -> Gen.const("the of and"),
      1 -> Gen.oneOf("", "   "))
    val turns = for {
      nConv <- Gen.choose(60, 80)
      convs <- Gen.sequence[Seq[Seq[Turn]], Seq[Turn]]((0 until nConv).map { c =>
        Gen.choose(1, 8).flatMap(n => Gen.sequence[Seq[Turn], Turn]((0 until n).map { i =>
          for {
            role <- Gen.frequency(4 -> Gen.oneOf("user", "assistant"), 1 -> Gen.const("tool"),
              1 -> Gen.const(null: String))
            t <- text
          } yield Turn(f"s$c%03d", i, role, t, null, new Timestamp(1700000000000L + i * 1000L))
        }))
      })
    } yield convs.flatten
    turns.pureApply(Gen.Parameters.default, Seed(BaseSeed))
  }

  private final class Corpus(val name: String, turns: Seq[Turn], zones: Option[ZoneConfig]) {
    val oracle = new ScalarOracle(turns, zones)
    lazy val idx: BuiltIndex = {
      import spark.implicits._
      IndexBuild.build(spark, spark.createDataset(turns), partitions = 4, zones).cache()
    }
    lazy val postings = PostingIndex.build(spark, idx, shardSize = ShardSize).cache()
    val roles: Seq[String] = oracle.docs.map(_.role).distinct.sorted

    private val n = oracle.docCount
    private val byDf = oracle.vocabulary.sortBy(t => (-oracle.df(t), t))
    private val filler = byDf.filter(t => !Scoring.survivesPrune(oracle.df(t), n))
    private val kept = byDf.filterNot(filler.contains)
    private val head = kept.take(8)
    private val rare = kept.filter(t => oracle.df(t) <= 3)

    private def from(pool: Seq[String]): Gen[String] =
      if (pool.isEmpty) Gen.oneOf(kept) else Gen.oneOf(pool)
    private val term: Gen[String] = Gen.frequency(
      4 -> from(head), 3 -> from(rare), 2 -> from(filler), 2 -> Gen.oneOf(kept),
      1 -> Gen.zip(from(head), Gen.oneOf("s", "ing", "ed")).map { case (t, s) => t + s },
      1 -> Gen.choose(3, 6).flatMap(Gen.listOfN(_, Gen.alphaLowerChar))
        .map(cs => "qzz" + cs.mkString)) // unknown
    private val query: Gen[String] = Gen.frequency(
      12 -> Gen.frequency(4 -> Gen.const(1), 3 -> Gen.const(2), 2 -> Gen.const(3), 1 -> Gen.const(4))
        .flatMap(Gen.listOfN(_, term)).map(_.mkString(" ")),
      1 -> Gen.oneOf("", "   ", null))
    private val scope: Gen[Option[String]] = Gen.frequency(
      4 -> Gen.const(None), 4 -> Gen.oneOf(roles).map(Some(_)), 1 -> Gen.const(Some(UnknownRole)))
    private val offset: Gen[Int] = Gen.frequency(
      5 -> Gen.const(0), 4 -> Gen.choose(1, 30),
      1 -> Gen.choose(n.toInt, n.toInt + 50), // past the last hit
      1 -> Gen.choose(0, 10).map(Int.MaxValue - _))
    private val limit: Gen[Int] = Gen.frequency(
      6 -> Gen.choose(1, 30), 2 -> Gen.const(0), 1 -> Gen.choose(100, 2000),
      1 -> Gen.const(Int.MaxValue))
    val cases: Gen[(String, Option[String], Int, Int)] =
      for { q <- query; s <- scope; o <- offset; l <- limit } yield (q, s, o, l)
  }

  private lazy val corpora = Seq(
    new Corpus("generated 30 conversations, seed 7", TranscriptGen.localCorpus(7L, 30), None),
    new Corpus("generated 12 conversations, seed 42, zones",
      TranscriptGen.localCorpus(42L, 12), Some(ZoneConfig(titleTokens = 3))),
    new Corpus("small vocabulary", smallVocab, None))

  corpora.indices.foreach { ci =>
    test(s"corpus $ci: $CasesPerCorpus seeded queries, cold and warm, == ScalarOracle") {
      val c = corpora(ci)
      try {
        val nShards = c.postings.select("shard").distinct().count()
        assert(nShards >= 4, s"fixture sanity: ${c.name} has $nShards shards")
        val outcomes = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
        (0 until CasesPerCorpus).foreach { i =>
          val seed = BaseSeed + ci * 1000 + i
          val (q, scope, offset, limit) = c.cases.pureApply(Gen.Parameters.default, Seed(seed))
          withClue(s"${c.name}, case seed $seed: query '$q' scope $scope offset $offset limit $limit: ") {
            val expect = c.oracle.search(q, scope, offset, limit)
            outcomes(outcome(expect)) += 1
            val engine = SearchEngine(spark, c.idx, c.postings, shardSize = ShardSize)
            try {
              assertSame("cold", engine.search(q, scope, offset, limit), expect)
              assertSame("warm", engine.search(q, scope, offset, limit), expect)
            } finally engine.close()
          }
        }
        // the generator reaches every branch of the answer on every corpus
        assert(Outcomes.forall(outcomes(_) > 0), s"outcomes of ${c.name}: $outcomes")
      } finally { c.postings.unpersist(); c.idx.unpersist() }
    }
  }

  private val Outcomes = Seq("hits", "empty page", "Nothing found", "Empty search query")
  private def outcome(r: SearchResult): String =
    if (!r.ok) r.error else if (r.hits.isEmpty) "empty page" else "hits"

  private def assertSame(what: String, got: SearchResult, expect: SearchResult): Unit = {
    assert((got.ok, got.error, got.count) == ((expect.ok, expect.error, expect.count)),
      s"$what: ok, error, total")
    assert(got.hits.size == expect.hits.size, s"$what: page size")
    got.hits.zip(expect.hits).zipWithIndex.foreach { case ((g, e), i) =>
      assert(g == e, s"$what: hit #$i")
    }
  }
}
