package searchspark.index

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import searchspark.{IndexChecks, TestSpark}
import searchspark.model.{SearchResult, Turn, ZoneConfig}
import searchspark.query.SearchEngine

/** Differential property: a cold build followed by 1-3 appends equals a
  * cold build of the final turn set, keyed by (conv_id, turn_idx) since
  * appended docs are numbered after the current max docId. Compared:
  * the decoded postings, the stats.json sums, the engine's df and the
  * hits of scoped and unscoped queries.
  *
  * Each case is drawn from a pinned seed (`BaseSeed + case`), so a
  * failure names the seed that reproduces it. Appends mix new keys,
  * replaced texts, blank retractions, replays of current turns, blanks
  * for unknown keys, repeated keys in one batch and a role ("admin")
  * that sorts before every existing one; shard size and zones vary per
  * case. */
class AppendPropertySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val Cases = 50
  private val BaseSeed = 20261020L

  private val stems = (1 to 12).map(i => f"w$i%04d")
  private val roles = Seq("user", "assistant", "tool")
  private val NewRole = "admin"

  private val word: Gen[String] = for {
    s <- Gen.frequency(stems.zipWithIndex.map { case (s, i) => (12 - i) -> Gen.const(s) }: _*)
    inflection <- Gen.oneOf("", "", "s", "ing", "ed")
  } yield s + inflection
  private val text: Gen[String] = Gen.frequency(
    10 -> Gen.choose(1, 8).flatMap(Gen.listOfN(_, word)).map(_.mkString(" ")),
    1 -> Gen.const("the of and"), // stopwords only: a doc without terms
    1 -> Gen.oneOf("", "   "))
  private val blank: Gen[String] = Gen.oneOf("", "   ", null)
  private def turn(conv: String, idx: Int, role: Gen[String]): Gen[Turn] = for {
    r <- role
    t <- text
    tool <- Gen.oneOf(None, Some("bash"))
    ts <- Gen.choose(0, 3)
  } yield Turn(conv, idx, r, t, tool.orNull, new Timestamp(1700000000000L + ts * 1000L))

  private val base: Gen[Seq[Turn]] = for {
    nConv <- Gen.choose(2, 5)
    convs <- Gen.sequence[Seq[Seq[Turn]], Seq[Turn]]((0 until nConv).map { c =>
      Gen.choose(1, 6).flatMap(n =>
        Gen.sequence[Seq[Turn], Turn]((0 until n).map(i => turn(f"c$c%02d", i, Gen.oneOf(roles)))))
    })
  } yield convs.flatten

  /** One append batch against the current turn set. */
  private def batch(current: Map[(String, Int), Turn], round: Int): Gen[Seq[Turn]] = {
    val keys = current.keys.toIndexedSeq.sorted
    val anyRole = Gen.frequency(6 -> Gen.oneOf(roles), 1 -> Gen.const(NewRole))
    def existing[T](g: Turn => Gen[T]): Gen[T] =
      if (keys.isEmpty) g(Turn("c99", 0, "user", "w0001", null, new Timestamp(0L)))
      else Gen.oneOf(keys).flatMap(k => g(current(k)))
    val op: Gen[Seq[Turn]] = Gen.frequency(
      // a new key: a turn past a conversation's end, or a new conversation
      4 -> Gen.zip(Gen.choose(0, 6), Gen.choose(0, 7)).flatMap { case (c, i) =>
        turn(f"n$round$c%02d", i, anyRole).map(Seq(_)) },
      3 -> existing(t => turn(t.conv_id, t.turn_idx, anyRole).map(Seq(_))), // replace
      2 -> existing(t => blank.map(b => Seq(t.copy(text = b)))), // retract
      1 -> existing(t => Gen.const(Seq(t))), // replay
      1 -> blank.map(b => Seq(Turn("ghost", round, "user", b, null, new Timestamp(0L)))),
      // a key repeated in the batch, one row possibly blank
      2 -> existing(t => Gen.zip(turn(t.conv_id, t.turn_idx, anyRole),
        Gen.oneOf(turn(t.conv_id, t.turn_idx, anyRole), blank.map(b => t.copy(text = b))))
        .map { case (a, b) => Seq(a, b) }))
    Gen.choose(1, 8).flatMap(Gen.listOfN(_, op)).map(_.flatten)
  }

  /** The turn set after `rows`, under the append's rules: per key the max
    * (ts, role, tool, text) of its non-blank rows replaces or adds the
    * doc; a key whose rows are all blank retracts an existing doc and is
    * ignored otherwise. */
  private def applyBatch(current: Map[(String, Int), Turn], rows: Seq[Turn]): Map[(String, Int), Turn] =
    rows.groupBy(t => (t.conv_id, t.turn_idx)).foldLeft(current) { case (cur, (k, ts)) =>
      val live = ts.filter(t => t.text != null && t.text.trim.nonEmpty)
      if (live.isEmpty) cur - k
      else cur + (k -> live.maxBy(t => (t.ts.getTime, t.role, Option(t.tool), t.text)))
    }

  private final case class Case(base: Seq[Turn], appends: Seq[Seq[Turn]], shardSize: Int,
                                zones: Option[ZoneConfig], queries: Seq[(String, Option[String])])

  private val caseGen: Gen[Case] = for {
    b <- base
    nAppends <- Gen.choose(1, 3)
    appends <- (0 until nAppends).foldLeft(Gen.const((Seq.empty[Seq[Turn]], initial(b)))) {
      case (acc, round) => acc.flatMap { case (done, cur) =>
        batch(cur, round).map(rows => (done :+ rows, applyBatch(cur, rows)))
      }
    }.map(_._1)
    shardSize <- Gen.oneOf(4, 8, 16)
    zones <- Gen.frequency(2 -> Gen.const(None), 1 -> Gen.const(Some(ZoneConfig(titleTokens = 2))))
    queries <- Gen.listOfN(3, Gen.zip(
      Gen.choose(1, 2).flatMap(Gen.listOfN(_, Gen.oneOf(stems))).map(_.mkString(" ")),
      Gen.option(Gen.oneOf(roles :+ NewRole))))
  } yield Case(b, appends, shardSize, zones, queries)

  private def initial(turns: Seq[Turn]) = applyBatch(Map.empty, turns)

  private def ds(turns: Seq[Turn]) = {
    import spark.implicits._
    spark.createDataset(turns)
  }

  /** Each decoded posting as (key, role, dlE1, term, tfE1), sorted. */
  private def keyedPostings(root: String): Seq[((String, Int), String, Long, String, Int)] = {
    val idx = BuildPipeline.loadRelational(spark, root)
    val keyOf = idx.docs.select("docId", "conv_id", "turn_idx").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    BuildPipeline.loadPostings(spark, root).collect().toSeq.flatMap { tp =>
      val (d, t, l, r) = Segments.decodeAll(tp.blocks)
      d.indices.map(i => (keyOf.getOrElse(d(i), (s"no doc ${d(i)}", -1)), idx.roleList(r(i)), l(i),
        tp.term, t(i)))
    }.sorted
  }

  private def keyedDocs(root: String): Map[(String, Int), (String, String, Timestamp, String)] =
    BuildPipeline.loadRelational(spark, root).docs
      .select("conv_id", "turn_idx", "role", "tool", "ts", "text").collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getString(2), r.getString(3), r.getTimestamp(4), r.getString(5))).toMap

  private def liveSums(root: String): Map[String, DocSums] =
    BuildPipeline.statsSums(BuildPipeline.readStats(root).get).get.filter(_._2.n > 0)

  /** A result with its hits in a docId-free order: equal scores tie-break
    * on docId, and appended docIds differ from a cold build's. */
  private def keyed(r: SearchResult) =
    (r.ok, r.error, r.count, r.hits.map(h => (h.conv_id, h.turn_idx, h.role, h.score,
      h.relevance, h.snippet)).sortBy(h => (-h._4, h._1, h._2)))

  test(s"$Cases seeded cases: a cold build plus 1-3 appends == a cold build of the final turns") {
    (0 until Cases).foreach { i =>
      val seed = BaseSeed + i
      val c = caseGen.pureApply(Gen.Parameters.default, Seed(seed))
      val appended = Files.createTempDirectory("prop-append").toString
      val cold = Files.createTempDirectory("prop-cold").toString
      withClue(s"case seed $seed (shardSize ${c.shardSize}, zones ${c.zones}, " +
        s"${c.appends.size} appends): ") {
        BuildPipeline.run(spark, ds(c.base), appended, s"prop:$seed", partitions = 2,
          shardSize = c.shardSize, zones = c.zones)
        c.appends.foreach(rows => Incremental.append(spark, appended, ds(rows)))
        val finalTurns = c.appends.foldLeft(initial(c.base))(applyBatch).values.toSeq
        BuildPipeline.run(spark, ds(finalTurns), cold, s"prop-cold:$seed", partitions = 2,
          shardSize = c.shardSize, zones = c.zones)

        assert(keyedDocs(appended) == keyedDocs(cold), "docs_raw")
        assert(keyedPostings(appended) == keyedPostings(cold), "decoded postings")
        IndexChecks.assertPostingsAreRecompute(spark, appended)
        assert(liveSums(appended) == liveSums(cold), "stats.json sums")
        IndexChecks.assertEngineDfIsRecompute(spark, appended)
        val (a, b) = (SearchEngine.load(spark, appended), SearchEngine.load(spark, cold))
        try c.queries.foreach { case (q, scope) =>
          assert(keyed(a.search(q, scope, 0, 1000)) == keyed(b.search(q, scope, 0, 1000)),
            s"query '$q' scope $scope")
        } finally { a.close(); b.close() }
      }
      Seq(appended, cold).foreach(r => IceLite.deleteTree(Paths.get(r)))
    }
  }
}
