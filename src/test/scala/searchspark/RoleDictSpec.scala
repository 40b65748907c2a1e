package searchspark

import java.nio.file.Files
import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import searchspark.index.{BuildPipeline, Incremental, IndexBuild, PostingIndex}
import searchspark.model.Turn
import searchspark.query.SearchEngine

/** Role-dictionary round-trip gate (round-2 ADVICE, high severity):
  * null roles are normalized to "" at ingest, so "" is a REAL role that
  * must survive stats.json persistence — the old comma-join +
  * filter(nonEmpty) dropped it, shifting every roleId on reload and
  * making scoped queries silently return foreign docs. Roles containing
  * ',' corrupted the same round trip. */
class RoleDictSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val ts = new Timestamp(0L)

  // three roles that all break the legacy comma-join: null → "", a name
  // containing a comma, and a plain one. The marker term "zebra" sits in
  // HALF of each scope's docs (df/N = 0.5 < 0.85) so the scope-local
  // stopword prune keeps it.
  private def text(marker: String, i: Int, markEvery: Int = 2) =
    if (i % markEvery == 0) s"zebra $marker text$i" else s"$marker filler text$i"
  private def turns: Seq[Turn] =
    (0 until 8).map(i => Turn("cnull", i, null, text("alpha", i), null, ts)) ++
    (0 until 8).map(i => Turn("comma", i, "a,b", text("bravo", i), null, ts)) ++
    (0 until 8).map(i => Turn("plain", i, "user", text("carol", i), null, ts))

  test("empty-string and comma roles survive build → persist → load → scoped search") {
    import spark.implicits._
    val root = Files.createTempDirectory("idx-roles").toString
    BuildPipeline.run(spark, spark.createDataset(turns), root, "roles:v1", partitions = 4)

    val idx = BuildPipeline.loadRelational(spark, root)
    assert(idx.roleList == Seq("", "a,b", "user"),
      s"persisted role dictionary corrupted: ${idx.roleList}")

    val engine = SearchEngine.load(spark, root)
    try {
      // each scope sees exactly ITS 4 marked docs — before the fix,
      // scope "" crashed and scopes decoded under shifted ids saw
      // foreign docs
      for ((scope, conv) <- Seq("" -> "cnull", "a,b" -> "comma", "user" -> "plain")) {
        val r = engine.search("zebra", scope = Some(scope))
        assert(r.ok && r.count == 4, s"scope '$scope': $r")
        assert(r.hits.forall(_.conv_id == conv),
          s"scope '$scope' returned foreign docs: ${r.hits.map(_.conv_id).distinct}")
      }
      // a scope missing from the dictionary answers empty, never throws
      val ghost = engine.search("zebra", scope = Some("ghost"))
      assert(!ghost.ok && ghost.error == "Nothing found")
    } finally engine.close()
  }

  test("incremental append keeps the dictionary append-only through the JSON round trip") {
    import spark.implicits._
    val root = Files.createTempDirectory("idx-roles-inc").toString
    BuildPipeline.run(spark, spark.createDataset(turns), root, "roles:v1", partitions = 4)
    val delta = (0 until 4).map(i => Turn("znew", i, "tool,caller", text("delta", i), null, ts))
    Incremental.append(spark, root, spark.createDataset(delta))

    val idx = BuildPipeline.loadRelational(spark, root)
    assert(idx.roleList == Seq("", "a,b", "user", "tool,caller"),
      s"append must add new roles at the END only: ${idx.roleList}")
    val engine = SearchEngine.load(spark, root)
    try {
      val r0 = engine.search("zebra", scope = Some(""))
      assert(r0.ok && r0.count == 4 && r0.hits.forall(_.conv_id == "cnull"))
      val r1 = engine.search("zebra", scope = Some("tool,caller"))
      assert(r1.ok && r1.count == 2 && r1.hits.forall(_.conv_id == "znew"))
    } finally engine.close()
  }

  test("posting build fails loudly when a tf role is absent from the dictionary") {
    import spark.implicits._
    val idx = IndexBuild.build(spark, spark.createDataset(turns), partitions = 4)
    val corrupted = idx.copy(roleList = Seq("", "user")) // "a,b" dropped
    val e = intercept[Throwable] {
      PostingIndex.build(spark, corrupted, shardSize = 512).collect()
    }
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("absent") && msgs.contains("a,b"),
      s"expected a loud dictionary-miss error naming the role, got: $msgs")
  }
}
