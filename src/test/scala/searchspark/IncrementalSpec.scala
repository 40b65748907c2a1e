package searchspark

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import searchspark.gen.TranscriptGen
import searchspark.index._
import searchspark.model.Turn
import searchspark.query.SearchEngine

/** C9 incremental (re)index: delta TF + shard-local segment rebuild +
  * union merge must equal a full recompute from the same updated
  * docs_raw (identical docIds ⇒ directly comparable tables). */
class IncrementalSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def ds(turns: Seq[Turn]) = {
    import spark.implicits._
    spark.createDataset(turns)
  }

  test("append new convs + replace one turn == full recompute, shards mostly reused") {
    val root = Files.createTempDirectory("idx-incr").toString
    val base = TranscriptGen.localCorpus(42L, 30)
    BuildPipeline.run(spark, ds(base), root, "gen:42:30", partitions = 4, shardSize = 256)

    // delta: 3 brand-new conversations + one existing turn re-indexed
    // with new text (the reference's re-fetch path)
    val newConvs = (100L until 103L).flatMap(TranscriptGen.conversation(42L, _))
    val edited = base.head.copy(text = "completely new wording about w0001 w0002 tables")
    val delta = ds(newConvs :+ edited)

    val rep = Incremental.append(spark, root, delta, partitions = 4, shardSize = 256)
    assert(rep.replaced == 1)
    assert(rep.added > 50)
    assert(rep.shardsReused > 0, "expected untouched shards to be reused")

    // full recompute from the SAME updated docs_raw (same ids)
    val docsRaw = IceLite.read(spark, Paths.get(root, "docs_raw").toString)
    val tfFull = IndexBuild.tfFromDocs(docsRaw)
    val tfIncr = IceLite.read(spark, Paths.get(root, "tf").toString)
    assert(tfIncr.exceptAll(tfFull).count() == 0 && tfFull.exceptAll(tfIncr).count() == 0,
      "incremental tf != full recompute")

    // postings: decoded content must match a from-scratch segment build
    val idx = BuildPipeline.loadRelational(spark, root)
    val full = PostingIndex.build(spark, idx, shardSize = 256)
    val incr = BuildPipeline.loadPostings(spark, root)
    def flat(p: org.apache.spark.sql.Dataset[searchspark.model.TermPostings]) =
      p.collect().flatMap { tp =>
        val (d, t, l, ri) = Segments.decodeAll(tp.blocks)
        d.indices.map(i => (tp.shard, tp.term, d(i), t(i), l(i), ri(i)))
      }.sortBy(x => (x._1, x._2, x._3)).toSeq
    assert(flat(incr) == flat(full), "incremental segments != full rebuild")

    // and the merged index answers queries (replaced text is findable)
    val postings = BuildPipeline.loadPostings(spark, root)
    val engine = SearchEngine(spark, idx, postings, shardSize = 256)
    val r = try engine.search("completely wording") finally engine.close()
    assert(r.ok && r.hits.exists(h =>
      h.conv_id == edited.conv_id && h.turn_idx == edited.turn_idx))
  }

  test("blanking an existing key retracts the doc (delete-through-append)") {
    val root = Files.createTempDirectory("idx-retract").toString
    val base = TranscriptGen.localCorpus(42L, 20)
    BuildPipeline.run(spark, ds(base), root, "gen:42:20", partitions = 4, shardSize = 256)
    val victim = base.head
    val preIdx = BuildPipeline.loadRelational(spark, root)
    val preN = preIdx.stats.n
    val victimId = preIdx.docs
      .filter(org.apache.spark.sql.functions.col("conv_id") === victim.conv_id &&
        org.apache.spark.sql.functions.col("turn_idx") === victim.turn_idx)
      .select("docId").head.getLong(0)

    // the delta: blank the victim, plus a blank for an UNKNOWN key
    // (must stay ignored), plus one genuinely new conversation
    val delta = Seq(
      victim.copy(text = "   "),
      victim.copy(conv_id = "ghost-conv", text = null)) ++
      TranscriptGen.conversation(42L, 700L)
    val rep = Incremental.append(spark, root, ds(delta), partitions = 4)
    assert(rep.retracted == 1, s"exactly the victim retracts: $rep")
    assert(rep.replaced == 0)

    // gone from docs_raw, tf, and the rebuilt segments
    val idx = BuildPipeline.loadRelational(spark, root)
    assert(idx.docs.filter(org.apache.spark.sql.functions.col("docId") === victimId).count() == 0)
    assert(idx.tf.filter(org.apache.spark.sql.functions.col("docId") === victimId).count() == 0)
    assert(idx.stats.n == preN + rep.added - 1)
    val postings = BuildPipeline.loadPostings(spark, root)
    val decodedIds = postings.collect().flatMap(tp => Segments.decodeAll(tp.blocks)._1).toSet
    assert(!decodedIds.contains(victimId), "retracted doc must leave the segments")

    // and the result equals a cold build over the surviving turns —
    // compared by (key, score, count), NOT docId: retraction correctly
    // PRESERVES surviving ids while a cold build re-ranks them densely
    // (the id renumbering is monotone, so ordering/ties are unaffected)
    val survivors = base.tail ++ TranscriptGen.conversation(42L, 700L)
    val oracle = new searchspark.oracle.ScalarOracle(survivors)
    val served = SearchEngine(spark, idx, postings, shardSize = 256)
    val engine = try served.search("w0001 w0002") finally served.close()
    val expect = oracle.search("w0001 w0002", None)
    assert(engine.ok && expect.ok && engine.count == expect.count)
    assert(engine.hits.map(h => (h.conv_id, h.turn_idx, h.score)) ==
      expect.hits.map(h => (h.conv_id, h.turn_idx, h.score)))
  }

  test("append introducing a role that sorts FIRST keeps scoped search correct") {
    val root = Files.createTempDirectory("idx-role").toString
    val base = TranscriptGen.localCorpus(42L, 20)
    BuildPipeline.run(spark, ds(base), root, "gen:42:20", partitions = 4, shardSize = 256)
    val preIdx = BuildPipeline.loadRelational(spark, root)
    val oldRoleIds = preIdx.roleIds

    // "admin" sorts before every generated role — a rank-in-sorted-set
    // mapping would shift EVERY existing id and corrupt kept shards
    val delta = (500L until 502L).flatMap(TranscriptGen.conversation(42L, _))
      .map(_.copy(role = "admin"))
    Incremental.append(spark, root, ds(delta), partitions = 4)

    val idx = BuildPipeline.loadRelational(spark, root)
    assert(oldRoleIds.forall { case (r, id) => idx.roleIds(r) == id },
      "existing role ids must be stable across appends (append-only dictionary)")
    assert(idx.roleIds.contains("admin"))

    // scoped searches over the merged index == oracle over the union
    val allTurns = base ++ delta
    val oracle = new searchspark.oracle.ScalarOracle(allTurns)
    val postings = BuildPipeline.loadPostings(spark, root)
    val spec = new RankIdentitySpec
    val engine = SearchEngine(spark, idx, postings, shardSize = 256)
    try Seq("user", "assistant", "admin").foreach { role =>
      val q = "w0001 w0002"
      spec.assertSame(s"role-append-$role",
        engine.search(q, scope = Some(role)),
        oracle.search(q, Some(role)))
    } finally engine.close()
  }
}
