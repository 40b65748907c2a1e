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
    IndexChecks.assertDictionaryIsRecompute(spark, root)

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

  private def snap(root: String, t: String) =
    IceLite.currentSnapshot(Paths.get(root, t).toString).get

  test("dictionary and stats by delta == full recompute, through a term's and a role's last doc") {
    val root = Files.createTempDirectory("idx-dict").toString
    // one doc holds the only "auditor" role and the only "qqzzyx" term
    val solo = Turn("solo-conv", 0, "auditor", "qqzzyx audits w0001 tables", null,
      new java.sql.Timestamp(1700000000000L))
    val base = TranscriptGen.localCorpus(42L, 20) :+ solo
    BuildPipeline.run(spark, ds(base), root, "gen:42:20+solo", partitions = 4, shardSize = 256)
    val pre = BuildPipeline.loadRelational(spark, root)
    val preIds = pre.terms.select("term", "termId").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(preIds.contains("qqzzyx") && pre.statsByRole.contains("auditor"))
    IndexChecks.assertEngineDfIsDictionary(spark, root)

    // retract the solo doc, replace a turn, add a conversation
    val delta = Seq(solo.copy(text = ""),
      base.head.copy(text = "aaaa zzzz replaced wording w0002")) ++
      TranscriptGen.conversation(42L, 900L)
    val rep = Incremental.append(spark, root, ds(delta), partitions = 4)
    assert(rep.retracted == 1 && rep.replaced == 1 && rep.added > 0, s"$rep")
    IndexChecks.assertDictionaryIsRecompute(spark, root)
    // the engine counts the retracted term as unknown, and nothing in the
    // role whose last doc left
    IndexChecks.assertEngineDfIsDictionary(spark, root, gone = Seq("qqzzyx"))

    val idx = BuildPipeline.loadRelational(spark, root)
    val ids = idx.terms.select("term", "termId").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!ids.contains("qqzzyx"), "a term whose df reaches 0 leaves the dictionary")
    assert(idx.termsByRole.filter(org.apache.spark.sql.functions.col("role") === "auditor")
      .count() == 0)
    assert(!idx.statsByRole.contains("auditor"), "a role without docs has no stats")
    assert(idx.roleIds("auditor") == pre.roleIds("auditor"), "the role dictionary is append-only")
    // existing terms keep their id; new ones follow the old max, by term
    assert(ids.forall { case (t, id) => preIds.get(t).forall(_ == id) })
    val fresh = ids.filter { case (t, _) => !preIds.contains(t) }.toSeq.sortBy(_._1)
    assert(fresh.map(_._1).contains("aaaa"))
    assert(fresh.map(_._2) == fresh.indices.map(_ + preIds.values.max + 1))

    // the role comes back on a second append, which chains the generation
    Incremental.append(spark, root, ds(Seq(solo.copy(conv_id = "solo-conv-2"))), partitions = 4)
    IndexChecks.assertDictionaryIsRecompute(spark, root)
    IndexChecks.assertEngineDfIsDictionary(spark, root)
    assert(BuildPipeline.loadRelational(spark, root).statsByRole.contains("auditor"))
    assert(snap(root, "docs_raw").props(Incremental.Generation) == "2")
  }

  test("staleness probe: a term sorting first leaves no posting field stale and kept shards' files in place") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("idx-stale").toString
    val base = TranscriptGen.localCorpus(42L, 30)
    BuildPipeline.run(spark, ds(base), root, "gen:42:30", partitions = 4, shardSize = 256)
    val before = Seq("docs_raw", "tf", "postings").map(t => t -> snap(root, t)).toMap
    val oldTerms = BuildPipeline.loadRelational(spark, root).terms
      .select("term").collect().map(_.getString(0))

    // base.head holds docId 0 (shard 0); new conversations land at the end
    val delta = base.head.copy(text = "00 first sorting term w0001") +:
      TranscriptGen.conversation(42L, 800L)
    Incremental.append(spark, root, ds(delta), partitions = 4, shardSize = 256)
    assert(oldTerms.forall("00" < _), "the probe term must sort before every existing term")

    // no persisted posting field can contradict the terms table: rows
    // hold (shard, term, blocks) only, and per term the postings hold
    // exactly df docs
    val postings = BuildPipeline.loadPostings(spark, root)
    assert(postings.schema.fieldNames.toSeq == Seq("shard", "term", "blocks"))
    val docsPerTerm = postings.collect().groupMapReduce(_.term)(_.blocks.map(_.count.toLong).sum)(_ + _)
    val df = BuildPipeline.loadRelational(spark, root).terms.select("term", "df").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(docsPerTerm == df)
    assert(df.contains("00"))

    // untouched shards' files stay under their old paths; touched shards'
    // files are all replaced
    val shardSize = 256L
    val touched = BuildPipeline.loadRelational(spark, root).docs
      .join(ds(delta).toDF().select("conv_id", "turn_idx"), Seq("conv_id", "turn_idx"))
      .select((col("docId") / shardSize).cast("long")).collect().map(_.getLong(0)).toSet
    Seq("docs_raw" -> shardSize, "tf" -> shardSize, "postings" -> 1L).foreach { case (t, per) =>
      val now = snap(root, t).files.map(_.path).toSet
      val (hit, kept) = before(t).files.partition { f =>
        val k = f.keys.get
        (k.lo / per to k.hi / per).exists(touched.contains)
      }
      assert(kept.nonEmpty && hit.nonEmpty, s"$t: expected touched and untouched shards")
      assert(kept.forall(f => now(f.path)), s"$t: an untouched shard's file was rewritten")
      assert(hit.forall(f => !now(f.path)), s"$t: a touched shard's file was kept")
      assert(snap(root, t).files.forall(f => f.keys.forall(k => k.lo / per == k.hi / per)),
        s"$t: every file holds one shard")
    }
  }

  test("the append records its report in docs_raw and runs a bounded number of jobs") {
    val root = Files.createTempDirectory("idx-report").toString
    val base = TranscriptGen.localCorpus(42L, 30)
    BuildPipeline.run(spark, ds(base), root, "gen:42:30", partitions = 4, shardSize = 256)
    val tables = Seq("docs_raw", "tf", "terms", "terms_by_role", "postings")
    val before = tables.map(t => t -> snap(root, t).files.map(_.path).toSet).toMap
    val delta = ds(Seq(base.head.copy(text = "replaced wording w0001"), base(3).copy(text = " ")) ++
      (810L until 812L).flatMap(TranscriptGen.conversation(42L, _)))
    var rep: Incremental.Report = null
    val jobs = IndexChecks.countJobs(spark.sparkContext) {
      rep = Incremental.append(spark, root, delta, partitions = 4)
    }
    assert(jobs <= JobsPerAppendCeiling, s"append ran $jobs Spark jobs")

    val props = snap(root, "docs_raw").props
    assert(rep.props.forall { case (k, v) => props.get(k).contains(v) }, s"$props vs $rep")
    assert(Seq("resolve", "tf", "terms", "terms_by_role", "stats", "postings", "docs_raw")
      .forall(s => props.contains(s"append.ms.$s")))
    val newFiles = tables.flatMap(t => snap(root, t).files.filterNot(f => before(t)(f.path)))
    assert(rep.filesWritten == newFiles.size)
    assert(rep.bytesWritten == newFiles.map(_.bytes).sum)
    assert(rep.filesKept == Seq("docs_raw", "tf", "postings")
      .map(t => snap(root, t).files.count(f => before(t)(f.path))).sum)
    assert(rep.filesKept > 0 && rep.shardsReused > 0)
  }

  /** Jobs one append of this delta runs, as measured (local[4], AQE on:
    * every shuffle stage is a job of its own): the resolution, the stats
    * collect, the five writes and their exchanges. The parent design ran
    * 74 on the benchmark's deltas. */
  private val JobsPerAppendCeiling = 28

  test("an append interrupted before its docs_raw commit is re-derived by the next one") {
    val root = Files.createTempDirectory("idx-crash").toString
    val base = TranscriptGen.localCorpus(42L, 20)
    BuildPipeline.run(spark, ds(base), root, "gen:42:20", partitions = 4, shardSize = 256)
    // what an append that died after its tf commit leaves: tf one
    // generation ahead of docs_raw (and, here, missing rows)
    val tfTable = Paths.get(root, "tf").toString
    IceLite.commit(spark, IceLite.read(spark, tfTable).limit(10), tfTable,
      props = Map(Incremental.Generation -> "1"))
    Incremental.append(spark, root, ds(TranscriptGen.conversation(42L, 820L)), partitions = 4)

    val docsRaw = IceLite.read(spark, Paths.get(root, "docs_raw").toString)
    val tfFull = IndexBuild.tfFromDocs(docsRaw)
    val tfIncr = IceLite.read(spark, tfTable)
    assert(tfIncr.exceptAll(tfFull).count() == 0 && tfFull.exceptAll(tfIncr).count() == 0)
    IndexChecks.assertDictionaryIsRecompute(spark, root)
    val all = base ++ TranscriptGen.conversation(42L, 820L)
    assert(BuildPipeline.loadRelational(spark, root).stats.n ==
      all.count(t => t.text != null && t.text.trim.nonEmpty))
    val oracle = new searchspark.oracle.ScalarOracle(all)
    val engine = SearchEngine.load(spark, root)
    try {
      val got = engine.search("w0001 w0002")
      val want = oracle.search("w0001 w0002", None)
      assert(got.count == want.count)
      assert(got.hits.map(h => (h.conv_id, h.turn_idx, h.score)) ==
        want.hits.map(h => (h.conv_id, h.turn_idx, h.score)))
    } finally engine.close()
  }

  test("a build and an append leave no cached RDD behind") {
    val sc = spark.sparkContext
    val root = Files.createTempDirectory("idx-cache").toString
    val base = TranscriptGen.localCorpus(42L, 10)
    val cachedBefore = sc.getPersistentRDDs.keySet
    BuildPipeline.run(spark, ds(base), root, "gen:42:10", partitions = 4, shardSize = 256)
    assert(sc.getPersistentRDDs.keySet == cachedBefore, "BuildPipeline.run leaked a cache")
    Incremental.append(spark, root, ds(base.take(3).map(_.copy(text = "fresh words w0001")) ++
      TranscriptGen.conversation(42L, 830L)), partitions = 4)
    assert(sc.getPersistentRDDs.keySet == cachedBefore, "Incremental.append leaked a cache")
  }
}
