package searchspark.index

import java.nio.file.{Files, Paths, StandardCopyOption}

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Dataset, SparkSession}

import searchspark.model.{TermPostings, Turn, ZoneConfig}

/** Checkpointed, resumable index build (SURVEY.md §7.5.3; the batch
  * replacement for the reference's INDEXING→INDEXED/FAILED site
  * lifecycle + stop/resume flow,
  * /root/reference/src/main/java/searchengine/services/IndexingServiceImpl.java:91-127).
  *
  * The build is a linear DAG of stages, each committing an IceLite
  * snapshot and then recording itself in `build_manifest.json`
  * (atomic-rename update). A re-run with the same `inputId` + params
  * skips every stage whose manifest record matches and whose output
  * table has a readable snapshot — so a killed build resumes from the
  * first missing stage and produces an index row-identical to a cold
  * build (ResumeSpec proves it; with deterministic docIds the content
  * doesn't depend on which run produced which stage).
  *
  * Stage graph:
  * {{{
  *   docs_raw   stable docId assignment over non-blank, deduped turns
  *   postings   docs_raw analyzed once (the TF kernel, cached for the
  *              stage): stats.json (n, avgdl, blanks, per-role, exact
  *              sums) from its sums, then the compressed segments, rows
  *              (shard, term, blocks)
  * }}}
  *
  * At rest the index is docs_raw, postings and stats.json. The tf rows
  * are not stored: the postings hold exactly their fields, and a loaded
  * root's `BuiltIndex.tf` re-derives them from docs_raw for the rare
  * rollup reader. No term dictionary is stored either: the postings are
  * the one source of df (SearchService.servingDf counts it per query;
  * IndexBuild.termDict derives it from tf for a full listing). A root
  * written while the build still kept `tf`, `terms` or `terms_by_role`
  * tables loads and appends unchanged; those tables are ignored, not
  * deleted.
  *
  * docs_raw and postings are written one file per doc-range shard
  * (IceLite.FileLayout), so Incremental.append rewrites the files of the
  * shards it touches and keeps every other file. The postings stage body
  * is shared with Incremental, which re-derives the postings and the
  * stats from docs_raw when it finds them out of step.
  */
object BuildPipeline {

  final case class StageRecord(
      stage: String, fingerprint: String, table: String,
      rows: Long, elapsedMs: Long, status: String)

  final case class Manifest(
      inputId: String,
      params: Map[String, String],
      stages: Map[String, StageRecord])

  /** Thrown by the fault-injection hook (resume tests / C8 stop). */
  final class InjectedFailure(stage: String)
    extends RuntimeException(s"injected failure after stage $stage")

  private val mapper = new ObjectMapper()
  mapper.registerModule(DefaultScalaModule)
  mapper.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)

  private val stringMapRef =
    new com.fasterxml.jackson.core.`type`.TypeReference[Map[String, String]] {}

  private def manifestPath(root: String) = Paths.get(root, "build_manifest.json")

  def readManifest(root: String): Option[Manifest] = {
    val p = manifestPath(root)
    if (!Files.exists(p)) None
    else Some(mapper.readValue(p.toFile, classOf[Manifest]))
  }

  /** The shard size the build at `root` recorded in its manifest. */
  def manifestShardSize(root: String): Option[Int] =
    readManifest(root).flatMap(_.params.get("shardSize")).map(_.toInt)

  private def writeManifest(root: String, m: Manifest): Unit = {
    Files.createDirectories(Paths.get(root))
    val tmp = Paths.get(root, "build_manifest.json.tmp")
    Files.write(tmp, mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(m))
    Files.move(tmp, manifestPath(root),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  final case class BuildReport(
      ranStages: Seq[String], skippedStages: Seq[String], totalRows: Long)

  /** Build lifecycle record (the reference's per-site INDEXING/INDEXED/
    * FAILED + last_error + status_time surface,
    * /root/reference/src/main/java/searchengine/services/StatisticsServiceImpl.java:49-60),
    * persisted beside the manifest so monitoring can see a dead or
    * failed build long after the driver JVM is gone. */
  final case class BuildStatus(
      status: String, // "running" | "done" | "failed"
      stage: String, // last stage reached
      error: String, // "" unless failed
      statusTimeMs: Long, // wall-clock of the last transition
      elapsedMs: Long) // run() duration so far / total

  private def statusPath(root: String) = Paths.get(root, "build_status.json")

  private def writeStatus(root: String, s: BuildStatus): Unit = {
    Files.createDirectories(Paths.get(root))
    val tmp = Paths.get(root, "build_status.json.tmp")
    Files.write(tmp, mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(s))
    Files.move(tmp, statusPath(root),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Read the persisted build lifecycle record (None = pre-status root). */
  def readBuildStatus(root: String): Option[BuildStatus] = {
    val p = statusPath(root)
    if (!Files.exists(p)) None
    else Some(mapper.readValue(p.toFile, classOf[BuildStatus]))
  }

  /** Encode/decode the zone config for manifest params (shared with
    * Incremental, which must analyze deltas under the build's config). */
  def zonesParam(zones: Option[ZoneConfig]): String =
    zones.map(z => s"${z.titleTokens}:${z.titleWeightE1}:${z.bodyWeightE1}")
      .getOrElse("none")
  def parseZones(s: String): Option[ZoneConfig] = s match {
    case "none" | null | "" => None
    case v => v.split(":") match {
      case Array(t, tw, bw) => Some(ZoneConfig(t.toInt, tw.toInt, bw.toInt))
      case _ => throw new IllegalArgumentException(
        s"malformed zones param '$v' in build manifest — expected " +
          "'titleTokens:titleWeightE1:bodyWeightE1' or 'none'")
    }
  }

  /** Role-dictionary (de)serialization for stats.json. A JSON array, NOT
    * a comma join: null roles are normalized to "" at ingest
    * (DocIds.dedupIndexable) and "" must survive the round trip — a
    * comma-join + filter(nonEmpty) silently dropped it, shifting every
    * roleId on reload so scoped queries returned FOREIGN docs (round-2
    * ADVICE, high). Role names containing ',' round-trip too. Legacy
    * comma-joined values (pre-JSON stats.json) are still readable. */
  private[index] val rolesRef =
    new com.fasterxml.jackson.core.`type`.TypeReference[Seq[String]] {}
  def encodeRoles(roles: Seq[String]): String = mapper.writeValueAsString(roles)
  def decodeRoles(s: String): Seq[String] =
    if (s == null || s.isEmpty) Nil
    else if (s.startsWith("[")) mapper.readValue(s, rolesRef)
    else s.split(",").toSeq.filter(_.nonEmpty) // legacy format

  /** Run (or resume) the build into `root`. `failAfter` injects a crash
    * after the named stage commits — the resume-test hook. A
    * non-positive `shardSize` fails before any stage runs. */
  def run(spark: SparkSession, turns: Dataset[Turn], root: String,
          inputId: String, partitions: Int,
          shardSize: Int = PostingIndex.DefaultShardSize,
          failAfter: Option[String] = None,
          zones: Option[ZoneConfig] = None): BuildReport = {
    require(shardSize > 0, s"shardSize must be positive, got $shardSize")
    val params = Map("partitions" -> partitions.toString,
      "shardSize" -> shardSize.toString, "codec" -> "delta-varint-v2",
      "zones" -> zonesParam(zones))
    val fp = s"$inputId|${params.toSeq.sorted.mkString(",")}"

    var manifest = readManifest(root) match {
      case Some(m) if m.inputId == inputId && m.params == params => m
      case _ => Manifest(inputId, params, Map.empty) // params changed → full rebuild
    }
    val ran = Seq.newBuilder[String]
    val skipped = Seq.newBuilder[String]

    def table(name: String) = Paths.get(root, name).toString

    val runStart = System.nanoTime()
    var lastStage = ""
    def elapsed() = (System.nanoTime() - runStart) / 1000000
    writeStatus(root, BuildStatus("running", "", "", System.currentTimeMillis(), 0))

    /** Run one stage unless its checkpoint is valid. */
    def stage(name: String)(body: => Long): Unit = {
      lastStage = name
      val ok = manifest.stages.get(name).exists(r =>
        r.fingerprint == fp && r.status == "done" &&
          (IceLite.currentSnapshot(table(name)).isDefined || r.table.isEmpty))
      if (ok) { skipped += name }
      else {
        val t0 = System.nanoTime()
        val rows = body
        val rec = StageRecord(name, fp,
          if (IceLite.currentSnapshot(table(name)).isDefined) table(name) else "",
          rows, (System.nanoTime() - t0) / 1000000, "done")
        manifest = manifest.copy(stages = manifest.stages + (name -> rec))
        writeManifest(root, manifest)
        ran += name
      }
      if (failAfter.contains(name)) throw new InjectedFailure(name)
    }

    var total = 0L
    try {
    stage("docs_raw") {
      val totalTurns = turns.count()
      // One file per doc-range shard, sorted by docId: an append
      // rewrites only the shards it touches, and each file's docId
      // min/max stats let a docId filter prune files and row groups
      // (PlanGuardSpec pins it).
      CacheScope { scope =>
        IceLite.commit(spark, DocIds.assign(spark, turns, partitions, scope),
          table("docs_raw"), props = Map("totalTurns" -> totalTurns.toString),
          layout = docLayout(shardSize)).totalRows
      }
    }
    stage("postings") { commitPostings(spark, root, zones, shardSize).totalRows }

    } catch {
      case e: Throwable =>
        // a failed (or stopped) build is VISIBLE: stage + error persist
        // for the statistics rollup, mirroring the reference's FAILED
        // site status + last_error
        writeStatus(root, BuildStatus("failed", lastStage,
          Option(e.getMessage).getOrElse(e.getClass.getName),
          System.currentTimeMillis(), elapsed()))
        throw e
    }
    writeStatus(root, BuildStatus("done", lastStage, "",
      System.currentTimeMillis(), elapsed()))
    total = manifest.stages.get("docs_raw").map(_.rows).getOrElse(0L)
    BuildReport(ran.result(), skipped.result(), total)
  }

  private def table(root: String, name: String) = Paths.get(root, name).toString

  /** docs_raw: one file per doc-range shard, keyed by docId. */
  private[index] def docLayout(shardSize: Int) = Some(IceLite.FileLayout("docId", shardSize))
  /** postings: one file per shard. */
  private[index] val postingsLayout = Some(IceLite.FileLayout("shard", 1))

  /** Stage postings: analyze the committed docs_raw once into a frame
    * cached for this call, write stats.json from its exact sums, then
    * encode and commit every shard's segments from it. A cold build
    * lists its roles sorted; with `appendRoles` the roles already in
    * stats.json keep their position (see [[roleList]]). */
  private[index] def commitPostings(spark: SparkSession, root: String,
                                    zones: Option[ZoneConfig], shardSize: Int,
                                    appendRoles: Boolean = false,
                                    props: Map[String, String] = Map.empty): IceLite.Snapshot =
    CacheScope { scope =>
      val docs = IceLite.read(spark, table(root, "docs_raw"))
      val tf = scope.cache(IndexBuild.tfFromDocs(docs, zones))
      val totalTurns = IceLite.currentSnapshot(table(root, "docs_raw"))
        .flatMap(_.props.get("totalTurns")).map(_.toLong).getOrElse(0L)
      val sums = IndexBuild.corpusSums(docs, tf)
      val roles = roleList(if (appendRoles) readRoles(root) else Nil,
        sums.collect { case (r, d) if d.n > 0 => r })
      writeStats(root, sums, totalTurns, roles, props)
      IceLite.commit(spark,
        PostingIndex.encode(spark, tf, roles.zipWithIndex.toMap, shardSize).toDF(),
        table(root, "postings"), props = props, layout = postingsLayout)
    }

  /** The role dictionary once the roles `live` have docs. It is
    * APPEND-ONLY: the roles of `old` keep their position (posting blocks
    * encode roleIds as positions and kept shards are never re-encoded);
    * new roles go at the end, sorted among themselves; a role with no
    * docs left stays listed. */
  private[index] def roleList(old: Seq[String], live: Iterable[String]): Seq[String] =
    old ++ (live.toSet -- old).toSeq.sorted

  /** The role dictionary stats.json lists (empty when there is none). */
  private[index] def readRoles(root: String): Seq[String] =
    readStats(root).flatMap(_.get("roles")).map(decodeRoles).getOrElse(Nil)

  /** stats.json with the exact per-role sums (`sumDl`, `roleDl.<role>`)
    * an append updates by delta, and the role dictionary `roles` (see
    * [[roleList]]). */
  private[index] def writeStats(root: String, sums: Map[String, DocSums], totalTurns: Long,
                                roles: Seq[String],
                                extra: Map[String, String] = Map.empty): CorpusStats = {
    val (stats, byRole) = IndexBuild.statsFromSums(sums, totalTurns)
    require(byRole.keySet.subsetOf(roles.toSet),
      s"roles ${(byRole.keySet -- roles).toSeq.sorted.mkString(", ")} have docs but no roleId")
    val payload = Map(
      "n" -> stats.n.toString, "avgdl" -> stats.avgdl.toString,
      "totalTurns" -> stats.totalTurns.toString,
      "skippedBlank" -> stats.skippedBlank.toString,
      "roles" -> encodeRoles(roles),
      "sumDl" -> sums.valuesIterator.filter(_.n > 0).map(_.sumDl).sum.toString) ++
      byRole.map { case (r, (n, a)) => s"role.$r" -> s"$n:$a" } ++
      sums.collect { case (r, d) if d.n > 0 => s"roleDl.$r" -> d.sumDl.toString } ++
      extra
    val tmp = Paths.get(root, "stats.json.tmp")
    Files.write(tmp, mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(payload))
    Files.move(tmp, Paths.get(root, "stats.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    stats
  }

  private[index] def readStats(root: String): Option[Map[String, String]] = {
    val p = Paths.get(root, "stats.json")
    if (!Files.exists(p)) None else Some(mapper.readValue(p.toFile, stringMapRef))
  }

  /** The exact per-role sums stats.json records (None: written before
    * the sums were kept). */
  private[index] def statsSums(stats: Map[String, String]): Option[Map[String, DocSums]] =
    if (!stats.contains("sumDl")) None
    else Some(stats.collect { case (k, v) if k.startsWith("role.") =>
      val role = k.stripPrefix("role.")
      role -> DocSums(v.split(":")(0).toLong, stats(s"roleDl.$role").toLong)
    })

  /** The zone config the build at `root` recorded in its manifest. */
  def manifestZones(root: String): Option[ZoneConfig] =
    readManifest(root).flatMap(_.params.get("zones")).flatMap(parseZones)

  /** Load the relational index from a build root: docs_raw and the
    * stats. `tf` is a lazy view, the TF kernel over docs_raw under the
    * manifest's zones; nothing on the search, load or append path reads
    * it. */
  def loadRelational(spark: SparkSession, root: String): BuiltIndex = {
    def table(name: String) = Paths.get(root, name).toString
    val statsMap = readStats(root).getOrElse(
      throw new IllegalStateException(s"no stats.json in $root"))
    val stats = CorpusStats(statsMap("n").toLong, statsMap("avgdl").toDouble,
      statsMap("totalTurns").toLong, statsMap("skippedBlank").toLong)
    val byRole = statsMap.collect { case (k, v) if k.startsWith("role.") =>
      val Array(n, a) = v.split(":")
      k.stripPrefix("role.") -> (n.toLong, a.toDouble)
    }
    val docs = IceLite.read(spark, table("docs_raw"))
    BuiltIndex(docs, IndexBuild.tfFromDocs(docs, manifestZones(root)), stats, byRole,
      roleList = statsMap.get("roles").map(decodeRoles).getOrElse(Nil))
  }

  /** Load the compressed posting segments from a build root. */
  def loadPostings(spark: SparkSession, root: String): Dataset[TermPostings] = {
    import spark.implicits._
    IceLite.read(spark, Paths.get(root, "postings").toString).as[TermPostings]
  }
}
