package searchspark.index

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

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
  * build (ResumeSpec proves it; with deterministic docIds/termIds the
  * content doesn't depend on which run produced which stage).
  *
  * Stage graph:
  * {{{
  *   docs_raw   stable docId assignment over non-blank, deduped turns
  *   tf         analyzer projection + TF agg (carries role + dl)
  *   terms      global dictionary (termId, df, cf)
  *   terms_by_role  scope-local df
  *   stats      scalar stats JSON (n, avgdl, blanks, per-role)
  *   postings   compressed sharded segments
  * }}}
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

  /** Run (or resume) the build into `root`. `failAfter` injects a crash
    * after the named stage commits — the resume-test hook. */
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

  def run(spark: SparkSession, turns: Dataset[Turn], root: String,
          inputId: String, partitions: Int,
          shardSize: Int = PostingIndex.DefaultShardSize,
          failAfter: Option[String] = None,
          zones: Option[ZoneConfig] = None,
          catalog: TableCatalog = IceLite): BuildReport = {
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
          (catalog.currentSnapshot(table(name)).isDefined || r.table.isEmpty))
      if (ok) { skipped += name }
      else {
        val t0 = System.nanoTime()
        val rows = body
        val rec = StageRecord(name, fp,
          if (catalog.currentSnapshot(table(name)).isDefined) table(name) else "",
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
      // Sort-on-write: the persisted docs table is range-partitioned and
      // sorted by docId so a docId lookup (the parity path's page
      // hydration, SearchService: docId isin(ids)) prunes row groups via
      // parquet min/max stats instead of scanning every file
      // (PlanGuardSpec pins it). The engine reads the whole table once,
      // at load, into its serving partitions.
      // This is the ONE text-bearing exchange left anywhere, and it is
      // a durable-layout choice in the persist-only path — the
      // in-memory build (the throughput metric) never moves text bytes
      // (DocIds.assign class doc).
      val docsRaw = DocIds.assign(spark, turns, partitions)
        .repartitionByRange(partitions, col("docId"))
        .sortWithinPartitions("docId")
      val snap = catalog.commit(spark, docsRaw, table("docs_raw"),
        props = Map("totalTurns" -> totalTurns.toString))
      snap.totalRows
    }

    lazy val docsRaw = catalog.read(spark, table("docs_raw"))
    stage("tf") {
      catalog.commit(spark, IndexBuild.tfFromDocs(docsRaw, zones), table("tf")).totalRows
    }

    lazy val tf = catalog.read(spark, table("tf"))
    stage("terms") {
      catalog.commit(spark, IndexBuild.termDict(spark, tf, partitions), table("terms")).totalRows
    }
    stage("terms_by_role") {
      catalog.commit(spark, IndexBuild.termsByRole(tf), table("terms_by_role")).totalRows
    }
    stage("stats") {
      val totalTurns = catalog.currentSnapshot(table("docs_raw"))
        .flatMap(_.props.get("totalTurns")).map(_.toLong).getOrElse(0L)
      val (stats, byRole) = IndexBuild.corpusStats(docsRaw, tf, totalTurns)
      val payload = Map(
        "n" -> stats.n.toString, "avgdl" -> stats.avgdl.toString,
        "totalTurns" -> stats.totalTurns.toString,
        "skippedBlank" -> stats.skippedBlank.toString,
        // append-only role dictionary (cold build: sorted) — roleIds in
        // posting blocks are positions in this list and must never move
        "roles" -> encodeRoles(byRole.keys.toSeq.sorted)) ++
        byRole.map { case (r, (n, a)) => s"role.$r" -> s"$n:$a" }
      val tmp = Paths.get(root, "stats.json.tmp")
      Files.write(tmp, mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(payload))
      Files.move(tmp, Paths.get(root, "stats.json"),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      stats.n
    }
    stage("postings") {
      val idx = loadRelational(spark, root, catalog)
      // record the per-build packed-key split next to the manifest
      // (derived from the corpus' max docId — see PostingIndex): purely
      // observational (the key never outlives the build job), but it
      // makes "what layout did this build use" auditable after the fact
      val (shardBits, termBits) = PostingIndex.shardSplit(idx, shardSize)
      Files.write(Paths.get(root, "postings_meta.json"),
        (s"""{"shardSize":$shardSize,"shardBits":$shardBits,""" +
          s""""termBits":$termBits,"codec":"delta-varint-v2"}""")
          .getBytes("UTF-8"))
      val segs = PostingIndex.build(spark, idx, shardSize)
      // at-rest layout: range-partition + sort by termId so a query's
      // term-IN filter prunes row groups via parquet min/max stats
      // (PlanAudit shows PushedFilters reaching this scan)
      val sorted = segs.toDF()
        .repartitionByRange(math.max(1, partitions / 2), col("termId"))
        .sortWithinPartitions("termId", "shard")
      catalog.commit(spark, sorted, table("postings")).totalRows
    }

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

  /** Load the relational index tables from a build root. */
  def loadRelational(spark: SparkSession, root: String,
                     catalog: TableCatalog = IceLite): BuiltIndex = {
    def table(name: String) = Paths.get(root, name).toString
    val statsMap: Map[String, String] =
      mapper.readValue(Paths.get(root, "stats.json").toFile, stringMapRef)
    val stats = CorpusStats(statsMap("n").toLong, statsMap("avgdl").toDouble,
      statsMap("totalTurns").toLong, statsMap("skippedBlank").toLong)
    val byRole = statsMap.collect { case (k, v) if k.startsWith("role.") =>
      val Array(n, a) = v.split(":")
      k.stripPrefix("role.") -> (n.toLong, a.toDouble)
    }
    BuiltIndex(
      catalog.read(spark, table("docs_raw")), // docs == docs_raw (dl lives in tf)
      catalog.read(spark, table("tf")),
      catalog.read(spark, table("terms")),
      catalog.read(spark, table("terms_by_role")),
      stats, byRole,
      roleList = statsMap.get("roles").map(decodeRoles).getOrElse(Nil))
  }

  /** Load the compressed posting segments from a build root. */
  def loadPostings(spark: SparkSession, root: String,
                   catalog: TableCatalog = IceLite): Dataset[TermPostings] = {
    import spark.implicits._
    catalog.read(spark, Paths.get(root, "postings").toString).as[TermPostings]
  }
}
