package searchspark.index

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DataType, StructType}

/** IceLite — the index's one table layer (SURVEY.md §7.0: no Iceberg
  * runtime jar is available offline, so the snapshot/manifest semantics
  * are implemented in-repo). The layout is Iceberg-shaped: immutable
  * data files + versioned snapshot JSON + an atomic current-pointer
  * swap.
  *
  * Layout:
  * {{{
  *   table/
  *     data/snap-<id>/part-*.parquet                (immutable per snapshot)
  *     data/snap-<id>/file_shard=<n>/part-*.parquet (sharded layout)
  *     metadata/v<id>.json                          (snapshot manifest + lineage)
  *     metadata/current                             (text: "v<id>.json"; atomic rename)
  * }}}
  *
  * A snapshot is a FILE LIST, as in Iceberg: a commit may carry files of
  * the current snapshot over unchanged (`publish`'s `keep`) and add the
  * files it writes. With an [[IceLite.FileLayout]] each file holds one
  * doc-range shard and records its key range from the parquet footer,
  * so an append rewrites only the shards it touches and lists every
  * other file under its old path.
  *
  * This replaces the reference's mutable-MySQL lifecycle: its cascade
  * delete-then-reinsert per re-index (IndexingServiceImpl.java:199-215)
  * becomes an atomic snapshot swap, and its `site.status/status_time`
  * progress rows (model/Portal.java:16-21) become per-file lineage
  * entries + snapshot props. Readers are snapshot-isolated per table: a
  * reader resolving `current` sees one immutable file set; a concurrent
  * commit only ever renames a new pointer over it.
  */
object IceLite {

  /** Min/max of a table's layout key over one file, from its footer. */
  final case class KeyRange(lo: Long, hi: Long)

  /** One immutable data file. `keys` is the file's range of the table's
    * [[FileLayout]] key (None: written without a layout, or empty). */
  final case class FileEntry(path: String, bytes: Long, rows: Long,
                             keys: Option[KeyRange] = None)

  /** How a commit lays out its files. Every file holds the rows of
    * exactly one shard (`key / shardSize` of the Long or Int column
    * `key`), sorted by `key`, and records its min/max of `key`, so an
    * append can replace a shard's files and keep the rest. */
  final case class FileLayout(key: String, shardSize: Long)

  /** `schema` is the rows' Spark schema as JSON (None: written before it
    * was recorded); reads pass it to the parquet reader, which then
    * skips the schema-inference job it would otherwise run. */
  final case class Snapshot(
      snapshotId: Long,
      parentId: Long, // -1 = none
      operation: String, // "append" | "overwrite"
      totalRows: Long,
      files: Seq[FileEntry],
      props: Map[String, String],
      schema: Option[String] = None)

  private val mapper = new ObjectMapper()
  mapper.registerModule(DefaultScalaModule)
  mapper.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)

  private def metaDir(table: String): Path = Paths.get(table, "metadata")
  private def currentPtr(table: String): Path = metaDir(table).resolve("current")

  def currentSnapshot(table: String): Option[Snapshot] = {
    val ptr = currentPtr(table)
    if (!Files.exists(ptr)) None
    else {
      val v = new String(Files.readAllBytes(ptr), StandardCharsets.UTF_8).trim
      Some(mapper.readValue(metaDir(table).resolve(v).toFile, classOf[Snapshot]))
    }
  }

  /** Commit `df` as the table's next snapshot, superseding the previous
    * one (its files stay on disk, immutable — time travel by reading an
    * old v<id>.json still works). */
  def commit(spark: SparkSession, df: DataFrame, table: String,
             operation: String = "overwrite",
             props: Map[String, String] = Map.empty,
             layout: Option[FileLayout] = None): Snapshot =
    publish(stage(spark, df, table, layout), operation, props)

  /** Data files written for a table's next snapshot; invisible to readers
    * until [[publish]]ed. */
  final case class Staged(table: String, snapshotId: Long, files: Seq[FileEntry],
                          schema: String)

  /** Write `df`'s files for the table's next snapshot (first half of
    * [[commit]]; a caller that wants the written files' sizes in the
    * snapshot props publishes them itself). */
  def stage(spark: SparkSession, df: DataFrame, table: String,
            layout: Option[FileLayout] = None): Staged = {
    // next id = max existing v*.json + 1, NOT parent+1: a crash between
    // the v<id>.json rename and the current-pointer rename leaves a
    // committed-but-unreferenced v<id>.json; parent+1 would collide with
    // it forever (errorifexists on its data dir). Deriving from max
    // skips over such orphans (they stay readable via time travel).
    val snapshotId = {
      val md = metaDir(table)
      val existing = if (!Files.exists(md)) Seq.empty[Long]
        else {
          val stream = Files.list(md)
          try stream.iterator().asScala.map(_.getFileName.toString)
            .collect { case s if s.matches("v\\d+\\.json") => s.stripPrefix("v").stripSuffix(".json").toLong }
            .toSeq
          finally stream.close() // Files.list leaks a directory fd otherwise
        }
      (existing ++ currentSnapshot(table).map(_.snapshotId)).foldLeft(-1L)(math.max) + 1
    }
    val dataDir = Paths.get(table, "data", s"snap-$snapshotId")
    // a data dir without a committed v<id>.json is debris from a crashed
    // writer (commit is only durable once the metadata swap happened) —
    // safe to clear and rewrite
    if (Files.exists(dataDir) && !Files.exists(metaDir(table).resolve(s"v$snapshotId.json")))
      deleteTree(dataDir)
    Staged(table, snapshotId, writeFiles(spark, df, dataDir, layout), df.schema.json)
  }

  /** Make staged files the table's current snapshot, together with
    * `keep`: files of the current snapshot carried over under their old
    * paths. Atomicity: the snapshot JSON is written to a temp name, then
    * the `current` pointer is replaced by an atomic rename. */
  def publish(staged: Staged, operation: String = "overwrite",
              props: Map[String, String] = Map.empty,
              keep: Seq[FileEntry] = Nil): Snapshot = {
    val table = staged.table
    val parent = currentSnapshot(table)
    // a kept file must belong to the snapshot it is carried over from
    val known = parent.map(_.files.map(_.path).toSet).getOrElse(Set.empty)
    val foreign = keep.filterNot(f => known(f.path))
    require(foreign.isEmpty,
      s"kept files ${foreign.map(_.path).mkString(", ")} are not in $table's current snapshot")
    val files = keep ++ staged.files
    val snap = Snapshot(staged.snapshotId, parent.map(_.snapshotId).getOrElse(-1L),
      operation, files.map(_.rows).sum, files, props, Some(staged.schema))

    Files.createDirectories(metaDir(table))
    val vName = s"v${staged.snapshotId}.json"
    val tmp = metaDir(table).resolve(vName + ".tmp")
    Files.write(tmp, mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsBytes(snap))
    Files.move(tmp, metaDir(table).resolve(vName),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)

    val ptrTmp = metaDir(table).resolve("current.tmp")
    Files.write(ptrTmp, vName.getBytes(StandardCharsets.UTF_8))
    Files.move(ptrTmp, currentPtr(table),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    snap
  }

  /** The largest layout key over `files`, from their entries alone (None
    * when a non-empty file has no recorded range). */
  def maxKey(files: Seq[FileEntry]): Option[Long] = {
    val live = files.filter(_.rows > 0)
    if (live.isEmpty || live.exists(_.keys.isEmpty)) None
    else Some(live.map(_.keys.get.hi).max)
  }

  private[index] def deleteTree(dir: Path): Unit =
    Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))

  /** Write `df` under `dataDir` and describe the files from their footers.
    * A sharded layout writes one `file_shard=<n>/` directory per shard with
    * one file in it (one hash exchange on the shard). An empty `df`
    * still writes one empty file, so a snapshot always has a readable
    * schema. */
  private def writeFiles(spark: SparkSession, df: DataFrame, dataDir: Path,
                         layout: Option[FileLayout]): Seq[FileEntry] = {
    layout match {
      case Some(l) =>
        val shard = (col(l.key) / lit(l.shardSize)).cast("long")
        df.withColumn(ShardDir, shard)
          .repartition(col(ShardDir))
          .sortWithinPartitions(col(ShardDir), col(l.key))
          .write.partitionBy(ShardDir).mode("errorifexists").parquet(dataDir.toString)
      case None => df.write.mode("errorifexists").parquet(dataDir.toString)
    }
    val written = footerEntries(spark, dataDir, layout.map(_.key))
    if (written.nonEmpty) written
    else {
      val empty = dataDir.resolve("empty")
      df.limit(0).write.parquet(empty.toString)
      footerEntries(spark, empty, None)
    }
  }

  /** Partition column of a sharded write: one directory per shard (a
    * name of its own, since the postings keep `shard` as a data column). */
  private val ShardDir = "file_shard"

  /** Per-file lineage entries for a freshly written data dir, from
    * parquet FOOTER metadata only — no second scan of the data just
    * written (at a 100 TB commit a re-read for counting would double the
    * write cost; footers are O(KB/file)). `key`'s min/max come from the
    * row groups' column statistics. */
  private def footerEntries(spark: SparkSession, dataDir: Path,
                            key: Option[String]): Seq[FileEntry] = {
    val hconf = spark.sessionState.newHadoopConf()
    val dataStream = Files.walk(dataDir)
    try dataStream.iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .toSeq.sortBy(_.toString)
      .map { p =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p.toString), hconf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try FileEntry(p.toString, Files.size(p), reader.getRecordCount,
          key.flatMap(keyRange(reader.getFooter, _)))
        finally reader.close()
      }
    finally dataStream.close()
  }

  private def keyRange(footer: org.apache.parquet.hadoop.metadata.ParquetMetadata,
                       key: String): Option[KeyRange] = {
    val stats = footer.getBlocks.asScala.toSeq.map { b =>
      b.getColumns.asScala.find(_.getPath.toDotString == key)
        .map(_.getStatistics).filter(s => s != null && s.hasNonNullValue)
    }
    if (stats.isEmpty || stats.exists(_.isEmpty)) None
    else {
      def long(v: Any) = v.asInstanceOf[Number].longValue
      Some(KeyRange(stats.map(s => long(s.get.genericGetMin)).min,
        stats.map(s => long(s.get.genericGetMax)).max))
    }
  }

  /** Read the current snapshot (or a pinned one — time travel). */
  def read(spark: SparkSession, table: String, snapshotId: Option[Long] = None): DataFrame = {
    val snap = snapshotId match {
      case Some(id) =>
        mapper.readValue(metaDir(table).resolve(s"v$id.json").toFile, classOf[Snapshot])
      case None => currentSnapshot(table).getOrElse(
        throw new IllegalStateException(s"no current snapshot in $table"))
    }
    readFiles(spark, snap, snap.files)
  }

  /** Read `files` (a non-empty subset of `snap`'s) under `snap`'s schema. */
  def readFiles(spark: SparkSession, snap: Snapshot, files: Seq[FileEntry]): DataFrame = {
    require(files.nonEmpty, s"no files to read in snapshot ${snap.snapshotId}")
    val reader = snap.schema
      .map(s => spark.read.schema(DataType.fromJson(s).asInstanceOf[StructType]))
      .getOrElse(spark.read)
    reader.parquet(files.map(_.path): _*)
  }
}
