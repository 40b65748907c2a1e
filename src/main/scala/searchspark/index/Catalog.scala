package searchspark.index

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The catalog seam (round-3 verdict #6): the exact commit/read surface
  * the build pipeline uses, so the table layer is swappable — IceLite
  * (the in-repo Iceberg-shaped default), [[DirCatalog]] (a plain
  * versioned-directory catalog proving the seam carries no IceLite
  * assumptions), or a real Iceberg DSv2 catalog as a third
  * implementation wired to `spark.read.table` / `writeTo(...).
  * createOrReplace` on an actual warehouse.
  *
  * Contract:
  *  - `commit` atomically publishes `df` as the table's next snapshot
  *    and returns its metadata record; readers concurrent with a commit
  *    see either the old or the new snapshot, never a mix. `layout`
  *    clusters the written files by shard and records each file's key
  *    range;
  *  - `read` resolves the current snapshot (or a pinned id — time
  *    travel) to an immutable file set;
  *  - `currentSnapshot` exposes the record (props carry build lineage
  *    like totalTurns) without reading data.
  */
trait TableCatalog {
  def commit(spark: SparkSession, df: DataFrame, table: String,
             operation: String = "overwrite",
             props: Map[String, String] = Map.empty,
             layout: Option[IceLite.FileLayout] = None): IceLite.Snapshot
  def read(spark: SparkSession, table: String,
           snapshotId: Option[Long] = None): DataFrame
  def currentSnapshot(table: String): Option[IceLite.Snapshot]
}

/** Plain versioned-directory catalog — the second in-repo
  * [[TableCatalog]]: no manifest JSON per file, no metadata dir, just
  *
  * {{{
  *   table/
  *     snap-<id>/part-*.parquet   (immutable)
  *     snap-<id>.json             (snapshot record; written before the
  *                                 pointer, so a readable CURRENT always
  *                                 names a complete snapshot)
  *     CURRENT                    (text "<id>"; atomic rename)
  * }}}
  *
  * Same atomicity story as IceLite (data → record → atomic pointer
  * rename), same time travel (any retained snap-<id> is readable by
  * id). ResumeSpec runs the whole build pipeline through this catalog
  * and asserts the produced index is byte-identical to the IceLite
  * build — the replaceability proof. */
object DirCatalog extends TableCatalog {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  mapper.registerModule(new com.fasterxml.jackson.module.scala.DefaultScalaModule())
  mapper.configure(
    com.fasterxml.jackson.databind.DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)

  private def currentPtr(table: String) = Paths.get(table, "CURRENT")

  override def currentSnapshot(table: String): Option[IceLite.Snapshot] = {
    val ptr = currentPtr(table)
    if (!Files.exists(ptr)) None
    else {
      val id = new String(Files.readAllBytes(ptr), StandardCharsets.UTF_8).trim.toLong
      Some(mapper.readValue(Paths.get(table, s"snap-$id.json").toFile,
        classOf[IceLite.Snapshot]))
    }
  }

  override def commit(spark: SparkSession, df: DataFrame, table: String,
                      operation: String = "overwrite",
                      props: Map[String, String] = Map.empty,
                      layout: Option[IceLite.FileLayout] = None): IceLite.Snapshot = {
    val parent = currentSnapshot(table)
    Files.createDirectories(Paths.get(table))
    val existing = {
      val stream = Files.list(Paths.get(table))
      try stream.iterator().asScala.map(_.getFileName.toString)
        .collect { case s if s.matches("snap-\\d+\\.json") =>
          s.stripPrefix("snap-").stripSuffix(".json").toLong }
        .toSeq
      finally stream.close()
    }
    val id = (existing ++ parent.map(_.snapshotId)).foldLeft(-1L)(math.max) + 1
    val dataDir = Paths.get(table, s"snap-$id")
    // debris from a crashed writer (no record committed)
    if (Files.exists(dataDir)) IceLite.deleteTree(dataDir)
    val files = IceLite.writeFiles(spark, df, dataDir, layout)
    val snap = IceLite.Snapshot(id, parent.map(_.snapshotId).getOrElse(-1L),
      operation, files.map(_.rows).sum, files, props, Some(df.schema.json))
    val tmp = Paths.get(table, s"snap-$id.json.tmp")
    Files.write(tmp, mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(snap))
    Files.move(tmp, Paths.get(table, s"snap-$id.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    val ptrTmp = Paths.get(table, "CURRENT.tmp")
    Files.write(ptrTmp, id.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(ptrTmp, currentPtr(table),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    snap
  }

  override def read(spark: SparkSession, table: String,
                    snapshotId: Option[Long] = None): DataFrame = {
    val snap = snapshotId match {
      case Some(id) => mapper.readValue(
        Paths.get(table, s"snap-$id.json").toFile, classOf[IceLite.Snapshot])
      case None => currentSnapshot(table).getOrElse(
        throw new IllegalStateException(s"no current snapshot in $table"))
    }
    IceLite.readFiles(spark, snap, snap.files)
  }
}
