package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.meta.{Catalog, CommitConflictException, TableMetadata}

/** The `meta` layer seen from outside: a delegating [[Catalog]] that records
  * every compare-and-swap commit and every metadata load as a span, and
  * counts commits and the conflicts they lost.
  */
final class TimedCatalog(inner: Catalog, ctx: Ctx) extends Catalog {
  @volatile var casCalls = 0L
  @volatile var casConflicts = 0L

  def commit(name: String, expectedVersion: Int, metadata: TableMetadata): Int =
    ctx.call("meta", "commit") {
      casCalls += 1
      try inner.commit(name, expectedVersion, metadata)
      catch {
        case e: CommitConflictException => casConflicts += 1; throw e
      }
    }
  def loadVersioned(name: String): (Int, TableMetadata) =
    ctx.call("meta", "load")(inner.loadVersioned(name))
  def load(name: String): TableMetadata = ctx.call("meta", "load")(inner.load(name))

  def tableLocation(name: String): String = inner.tableLocation(name)
  def tableExists(name: String): Boolean = inner.tableExists(name)
  def listTables(): Seq[String] = inner.listTables()
  def create(name: String, metadata: TableMetadata): TableMetadata =
    inner.create(name, metadata)
  def currentVersion(name: String): Int = inner.currentVersion(name)
  def dropTable(name: String): Unit = inner.dropTable(name)
  override def commitCreate(name: String, metadata: TableMetadata): Unit =
    inner.commitCreate(name, metadata)
  override def metadataLocation(name: String, version: Int): String =
    inner.metadataLocation(name, version)
  override def registerTable(name: String, metadataLocation: String): TableMetadata =
    inner.registerTable(name, metadataLocation)
  def renameTable(from: String, to: String): Unit = inner.renameTable(from, to)
  def readMetadataFile(path: String): String = inner.readMetadataFile(path)
  def deleteMetadataBefore(name: String, beforeVersion: Int): Unit =
    inner.deleteMetadataBefore(name, beforeVersion)
}

/** The `storage` layer seen from outside: walks a table location and sums
  * the bytes of files not seen by an earlier walk, split into data files and
  * metadata files (anything under `metadata/`).
  */
final class StorageWalk(location: String) {
  private val root = Paths.get(location.stripPrefix("file:"))
  var dataBytes = 0L
  var metaBytes = 0L

  private def files(): Seq[(Path, Long)] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
          !p.getFileName.toString.startsWith("."))
        .map(p => p -> Files.size(p)).toList
      finally s.close()
    }

  // files present when the walk starts are not counted as written
  private val seen = scala.collection.mutable.Set.from(files().map(_._1))

  /** Adds the bytes of newly created files to the running totals. */
  def update(): Unit =
    files().foreach { case (p, n) =>
      if (seen.add(p)) {
        if (root.relativize(p).startsWith("metadata")) metaBytes += n
        else dataBytes += n
      }
    }

  /** Bytes currently stored under the location. */
  def storedBytes: Long = files().map(_._2).sum
}
