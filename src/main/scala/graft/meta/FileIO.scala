package graft.meta

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.{LocalOutputFile, OutputFile, PositionOutputStream}

/** Object-storage configuration seam (reference `io/io.go` + the
  * property-driven clients `io/s3.go:42-135`, `io/gcs.go:34-60`,
  * `io/azure.go:36-60`).
  *
  * The reference builds a cloud SDK client per scheme from flat catalog/table
  * properties (`s3.endpoint`, `s3.access-key-id`, ...). On the JVM the
  * equivalent data plane is the Hadoop FileSystem connector family (s3a, gs,
  * abfs) that Spark's parquet reader already rides, so this seam translates
  * the SAME property names onto the connectors' configuration keys and every
  * metadata-plane component (catalog, manifests, Puffin, writers) resolves
  * its FileSystem through [[conf]]. One property vocabulary thus configures
  * both planes: Spark scans (via [[sparkHadoopSettings]] applied to the
  * session) and our direct metadata IO.
  *
  * Unknown `s3.`/`gcs.`/`adls.` keys are ignored (the reference does the
  * same); `hadoop.`-prefixed keys pass through verbatim minus the prefix,
  * which is also the zero-egress test seam — an in-process FileSystem
  * implementation registered via `hadoop.fs.<scheme>.impl`.
  */
object FileIO {
  /** Property → Hadoop key translations (reference `io/s3.go:42-50`,
    * `io/gcs.go:34-37`, `io/azure.go:38-44`; Hadoop keys per the s3a/gs/abfs
    * connector docs).
    */
  private val S3Mappings: Map[String, String] = Map(
    "s3.endpoint" -> "fs.s3a.endpoint",
    "s3.access-key-id" -> "fs.s3a.access.key",
    "s3.secret-access-key" -> "fs.s3a.secret.key",
    "s3.session-token" -> "fs.s3a.session.token",
    "s3.region" -> "fs.s3a.endpoint.region",
    "s3.connect-timeout" -> "fs.s3a.connection.establish.timeout",
    "s3.proxy-uri" -> "fs.s3a.proxy.host")

  private val GcsMappings: Map[String, String] = Map(
    "gcs.endpoint" -> "fs.gs.storage.root.url",
    "gcs.keypath" -> "fs.gs.auth.service.account.json.keyfile")

  private val AdlsMappings: Map[String, String] = Map(
    "adls.connection-string" -> "fs.azure.account.connection.string")

  private val applied = new ConcurrentHashMap[String, String]()

  /** The shared Hadoop configuration all metadata-plane IO resolves through. */
  val conf: Configuration = new Configuration()

  /** Apply FileIO properties. Later calls override earlier ones key-by-key;
    * unrelated table properties are ignored, so passing a whole
    * `TableMetadata.properties` map is safe.
    */
  def configure(props: Map[String, String]): Unit =
    hadoopSettings(props).foreach { case (k, v) =>
      applied.put(k, v)
      conf.set(k, v)
    }

  /** The Hadoop-key view of a FileIO property map, for callers that own a
    * separate Configuration — notably the Spark session's
    * `spark.sparkContext.hadoopConfiguration`, which the parquet data plane
    * reads instead of ours.
    */
  def hadoopSettings(props: Map[String, String]): Map[String, String] = {
    val direct = props.collect {
      case (k, v) if k.startsWith("hadoop.") => k.stripPrefix("hadoop.") -> v
    }
    val mapped = (S3Mappings ++ GcsMappings ++ AdlsMappings).collect {
      case (prop, hadoopKey) if props.contains(prop) => hadoopKey -> props(prop)
    }
    // s3.force-virtual-addressing=true ↔ path-style OFF (reference
    // `io/s3.go:130-134` inverts it the same way)
    val pathStyle = props.get("s3.force-virtual-addressing").map { v =>
      "fs.s3a.path.style.access" -> (!v.toBoolean).toString
    }
    direct ++ mapped ++ pathStyle
  }

  /** Settings applied so far (for mirroring onto a Spark session). */
  def sparkHadoopSettings: Map[String, String] = {
    val b = Map.newBuilder[String, String]
    applied.forEach((k, v) => b += k -> v)
    b.result()
  }

  /** Scheme aliases that name the SAME storage system: a manifest written
    * by one client records `s3://bucket/x` where another resolves
    * `s3a://bucket/x` — both must canonicalize identically (the reference's
    * orphan cleanup normalizes scheme equivalence the same way).
    */
  private val SchemeAliases: Map[String, String] = Map(
    "" -> "file", "file" -> "file", "local" -> "file",
    "s3" -> "s3", "s3a" -> "s3", "s3n" -> "s3",
    "gs" -> "gs", "gcs" -> "gs",
    "abfs" -> "abfs", "abfss" -> "abfs", "wasb" -> "abfs", "wasbs" -> "abfs")

  /** Canonical form of a file path for identity comparison (NOT for IO):
    * scheme aliases collapse, a missing scheme means the local filesystem,
    * and a missing authority is the empty authority. Manifests record paths
    * in whatever form their writer used ("file:/wh/x", "/wh/x",
    * "s3a://b/x"), and a raw string comparison across those forms both
    * false-orphans live files and false-retains dead ones.
    */
  def canonicalPath(p: String): String = {
    if (p.isEmpty) return p
    val u = new org.apache.hadoop.fs.Path(p).toUri
    val scheme = Option(u.getScheme).getOrElse("").toLowerCase
    val canonical = SchemeAliases.getOrElse(scheme, scheme)
    val auth = Option(u.getAuthority).getOrElse("")
    s"$canonical://$auth${u.getPath}"
  }

  /** True when the path names its filesystem explicitly. */
  def hasScheme(p: String): Boolean =
    Option(new org.apache.hadoop.fs.Path(p).toUri.getScheme).isDefined

  /** The scheme/authority-free path component, for scheme-agnostic
    * comparison when one side never recorded a scheme at all.
    */
  def pathOnly(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  /** Re-apply a captured settings map in THIS JVM. `configure` mutates the
    * driver's conf only; a task that does its own filesystem IO (e.g. the
    * executor-side DV shard writer) runs in a JVM whose FileIO never saw
    * configure(), so it must replay the driver's settings — captured
    * serializably via [[sparkHadoopSettings]] — before resolving a
    * FileSystem. Idempotent and cheap on repeat calls.
    */
  def ensureApplied(settings: Map[String, String]): Unit =
    settings.foreach { case (k, v) =>
      if (applied.get(k) != v) { applied.put(k, v); conf.set(k, v) }
    }

  /** True when `path` names the local filesystem: an explicit `file:`
    * scheme, or no scheme under a local default filesystem.
    */
  private def isLocal(path: String, hadoopConf: Configuration): Boolean =
    Option(new Path(path).toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme) == "file"

  /** The one output seam every table file opens through: data files,
    * position- and equality-delete files, manifests, manifest lists and
    * Puffin shards (reference: `io/local.go` behind the scheme dispatch of
    * `io/io.go:238-289`). Local paths write through java.nio, creating
    * missing parent directories. Hadoop's local filesystem would instead
    * write a `.crc` sidecar per file and, without native libhadoop, start a
    * `chmod` process for the file, its sidecar and every directory it
    * makes. Every other scheme goes through its Hadoop FileSystem, resolved
    * with `hadoopConf`.
    */
  def outputFile(path: String, hadoopConf: Configuration = conf): OutputFile =
    if (isLocal(path, hadoopConf)) {
      val local = Paths.get(new Path(path).toUri.getPath)
      Files.createDirectories(local.getParent)
      new LocalOutputFile(local)
    } else HadoopOutputFile.fromPath(new Path(path), hadoopConf)

  /** Open `path` for writing, replacing any existing file. `getPos` after
    * the last write is the file's length, so callers need no stat.
    */
  def create(path: String): PositionOutputStream =
    outputFile(path).createOrOverwrite(0L)

  /** Every file under `dir`, recursively; empty when `dir` does not exist,
    * and `dir` itself when it is a file. The walk uses `listStatus`, never
    * `listFiles`: the `LocatedFileStatus` that `listFiles` builds copies
    * each entry's permission, which Hadoop's local filesystem without
    * native libhadoop loads by running one `ls -ld` process per entry.
    */
  def listRecursive(dir: String, hadoopConf: Configuration = conf): Seq[FileStatus] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(hadoopConf)
    val out = Seq.newBuilder[FileStatus]
    def walk(p: Path): Unit = fs.listStatus(p).foreach { st =>
      if (st.isDirectory) walk(st.getPath) else out += st
    }
    if (fs.exists(root)) walk(root)
    out.result()
  }
}

/** Membership over a referenced-file set that is robust to HOW each side
  * spelled its filesystem. Canonical (scheme-alias-collapsed) equality is
  * the primary test; a path with NO scheme additionally matches the same
  * path under ANY scheme, in either direction. Mapping schemeless to a
  * fixed default instead would guess: a deployment whose `fs.defaultFS` is
  * HDFS/S3 records schemeless manifest paths that are NOT local files, and
  * orphan cleanup resolving them to `file://` would classify every live
  * file as an orphan and delete it. The reference keeps both raw and
  * normalized lookups for the same reason (`table/orphan_cleanup.go:229`).
  * The residual ambiguity (same path on two different stores, one spelled
  * schemeless) false-RETAINS — the safe direction for a deleter.
  */
final class ReferencedPaths(refs: IterableOnce[String]) extends Serializable {
  private val canonical = scala.collection.mutable.HashSet[String]()
  private val schemelessPaths = scala.collection.mutable.HashSet[String]()
  private val allPaths = scala.collection.mutable.HashSet[String]()
  refs.iterator.foreach { p =>
    canonical += FileIO.canonicalPath(p)
    val po = FileIO.pathOnly(p)
    allPaths += po
    if (!FileIO.hasScheme(p)) schemelessPaths += po
  }
  def contains(p: String): Boolean =
    canonical.contains(FileIO.canonicalPath(p)) ||
      schemelessPaths.contains(FileIO.pathOnly(p)) ||
      (!FileIO.hasScheme(p) && allPaths.contains(FileIO.pathOnly(p)))
}
