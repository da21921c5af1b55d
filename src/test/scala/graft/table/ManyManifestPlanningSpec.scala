package graft.table

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{IceLong, IceSchema, IdentityTransform, NestedField, Predicates => P}
import graft.meta._

/** Planning a table of many manifests: planFiles prunes every manifest's
  * entries on the driver's bounded pool, so a plan submits no Spark job
  * however many manifests the snapshot holds. The table stripes partition
  * values inside each of its 70 data manifests (none prunes at the manifest
  * list), carries file-stats bounds, and has one delete manifest.
  */
class ManyManifestPlanningSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var table: IceTable = _

  private val NManifests = 70
  private val EntriesPer = 40

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("many-manifest-planning-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val wh = Files.createTempDirectory("graft-manyplan").toString
    val catalog = new FileCatalog(wh)
    val schema = IceSchema(0, Seq(
      NestedField(1, "id", IceLong, required = true),
      NestedField(2, "p", IceLong, required = true)))
    val spec = PartitionSpec(0, Seq(PartitionField(2, 1000, "p", IdentityTransform)))
    val t = IceTable.create(catalog, "manyplan", schema, spec = spec)

    def longBytes(v: Long): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.putLong(v); b.array()
    }
    val ds = t.beginDistributedSnapshot()
    val manifests = (0 until NManifests).map { mi =>
      val entries = (0 until EntriesPer).map { i =>
        val p = (mi * EntriesPer + i) % 5
        val idLo = (mi * EntriesPer + i) * 100L
        ManifestEntry(ManifestEntryStatus.Added, ds.snapshotId, None, None,
          DataFile(content = 0,
            filePath = f"$wh/manyplan/data/p=$p/m$mi%03d-f$i%03d.parquet",
            fileFormat = "PARQUET",
            partition = Seq(p.toLong),
            recordCount = 100L, fileSizeInBytes = 1L << 10,
            lowerBounds = Map(1 -> longBytes(idLo)),
            upperBounds = Map(1 -> longBytes(idLo + 99L))))
      }
      ManifestIO.writeManifest(
        f"${t.location}/metadata/${ds.commitUuid}-m$mi%03d.avro",
        entries, t.spec, schema)
    }
    // one delete manifest: a file-scoped positional delete per 7th data file
    val delEntries = (0 until NManifests * EntriesPer by 7).map { k =>
      val mi = k / EntriesPer; val i = k % EntriesPer; val p = k % 5
      val target = f"$wh/manyplan/data/p=$p/m$mi%03d-f$i%03d.parquet"
      ManifestEntry(ManifestEntryStatus.Added, ds.snapshotId, None, None,
        DataFile(content = 1,
          filePath = f"$wh/manyplan/data/del$k%04d.parquet",
          fileFormat = "PARQUET",
          partition = Seq(p.toLong),
          recordCount = 1L, fileSizeInBytes = 1L << 8,
          lowerBounds = Map(DeleteIndex.PathFieldId -> target.getBytes("UTF-8")),
          upperBounds = Map(DeleteIndex.PathFieldId -> target.getBytes("UTF-8"))))
    }
    val dm = ManifestIO.writeManifest(
      s"${t.location}/metadata/${ds.commitUuid}-mdel.avro",
      delEntries, t.spec, schema, content = 1)
    t.commitDistributedSnapshot(ds, manifests :+ dm)
    t.refresh()
    table = t
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("planFiles submits no Spark job at 70 manifests") {
    for (filter <- Seq(P.equalTo("p", 3L), P.gt("id", 40000L),
        graft.core.AlwaysTrue)) {
      val (tasks, jobs) = graft.JobCount.during(spark)(
        table.newScan(filter = filter).planFiles())
      assert(jobs == 0, s"planning $filter submitted $jobs Spark jobs")
      assert(tasks.nonEmpty)
    }
  }

  test("p = 3 prunes entries in every manifest; deletes attach") {
    val pruned = table.newScan(filter = P.equalTo("p", 3L)).planFiles()
    assert(pruned.size == NManifests * EntriesPer / 5)
    // every 7th data file carries a position delete
    assert(pruned.count(_.deletes.nonEmpty) > 0)
  }
}
