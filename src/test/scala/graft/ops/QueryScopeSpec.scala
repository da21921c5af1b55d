package graft.ops

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Builder caches are query-scoped: closing a scope releases exactly the
  * frames persisted inside it — never a concurrent query's frames on
  * another thread, nor an enclosing scope's.
  */
final class QueryScopeSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("query-scope-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def frame(mod: Int) = spark.range(0, 1000).toDF("id").where(s"id % $mod = 0")

  test("closing one query's scope leaves a concurrent query's frames cached") {
    val a = frame(3)
    val b = frame(5)
    val aCached = new CountDownLatch(1)
    val bClosed = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // query A holds its scope open until query B's scope has closed
      val queryA = Future {
        QueryScope.run {
          QueryScope.persist(a).count()
          aCached.countDown()
          assert(bClosed.await(60, TimeUnit.SECONDS), "query B never closed its scope")
          a.storageLevel
        }
      }
      val queryB = Future {
        try {
          QueryScope.run {
            QueryScope.persist(b).count()
            assert(aCached.await(60, TimeUnit.SECONDS), "query A never cached its frame")
          }
          b.storageLevel
        } finally bClosed.countDown()
      }
      assert(Await.result(queryB, 2.minutes) == StorageLevel.NONE,
        "closing query B's scope must release B's frame")
      assert(Await.result(queryA, 2.minutes) == StorageLevel.MEMORY_AND_DISK,
        "closing query B's scope released query A's frame")
      assert(a.storageLevel == StorageLevel.NONE, "closing query A's scope must release A's frame")
    } finally pool.shutdown()
  }

  test("scopes nest: an inner scope releases only its own frames") {
    val outer = frame(7)
    val inner = frame(11)
    QueryScope.run {
      QueryScope.persist(outer).count()
      QueryScope.run(QueryScope.persist(inner).count())
      assert(inner.storageLevel == StorageLevel.NONE)
      assert(outer.storageLevel == StorageLevel.MEMORY_AND_DISK)
    }
    assert(outer.storageLevel == StorageLevel.NONE)
  }

  test("a persist outside any scope is a plain persist, owned by its caller") {
    val df = frame(13)
    QueryScope.persist(df).count()
    try {
      QueryScope.run(QueryScope.persist(frame(17)).count())
      assert(df.storageLevel == StorageLevel.MEMORY_AND_DISK)
    } finally df.unpersist()
  }
}
