package graft.ops

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Owns the DataFrames that query builders persist. Builders return lazy
  * plans — unpersisting before the caller's action would defeat the cache —
  * so the caller wraps one query's build AND action in [[run]], builders
  * call [[persist]], and the scope unpersists every frame persisted inside
  * it when it exits. Without this, MEMORY_AND_DISK blocks accumulate across
  * the queries Bench and Verify run in one long-lived session.
  *
  * Scopes belong to the calling thread and nest: closing a scope releases
  * only what was persisted inside it, never another thread's query or an
  * enclosing scope. A [[persist]] with no open scope is a plain persist,
  * owned by its caller.
  */
object QueryScope {
  private val open = new ThreadLocal[List[ArrayBuffer[DataFrame]]] {
    override def initialValue(): List[ArrayBuffer[DataFrame]] = Nil
  }

  def run[A](body: => A): A = {
    val frames = ArrayBuffer.empty[DataFrame]
    open.set(frames :: open.get)
    try body
    finally {
      open.set(open.get.tail)
      frames.foreach(df => try df.unpersist(blocking = false) catch { case NonFatal(_) => () })
    }
  }

  def persist(df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    open.get.headOption.foreach(_ += df)
    df.persist(level)
  }
}
