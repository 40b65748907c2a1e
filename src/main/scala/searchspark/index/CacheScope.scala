package searchspark.index

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

/** The owner of the caches one call makes: every frame cached through
  * it is unpersisted by one `release()`. A cache whose result outlives
  * the call (the in-memory build's tables) is released by whoever holds
  * that result — [[BuiltIndex.unpersist]]. */
final class CacheScope {
  private val held = mutable.ArrayBuffer.empty[DataFrame]

  def cache(df: DataFrame): DataFrame = {
    held.synchronized(held += df)
    df.cache()
  }

  def release(): Unit = held.synchronized {
    held.foreach(_.unpersist())
    held.clear()
  }
}

object CacheScope {
  /** Run `body` with a fresh scope and release it when `body` returns. */
  def apply[T](body: CacheScope => T): T = {
    val scope = new CacheScope
    try body(scope) finally scope.release()
  }
}
