package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** A value plus the action that releases what it holds — the engine's
  * one resource lifecycle. Operators that persist intermediates (a
  * shared subplan, a loaded index, a gated batch) return a `Scoped`
  * whose release drops exactly those cache entries; the value stays
  * correct afterwards (its plan re-derives anything released), only
  * the cache is gone.
  *
  *   - `use` runs a body on the value and releases on exit, including
  *     when the body throws.
  *   - `flatMap` composes scopes: the result releases the inner scope,
  *     then the outer, each exactly once.
  *   - `materialize` (on a `Scoped[DataFrame]`) persists the value,
  *     counts it and releases the inner scope; the returned scope owns
  *     only the materialized result.
  *   - `Scoped.cached` persists a frame without running an action: the
  *     first job that reads it fills the cache.
  *   - `localize` (on a `Scoped[DataFrame]` whose value is bounded)
  *     collects the value, releases the scope and returns the rows as
  *     a one-partition local frame.
  *
  * Release is idempotent: a second call does nothing. A caller that
  * takes `.value` and never releases hands the cache entries to
  * whoever clears the session cache (the query catalogue's drivers do,
  * after every query). */
final class Scoped[+A] private (val value: A, onRelease: () => Unit) {
  private[this] var released = false

  /** Run the release action, once. */
  def release(): Unit = {
    val run = synchronized { val first = !released; released = true; first }
    if (run) onRelease()
  }

  /** `f(value)`, then release — also when `f` throws. */
  def use[B](f: A => B): B = try f(value) finally release()

  /** Same resources, a derived value. Releases this scope if `f` throws. */
  def map[B](f: A => B): Scoped[B] = {
    val b = try f(value) catch { case e: Throwable => release(); throw e }
    new Scoped(b, () => release())
  }

  /** A scope built from this one's value: the result owns both and
    * releases the inner scope before this one. Releases this scope if
    * `f` throws. */
  def flatMap[B](f: A => Scoped[B]): Scoped[B] = {
    val inner = try f(value) catch { case e: Throwable => release(); throw e }
    new Scoped(inner.value, () => try inner.release() finally release())
  }
}

object Scoped {
  /** `value`, released by running `release`. */
  def apply[A](value: A)(release: => Unit): Scoped[A] =
    new Scoped(value, () => release)

  /** `value` with nothing to release. */
  def pure[A](value: A): Scoped[A] = new Scoped(value, () => ())

  /** `df` persisted at MEMORY_AND_DISK, released by unpersisting it. No
    * action runs here. A frame that is already cached comes back as is:
    * its owner releases it. */
  def cached(df: DataFrame): Scoped[DataFrame] =
    if (df.storageLevel != StorageLevel.NONE) pure(df)
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      Scoped(p)(p.unpersist(blocking = false))
    }

  implicit final class FrameOps(private val s: Scoped[DataFrame]) extends AnyVal {
    /** Persist the frame at MEMORY_AND_DISK, count it, then release the
      * inner scope (the result now reads its own cache, not the
      * intermediates). The returned scope unpersists the result. */
    def materialize: Scoped[DataFrame] = {
      val out = s.value.persist(StorageLevel.MEMORY_AND_DISK)
      try out.count()
      catch { case e: Throwable => out.unpersist(blocking = false); throw e }
      finally s.release()
      Scoped(out)(out.unpersist(blocking = false))
    }

    /** Collect the frame, release the scope — also when the collect
      * throws — and return the rows as a one-partition local frame
      * with the same schema. For results bounded by construction (top-k
      * lists, per-source tables): the caller owns nothing afterwards. */
    def localize: DataFrame = {
      val df = s.value
      val rows = try df.collect().toIndexedSeq finally s.release()
      val spark = df.sparkSession
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), df.schema)
    }
  }
}
