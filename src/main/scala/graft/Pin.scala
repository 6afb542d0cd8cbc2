package graft

import scala.util.DynamicVariable

import org.apache.spark.sql.DataFrame

/** The one eager/lazy pin policy. A "sharing pin" executes a frame that
  * several consumers read (a census, a signature cache, a small pair
  * set) so each consumer scans the result instead of re-running its
  * lineage. Eager is the default — every production caller pins.
  * [[lazily]] turns every pin in its block into the identity, so the
  * block builds the plan it would execute without executing it (plan
  * dumps, construction audits).
  *
  * Pins that are part of an algorithm — state carried across
  * micro-batches, lineage breaks in an iterative loop, eager stage
  * graphs, index builds — call `localCheckpoint` directly and are not
  * governed here. */
object Pin {

  private val lazyMode = new DynamicVariable[Boolean](false)

  /** Run `body` with every pin inside it (on this thread) the identity. */
  def lazily[A](body: => A): A = lazyMode.withValue(true)(body)

  /** Pin `df`: execute it once and return a frame over the result. */
  def apply(df: DataFrame): DataFrame =
    if (lazyMode.value) df else df.localCheckpoint(true)

  /** Cache `src`, count it so its consumers read one computed copy, run
    * `use` over it, and release the cache — in try/finally, so a failed
    * count or `use` cannot leak it. `use` pins what it returns (the
    * cache is gone once it does). Lazily, `use(src)` with no cache. */
  def cached(src: DataFrame)(use: DataFrame => DataFrame): DataFrame =
    if (lazyMode.value) use(src)
    else {
      val c = src.cache()
      try { c.count(); use(c) } finally c.unpersist()
    }

  /** Pin `df`, then run `release` whether or not the pin succeeded.
    * Lazily, `df` unpinned and nothing released: the lazy plan may still
    * read what `release` would drop. */
  def releasing(df: DataFrame)(release: => Unit): DataFrame =
    if (lazyMode.value) df else try apply(df) finally release

  /** `f` over independent items — concurrently when eager (every
    * failure is reported, [[graft.suite.Concurrency.all]]), inline and
    * in order when lazy. The mode is read here, on the calling thread,
    * before any fork. */
  def all[A, B](items: Seq[A])(f: A => B): Seq[B] =
    if (lazyMode.value) items.map(f)
    else graft.suite.Concurrency.all(items)(f)
}
