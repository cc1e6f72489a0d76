package graft.sources

import java.util.concurrent.atomic.AtomicLong

/** Wall-clock accumulator for STORE BUILDS (Incremental stores,
  * bucketed-table writes) so the bench can report `(build_s, query_s)`
  * separately: warm-path query cost is the number that matters at 100 TB
  * (stores amortize across a pipeline), and a build that re-fires on a
  * warm re-run is a broken reuse seam that must be visible, not averaged
  * away. Reentrant: nested timed sections (ensureBucketed → writeBucketed)
  * count once.
  */
object BuildTimer {
  private val nanos = new AtomicLong(0L)
  private val depth = new ThreadLocal[Integer] {
    override def initialValue(): Integer = 0
  }

  def timed[T](f: => T): T = {
    val d = depth.get()
    depth.set(d + 1)
    val t0 = System.nanoTime()
    try f
    finally {
      depth.set(d)
      if (d == 0) nanos.addAndGet(System.nanoTime() - t0)
    }
  }

  /** Monotone snapshot in nanoseconds — diff around a query to get its
    * build share.
    */
  def snapshot: Long = nanos.get()
}
