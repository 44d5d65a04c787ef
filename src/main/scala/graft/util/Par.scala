package graft.util

/** Overlap INDEPENDENT driver-side actions (guide §2.6: Spark's
  * scheduler happily runs several jobs at once inside one application —
  * actions are only sequential because the driver code calls them
  * sequentially). Every action but the first runs on its own thread, so
  * their jobs' tasks back-fill executors freed by each other's stage
  * tails AND their between-job driver latencies overlap —
  * the dominant cost of the designed multi-commit lifecycle gates at
  * bench scale, and genuine idle capacity at cluster scale.
  *
  * Caller contract (the FanOut discipline — a titled review rule):
  *   - the thunks must share NO ordering dependency and no mutable
  *     state (separate output tables, read-only shared inputs);
  *   - each thunk must be safe on a non-main thread — Spark job
  *     submission is thread-safe, and job-group/description properties
  *     are inherited via InheritableThreadLocal at thread creation.
  *
  * An exception in any thunk rethrows on the caller's thread (the others
  * are still awaited first, so no work leaks past the call).
  */
object Par {

  /** [[all]] over two legs: `a` on the caller's thread, `b` on its own. */
  def both[A, B](a: => A, b: => B): (A, B) = {
    val Seq(ra, rb) = all[Any](Seq(() => a, () => b))
    (ra.asInstanceOf[A], rb.asInstanceOf[B])
  }

  /** Every thunk runs concurrently (the first on the caller's thread,
    * the rest on daemon threads); results return in input order. The
    * lowest-index failure rethrows on the caller's thread with the
    * others suppressed, after every thread has been joined.
    */
  def all[A](thunks: Seq[() => A]): Seq[A] = {
    if (thunks.isEmpty) return Seq.empty
    if (thunks.size == 1) return thunks.map(_())
    val out = new Array[Either[Throwable, A]](thunks.size)
    val ts = thunks.zipWithIndex.drop(1).map { case (f, i) =>
      val t = new Thread(() => {
        out(i) =
          try Right(f())
          catch { case x: Throwable => Left(x) }
      }, s"graft-par-all-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    out(0) =
      try Right(thunks.head())
      catch { case x: Throwable => Left(x) }
    ts.foreach(_.join())
    out.collectFirst { case Left(x) => x }.foreach { first =>
      out.foreach {
        case Left(y) if y ne first => first.addSuppressed(y)
        case _ => ()
      }
      throw first
    }
    out.toSeq.map(_.toOption.get)
  }
}
