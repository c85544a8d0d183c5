package graft.plans

import java.util.concurrent.{Callable, ExecutionException, Executors}

/** The engine's one driver-side fan-out: runs independent Spark actions
  * (a table write each, a Materialize checkpoint each) from a bounded pool,
  * so small jobs share the cores instead of queueing one after another.
  * Spark's FIFO scheduler still favours the earliest-submitted job and
  * fills the slots it leaves idle with the others.
  *
  * The pool is built on the calling thread for every call and never
  * shared: Spark's local properties (the job group, a description, any
  * tag a caller sets) are copied into a thread when it is created, from
  * the thread that creates it, so only threads started here carry the
  * caller's attribution onto every job they submit.
  *
  * Every leg runs to its end before `map` returns — a failed leg never
  * leaves the others' jobs running behind the caller. Then the first
  * failure in input order is rethrown, with the other failures attached
  * as suppressed.
  */
object Fanout {
  /** Concurrent legs at most (Convert's long-standing default). Each leg
    * is one job whose tasks share the executors' slots, so this bounds
    * driver-side planning and commit work in flight, not task
    * parallelism. */
  val poolSize = 8

  def map[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.size <= 1) xs.map(f)
    else {
      val pool = Executors.newFixedThreadPool(math.min(xs.size, poolSize))
      val results = try {
        val legs = xs.map(x => pool.submit(new Callable[B] { def call(): B = f(x) }))
        legs.map { leg =>
          try Right(leg.get())
          catch { case e: ExecutionException => Left(e.getCause) }
        }
      } finally pool.shutdown()
      results.collect { case Left(e) => e } match {
        case first +: rest =>
          rest.filter(_ ne first).foreach(first.addSuppressed)
          throw first
        case _ => results.collect { case Right(b) => b }
      }
    }
}
