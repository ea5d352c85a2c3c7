package graft.component

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Independent I/O items (input loads, passthrough reads, exports) run on
  * a fixed pool of `threads` lanes, so their Spark jobs overlap instead of
  * leaving cores idle one load at a time. */
private[component] object Parallel {

  /** `f` over every item, at most `threads` at a time. Every item runs to
    * the end; the results come back in `items` order, and the first
    * failure in that order is raised. */
  def map[A, B](threads: Int, items: Seq[A])(f: A => B): Seq[B] = {
    val pool = Executors.newFixedThreadPool(math.max(1, math.min(threads, items.size)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fs = items.map(a => Future(f(a)))
      fs.foreach(Await.ready(_, Duration.Inf))
      fs.map(_.value.get.get)
    } finally pool.shutdown()
  }
}
