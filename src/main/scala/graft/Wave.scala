package graft

import java.util.concurrent.{Callable, ExecutionException, Executors}
import scala.util.{Failure, Try}

/** One concurrent wave of independent driver-side tasks — typically Spark
  * actions on separate DataFrames, submitted from several threads so the
  * scheduler runs their jobs together instead of one blocking round-trip
  * after another.
  *
  * The pool belongs to the wave: it is created on the calling thread, so
  * its threads inherit the caller's Spark job group and local properties
  * (they are inheritable thread-locals), and it is shut down when the wave
  * ends. It has one thread per task, at most [[MaxThreads]]; an empty wave
  * builds no pool. Results come back in input order. The wave waits for
  * every task before it returns or throws, then rethrows the first failure
  * in input order, so no task is still running when the caller sees it.
  */
object Wave {
  val MaxThreads = 8

  def run[A, B](items: Seq[A])(f: A => B): Seq[B] = attempt(items)(f).map(_.get)

  /** [[run]] that hands back every task's outcome, failures included. */
  def attempt[A, B](items: Seq[A])(f: A => B): Seq[Try[B]] =
    if (items.isEmpty) Nil
    else {
      val pool = Executors.newFixedThreadPool(math.min(MaxThreads, items.size))
      val outcomes =
        try items.toVector
          .map(a => pool.submit(new Callable[B] { def call(): B = f(a) }))
          .map(fut => Try(fut.get()))
        finally pool.shutdown()
      outcomes.map {
        case Failure(e: ExecutionException) if e.getCause != null => Failure(e.getCause)
        case o => o
      }
    }
}
