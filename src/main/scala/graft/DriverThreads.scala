package graft

import java.util.concurrent.{Callable, ExecutionException, Executors}

import scala.util.{Failure, Success, Try}

/** Independent driver-side actions run side by side. Spark actions are
  * only sequential because the driver calls them one after another: one
  * action's job tail leaves task slots idle that a second action's jobs
  * can fill.
  */
private[graft] object DriverThreads {

  /** Run every task on its own new thread and wait for ALL of them.
    * Results come back in task order. If any task fails, the first
    * failure in task order is rethrown once every task has finished,
    * with the other failures attached as suppressed — so no task's
    * Spark work outlives the call.
    *
    * The threads are created by the calling thread when the tasks are
    * submitted, so they inherit its Spark local properties (job group,
    * job tags, scheduler pool) and its active session.
    */
  def all[T](tasks: Seq[() => T]): Seq[T] = {
    val pool = Executors.newFixedThreadPool(math.max(tasks.size, 1))
    try {
      val futures = tasks.map(t => pool.submit(new Callable[T] { def call(): T = t() }))
      val outcomes = futures.map { f =>
        Try(f.get()) match {
          case Failure(e: ExecutionException) if e.getCause != null => Failure(e.getCause)
          case other => other
        }
      }
      outcomes.collect { case Failure(e) => e } match {
        case first +: rest =>
          rest.filter(_ ne first).foreach(first.addSuppressed)
          throw first
        case _ => outcomes.collect { case Success(v) => v }
      }
    } finally pool.shutdown()
  }

  /** [[all]] over two tasks whose results differ in type. */
  def both[A, B](a: () => A, b: () => B): (A, B) = {
    val Seq(x, y) = all[Any](Seq(a, b))
    (x.asInstanceOf[A], y.asInstanceOf[B])
  }
}
