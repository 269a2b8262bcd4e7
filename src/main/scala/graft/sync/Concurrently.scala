package graft.sync

/** Runs independent bodies at once, each on a thread made for this call.
  *
  * Spark keeps a thread's local properties (job group, job tags, scheduler
  * pool, SQL execution ids) in an `InheritableThreadLocal`, copied when a
  * thread is created. A fresh thread therefore carries the caller's
  * properties at the moment of the call, so the bodies' jobs are tagged and
  * cancellable like the caller's own. A shared pool's threads (Scala's
  * `.par`) keep whatever their creator had, often a long-finished caller's.
  *
  * Waits for every body, then rethrows the first failure with the others
  * added as suppressed.
  */
object Concurrently {
  def foreach[A](items: Iterable[A])(body: A => Unit): Unit = {
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = items.toList.map { a =>
      val t = new Thread(() =>
        try body(a) catch { case e: Throwable => errors.add(e); () })
      t.start()
      t
    }
    threads.foreach(_.join())
    Option(errors.poll()).foreach { first =>
      errors.forEach(first.addSuppressed(_))
      throw first
    }
  }
}
