package graftbench

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** A bounded thread pool for set-up work (file generation, writes). */
object Pool {
  def map[A, B](items: Seq[A], parallelism: Int)(f: A => B): Vector[B] = {
    if (parallelism <= 1) return items.map(f).toVector
    val ex = Executors.newFixedThreadPool(parallelism)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(ex)
      Await.result(Future.sequence(items.map(a => Future(f(a)))), Duration.Inf).toVector
    } finally {
      ex.shutdown()
    }
  }
}
