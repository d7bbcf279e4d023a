package graft.ml

import java.util.concurrent.{ExecutorService, Executors}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** The bounded pool every batch of independent model fits runs on (the
  * CrossValidator-parallelism pattern). 3 threads, not one per fit: at
  * sf0.1 the fits are tiny and the single-threaded DAG scheduler is the
  * floor (measured on the 5×2 fold fits: sequential ~19 s ≈ 3-way ~20 s,
  * 10-way ~36 s), so wide overlap only buys contention; on a cluster,
  * where each fit's jobs are resource-bound, bounded overlap is the
  * wall-time win.
  */
private[graft] object FitPool {

  val Width = 3

  /** `f` over `items` on `pool`, results in input order (so a union
    * built from them is the sequential build's). The first failure is
    * rethrown as soon as it happens, after `shutdownNow` cancels the
    * queued and running fits, which would otherwise keep running behind
    * the rethrow as stray Spark jobs; the pool is shut down on every
    * exit path. The results are combined on the completing thread, not
    * on `pool`: a combining callback queued on `pool` would wait behind
    * every queued fit, so the failure would surface only after they all
    * ran.
    */
  def traverse[A, B](items: Seq[A],
      pool: ExecutorService = Executors.newFixedThreadPool(Width))(f: A => B): Seq[B] = {
    val ec = ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.traverse(items)(a => Future(f(a))(ec))(
      implicitly, ExecutionContext.parasitic), Duration.Inf)
    catch { case e: Throwable => pool.shutdownNow(); throw e }
    finally pool.shutdown()
  }
}
