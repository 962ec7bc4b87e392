package graft.lineage

import java.util.concurrent.{CountDownLatch, ExecutorService, LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Every thread pool of the lineage package is built by [[apply]]:
  * daemon threads that exit after a minute idle, so no pool keeps the
  * JVM alive or holds threads once its traffic stops.
  *
  * [[parse]] is the one JVM-wide parse pool, one thread per core. It
  * runs the service's parse endpoints and the helpers of [[fanOut]],
  * so at one client idle threads analyze the request's statements,
  * and under load the helpers queue behind requests instead of
  * oversubscribing the cores. */
private[lineage] object Lanes {

  private val Cores = Runtime.getRuntime.availableProcessors()

  /** `threads` daemon threads named `name(i)`, fed from an unbounded
    * queue; a thread idle for a minute exits. */
  def apply(threads: Int, name: Int => String): ExecutorService = {
    val made = new AtomicInteger()
    val pool = new ThreadPoolExecutor(threads, threads, 1, TimeUnit.MINUTES,
      new LinkedBlockingQueue[Runnable](), (r: Runnable) => {
        val t = new Thread(r, name(made.getAndIncrement()))
        t.setDaemon(true)
        t
      })
    pool.allowCoreThreadTimeOut(true)
    pool
  }

  lazy val parse: ExecutorService = Lanes(Cores, i => s"graft-lineage-parse-$i")

  /** `run(0 until n)`, results in index order, on the calling thread and
    * up to `min(n, workers) - 1` helper tasks on [[parse]]. Each worker
    * claims the next index from a shared counter, so the caller never
    * waits for a helper that has not started: it waits only for indices
    * already claimed and running, and no call can deadlock even when
    * every pool thread is itself a caller.
    *
    * Failure is the sequential loop's: the call throws the Throwable
    * (an `Error` included) of the lowest failing index, and no index
    * above an already failed one is started. */
  def fanOut[A: scala.reflect.ClassTag](n: Int, workers: Int = Cores)
                                        (run: Int => A): IndexedSeq[A] = {
    val out = new Array[A](n)
    if (n == 1) out(0) = run(0)
    else if (n > 1) {
      val errors = new Array[Throwable](n)
      val failedAt = new AtomicInteger(n)
      val next = new AtomicInteger()
      val done = new CountDownLatch(n)
      val work: Runnable = () => {
        var i = next.getAndIncrement()
        while (i < n) {
          try if (i < failedAt.get) {
            try out(i) = run(i)
            catch { case t: Throwable =>
              errors(i) = t
              failedAt.accumulateAndGet(i, math.min)
            }
          } finally done.countDown()
          i = next.getAndIncrement()
        }
      }
      (1 until math.min(n, workers)).foreach(_ => parse.execute(work))
      work.run()
      done.await()
      if (failedAt.get < n) throw errors(failedAt.get)
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }
}
