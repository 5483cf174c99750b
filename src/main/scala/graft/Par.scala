package graft

import java.util.concurrent.{CompletableFuture, CompletionException,
  ConcurrentHashMap, ExecutionException, Executors, TimeUnit,
  TimeoutException}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{SparkSession, classic}
import org.apache.spark.sql.execution.SQLExecution

import scala.collection.mutable.ArrayBuffer

/** The one way graft overlaps independent driver-side Spark work, and
  * the one build-once memo.
  *
  * {{{
  * Par.scope(s) { sc =>
  *   val a = sc.fork(left())   // runs concurrently with the body
  *   val b = right()
  *   (a.join(), b)
  * }
  * }}}
  *
  * Forks run on one shared pool of daemon threads. The pool is cached and
  * unbounded because forks nest (a `SnapTxn.commit` prepares its tables
  * inside the forks of a composed op), so a bounded pool could starve a
  * fork that waits on its own children. Each fork sees the caller's
  * active session and Spark local properties as they stand at the fork
  * call, and tags its jobs with its own job tag. Tags are inherited, so
  * cancelling a fork's tag also reaches the jobs of any scope nested in
  * it.
  *
  * If the body or a join throws, every fork still running has its jobs
  * cancelled by tag and is awaited before the exception leaves the scope:
  * no forked work, and no Spark job of it, outlives a failed scope. On a
  * normal exit the unjoined forks are joined, so their failures surface.
  */
object Par {

  private val ids = new AtomicLong()

  private val pool = Executors.newCachedThreadPool { (r: Runnable) =>
    val t = new Thread(r, s"graft-par-${ids.incrementAndGet()}")
    t.setDaemon(true)
    t
  }

  /** A forked branch of a [[Scope]]. */
  final class Fork[A] private[Par] (private[Par] val tag: String,
      private[Par] val result: CompletableFuture[A]) {

    /** Wait for the branch; its value, or the exception it threw. */
    def join(): A =
      try result.get()
      catch {
        case e: ExecutionException if e.getCause != null => throw e.getCause
      }
  }

  final class Scope private[Par] (s: SparkSession) {
    private[Par] val forks = ArrayBuffer.empty[Fork[_]]

    /** Start `body` concurrently with the rest of the scope. */
    def fork[A](body: => A): Fork[A] = {
      val tag = s"graft-par-${ids.incrementAndGet()}"
      val active = SparkSession.getActiveSession.getOrElse(s)
      val f = new Fork(tag, SQLExecution.withThreadLocalCaptured(
        active.asInstanceOf[classic.SparkSession], pool) {
        active.sparkContext.addJobTag(tag)
        body
      })
      forks.synchronized(forks += f)
      f
    }
  }

  /** Run `body` with a [[Scope]] to fork from; see the object doc. */
  def scope[A](s: SparkSession)(body: Scope => A): A = {
    val sc = new Scope(s)
    def forks = sc.forks.synchronized(sc.forks.toList)
    try {
      val out = body(sc)
      forks.foreach(_.join())
      out
    } catch {
      case t: Throwable =>
        forks.foreach(cancelAndAwait(s, _))
        throw t
    }
  }

  // A fork between two jobs is not reached by one cancel, so the cancel
  // repeats until the fork has finished.
  private def cancelAndAwait(s: SparkSession, f: Fork[_]): Unit = {
    var interrupted = false
    while (!f.result.isDone) {
      s.sparkContext.cancelJobsWithTag(f.tag, "graft.Par scope failed")
      try f.result.get(50, TimeUnit.MILLISECONDS)
      catch {
        case _: TimeoutException | _: ExecutionException =>
        case _: InterruptedException => interrupted = true
      }
    }
    if (interrupted) Thread.currentThread().interrupt()
  }

  private val built = new ConcurrentHashMap[Any, CompletableFuture[Any]]()

  /** The value of `build` for `key`, built once per JVM.
    *
    * The caller that wins the race for `key` runs `build` outside any
    * lock; the others wait for it. A failed build removes its entry, so
    * the next caller retries, and every caller waiting on the failed
    * build sees its original exception. Keys are global, so a caller
    * namespaces its key (for example `("graph_edges", dir, name)`).
    */
  def once[V](key: Any)(build: => V): V = {
    val mine = new CompletableFuture[Any]()
    built.putIfAbsent(key, mine) match {
      case null =>
        try {
          val v = build
          mine.complete(v)
          v
        } catch {
          case t: Throwable =>
            built.remove(key, mine)
            mine.completeExceptionally(t)
            throw t
        }
      case existing =>
        try existing.join().asInstanceOf[V]
        catch {
          case e: CompletionException if e.getCause != null =>
            throw e.getCause
        }
    }
  }
}
