package graft.util

import java.util.concurrent.{CompletableFuture, CompletionException, Executors, ThreadFactory}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import scala.collection.mutable.ArrayBuffer

/** The one owner of driver-side concurrency: independent pieces of
  * driver work (each a chain of Spark actions) submitted together, so
  * their jobs share the cores instead of queueing one action behind
  * another. Spark schedules concurrent jobs of one session fine; what
  * a plain thread pool loses is the caller's thread-local context, so
  * every branch runs through `SQLExecution.withThreadLocalCaptured`,
  * which carries the caller's local properties (job group, scheduler
  * pool, job tags) and active session onto the branch's thread. */
object Branches {

  /** The name prefix of every branch thread. */
  val ThreadPrefix = "graft-branch-"

  /** A submitted branch. */
  final class Branch[T] private[Branches] (future: CompletableFuture[T]) {
    /** Waits for the branch and returns its result, or rethrows the
      * exception the branch itself threw (`CompletableFuture.join`
      * wraps it in a `CompletionException`; that wrapper is dropped). */
    def join(): T =
      try future.join()
      catch { case e: CompletionException if e.getCause != null => throw e.getCause }
  }

  /** Where `run`'s body submits branches. */
  final class Scope private[Branches] (spark: SparkSession, threads: Int) {
    private val started = ArrayBuffer.empty[Thread]
    private val pool = Executors.newFixedThreadPool(threads, new ThreadFactory {
      def newThread(r: Runnable): Thread = started.synchronized {
        val t = new Thread(r, ThreadPrefix + started.size)
        started += t
        t
      }
    })
    private val forked = ArrayBuffer.empty[CompletableFuture[_]]

    /** Starts `body` on a pool thread, with the caller's Spark context.
      * Called only from the thread that called `run`. */
    def fork[T](body: => T): Branch[T] = {
      val f = SQLExecution.withThreadLocalCaptured(
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], pool)(body)
      forked += f
      new Branch(f)
    }

    /** Every forked branch done (its failure, if any, left to its own
      * `join`), then the pool shut down and its threads ended. */
    private[Branches] def close(): Unit = {
      forked.foreach(f => scala.util.Try(f.join()))
      pool.shutdown()
      started.synchronized(started.toSeq).foreach(_.join())
    }
  }

  /** `body` with a scope that runs what it forks on at most `threads`
    * threads. Whether `body` returns or throws, every branch it forked
    * has finished and every pool thread has ended before `run` does:
    * no branch's Spark job outlives the call, and no pool thread keeps
    * the JVM alive. A branch's failure surfaces where `body` joins it,
    * so `body`'s join order decides which of several failures is
    * thrown. */
  def run[T](spark: SparkSession, threads: Int)(body: Scope => T): T = {
    val scope = new Scope(spark, threads)
    try body(scope) finally scope.close()
  }
}
