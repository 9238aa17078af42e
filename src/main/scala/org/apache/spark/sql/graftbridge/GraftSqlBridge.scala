/* Bridge into Spark's private[sql] scope — the sanctioned pattern for
 * third-party Catalyst extensions that need Expression ⇄ Column
 * conversion (same access the built-in functions use). No Spark
 * internals are reimplemented here. */
package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.classic.ExpressionUtils

object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Drain the listener bus so job-count assertions (laziness specs)
    * see every event posted so far. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Persist `df` unless an equivalent plan is already cached — the
    * CacheManager logs "Asked to cache already cached data" when a
    * logically-equal plan is re-persisted (e.g. the same registered
    * query constructed twice in one session), so check first. Returns
    * true iff this call added a new cache entry. */
  def persistIfAbsent(df: org.apache.spark.sql.DataFrame,
                      level: org.apache.spark.storage.StorageLevel): Boolean = {
    val classic = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val cached = classic.sparkSession.sharedState.cacheManager
      .lookupCachedData(classic).isDefined
    if (!cached) df.persist(level)
    !cached
  }

  /** Builds `df`'s cache entry in one job, unless it has none or it is
    * built already. Queries that start together over an unbuilt entry
    * each launch a job to build it, unless one finds it built by the
    * time it plans; one build before them fixes their job count. */
  def buildCache(df: org.apache.spark.sql.DataFrame): Unit = {
    val classic = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    classic.sparkSession.sharedState.cacheManager.lookupCachedData(classic)
      .map(_.cachedRepresentation.cacheBuilder)
      .filterNot(_.isCachedColumnBuffersLoaded)
      .foreach(_.cachedColumnBuffers.foreachPartition(_ => ()))
  }

  /** [[persistIfAbsent]] at MEMORY_AND_DISK, returning the frame —
    * drop-in for build-time `.persist` on frames a plan references
    * more than once (IVF cell assignments, LSH signature frames). Execution
    * hits the existing cache entry either way; this just avoids
    * double-registering equal plans. The entry lives until the cache
    * is cleared ([[graft.Runner.reset]]). */
  def sharedInPlan(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    persistIfAbsent(df, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    df
  }

  /** Drops the blocks of a locally checkpointed RDD, as the context
    * cleaner does for one no longer referenced. `RDD.unpersist` would do
    * the same and warn that the lineage cannot be recomputed, which is
    * what a released round means. */
  def dropCheckpoint(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** Register a function into an EXISTING session's registry (the
    * extensions path only applies at session build time). */
  def registerFunction(spark: SparkSession, name: FunctionIdentifier,
                       info: ExpressionInfo,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(name, info, builder)
}
