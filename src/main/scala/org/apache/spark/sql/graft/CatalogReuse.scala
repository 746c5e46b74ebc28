package org.apache.spark.sql.graft

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.columnar.{CachedRDDBuilder, InMemoryRelation}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Reuse of the driver-built broadcast lookups of static catalogs
  * (the crossmatch [[CatalogIndex]], the by-key [[CatalogLookup]] table).
  *
  * A lookup is built once and reused for as long as the data it was
  * built from is pinned by Spark's own cache: every leaf of the
  * catalog's plan (after cached-data substitution) must be an
  * [[InMemoryRelation]] that the
  * session's CacheManager still holds. The key is the canonical plan
  * plus the caller's build parameters (radius, columns, byte budget),
  * so a changed projection or a lowered budget builds afresh. An entry
  * whose cache was dropped (`unpersist()`, `clearCache()`, or a
  * re-cache that made a new cache entry) is evicted at the next call
  * and its broadcast is unpersisted. A catalog with any other leaf
  * (files, local rows, RDDs) is rebuilt on every call: its data can
  * change between calls, and Spark only promises stability for cached
  * data.
  */
object CatalogReuse {

  private final class Entry(val sc: SparkContext,
      val builders: Seq[CachedRDDBuilder], val bc: Broadcast[_])

  private val entries = mutable.HashMap.empty[(Any, Any), Entry]

  private def live(spark: classic.SparkSession, b: CachedRDDBuilder): Boolean =
    spark.sharedState.cacheManager.lookupCachedData(spark, b.logicalPlan)
      .exists(_.cachedRepresentation.cacheBuilder eq b)

  /** The broadcast of `build()` for the catalog projection `catDf`
    * under `params`: reused while `catDf`'s cached data is live, else
    * built (and, for a cached catalog, kept).
    */
  def broadcast[T: scala.reflect.ClassTag](catDf: DataFrame, params: Any)
      (build: => T): Broadcast[T] = synchronized {
    val spark = catDf.sparkSession.asInstanceOf[classic.SparkSession]
    val sc = spark.sparkContext
    entries.filterInPlace { (_, e) =>
      val keep =
        if (e.sc ne sc) !e.sc.isStopped else e.builders.forall(live(spark, _))
      if (!keep && !e.sc.isStopped) e.bc.unpersist()
      keep
    }
    // the analyzed plan with cached fragments substituted: the leaves
    // the optimizer sees, without paying for an optimizer run per call
    val plan = catDf.queryExecution.withCachedData
    val leaves = plan.collectLeaves()
    val builders = leaves.collect {
      case m: InMemoryRelation if live(spark, m.cacheBuilder) => m.cacheBuilder
    }
    if (leaves.isEmpty || builders.length != leaves.length) sc.broadcast(build)
    else {
      val key = (plan.canonicalized, params)
      entries.get(key) match {
        case Some(e) => e.bc.asInstanceOf[Broadcast[T]]
        case None =>
          val bc = sc.broadcast(build)
          entries(key) = new Entry(sc, builders, bc)
          bc
      }
    }
  }
}

/** Per-row lookup of a broadcast by-key catalog table (string key to
  * the payload row of the one catalog row carrying it): the payload
  * struct of the row whose key equals `key`, or null. Replaces a
  * broadcast left join against a small catalog with one scalar
  * expression, so the alert side keeps a single projection and a
  * repeated catalog key fails at build instead of duplicating rows.
  * CodegenFallback, like [[ClosestCatalogProbe]]: the projection that
  * holds the lookup is not whole-stage compiled.
  */
case class CatalogLookup(key: Expression,
    tableBc: Broadcast[java.util.HashMap[UTF8String, InternalRow]],
    payloadType: StructType) extends UnaryExpression with CodegenFallback {

  override def child: Expression = key
  override def dataType: DataType = payloadType
  override def nullable: Boolean = true
  override def prettyName: String = "catalog_lookup"

  override protected def nullSafeEval(k: Any): Any =
    tableBc.value.get(k.asInstanceOf[UTF8String])

  override protected def withNewChildInternal(newChild: Expression): CatalogLookup =
    copy(key = newChild)
}

object CatalogLookup {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.classic.ExpressionUtils

  /** Column-level entry point (Spark 4 classic column-node bridge). */
  def apply(key: Column, tableBc: Broadcast[java.util.HashMap[UTF8String, InternalRow]],
      payloadType: StructType): Column =
    ExpressionUtils.column(CatalogLookup(
      ExpressionUtils.expression(key), tableBc, payloadType))
}
