package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{DeserializeToObject, Filter, Generate,
  Join, LeafNode, LogicalPlan, MapElements, MapPartitions, Project, Repartition,
  RepartitionByExpression, Sample, SerializeFromObject, SubqueryAlias, TypedFilter, Union}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

/** Streaming execution of an enrichment pipeline (SURVEY.md §2.6).
  *
  * The reference contains no readStream/writeStream itself — its broker
  * runs the science modules inside Structured Streaming micro-batches,
  * and all history travels *inside* each alert packet (prv_candidates),
  * so the pipeline is stateless: no watermark, no cross-batch state.
  * The streaming wrapper therefore applies the enrichment once, to the
  * streaming DataFrame, and hands each enriched micro-batch to the sink:
  * `enrich(stream).writeStream.foreachBatch(sink)`. Structured Streaming
  * analyses the module DAG once at query start and per batch only swaps
  * the source leaf, instead of rebuilding and re-analysing the DAG for
  * every micro-batch.
  *
  * Contract: `enrich(stream)` must be row-local — every streaming node
  * of its analysed plan maps, filters or routes rows one at a time:
  * a projection, filter or alias, a typed `map`/`mapPartitions`, an
  * `explode`, a union, a repartition, a sample, a join of the stream
  * with a static table, or the source leaf. A module that aggregates,
  * deduplicates, sorts, limits, ranks in a window or joins two streams
  * would turn the query into a stateful streaming query (other
  * semantics, or rejected by Spark), so [[streamingWriter]] refuses it
  * before start, naming the operator; run such a module per batch
  * inside your own `foreachBatch`. What a
  * module captures on the driver when it is applied (a catalog's
  * broadcast lookup) is captured once per query: restart the query to
  * pick up a changed catalog.
  *
  * A module is `DataFrame => DataFrame` appending columns (the
  * reference's universal contract, SURVEY.md §1.1); `Pipeline` composes
  * them in dependency order (SURVEY.md §3 module DAG).
  */
object AlertPipeline {

  type Module = DataFrame => DataFrame

  /** Compose modules left-to-right. */
  def pipeline(modules: Module*): Module =
    df => modules.foldLeft(df)((d, m) => m(d))

  /** Enrich a streaming source once and hand each enriched micro-batch
    * to `sink`. Throws IllegalArgumentException, naming the operator,
    * when `enrich` is not row-local on the stream.
    */
  def streamingWriter(stream: DataFrame, enrich: Module,
      sink: (DataFrame, Long) => Unit,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): DataStreamWriter[Row] = {
    val enriched = enrich(stream)
    firstNonRowLocal(enriched.queryExecution.analyzed).foreach { op =>
      throw new IllegalArgumentException(s"the enrichment plans a streaming " +
        s"${op.nodeName}, which is not row-local (it would make the query " +
        "stateful); run such a module per batch inside your own foreachBatch")
    }
    enriched.writeStream
      .trigger(trigger)
      .foreachBatch(sink)
  }

  /** The streaming node nearest the source that is not row-local. */
  private def firstNonRowLocal(plan: LogicalPlan): Option[LogicalPlan] =
    plan.children.iterator.flatMap(firstNonRowLocal).nextOption().orElse(plan match {
      case _: Project | _: Filter | _: SubqueryAlias | _: LeafNode |
          _: DeserializeToObject | _: SerializeFromObject | _: MapPartitions |
          _: MapElements | _: TypedFilter | _: Generate | _: Union |
          _: Repartition | _: RepartitionByExpression | _: Sample => None
      case j: Join if !(j.left.isStreaming && j.right.isStreaming) => None
      case p if p.isStreaming => Some(p)
      case _ => None
    })

  /** Convenience: run the enrichment over a file-based stream until all
    * available data is processed (local smoke / tests).
    */
  def runOnce(stream: DataFrame, enrich: Module,
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val q = streamingWriter(stream, enrich, sink,
      Trigger.AvailableNow()).start()
    q
  }
}
