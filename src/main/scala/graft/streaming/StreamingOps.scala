package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Native Structured-Streaming operators over the event stream — the
  * Spark-first §2.6 surface beyond the reference's stateless
  * foreachBatch broker shape: event-time watermarked windowed
  * aggregation, and cross-batch per-key state via mapGroupsWithState.
  * Each has a batch-mode twin so tests can assert batch == stream.
  */
object StreamingOps {

  /** Watermarked tumbling-window counts per key: the standard
    * monitoring aggregation (alerts per class per window). Watermark
    * bounds state: closed windows are emitted and dropped, so state
    * size is O(active windows), not O(stream length).
    */
  def windowedCounts(events: DataFrame, tsCol: String, keyCol: String,
      windowLength: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLength), col(keyCol))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("window.start").as("window_start"), col(keyCol),
        col("n"), col("sum_value"))

  /** Batch twin of [[windowedCounts]] (same plan minus the watermark). */
  def windowedCountsBatch(events: DataFrame, tsCol: String,
      keyCol: String, windowLength: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col(tsCol), windowLength), col(keyCol))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("window.start").as("window_start"), col(keyCol),
        col("n"), col("sum_value"))

  /** Event-time SESSION windows via the native `session_window` — the
    * variable-length window family (windowedCounts covers the
    * fixed-length one): a key's session extends while events keep
    * arriving within `gap` of the session's current end, and the
    * watermark closes and emits sessions whose end has passed — so
    * state is O(open sessions), the dynamic analog of the tumbling
    * case. This is the STREAMING twin of q16's batch sessionization;
    * semantics note: session ends are EXCLUSIVE (an event at exactly
    * `last + gap` starts a new session), one tick stricter than q16's
    * lag formulation which merges at gap == 1800 s — the spec pins
    * the equivalence under the session_window convention.
    */
  def sessionCounts(events: DataFrame, tsCol: String, keyCol: String,
      gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col(keyCol),
        col("n"), col("sum_value"))

  /** Batch twin of [[sessionCounts]] (same plan minus the watermark). */
  def sessionCountsBatch(events: DataFrame, tsCol: String,
      keyCol: String, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col(keyCol),
        col("n"), col("sum_value"))

  /** STREAM-STREAM interval join — the two-moving-sides member of the
    * §2.6 family (windowedCounts/sessionCounts aggregate one stream;
    * streamingDecontaminate joins stream-to-static; this joins
    * stream-to-STREAM): each left event matches right events of the
    * same key whose event time falls in `[ts - within, ts]`. Both
    * sides carry watermarks and the join condition carries the
    * time-range bound — together they let Spark GC buffered rows
    * (state is O(events inside the watermark+interval horizon), not
    * O(stream length)); without the time bound a stream-stream join's
    * state grows forever, which is why the operator REQUIRES the
    * interval rather than exposing a general theta-join.
    *
    * Inner-join semantics: every match is emitted once both sides
    * have arrived; with replay inside the watermark the final emission
    * set equals the batch twin (spec-pinned). Column names must be
    * disjoint across sides (the [[graft.functions.ScaleJoins
    * .intervalJoin]] convention).
    */
  def streamStreamIntervalJoin(left: DataFrame, lTsCol: String,
      right: DataFrame, rTsCol: String, keyCols: (String, String),
      within: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    requireDisjoint(left, right)
    left.withWatermark(lTsCol, watermark)
      .join(right.withWatermark(rTsCol, watermark),
        intervalCond(lTsCol, rTsCol, keyCols, within))
  }

  /** Batch twin of [[streamStreamIntervalJoin]] (same predicate, no
    * watermarks). */
  def streamStreamIntervalJoinBatch(left: DataFrame, lTsCol: String,
      right: DataFrame, rTsCol: String, keyCols: (String, String),
      within: String = "1 hour"): DataFrame = {
    requireDisjoint(left, right)
    left.join(right, intervalCond(lTsCol, rTsCol, keyCols, within))
  }

  /** The one shared equi-key + time-range predicate of both twins. */
  private def intervalCond(lTsCol: String, rTsCol: String,
      keyCols: (String, String), within: String) =
    col(keyCols._1) === col(keyCols._2) &&
      col(rTsCol) >= col(lTsCol) - expr(s"INTERVAL $within") &&
      col(rTsCol) <= col(lTsCol)

  private def requireDisjoint(left: DataFrame, right: DataFrame): Unit =
    require(!left.columns.toSet.exists(right.columns.toSet),
      "streamStreamIntervalJoin left/right column names must be " +
        "disjoint (the ScaleJoins.intervalJoin convention)")

  /** `simhash` rides along so a near-dup stage can chain downstream of
    * the exact dedup without recovering it from the fingerprint
    * (0 when the input carries no simhash column). Emission schema
    * only — the dedup STATE stays [[SeenState]] — but note that an
    * emission-schema change is still a SINK-compat event: consumers
    * writing [[streamingDedup]]'s output to a typed sink (parquet dir,
    * Delta-style table) saw a new `simhash` column appear when this
    * field landed, and any future field here changes their downstream
    * schema the same way. Checkpoint state is unaffected.
    */
  final case class Doc(doc_id: Long, fp: String, simhash: Long = 0L)
  final case class SeenState(firstId: Long, nCopies: Long,
      lastSeenMs: Long = 0L)

  /** Streaming ingest dedup: emit each document the FIRST time its
    * content fingerprint is seen across the whole stream, suppress every
    * later copy — the streaming twin of the batch exact-dedup (d1), and
    * the shape an ingestion pipeline needs when the corpus arrives as a
    * feed rather than a snapshot. flatMapGroupsWithState in Append mode:
    * per-fingerprint state is one (firstId, count) pair, partition-local
    * after the groupBy shuffle, so state scales with DISTINCT content,
    * not stream length.
    *
    * `ttl` bounds state LIFETIME as well: when upstream guarantees a
    * dup-arrival horizon (e.g. "copies arrive within 7 days"), pass it
    * as a processing-time duration and each fingerprint's state is
    * dropped after `ttl` without a new sighting — state becomes
    * O(distinct content per horizon) instead of O(distinct content
    * ever). The TTL is SLIDING (every sighting re-arms it), and an
    * expired fingerprint's next copy re-admits — by construction, the
    * accepted trade for bounded state.
    *
    * Input must carry (doc_id, fp) — fingerprint upstream via
    * [[graft.text.TextOps.fingerprint]] so the hash is computed map-side
    * before the shuffle.
    *
    * STATE-SCHEMA NOTE (ADVICE r6, closed r9): adding `lastSeenMs` to
    * [[SeenState]] in r7 changed the flatMapGroupsWithState state
    * encoder schema and would have failed a checkpoint restart. State
    * is now stored through [[StateCodec]]'s versioned binary envelope:
    * the encoder schema is a single binary column (stable forever) and
    * the blob carries its own version tag, so future [[SeenState]]
    * fields bump the blob version and extend the decoder instead of
    * breaking the checkpoint. The envelope switch was itself the LAST
    * state-schema break, taken while no deployment holds checkpoints.
    */
  def streamingDedup(spark: SparkSession, docs: DataFrame,
      ttl: Option[String] = None): Dataset[Doc] = {
    import spark.implicits._
    val timeoutConf =
      if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    val ttlMs = ttl.map { s =>
      val i = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
        org.apache.spark.unsafe.types.UTF8String.fromString(s))
      require(i.months == 0, "streamingDedup ttl must not use month units")
      i.days * 86400000L + i.microseconds / 1000L
    }
    val in =
      if (docs.columns.contains("simhash"))
        docs.select(col("doc_id"), col("fp"), col("simhash"))
      else docs.select(col("doc_id"), col("fp"), lit(0L).as("simhash"))
    in.as[Doc]
      .groupByKey(_.fp)
      .flatMapGroupsWithState(OutputMode.Append(), timeoutConf) {
        (fp: String, rows: Iterator[Doc], state: GroupState[Array[Byte]]) =>
          if (state.hasTimedOut) {
            // no sighting within the TTL: evict; the next copy (if any)
            // re-enters the fresh branch below and is re-admitted
            state.remove()
            Iterator.empty
          } else {
            // within a micro-batch the iterator preserves no global
            // order; keep the smallest doc_id as the canonical first
            // sighting so the operator is deterministic under shuffle
            var firstNew = Long.MaxValue
            var firstSim = 0L
            var n = 0L
            rows.foreach { d =>
              n += 1
              if (d.doc_id < firstNew) { firstNew = d.doc_id; firstSim = d.simhash }
            }
            val now =
              if (ttl.isDefined) state.getCurrentProcessingTimeMs() else 0L
            // the timeout callback only fires for groups with NO data
            // in a batch, so a copy arriving in the same batch that
            // SHOULD have evicted the state must check expiry itself —
            // otherwise that copy is suppressed against 23-days-stale
            // state and re-arms it, breaking the re-admit contract
            val live = state.getOption.map(StateCodec.decodeSeen).filter(s =>
              ttlMs.forall(t => now - s.lastSeenMs <= t))
            val out = live match {
              case Some(s) =>
                state.update(StateCodec.encodeSeen(
                  SeenState(s.firstId, s.nCopies + n, now)))
                Iterator.empty
              case None =>
                state.update(StateCodec.encodeSeen(
                  SeenState(firstNew, n, now)))
                Iterator.single(Doc(firstNew, fp, firstSim))
            }
            ttl.foreach(state.setTimeoutDuration) // sliding re-arm
            out
          }
      }
  }

  /** Batch twin of [[streamingDedup]]: first (smallest doc_id) row per
    * fingerprint. Equal to the stream's union of per-batch emissions
    * when batches arrive in doc_id order.
    */
  def streamingDedupBatch(docs: DataFrame): DataFrame = {
    val in =
      if (docs.columns.contains("simhash")) docs
      else docs.withColumn("simhash", lit(0L))
    in.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("doc_id"),
        min_by(col("simhash"), col("doc_id")).as("simhash"))
      .select(col("doc_id"), col("fp"), col("simhash"))
  }

  final case class BandedDoc(doc_id: Long, simhash: Long, band: Int, bits: Long)
  final case class BucketRep(repId: Long, repSim: Long, lastSeenMs: Long = 0L)
  final case class NearDupCandidate(doc_id: Long, canonical: Long, ham: Long)

  /** Streaming NEAR-dup canonical assignment — the streaming twin of
    * the batch [[graft.dedup.Dedup.simhashAssign]] (d8), closing the
    * batch/stream seam of the d10 chain: exact-fingerprint dedup
    * ([[streamingDedup]]) upstream, near-dup assignment here. Input
    * carries (doc_id, simhash) — compute the simhash map-side upstream
    * via [[graft.dedup.Dedup.simhash]], exactly like the fingerprint
    * convention.
    *
    * Shape: the SAME Hamming-LSH band expansion as the batch operator
    * (pigeonhole over maxHamming+1 bands — shared code, so banding can
    * never drift between the twins), then flatMapGroupsWithState keyed
    * on the (band, bits) bucket. State per bucket is ONE canonical
    * representative (id, simhash): the first document ever seen in the
    * bucket. Each arriving doc verifies Hamming<=maxHamming against
    * its buckets' representatives and emits a (doc, canonical, ham)
    * candidate per verifying bucket; reduce candidates to the final
    * per-doc assignment with [[nearDupAssignReduce]] (the cross-band
    * min the batch operator folds into its aggregate — a second
    * stateful stage here, so it runs in the caller's foreachBatch/
    * downstream batch job). State scales with DISTINCT occupied
    * buckets, bounded by (maxHamming+1) x distinct signatures.
    *
    * Semantics: one-hop sound assignment exactly like d8 — every
    * emitted canonical is a verified neighbor with a smaller id. On
    * in-order arrival (doc_id ascending across batches; within a
    * batch the group is sorted) the first-seen representative IS the
    * bucket's min id, so reduced emissions equal the batch operator
    * (spec-pinned). Out-of-order arrival keeps soundness (the
    * `rep < doc` guard never assigns to a larger id) but may pick a
    * later-id representative than batch mode — the documented
    * streaming trade.
    *
    * `ttl` composes the [[streamingDedup]] TTL machinery per BUCKET:
    * sliding re-arm on every sighting, timeout eviction, and the
    * same-batch stale-state check, so an expired bucket's next doc
    * becomes a fresh representative (re-admission) instead of
    * verifying against dead state.
    *
    * State is stored through [[StateCodec]]'s versioned binary
    * envelope (see the state-schema note on [[streamingDedup]]).
    */
  def streamingNearDupAssign(spark: SparkSession, docs: DataFrame,
      maxHamming: Int, ttl: Option[String] = None): Dataset[NearDupCandidate] = {
    import spark.implicits._
    val timeoutConf =
      if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    val ttlMs = ttl.map { s =>
      val i = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
        org.apache.spark.unsafe.types.UTF8String.fromString(s))
      require(i.months == 0,
        "streamingNearDupAssign ttl must not use month units")
      i.days * 86400000L + i.microseconds / 1000L
    }
    val banded = graft.dedup.Dedup.bandedSimhash(
      docs.select(col("doc_id"), col("simhash")), "doc_id", maxHamming)
      .select(col("doc_id"), col("simhash"),
        col("band").cast("int").as("band"), col("bits"))
      .as[BandedDoc]
    banded.groupByKey(b => (b.band, b.bits))
      .flatMapGroupsWithState(OutputMode.Append(), timeoutConf) {
        (_: (Int, Long), rows: Iterator[BandedDoc],
            state: GroupState[Array[Byte]]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // within-batch determinism under shuffle: process in id
            // order, so the smallest new doc becomes the representative
            val sorted = rows.toArray.sortBy(_.doc_id)
            val now =
              if (ttl.isDefined) state.getCurrentProcessingTimeMs() else 0L
            // same-batch stale-state check (see streamingDedup): a doc
            // arriving after the TTL lapsed must not verify against —
            // and re-arm — a dead representative
            var rep = state.getOption.map(StateCodec.decodeRep).filter(s =>
              ttlMs.forall(t => now - s.lastSeenMs <= t))
            val out = Array.newBuilder[NearDupCandidate]
            sorted.foreach { d =>
              rep match {
                case None =>
                  rep = Some(BucketRep(d.doc_id, d.simhash, now))
                case Some(r) =>
                  val ham =
                    java.lang.Long.bitCount(d.simhash ^ r.repSim).toLong
                  if (r.repId < d.doc_id && ham <= maxHamming)
                    out += NearDupCandidate(d.doc_id, r.repId, ham)
              }
            }
            rep.foreach(r => state.update(StateCodec.encodeRep(
              if (ttl.isDefined) r.copy(lastSeenMs = now) else r)))
            ttl.foreach(state.setTimeoutDuration) // sliding re-arm
            out.result().iterator
          }
      }
  }

  /** Fold per-bucket candidates from [[streamingNearDupAssign]] into
    * the final one-canonical-per-doc assignment (the batch operator's
    * min_by aggregate): smallest canonical wins, like
    * [[graft.dedup.Dedup.simhashAssign]].
    */
  def nearDupAssignReduce(candidates: DataFrame): DataFrame =
    candidates.groupBy(col("doc_id"))
      .agg(min_by(struct(col("canonical"), col("ham")), col("canonical")).as("m"))
      .select(col("doc_id"), col("m.canonical").as("canonical"),
        col("m.ham").as("ham"))

  /** The streaming front half of [[graft.text.CorpusBuild]] as ONE
    * continuous query: quality-filter arriving documents
    * ([[graft.text.TextOps.qualityFilter]], map-side), admit each
    * distinct content fingerprint once ([[streamingDedup]] state), and
    * surface verified near-dup candidates among the admitted docs
    * ([[streamingNearDupAssign]] state) — the ingest-time keep/drop
    * decision stream a training pipeline runs in front of batch
    * compaction. Two chained flatMapGroupsWithState stages on
    * DIFFERENT keys (content fingerprint, then band bucket); both are
    * processing-time only, so no event-time watermark crosses the
    * seam — the configuration Spark's multi-stateful correctness
    * check accepts.
    *
    * Output = suppression decisions: exact duplicates never appear
    * (suppressed by the dedup stage); an admitted doc that verifies
    * against an earlier representative appears as (doc_id, canonical,
    * ham) — downstream keeps an admitted doc unless such a record
    * names it. The simhash is computed map-side BEFORE the dedup
    * shuffle and rides the [[Doc]] emission, so the chain hashes each
    * document's text exactly once. `ttl` applies to BOTH state
    * machines (fingerprints and bucket representatives age out on the
    * same horizon).
    */
  def streamingCorpusIngest(spark: SparkSession, docs: DataFrame,
      idCol: String, textCol: String, maxHamming: Int,
      requireTerminal: Boolean = true,
      ttl: Option[String] = None): Dataset[NearDupCandidate] = {
    val (keep, _) = graft.text.TextOps.qualityFilter(col(textCol),
      requireTerminal = requireTerminal)
    val fingered = graft.dedup.Dedup.simhash(
      docs.filter(keep), idCol, textCol, carryCols = Seq(textCol))
      .select(col(idCol).cast("long").as("doc_id"),
        graft.text.TextOps.fingerprint(col(textCol)).as("fp"),
        col("simhash"))
    val admitted = streamingDedup(spark, fingered.toDF(), ttl)
    streamingNearDupAssign(spark,
      admitted.toDF().select(col("doc_id"), col("simhash")),
      maxHamming, ttl)
  }

  /** Emission row of the event-time ingest path: the winning copy's
    * id, fingerprint, event time (epoch ms) and simhash.
    */
  final case class TimedDoc(doc_id: Long, fp: String, ts_ms: Long,
      simhash: Long = 0L)

  /** Per-fingerprint state of [[streamingDedupEventTime]]: before
    * emission (`emitted=false`) it tracks the best — smallest
    * (event time, doc_id) — copy seen so far; after emission it is the
    * suppression tombstone. Stored via [[StateCodec.encodeEvent]].
    */
  final case class EventDedupState(emitted: Boolean, bestId: Long,
      bestTsMs: Long, bestSim: Long, nCopies: Long)

  private[streaming] def intervalMs(s: String, what: String): Long = {
    val i = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(s))
    require(i.months == 0, s"$what must not use month units")
    i.days * 86400000L + i.microseconds / 1000L
  }

  /** EVENT-TIME ingest dedup — the replay-deterministic variant of
    * [[streamingDedup]] (VERDICT r7 #8 / r9 #7).
    *
    * The processing-time operator admits whichever copy ARRIVES first,
    * so replaying the same data in a different micro-batch order can
    * admit a different doc_id per fingerprint. Here the winner is
    * defined by the DATA: the copy with the smallest (event time,
    * doc_id). The state machine buffers the best candidate per
    * fingerprint and emits it only when the watermark passes its event
    * time — at that point no copy with a smaller timestamp can still
    * be admitted, so the emission is the same whatever order the
    * copies arrived in. After emission the state becomes a suppression
    * tombstone that swallows later copies for `suppressHorizon` of
    * watermark time beyond the last sighting, then evicts (the
    * TTL/re-admission trade of the processing-time twin, denominated
    * in event time).
    *
    * Determinism contract: exact for any arrival disorder bounded by
    * `watermark` (a copy arriving later than the watermark delay may
    * land after its fingerprint emitted and be suppressed — the
    * standard watermark trade, shared with every event-time operator).
    * Emission is delayed by the watermark: an ingest pipeline trades
    * latency for replayability here.
    *
    * Input must carry (doc_id, fp, `tsCol`); optional `simhash` rides
    * along exactly as in [[streamingDedup]]. One stateful stage,
    * keyed by fingerprint; state through [[StateCodec]]'s envelope.
    */
  /** Internal operator input row (public: Catalyst codegen must be
    * able to instantiate the encoder's target class).
    */
  final case class TimedIn(doc_id: Long, fp: String,
      ts: java.sql.Timestamp, simhash: Long)

  def streamingDedupEventTime(spark: SparkSession, docs: DataFrame,
      tsCol: String, watermark: String,
      suppressHorizon: String = "30 days"): Dataset[TimedDoc] = {
    import spark.implicits._
    val horizonMs = math.max(1L, intervalMs(suppressHorizon, "suppressHorizon"))
    val withSim =
      if (docs.columns.contains("simhash")) docs
      else docs.withColumn("simhash", lit(0L))
    // the watermark-tagged TIMESTAMP column must itself reach the
    // stateful operator (the unsupported-operation checker requires a
    // tagged attribute in the child output — projecting it into a long
    // upstream would untag it); ms conversion happens in the function
    val in = withSim
      .select(col("doc_id"), col("fp"), col(tsCol).as("ts"), col("simhash"))
      .withWatermark("ts", watermark)
      .as[TimedIn]
    in.groupByKey(_.fp)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (fp: String, rows: Iterator[TimedIn], state: GroupState[Array[Byte]]) =>
          if (state.hasTimedOut) {
            val s = StateCodec.decodeEvent(state.get)
            if (!s.emitted) {
              // the watermark passed the best candidate's event time:
              // no smaller-timestamped copy can still be admitted —
              // emit, and leave a suppression tombstone behind
              state.update(StateCodec.encodeEvent(s.copy(emitted = true)))
              state.setTimeoutTimestamp(
                state.getCurrentWatermarkMs() + horizonMs)
              Iterator.single(TimedDoc(s.bestId, fp, s.bestTsMs, s.bestSim))
            } else {
              // tombstone horizon passed with no sighting: evict (the
              // next copy, if any, re-admits — same trade as the TTL)
              state.remove()
              Iterator.empty
            }
          } else {
            val wm = state.getCurrentWatermarkMs()
            var st = state.getOption.map(StateCodec.decodeEvent)
              .getOrElse(EventDedupState(emitted = false, Long.MaxValue,
                Long.MaxValue, 0L, 0L))
            rows.foreach { d =>
              val tsMs = d.ts.getTime
              val better = !st.emitted &&
                (tsMs < st.bestTsMs ||
                  (tsMs == st.bestTsMs && d.doc_id < st.bestId))
              st =
                if (better)
                  EventDedupState(emitted = false, d.doc_id, tsMs,
                    d.simhash, st.nCopies + 1)
                else st.copy(nCopies = st.nCopies + 1)
            }
            state.update(StateCodec.encodeEvent(st))
            // pending: fire as soon as the watermark passes the best
            // candidate (a candidate at/behind the watermark fires on
            // the next advance). emitted: sliding tombstone horizon.
            state.setTimeoutTimestamp(
              if (st.emitted) wm + horizonMs
              else math.max(st.bestTsMs, wm + 1L))
            Iterator.empty
          }
      }
  }

  /** Batch twin of [[streamingDedupEventTime]]: the smallest
    * (event time, doc_id) row per fingerprint — what the stream emits
    * under any arrival order whose disorder the watermark covers.
    */
  def streamingDedupEventTimeBatch(docs: DataFrame, tsCol: String): DataFrame = {
    val withSim =
      if (docs.columns.contains("simhash")) docs
      else docs.withColumn("simhash", lit(0L))
    withSim
      .select(col("doc_id"), col("fp"),
        unix_millis(col(tsCol).cast("timestamp")).as("ts_ms"), col("simhash"))
      .groupBy(col("fp"))
      .agg(min(struct(col("ts_ms"), col("doc_id"), col("simhash"))).as("m"))
      .select(col("m.doc_id").as("doc_id"), col("fp"),
        col("m.ts_ms").as("ts_ms"), col("m.simhash").as("simhash"))
  }

  /** Event-time front half of the corpus ingest — the
    * replay-deterministic variant of [[streamingCorpusIngest]]
    * (VERDICT r9 #7): quality-filter arriving documents map-side,
    * fingerprint + simhash map-side, then ONE watermarked stateful
    * stage ([[streamingDedupEventTime]]) admitting the smallest
    * (event time, doc_id) copy per distinct content. Single-stateful
    * by design: the admitted stream carries the simhash, so near-dup
    * assignment chains DOWNSTREAM as a batch stage over the admitted
    * output (foreachBatch + [[graft.dedup.Dedup.simhashAssign]]) —
    * chaining a second flatMapGroupsWithState behind an event-time
    * timeout would re-open the multi-stateful watermark seam the
    * processing-time chain avoids by construction.
    *
    * Replaying the same files in ANY order (disorder bounded by
    * `watermark`) yields byte-identical admissions — the property that
    * makes an ingest pipeline auditable: batch reprocessing of the
    * archived feed reproduces exactly what streaming ingest admitted.
    */
  def streamingCorpusIngestEventTime(spark: SparkSession, docs: DataFrame,
      idCol: String, textCol: String, tsCol: String, watermark: String,
      requireTerminal: Boolean = true,
      suppressHorizon: String = "30 days"): Dataset[TimedDoc] = {
    val (keep, _) = graft.text.TextOps.qualityFilter(col(textCol),
      requireTerminal = requireTerminal)
    val fingered = graft.dedup.Dedup.simhash(
      docs.filter(keep), idCol, textCol, carryCols = Seq(textCol, tsCol))
      .select(col(idCol).cast("long").as("doc_id"),
        graft.text.TextOps.fingerprint(col(textCol)).as("fp"),
        col(tsCol), col("simhash"))
    streamingDedupEventTime(spark, fingered, tsCol, watermark, suppressHorizon)
  }

  /** Batch twin of [[streamingCorpusIngestEventTime]]. */
  def streamingCorpusIngestEventTimeBatch(docs: DataFrame, idCol: String,
      textCol: String, tsCol: String,
      requireTerminal: Boolean = true): DataFrame = {
    val (keep, _) = graft.text.TextOps.qualityFilter(col(textCol),
      requireTerminal = requireTerminal)
    val fingered = graft.dedup.Dedup.simhash(
      docs.filter(keep), idCol, textCol, carryCols = Seq(textCol, tsCol))
      .select(col(idCol).cast("long").as("doc_id"),
        graft.text.TextOps.fingerprint(col(textCol)).as("fp"),
        col(tsCol), col("simhash"))
    streamingDedupEventTimeBatch(fingered, tsCol)
  }

  final case class StratumRow(strata: String, id: Long, hkey: Long)
  final case class StratumSample(strata: String, ids: Seq[Long])

  /** Streaming twin of the deterministic stratified sampler
    * ([[graft.text.Sampling.stratifiedSample]], t12): maintain, per
    * stratum, the k documents with the smallest (hash60(id, seed), id)
    * as the stream arrives, emitting the stratum's CURRENT sample
    * whenever a batch touches it (mapGroupsWithState — Update-mode
    * semantics; the sample is a retractable aggregate, so later batches
    * supersede earlier emissions for the same stratum).
    *
    * Because the sample is a pure function of the SET of (hash, id)
    * pairs seen — min-k is order-insensitive and duplicate-insensitive
    * — the final per-stratum emission equals the batch operator on the
    * union of all batches REGARDLESS of arrival order or batch
    * splits (fuzz-pinned), with no watermark needed. That makes this
    * the always-fresh eval-carve: as the corpus feed grows, each
    * stratum's held-out sample is continuously correct, and any
    * document it ever emitted that later drops out of the top-k was
    * superseded by a smaller hash — exactly how the batch re-run would
    * have sampled.
    *
    * The hash rides in on a COLUMN computed map-side before the
    * shuffle ([[graft.functions.Hashing.hash60]] — the same expression
    * the batch operator keys on, so the twins can never drift), and the
    * stateful stage only merges pre-hashed pairs. State per stratum is
    * exactly k (hkey, id) pairs (16k+3 bytes through [[StateCodec]]'s
    * versioned envelope); state count scales with DISTINCT strata —
    * languages, sources — not stream length.
    */
  def streamingStratifiedSample(spark: SparkSession, docs: DataFrame,
      idCol: String, strataCol: String, k: Int,
      seed: Int = 0): Dataset[StratumSample] = {
    import spark.implicits._
    require(k > 0, "streamingStratifiedSample needs k > 0")
    docs
      .select(col(strataCol).cast("string").as("strata"),
        col(idCol).cast("long").as("id"))
      .withColumn("hkey",
        graft.functions.Hashing.hash60(col("id").cast("string"), seed))
      .as[StratumRow]
      .groupByKey(_.strata)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (strata: String, rows: Iterator[StratumRow],
            state: GroupState[Array[Byte]]) =>
          val prev = state.getOption.map(StateCodec.decodeTopK)
            .getOrElse(Vector.empty)
          // merge-then-min-k; distinct makes replayed duplicates of the
          // same document idempotent (same (hkey, id) value)
          val top = (prev ++ rows.map(r => (r.hkey, r.id)))
            .distinct.sorted.take(k).toVector
          state.update(StateCodec.encodeTopK(top))
          StratumSample(strata, top.map(_._2))
      }
  }

  /** Batch twin: [[graft.text.Sampling.stratifiedSample]] reduced to
    * the (strata, ids-in-rank-order) emission shape — over the SET of
    * (strata, id) pairs, matching the stream's replay idempotence
    * (batch t12 assumes unique ids; a feed replays them). */
  def streamingStratifiedSampleBatch(docs: DataFrame, idCol: String,
      strataCol: String, k: Int, seed: Int = 0): DataFrame =
    graft.text.Sampling.stratifiedSample(
        docs.select(col(strataCol), col(idCol)).dropDuplicates(),
        idCol, strataCol, k, seed)
      .groupBy(col("strata"))
      .agg(sort_array(collect_list(struct(col("rk"), col("id"))))
        .getField("id").as("ids"))

  final case class KeyedHash(key: String, hv: Long)
  final case class KeyEstimate(key: String, est: Double)

  /** Streaming per-key distinct-count via the KMV sketch — the
    * streaming twin of the [[org.apache.spark.sql.graft.KmvDistinct]]
    * aggregate (t17), for the monitoring questions a feed raises
    * continuously ("distinct documents per source so far", "vocabulary
    * size per language as the crawl grows") that exact distinct-count
    * state can't answer at stream scale (it grows with the answer; the
    * sketch holds k longs per key forever).
    *
    * The same min-k-over-a-set argument as [[streamingStratifiedSample]]
    * applies: the k smallest distinct hashes are order- and
    * duplicate-insensitive, so the final per-key emission equals the
    * batch aggregate over the union of all batches under ANY arrival
    * order, split, or replay (fuzz-pinned against the batch twin). The
    * ESTIMATE arithmetic is shared by construction: the stateful stage
    * evaluates exactly the aggregate's formula. Input carries a
    * pre-hashed `hv` long (the batch convention: hash map-side via
    * [[graft.functions.Hashing.hash60]] before the shuffle).
    *
    * State is <= k longs per key through [[StateCodec]]'s versioned
    * envelope; state count scales with distinct KEYS, not stream
    * length or distinct values.
    */
  def streamingKmvDistinct(spark: SparkSession, rows: DataFrame,
      k: Int): Dataset[KeyEstimate] = {
    import spark.implicits._
    require(k >= 2, "streamingKmvDistinct needs k >= 2")
    rows.select(col("key").cast("string").as("key"), col("hv").cast("long"))
      .as[KeyedHash]
      .groupByKey(_.key)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (key: String, it: Iterator[KeyedHash],
            state: GroupState[Array[Byte]]) =>
          val buf = new java.util.TreeSet[java.lang.Long]()
          state.getOption.map(StateCodec.decodeKmv)
            .foreach(_.foreach(buf.add(_)))
          it.foreach { r =>
            buf.add(r.hv)
            if (buf.size > k) buf.pollLast()
          }
          val minima = Vector.newBuilder[Long]
          val itr = buf.iterator()
          while (itr.hasNext) minima += itr.next().longValue()
          state.update(StateCodec.encodeKmv(minima.result()))
          val est =
            if (buf.size < k) buf.size.toDouble
            else (k - 1).toDouble * 1152921504606846976.0d / buf.last().toDouble
          KeyEstimate(key, est)
      }
  }

  /** Batch twin: the [[org.apache.spark.sql.graft.KmvDistinct]]
    * aggregate itself. */
  def streamingKmvDistinctBatch(rows: DataFrame, k: Int): DataFrame =
    rows.groupBy(col("key"))
      .agg(org.apache.spark.sql.graft.KmvDistinct(col("hv"), k).as("est"))

  final case class KeyedBuckets(key: String, bk: Seq[Long])
  final case class KeyGrid(key: String, grid: Seq[Long])

  /** Streaming per-key count-min grid — the streaming twin of the
    * [[org.apache.spark.sql.graft.CmsSketch]] aggregate (t19), for the
    * continuous frequency questions ("which tokens are trending per
    * source", "is any user id hammering the feed") whose exact answer
    * needs unbounded per-value state. Every grid operation is a
    * counter SUM, so the emitted grid after any batch split, arrival
    * order, or replay equals the batch aggregate over the union of the
    * batches (fuzz-pinned against the batch twin) — the same
    * order-independence argument that makes the KMV minima replay-proof.
    *
    * Input carries the precomputed `bk` bucket-index array (the batch
    * convention — [[graft.text.HeavyHitters.bucketIndices]] map-side,
    * hashing stays in codegen). Emission is the key's full grid after
    * the batch; estimation downstream is the same `element_at` math as
    * batch ([[graft.text.HeavyHitters.estimate]]). State is a FIXED
    * 8 x depth x width bytes per key through [[StateCodec]]'s
    * versioned envelope — scales with distinct keys, never with
    * stream length; the envelope's recorded (depth, width) is
    * validated on every decode so a restart with a different grid
    * shape fails loudly instead of misindexing counters.
    */
  def streamingCmsSketch(spark: SparkSession, rows: DataFrame,
      depth: Int, width: Int): Dataset[KeyGrid] = {
    import spark.implicits._
    require(depth >= 1 && width >= 1, "streamingCmsSketch needs depth/width >= 1")
    require(depth.toLong * width <= (1L << 24),
      "streamingCmsSketch grid exceeds 2^24 cells per key")
    rows.select(col("key").cast("string").as("key"),
        col("bk").cast("array<long>").as("bk"))
      .as[KeyedBuckets]
      .groupByKey(_.key)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (key: String, it: Iterator[KeyedBuckets],
            state: GroupState[Array[Byte]]) =>
          val grid = state.getOption.map { bytes =>
            val (d, w, g) = StateCodec.decodeCms(bytes)
            require(d == depth && w == width,
              s"streamingCmsSketch configured ${depth}x$width over a " +
                s"checkpoint holding a ${d}x$w grid — grid shape cannot " +
                "change across restarts; drain the checkpoint")
            g
          }.getOrElse(new Array[Long](depth * width))
          it.foreach { r =>
            require(r.bk.length == depth,
              s"bucket array has ${r.bk.length} entries, expected $depth")
            var i = 0
            while (i < depth) {
              val b = r.bk(i)
              require(b >= 0 && b < width, s"bucket $b out of [0, $width)")
              grid(i * width + b.toInt) += 1L
              i += 1
            }
          }
          state.update(StateCodec.encodeCms(depth, width, grid))
          KeyGrid(key, grid.toVector)
      }
  }

  /** Batch twin: the [[org.apache.spark.sql.graft.CmsSketch]]
    * aggregate itself. */
  def streamingCmsSketchBatch(rows: DataFrame, depth: Int,
      width: Int): DataFrame =
    rows.groupBy(col("key"))
      .agg(org.apache.spark.sql.graft.CmsSketch(col("bk"), depth, width)
        .as("grid"))

  /** Streaming decontamination: score each arriving micro-batch of
    * corpus documents against a FIXED benchmark set — the
    * decontamination-service shape (the eval suite is static; the
    * corpus is a feed). STATELESS by construction: a document's report
    * depends only on its own grams and the static benchmark, so
    * batch == stream under ANY batch split, with no cross-batch state,
    * watermark, or ordering requirement — which is why this is a
    * per-batch function, applied inside the caller's own foreachBatch,
    * rather than a stateful operator. It emits a report rather than
    * appending columns, so it is not an [[AlertPipeline]] module.
    *
    * The benchmark is summarized ONCE at module build: its exploded
    * gram table is cached (the exact verify side) and its Bloom filter
    * is collected (the d12 prune — per batch, non-candidate corpus
    * grams die inside the scan's whole-stage codegen and the per-batch
    * join carries candidates only, so a high-rate feed pays the bloom
    * probe, not a gram shuffle). Emits the d7/d12 report columns
    * (doc_id, n_matched_grams, n_bench_docs, contaminated) per batch.
    */
  def streamingDecontaminateModule(bench: DataFrame, idCol: String,
      textCol: String, n: Int, fpp: Double = 0.01,
      maxBloomBytes: Long = 32L << 20): DataFrame => DataFrame = {
    import org.apache.spark.sql.graft.{BloomAgg, BloomMightContain, GraftBloom}
    val benchGrams = bench.select(
        graft.dedup.Dedup.shingles(col(textCol), n).as("gs"),
        col(idCol).as("bench_id"))
      .select(explode(col("gs")).as("g"), col("bench_id"))
      .cache()
    // row count upper-bounds the distinct gram count — oversizing the
    // filter only lowers its fpp (and materializes the cache)
    val ng = math.max(1L, benchGrams.count())
    val (numBits, numHashes) = GraftBloom.size(ng, fpp, maxBloomBytes)
    val bloomBytes = benchGrams
      .select(BloomAgg(xxhash64(col("g")), numBits, numHashes).as("bf"))
      .head().getAs[Array[Byte]](0)
    (batch: DataFrame) => {
      val base = batch.select(col(idCol).as("doc_id"),
        graft.dedup.Dedup.shingles(col(textCol), n).as("gs"))
      val pruned = base.select(col("doc_id"), explode(col("gs")).as("g"))
        .filter(BloomMightContain(lit(bloomBytes), xxhash64(col("g"))))
      val matched = pruned.join(benchGrams, "g")
        .groupBy("doc_id")
        .agg(countDistinct(col("g")).as("n_matched_grams"),
          countDistinct(col("bench_id")).as("n_bench_docs"))
      graft.text.Decontaminate.report(base.select(col("doc_id")), matched)
    }
  }

  final case class UserEvent(user_id: Long, value: Double)
  final case class UserState(n: Long, maxValue: Double)

  /** Cross-batch per-user running aggregate via mapGroupsWithState:
    * each micro-batch updates (count, max) state and emits the running
    * value — the KeyValueGroupedDataset custom-state shape the brief
    * prescribes for semantics windows/aggregations can't express.
    * State is per-key and partition-local after the groupBy shuffle, so
    * it scales with distinct keys across executors.
    */
  def runningUserStats(spark: SparkSession, events: DataFrame)
      : Dataset[(Long, Long, Double)] = {
    import spark.implicits._
    events.select(col("user_id"), col("value")).as[UserEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[UserEvent], state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(0L, Double.NegativeInfinity))
          var n = prev.n
          var mx = prev.maxValue
          rows.foreach { e =>
            n += 1
            if (e.value > mx) mx = e.value
          }
          state.update(UserState(n, mx))
          (user, n, mx)
      }
  }
}
