package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming surface — a pure superset over the reference,
  * which has no stream processing at all (SURVEY §2.10: its only
  * "streaming" is chunked result fetch,
  * reference: src/TidierDB_macros.jl:591-622).
  *
  * Shapes provided: watermarked tumbling/sliding window aggregation and
  * session windows over the `events` fixture schema. Batch DataFrames
  * accept the same transforms, so each helper is testable by running the
  * fixture through a `memory` sink (see StreamingSpec).
  */
object Streams {

  /** events fixture schema for readStream (ts already micro-converted) */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType), // nanos-as-long at scan; converted below
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** streaming scan of an events parquet directory */
  def readEventsStream(spark: SparkSession, path: String): DataFrame =
    spark.readStream
      .schema(eventsSchema)
      .parquet(path)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))

  /** Watermarked tumbling-window counts per event type. At scale: the
    * shuffle key is (window, event_type); state store size is bounded by
    * the watermark horizon. */
  def tumblingCounts(events: DataFrame, watermark: String, windowLen: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(
        col("window.start").as("w_start"),
        col("window.end").as("w_end"),
        col("event_type"), col("n"), col("total_value"))

  /** Sliding-window per-user activity. */
  def slidingUserActivity(
      events: DataFrame, watermark: String,
      windowLen: String, slide: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen, slide), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("w_start"), col("user_id"), col("n_events"))

  /** Session windows (gap-based) per user — Spark-native session_window,
    * which keeps state per (user, open session) only. */
  def sessionize(events: DataFrame, watermark: String, gap: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
      .select(
        col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"),
        col("user_id"), col("n_events"), col("session_value"))

  // ---- custom state (KeyValueGroupedDataset.flatMapGroupsWithState) ----

  /** typed view of an event row for the stateful operators */
  final case class Ev(
      event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class UserRunning(user_id: Long, n_events: Long, total_value: Double)

  final case class FunnelRow(
      user_id: Long, stages: Seq[Option[java.sql.Timestamp]], depth: Long)

  /** EXACT micros round trip (Timestamp.getTime is millis — a
    * same-millisecond view→click pair would never satisfy
    * strictly-after, diverging from the micros-exact batch funnel);
    * shared by both funnel state operators. */
  private def us(t: java.sql.Timestamp): Long =
    t.getTime / 1000L * 1000000L + t.getNanos / 1000L
  private def fromUs(m: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(m, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(m, 1000000L) * 1000L).toInt)
    t
  }

  /** Cross-batch streaming DEDUP with event-time TTL — the custom-state
    * shape the built-in `dropDuplicatesWithinWatermark` hides: one
    * boolean-ish state cell per dedup key, expired by an event-time
    * timeout at the watermark horizon, so state size is bounded by
    * (distinct keys within the watermark), not the stream's lifetime.
    * Emits only the FIRST event per (user_id, event_type, value) key;
    * later duplicates — including ones arriving in LATER micro-batches —
    * are suppressed while the key's state lives.
    *
    * At 100 TB/day: state is hash-partitioned by key across executors
    * (the state store shuffle), each key costs ~24 bytes, and the TTL
    * keeps the store from growing without bound — the knobs that matter
    * are the watermark horizon and key cardinality within it.
    */
  def dedupStream(events: DataFrame, watermark: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val ds = events
      .select("event_id", "ts", "user_id", "event_type", "value")
      .withWatermark("ts", watermark)
      .as[Ev]
    ds.groupByKey(e => (e.user_id, e.event_type, e.value))
      .flatMapGroupsWithState[Long, Ev](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (_, rows, state: GroupState[Long]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else if (state.exists) Iterator.empty // seen in a previous batch
          else {
            // first batch containing this key: emit the earliest row
            val first = rows.minBy(e => (e.ts.getTime, e.event_id))
            state.update(first.ts.getTime)
            // expire the key once the watermark passes its event time —
            // duplicates straggling beyond the watermark are out of
            // contract anyway (they'd be dropped by the watermark)
            if (state.getCurrentWatermarkMs() >= 0)
              state.setTimeoutTimestamp(first.ts.getTime, watermark)
            Iterator.single(first)
          }
      }
      .toDF()
  }

  /** incoming document for the streaming near-dup detector */
  final case class Doc(doc_id: Long, ts: java.sql.Timestamp, text: String)
  /** per-band exploded row (internal) */
  final case class BandDoc(
      band: String, doc_id: Long, ts: java.sql.Timestamp, bases: Array[Long])
  /** a stored signature in band state (internal) */
  final case class StoredDoc(id: Long, bases: Array[Long])
  /** band state: the docs currently live in this LSH bucket */
  final case class BandState(docs: List[StoredDoc])
  /** emitted near-dup hit */
  final case class StreamDupPair(id_a: Long, id_b: Long, jaccard: Double)

  /** Streaming INCREMENTAL MinHash near-dup detection — the
    * mapGroupsWithState variant of [[graft.operators.Dedup.minHashDupPairs]]:
    * as documents arrive, each is shingle-hashed and banded with the
    * SAME column expressions as the batch path (bit-identical
    * signatures), then checked against the keyed state of its LSH
    * buckets; a pair is emitted the moment the second member arrives —
    * across micro-batches, without ever re-scanning the corpus.
    *
    * Scale shape: state is hash-partitioned by band key (the same key
    * the batch band-join shuffles on); each band holds only its live
    * docs' 60-bit shingle sets (~8 B/shingle), and an event-time
    * timeout drops bands idle past the watermark horizon — state is
    * bounded by (docs within the horizon) × bands, not stream
    * lifetime. A pair agreeing on k bands emits k times (band states
    * are independent); callers wanting exactly-once pairs add
    * `dropDuplicates("id_a","id_b")` or aggregate downstream.
    *
    * @param docs streaming frame with doc_id/ts/text columns
    */
  def minHashDupStream(
      docs: DataFrame,
      watermark: String,
      shingleSize: Int = 3,
      numHashes: Int = 12,
      bands: Int = 6,
      threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import graft.operators.Dedup
    import graft.functions.TextFns
    val spark = docs.sparkSession
    import spark.implicits._
    val banded = docs
      .withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"),
        TextFns.hashedWordShingles(col("text"), shingleSize).as("bases"))
      .filter(size(col("bases")) > 0)
      .withColumn("band",
        explode(Dedup.bandKeys(
          Dedup.minHashFromBases(col("bases"), numHashes), numHashes, bands)))
      .select("band", "doc_id", "ts", "bases")
      .as[BandDoc]
    banded.groupByKey(_.band)
      .flatMapGroupsWithState[BandState, StreamDupPair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (_, _, state: GroupState[BandState]) if state.hasTimedOut =>
          state.remove(); Iterator.empty
        case (_, rows, state: GroupState[BandState]) =>
          val known = state.getOption.map(_.docs).getOrElse(Nil)
          val knownIds = known.iterator.map(_.id).toSet
          // deterministic order; a doc re-sent into the same band is a no-op
          val fresh = rows.toSeq.sortBy(_.doc_id)
            .filterNot(d => knownIds.contains(d.doc_id)).distinctBy(_.doc_id)
          val out = scala.collection.mutable.ArrayBuffer.empty[StreamDupPair]
          var live = known
          fresh.foreach { d =>
            val dSet = d.bases.toSet
            live.foreach { s =>
              val inter = s.bases.count(dSet.contains)
              val union = dSet.size + s.bases.length - inter
              val j = if (union == 0) 0.0 else inter.toDouble / union
              if (j >= threshold) {
                val (a, b) = if (s.id < d.doc_id) (s.id, d.doc_id) else (d.doc_id, s.id)
                out += StreamDupPair(a, b, j)
              }
            }
            live = StoredDoc(d.doc_id, d.bases) :: live
          }
          state.update(BandState(live))
          // expire the band once the watermark passes its newest doc
          if (fresh.nonEmpty && state.getCurrentWatermarkMs() >= 0)
            state.setTimeoutTimestamp(fresh.map(_.ts.getTime).max, watermark)
          out.iterator
      }
      .toDF()
  }

  /** Running per-user totals across micro-batches — incremental state
    * (count, sum) per user, emitted once per batch the user appears in.
    * The mapGroupsWithState analog of a forever-running grouped
    * aggregation, without the unbounded `complete`-mode result table.
    *
    * State lifetime: with `idleTtl = None` per-user state lives for the
    * stream's lifetime — bounded only by KEY CARDINALITY, not by the
    * watermark (fine for bounded user populations, unbounded for
    * e.g. session-scoped keys). Pass `idleTtl = Some("7 days")` to
    * expire users idle past the TTL (event-time timeout keyed to last
    * activity, the same bounded-state story as [[dedupStream]]); an
    * expired user that reappears restarts from zero. */
  def runningUserTotals(
      events: DataFrame, watermark: String, idleTtl: Option[String] = scala.None): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val ds = events
      .select("event_id", "ts", "user_id", "event_type", "value")
      .withWatermark("ts", watermark)
      .as[Ev]
    val timeout =
      if (idleTtl.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Double), UserRunning](
        OutputMode.Append, timeout) {
        case (_, _, state: GroupState[(Long, Double)]) if state.hasTimedOut =>
          state.remove(); Iterator.empty
        case (uid, rows, state: GroupState[(Long, Double)]) =>
          val (n0, s0) = state.getOption.getOrElse((0L, 0.0))
          var n = n0; var s = s0
          var lastTs = Long.MinValue
          rows.foreach { e =>
            n += 1; s += e.value
            if (e.ts.getTime > lastTs) lastTs = e.ts.getTime
          }
          state.update((n, s))
          idleTtl.foreach { ttl =>
            if (state.getCurrentWatermarkMs() >= 0)
              state.setTimeoutTimestamp(lastTs, ttl)
          }
          Iterator.single(UserRunning(uid, n, s))
      }
      .toDF()
  }
  final case class RetentionHit(user_id: Long, cohort: Long, period_n: Long)

  /** STREAMING RETENTION — the keyed-state twin of
    * [[graft.operators.Events.retention]]: per user, the cohort
    * (first SEEN period) and the set of periods already counted ride
    * in `flatMapGroupsWithState`, and each micro-batch emits one row
    * per NEW (user, period) — so `groupBy(cohort, period_n).count()`
    * over the emitted stream equals the batch retention table (the
    * spec proves that identity across batches). Periods use the same
    * calendar-free integer `div` arithmetic as the batch operator,
    * micros-exact. Per-user reordering confined to a micro-batch is
    * safe (events apply in ts order); an earlier-period event arriving
    * in a LATER batch cannot re-base the cohort retroactively
    * (append-mode streams cannot retract — its hit emits with a
    * NEGATIVE period_n, honest rather than silently wrong), the same
    * documented trade as [[funnelStream]], batch op as backfill.
    * State per user is bounded by the DISTINCT periods the user spans
    * (a 10-year weekly-period user is ~520 longs); `idleTtl` evicts
    * idle users entirely. */
  def retentionStream(
      events: DataFrame, watermark: String, periodDays: Int = 7,
      idleTtl: Option[String] = scala.None): DataFrame = {
    require(periodDays >= 1, s"periodDays must be >= 1, got $periodDays")
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val ds = events
      .select("event_id", "ts", "user_id", "event_type", "value")
      .withWatermark("ts", watermark)
      .as[Ev]
    val timeout =
      if (idleTtl.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Set[Long]), RetentionHit](
        OutputMode.Append, timeout) {
        case (_, _, state: GroupState[(Long, Set[Long])]) if state.hasTimedOut =>
          state.remove(); Iterator.empty
        case (uid, rows, state: GroupState[(Long, Set[Long])]) =>
          var (cohort, seen) = state.getOption.getOrElse((Long.MaxValue, Set.empty[Long]))
          val out = Seq.newBuilder[RetentionHit]
          var lastMs = Long.MinValue
          rows.toSeq.sortBy(e => us(e.ts)).foreach { e =>
            val m = us(e.ts)
            if (e.ts.getTime > lastMs) lastMs = e.ts.getTime
            val p = (m / 86400000000L) / periodDays
            if (cohort == Long.MaxValue) cohort = p
            if (!seen.contains(p)) {
              seen += p
              out += RetentionHit(uid, cohort, p - cohort)
            }
          }
          state.update((cohort, seen))
          idleTtl.foreach { ttl =>
            if (state.getCurrentWatermarkMs() >= 0)
              state.setTimeoutTimestamp(lastMs, ttl)
          }
          out.result().iterator
      }
      .toDF()
  }

  /** STREAMING FUNNEL — the keyed-state twin of
    * [[graft.operators.Events.funnel]]: per user, the greedy-earliest
    * stage chain maintained in `flatMapGroupsWithState` (state = the k
    * stage times). Each micro-batch's relevant events apply in
    * (ts, type) order with the same one-event-one-stage /
    * strictly-after rules as the batch fold, and a row (stages +
    * depth) is emitted for every user whose chain ADVANCED this batch
    * — a live conversion feed. With per-user in-order delivery (or
    * reordering confined to a micro-batch) the final state equals the
    * batch funnel; an event arriving in a LATER batch than a
    * same-or-later-staged event cannot retroactively rewrite the chain
    * (documented streaming trade; the batch operator is the
    * backfill). */
  def funnelStream(
      events: DataFrame,
      watermark: String,
      steps: Seq[String],
      idleTtl: Option[String] = scala.None,
      withinSeconds: Option[Long] = scala.None): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(steps.nonEmpty && steps.distinct.size == steps.size,
      "funnel steps must be non-empty and distinct")
    withinSeconds.foreach(w =>
      require(w > 0, s"withinSeconds must be positive, got $w"))
    val withinUs = withinSeconds.map(_ * 1000000L)
    val k = steps.size
    val spark = events.sparkSession
    import spark.implicits._
    // EXACT micros (Timestamp.getTime is millis — a same-millisecond
    // view→click pair would never satisfy strictly-after, diverging
    // from the micros-exact batch funnel)
    val ds = events
      .select("event_id", "ts", "user_id", "event_type", "value")
      .withWatermark("ts", watermark)
      .as[Ev]
    val timeout =
      if (idleTtl.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[Seq[Option[Long]], FunnelRow](
        OutputMode.Append, timeout) {
        case (_, _, state: GroupState[Seq[Option[Long]]]) if state.hasTimedOut =>
          state.remove(); Iterator.empty
        case (uid, rows, state: GroupState[Seq[Option[Long]]]) =>
          var st = state.getOption.getOrElse(Seq.fill(k)(Option.empty[Long]))
          val before = st
          var lastTs = Long.MinValue
          rows.toSeq
            .filter(e => steps.contains(e.event_type))
            .sortBy(e => (us(e.ts), e.event_type))
            .foreach { e =>
              val i = steps.indexOf(e.event_type)
              val t = us(e.ts)
              if (e.ts.getTime > lastTs) lastTs = e.ts.getTime
              val windowOk = i == 0 ||
                withinUs.forall(w => st(0).exists(t0 => t <= t0 + w))
              if (st(i).isEmpty && (i == 0 || st(i - 1).exists(_ < t)) &&
                  windowOk)
                st = st.updated(i, Some(t))
            }
          // abandoned-funnel state expires after idleTtl of event time
          // (same contract as runningUserTotals) — without it, an
          // unbounded user population grows the state store forever
          idleTtl.foreach { ttl =>
            if (lastTs != Long.MinValue && state.getCurrentWatermarkMs() >= 0)
              state.setTimeoutTimestamp(lastTs, ttl)
          }
          if (st == before) Iterator.empty
          else {
            state.update(st)
            val depth = st.takeWhile(_.isDefined).size.toLong
            Iterator.single(FunnelRow(uid, st.map(_.map(fromUs)), depth))
          }
      }
      .toDF()
  }

  /** buffered-funnel state: the committed stage chain (micros, None =
    * stage not reached) plus the not-yet-finalized event buffer
    * (ts_us, event_type) still inside the watermark horizon */
  final case class FunnelBufState(
      chain: Seq[Option[Long]], buf: Seq[(Long, String)])

  /** EVENT-TIME-ORDERED streaming funnel — the out-of-order-safe twin
    * of [[funnelStream]]. funnelStream applies events in ARRIVAL order
    * across micro-batches: an event delivered in a later batch than a
    * same-or-later-staged event cannot retroactively rewrite the chain,
    * so its batch parity holds only under per-user in-order delivery.
    * This variant buffers every funnel event in keyed state until the
    * WATERMARK passes it, then applies the finalized prefix in
    * (ts, type) order — identical fold to the batch operator — so ANY
    * arrival order the watermark admits (late, shuffled, interleaved)
    * converges to the batch funnel exactly.
    *
    * Mechanics: each invocation merges the batch's funnel events into
    * the buffer, splits the buffer at the current watermark, folds the
    * final part into the chain, and re-arms an event-time timeout at
    * the earliest still-buffered event so the group is re-invoked when
    * the watermark passes it even if the user never sends another
    * event. Emits a row whenever the committed chain advances.
    *
    * State is bounded by the watermark horizon (buffered events) plus
    * k stage slots; `idleTtl` additionally expires the whole state
    * after that much event time beyond the last activity.
    *
    * The trade vs [[funnelStream]]: emissions wait for the watermark
    * (latency = allowed lateness), where funnelStream emits
    * immediately but needs in-order delivery for parity. */
  def funnelStreamOrdered(
      events: DataFrame,
      watermark: String,
      steps: Seq[String],
      idleTtl: Option[String] = scala.None,
      withinSeconds: Option[Long] = scala.None): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(steps.nonEmpty && steps.distinct.size == steps.size,
      "funnel steps must be non-empty and distinct")
    withinSeconds.foreach(w =>
      require(w > 0, s"withinSeconds must be positive, got $w"))
    // CONVERSION WINDOW (same contract as Events.funnel withinSeconds):
    // stages beyond the first must land within this many micros of
    // stage 1's time — exact integer arithmetic, micros-identical to
    // the batch fold's INTERVAL comparison
    val withinUs = withinSeconds.map(_ * 1000000L)
    val k = steps.size
    val spark = events.sparkSession
    import spark.implicits._
    val ttlMs = idleTtl.map { s =>
      val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
        org.apache.spark.unsafe.types.UTF8String.fromString(s))
      iv.months * 2592000000L + iv.days * 86400000L + iv.microseconds / 1000L
    }
    val ds = events
      .select("event_id", "ts", "user_id", "event_type", "value")
      .withWatermark("ts", watermark)
      .as[Ev]
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelBufState, FunnelRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid, rows, state: GroupState[FunnelBufState]) =>
          val st0 = state.getOption.getOrElse(
            FunnelBufState(Seq.fill(k)(Option.empty[Long]), Seq.empty))
          val incoming = rows.toSeq
            .filter(e => steps.contains(e.event_type))
            .map(e => (us(e.ts), e.event_type))
          val wmMs = state.getCurrentWatermarkMs()
          val wmUs = wmMs * 1000L
          // finalize everything the watermark has passed (a row with
          // ts < watermark can no longer arrive), fold it in batch
          // order — the exact Events.funnel fold
          val (ready, rest) = (st0.buf ++ incoming).partition(_._1 < wmUs)
          var chain = st0.chain
          ready.sorted.foreach { case (t, typ) =>
            val i = steps.indexOf(typ)
            val windowOk = i == 0 ||
              withinUs.forall(w => chain(0).exists(t0 => t <= t0 + w))
            if (chain(i).isEmpty && (i == 0 || chain(i - 1).exists(_ < t)) &&
                windowOk)
              chain = chain.updated(i, Some(t))
          }
          val advanced = chain != st0.chain
          val activityMs = (incoming.map(_._1 / 1000L) :+ Long.MinValue).max
          if (rest.isEmpty && incoming.isEmpty && ready.isEmpty && state.hasTimedOut &&
              ttlMs.isDefined) {
            // idle-TTL expiry: nothing buffered, nothing new — drop
            state.remove()
            Iterator.empty
          } else if (state.getOption.isEmpty && rest.isEmpty && !advanced) {
            // a user who has never sent a FUNNEL event must not grow
            // the state store (a crawl's error-only users would
            // otherwise accumulate one empty entry each, forever)
            Iterator.empty
          } else {
            state.update(FunnelBufState(chain, rest))
            if (rest.nonEmpty) {
              // wake when the watermark passes the earliest buffered
              // event (strictly-future per the timeout contract)
              val wake = math.max(wmMs + 1, rest.map(_._1).min / 1000L + 1)
              state.setTimeoutTimestamp(wake)
            } else ttlMs.foreach { ttl =>
              val base = math.max(activityMs, wmMs)
              state.setTimeoutTimestamp(math.max(wmMs + 1, base + ttl))
            }
            if (!advanced) Iterator.empty
            else {
              val depth = chain.takeWhile(_.isDefined).size.toLong
              Iterator.single(FunnelRow(uid, chain.map(_.map(fromUs)), depth))
            }
          }
      }
      .toDF()
  }

  /** streaming as-of state: unfinalized left rows + the compacted
    * right-side buffer, both as (ts_us, event_id, value) */
  final case class AsofState(
      lbuf: Seq[(Long, Long, Double)], rbuf: Seq[(Long, Long, Double)])

  /** streaming as-of output: the left event + its matched (or NULL,
    * how=left) nearest-at-or-before right event */
  final case class AsofRow(
      user_id: Long, ts: java.sql.Timestamp, event_id: Long, value: Double,
      right_ts: Option[java.sql.Timestamp], right_event_id: Option[Long],
      right_value: Option[Double])

  /** STREAMING AS-OF JOIN — the watermark-correct twin of the batch
    * [[graft.operators.JoinVerbs]] as-of (`closest(">=")`, BACKWARD
    * inclusive: each left event matches the nearest right event at or
    * before its time within the same key group), with pandas-style
    * `tolerance` — the trades-to-latest-quote shape. Left rows are
    * events of `leftType`, right rows events of `rightType`, keyed by
    * `user_id`; forward/full as-of variants stay batch-only.
    *
    * Watermark-buffered like [[funnelStreamOrdered]]: a left event is
    * held in keyed state until the watermark passes its timestamp — at
    * that point every right event at or before it has either arrived
    * or would be dropped as late, so the nearest-match decision is
    * FINAL and any admissible arrival order (late, shuffled across
    * micro-batches) emits exactly the batch join's rows. Emission
    * latency = allowed lateness, the same trade the ordered funnel
    * makes.
    *
    * State is bounded: unfinalized left rows span at most the
    * watermark horizon, and the right buffer is COMPACTED to the rows
    * the watermark hasn't passed plus the single latest finalized row
    * — the only finalized candidate any future left row can still
    * match (later rights shadow earlier ones for every left time at or
    * above the watermark). An event-time timeout re-arms at the
    * earliest buffered row so finalization proceeds even if the key
    * goes quiet.
    *
    * Tie-break at equal right timestamps: the largest
    * (event_id, value) payload — the batch operator's
    * payload-struct-sorts-last rule for a right frame carrying
    * (event_id, value). */
  def asofJoinStream(
      events: DataFrame,
      watermark: String,
      leftType: String,
      rightType: String,
      how: String = "inner",
      toleranceSeconds: Option[Long] = scala.None): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(Seq("inner", "left").contains(how),
      s"asofJoinStream supports inner/left, got $how (right/full are batch-only)")
    require(leftType != rightType, "left and right event types must differ")
    toleranceSeconds.foreach(t =>
      require(t > 0, s"toleranceSeconds must be positive, got $t"))
    val tolUs = toleranceSeconds.map(_ * 1000000L)
    val spark = events.sparkSession
    import spark.implicits._
    // the type filter happens INSIDE the state function, not in the
    // plan: a plan-level filter gets pushed below the EventTimeWatermark
    // node, so non-join event types would stop advancing the clock —
    // the same reason the funnels filter in their fold
    val ds = events
      .select("event_id", "ts", "user_id", "event_type", "value")
      .withWatermark("ts", watermark)
      .as[Ev]
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[AsofState, AsofRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid, rows, state: GroupState[AsofState]) =>
          val st0 = state.getOption.getOrElse(AsofState(Seq.empty, Seq.empty))
          val batch = rows.toSeq
          val inL = batch.filter(_.event_type == leftType)
            .map(e => (us(e.ts), e.event_id, e.value))
          val inR = batch.filter(_.event_type == rightType)
            .map(e => (us(e.ts), e.event_id, e.value))
          val wmMs = state.getCurrentWatermarkMs()
          val wmUs = wmMs * 1000L
          // candidates sorted by (ts, payload): nearest-below = last ≤ t,
          // equal-ts ties resolved to the largest payload by the sort
          val rAll = (st0.rbuf ++ inR).sorted
          val (ready, lRest) = (st0.lbuf ++ inL).partition(_._1 < wmUs)
          val out = ready.sorted.flatMap { case (t, eid, v) =>
            val m = rAll.takeWhile(_._1 <= t).lastOption
              .filter { case (rt, _, _) => tolUs.forall(t - rt <= _) }
            m match {
              case Some((rt, reid, rv)) => Some(AsofRow(uid, fromUs(t), eid, v,
                Some(fromUs(rt)), Some(reid), Some(rv)))
              case scala.None if how == "left" =>
                Some(AsofRow(uid, fromUs(t), eid, v, scala.None, scala.None, scala.None))
              case scala.None => scala.None
            }
          }
          // compact: unfinalized rights + the latest finalized one (the
          // only finalized row a future left can still match)
          val (rFinal, rRest) = rAll.partition(_._1 < wmUs)
          val rKept = rFinal.lastOption.toSeq ++ rRest
          if (lRest.isEmpty && rKept.isEmpty) {
            // also the non-join-event-type path: a user who never sent a
            // trade or quote must not grow the state store
            if (state.getOption.isDefined) state.remove()
            out.iterator
          } else {
            state.update(AsofState(lRest, rKept))
            // wake when the watermark passes the earliest row still
            // needing finalization (left) or compaction (right buffer
            // above one row shrinks as the watermark overtakes it)
            val wake = lRest.map(_._1) ++
              (if (rKept.size > 1) Seq(rKept.map(_._1).min) else Seq.empty)
            if (wake.nonEmpty)
              state.setTimeoutTimestamp(math.max(wmMs + 1, wake.min / 1000L + 1))
            out.iterator
          }
      }
      .toDF()
  }

  /** Stream → Delta table sink: each micro-batch appends ONE
    * transactional commit through [[graft.sources.DeltaWrite]]
    * (create on the first non-empty batch). foreachBatch gives
    * exactly-once per epoch under the normal Structured Streaming
    * contract as long as this query is the table's only writer — a
    * concurrent writer trips the conditional commit loudly instead of
    * corrupting the log. Empty batches commit nothing (no empty
    * parquet turds in the table).
    *
    * Returns the started query; callers own awaitTermination. */
  /** deterministic per-sink transaction app id: a function of the
    * checkpoint location, so a restarted query (same checkpoint) keeps
    * the same identity and re-delivered batch ids are recognized */
  private def sinkAppId(checkpointLocation: String): String =
    "graft-sink-" + java.security.MessageDigest.getInstance("MD5")
      .digest(checkpointLocation.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)

  /** One micro-batch → one EXACTLY-ONCE Delta commit: the commit
    * carries a `txn {appId, batchId}` action, and a batch whose id is
    * already recorded for this sink's appId is SKIPPED — the crash
    * window between "Delta commit lands" and "streaming checkpoint
    * advances" re-delivers the same batch id on restart, and without
    * the marker it would double-append (at-least-once, the classic
    * foreachBatch trap). Returns true iff the batch was applied.
    * Public so a harness can drive re-delivery directly. */
  def deltaSinkBatch(
      batch: DataFrame,
      tablePath: String,
      appId: String,
      batchId: Long,
      partitionBy: Seq[String] = Nil,
      checkpointEvery: Int = 10): Boolean = {
    if (batch.isEmpty) return false
    val spark = batch.sparkSession
    val fs = new org.apache.hadoop.fs.Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val applied =
      if (fs.exists(new org.apache.hadoop.fs.Path(tablePath, "_delta_log"))) {
        val last = graft.sources.DeltaWrite.lastTxnVersion(spark, tablePath, appId)
        if (last.exists(_ >= batchId)) false // re-delivered: already committed
        else {
          graft.sources.DeltaWrite.appendWithTxn(
            spark, batch.toDF(), tablePath, appId, batchId, partitionBy)
          true
        }
      } else {
        graft.sources.DeltaWrite.createWithTxn(
          spark, batch.toDF(), tablePath, appId, batchId, partitionBy)
        true
      }
    // a sink commits every micro-batch forever — without periodic
    // checkpoints every reader pays O(commits) log replay. Checkpoints
    // are incremental (previous checkpoint + tail), so this is O(N)
    // per write, amortized O(1) per commit. 0 disables.
    if (applied && checkpointEvery > 0) {
      val v = graft.sources.DeltaScan.latestVersion(spark, tablePath)
      if (v > 0 && v % checkpointEvery == 0)
        graft.sources.DeltaWrite.checkpoint(spark, tablePath)
    }
    applied
  }

  /** One micro-batch of the EXACTLY-ONCE CDC UPSERT sink: the batch
    * MERGEs into the Delta table by `keys` (matched rows replaced,
    * unmatched inserted — [[graft.sources.DeltaWrite.merge]]), the
    * merge commit carrying the `txn` {appId, batchId} handshake so a
    * batch re-delivered after a crash between commit and checkpoint
    * advance is detected and SKIPPED (re-merging different values
    * twice is not idempotent, so the guard is load-bearing here in a
    * way plain appends only need for duplication). `dedupOrder` keeps
    * only the LAST row per key within the batch (max of that column —
    * the CDC latest-wins collapse); without it, duplicate in-batch
    * keys fail loudly via merge's uniqueness check. Returns
    * (updated, inserted), (0, 0) for empty/re-delivered batches. */
  def deltaUpsertSinkBatch(
      batch: DataFrame,
      tablePath: String,
      keys: Seq[String],
      appId: String,
      batchId: Long,
      dedupOrder: Option[String] = scala.None): (Long, Long) = {
    if (batch.isEmpty) return (0L, 0L)
    val spark = batch.sparkSession
    val collapsed = dedupOrder match {
      case scala.None => batch.toDF()
      case Some(ord) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(col): _*).orderBy(col(ord).desc)
        batch.toDF().withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
    }
    val fs = new org.apache.hadoop.fs.Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(tablePath, "_delta_log"))) {
      graft.sources.DeltaWrite.createWithTxn(
        spark, collapsed, tablePath, appId, batchId)
      (0L, collapsed.count())
    } else {
      val last = graft.sources.DeltaWrite.lastTxnVersion(spark, tablePath, appId)
      if (last.exists(_ >= batchId)) (0L, 0L) // re-delivered: already merged
      else graft.sources.DeltaWrite.merge(
        spark, tablePath, collapsed, keys, txn = Some((appId, batchId)))
    }
  }

  /** the [[deltaUpsertSinkBatch]] loop as a foreachBatch stream — a
    * keyed CDC stream materialized as an always-current Delta table */
  def deltaUpsertSink(
      df: DataFrame,
      tablePath: String,
      keys: Seq[String],
      checkpointLocation: String,
      dedupOrder: Option[String] = scala.None): org.apache.spark.sql.streaming.StreamingQuery = {
    val appId = sinkAppId(checkpointLocation)
    df.writeStream
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], bid: Long) =>
        deltaUpsertSinkBatch(batch.toDF(), tablePath, keys, appId, bid, dedupOrder)
        ()
      }
      .start()
  }

  /** One micro-batch → one EXACTLY-ONCE Iceberg append commit: the
    * commit stamps table property `graft.txn.<appId>` = batchId (the
    * Iceberg twin of the Delta txn action — properties live in the
    * metadata JSON, so the marker SURVIVES snapshot expiry), and a
    * batch whose id is already recorded for this sink's appId is
    * SKIPPED on crash-window re-delivery. Returns true iff applied. */
  def icebergSinkBatch(
      batch: DataFrame,
      tablePath: String,
      appId: String,
      batchId: Long): Boolean = {
    if (batch.isEmpty) return false
    val spark = batch.sparkSession
    val fs = new org.apache.hadoop.fs.Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (graft.sources.IcebergScan.hintedVersion(
        fs, new org.apache.hadoop.fs.Path(tablePath, "metadata")).isDefined) {
      val last = graft.sources.IcebergWrite.lastTxnVersion(spark, tablePath, appId)
      if (last.exists(_ >= batchId)) false // re-delivered: already committed
      else {
        graft.sources.IcebergWrite.appendWithTxn(
          spark, batch.toDF(), tablePath, appId, batchId)
        true
      }
    } else {
      graft.sources.IcebergWrite.createWithTxn(
        spark, batch.toDF(), tablePath, appId, batchId)
      true
    }
  }

  /** EXACTLY-ONCE STAGED ingestion: each micro-batch commits to a
    * BRANCH ([[graft.sources.IcebergWrite.appendToBranch]]) with the
    * same txn-marker re-delivery protection as [[icebergSinkBatch]] —
    * production readers of the table see NOTHING until
    * `IcebergWrite.fastForward(branch)` publishes the audited batches.
    * The streaming half of the write-audit-publish pattern; the table
    * must already exist (a branch stages against a production table). */
  def icebergSinkBranchBatch(
      batch: DataFrame,
      tablePath: String,
      branch: String,
      appId: String,
      batchId: Long): Boolean = {
    if (batch.isEmpty) return false
    val spark = batch.sparkSession
    val last = graft.sources.IcebergWrite.lastTxnVersion(spark, tablePath, appId)
    if (last.exists(_ >= batchId)) false // re-delivered: already committed
    else {
      graft.sources.IcebergWrite.appendToBranch(
        spark, batch.toDF(), tablePath, branch, txn = Some((appId, batchId)))
      true
    }
  }

  /** the [[icebergSinkBatch]] loop as a foreachBatch stream */
  def icebergSink(
      df: DataFrame,
      tablePath: String,
      checkpointLocation: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val appId = sinkAppId(checkpointLocation)
    df.writeStream
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], bid: Long) =>
        icebergSinkBatch(batch.toDF(), tablePath, appId, bid)
        ()
      }
      .start()
  }

  /** One micro-batch of the EXACTLY-ONCE Iceberg CDC UPSERT sink:
    * MERGE by `keys` through [[graft.sources.IcebergWrite.merge]]'s
    * overwrite snapshot, the commit carrying the txn property
    * handshake (merging twice is not idempotent — the guard is
    * load-bearing). `dedupOrder` keeps the LAST row per key within
    * the batch. Returns (updated, inserted); (0,0) for
    * empty/re-delivered batches. Twin of [[deltaUpsertSinkBatch]]. */
  def icebergUpsertSinkBatch(
      batch: DataFrame,
      tablePath: String,
      keys: Seq[String],
      appId: String,
      batchId: Long,
      dedupOrder: Option[String] = scala.None): (Long, Long) = {
    if (batch.isEmpty) return (0L, 0L)
    val spark = batch.sparkSession
    val collapsed = dedupOrder match {
      case scala.None => batch.toDF()
      case Some(ord) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(col): _*).orderBy(col(ord).desc)
        batch.toDF().withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
    }
    val fs = new org.apache.hadoop.fs.Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (graft.sources.IcebergScan.hintedVersion(
        fs, new org.apache.hadoop.fs.Path(tablePath, "metadata")).isEmpty) {
      graft.sources.IcebergWrite.createWithTxn(
        spark, collapsed, tablePath, appId, batchId)
      (0L, collapsed.count())
    } else {
      val last = graft.sources.IcebergWrite.lastTxnVersion(spark, tablePath, appId)
      if (last.exists(_ >= batchId)) (0L, 0L) // re-delivered: already merged
      else graft.sources.IcebergWrite.merge(
        spark, tablePath, collapsed, keys, txn = Some((appId, batchId)))
    }
  }

  /** the [[icebergUpsertSinkBatch]] loop as a foreachBatch stream */
  def icebergUpsertSink(
      df: DataFrame,
      tablePath: String,
      keys: Seq[String],
      checkpointLocation: String,
      dedupOrder: Option[String] = scala.None): org.apache.spark.sql.streaming.StreamingQuery = {
    val appId = sinkAppId(checkpointLocation)
    df.writeStream
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], bid: Long) =>
        icebergUpsertSinkBatch(batch.toDF(), tablePath, keys, appId, bid, dedupOrder)
        ()
      }
      .start()
  }

  def deltaSink(
      df: DataFrame,
      tablePath: String,
      checkpointLocation: String,
      partitionBy: Seq[String] = Nil): org.apache.spark.sql.streaming.StreamingQuery = {
    val appId = sinkAppId(checkpointLocation)
    df.writeStream
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], bid: Long) =>
        deltaSinkBatch(batch.toDF(), tablePath, appId, bid, partitionBy)
        ()
      }
      .start()
  }

  /** [[deltaSink]] plus per-batch ROLLUP MAINTENANCE: after each
    * micro-batch lands as one Delta commit, the materialized aggregate
    * at `rollupPath` advances to that commit ([[
    * graft.operators.Rollup.maintain]] — reads only the batch's own
    * files, so the serving aggregate tracks the stream at
    * increment-proportional cost; first batch builds it). Sums are
    * DECIMAL-exact, so at every point the rollup equals a full
    * recompute of the corpus so far — the streaming twin of the batch
    * maintenance loop, proven by StreamingSpec. */
  def deltaSinkWithRollup(
      df: DataFrame,
      tablePath: String,
      checkpointLocation: String,
      rollupPath: String,
      keyCols: Seq[String],
      sumCols: Seq[String],
      distinctCols: Seq[String] = Nil): org.apache.spark.sql.streaming.StreamingQuery = {
    val appId = sinkAppId(checkpointLocation)
    df.writeStream
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], bid: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          // exactly-once corpus commit (re-delivered batch id → skip);
          // the rollup advance is version-driven and idempotent, so it
          // runs either way and no-ops when already current
          Streams.deltaSinkBatch(batch.toDF(), tablePath, appId, bid)
          if (graft.operators.Rollup.exists(spark, rollupPath))
            graft.operators.Rollup.maintain(spark, tablePath, rollupPath)
          else graft.operators.Rollup.build(
            spark, tablePath, rollupPath, keyCols, sumCols, distinctCols)
        }
      }
      .start()
  }

  /** Watermarked STREAM-STREAM interval join: left rows matched to
    * right rows with the same key whose event time falls in
    * `[leftTs - before, leftTs + after]`. Both sides carry watermarks,
    * and the time-range predicate bounds the buffered state on BOTH
    * sides (Spark derives the state-eviction horizon from watermark +
    * interval — without the range condition a stream-stream join would
    * buffer forever). This is the streaming twin of the batch
    * `rangeJoin`: same semantics, state-bounded instead of banded.
    *
    * Column name collisions are the caller's to avoid (rename the
    * right side first), matching Spark's own stream-join contract. */
  def intervalJoinStream(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      watermark: String, before: String, after: String): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    l.join(r,
      col(leftKey) === col(rightKey) &&
        col(rightTs) >= col(leftTs) - expr(s"INTERVAL $before") &&
        col(rightTs) <= col(leftTs) + expr(s"INTERVAL $after"),
      "inner")
  }
}
