package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming over the `events` table (SURVEY.md §2C — the
  * reference is batch-only; this is the declared streaming extension).
  *
  * Every transform takes a plain DataFrame so the SAME code runs in
  * batch (Tables.events) and streaming (readStream) — the Spark
  * unification the reference's architecture can't express. Streaming
  * specifics (watermarks, output modes, state timeouts) live here.
  *
  * Scale notes: watermark + tumbling/session windows keep state bounded
  * by (watermark horizon × key cardinality); the stateful operator uses
  * event-time timeout so abandoned keys are evicted. At 100 TB/day the
  * same topology runs with a real source (Kafka) — the file source here
  * is the test harness.
  */
object EventStreams {

  /** File-source stream of events with `ts` as a real timestamp.
    *
    * File streams need a declared schema; we probe the files already in
    * the landing dir so the stream adapts to whichever `ts` flavor the
    * generator wrote (nanosecond long vs TIMESTAMP_NTZ micros), then
    * normalize exactly like the batch path
    * ([[graft.sources.Tables.normalizeEventTs]]) so stream == batch by
    * construction. An EMPTY landing dir fails loudly: silently assuming
    * one flavor would make the first micro-batch after files arrive
    * fail with a schema mismatch (or, worse, corrupt ts_ns) — write at
    * least one file before defining the stream, or pass an explicit
    * schema via `spark.readStream.schema(...)` yourself.
    */
  def readStream(spark: SparkSession, path: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val onDisk =
      try spark.read.parquet(path).schema
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalStateException(
            s"events landing dir '$path' has no readable parquet to infer the " +
              "ts flavor from; land at least one file before defining the stream", e)
      }
    val reader0 = spark.readStream.schema(onDisk)
    val reader = maxFilesPerTrigger.fold(reader0)(n =>
      reader0.option("maxFilesPerTrigger", n))
    graft.sources.Tables
      .normalizeEventTs(reader.parquet(path))
      .drop("ts_ns")
  }

  /** Tumbling 1-hour windows per event type; late data beyond the
    * watermark is dropped.
    */
  def hourlyCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("total_value"))
      .select(col("window.start").as("hour"), col("event_type"), col("n"), col("total_value"))

  /** Gap-based session windows (30 min inactivity closes a session). */
  def userSessions(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("session_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("session_value"))

  /** Streaming exact dedup on event id: duplicates arriving within the
    * watermark horizon are dropped; state for old ids is evicted once
    * the watermark passes (bounded state — the streaming counterpart
    * of the batch dropDuplicates/dd01 operator).
    */
  def dedupedEvents(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join: each purchase attributed to EVERY
    * prior click by the same user within `horizon` (multi-touch
    * attribution; a purchase with k qualifying clicks emits k rows —
    * last-touch would need a post-join aggregation). Both sides carry
    * watermarks and the join condition bounds event-time distance, so
    * state on each side is evicted once the watermark passes — the
    * canonical bounded-state stream-stream join shape.
    */
  def purchaseAttribution(events: DataFrame, horizon: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    attributionJoin(events, horizon, watermark, "inner")

  /** LEFT OUTER twin of [[purchaseAttribution]]: a purchase with NO
    * qualifying click still emits, with null click columns — but only
    * once the watermark passes its timestamp (no earlier click can
    * arrive anymore), which is the hard semantics of streaming outer
    * joins: the null verdict is a WATERMARK decision, not a batch
    * boundary one. Callers draining a bounded source must push the
    * watermark past the last real purchase (e.g. a late sentinel
    * event on BOTH legs — the global watermark is the min across
    * inputs) or final unmatched purchases stay in state forever.
    */
  def purchaseAttributionOuter(events: DataFrame, horizon: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    attributionJoin(events, horizon, watermark, "left_outer")

  private def attributionJoin(events: DataFrame, horizon: String,
      watermark: String, joinType: String): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", watermark)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_ts", watermark)
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $horizon"),
      joinType)
      .select(col("p_user").as("user_id"), col("purchase_id"), col("click_id"),
        col("purchase_ts"), col("click_ts"), col("value"))
  }

  /** Stream-static enrichment: the unbounded stream joins a bounded
    * batch dimension (here: per-user lifetime aggregates, but any dim
    * table). The static side is re-planned each micro-batch and
    * broadcast, so the operator is completely STATELESS — no watermark,
    * no state store, nothing to evict — the scale-correct shape for
    * stream-against-dimension lookups (contrast with the stream-stream
    * join above, whose both sides hold watermark-bounded state).
    */
  def enrichedEvents(events: DataFrame, userDim: DataFrame): DataFrame =
    events.join(broadcast(userDim), Seq("user_id"), "left")

  /** The batch dimension used by [[enrichedEvents]] in tests/examples:
    * per-user historical totals from the batch events table.
    */
  def userDimension(batchEvents: DataFrame): DataFrame =
    batchEvents.groupBy("user_id")
      .agg(count(lit(1)).as("lifetime_events"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("lifetime_value"))

  // ----- custom state: running per-user profile via mapGroupsWithState

  final case class EventRow(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  final case class UserProfile(user_id: Long, n_events: Long, total_value: Double,
      last_seen: java.sql.Timestamp)

  private def updateProfile(idleTimeoutMs: Long)(
      userId: Long, rows: Iterator[EventRow],
      state: GroupState[UserProfile]): UserProfile = {
    if (state.hasTimedOut) {
      // idle beyond the horizon: emit the final profile and evict —
      // per-user state stays bounded by the active-user set
      val last = state.get
      state.remove()
      last
    } else {
      val prev = state.getOption.getOrElse(
        UserProfile(userId, 0L, 0.0, new java.sql.Timestamp(0)))
      val next = rows.foldLeft(prev) { (p, e) =>
        UserProfile(userId, p.n_events + 1, p.total_value + e.value,
          if (e.ts.after(p.last_seen)) e.ts else p.last_seen)
      }
      state.update(next)
      state.setTimeoutTimestamp(next.last_seen.getTime + idleTimeoutMs)
      next
    }
  }

  /** Running per-user counters with custom state (the
    * `mapGroupsWithState` surface). Event-time timeout genuinely bounds
    * state: a user idle past `idleTimeout` (relative to the watermark)
    * emits its final profile and is evicted.
    */
  def userProfiles(events: DataFrame, watermark: String = "2 hours",
      idleTimeout: String = "2 hours"): Dataset[UserProfile] = {
    implicit val rowEnc = Encoders.product[EventRow]
    implicit val profEnc = Encoders.product[UserProfile]
    val idleMs = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(idleTimeout))
    // month-based timeouts are ill-defined (no fixed millisecond length)
    // and would otherwise be silently dropped by the day/micros sum
    require(idleMs.months == 0,
      s"idleTimeout must be day/time-based, got '$idleTimeout' (months are ambiguous)")
    val ms = idleMs.days * 86400000L + idleMs.microseconds / 1000L
    events
      .withWatermark("ts", watermark)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[EventRow]
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .mapGroupsWithState(GroupStateTimeout.EventTimeTimeout())(updateProfile(ms))
  }

  // ----- CEP: per-user funnel detection via flatMapGroupsWithState

  final case class FunnelEvent(ts: java.sql.Timestamp, ts_us: Long, user_id: Long,
      event_type: String, event_id: Long)
  final case class FunnelState(view_us: Long, click_us: Long, done: Boolean)
  final case class FunnelHit(user_id: Long, view_us: Long, click_us: Long,
      purchase_us: Long)

  private def advanceFunnel(userId: Long, rows: Iterator[FunnelEvent],
      state: GroupState[FunnelState]): Iterator[FunnelHit] = {
    var st = state.getOption.getOrElse(FunnelState(-1L, -1L, done = false))
    if (st.done) Iterator.empty
    else {
      // within a micro-batch, advance in EVENT-TIME order (event_id
      // tie-break) so the machine is arrival-order-free; per-user batch
      // rows are already materialized by the operator, so the sort adds
      // no asymptotic cost
      val ordered = rows.toArray.sortBy(e => (e.ts_us, e.event_id))
      var hit: Option[FunnelHit] = None
      for (e <- ordered if hit.isEmpty) {
        if (st.view_us < 0) {
          if (e.event_type == "view") st = st.copy(view_us = e.ts_us)
        } else if (st.click_us < 0) {
          if (e.event_type == "click" && e.ts_us > st.view_us)
            st = st.copy(click_us = e.ts_us)
        } else if (e.event_type == "purchase" && e.ts_us > st.click_us) {
          hit = Some(FunnelHit(userId, st.view_us, st.click_us, e.ts_us))
          st = st.copy(done = true)
        }
      }
      state.update(st)
      hit.iterator
    }
  }

  /** Per-user funnel completion (view → click → purchase, each stage
    * strictly after the previous) as a streaming CEP over
    * `flatMapGroupsWithState` — the row-emitting stateful surface
    * mapGroupsWithState (userProfiles) doesn't exercise: a group emits
    * ZERO rows until its pattern completes, then exactly one FunnelHit,
    * then nothing ever again (the `done` latch). State per user is three
    * fixed fields — the bounded-state property that lets the same
    * topology watch billions of users.
    *
    * Semantics contract (what the str13 oracle replays): view_us = the
    * user's first view, click_us = first click strictly after it,
    * purchase_us = first purchase strictly after that — exactly q38's
    * relational funnel, emitted per user instead of counted. Exact
    * under a single-micro-batch replay (the parity harness) or
    * event-time-ordered arrival; under arbitrary multi-batch splits it
    * is the standard greedy CEP (a stage commits when observed, even if
    * an earlier-timestamped candidate arrives in a later batch).
    */
  def funnelHits(events: DataFrame): Dataset[FunnelHit] = {
    implicit val feEnc = Encoders.product[FunnelEvent]
    implicit val fhEnc = Encoders.product[FunnelHit]
    implicit val fsEnc = Encoders.product[FunnelState]
    events
      .select(col("ts"), unix_micros(col("ts")).as("ts_us"), col("user_id"),
        col("event_type"), col("event_id"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(advanceFunnel)
  }

  // ----- streaming as-of enrichment via flatMapGroupsWithState

  final case class AsofEvent(ts_us: Long, user_id: Long, event_type: String,
      event_id: Long, value: Double)
  final case class AsofClickState(click_us: Long, click_value: Double)
  final case class AsofHit(p_event_id: Long, user_id: Long,
      click_value: Option[Double])

  private def advanceAsof(userId: Long, rows: Iterator[AsofEvent],
      state: GroupState[AsofClickState]): Iterator[AsofHit] = {
    var st = state.getOption.getOrElse(AsofClickState(-1L, 0.0))
    // event-time order; CLICKS BEFORE PURCHASES at equal ts so a
    // simultaneous click matches (`<=` — ao01's contract)
    val ordered = rows.toArray
      .sortBy(e => (e.ts_us, if (e.event_type == "click") 0 else 1, e.event_id))
    val hits = Seq.newBuilder[AsofHit]
    for (e <- ordered) e.event_type match {
      case "click" =>
        // multiple clicks at one ts reduce by MAX value regardless of
        // their arrival order (ao01 pre-aggregates the right side the
        // same way, so the tie is deterministic in both engines)
        st =
          if (e.ts_us > st.click_us) AsofClickState(e.ts_us, e.value)
          else if (e.ts_us == st.click_us)
            AsofClickState(st.click_us, math.max(st.click_value, e.value))
          else st
      case "purchase" =>
        hits += AsofHit(e.event_id, userId,
          if (st.click_us >= 0) Some(st.click_value) else None)
      case _ => ()
    }
    state.update(st)
    hits.result().iterator
  }

  /** Streaming as-of enrichment: each purchase picks up the same user's
    * most recent at-or-before click value — the batch as-of join
    * (AsOf.asofJoin / ao01) kept CONTINUOUSLY with TWO FIXED state
    * fields per user (last click's timestamp and value), instead of
    * re-sorting history every batch. flatMapGroupsWithState because
    * emission is per-PURCHASE (zero to many rows per group per batch).
    *
    * Exact under event-time-ordered arrival or a single-micro-batch
    * replay (the str14 parity harness); under arbitrary batch splits
    * it is the standard greedy online as-of — a purchase enriches from
    * the clicks SEEN so far, which is the only causal option a
    * real-time enricher has.
    */
  def asofClickEnrich(events: DataFrame): Dataset[AsofHit] = {
    implicit val aeEnc = Encoders.product[AsofEvent]
    implicit val ahEnc = Encoders.product[AsofHit]
    implicit val asEnc = Encoders.product[AsofClickState]
    events
      .select(unix_micros(col("ts")).as("ts_us"), col("user_id"),
        col("event_type"), col("event_id"), col("value"))
      .as[AsofEvent]
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(advanceAsof)
  }

  /** Stream into any registered [[graft.sink.Connectors]] connector via
    * `foreachBatch` — the streaming half of the pluggable-sink story:
    * each micro-batch lands through the connector's one call into
    * [[graft.sink.Sinks]], the write path batch ingestion uses (so a
    * "switch the sink" config change covers both).
    * Appends with per-batch atomicity; exactly-once needs an
    * idempotent/transactional target (parquet append here is
    * at-least-once on retry, as with any non-transactional foreachBatch
    * sink — documented, matching the reference's per-batch commit).
    */
  def writeThrough(df: DataFrame, connector: graft.sink.Connector, target: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        connector.write(batch.toDF(), target): Unit
      }
      .start()

  /** Run a streaming query on `df` into an in-memory table and block
    * until the file source is drained (test/diagnostic harness).
    */
  def runToMemory(df: DataFrame, name: String,
      mode: OutputMode = OutputMode.Complete()): Unit = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Run a Dataset-typed stateful stream into memory (update mode). */
  def runToMemoryUpdate[T](ds: Dataset[T], name: String): Unit = {
    val q = ds.writeStream.outputMode(OutputMode.Update()).format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Run a Dataset-typed stream into memory (append mode — required by
    * append-declared flatMapGroupsWithState operators).
    */
  def runToMemoryAppend[T](ds: Dataset[T], name: String): Unit = {
    val q = ds.writeStream.outputMode(OutputMode.Append()).format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
  }
}
