package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface over the events table. The reference is
  * batch-only (its job blocks on completion, `MapRedWord2Vec.scala:282`),
  * so this is engine-surface beyond parity: the same event analytics the
  * batch queries compute (q21 daily windows, q25 sessionization),
  * expressed as incremental streaming plans.
  *
  * Scale design: windowed aggregation state is bounded by the watermark
  * (late data beyond 1 hour is dropped and state evicted); session state
  * is per-key and expires via processing-time timeout in the append form
  * (the update-mode snapshot keeps per-user totals by contract — see its
  * scaladoc). All operators shuffle once on their grouping key per
  * micro-batch — the streaming analogues of the batch plans'
  * single-exchange shapes.
  */
object EventStream {

  /** The events schema as the file stream source needs it declared,
    * parameterized on how `ts` physically decodes (the stream source
    * requires the schema up front, so the batch reader's post-read
    * branch becomes a pre-read probe here — see Tables.tsEncodingAt). */
  def rawSchema(tsType: org.apache.spark.sql.types.DataType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Open the events parquet path (a directory of part files) as a file
    * stream — schema-adaptive across the ts encodings the batch reader
    * handles, normalized to the same session-TZ micros TimestampType.
    *
    * A landing directory that is empty (or absent) at stream definition
    * — the canonical file-stream deployment, files arrive later — can't
    * be probed; it defaults to the current standard encoding (NTZ
    * micros, what every engine-written and driver-written events table
    * ships as). Legacy nanos-long producers must have at least one file
    * present at definition for the probe to see. */
  def readStream(spark: SparkSession, path: String): DataFrame = {
    import graft.Tables, graft.Tables.TsEncoding
    // ONLY the canonical empty/absent landing dir (probe answers None)
    // falls back to the default encoding. A probe that positively
    // FAILED — the bare-INT64 micros-magnitude loud-fail
    // (IllegalStateException), IO/permission errors — propagates:
    // swallowing it would re-create downstream exactly the silent
    // ~1970-decode class of bug the probe exists to prevent.
    val probed = Tables.tsEncodingIfPresent(spark, path)
      .getOrElse(TsEncoding.LocalTimestamp)
    val tsType = probed match {
      case TsEncoding.NanosAnnotated =>
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        LongType
      case TsEncoding.PlainLong        => LongType
      case TsEncoding.LocalTimestamp   => TimestampNTZType
      case TsEncoding.InstantTimestamp => TimestampType
    }
    // a production landing zone is often the day-partitioned tree
    // (`event_date=YYYY-MM-DD/`, which Tables.events also reads), and a dir that is EMPTY at
    // definition may receive that layout later — so the listing is
    // ALWAYS recursive (for a flat dir it lists the same files). The
    // partition column is NOT in the schema: the stream presents the
    // same logical schema as the batch reader (which drops it too).
    Tables.normalizeTs(
      spark.readStream.schema(rawSchema(tsType))
        .option("recursiveFileLookup", "true").parquet(path))
  }

  /** Tumbling daily windows per event type with a 1-hour watermark —
    * the streaming twin of the batch q21. */
  def dailyTypeCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("n"), col("sum_value"))

  /** Native `session_window` sessionization — the LITERAL streaming
    * rendering of batch q157 (Temporal.q157SessionWindow): same
    * groupBy(user, session_window(ts, 30 min)) aggregate, same
    * per-session grain and output shape, now with a 1-hour watermark
    * bounding the merge state. This is the claim q157's scaladoc makes
    * ("batch and stream share the plan") made executable: a session
    * emits in append mode exactly when the watermark passes its close,
    * and the emitted row is the batch row (StreamingSpec parity).
    *
    * Scale: state per key is the OPEN sessions of that user only —
    * closed sessions leave the store at emission; one shuffle on
    * user_id per micro-batch, the same single-exchange shape as the
    * batch plan. Contrast with [[sessionCountsSnapshot]], which keeps
    * per-user TOTALS forever by contract (running counters); this
    * operator's state is watermark-evicted, the unbounded-runtime
    * deployment. */
  def sessionWindows(events: DataFrame): DataFrame =
    events
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
      .select(col("user_id"),
        date_format(col("sw.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("sw.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n_events"), col("sum_value"))

  /** Replay-safe ingest dedup through the built-in
    * `dropDuplicatesWithinWatermark` — the state-BOUNDED form of the
    * `dropDuplicates("event_id")` twin StreamingSpec already drives.
    * Plain dropDuplicates on a key without the event-time column keeps
    * every seen key forever (the store only grows — a leak on an
    * unbounded ingest stream); WithinWatermark instead evicts a key
    * once the watermark passes its timestamp by the delay, trading
    * infinite memory for a bounded guarantee: duplicates are dropped
    * only while they can still arrive (within the disorder bound).
    * At 100 TB/day of ingest this is the ONLY viable exactly-once
    * dedup: state is O(events per watermark window), not O(events
    * ever). Emitted rows are first-arrival. The guarantee's exact
    * edge (StreamingSpec proves both halves): a replay carrying its
    * ORIGINAL ts can never duplicate — in-state keys dedup, and an
    * evicted key's replay is by construction late (evicted ⇔
    * ts &lt; wm − delay) so the watermark filter drops it; only an
    * at-least-once producer that RE-STAMPS a replay with a fresh
    * ingest ts can re-admit an evicted key — past the disorder bound,
    * downstream batch dedup (q30) owns it, the standard lambda
    * split. */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events
      .filter(col("event_id").isNotNull && col("ts").isNotNull)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream join: views joined to the same user's purchases
    * within the following hour. Both sides carry watermarks so the join
    * state is bounded: a buffered view can be evicted once the purchase
    * watermark passes view_ts + 1h. The time-range condition is what
    * makes state finite — an unconstrained stream-stream equi-join
    * would buffer forever. */
  def viewToPurchase(events: DataFrame): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value").as("purchase_value"))
      .withWatermark("purchase_ts", "1 hour")
    views.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("view_ts") &&
        col("purchase_ts") <= col("view_ts") + expr("INTERVAL 1 HOUR"))
      .select("user_id", "view_id", "purchase_id", "purchase_value")
  }

  /** One micro-batch of the idempotent sink: the batch lands in its own
    * `batch_id=<id>` partition under dynamic partition overwrite, so a
    * REPLAYED batch (failure/retry re-delivers the same id) overwrites
    * itself instead of appending duplicates. Exactly-once for file
    * output without the built-in file sink's append-only metadata log —
    * the pattern to use when downstream compaction or partition
    * rewrites would break that log. */
  def writeBatchIdempotent(batch: DataFrame, id: Long, path: String): Unit =
    batch.withColumn("batch_id", lit(id))
      .write.mode("overwrite")
      // per-WRITE option, not a session conf set: flipping the session
      // global would silently turn every later partitioned overwrite in
      // the application from truncate-table into replace-touched-only
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(path)

  /** Stream → parquet through [[writeBatchIdempotent]] via foreachBatch. */
  def idempotentParquetSink(stream: DataFrame, path: String,
                            checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch((batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        writeBatchIdempotent(batch.toDF(), id, path))
      .start()

  /** Drop rows a stateful fold can neither key nor time: a null
    * `user_id` kills the primitive-Long decode the moment groupByKey
    * inserts its deserializer, and a null `ts` NPEs the event-time
    * arithmetic — so ONE dirty row from a producer bug would kill the
    * whole streaming query, while the batch twins tolerate the same
    * rows (null weeks/timestamps drop out of their aggregates).
    * Applied as an UNTYPED filter so it runs before the deserializer.
    *
    * Documented divergence: the batch plans group a literal null
    * user_id as its own group (SQL GROUP BY semantics, both engines);
    * a typed stream fold has no null key, so dirty rows are dropped at
    * ingest and the streaming parity contract is over keyable
    * (non-null user_id/ts) rows. */
  private def droppingNullKeys[T](events: Dataset[T]): Dataset[T] =
    events.filter(col("ts").isNotNull && col("user_id").isNotNull)

  /** The columns the session/retention folds actually consume — no
    * `value`: a narrower record shuffles less through groupByKey, and a
    * producer-bug null in an unused column can't kill the decode. */
  case class Event(user_id: Long, event_id: Long, ts: java.sql.Timestamp)
  case class SessionState(lastTsMicros: Long, sessions: Long, events: Long)
  case class UserSessions(user_id: Long, n_sessions: Long, n_events: Long)

  /** Full-precision epoch micros of a Timestamp. `getTime` alone is
    * MILLISECOND-truncated; the sub-second detail lives in `getNanos`
    * (which overlaps the millisecond part of getTime — hence the /1000
    * floor to whole seconds first). Sub-ms detail matters for ORDERING
    * parity with the batch q25 twin, which sorts at full timestamp
    * precision (its GAP comparison is separately second-floored —
    * see sessionCounts). */
  def eventMicros(ts: java.sql.Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

  /** The ONE session state machine both streaming session operators
    * fold with: sort the micro-batch by (full-precision micros,
    * event_id) — the batch q25 sort key — and advance the per-user
    * state under the second-floored 30-minute gap rule (q25's
    * unix_timestamp diff semantics; a raw-micros gap would split
    * sessions the batch twin keeps, e.g. 0.0s → 1800.9s is diff=1800:
    * same session). */
  private def advanceSessions(init: SessionState, rows: Iterator[Event]): SessionState = {
    var s = init
    rows.toSeq.sortBy(e => (eventMicros(e.ts), e.event_id)).foreach { e =>
      val tsMicros = eventMicros(e.ts)
      val gapSeconds =
        Math.floorDiv(tsMicros, 1000000L) - Math.floorDiv(s.lastTsMicros, 1000000L)
      val newSession = s.lastTsMicros == Long.MinValue || gapSeconds > 30L * 60
      s = SessionState(tsMicros, s.sessions + (if (newSession) 1 else 0), s.events + 1)
    }
    s
  }

  /** Update-mode twin of [[sessionCounts]]: emits the RUNNING per-user
    * session/event totals after every micro-batch instead of waiting
    * for the idle timeout — the shape to use with an upsert sink (and
    * the deterministically testable one: the final emission per user
    * equals the batch answer, asserted in StreamingSpec). Same fold as
    * [[sessionCounts]] ([[advanceSessions]]).
    *
    * State-size tradeoff, explicit: running TOTALS require keeping one
    * record per user EVER seen — no timeout eviction (evicting would
    * silently reset a returning user's totals; and a processing-time
    * timeout here would also re-arm batches forever, which blocks
    * `processAllAvailable`-style draining). For unbounded user
    * cardinality use [[sessionCounts]], whose append-mode contract
    * allows eviction after an hour of silence. */
  def sessionCountsSnapshot(events: Dataset[Event]): Dataset[UserSessions] = {
    import events.sparkSession.implicits._
    droppingNullKeys(events).groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) => {
          val s = advanceSessions(
            state.getOption.getOrElse(SessionState(Long.MinValue, 0L, 0L)), rows)
          state.update(s)
          Iterator(UserSessions(userId, s.sessions, s.events))
        })
  }

  /** Per-user funnel state: the current stage-time candidates
    * ([[FunnelOpen]] = stage open) plus the click/purchase times that
    * could still LOWER a candidate if an earlier view/click arrives in
    * a later micro-batch (see [[funnelStages]] for the trim argument
    * that keeps them small). The sentinel is Long.MinValue, NOT -1: a
    * pre-1970 timestamp (negative epoch micros from an underflowed
    * producer field) is dirty-ish data the batch q102 still counts, so
    * the stream must not read it as "unset". */
  val FunnelOpen: Long = Long.MinValue
  case class FunnelState(t1: Long, t2: Long, t3: Long,
                         clicks: Seq[Long], purchases: Seq[Long])
  case class FunnelEvent(user_id: Long, ts: java.sql.Timestamp, event_type: String)
  case class StageAdvance(user_id: Long, stage: Long, stage_name: String, us: Long)

  /** Streaming twin of the batch q102 ordered funnel: per-user state
    * tracks t1 = min view time, t2 = min click time > t1, t3 = min
    * purchase time > t2 — exactly the batch definition — and emits a
    * StageAdvance row whenever a stage candidate first appears or
    * improves. `countDistinct(user)` per stage (or min(us) per
    * (user, stage) for the stage times) reproduces q102's table.
    *
    * Parity is ORDER-INDEPENDENT under ANY micro-batch delivery, the
    * retentionWeeks pattern: each candidate is recomputed from commuting
    * state (a min and two candidate sets), not from arrival order. A
    * fixed-size min-per-stage record would NOT suffice — a click
    * rejected against a provisional first-view is lost forever when an
    * EARLIER view arrives in a later batch — so the state keeps the
    * still-relevant candidates, trimmed by a monotonicity argument:
    * t1 only decreases as views arrive, hence {c : c > t1} only grows,
    * hence t2 = min of a growing set is NON-INCREASING over time — so
    * any click ≥ the current t2 can never become the answer and is
    * dropped (t2 itself stays in the set and beats it). Purchases trim
    * against t3 the same way (t2 non-increasing ⇒ t3 non-increasing).
    * Stage times never retract: completed stays completed, and the fold
    * min(us) per (user, stage) equals the batch stage time.
    *
    * State bound: min-view long + clicks ≤ current t2 + purchases ≤
    * current t3 — i.e. the events that PRECEDE the user's funnel
    * trigger (empty sets once the funnel completes tightly; all clicks
    * only for a user who clicks forever and never views). For THAT
    * user the production deployment sets a watermark on the input:
    * any future view then carries ts ≥ watermark, so a candidate at or
    * below min(t1, watermark) can never satisfy `> t1'` again and is
    * dropped — state becomes bounded by the watermark horizon, not the
    * user's history. (The trim reads `getCurrentWatermarkMs`; without
    * a watermark it is inactive and the exact unbounded contract
    * applies.) The operator enforces the late-data contract itself:
    * Spark does not late-filter rows for flatMapGroupsWithState, so
    * the fold ignores rows with ts below the watermark — otherwise a
    * late view could lower t1 below the bar AFTER candidates were
    * trimmed and silently change the answer. Rows with null user_id/ts
    * are dropped at ingest ([[droppingNullKeys]]). */
  def funnelStages(events: Dataset[TypedEvent]): Dataset[StageAdvance] = {
    import events.sparkSession.implicits._
    // narrow before the shuffle: the fold needs only (user, ts, type),
    // and the re-projection also keeps a dirty `value` from ever
    // reaching a decoder
    droppingNullKeys(events)
      .select(col("user_id"), col("ts"), col("event_type")).as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, rows: Iterator[FunnelEvent], state: GroupState[FunnelState]) => {
          val open = FunnelOpen
          val s0 = state.getOption.getOrElse(FunnelState(open, open, open, Nil, Nil))
          var minView = s0.t1
          var clicks = s0.clicks.toVector
          var purchases = s0.purchases.toVector
          // Spark does NOT late-filter rows for flatMapGroupsWithState
          // (unlike windowed aggregations — verified empirically by the
          // state-store test), so the operator enforces the standard
          // late-data contract itself: rows older than the watermark
          // are ignored. This is the exact invariant the trim below
          // relies on — "any future view carries ts >= wm" — and
          // without it a late view could lower t1 BELOW the bar after
          // candidates were already trimmed, changing the answer.
          val wmMs0 =
            try state.getCurrentWatermarkMs()
            catch { case _: UnsupportedOperationException => 0L }
          val admitUs = if (wmMs0 > 0L) wmMs0 * 1000L else Long.MinValue
          rows.foreach { e =>
            val us = eventMicros(e.ts)
            if (us >= admitUs) e.event_type match {
              case "view"     => if (minView == open || us < minView) minView = us
              case "click"    => clicks :+= us
              case "purchase" => purchases :+= us
              case _          => ()
            }
          }
          val t1 = minView
          val t2 =
            if (t1 != open) clicks.filter(_ > t1).minOption.getOrElse(open) else open
          val t3 =
            if (t2 != open) purchases.filter(_ > t2).minOption.getOrElse(open) else open
          // watermark trim (scaladoc): future views satisfy ts >= wm,
          // so future t1' >= min(t1, wm) and a candidate <= that bar can
          // never qualify as `> t1'` (purchases: p > t2' > t1' >= bar).
          // No watermark on the input -> getCurrentWatermarkMs THROWS
          // (and the 0 of a defined-but-unadvanced watermark is also
          // left inactive, so pre-1970 timestamps are never misread as
          // trimmable).
          val wm = admitUs
          val lowBar = if (t1 == open) wm else math.min(t1, wm)
          clicks = (if (t2 != open) clicks.filter(_ <= t2) else clicks)
            .filter(_ > lowBar).distinct.sorted
          purchases = (if (t3 != open) purchases.filter(_ <= t3) else purchases)
            .filter(_ > lowBar).distinct.sorted
          val out = Vector.newBuilder[StageAdvance]
          if (t1 != open && (s0.t1 == open || t1 < s0.t1))
            out += StageAdvance(userId, 1L, "view", t1)
          if (t2 != open && (s0.t2 == open || t2 < s0.t2))
            out += StageAdvance(userId, 2L, "click_after_view", t2)
          if (t3 != open && (s0.t3 == open || t3 < s0.t3))
            out += StageAdvance(userId, 3L, "purchase_after_click", t3)
          state.update(FunnelState(t1, t2, t3, clicks, purchases))
          out.result().iterator
        })
  }

  /** `value` is an Option: a null value row must survive the decode —
    * batch q80 keeps it as a frame slot that contributes nothing to the
    * trailing stats (count/avg/stddev ignore nulls), and the stream
    * buffer mirrors that exactly. */
  case class TypedEvent(user_id: Long, event_id: Long, ts: java.sql.Timestamp,
                        event_type: String, value: Option[Double])
  /** Last ≤20 frame SLOTS per user, frame order (oldest first) — the
    * window frame of the batch q80, carried as stream state. None =
    * a null-value row occupying its slot, as in the batch ROWS frame. */
  case class ZBuffer(recent: Seq[Option[Double]])
  case class Anomaly(event_id: Long, user_id: Long, event_type: String, value: Double,
                     trailing_mean: Double, n_prev: Long, z: Double)

  private def roundHalfUp(x: Double, scale: Int): Double =
    BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Streaming twin of the batch q80 trailing z-score monitor: per user,
    * the state IS the window frame — a ring of the last ≤20 values —
    * and each arriving event is scored against it before being pushed.
    *
    * Numeric parity with the batch plan is exact, not approximate: the
    * trailing mean replicates Spark's `Average` (sequential sum ÷ n over
    * the frame in order) and sigma replicates `CentralMomentAgg`'s
    * Welford recurrence (delta/deltaN/m2), so a value that rounds to
    * z = 2.5000 flags identically in both engines. Guards match q80:
    * ≥ 10 observations, sigma > 1e-12, |z| ≥ 2.5.
    *
    * State is O(20 doubles) per user with no timeout (an evicted buffer
    * would silently re-enter warm-up and miss anomalies on return);
    * micro-batch rows fold in the batch sort order (full-precision
    * micros, event_id). */
  def zscoreAnomalies(events: Dataset[TypedEvent]): Dataset[Anomaly] = {
    import events.sparkSession.implicits._
    droppingNullKeys(events).groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, rows: Iterator[TypedEvent], state: GroupState[ZBuffer]) => {
          var buf = state.getOption.map(_.recent.toVector)
            .getOrElse(Vector.empty[Option[Double]])
          val out = Vector.newBuilder[Anomaly]
          rows.toSeq.sortBy(e => (eventMicros(e.ts), e.event_id)).foreach { e =>
            // batch parity: n_prev = count("value") over the frame —
            // null slots occupy the 20-row frame but don't contribute
            val vals = buf.flatten
            val n = vals.size
            if (n >= 10 && e.value.isDefined) {
              var sum = 0.0
              vals.foreach(sum += _)
              val mu = sum / n
              var wAvg = 0.0; var m2 = 0.0; var i = 0.0
              vals.foreach { x =>
                i += 1.0
                val delta = x - wAvg
                wAvg += delta / i
                m2 += delta * (x - wAvg)
              }
              val sigma = math.sqrt(m2 / (n - 1.0))
              if (sigma > 1e-12) {
                val z = (e.value.get - mu) / sigma
                if (math.abs(z) >= 2.5)
                  out += Anomaly(e.event_id, userId, e.event_type, e.value.get,
                    roundHalfUp(mu, 6), n.toLong, roundHalfUp(z, 4))
              }
            }
            buf = (buf :+ e.value).takeRight(20)
          }
          state.update(ZBuffer(buf))
          out.result().iterator
        })
  }

  /** Per-user attribution state: candidate touches (non-purchase
    * events that could still be some purchase's nearest-preceding
    * touch) and open purchases (still re-attributable if a later touch
    * that precedes them arrives). `emitted` is the last touch type this
    * purchase was credited to ("" = never emitted) so re-deliveries
    * only emit CHANGES. */
  case class Touch(us: Long, id: Long, tpe: String)
  case class OpenPurchase(us: Long, id: Long, value: Option[Double], emitted: String)
  case class AttribState(touches: Seq[Touch], purchases: Seq[OpenPurchase])
  /** `touch_us`/`touch_id` are the winning touch's order key
    * (Long.MinValue for `direct`): across re-emissions of one purchase
    * the winning key STRICTLY increases (a credit only changes when a
    * later-ordering touch arrives), so the final credit per purchase is
    * the emission with the max (touch_us, touch_id) — an order-free
    * fold that needs no sink ordering guarantee. */
  case class TouchCredit(user_id: Long, event_id: Long, us: Long,
                         value: Option[Double], touch_type: String,
                         touch_us: Long, touch_id: Long)

  /** Streaming twin of the batch q122 last-touch attribution: per
    * purchase, credit the nearest PRECEDING non-purchase event in the
    * (micros, event_id) order — re-emitting a purchase's credit row
    * whenever a newly arrived touch improves it. Folding the LAST
    * emission per event_id and rolling up by touch type reproduces the
    * batch q122 table.
    *
    * Parity is ORDER-INDEPENDENT under any micro-batch delivery (the
    * funnelStages contract): the state keeps every candidate that
    * could still win for some admissible purchase, not a single
    * running "last touch" (which an out-of-order delivery would
    * corrupt). Trims, by the funnel's monotonicity argument:
    *
    *  - A future ROW (touch or purchase) carries ts ≥ watermark, and
    *    the operator enforces that admission bound itself (Spark does
    *    not late-filter flatMapGroupsWithState input). So among
    *    touches BELOW the watermark only the latest can ever win again
    *    — every stored purchase and every admissible future purchase
    *    orders above ALL of them, so the latest dominates — and the
    *    rest are dropped.
    *  - A purchase BELOW the watermark can never be re-attributed (an
    *    improving touch would have to order below it, hence below the
    *    watermark, hence be inadmissible): its credit is final and it
    *    leaves the state after its last emission.
    *
    * With a watermark, state per user is bounded by the events inside
    * the watermark horizon + 1 touch; without one (wmMs = 0, the
    * pre-1970 guard funnelStages documents) the trims are inactive and
    * the exact unbounded contract applies. Purchases with no preceding
    * touch credit `direct` (the batch coalesce). Null event_type rows
    * are neither touches nor purchases — the batch `when(type <>
    * 'purchase', type)` inside `last(ignoreNulls)` skips them and a
    * null can't equal 'purchase'; null user_id/ts rows drop at ingest
    * ([[droppingNullKeys]]). */
  def attributionCredits(events: Dataset[TypedEvent]): Dataset[TouchCredit] = {
    import events.sparkSession.implicits._
    droppingNullKeys(events).groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, rows: Iterator[TypedEvent], state: GroupState[AttribState]) => {
          val s0 = state.getOption.getOrElse(AttribState(Nil, Nil))
          var touches = s0.touches.toVector
          var purchases = s0.purchases.toVector
          val wmMs =
            try state.getCurrentWatermarkMs()
            catch { case _: UnsupportedOperationException => 0L }
          val admitUs = if (wmMs > 0L) wmMs * 1000L else Long.MinValue
          rows.foreach { e =>
            val us = eventMicros(e.ts)
            if (us >= admitUs) e.event_type match {
              case null       => ()
              case "purchase" => purchases :+= OpenPurchase(us, e.event_id, e.value, "")
              case t          => touches :+= Touch(us, e.event_id, t)
            }
          }
          // touch trim: keep every touch at/above the watermark plus
          // the single latest below it (it orders below every stored
          // and every future purchase, and above its dominated peers)
          if (admitUs != Long.MinValue) {
            val (above, below) = touches.distinct.partition(_.us >= admitUs)
            touches = above ++ below.maxByOption(t => (t.us, t.id))
          } else touches = touches.distinct
          touches = touches.sortBy(t => (t.us, t.id))
          // a re-delivered purchase (retry) must not duplicate state;
          // the stored copy (with its emitted marker) wins
          purchases = purchases.distinctBy(p => (p.us, p.id))
          val out = Vector.newBuilder[TouchCredit]
          // purchase finalization FIRST: a stored purchase below the
          // watermark is final (an improving touch would have to order
          // below it, hence below the watermark, hence be inadmissible)
          // and already emitted its credit in the batch that admitted
          // it — so it must NOT be re-evaluated against the TRIMMED
          // touch set: if the single kept below-watermark touch orders
          // after it, the recompute would spuriously re-emit 'direct'
          // with key Long.MinValue, breaking the strictly-increasing
          // winning-key invariant the fold contract documents. Drop it
          // silently; only at-/above-watermark purchases recompute.
          if (admitUs != Long.MinValue)
            purchases = purchases.filter(_.us >= admitUs)
          purchases = purchases.map { p =>
            val best = touches.reverseIterator
              .find(t => t.us < p.us || (t.us == p.us && t.id < p.id))
            val credit = best.map(_.tpe).getOrElse("direct")
            if (credit != p.emitted)
              out += TouchCredit(userId, p.id, p.us, p.value, credit,
                best.map(_.us).getOrElse(Long.MinValue),
                best.map(_.id).getOrElse(Long.MinValue))
            p.copy(emitted = credit)
          }
          state.update(AttribState(touches, purchases))
          out.result().iterator
        })
  }

  /** UTC calendar day of a timestamp as 'yyyy-MM-dd' — the twin of the
    * batch `date_format(ts, "yyyy-MM-dd")` under the pinned UTC
    * session zone. */
  def utcDay(ts: java.sql.Timestamp): String =
    java.time.LocalDateTime.ofInstant(
      java.time.Instant.ofEpochMilli(ts.getTime), java.time.ZoneOffset.UTC)
      .toLocalDate.toString

  private def utcDayTime(ts: java.sql.Timestamp): String =
    java.time.LocalDateTime.ofInstant(
      java.time.Instant.ofEpochMilli(ts.getTime), java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))

  /** Accumulating day + the last ≤8 CLOSED day values, oldest first. */
  case class EwmaState(day: String, sum: Double, ring: Seq[Double])
  case class EwmaPoint(event_type: String, day: String, x: Double,
                       baseline: Option[Double], dev: Option[Double], is_spike: Long)

  /** Streaming twin of the batch q113 EWMA monitor: per event_type, the
    * state is the accumulating current day plus a ring of the last ≤8
    * closed daily values — O(9 doubles) per type. A day EMITS when the
    * first row of a LATER day arrives (the day is then closed and
    * scored against the ring exactly as the batch lags score it: same
    * weight order, same 6-dp roundings, so flags match bit-for-bit).
    *
    * Contracts, explicit: (a) each type's final, still-open day never
    * emits — parity is batch MINUS each type's last day (the
    * snapshotDeltaProbe shape); (b) rows for an already-closed day are
    * DROPPED, the funnel's late-data rule — cross-day disorder needs
    * the batch form; within-day disorder is immaterial because only
    * the day SUM enters the math (6-dp rounding absorbs fold-order
    * noise, the q113 oracle contract). */
  /** Close an accumulating day against its ring — module-level (not a
    * method-local def) so the state lambda reaches it as a static call
    * instead of capturing the non-serializable module instance. */
  private def closeEwmaDay(tpe: String, st: EwmaState): EwmaPoint = {
    val weights = graft.operators.Temporal.EwmaWeights
    val x = roundHalfUp(st.sum, 6)
    // most-recent lag first = weight w1, matching the batch lag(x, i)
    val lags = st.ring.reverse.take(8)
    if (lags.isEmpty) EwmaPoint(tpe, st.day, x, None, None, 0L)
    else {
      val num = lags.zip(weights).map { case (l, w) => w * l }.sum
      val den = weights.take(lags.size).sum
      val baseline = roundHalfUp(num / den, 6)
      val dev = roundHalfUp(x - baseline, 6)
      val spike = if (math.abs(dev) > 0.25 * math.max(baseline, 1.0)) 1L else 0L
      EwmaPoint(tpe, st.day, x, Some(baseline), Some(dev), spike)
    }
  }

  def ewmaDailyAnomalies(events: Dataset[TypedEvent]): Dataset[EwmaPoint] = {
    import events.sparkSession.implicits._
    droppingNullKeys(events)
      .filter(col("event_type").isNotNull && col("value").isNotNull)
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (tpe: String, rows: Iterator[TypedEvent], state: GroupState[EwmaState]) => {
          var st = state.getOption.orNull
          val out = Vector.newBuilder[EwmaPoint]
          rows.toSeq.sortBy(e => (eventMicros(e.ts), e.event_id)).foreach { e =>
            val day = utcDay(e.ts)
            if (st == null) st = EwmaState(day, 0.0, Nil)
            if (day > st.day) {
              val closed = closeEwmaDay(tpe, st)
              out += closed
              st = EwmaState(day, 0.0, (st.ring :+ closed.x).takeRight(8))
            }
            // late-data contract: rows for a closed day are dropped
            if (day == st.day) st = st.copy(sum = st.sum + e.value.get)
          }
          if (st != null) state.update(st)
          out.result().iterator
        })
  }

  /** Streaming twin of q137's cohort summaries — the live A/B monitor.
    * One definition shared with the batch test
    * ([[graft.operators.Stats.welchSummaries]]): count/avg/var_samp are
    * Spark's mergeable central-moment aggregates, so each micro-batch
    * folds its partial (n, Σ, M2) into O(|cohorts|) state and the
    * running answer always equals the batch recompute over everything
    * seen so far (StreamingSpec pins the parity). Complete output
    * mode — the sink sees the current 2-row summary each trigger; the
    * t-statistic itself is [[graft.operators.Stats.welchFromSummaries]]
    * over that tiny table, driver-side cheap at any corpus size. */
  def welchCohortSummaries(events: DataFrame): DataFrame =
    graft.operators.Stats.welchSummaries(events)

  /** Current SCD2 run per user, carried as stream state. */
  case class RunState(version: Long, state: String, fromUs: Long,
                      fromStr: String, n: Long)
  case class ClosedInterval(user_id: Long, version: Long, state: String,
                            valid_from: String, valid_to: String, n_events: Long)

  /** Streaming twin of the batch q111 SCD2 build — change-data capture
    * at ingest: per user the state is ONLY the current open run
    * (version, state, start, count); an arriving event that changes
    * the user's event_type CLOSES the run and emits the finished
    * validity interval, whose valid_to is by construction the new
    * run's valid_from — exactly the batch lead(). The still-open run
    * is the batch's is_current row and never emits (parity = batch
    * minus is_current rows, under the ordered-delivery contract the
    * crawl/CDC producer already satisfies; within a micro-batch rows
    * fold in batch sort order). Null-keyed or null-typed rows are
    * dropped (droppingNullDocKeys contract — the batch form lumps a
    * null type into the preceding run via three-valued logic, a
    * semantics no keyed fold should replicate). */
  def scdIntervals(events: Dataset[TypedEvent]): Dataset[ClosedInterval] = {
    import events.sparkSession.implicits._
    droppingNullKeys(events)
      .filter(col("event_type").isNotNull)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, rows: Iterator[TypedEvent], state: GroupState[RunState]) => {
          var st = state.getOption.orNull
          val out = Vector.newBuilder[ClosedInterval]
          rows.toSeq.sortBy(e => (eventMicros(e.ts), e.event_id)).foreach { e =>
            val us = eventMicros(e.ts)
            if (st == null)
              st = RunState(1L, e.event_type, us, utcDayTime(e.ts), 1L)
            else if (e.event_type == st.state)
              st = st.copy(n = st.n + 1)
            else {
              out += ClosedInterval(userId, st.version, st.state,
                st.fromStr, utcDayTime(e.ts), st.n)
              st = RunState(st.version + 1, e.event_type, us, utcDayTime(e.ts), 1L)
            }
          }
          if (st != null) state.update(st)
          out.result().iterator
        })
  }

  case class RetentionState(seenDays: Set[Long])
  case class WeekActive(user_id: Long, week_day: Long)

  /** ISO week start (Monday, UTC) of a timestamp as an epoch day — the
    * streaming-side twin of the batch `date_trunc("week", ts)` under
    * the engine's pinned UTC session zone. */
  def weekStartDay(ts: java.sql.Timestamp): Long = {
    val d = java.time.LocalDate.ofInstant(ts.toInstant, java.time.ZoneOffset.UTC)
    d.`with`(java.time.temporal.TemporalAdjusters
      .previousOrSame(java.time.DayOfWeek.MONDAY)).toEpochDay
  }

  /** Streaming twin of the batch q101 retention cohorts: per-user state
    * is the set of active weeks — emits one WeekActive row the FIRST
    * time a user is seen active in a week (append mode, rows never
    * retract). [[retentionMatrix]] folds the emitted rows into the q101
    * matrix, so the cohort report is incrementally maintainable at
    * ingest instead of recomputed over the full history.
    *
    * Parity is ORDER-INDEPENDENT (the pattern funnelStages now shares):
    * the emitted rows
    * are the distinct (user, week) sightings as a SET — identical under
    * any micro-batch delivery order — and the cohort is derived in the
    * fold as min(week) per user, exactly the batch semantics. State is
    * the active-week set per user: bounded by history length in WEEKS,
    * the same bound as the batch plan's collect_set, and orders of
    * magnitude below the event count. */
  def retentionWeeks(events: Dataset[Event]): Dataset[WeekActive] = {
    import events.sparkSession.implicits._
    droppingNullKeys(events).groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, rows: Iterator[Event], state: GroupState[RetentionState]) => {
          var s = state.getOption.getOrElse(RetentionState(Set.empty))
          val out = Vector.newBuilder[WeekActive]
          rows.foreach { e =>
            val wk = weekStartDay(e.ts)
            if (!s.seenDays(wk)) {
              s = RetentionState(s.seenDays + wk)
              out += WeekActive(userId, wk)
            }
          }
          state.update(s)
          out.result().iterator
        })
  }

  /** Fold [[retentionWeeks]] emissions into the q101 cohort matrix
    * (cohort_week, week_offset, n_active, cohort_size, retention). Each
    * emitted row is a distinct (user, week) sighting, so a plain count
    * is the distinct-user count — same argument as the batch plan — and
    * the cohort week is min(week) per user, the batch definition; the
    * cohort size is the offset-0 cell (every user is active in their
    * own cohort week by construction). One user-keyed shuffle over
    * user×week rows — the batch q101's own collapse shape. */
  def retentionMatrix(weekActive: DataFrame): DataFrame = {
    val cells = weekActive
      .withColumn("cohort_day",
        min("week_day").over(
          org.apache.spark.sql.expressions.Window.partitionBy("user_id")))
      .groupBy(col("cohort_day"),
        ((col("week_day") - col("cohort_day")) / 7).cast("long").as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
    // cohort size = the offset-0 cell, spread with a window over the
    // O(weeks²) matrix — no self-join (and no conflicting-lineage trap)
    cells
      .withColumn("cohort_size",
        max(when(col("week_offset") === 0, col("n_active")))
          .over(org.apache.spark.sql.expressions.Window.partitionBy("cohort_day")))
      .select(
        date_format(expr("date_add(DATE '1970-01-01', CAST(cohort_day AS INT))"),
          "yyyy-MM-dd").as("cohort_week"),
        col("week_offset"), col("n_active"), col("cohort_size"),
        round(col("n_active").cast("double") / col("cohort_size"), 6).as("retention"))
      .orderBy("cohort_week", "week_offset")
  }

  case class TypeSeen(user_id: Long, event_type: String)
  case class AudSeen(types: Set[String])

  /** Streaming half of the batch q166 audience-overlap matrix: emits
    * one (user, type) row the FIRST time a user is seen doing a type —
    * the retentionWeeks pattern applied to audience membership. Append
    * mode, rows never retract, and the emitted set is identical under
    * any micro-batch delivery order (order-independent parity). State
    * per user is the seen-type set — bounded by the type ENUM (≤ 64 by
    * the q166 contract), the smallest state of any stateful twin here.
    * [[audienceMatrix]] folds the sightings into the exact batch
    * matrix, so segment overlap is incrementally maintainable at
    * ingest instead of recomputed over the full history. */
  def audienceFirstSightings(events: Dataset[TypedEvent]): Dataset[TypeSeen] = {
    import events.sparkSession.implicits._
    droppingNullKeys(events).filter(col("event_type").isNotNull)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (uid: Long, rows: Iterator[TypedEvent], state: GroupState[AudSeen]) => {
          var s = state.getOption.getOrElse(AudSeen(Set.empty))
          val out = Vector.newBuilder[TypeSeen]
          rows.foreach { e =>
            if (!s.types(e.event_type)) {
              s = AudSeen(s.types + e.event_type)
              out += TypeSeen(uid, e.event_type)
            }
          }
          state.update(s)
          out.result().iterator
        })
  }

  /** Fold [[audienceFirstSightings]] emissions into the q166 matrix —
    * the sightings ARE the distinct (user, type) set, so the batch
    * oracle's own algebra (pair counts from a per-user self-join,
    * singles, total) applies verbatim; output matches q166 column for
    * column. The self-join here runs on user×type sightings (already
    * distinct), one user-keyed shuffle — the q166 bitmask form remains
    * the batch-scan shape; this fold's input is the already-collapsed
    * stream. */
  def audienceMatrix(seen: DataFrame): DataFrame = {
    val singles = seen.groupBy("event_type").agg(count(lit(1)).as("cnt"))
    val nUsers = seen.select("user_id").distinct().agg(count(lit(1)).as("n_users"))
    // in-row pair expansion of each user's sorted type set (the q124
    // shape) — no self-join, so no conflicting-lineage trap on a
    // memory-sink view and one user-keyed shuffle total
    val pairs = seen.groupBy("user_id")
      .agg(sort_array(collect_set(col("event_type"))).as("ts"))
      .select(explode(expr(
        "flatten(transform(ts, (x, i) -> " +
          "transform(slice(ts, i + 2, size(ts)), y -> struct(x AS type_a, y AS type_b))))"))
        .as("p"))
      .select(col("p.type_a").as("type_a"), col("p.type_b").as("type_b"))
      .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(singles.select(col("event_type").as("type_a"),
        col("cnt").as("ua"))), "type_a")
      .join(broadcast(singles.select(col("event_type").as("type_b"),
        col("cnt").as("ub"))), "type_b")
      .crossJoin(broadcast(nUsers))
      .select(col("type_a"), col("type_b"),
        col("ua").as("users_a"), col("ub").as("users_b"), col("n_both").as("users_both"),
        round(col("n_both").cast("double") /
          (col("ua") + col("ub") - col("n_both")).cast("double"), 6).as("jaccard"),
        round(col("n_both").cast("double") * col("n_users") /
          (col("ua").cast("double") * col("ub").cast("double")), 4).as("lift"))
      .orderBy("type_a", "type_b")
  }

  case class DayActive(user_id: Long, day: Long)
  case class DaysSeen(days: Set[Long])

  /** Streaming half of the batch q174 rolling-active-users report:
    * emits one (user, epoch-day) row the FIRST time a user is seen
    * active on a day — the retentionWeeks pattern at the day grain.
    * Append mode, order-independent under any micro-batch delivery
    * (the emitted rows are a SET). Per-user state is the active-day
    * set, bounded by history length in DAYS — the same bound as the
    * batch dedupe's distinct, and orders of magnitude below the event
    * count. [[activeUsersReport]] folds the sightings through the
    * EXACT batch algebra (Temporal.activeUsersFromDayRows), so
    * DAU/WAU/MAU is incrementally maintainable at ingest. */
  def activeDaySightings(events: Dataset[Event]): Dataset[DayActive] = {
    import events.sparkSession.implicits._
    droppingNullKeys(events).groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, rows: Iterator[Event], state: GroupState[DaysSeen]) => {
          var s = state.getOption.getOrElse(DaysSeen(Set.empty))
          val out = Vector.newBuilder[DayActive]
          rows.foreach { e =>
            val d = java.time.LocalDate
              .ofInstant(e.ts.toInstant, java.time.ZoneOffset.UTC).toEpochDay
            if (!s.days(d)) {
              s = DaysSeen(s.days + d)
              out += DayActive(userId, d)
            }
          }
          state.update(s)
          out.result().iterator
        })
  }

  /** Fold [[activeDaySightings]] emissions into the q174 report — the
    * sightings ARE the batch plan's distinct (user, day) frame, so the
    * shared fold renders identical rows (StreamingSpec pins the
    * row-for-row parity). */
  def activeUsersReport(sightings: DataFrame): DataFrame =
    graft.operators.Temporal.activeUsersFromDayRows(
      sightings.select(col("user_id"), col("day").as("d")))

  /** Custom state machine via flatMapGroupsWithState: per-user session
    * counting with a 30-minute gap rule — the streaming twin of the
    * batch q25 window query. State is one small record per active user,
    * evicted after an hour of silence.
    *
    * Ordering parity with q25: rows sort by (full-precision micros,
    * event_id) — the batch twin's exact sort key. A ms-truncated sort
    * with a value tie-break (the previous form) could count sessions
    * differently on sub-millisecond gaps or equal-timestamp events. */
  def sessionCounts(events: Dataset[Event]): Dataset[UserSessions] = {
    import events.sparkSession.implicits._
    droppingNullKeys(events).groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout)(
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(UserSessions(userId, s.sessions, s.events))
          } else {
            val s = advanceSessions(
              state.getOption.getOrElse(SessionState(Long.MinValue, 0L, 0L)), rows)
            state.update(s)
            state.setTimeoutDuration("1 hour")
            Iterator.empty
          }
        })
  }

  /** Per-event admit/suppress decision from the debounce gate. */
  case class DebounceDecision(user_id: Long, event_type: String,
                              event_id: Long, kept: Boolean)
  /** Debounce state: micros of the last event SEEN for the key (q184's
    * gap is measured against the previous event, kept or not). */
  case class LastSeen(us: Long)

  /** Streaming twin of the batch q184 debounce: per (user, type), an
    * event is KEPT iff it is the key's first or arrives > gap after
    * the PREVIOUS event (kept or suppressed — the batch lag semantics).
    * This is the ingest-time gate form: webhook retries and double-
    * clicks are adjudicated as they arrive instead of in a nightly
    * batch pass.
    *
    * State is ONE long per (user, type) — the smallest state record in
    * this module. When the input carries a watermark, a key whose last
    * event sits > gap below it is REMOVED: any future row has
    * ts ≥ watermark, so its gap already exceeds the threshold and the
    * fresh-state decision (kept) is identical — the funnel-trim
    * argument in miniature, making state proportional to the ACTIVE
    * key set, not key history. Parity contract: micro-batches sort on
    * the batch sort key (us, event_id); cross-batch disorder changes
    * gaps (the q59/q73 ordered-arrival contract). Rows below the
    * watermark are dropped (the standard late-data rule — Spark does
    * not pre-filter them for flatMapGroupsWithState). */
  def debounceDecisions(events: Dataset[TypedEvent],
                        gapUs: Long = 21600000000L): Dataset[DebounceDecision] = {
    import events.sparkSession.implicits._
    droppingNullKeys(events.filter(col("event_type").isNotNull))
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: (Long, String), rows: Iterator[TypedEvent],
         state: GroupState[LastSeen]) => {
          // no watermark on the input -> getCurrentWatermarkMs THROWS
          // (the funnel-trim lesson); 0 = unwatermarked, trim inactive
          val wm = (try state.getCurrentWatermarkMs()
            catch { case _: UnsupportedOperationException => 0L }) * 1000L
          var last = state.getOption.map(_.us).getOrElse(Long.MinValue)
          val out = rows.toSeq
            .sortBy(e => (eventMicros(e.ts), e.event_id))
            .filter(e => wm <= 0L || eventMicros(e.ts) >= wm) // late-data rule
            .map { e =>
              val us = eventMicros(e.ts)
              val kept = last == Long.MinValue || us - last > gapUs
              last = us
              DebounceDecision(key._1, key._2, e.event_id, kept)
            }
          if (last != Long.MinValue && wm > 0L && wm - last > gapUs)
            state.remove() // trimmed: any future row is kept regardless
          else if (last != Long.MinValue) state.update(LastSeen(last))
          out.iterator
        })
  }

  /** Fold [[funnelStages]] emissions into the batch q209 Wilson-CI
    * report: per-user best (min) stage times collapse the re-emitting
    * stream to the stage populations, then the SAME closed-form
    * interval arithmetic as the batch query — the live funnel dashboard
    * ships its uncertainty bands for free. */
  def funnelCiReport(stages: DataFrame): DataFrame = {
    val counts = stages
      .groupBy("user_id", "stage").agg(min("us").as("us"))
      .groupBy()
      .agg(sum((col("stage") === 1).cast("long")).as("n1"),
        sum((col("stage") === 2).cast("long")).as("n2"),
        sum((col("stage") === 3).cast("long")).as("n3"))
    val steps = counts.select(expr(
      """stack(2,
        |  1L, 'click_after_view', n1, n2,
        |  2L, 'purchase_after_click', n2, n3
        |) AS (step, step_name, n_denom, n_num)""".stripMargin))
      .filter(col("n_denom") > 0)
    val z = 1.959964
    val n = col("n_denom").cast("double")
    val p = col("n_num").cast("double") / n
    val z2 = lit(z * z)
    val center = (p + z2 / (lit(2.0) * n)) / (lit(1.0) + z2 / n)
    val half = (lit(z) * sqrt(p * (lit(1.0) - p) / n
      + z2 / (lit(4.0) * n * n))) / (lit(1.0) + z2 / n)
    steps.select(col("step"), col("step_name"), col("n_denom"), col("n_num"),
        round(p, 6).as("rate"),
        round(center - half, 6).as("wilson_lo"),
        round(center + half, 6).as("wilson_hi"))
      .orderBy("step")
  }

  /** Fold emitted decisions into the batch q184 report shape. */
  def debounceReport(decisions: DataFrame): DataFrame =
    decisions.groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("kept").cast("long")).as("n_kept"),
        (count(lit(1)) - sum(col("kept").cast("long"))).as("n_dropped"))
      .withColumn("drop_rate",
        round(col("n_dropped").cast("double") / col("n_events"), 6))
      .orderBy("event_type")

  case class ConvState(fv: Long, done: Boolean)
  case class LatencySighting(user_id: Long, day: Long, delta_s: Double)

  /** Streaming twin of the batch q240 daily view→purchase latency —
    * the SLA trend a latency dashboard pages on, measured AT CONVERSION
    * TIME instead of a nightly batch: per user, state is (first-view
    * micros, done) — the funnel/attribution state shape — and the
    * FIRST purchase strictly after the first view emits that user's
    * latency delta keyed to the purchase day. Under event-time-ordered
    * delivery (the gap-twin contract; micro-batch rows fold in the
    * batch sort order) the first arriving view IS min(view us) and the
    * first qualifying purchase IS min(purchase us > fv), so the
    * emitted delta multiset equals the batch q240 deltas exactly and
    * [[dailyLatencyReport]] folds to the batch answer row-for-row via
    * the SHARED `Temporal.dailyLatencyFold`. One emission per
    * converting user, ever (the done flag survives checkpoint
    * restarts); state is two fields per user.
    *
    * STATE BOUND — deliberately UNBOUNDED in the user universe (unlike
    * the daily-total twin's O(types × days)): exact batch parity needs
    * every sighted user held forever — dropping a non-converter loses
    * its eventual late conversion, and dropping a done flag double-
    * emits if the user views again. At ~9 bytes of payload per user
    * this is ~1 GB per 10⁸ users across the whole state store, which a
    * production deployment bounds by business rule, not memory need:
    * an event-time timeout at the attribution horizon (conversions
    * beyond N days are out-of-SLA-window anyway), trading exact parity
    * on >-horizon conversions for O(active users) state. The twin
    * keeps NoTimeout so StreamingSpec's fold-to-batch contract stays
    * exact; the horizon variant is
    * [[conversionLatencySightingsBounded]] — EventTimeTimeout with the
    * horizon enforced in the fold, state physically reaped once the
    * watermark passes it. */
  def conversionLatencySightings(
      events: Dataset[TypedEvent]): Dataset[LatencySighting] = {
    import events.sparkSession.implicits._
    droppingNullKeys(events)
      .filter(col("event_type").isin("view", "purchase"))
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (uid: Long, rows: Iterator[TypedEvent], state: GroupState[ConvState]) => {
          var st = state.getOption
          val out = Vector.newBuilder[LatencySighting]
          rows.toSeq.sortBy(e => (eventMicros(e.ts), e.event_id)).foreach { e =>
            val us = eventMicros(e.ts)
            e.event_type match {
              case "view" if st.isEmpty =>
                st = Some(ConvState(us, done = false))
              case "purchase" if st.exists(s => !s.done && us > s.fv) =>
                // batch parity: strict us > fv (a purchase at the exact
                // view timestamp is not a conversion in either engine);
                // delta rounds exactly like round((fp-fv)/1e6, 6)
                out += LatencySighting(uid, Math.floorDiv(us, 86400000000L),
                  roundHalfUp((us - st.get.fv) / 1000000.0, 6))
                st = st.map(_.copy(done = true))
              case _ =>
            }
          }
          st.foreach(state.update)
          out.result().iterator
        })
  }

  /** Attribution horizon for [[conversionLatencySightingsBounded]] —
    * conversions more than this many days after the first view are
    * out-of-SLA-window by business rule. */
  val ConversionHorizonDays = 7

  /** PRODUCTION variant of [[conversionLatencySightings]] — the
    * EventTimeTimeout horizon bound that twin documents, implemented:
    * per-user state carries an event-time timeout at first-view +
    * `horizonDays`, so once the watermark passes a user's horizon the
    * state is PHYSICALLY removed (StreamingSpec reads the state store
    * back to pin the absence) and the store holds O(users active
    * within one horizon) instead of the user universe — the bound a
    * months-long stream needs.
    *
    * Two deliberate semantics choices keep the output DETERMINISTIC
    * (event-time-defined, independent of watermark/batch races):
    * the horizon is enforced in the FOLD — a purchase qualifies only
    * if `us − fv ≤ horizon`, so a beyond-horizon conversion never
    * emits even while its user's state still awaits GC — and the
    * timeout is purely a state-GC mechanism, never a decision point.
    * Within the horizon the emitted sightings are identical to the
    * unbounded twin's (StreamingSpec: a wide-horizon run folds to the
    * batch q240 answer verbatim). A view arriving after its user's
    * state was reaped starts a FRESH attribution window — the
    * documented trade for bounded state. Requires a watermark on `ts`
    * (the EventTimeTimeout contract). */
  def conversionLatencySightingsBounded(
      events: Dataset[TypedEvent],
      horizonDays: Int = ConversionHorizonDays): Dataset[LatencySighting] = {
    import events.sparkSession.implicits._
    val horizonUs = horizonDays * 86400000000L
    val horizonMs = horizonDays * 86400000L
    droppingNullKeys(events)
      .filter(col("event_type").isin("view", "purchase"))
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (uid: Long, rows: Iterator[TypedEvent], state: GroupState[ConvState]) => {
          if (state.hasTimedOut) {
            // GC only: the fold below never emitted past the horizon,
            // so removal cannot change any reachable answer
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption
            val out = Vector.newBuilder[LatencySighting]
            rows.toSeq.sortBy(e => (eventMicros(e.ts), e.event_id)).foreach { e =>
              val us = eventMicros(e.ts)
              e.event_type match {
                case "view" if st.isEmpty =>
                  st = Some(ConvState(us, done = false))
                case "purchase" if st.exists(s =>
                    !s.done && us > s.fv && us - s.fv <= horizonUs) =>
                  out += LatencySighting(uid, Math.floorDiv(us, 86400000000L),
                    roundHalfUp((us - st.get.fv) / 1000000.0, 6))
                  st = st.map(_.copy(done = true))
                case _ =>
              }
            }
            st.foreach { s =>
              val tOut = Math.floorDiv(s.fv, 1000L) + horizonMs
              if (state.getCurrentWatermarkMs() < tOut) {
                state.update(s)
                state.setTimeoutTimestamp(tOut)
              } else if (state.exists) state.remove()
              // horizon already behind the watermark and never stored:
              // nothing to keep — the user's window is over
            }
            out.result().iterator
          }
        })
  }

  /** Fold emitted latency sightings to the batch q240 answer via the
    * SHARED `Temporal.dailyLatencyFold` — parity by construction. */
  def dailyLatencyReport(sightings: DataFrame): DataFrame =
    graft.operators.Temporal.dailyLatencyFold(sightings.select(
      date_add(lit("1970-01-01").cast("date"), col("day").cast("int"))
        .as("day"),
      col("delta_s")))

  case class LastEvent(us: Long, event_id: Long)
  case class GapSighting(event_type: String, gap: Long)

  /** Streaming twin of the batch q235 burstiness monitor — the live
    * bot/burst detector's input stream: per event type, each arriving
    * event emits its inter-arrival GAP against the previous one (exact
    * integer microseconds). State is two longs per type — the smallest
    * state of any twin here — and under event-time-ordered delivery
    * (the lineDedup/sourceCap arrival contract; micro-batch rows fold
    * in the batch sort order) the emitted gap stream IS the batch gap
    * multiset, so [[burstinessReport]] folds it to q235 row-for-row:
    * the moments are order-independent exact integers, so even the
    * fold's grouping order cannot diverge. */
  def gapSightings(events: Dataset[TypedEvent]): Dataset[GapSighting] = {
    import events.sparkSession.implicits._
    events.filter(e => e.event_type != null && e.ts != null)
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (tpe: String, rows: Iterator[TypedEvent], state: GroupState[LastEvent]) => {
          var last = state.getOption
          val out = Vector.newBuilder[GapSighting]
          rows.toSeq.sortBy(e => (eventMicros(e.ts), e.event_id)).foreach { e =>
            val us = eventMicros(e.ts)
            last.foreach(p => out += GapSighting(tpe, us - p.us))
            last = Some(LastEvent(us, e.event_id))
          }
          last.foreach(state.update)
          out.result().iterator
        })
  }

  case class DayTotalState(y3: Long, seq: Long)
  case class DayTotalSighting(event_type: String, day: Long, y3: Long, seq: Long)

  /** Streaming twin of the batch q239 deseasonalized-anomaly monitor —
    * the monitor a pipeline actually pages on — decomposed the way a
    * live deployment runs it: the stream maintains EXACT per-(type,
    * day) 1e-3-grid daily totals (state = one long + an emission
    * counter per open key — the q80 accumulate-then-score shape with
    * the day as the frame), and the seasonal index + residual z fold
    * runs over the emitted O(types × days) total frame. Each
    * micro-batch re-emits the updated running total with a bumped
    * per-key `seq`, so the LAST emission per (type, day) is the closed
    * total no matter how deliveries interleave — order-INDEPENDENT,
    * stronger than the gap twin's ordered-delivery contract (a sum
    * needs no arrival order; the counter survives checkpoint restarts,
    * and a replayed batch re-emits the identical row).
    * [[deseasonalizedReport]] then folds to batch q239 row-for-row via
    * the SHARED `Temporal.deseasonalizedFold` — parity by
    * construction, down to rounding. */
  def dailyTotalSightings(events: Dataset[TypedEvent]): Dataset[DayTotalSighting] = {
    import events.sparkSession.implicits._
    // column-level filters (pushed BEFORE object deserialization, so a
    // producer-bug null user_id can't kill the decode): the q239 value/
    // type/ts filters plus the standard keyable-rows ingest contract
    droppingNullKeys(events)
      .filter(col("event_type").isNotNull && col("value").isNotNull)
      .groupByKey(e => (e.event_type, Math.floorDiv(eventMicros(e.ts), 86400000000L)))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: (String, Long), rows: Iterator[TypedEvent],
         state: GroupState[DayTotalState]) => {
          var (sum, seq) = state.getOption.map(s => (s.y3, s.seq)).getOrElse((0L, 0L))
          // batch parity: round(value * 1000, 0) per event (HALF_UP on
          // the decimal rendering, Spark's Round semantics), summed as
          // exact longs — order-independent, so micro-batch interleaving
          // cannot diverge from the batch groupBy
          rows.foreach(e => sum += roundHalfUp(e.value.get * 1000, 0).toLong)
          seq += 1
          state.update(DayTotalState(sum, seq))
          Iterator.single(DayTotalSighting(key._1, key._2, sum, seq))
        })
  }

  /** Fold emitted running totals to the batch q239 answer: last
    * emission per (type, day) = the closed daily total, then the
    * SHARED `Temporal.deseasonalizedFold` (identical expression tree
    * and rounding — parity by construction). */
  def deseasonalizedReport(sightings: DataFrame): DataFrame = {
    val closed = sightings.groupBy("event_type", "day")
      .agg(max_by(col("y3"), col("seq")).as("y3"))
      .select(col("event_type"),
        date_add(lit("1970-01-01").cast("date"), col("day").cast("int")).as("d"),
        col("y3"))
    graft.operators.Temporal.deseasonalizedFold(closed.localCheckpoint())
  }

  /** Fold emitted gaps to the batch q235 report shape — the identical
    * exact-decimal moment algebra and guards. */
  def burstinessReport(sightings: DataFrame): DataFrame = {
    def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    sightings.groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"),
        sum(d38(col("gap"))).as("sg"),
        sum(d38(col("gap")) * d38(col("gap"))).as("sgg"))
      .filter(col("n_gaps") >= 2)
      .select(col("event_type"), col("n_gaps"),
        col("n_gaps").cast("double").as("nd"),
        (col("sg").cast("double") / 1000000.0).as("sgd"),
        (col("sgg").cast("double") / 1e12).as("sggd"))
      .withColumn("mean_s", col("sgd") / col("nd"))
      .withColumn("v",
        (col("sggd") - col("sgd") * col("sgd") / col("nd")) / (col("nd") - 1))
      .withColumn("cv",
        when(col("mean_s") > 0 && col("v") >= 0,
          sqrt(col("v")) / col("mean_s")))
      .select(col("event_type"), col("n_gaps"),
        round(col("mean_s"), 4).as("mean_gap_s"),
        round(col("cv"), 4).as("cv"),
        round(when(col("cv").isNotNull,
          (col("cv") - lit(1.0)) / (col("cv") + lit(1.0))), 4).as("burstiness"))
      .orderBy("event_type")
  }
}
