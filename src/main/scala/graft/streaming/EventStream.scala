package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming shapes for the `events` stream: the same
  * aggregations EventQueries runs in batch, expressed incrementally.
  *
  * - `hourlyCounts`: watermarked event-time tumbling windows — state
  *   store bounded by the watermark, late rows beyond it dropped.
  * - `sessionize`: custom gap-based session state via
  *   flatMapGroupsWithState (the stateful-operator surface) with
  *   processing-time timeout as the state-GC path.
  *
  * Input contract: a streaming DataFrame with (event_id long, ts long
  * nanoseconds, user_id long, event_type string, value double) — i.e.
  * `spark.readStream` over the events schema, or a MemoryStream in
  * tests.
  */
object EventStream {

  /** Event-time tumbling 1h counts per event_type with a 30min
    * watermark. Output mode append (closed windows only).
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withColumn("ets", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ets", "30 minutes")
      .groupBy(window(col("ets"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        approx_count_distinct(col("user_id")).as("approx_users"))
      .select(unix_timestamp(col("window.start")).as("w_start"),
        col("event_type"), col("n_events"), col("approx_users"))

  /** Streaming twin of the batch e21 recency-decayed engagement
    * score: because the decay anchors to a FIXED as-of timestamp, an
    * event's contribution `floor(value·1000) >> (age_days/2)` is a
    * pure per-row function — the "decay" never needs re-aging of
    * accumulated state, so the running score is an ordinary keyed
    * streaming SUM in Update mode (per-user state is three longs; no
    * timers, no state rewrites on watermark progress). Same integer
    * arithmetic as the batch query, so per-user totals converge to
    * e21's exactly once the feed drains.
    */
  def decayEngagement(events: DataFrame,
      anchorUs: Long = 1706745600000000L): DataFrame =
    events
      .select(col("user_id"),
        expr("CAST(floor(value * 1000) AS BIGINT)").as("vq"),
        (lit(anchorUs) - expr("ts div 1000")).as("age_us"))
      // A live stream can cross a fixed past anchor; a negative
      // age_days would reach shiftright, whose shift count is masked
      // (n & 63) — shift by -2 silently behaves as shift by 62. Clamp:
      // post-anchor events count undecayed (weight 1), matching the
      // batch e21 clamp.
      .withColumn("age_days", greatest(expr("age_us div 86400000000"), lit(0L)))
      .groupBy("user_id")
      .agg(sum(expr("shiftright(vq, CAST(age_days div 2 AS INT))"))
          .cast("long").as("decay_q"),
        count(lit(1)).as("n_events"),
        min(col("age_days")).cast("long").as("last_age_days"))

  /** NATIVE session-window streaming aggregate — the built-in twin of
    * [[sessionize]]'s hand-rolled flatMapGroupsWithState (and of the
    * e9 batch query, which runs the same `session_window` operator on
    * a static frame). Spark merges overlapping [t, t+gap) spans into
    * sessions inside its streaming state store, keyed by
    * (user, session); the 30 min watermark closes a session once no
    * mergeable event can still arrive, so Append mode emits each
    * session exactly once and state is GC'd by watermark progress —
    * the same bounded-state contract as the manual operator, with the
    * merge logic owned by the engine instead of user code.
    */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withColumn("ets", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ets", "30 minutes")
      .groupBy(col("user_id"), session_window(col("ets"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_timestamp(col("sw.start")).as("s_start"), col("n_events"))

  /** Exactly-once ingestion dedup: drop event_id duplicates arriving
    * within the watermark horizon. `dropDuplicatesWithinWatermark`
    * keys state by event_id only and GCs each key once the watermark
    * passes its first-seen event time — bounded state, the shape that
    * survives at-least-once upstream delivery at 100 TB (a plain
    * `dropDuplicates(event_id)` would grow state forever).
    */
  def dedupedEvents(events: DataFrame): DataFrame =
    events
      .withColumn("ets", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ets", "30 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join: each impression matched with the
    * same user's clicks that land within `windowMinutes` after it.
    * Both sides are watermarked and the join condition bounds
    * click-time relative to impression-time, so each side's buffered
    * state is evicted once the watermark clears the interval — the
    * ONLY stream-stream join shape whose state is bounded (an
    * unconstrained equi-join would buffer both streams forever).
    */
  def impressionClickJoin(impressions: DataFrame, clicks: DataFrame,
      windowMinutes: Int = 30): DataFrame = {
    val imp = impressions
      .withColumn("imp_ets", timestamp_micros(expr("ts div 1000")))
      .withWatermark("imp_ets", "1 hour")
      .select(col("event_id").as("imp_id"), col("user_id"), col("imp_ets"))
    val clk = clicks
      .withColumn("clk_ets", timestamp_micros(expr("ts div 1000")))
      .withWatermark("clk_ets", "1 hour")
      .select(col("event_id").as("clk_id"), col("user_id").as("clk_user"),
        col("clk_ets"))
    imp.join(clk,
      expr(s"""user_id = clk_user AND
               clk_ets >= imp_ets AND
               clk_ets <= imp_ets + interval $windowMinutes minutes"""))
      .select(col("imp_id"), col("clk_id"), col("user_id"),
        unix_timestamp(col("imp_ets")).as("imp_s"),
        unix_timestamp(col("clk_ets")).as("clk_s"))
  }

  /** LEFT-OUTER variant of [[impressionClickJoin]]: the attribution
    * report that also emits UNCONVERTED impressions (clk_id NULL) —
    * the half of the funnel an inner join silently drops. Same bounded
    * interval condition; the engine can only declare an impression
    * unmatched once the watermark proves no qualifying click can still
    * arrive, so null rows surface with watermark delay (exactly-once,
    * no retraction), and state stays interval-bounded like the inner
    * form. `converted` is the scan-side flag downstream CTR aggregates
    * consume.
    */
  def impressionClickAttribution(impressions: DataFrame, clicks: DataFrame,
      windowMinutes: Int = 30): DataFrame = {
    val imp = impressions
      .withColumn("imp_ets", timestamp_micros(expr("ts div 1000")))
      .withWatermark("imp_ets", "1 hour")
      .select(col("event_id").as("imp_id"), col("user_id"), col("imp_ets"))
    val clk = clicks
      .withColumn("clk_ets", timestamp_micros(expr("ts div 1000")))
      .withWatermark("clk_ets", "1 hour")
      .select(col("event_id").as("clk_id"), col("user_id").as("clk_user"),
        col("clk_ets"))
    imp.join(clk,
      expr(s"""user_id = clk_user AND
               clk_ets >= imp_ets AND
               clk_ets <= imp_ets + interval $windowMinutes minutes"""),
      "left_outer")
      .select(col("imp_id"), col("user_id"), col("clk_id"),
        col("clk_id").isNotNull.as("converted"),
        unix_timestamp(col("imp_ets")).as("imp_s"))
  }

  case class AsofIn(user_id: Long, ts: Long, side: Int, // 0 = rate, 1 = probe
      id: Long, value: Double)
  case class AsofState(rateTs: Long, rateId: Long, rateValue: Double)
  case class AsofOut(user_id: Long, probe_id: Long, rate_id: Long,
      rate_value: Double, gap_ns: Long)

  /** Streaming AS-OF enrichment: probe events pair with the LATEST
    * rate event of the same key at-or-before their timestamp — the
    * streaming half of e6/e14's batch as-of join, via custom
    * flatMapGroupsWithState rather than a (bounded-interval)
    * stream-stream join, because as-of wants "the most recent, however
    * old", which no interval join can express with bounded state.
    *
    * State per key is O(1): only the latest rate seen so far — the
    * same invariant the batch merge exec carries per partition. Both
    * input streams union into one keyed stream (side 0 = rate, side
    * 1 = probe); within a micro-batch rows fold in (ts, side) order so
    * a rate at timestamp T serves probes at T (inclusive match,
    * DuckDB ASOF semantics). Probes older than the held rate are
    * answered by it — late RATES, however, can rewrite history, so
    * upstream must deliver rates in order per key (the usual CDC
    * contract); the parity spec covers the in-order case.
    */
  def asofEnrich(rates: Dataset[AsofIn], probes: Dataset[AsofIn])
      : Dataset[AsofOut] = {
    import rates.sparkSession.implicits._
    rates.union(probes)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[AsofIn], state: GroupState[AsofState]) =>
          val sorted = rows.toSeq.sortBy(r => (r.ts, r.side, r.id))
          var cur = state.getOption
          val out = Seq.newBuilder[AsofOut]
          sorted.foreach { r =>
            if (r.side == 0) {
              if (cur.forall(_.rateTs <= r.ts))
                cur = Some(AsofState(r.ts, r.id, r.value))
            } else {
              cur match {
                case Some(s) if s.rateTs <= r.ts =>
                  out += AsofOut(userId, r.id, s.rateId, s.rateValue,
                    r.ts - s.rateTs)
                case _ =>
                  out += AsofOut(userId, r.id, -1L, Double.NaN, -1L)
              }
            }
          }
          cur.foreach(state.update)
          out.result().iterator
      }
  }

  case class Ev(event_id: Long, ts: Long, user_id: Long)
  case class EvT(event_id: Long, ts: Long, user_id: Long,
      ets: java.sql.Timestamp)
  case class SessionState(startTs: Long, lastTs: Long, n: Long)
  case class SessionOut(user_id: Long, start_ts: Long, n_events: Long,
      duration_s: Long, closed: Boolean)

  /** Gap-based sessionization (default 30min inactivity closes a
    * session). A session closes either inline (a later event of the
    * same user past the gap) or via EVENT-TIME timeout once the
    * watermark passes the gap — so per-user state is O(1) and GC'd by
    * watermark progress, the 100 TB-safe stateful shape. (Processing-
    * time timeouts would keep scheduling batches and never drain.)
    */
  def sessionize(events: Dataset[Ev], gapNs: Long = 1800L * 1000 * 1000 * 1000)
      : Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = gapNs / 1000000L
    events
      .withColumn("ets", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ets", "30 minutes")
      .as[EvT]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, evs: Iterator[EvT], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(userId, s.startTs, s.n,
              (s.lastTs - s.startTs) / 1000000000L, closed = true))
          } else {
            val sorted = evs.toSeq.sortBy(e => (e.ts, e.event_id))
            var cur = state.getOption
            val closed = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              cur match {
                case Some(s) if e.ts - s.lastTs <= gapNs =>
                  cur = Some(s.copy(lastTs = e.ts, n = s.n + 1))
                case Some(s) =>
                  closed += SessionOut(userId, s.startTs, s.n,
                    (s.lastTs - s.startTs) / 1000000000L, closed = true)
                  cur = Some(SessionState(e.ts, e.ts, 1))
                case None =>
                  cur = Some(SessionState(e.ts, e.ts, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastTs / 1000000L + gapMs)
            }
            closed.result().iterator
          }
      }
  }

  /** Incremental warehouse maintenance: stream the hourly aggregate
    * into a date/hour-partitioned parquet table via foreachBatch.
    * Update-mode emissions rewrite ONLY the partitions a micro-batch
    * touched (dynamic partition overwrite) — idempotent on micro-batch
    * retry (same rows → same partition contents), and the table stays
    * a plain parquet directory any batch reader can scan. This is the
    * scalable continuous-aggregation sink shape: state is bounded by
    * the watermark, each commit's I/O is bounded by the touched hours,
    * and no monolithic table rewrite ever happens (Complete mode would
    * rewrite everything each batch).
    */
  def hourlyCountsToWarehouse(events: DataFrame, path: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    hourlyCounts(events)
      .writeStream
      .outputMode("update")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.write
          .mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("w_start")
          .parquet(path)
      }

  case class Rec(user_id: Long, event_type: String, event_id: Long,
      ts: Long, value: Double)

  /** Streaming latest-version-per-key: the incremental form of the e8
    * batch compaction. State per (user_id, event_type) is exactly one
    * record (the current winner by (ts, event_id)); each micro-batch
    * emits the key's new latest in Update mode. Keyed O(1) state makes
    * this safe for bounded key domains (users × types); an unbounded
    * key domain would add an event-time timeout as the TTL/GC path,
    * like [[sessionize]].
    */
  def latestPerKey(events: Dataset[Rec]): Dataset[Rec] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(r => (r.user_id, r.event_type))
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (_: (Long, String), rows: Iterator[Rec], state: GroupState[Rec]) =>
          val best = (state.getOption ++ rows)
            .maxBy(r => (r.ts, r.event_id))
          state.update(best)
          best
      }
  }

  case class FunnelEv(user_id: Long, event_type: String, tus: Long,
      event_id: Long)
  case class FunnelState(lastView: Long, prevView: Long,
      lastQc: Long, lastQcView: Long, prevQc: Long, prevQcView: Long)
  case class FunnelOut(user_id: Long, event_id: Long, purchase_tus: Long,
      click_tus: Long, view_tus: Long)

  /** Streaming CEP twin of e26's gap-bounded strict-sequence funnel:
    * detect view → click → purchase per user with each gap ≤ `wUs`
    * and emit one append row per COMPLETING purchase, carrying the
    * witness chain. State is O(1) per user — a TWO-DEEP frontier per
    * stage: the latest view plus the latest view at a STRICTLY earlier
    * tus, and likewise for qualifying clicks (each with its witness
    * view). One-deep is not enough: the sequence is strict (`<` on
    * tus), so a successor arriving at the SAME tus as the frontier
    * must fall back to the strictly-earlier witness — e.g. view@50,
    * view@100, click@100 qualifies via view@50, which a latest-only
    * state would have overwritten before the strict check ran (the
    * events fixture does contain same-(user, tus) duplicates). With
    * equal-tus ties the two-deep frontier is exact: the strictly-
    * earlier slot only ever needs the single latest earlier-tus entry,
    * because "some predecessor strictly before t and within the
    * window" ⟺ "the LATEST strictly-earlier predecessor is within the
    * window". Same in-order-feed caveat as [[anomalies]]
    * (micro-batches sort internally; cross-batch order is the feed's
    * contract); parity vs the batch e26 window form is spec-pinned on
    * an ordered feed, including a chain whose steps SPAN batches and
    * same-tus collisions at every stage.
    */
  def funnelDetect(events: Dataset[FunnelEv],
      wUs: Long = 259200000000L): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[FunnelEv], state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(
            FunnelState(-1L, -1L, -1L, -1L, -1L, -1L))
          val out = scala.collection.mutable.ArrayBuffer[FunnelOut]()
          rows.toSeq.sortBy(r => (r.tus, r.event_id)).foreach { r =>
            r.event_type match {
              case "view" =>
                if (r.tus > st.lastView)
                  st = st.copy(lastView = r.tus, prevView = st.lastView)
                // r.tus == lastView: frontier unchanged (same tus)
              case "click" =>
                // witness = latest view strictly before this click
                val w = if (st.lastView >= 0 && st.lastView < r.tus)
                  st.lastView else st.prevView
                if (w >= 0 && w >= r.tus - wUs) {
                  if (r.tus > st.lastQc)
                    st = st.copy(lastQc = r.tus, lastQcView = w,
                      prevQc = st.lastQc, prevQcView = st.lastQcView)
                  else if (r.tus == st.lastQc)
                    // equal tus: refresh the frontier witness only
                    st = st.copy(lastQcView = w)
                }
              case "purchase" =>
                val (qc, qcv) =
                  if (st.lastQc >= 0 && st.lastQc < r.tus)
                    (st.lastQc, st.lastQcView)
                  else (st.prevQc, st.prevQcView)
                if (qc >= 0 && qc >= r.tus - wUs)
                  out += FunnelOut(user, r.event_id, r.tus, qc, qcv)
              case _ => ()
            }
          }
          state.update(st)
          out.iterator
      }
  }

  case class SketchIn(event_type: String, h: Long)
  case class SketchOut(event_type: String, n_distinct_le_k: Boolean,
      est: Double, sig: Seq[Long])

  /** Streaming distinct-user sketch per event_type — q46's
    * leaf-signature maintenance as keyed state. The KMV bottom-k hash
    * set is a semilattice (commutative + associative + IDEMPOTENT), so
    * micro-batch boundaries, arrival order, and replayed duplicates
    * cannot change the state: after any prefix of the stream the
    * signature is BIT-IDENTICAL to the batch
    * `KmvSketch.signature` over the same rows (parity-tested). State
    * is O(k) longs per key unconditionally — the streaming analogue of
    * materializing q46's leaf sketches, with coarser rollups derivable
    * downstream from the emitted signatures alone (mergeSignatures).
    * Hashing happens in the untyped projection (`xxhash64`, codegen)
    * so the stream and batch hash the same bytes the same way.
    */
  def distinctSketch(events: DataFrame, k: Int = 64): Dataset[SketchOut] = {
    import events.sparkSession.implicits._
    val agg = new graft.functions.KmvSketch.Kmv(k)
    events
      .select(col("event_type"), xxhash64(col("user_id")).as("h"))
      .as[SketchIn]
      .groupByKey(_.event_type)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (tpe: String, rows: Iterator[SketchIn],
            state: GroupState[graft.functions.KmvSketch.KmvBuf]) =>
          val st0 = state.getOption.getOrElse(agg.zero)
          val st = rows.foldLeft(st0)((b, r) => agg.reduce(b, r.h)).compacted
          state.update(st)
          SketchOut(tpe, st.hashes.size < k, agg.finish(st), st.hashes)
      }
  }

  case class BarState(openTs: Long, openId: Long, open: Double,
      high: Double, low: Double, closeTs: Long, closeId: Long,
      close: Double, n: Long, sumQ: Long)
  case class BarOut(event_type: String, hour: Long, n_events: Long,
      open: Double, high: Double, low: Double, close: Double, sum_q: Long)

  /** Streaming OHLC bars — the incremental form of the e16 batch
    * resample. Streaming window AGGREGATES cannot express open/close
    * (order-sensitive "first/last value" aren't associative over
    * arbitrary merge order), but the bar as keyed STATE is a true
    * commutative monoid: open/close are argmin/argmax under the TOTAL
    * (ts, event_id) order, high/low are plain min/max, and the count
    * and quantized sum are additive — so micro-batch arrival order
    * cannot change the result, and per-(type, hour) state is O(1).
    * Update mode re-emits a bar whenever it absorbs events; the last
    * emission per key equals the batch bar (parity-tested). Bounded
    * key domain (types × hours grows one per hour) keeps NoTimeout
    * safe here; an unbounded domain would add the event-time-timeout
    * GC path exactly as [[sessionize]] does.
    */
  def ohlcBars(events: Dataset[Rec]): Dataset[BarOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(r => (r.event_type, (r.ts / 1000L) / 3600000000L))
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: (String, Long), rows: Iterator[Rec],
            state: GroupState[BarState]) =>
          var s = state.getOption.orNull
          rows.foreach { r =>
            val q = math.floor(r.value * 1000000.0).toLong
            s =
              if (s == null)
                BarState(r.ts, r.event_id, r.value, r.value, r.value,
                  r.ts, r.event_id, r.value, 1L, q)
              else {
                val first = r.ts < s.openTs ||
                  (r.ts == s.openTs && r.event_id < s.openId)
                val last = r.ts > s.closeTs ||
                  (r.ts == s.closeTs && r.event_id > s.closeId)
                BarState(
                  if (first) r.ts else s.openTs,
                  if (first) r.event_id else s.openId,
                  if (first) r.value else s.open,
                  math.max(s.high, r.value), math.min(s.low, r.value),
                  if (last) r.ts else s.closeTs,
                  if (last) r.event_id else s.closeId,
                  if (last) r.value else s.close,
                  s.n + 1, s.sumQ + q)
              }
          }
          state.update(s)
          BarOut(key._1, key._2, s.n, s.open, s.high, s.low, s.close,
            s.sumQ)
      }
  }

  case class ZState(buf: Seq[Long])
  case class ZOut(event_id: Long, event_type: String, v: Long,
      win_n: Long, dev2: Long, thr2: Long)

  /** Streaming twin of e18's rolling z-score anomaly gate: per
    * event_type the state is the trailing `window` cents-quantized
    * values, and each arriving event is judged with the SAME
    * integer-exact test — (n·v − S)² > 9·(n·S2 − S²) over the ≤
    * `minN`-gated buffer — before being appended. O(window) state
    * per key, anomalies emitted as they happen (Append mode).
    *
    * Ordering contract, stated honestly: the batch query's frame is
    * the total (ts, event_id) order; the stream judges each event
    * against the trailing window AS OF ARRIVAL (in-batch rows are
    * sorted by (ts, id) for determinism, but a straggler arriving a
    * micro-batch late is judged against a newer window — the
    * standard streaming approximation). For in-order feeds the two
    * are IDENTICAL under any micro-batch split, which is what the
    * StreamingSpec parity case pins.
    */
  def anomalies(events: Dataset[Rec], window: Int = 50,
      minN: Int = 20): Dataset[ZOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[Rec], state: GroupState[ZState]) =>
          var buf = state.getOption.map(_.buf.toVector)
            .getOrElse(Vector.empty[Long])
          val out = scala.collection.mutable.ArrayBuffer[ZOut]()
          rows.toSeq.sortBy(r => (r.ts, r.event_id)).foreach { r =>
            val v = math.floor(r.value * 100.0).toLong
            val n = buf.length.toLong
            if (n >= minN) {
              val s = buf.sum
              val s2 = buf.map(x => x * x).sum
              val dev2 = (n * v - s) * (n * v - s)
              val thr2 = 9L * (n * s2 - s * s)
              if (dev2 > thr2)
                out += ZOut(r.event_id, key, v, n, dev2, thr2)
            }
            buf = (buf :+ v).takeRight(window)
          }
          state.update(ZState(buf))
          out.iterator
      }
  }

  case class PctlOut(event_type: String, n: Long, p50_cents: Long,
      p90_cents: Long)

  /** Streaming twin of q50's sketch percentiles: per event type the
    * state IS the MRL quantile-sketch ladder (QuantileSketch.QBuf —
    * O(k·log(n/k)) longs per key, bounded forever, no watermark GC
    * needed), each micro-batch folds its cents through the same
    * reduce the batch aggregator runs and emits the type's running
    * (n, p50, p90). The conservation law survives streaming: emitted
    * `n` equals the exact row count seen so far, so a dropped or
    * replayed batch is visible in the output, not just wrong
    * percentiles. Same in-batch fold order contract as [[anomalies]]
    * ((ts, event_id)); the parity spec pins stream ≡ the identically-
    * ordered batch fold across a micro-batch split, plus the ε rank
    * window vs exact sorted data.
    */
  def runningPercentiles(events: Dataset[Rec],
      k: Int = 256): Dataset[PctlOut] = {
    import events.sparkSession.implicits._
    val agg = new graft.functions.QuantileSketch.QSketch(k)
    events.groupByKey(_.event_type)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (t: String, rows: Iterator[Rec],
         state: GroupState[graft.functions.QuantileSketch.QBuf]) =>
          val buf = rows.toSeq.sortBy(r => (r.ts, r.event_id))
            .foldLeft(state.getOption.getOrElse(agg.zero)) { (b, r) =>
              agg.reduce(b, math.floor(r.value * 100.0).toLong)
            }
          state.update(buf)
          PctlOut(t, graft.functions.QuantileSketch.totalWeightOf(buf),
            graft.functions.QuantileSketch.quantileOf(buf, 0.5),
            graft.functions.QuantileSketch.quantileOf(buf, 0.9))
      }
  }

  case class MedState(buf: Seq[Double])
  case class MedOut(event_id: Long, user_id: Long, roll_med: Double)

  /** Streaming twin of e29's trailing discrete median: per user the
    * state is the last ≤`frame` raw values; each arriving event emits
    * the median of the frame ENDING at it — sorted-copy pick at index
    * (n+1) div 2, the same quantile_disc element the batch window
    * selects, bit-identical doubles. O(frame) state per key, O(frame
    * log frame) per event; Append mode (one output row per event, as
    * they happen — the robust-baseline feed an alerting consumer
    * tails). Same ordering contract as [[anomalies]]: in-batch rows
    * fold in (ts, event_id) order, so an in-order feed is exactly the
    * batch frame under any micro-batch split (spec-pinned); a
    * straggler is judged against its arrival-time frame.
    */
  def rollingMedian(events: Dataset[Rec], frame: Int = 5): Dataset[MedOut] = {
    require(frame >= 1, "rollingMedian needs frame >= 1")
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[Rec], state: GroupState[MedState]) =>
          var buf = state.getOption.map(_.buf.toVector)
            .getOrElse(Vector.empty[Double])
          val out = scala.collection.mutable.ArrayBuffer[MedOut]()
          rows.toSeq.sortBy(r => (r.ts, r.event_id)).foreach { r =>
            buf = (buf :+ r.value).takeRight(frame)
            val sorted = buf.sorted
            out += MedOut(r.event_id, key, sorted((sorted.length + 1) / 2 - 1))
          }
          state.update(MedState(buf))
          out.iterator
      }
  }

  /** Streaming MERGE INTO — the incremental form of q43's upsert:
    * maintain a keyed per-user summary dim (user_id, n_events,
    * total_cents) in plain parquet by folding each micro-batch's
    * delta aggregate into the current version with the same
    * full-outer/coalesce merge shape (update-matched, insert-new).
    *
    * Versioned MVCC-style commits instead of in-place mutation: each
    * batch publishes the merged dim as a full-snapshot
    * [[graft.sources.ManifestTable.commit]] derived from the latest
    * version, with the batch id as the commit's txn. A reader always
    * scans a complete immutable version, history is auditable (time
    * travel / compaction / vacuum are the table's own), and a
    * REPLAYED micro-batch finds its txn already in a committed
    * manifest and writes nothing — the [[appendEventFeed]] dedup, on
    * the one commit path and crash story of the manifest table. Scale
    * shape: the delta is batch-bounded, the dim is key-bounded, and
    * the merge is one key-hash full-outer join — bucket the dim by
    * user_id at warehouse scale and it is exchange-free on the base
    * side.
    */
  def upsertUserSummary(events: DataFrame, path: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        import graft.sources.ManifestTable
        val spark = batch.sparkSession
        val delta = batch.groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            sum(expr("CAST(floor(value * 100) AS BIGINT)")).as("total_cents"))
        val merged =
          if (ManifestTable.committedVersions(spark, path).isEmpty) delta
          else ManifestTable.latest(spark, path)
            .join(delta.select(col("user_id").as("d_uid"),
              col("n_events").as("d_n"), col("total_cents").as("d_c")),
              col("d_uid") === col("user_id"), "full_outer")
            .select(
              coalesce(col("user_id"), col("d_uid")).as("user_id"),
              (coalesce(col("n_events"), lit(0L))
                + coalesce(col("d_n"), lit(0L))).as("n_events"),
              (coalesce(col("total_cents"), lit(0L))
                + coalesce(col("d_c"), lit(0L))).as("total_cents"))
        // lazy until committed: a replayed batch id stops at the txn
        // check inside commit, before any row is computed or written
        ManifestTable.commit(merged, path, txnId = Some(batchId))
        ()
      }

  /** The latest committed version of [[upsertUserSummary]]'s dim. */
  def latestUserSummary(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    graft.sources.ManifestTable.latest(spark, path)

  /** Exactly-once APPEND sink into the shared-file manifest table —
    * the fact-scale complement to [[upsertUserSummary]]'s dim-sized
    * full-snapshot merge: each micro-batch lands as an O(delta)
    * [[graft.sources.ManifestTable.commitAppendOnce]] keyed by the
    * batch id, so a replayed batch (sink retry after a crash between
    * the data commit and the checkpoint advance — the standard
    * at-least-once window foreachBatch leaves open) finds its txn
    * already in a committed manifest and appends NOTHING. The dedup
    * record rides the manifest's own atomic rename; there is no
    * second marker file to race. Spec drives the same batch through
    * the sink twice and asserts row counts, version count, and the
    * no-op's orphan staying invisible to readers.
    */
  def appendEventFeed(events: DataFrame, path: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.sources.ManifestTable.commitAppendOnce(
          batch.toDF(), path, txnId = batchId)
        ()
      }

  case class CdcIn(bucket: Long, d_n: Long, d_events: Long, d_cents: Long)
  case class RollupOut(bucket: Long, n_users: Long, sum_events: Long,
      sum_cents: Long, tombstone: Boolean)

  /** Streaming twin of [[graft.sources.ManifestTable.incrementalAgg]]:
    * a CDC feed of user_summary rows (columns user_id, n_events,
    * total_cents, _change_type) maintains the bucket rollup as keyed
    * state, emitting the updated row for every bucket a micro-batch
    * touches. The signed-delta algebra is identical to the batch form
    * (+1 insert/post, −1 delete/pre), and because signed sums are
    * commutative + associative the state after any prefix of the feed
    * is independent of how the rows were split into micro-batches —
    * the c8 parity contract. Bootstrap = replay the initial snapshot
    * as `insert` rows (the standard CDC consumer pattern); a bucket
    * whose maintained count reaches zero clears its state and emits a
    * tombstone so a downstream sink can delete the row. State is
    * O(buckets) × 3 longs, unconditionally.
    */
  def cdcRollup(feed: DataFrame, buckets: Long = 16L): Dataset[RollupOut] = {
    import feed.sparkSession.implicits._
    val sign = when(
      col("_change_type").isin("insert", "update_postimage"), lit(1L))
      .when(col("_change_type").isin("delete", "update_preimage"), lit(-1L))
      .otherwise(raise_error(concat(
        lit("cdcRollup: unknown _change_type "),
        col("_change_type"))).cast("long"))
    feed
      .select(pmod(col("user_id"), lit(buckets)).as("bucket"),
        sign.as("d_n"),
        (sign * col("n_events")).as("d_events"),
        (sign * col("total_cents")).as("d_cents"))
      .as[CdcIn]
      .groupByKey(_.bucket)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (bucket: Long, rows: Iterator[CdcIn],
            state: GroupState[(Long, Long, Long)]) =>
          var (n, se, sc) = state.getOption.getOrElse((0L, 0L, 0L))
          rows.foreach { r =>
            n += r.d_n; se += r.d_events; sc += r.d_cents
          }
          if (n == 0L) {
            state.remove()
            RollupOut(bucket, 0L, 0L, 0L, tombstone = true)
          } else {
            state.update((n, se, sc))
            RollupOut(bucket, n, se, sc, tombstone = false)
          }
      }
  }
}
