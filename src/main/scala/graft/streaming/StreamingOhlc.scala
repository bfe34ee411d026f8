package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming lift of the batch operators (SURVEY.md §2.9: the
  * reference is batch-only — monthly re-runs stand in for late data — so
  * streaming is an engine extension, not parity; the 1-minute OHLC
  * aggregation is the natural streaming surface).
  *
  * Scale shape: windowed streaming aggregation is a stateful shuffle on
  * (keys, window); the watermark bounds state size, and late rows beyond it
  * are dropped rather than re-run (the reference's re-generation model,
  * inverted). Sessionization keeps one small state record per active key in
  * the state store.
  */
object StreamingOhlc {

  /** Streaming 1-minute OHLC bars over a point stream (ts, value, keys).
    * Append-mode compatible: bars emit once their window is older than the
    * watermark.
    *
    * @param tiebreak column breaking equal-timestamp ties for open/close —
    *                 pass the batch twin's tiebreak (e.g. event_id) to make
    *                 streaming bars reconcile with `Ohlc.bars` exactly.
    *                 Default: the value column itself, so equal-timestamp
    *                 ties are still DETERMINISTIC (min_by/max_by on the
    *                 bare timestamp picked an arbitrary winner per run).
    */
  def bars1m(
      stream: DataFrame,
      keys: Seq[String],
      time: String,
      value: String,
      watermark: String = "2 minutes",
      tiebreak: Option[String] = None
  ): DataFrame = {
    val ord = struct(col(time), col(tiebreak.getOrElse(value)))
    stream
      .withWatermark(time, watermark)
      .groupBy((keys.map(col) :+ window(col(time), "1 minute").as("w")): _*)
      .agg(
        min_by(col(value), ord).as("open"),
        max(col(value)).as("high"),
        min(col(value)).as("low"),
        max_by(col(value), ord).as("close"),
        count(lit(1)).as("tick_count"))
      .withColumn("bar_ts", col("w.start"))
      .drop("w")
  }

  /** Event for gap-based sessionization. */
  final case class Point(key: Long, tsMicros: Long, value: Double)

  /** Emitted closed session. */
  final case class Session(
      key: Long,
      startMicros: Long,
      endMicros: Long,
      nEvents: Long)

  // NOT private: the streaming state store's encoder codegen (janino)
  // needs public accessor resolution on the state class — batch-mode
  // flatMapGroupsWithState never exercised that path, so the restriction
  // only surfaced once a MemoryStream test carried state across batches
  final case class SessState(startMicros: Long, lastMicros: Long, n: Long)

  /** Gap-based sessionization with custom state
    * (`flatMapGroupsWithState`): a key's current session CLOSES — and
    * emits — when a later event for that key arrives more than
    * `gapMicros` after the session's last event. No state timeout is
    * registered (`Point.tsMicros` is a raw long, and event-time timeouts
    * require a watermarked timestamp column), so a key that simply goes
    * silent keeps its final session open in the state store until the
    * stream ends; the batch twin (`q_sessionize`) closes those tails in
    * reconciliation. The trade is explicit: closure-by-successor keeps
    * this exactly deterministic, where timeout-based closure would tie
    * emission to watermark progress.
    */
  def sessionize(
      points: Dataset[Point],
      gapMicros: Long
  ): Dataset[Session] = {
    import points.sparkSession.implicits._
    points
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: Long, rows: Iterator[Point], state: GroupState[SessState]) => {
          val sorted = rows.toSeq.sortBy(_.tsMicros)
          var cur = state.getOption
          val closed = Seq.newBuilder[Session]
          sorted.foreach { p =>
            cur match {
              // in-session, possibly LATE (cross-batch arrival order is
              // not event order): the bounds ABSORB the point — min/max,
              // never assignment, so a late event can neither regress
              // lastMicros (which would corrupt the gap test for the
              // next on-time point) nor sit outside [start, end]
              case Some(s) if p.tsMicros >= s.startMicros - gapMicros &&
                  p.tsMicros - s.lastMicros <= gapMicros =>
                cur = Some(SessState(
                  math.min(s.startMicros, p.tsMicros),
                  math.max(s.lastMicros, p.tsMicros), s.n + 1))
              // watermark-expired: predates the OPEN session by more than
              // a gap, i.e. belongs to an earlier, already-emitted
              // session this state shape can no longer amend — dropped,
              // exactly Structured Streaming's late-data contract (the
              // batch twin q_sessionize reconciles on re-run)
              case Some(s) if p.tsMicros < s.startMicros - gapMicros =>
                ()
              case Some(s) =>
                closed += Session(key, s.startMicros, s.lastMicros, s.n)
                cur = Some(SessState(p.tsMicros, p.tsMicros, 1))
              case None =>
                cur = Some(SessState(p.tsMicros, p.tsMicros, 1))
            }
          }
          cur.foreach(state.update)
          closed.result().iterator
        })
  }

  /** Streaming dedup: drop rows whose `keys` already appeared within the
    * watermark horizon — the streaming twin of the batch
    * `Dedup.replacingDedupAgg` (the reference's ReplacingMergeTree semantics
    * applied at ingest time instead of merge time). State holds one entry
    * per distinct key seen inside the watermark and is evicted as event
    * time advances, so state size is bounded by the dup horizon, not the
    * stream length.
    */
  def dedupWithinWatermark(
      stream: DataFrame,
      keys: Seq[String],
      time: String,
      watermark: String
  ): DataFrame =
    stream
      .withWatermark(time, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Stream-static enrichment join: each micro-batch hash-joins against the
    * broadcast dimension snapshot — no streaming state at all (the static
    * side is re-broadcast per batch, picking up dimension updates). The
    * streaming form of the calendar/instrument lookup joins (§2.3 J3).
    */
  def enrichStatic(
      stream: DataFrame,
      dim: DataFrame,
      on: Seq[String]
  ): DataFrame =
    stream.join(broadcast(dim), on, "left")

  /** Stream-stream interval join: pair each left event with right events of
    * the same key whose time lies in `[leftTime - lookback, leftTime]` —
    * the streaming form of the batch as-of/minute-bucket joins (§2.3
    * J1/J2), except ALL matches in the window pair up (streaming cannot
    * pick "the latest right per left" in append mode: a later-arriving
    * right row could always beat the current winner, so "latest" is only
    * decidable at watermark expiry — use mapGroupsWithState for true as-of).
    *
    * Both sides carry watermarks and the join condition bounds event-time
    * distance, so each side buffers only `lookback + watermark` of state —
    * the state store stays O(rate × horizon) regardless of stream age.
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTime: String,
      rightTime: String,
      lookback: String = "10 minutes",
      watermark: String = "2 minutes"
  ): DataFrame = {
    val l = left.withWatermark(leftTime, watermark)
    val r = right.withWatermark(rightTime, watermark)
    l.join(r,
      l(key) === r(key) &&
        r(rightTime) <= l(leftTime) &&
        r(rightTime) >= l(leftTime) - expr(s"INTERVAL $lookback"))
      .drop(r(key))
  }
}
