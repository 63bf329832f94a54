package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming analytics over the graft-eth source (SURVEY M4): the
  * subscription surface of the reference (Subscription.java:39-149,
  * LogsService.java:391-486) re-expressed as Structured Streaming programs.
  * A client "subscription" = one streaming query over the shared source
  * table; per-client predicates are plain `filter`s (reference S13,
  * LogSubscription.java:36-49); fan-out (S12) is N independent queries.
  */
object StreamOps {

  /** A `graft-eth` stream of `dataset` (logs or blocks) from `startBlock`
    * to `head`, `maxBlocksPerTrigger` blocks a micro-batch, starting in the
    * past when `startBlock` is (backfill→live, reference trace B — the
    * BACKFILLING state machine is subsumed by offset-contiguous
    * micro-batches). The defaults are the range of Verify's chain dump;
    * `options` go to the source as they are (the node, reorg mode, …).
    */
  def ethStream(
      spark: SparkSession,
      dataset: String,
      maxBlocksPerTrigger: Long,
      startBlock: Long = 0L,
      head: Long = 999L,
      options: Map[String, String] = Map.empty): DataFrame = {
    val base = spark.readStream.format("graft-eth")
      .option("dataset", dataset)
      .option("startBlock", startBlock)
      .option("head", head)
      .option("maxBlocksPerTrigger", maxBlocksPerTrigger)
    options.foldLeft(base) { case (r, (k, v)) => r.option(k, v) }.load()
  }

  /** Per-client predicate (reference S13 semantics, quirks §8.4/§8.5):
    * case-insensitive address membership; topic0-membership where a log
    * with NO topics passes.
    */
  def clientFilter(df: DataFrame, addresses: Seq[String], topics: Seq[String]): DataFrame = {
    val addrOk =
      if (addresses.isEmpty) lit(true)
      else lower(col("address")).isin(addresses.map(_.toLowerCase): _*)
    val topicOk =
      if (topics.isEmpty) lit(true)
      else size(col("topics")) === 0 || element_at(col("topics"), 1).isin(topics: _*)
    df.where(addrOk && topicOk)
  }

  /** Tumbling event-time window with watermark over the logs stream: logs
    * per event-signature per window of `blockTime`-derived event time.
    * At scale this is the canonical partial-agg + state-store pattern; the
    * watermark bounds state size.
    */
  def signatureCountsPerWindow(logs: DataFrame, windowLen: String, watermark: String): DataFrame =
    logs
      .withColumn("event_time", to_timestamp(from_unixtime(col("blockNumber") * 12 + 1700000000L)))
      .withColumn("sig", when(size(col("topics")) > 0, element_at(col("topics"), 1)).otherwise(lit("none")))
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), windowLen), col("sig"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("sig"), col("n"))

  // ---- custom state: per-address activity sessions (mapGroupsWithState) ----

  final case class AddrEvent(address: String, blockNumber: Long)
  final case class AddrSessionState(firstBlock: Long, lastBlock: Long, n: Long)
  final case class AddrSession(address: String, firstBlock: Long, lastBlock: Long, n: Long)

  /** Per-address rolling activity summary via typed state
    * (KeyValueGroupedDataset.mapGroupsWithState — SURVEY §2c custom stateful
    * operator surface): tracks first/last block seen and event count per
    * address. State is per-key and partition-distributed; no global state.
    */
  def addressActivity(logs: DataFrame): Dataset[AddrSession] = {
    val spark = logs.sparkSession
    import spark.implicits._
    logs.select(col("address"), col("blockNumber")).as[AddrEvent]
      .groupByKey(_.address)
      .mapGroupsWithState[AddrSessionState, AddrSession](GroupStateTimeout.NoTimeout) {
        (addr: String, events: Iterator[AddrEvent], state: GroupState[AddrSessionState]) =>
          val prev = state.getOption.getOrElse(AddrSessionState(Long.MaxValue, Long.MinValue, 0L))
          val next = events.foldLeft(prev) { (s, e) =>
            AddrSessionState(math.min(s.firstBlock, e.blockNumber), math.max(s.lastBlock, e.blockNumber), s.n + 1)
          }
          state.update(next)
          AddrSession(addr, next.firstBlock, next.lastBlock, next.n)
      }
  }

  // ---- custom state v2: the same summary via transformWithState ----

  /** [[AddrActivityProcessor]] — [[addressActivity]]'s logic on the Spark 4
    * `transformWithState` API (StatefulProcessor + typed ValueState): the
    * successor surface for arbitrary streaming state — explicit named state
    * primitives (value/list/map) with per-state TTL and timers, instead of
    * one implicit GroupState. Requires the RocksDB state store provider.
    */
  class AddrActivityProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, AddrEvent, AddrSession] {
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig, TimerValues, ValueState}
    @transient private var state: ValueState[AddrSessionState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[AddrSessionState](
        "activity", org.apache.spark.sql.Encoders.product[AddrSessionState], TTLConfig.NONE)
    override def handleInputRows(addr: String, events: Iterator[AddrEvent],
        tv: TimerValues): Iterator[AddrSession] = {
      val prev = if (state.exists()) state.get()
        else AddrSessionState(Long.MaxValue, Long.MinValue, 0L)
      val next = events.foldLeft(prev) { (s, e) =>
        AddrSessionState(math.min(s.firstBlock, e.blockNumber),
          math.max(s.lastBlock, e.blockNumber), s.n + 1)
      }
      state.update(next)
      Iterator.single(AddrSession(addr, next.firstBlock, next.lastBlock, next.n))
    }
  }

  // ---- custom state v3: streaming LOCF (forward fill) ----

  final case class LocfEvent(user_id: Long, event_id: Long, us: Long, v: Option[Double])
  final case class LocfLast(us: Long, event_id: Long, v: Double)
  final case class LocfFilled(event_id: Long, user_id: Long, filled: Option[Double])

  /** Streaming last-observation-carried-forward: every reading (NULLs
    * included) is emitted with the latest non-NULL value at or before it
    * in the per-user (us, event_id) order — c52's `filled` column
    * maintained live via a ValueState carrying ONE row per user (the last
    * real observation). Within a micro-batch the iterator is unordered, so
    * the batch's rows are sorted per key before folding — bounded by the
    * key's rows in ONE batch (trigger sizing bounds it at scale), never by
    * the stream's history. Cross-batch correctness requires deliveries to
    * respect per-user event-time order (the x31 gate stages a time-split
    * feed; out-of-order arrivals would need the r04 batch backfill
    * instead).
    */
  class LocfProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, LocfEvent, LocfFilled] {
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig, TimerValues, ValueState}
    @transient private var last: ValueState[LocfLast] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      last = getHandle.getValueState[LocfLast](
        "last_real", org.apache.spark.sql.Encoders.product[LocfLast], TTLConfig.NONE)
    override def handleInputRows(user: Long, events: Iterator[LocfEvent],
        tv: TimerValues): Iterator[LocfFilled] = {
      var cur: Option[LocfLast] = if (last.exists()) Some(last.get()) else None
      val out = events.toSeq.sortBy(e => (e.us, e.event_id)).map { e =>
        e.v.foreach(v => cur = Some(LocfLast(e.us, e.event_id, v)))
        LocfFilled(e.event_id, user, cur.map(_.v))
      }
      cur.foreach(last.update)
      out.iterator
    }
  }

  // ---- custom state v4: streaming SCD2 interval maintenance ----

  final case class Scd2Event(user_id: Long, event_id: Long, us: Long, state: String)
  final case class Scd2Open(state: String, from_us: Long, version: Int)
  final case class Scd2Row(user_id: Long, state: String, from_us: Long,
      to_us: Option[Long], version: Int)

  /** Streaming SCD TYPE-2 maintenance — c35's changelog→dimension-history
    * build kept live: per user, ONE row of state (the currently-open
    * interval) carried across micro-batches. A state change closes the
    * open interval (emits it with `to_us`) and opens the next version;
    * an unchanged state emits nothing. Each version is therefore emitted
    * at most twice (open, then close) — append-mode-safe, with the close
    * superseding the open downstream (x36 collapses by max(to_us)). The
    * cross-batch law: an interval opened in batch N must be closed by the
    * first differing event of batch N+1 (carried state, not a per-batch
    * window), and an unchanged state across the boundary must NOT open a
    * spurious version — both asserted non-vacuous in the x36 gate. Within
    * a micro-batch the iterator is unordered → sorted per key by
    * (us, event_id), the c35 change-point order; cross-batch correctness
    * needs per-user event-time-ordered delivery (the x31 staging).
    */
  class Scd2Processor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Scd2Event, Scd2Row] {
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig, TimerValues, ValueState}
    @transient private var open: ValueState[Scd2Open] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[Scd2Open](
        "open_interval", org.apache.spark.sql.Encoders.product[Scd2Open], TTLConfig.NONE)
    override def handleInputRows(user: Long, events: Iterator[Scd2Event],
        tv: TimerValues): Iterator[Scd2Row] = {
      var cur: Option[Scd2Open] = if (open.exists()) Some(open.get()) else None
      val out = scala.collection.mutable.ArrayBuffer.empty[Scd2Row]
      events.toSeq.sortBy(e => (e.us, e.event_id)).foreach { e =>
        cur match {
          case Some(o) if o.state == e.state => () // unchanged: same interval
          case Some(o) =>
            out += Scd2Row(user, o.state, o.from_us, Some(e.us), o.version)
            val next = Scd2Open(e.state, e.us, o.version + 1)
            out += Scd2Row(user, e.state, e.us, None, next.version)
            cur = Some(next)
          case None =>
            out += Scd2Row(user, e.state, e.us, None, 1)
            cur = Some(Scd2Open(e.state, e.us, 1))
        }
      }
      cur.foreach(open.update)
      out.iterator
    }
  }

  // ---- custom state v5: streaming sequence packing ----

  final case class PackDoc(doc_id: Long, source: String, n_toks: Long)
  final case class PackPos(doc_id: Long, source: String, n_toks: Long, end_tok: Long)

  /** Streaming SEQUENCE PACKING — t20's per-source token-offset assignment
    * maintained at ingest: ONE Long of state per source (the cumulative
    * token count) places every arriving document at its exact packed
    * offset; chunk spans then derive arithmetically downstream. The
    * cross-batch law: a source's batch-N+1 documents continue mid-chunk
    * from the carried offset — a per-batch rebuild restarts every source
    * at token 0 and hash-fails t20's oracle (the x39 gate require()s a
    * source whose carried offset is mid-chunk, so the restart bug cannot
    * pass vacuously). Within a micro-batch rows are sorted per source by
    * doc_id (t20's packing order); cross-batch correctness needs
    * per-source doc_id-ordered delivery (the x31 staging convention).
    */
  class PackProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, PackDoc, PackPos] {
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig, TimerValues, ValueState}
    @transient private var cum: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      cum = getHandle.getValueState[Long](
        "cum_toks", org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(source: String, docs: Iterator[PackDoc],
        tv: TimerValues): Iterator[PackPos] = {
      var c = if (cum.exists()) cum.get() else 0L
      val out = docs.toSeq.sortBy(_.doc_id).map { d =>
        c += d.n_toks
        PackPos(d.doc_id, d.source, d.n_toks, c)
      }
      cum.update(c)
      out.iterator
    }
  }

  /** Streaming packing via [[PackProcessor]] (x39's engine path). */
  def packStream(docs: Dataset[PackDoc]): Dataset[PackPos] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.groupByKey(_.source)
      .transformWithState(new PackProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  /** Streaming SCD2 via [[Scd2Processor]] (x36's engine path). */
  def scd2Stream(events: Dataset[Scd2Event]): Dataset[Scd2Row] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new Scd2Processor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  /** Streaming forward fill via [[LocfProcessor]] (x31's engine path). */
  def locfStream(events: Dataset[LocfEvent]): Dataset[LocfFilled] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new LocfProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  /** Per-address activity via [[AddrActivityProcessor]]; semantics pinned
    * identical to [[addressActivity]] (x10 shares x07's oracle).
    */
  def addressActivityTws(logs: DataFrame): Dataset[AddrSession] = {
    val spark = logs.sparkSession
    import spark.implicits._
    logs.select(col("address"), col("blockNumber")).as[AddrEvent]
      .groupByKey(_.address)
      .transformWithState(new AddrActivityProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** Streaming deduplication: exactly-once per (blockNumber, logIndex)
    * even if the upstream re-delivers (e.g. a reorg replay). The watermark
    * bounds the dedup state: keys older than the horizon are evicted —
    * unbounded-state dedup is not a thing at 100 TB.
    */
  def dedupStream(logs: DataFrame, watermark: String): DataFrame =
    logs
      .withColumn("event_time", to_timestamp(from_unixtime(col("blockNumber") * 12 + 1700000000L)))
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark("blockNumber", "logIndex")

  /** Stream-stream inner join: logs enriched with their block header,
    * both sides unbounded. Event-time watermarks on both sides + a
    * bounded join-time condition let Spark evict join state — the
    * streaming analog of the notebook's logs×blocks merge (A13).
    */
  def logsWithBlocks(logs: DataFrame, blocks: DataFrame, watermark: String): DataFrame = {
    val l = logs
      .withColumn("l_time", to_timestamp(from_unixtime(col("blockNumber") * 12 + 1700000000L)))
      .withWatermark("l_time", watermark)
    val b = blocks
      .select(col("number"), col("gasUsed"), col("timestamp").as("block_ts"))
      .withColumn("b_time", to_timestamp(from_unixtime(col("number") * 12 + 1700000000L)))
      .withWatermark("b_time", watermark)
    l.join(b, l("blockNumber") === b("number") && l("l_time") === b("b_time"))
  }

  // ---- custom state v6: per-key running top-k via LIST state ----

  final case class TopEvent(user_id: Long, event_id: Long, value: Double)
  final case class TopEntry(event_id: Long, value: Double)
  final case class TopEmit(user_id: Long, n_seen: Long, rank: Int,
      event_id: Long, value: Double)

  /** Per-user RUNNING TOP-K on the transformWithState LIST-state
    * primitive (the typed-state surface x31/x36/x39's ValueState leaves
    * untested): the state is the current top-k entry list itself —
    * bounded at k per key no matter how many events stream through (the
    * x24 semilattice law, carried as keyed state instead of per-batch
    * partials). A composed ValueState counts the key's events so each
    * emission is totally ordered: the drained sink resolves each user's
    * LATEST emission by max n_seen (monotone by construction — batch
    * iterators are unordered but the counter is cumulative). Top-k order
    * is (value desc, event_id) — a total order, so merge-sort-take is
    * deterministic under any arrival order.
    */
  class TopKProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TopEvent, TopEmit] {
    import org.apache.spark.sql.streaming.{ListState, TimeMode, TTLConfig, TimerValues, ValueState}
    @transient private var top: ListState[TopEntry] = _
    @transient private var seen: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      top = getHandle.getListState[TopEntry](
        "topk", org.apache.spark.sql.Encoders.product[TopEntry], TTLConfig.NONE)
      seen = getHandle.getValueState[Long](
        "n_seen", org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(user: Long, events: Iterator[TopEvent],
        tv: TimerValues): Iterator[TopEmit] = {
      val incoming = events.toSeq
      val cur = if (top.exists()) top.get().toSeq else Seq.empty
      val merged = (cur ++ incoming.map(e => TopEntry(e.event_id, e.value)))
        .sortBy(e => (-e.value, e.event_id)).take(k)
      top.clear()
      merged.foreach(top.appendValue)
      val n = (if (seen.exists()) seen.get() else 0L) + incoming.size
      seen.update(n)
      merged.zipWithIndex.map { case (e, i) =>
        TopEmit(user, n, i + 1, e.event_id, e.value)
      }.iterator
    }
  }

  /** Streaming per-user top-k via [[TopKProcessor]] (x44's engine path). */
  def topKStream(events: Dataset[TopEvent], k: Int): Dataset[TopEmit] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new TopKProcessor(k),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  // ---- custom state v7: per-key feature map via MAP state ----

  final case class TypedEvent(user_id: Long, event_type: String)
  final case class TypeCount(user_id: Long, event_type: String, cnt: Long)

  /** Per-user live event-type counters on the transformWithState MAP-state
    * primitive — the last of the three typed-state surfaces (value: x31,
    * list: x44, map: here), and the online feature-store shape: one
    * sub-keyed counter map per entity, updated in place, entries touched
    * by a batch re-emitted with their new cumulative count. Counts are
    * MONOTONE per (user, type), so the drained append sink resolves the
    * final map by MAX(cnt) — order-free, no emission counter needed.
    */
  class TypeCountProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TypedEvent, TypeCount] {
    import org.apache.spark.sql.streaming.{MapState, TimeMode, TTLConfig, TimerValues}
    @transient private var counts: MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("type_counts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(user: Long, events: Iterator[TypedEvent],
        tv: TimerValues): Iterator[TypeCount] = {
      val touched = scala.collection.mutable.SortedSet.empty[String]
      events.foreach { e =>
        val c = if (counts.containsKey(e.event_type)) counts.getValue(e.event_type) else 0L
        counts.updateValue(e.event_type, c + 1)
        touched += e.event_type
      }
      touched.iterator.map(t => TypeCount(user, t, counts.getValue(t)))
    }
  }

  /** Streaming per-user type counters via [[TypeCountProcessor]] (x45). */
  def typeCountStream(events: Dataset[TypedEvent]): Dataset[TypeCount] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new TypeCountProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  // ---- custom state v8: event-time TIMERS (cohort snapshot) ----

  final case class SnapEvent(user_id: Long, event_id: Long, us: Long,
      ts: java.sql.Timestamp)
  final case class SnapAcc(first_us: Long, timer_ms: Long, n: Long,
      last_us: Long, snapped: Boolean)
  final case class SnapRow(user_id: Long, first_us: Long, n_events: Long,
      last_us: Long)

  /** Event-time TIMERS — the transformWithState facet no ValueState/
    * ListState/MapState entry exercises: each user's FIRST event registers
    * a timer at first-event-time + `horizonMs`; when the WATERMARK passes
    * it, [[handleExpiredTimer]] fires and emits a snapshot of the user's
    * accumulated state (the cohort-at-T+H readout — "what had each user
    * done in their first H?"). Because input rows are processed before
    * expired timers within a micro-batch, the snapshot includes the firing
    * batch's own events — the x46 oracle replays exactly that batch
    * arithmetic (watermark lags one data batch; the x21 lesson).
    */
  class SnapshotProcessor(horizonMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, SnapEvent, SnapRow] {
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig, TimerValues, ValueState}
    @transient private var acc: ValueState[SnapAcc] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      acc = getHandle.getValueState[SnapAcc](
        "acc", org.apache.spark.sql.Encoders.product[SnapAcc], TTLConfig.NONE)
    override def handleInputRows(user: Long, events: Iterator[SnapEvent],
        tv: TimerValues): Iterator[SnapRow] = {
      val incoming = events.toSeq
      var cur = if (acc.exists()) acc.get() else {
        val first = incoming.map(_.us).min
        val timerMs = first / 1000L + horizonMs
        getHandle.registerTimer(timerMs)
        SnapAcc(first, timerMs, 0L, Long.MinValue, snapped = false)
      }
      cur = cur.copy(n = cur.n + incoming.size,
        last_us = math.max(cur.last_us, incoming.map(_.us).max))
      acc.update(cur)
      Iterator.empty
    }
    override def handleExpiredTimer(user: Long, tv: TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[SnapRow] = {
      val cur = acc.get()
      acc.update(cur.copy(snapped = true))
      Iterator.single(SnapRow(user, cur.first_us, cur.n, cur.last_us))
    }
  }

  /** Streaming cohort snapshot via [[SnapshotProcessor]] (x46). The input
    * must already carry an event-time watermark on `ts`.
    */
  def snapshotStream(events: Dataset[SnapEvent], horizonMs: Long): Dataset[SnapRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new SnapshotProcessor(horizonMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }
}
