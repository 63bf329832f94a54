package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Catalog._

/** Temporal join operators Spark lacks as built-ins — composed from stock
  * shuffle/window primitives (no custom physical operator needed), which
  * keeps them AQE-planned and spill-safe at scale.
  */
object TemporalOps {

  /** As-of (backward) join: for every left row, the single latest right row
    * with `rightTs <= leftTs` in the same `partition` group.
    *
    * Implementation: union both sides tagged, one window pass per
    * partition key ordered by (ts, side) with right rows sorting first at
    * equal ts (<= semantics, matching DuckDB/kdb asof), then
    * `last(right_value, ignoreNulls)` over the unbounded-preceding frame.
    * ONE shuffle on the partition key — same cost as a groupBy, never a
    * pair-space join. The classic 100 TB shape: trades × quotes.
    *
    * Right-side ties on (partition, ts): broken by largest `rightTieBreak`
    * (deterministic for any input).
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      partition: String,
      leftTs: String,
      rightTs: String,
      rightValues: Seq[String],
      rightTieBreak: String): DataFrame = {
    val leftCols = left.columns.toSeq
    val lTagged = left
      .withColumn("__ts", col(leftTs))
      .withColumn("__side", lit(1))
      .withColumn("__tie", lit(null).cast("long"))
    val rTagged = right
      .withColumn("__ts", col(rightTs))
      .withColumn("__side", lit(0))
      .withColumn("__tie", col(rightTieBreak))
      .select((Seq(col(partition), col("__ts"), col("__side"), col("__tie")) ++
        rightValues.map(c => col(c).as(s"__r_$c"))): _*)
    val lUnion = lTagged.select((Seq(col(partition), col("__ts"), col("__side"), col("__tie")) ++
      leftCols.filter(_ != partition).map(col) ++
      rightValues.map(c => lit(null).cast(right.schema(c).dataType).as(s"__r_$c"))): _*)
    val rUnion = rTagged.select((Seq(col(partition), col("__ts"), col("__side"), col("__tie")) ++
      leftCols.filter(_ != partition).map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
      rightValues.map(c => col(s"__r_$c"))): _*)
    val w = Window.partitionBy(col(partition))
      .orderBy(col("__ts"), col("__side"), col("__tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val joined = rUnion.union(lUnion)
      .select((Seq(col(partition)) ++
        leftCols.filter(_ != partition).map(col) ++
        Seq(col("__side")) ++
        rightValues.map(c => last(col(s"__r_$c"), ignoreNulls = true).over(w).as(s"asof_$c"))): _*)
    joined.where(col("__side") === 1).drop("__side")
  }

  /** Bucketed range join: all (left, right) pairs in the same `partition`
    * group with `rightTs` in `[leftTs - windowLen, leftTs]`.
    *
    * Naive formulation is an inequality join — BroadcastNestedLoop (O(n·m)
    * per key) in Spark. Bucketing by `ceil(ts / windowLen)` turns it into
    * an equi-join on (partition, bucket) over each left row's two candidate
    * buckets, then an exact range filter: shuffle-bounded, never a
    * cross-product, and the planner sees a plain equi-join it can
    * sort-merge at scale.
    */
  /** Exact long integer division (floor) — `a` and `window` must be
    * non-negative longs below 2^53 so every intermediate double is exact.
    */
  private def longDiv(a: Column, window: Long): Column =
    ((a - pmod(a, lit(window))) / window).cast("long")

  def rangeJoinBucketed(
      left: DataFrame,
      right: DataFrame,
      partition: String,
      leftTs: Column,
      rightTs: Column,
      windowMicros: Long): DataFrame = {
    val lb = left
      .withColumn("__lus", leftTs.cast("long"))
      .withColumn("__bucket",
        explode(array(longDiv(col("__lus"), windowMicros), longDiv(col("__lus"), windowMicros) - 1)))
    val rb = right
      .withColumn("__rus", rightTs.cast("long"))
      .withColumn("__bucket", longDiv(col("__rus"), windowMicros))
    lb.join(rb, Seq(partition, "__bucket"))
      .where(col("__rus") >= col("__lus") - windowMicros && col("__rus") <= col("__lus"))
      .drop("__bucket")
  }

  /** Hour length in micros — r06/x26's bar width. */
  val OhlcHourUs = 3600000000L

  /** r07's nearest-match tolerance (±1 h, µs). Declared before `val all`:
    * the oracle string interpolates it at init.
    */
  val NearTolUs = 3600000000L

  /** Day length in micros — r08's reporting period. Declared before
    * `val all`: the oracle string interpolates it at init.
    */
  val DayUs = 86400000000L

  /** The [[Artifacts.shared]] materialization of the subplan r04 and r10 SHARE:
    * the per-user daily purchase grid — `idx` (the dense min..max day grid
    * left-joined to observations, with the prefix-summed observation index)
    * and `ranked` (each observation's rank among its user's observations).
    * Both queries regularize the same series; building the grid + two
    * two-phase prefix sums once and reading the parquet back saves each a
    * full pass (at scale the regularized grid IS the artifact a pipeline
    * materializes once).
    */
  private def ensureDayGrid(s: org.apache.spark.sql.SparkSession, d: String): String =
    Artifacts.shared("graft_daygrid", d) { dir =>
      val obs = t(s, d, "events").where(col("event_type") === "purchase")
        .select(col("user_id"), expr(s"unix_micros(ts) div $DayUs").as("day"), col("value"))
        .groupBy("user_id", "day").agg(dsum(col("value")).as("obs_val"))
      val grid = obs.groupBy("user_id").agg(min("day").as("mn"), max("day").as("mx"))
        .select(col("user_id"), explode(sequence(col("mn"), col("mx"))).as("day"))
      val g = grid.join(obs, Seq("user_id", "day"), "left")
        .withColumn("is_obs", when(col("obs_val").isNotNull, 1L).otherwise(0L))
      StockOps.groupedRunningTotal(g, "user_id", "day", "is_obs", "obs_idx")
        .write.mode("overwrite").parquet(s"$dir/idx")
      // `ranked` (each observation's rank among its user's observations,
      // ordered by day) is a PROJECTION of idx: at an observation row the
      // inclusive prefix count of is_obs IS that rank. The r08 build ran a
      // second full groupedRunningTotal (range exchange + checkpoint +
      // window) over obs to recompute it; reading the just-written idx
      // parquet back and filtering is value-identical and one pass cheaper.
      Catalog.parquet(s, s"$dir/idx").where(col("is_obs") === 1L)
        .select(col("user_id"), col("day"), col("obs_val"),
          col("obs_idx").as("rk"))
        .write.mode("overwrite").parquet(s"$dir/ranked")
    }

  /** Per-shard OHLC bar PARTIALS for (event_type, bucket): open/close as
    * min/max over the TOTAL (us, event_id, value) struct order —
    * associative and commutative, so ANY split of the input rows yields
    * partials that [[ohlcMerge]] reconciles to the whole-input bars
    * (law spec-pinned under arbitrary shard layouts, the x24 convention).
    * Volume sums exactly in decimal (a commutative monoid).
    */
  def ohlcPartials(df: DataFrame): DataFrame =
    df.groupBy("event_type", "bucket").agg(
      min(struct(col("us"), col("event_id"), col("value"))).as("o"),
      max(struct(col("us"), col("event_id"), col("value"))).as("c"),
      max("value").as("high"), min("value").as("low"),
      count(lit(1)).as("n_events"), sum(dec(col("value"))).as("vol"))

  /** Re-reduce bar partials to final bars — the same semilattice/monoid
    * members one level up; output schema matches r06 exactly.
    */
  def ohlcMerge(partials: DataFrame): DataFrame =
    partials.groupBy("event_type", "bucket").agg(
        min(col("o")).as("o"), max(col("c")).as("c"),
        max("high").as("high"), min("low").as("low"),
        sum("n_events").as("n_events"), sum("vol").as("vol"))
      .select(col("event_type"), col("bucket"),
        col("o.value").as("open"), col("c.value").as("close"),
        col("high"), col("low"), col("n_events"),
        col("vol").cast(org.apache.spark.sql.types.DoubleType).as("volume"))

  /** r06's oracle — also the truth for the streaming maintenance path
    * (x26), which must reconcile its merged partials to the same bars.
    */
  val sqlOhlc: String =
    s"""WITH e AS (SELECT event_type, epoch_ns(ts) // 1000 AS us, event_id, value
                   FROM events),
          b AS (SELECT event_type, us // $OhlcHourUs AS bucket, us, event_id, value FROM e),
          r AS (SELECT *,
                       ROW_NUMBER() OVER (PARTITION BY event_type, bucket
                         ORDER BY us, event_id) AS rn_a,
                       ROW_NUMBER() OVER (PARTITION BY event_type, bucket
                         ORDER BY us DESC, event_id DESC) AS rn_d
                FROM b)
       SELECT event_type, bucket,
              MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
              MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
              MAX(value) AS high, MIN(value) AS low,
              COUNT(*) AS n_events,
              ${sqlDsum("value")} AS volume
       FROM r GROUP BY 1, 2 ORDER BY 1, 2"""

  val all: Seq[Q] = Seq(
    // As-of join: each purchase matched to the user's latest preceding (or
    // simultaneous) click. Oracle: DuckDB's native ASOF LEFT JOIN... which
    // breaks right-side ties arbitrarily, so the query keys ties out:
    // (user_id, ts) is unique per side in the fixture for clicks (verified
    // by n_right_ties below staying 0 at every SF via the tie-free check).
    Q("r01_asof_join",
      (s, d) => {
        val ev = t(s, d, "events")
        val purchases = ev.where(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        val clicks = ev.where(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("click_ts"), col("value").as("click_value"),
            col("event_id").as("click_id"))
        asofJoin(purchases, clicks, "user_id", "ts", "click_ts",
          Seq("click_value", "click_id"), "click_id")
          .select(col("event_id"), col("user_id"), col("asof_click_id").as("click_id"),
            col("asof_click_value").as("click_value"))
          .orderBy("event_id")
      },
      // events.ts is TIMESTAMP(NANOS); Spark computes on µs-truncated
      // values (Catalog.t), so the oracle truncates identically.
      Some("""SELECT p.event_id, p.user_id, c.event_id AS click_id, c.value AS click_value
              FROM (SELECT event_id, user_id, make_timestamp(epoch_ns(ts) // 1000) AS ts
                    FROM events WHERE event_type = 'purchase') p
              ASOF LEFT JOIN (SELECT event_id, user_id, value,
                                     make_timestamp(epoch_ns(ts) // 1000) AS ts
                              FROM events WHERE event_type = 'click') c
                ON p.user_id = c.user_id AND c.ts <= p.ts
              ORDER BY p.event_id""")),

    // Range join: clicks within the hour preceding each purchase, per user.
    // Oracle: plain inequality join (DuckDB executes it as its IEJoin).
    Q("r02_range_join",
      (s, d) => {
        val ev = t(s, d, "events")
        val purchases = ev.where(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        val clicks = ev.where(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("click_ts"))
        rangeJoinBucketed(purchases, clicks, "user_id",
          unix_micros(col("ts")), unix_micros(col("click_ts")), 3600L * 1000000L)
          .groupBy("event_id").agg(count(lit(1)).as("n_clicks_1h"))
          .orderBy("event_id")
      },
      Some("""SELECT p.event_id, COUNT(*) AS n_clicks_1h
              FROM (SELECT event_id, user_id, make_timestamp(epoch_ns(ts) // 1000) AS ts
                    FROM events WHERE event_type = 'purchase') p
              JOIN (SELECT user_id, make_timestamp(epoch_ns(ts) // 1000) AS click_ts
                    FROM events WHERE event_type = 'click') c
                ON p.user_id = c.user_id
               AND c.click_ts <= p.ts AND c.click_ts >= p.ts - INTERVAL 1 HOUR
              GROUP BY p.event_id ORDER BY p.event_id""")),

    // INTERVAL-OVERLAP SWEEP — peak concurrency per event type: each event
    // opens the interval [ts, ts + floor(value) seconds). The classic
    // sweep-line turns pairwise overlap into +1/−1 boundary deltas and a
    // running sum — O(n log n) and shuffle-bounded, never the O(n²)
    // interval self-join a naive overlap query plans as. The running sum
    // rides groupedRunningTotal (two-phase range-partitioned prefix sum —
    // no one-task-per-key funnel); ends sort before starts at the same
    // instant (ord = 2·µs + isStart) so touching intervals [a,b),[b,c)
    // never double-count, and zero-length intervals are never active
    // (durations clamp at 0 on BOTH engines, so a negative or NaN value
    // can never depress the running sum of unrelated intervals).
    // Within an (instant, sign) tie group the intra-group prefix order is
    // engine-dependent, but every tie group is sign-homogeneous, so the
    // prefix is monotone across each group and the per-key MAX is attained
    // at a group boundary — tie-order-invariant, hence hash-comparable.
    Q("r03_interval_overlap",
      (s, d) => {
        val ev = t(s, d, "events")
          .select(col("event_type"), unix_micros(col("ts")).as("us"),
            greatest(floor(col("value")), lit(0.0)).cast("long").as("dur_s"))
        val deltas = ev.select(col("event_type"),
            explode(array(
              struct((col("us") * 2 + 1).as("ord"), lit(1L).as("delta")),
              struct(((col("us") + col("dur_s") * 1000000L) * 2).as("ord"),
                lit(-1L).as("delta")))).as("e"))
          .select(col("event_type"), col("e.ord").as("ord"), col("e.delta").as("delta"))
        StockOps.groupedRunningTotal(deltas, "event_type", "ord", "delta", "run")
          .groupBy("event_type")
          .agg(max(col("run")).as("peak"), expr("count(1) div 2").as("n_intervals"))
          .orderBy("event_type")
      },
      Some("""WITH e AS (SELECT event_type, epoch_ns(ts) // 1000 AS us,
                                CAST(GREATEST(FLOOR(value), 0) AS BIGINT) AS dur_s FROM events),
                 dl AS (SELECT event_type, us * 2 + 1 AS ord, 1 AS delta FROM e
                        UNION ALL
                        SELECT event_type, (us + dur_s * 1000000) * 2 AS ord, -1 AS delta FROM e),
                 r AS (SELECT event_type,
                              CAST(SUM(delta) OVER (PARTITION BY event_type ORDER BY ord
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run
                       FROM dl)
              SELECT event_type, MAX(run) AS peak,
                     CAST(COUNT(*) // 2 AS BIGINT) AS n_intervals
              FROM r GROUP BY event_type ORDER BY event_type""")),

    // GAP FILL + LOCF — the time-series regularization every downstream
    // model needs: per user, the daily purchase total on a DENSE daily
    // grid (missing days materialized), gaps carried forward from the
    // last observation. Scale shape: the grid is an explode of
    // sequence(min_day, max_day) AFTER a per-user min/max aggregate
    // (rows = users × span, never events × span); the carry-forward is
    // NOT a per-user last(ignoreNulls) window (one task per user) — the
    // observation INDEX is a groupedRunningTotal of the is-observed
    // indicator (two-phase range-partitioned prefix sum), and the filled
    // value arrives by a plain equi-join on (user, obs_idx). The first
    // grid day of every user is an observation by construction, so
    // obs_idx ≥ 1 and the join is inner. Sums ride the exact-decimal
    // discipline; the oracle's IGNORE NULLS window is the executable
    // spec of the same semantics.
    Q("r04_gap_fill",
      (s, d) => {
        // Shared-artifact build (ensureDayGrid): r04 and r10 regularize
        // the SAME per-user daily purchase grid — materialized once per
        // (JVM, sfDir), each query reads the indexed grid + ranked
        // observations back and pays only its own joins. The prefix count
        // at an observed grid row equals that observation's rank, so the
        // two sides meet on (user, obs_idx) exactly.
        val gridDir = ensureDayGrid(s, d)
        val idx = Catalog.parquet(s, s"$gridDir/idx")
        val src = Catalog.parquet(s, s"$gridDir/ranked")
          .select(col("user_id"), col("rk").as("obs_idx"), col("obs_val").as("filled"))
        idx.join(src, Seq("user_id", "obs_idx"))
          .select(col("user_id"), col("day"), col("obs_val"), col("filled"),
            col("obs_val").isNull.as("is_gap"))
          .orderBy("user_id", "day")
      },
      Some("""WITH p AS (SELECT user_id, (epoch_ns(ts) // 1000) // 86400000000 AS day, value
                         FROM events WHERE event_type = 'purchase'),
                 obs AS (SELECT user_id, day,
                                CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS obs_val
                         FROM p GROUP BY 1, 2),
                 span AS (SELECT user_id, MIN(day) AS mn, MAX(day) AS mx FROM obs GROUP BY 1),
                 grid AS (SELECT user_id, UNNEST(range(mn, mx + 1)) AS day FROM span),
                 g AS (SELECT gr.user_id, gr.day, o.obs_val
                       FROM grid gr LEFT JOIN obs o
                         ON o.user_id = gr.user_id AND o.day = gr.day)
              SELECT user_id, day, obs_val,
                     LAST_VALUE(obs_val IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
                     obs_val IS NULL AS is_gap
              FROM g ORDER BY user_id, day""")),

    // SESSIONIZED FUNNEL — ORDERED-step conversion (view → click →
    // purchase, each step strictly at-or-after the previous step's
    // earliest satisfying event), the product-analytics query window
    // functions alone cannot express. Sessionization is the x03 12-hour
    // inactivity-gap rule tagged by a per-USER window (high-cardinality
    // key — the c35 shape); the ordered chain is THREE grouped passes
    // over the tagged events (t1 = min view; t2 = min click ≥ t1; t3 =
    // min purchase ≥ t2), each a co-partitioned (user, sid) aggregate +
    // join — never a per-session event-list collect, so a pathological
    // hot session cannot blow executor memory. Session-id assignment is
    // tie-order-invariant (equal-ts rows share us, so exactly one row of
    // a tie group carries the boundary and every member lands in the
    // same session). The one-row report is the a12 bounded reduction;
    // conversions are exact ppm integer floors.
    Q("r05_session_funnel",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val gapUs = 12L * 3600L * 1000000L
        val ev = t(s, d, "events")
          .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_type"))
        val wOrd = Window.partitionBy("user_id").orderBy("us")
        val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tagged = ev
          .withColumn("new_s",
            when(col("us") - lag(col("us"), 1).over(wOrd) >= gapUs, 1L).otherwise(0L))
          .withColumn("sid", sum(col("new_s")).over(wRun))
          .select("user_id", "sid", "us", "event_type")
          // tagged feeds p1 and the p2/p3 join chains — without a
          // checkpoint each of the three passes replans the scan +
          // session window (measured: 10 scans in the r05 physical plan)
          .localCheckpoint()
        val p1 = tagged.groupBy("user_id", "sid")
          .agg(min(when(col("event_type") === "view", col("us"))).as("t1"))
        val p2 = tagged.join(p1, Seq("user_id", "sid"))
          .groupBy("user_id", "sid")
          .agg(max(col("t1")).as("t1"), // constant within the session
            min(when(col("event_type") === "click" && col("us") >= col("t1"), col("us"))).as("t2"))
        val p3 = tagged.join(p2.select("user_id", "sid", "t2"), Seq("user_id", "sid"))
          .groupBy("user_id", "sid")
          .agg(min(when(col("event_type") === "purchase" && col("us") >= col("t2"), col("us"))).as("t3"))
        p2.join(p3, Seq("user_id", "sid"))
          .agg(count(lit(1)).as("n_sessions"),
            count(col("t1")).as("n_view"),
            count(col("t2")).as("n_view_click"),
            count(col("t3")).as("n_full_funnel"))
          .withColumn("cr_view_click_ppm", expr("n_view_click * 1000000 div n_view"))
          .withColumn("cr_click_purchase_ppm", expr("n_full_funnel * 1000000 div n_view_click"))
      },
      Some("""WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS us, event_type FROM events),
                 marked AS (SELECT user_id, us, event_type,
                        CASE WHEN us - LAG(us) OVER (PARTITION BY user_id ORDER BY us) >= 43200000000
                             THEN 1 ELSE 0 END AS new_s
                      FROM e),
                 tagged AS (SELECT user_id, us, event_type,
                        SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                      FROM marked),
                 p1 AS (SELECT user_id, sid,
                               MIN(CASE WHEN event_type = 'view' THEN us END) AS t1
                        FROM tagged GROUP BY 1, 2),
                 p2 AS (SELECT t.user_id, t.sid, MAX(p1.t1) AS t1,
                               MIN(CASE WHEN t.event_type = 'click' AND t.us >= p1.t1 THEN t.us END) AS t2
                        FROM tagged t JOIN p1 ON p1.user_id = t.user_id AND p1.sid = t.sid
                        GROUP BY 1, 2),
                 p3 AS (SELECT t.user_id, t.sid,
                               MIN(CASE WHEN t.event_type = 'purchase' AND t.us >= p2.t2 THEN t.us END) AS t3
                        FROM tagged t JOIN p2 ON p2.user_id = t.user_id AND p2.sid = t.sid
                        GROUP BY 1, 2),
                 f AS (SELECT COUNT(*) AS n_sessions, COUNT(p2.t1) AS n_view,
                              COUNT(p2.t2) AS n_view_click, COUNT(p3.t3) AS n_full_funnel
                       FROM p2 JOIN p3 ON p3.user_id = p2.user_id AND p3.sid = p2.sid)
              SELECT n_sessions, n_view, n_view_click, n_full_funnel,
                     n_view_click * 1000000 // n_view AS cr_view_click_ppm,
                     n_full_funnel * 1000000 // n_view_click AS cr_click_purchase_ppm
              FROM f""")),

    // OHLC RESAMPLE — downsample the event stream to hourly bars per
    // event type: open/close (argmin/argmax of value by arrival order),
    // high/low, count, and an exact-decimal volume. The canonical
    // time-series densification every feature pipeline runs before
    // modeling. Scale shape: ONE map-side-combined aggregate on the
    // composite key (event_type, hour-bucket) — the key cardinality grows
    // with the covered time span, so parallelism grows with the data (no
    // bounded-domain funnel); open/close ride min_by/max_by under the
    // TOTAL order (us, event_id) (event_id unique ⇒ deterministic at
    // every SF — no first()/last() arrival nondeterminism), never a
    // per-bucket sort. The oracle expresses the same argmin/argmax with
    // ROW_NUMBER (DuckDB's arg_min rejects struct keys).
    Q("r06_resample_ohlc",
      (s, d) => {
        t(s, d, "events")
          .select(col("event_type"), unix_micros(col("ts")).as("us"),
            col("event_id"), col("value"))
          .withColumn("bucket", expr(s"us div $OhlcHourUs"))
          .groupBy("event_type", "bucket")
          .agg(
            min_by(col("value"), struct(col("us"), col("event_id"))).as("open"),
            max_by(col("value"), struct(col("us"), col("event_id"))).as("close"),
            max(col("value")).as("high"),
            min(col("value")).as("low"),
            count(lit(1)).as("n_events"),
            dsum(col("value")).as("volume"))
          .orderBy("event_type", "bucket")
      },
      Some(sqlOhlc)),

    // NEAREST as-of join with tolerance — the pandas `merge_asof(
    // direction='nearest', tolerance=...)` semantics r01's backward-only
    // asof cannot express: each purchase matched to the CLOSEST click in
    // either time direction, but only within ±1 h; ties between an equally
    // distant past and future click break to the past one. Scale shape:
    // the nearest match is either the nearest-backward or nearest-forward
    // candidate, so it is TWO asofJoin passes (the forward one is the
    // backward machinery on NEGATED timestamps — one implementation, both
    // directions) + an equi-join on the unique left key to pick the
    // winner: three key-partitioned shuffles total, never a pair-space
    // join. Right-side ties at equal |Δt|: backward keeps the largest
    // click_id, forward the smallest — pinned in the oracle's explicit
    // rank (the fixture is tie-free per side, r01, but the rule is
    // deterministic regardless).
    Q("r07_asof_nearest",
      (s, d) => {
        val ev = t(s, d, "events")
        val purchases = ev.where(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
          .withColumn("nus", -col("us"))
        val clicks = ev.where(col("event_type") === "click")
          .select(col("user_id"), unix_micros(col("ts")).as("cus"),
            col("event_id").as("click_id"))
          .withColumn("ncus", -col("cus"))
          .withColumn("nid", -col("click_id"))
        val back = asofJoin(purchases, clicks, "user_id", "us", "cus",
            Seq("click_id", "cus"), "click_id")
          .select(col("event_id"), col("user_id"), col("us"),
            col("asof_click_id").as("b_id"), col("asof_cus").as("b_cus"))
        val fwd = asofJoin(purchases, clicks, "user_id", "nus", "ncus",
            Seq("click_id", "cus"), "nid")
          .select(col("event_id"), col("asof_click_id").as("f_id"),
            col("asof_cus").as("f_cus"))
        back.join(fwd, "event_id")
          .withColumn("b_ok",
            col("b_id").isNotNull && (col("us") - col("b_cus")) <= NearTolUs)
          .withColumn("f_ok",
            col("f_id").isNotNull && (col("f_cus") - col("us")) <= NearTolUs)
          .withColumn("pick_b",
            col("b_ok") && (!col("f_ok") ||
              (col("us") - col("b_cus")) <= (col("f_cus") - col("us"))))
          .select(col("event_id"), col("user_id"),
            when(col("pick_b"), col("b_id"))
              .when(col("f_ok"), col("f_id")).as("click_id"),
            when(col("pick_b"), col("b_cus") - col("us"))
              .when(col("f_ok"), col("f_cus") - col("us")).as("dt_us"))
          .orderBy("event_id")
      },
      Some(s"""WITH p AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us
                          FROM events WHERE event_type = 'purchase'),
                 c AS (SELECT user_id, event_id AS click_id, epoch_ns(ts) // 1000 AS cus
                       FROM events WHERE event_type = 'click'),
                 cand AS (SELECT p.event_id, c.click_id, c.cus - p.us AS dt_us,
                                 ROW_NUMBER() OVER (PARTITION BY p.event_id
                                   ORDER BY ABS(c.cus - p.us),
                                            CASE WHEN c.cus <= p.us THEN 0 ELSE 1 END,
                                            CASE WHEN c.cus <= p.us THEN -c.click_id ELSE c.click_id END) AS rn
                          FROM p JOIN c ON c.user_id = p.user_id
                           AND ABS(c.cus - p.us) <= $NearTolUs)
              SELECT p.event_id, p.user_id, w.click_id, w.dt_us
              FROM p LEFT JOIN (SELECT * FROM cand WHERE rn = 1) w
                ON w.event_id = p.event_id
              ORDER BY p.event_id""")),

    // PERIOD-OVER-PERIOD DELTA — the day-over-day movement report every
    // metrics pipeline ships (DAU deltas, volume swings): per-(event_type,
    // day) counts and exact-decimal value totals, then each day compared
    // to the previous OBSERVED day via lag. Scale shape: the heavy work is
    // ONE map-side-combined aggregate (output = types × days rows,
    // sub-linear in events); the lag window runs on that aggregate, so a
    // partition holds at most #days rows per type no matter the corpus
    // size — the post-aggregation exception to the bounded-domain-window
    // rule (reasoned in PlanAuditSpec). delta_ppm is one IEEE division of
    // exact integers (the t15 convention), NULL on each type's first day
    // on both engines.
    Q("r08_period_delta",
      (s, d) => {
        val daily = t(s, d, "events")
          .select(col("event_type"), unix_micros(col("ts")).as("us"), col("value"))
          .withColumn("day", expr(s"us div $DayUs"))
          .groupBy("event_type", "day")
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        val w = Window.partitionBy("event_type").orderBy("day")
        daily
          .withColumn("n_prev", lag("n", 1).over(w))
          .withColumn("delta", col("n") - col("n_prev"))
          .withColumn("delta_ppm",
            (col("delta") * 1000000L).cast(org.apache.spark.sql.types.DoubleType)
              / col("n_prev"))
          .select("event_type", "day", "n", "total", "n_prev", "delta", "delta_ppm")
          .orderBy("event_type", "day")
      },
      Some(s"""WITH daily AS (
                 SELECT event_type, (epoch_ns(ts) // 1000) // $DayUs AS day,
                        COUNT(*) AS n, ${sqlDsum("value")} AS total
                 FROM events GROUP BY 1, 2)
               SELECT event_type, day, n, total,
                      LAG(n, 1) OVER (PARTITION BY event_type ORDER BY day) AS n_prev,
                      n - (LAG(n, 1) OVER (PARTITION BY event_type ORDER BY day)) AS delta,
                      CAST((n - (LAG(n, 1) OVER (PARTITION BY event_type ORDER BY day))) * 1000000 AS DOUBLE)
                        / (LAG(n, 1) OVER (PARTITION BY event_type ORDER BY day)) AS delta_ppm
               FROM daily ORDER BY event_type, day""")),

    // RETENTION COHORTS — the classic product-analytics triangle: users
    // grouped by their FIRST active day (the cohort), then for each later
    // day-offset, how many of that cohort came back, as exact ppm of the
    // cohort's size. Scale shape: (user, day) activity dedups in one
    // user-keyed aggregate; each user's cohort day is a co-partitioned
    // MIN (same key — no extra shuffle class); the triangle is one
    // map-side-combined aggregate whose output is ≤ days² rows no matter
    // the event volume. Offset-0 retention is 1.0 by construction — kept
    // in the output as the self-check row.
    Q("r09_retention_cohorts",
      (s, d) => {
        val act = t(s, d, "events")
          .select(col("user_id"), expr(s"unix_micros(ts) div $DayUs").as("day"))
          .distinct()
        val cohort = act.groupBy("user_id").agg(min("day").as("cohort_day"))
        val sizes = cohort.groupBy("cohort_day").agg(count(lit(1)).as("cohort_size"))
        act.join(cohort, "user_id")
          .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
          .agg(count(lit(1)).as("n_active"))
          .join(broadcast(sizes), "cohort_day")
          .select(col("cohort_day"), col("day_offset"), col("n_active"),
            col("cohort_size"),
            expr("n_active * 1000000 div cohort_size").as("retention_ppm"))
          .orderBy("cohort_day", "day_offset")
      },
      Some(s"""WITH act AS (SELECT DISTINCT user_id, (epoch_ns(ts) // 1000) // $DayUs AS day
                            FROM events),
                 cohort AS (SELECT user_id, MIN(day) AS cohort_day FROM act GROUP BY 1),
                 sizes AS (SELECT cohort_day, COUNT(*) AS cohort_size FROM cohort GROUP BY 1),
                 tri AS (SELECT c.cohort_day, a.day - c.cohort_day AS day_offset,
                                COUNT(*) AS n_active
                         FROM act a JOIN cohort c USING (user_id)
                         GROUP BY 1, 2)
              SELECT cohort_day, day_offset, n_active, cohort_size,
                     n_active * 1000000 // cohort_size AS retention_ppm
              FROM tri JOIN sizes USING (cohort_day)
              ORDER BY cohort_day, day_offset""")),

    // LINEAR INTERPOLATION on the regular grid — r04's fill with the
    // other standard gap policy: between bracketing observations the
    // value is the straight line v0 + (v1−v0)·(t−t0)∕(t1−t0), not the
    // carried v0. Both brackets arrive by r04's two-phase discipline run
    // in BOTH directions (prefix obs-count → prev bracket, suffix
    // obs-count via the negated order column → next bracket; each an
    // equi-join on (user, rank) — never a per-user last/first window).
    // The grid spans each user's min..max observation, so both brackets
    // always exist; at observed days the brackets coincide and the CASE
    // short-circuits the 0∕0. Doubles appear only in the final
    // identically-written interpolation expression (exact-decimal sums
    // before it), so both engines run the same IEEE ops in the same
    // order.
    Q("r10_linear_interp",
      (s, d) => {
        // Shared-artifact build — see r04: idx and ranked are the
        // the shared ensureDayGrid materialization of the common grid.
        // ONE ranked-observation pass serves both brackets: prev = rank
        // obs_idx, next = rank obs_idx + 1 − is_obs (an observed row IS
        // its own next bracket; the grid ends on an observation, so the
        // +1 rank always exists for gap rows). A reverse-order suffix
        // count would be a second whole prefix-sum pass for a number
        // derivable in closed form. Both join sides read the parquet
        // artifact, so branching cannot re-run the pass (the p05 lesson).
        val gridDir = ensureDayGrid(s, d)
        val idx = Catalog.parquet(s, s"$gridDir/idx")
        val ranked = Catalog.parquet(s, s"$gridDir/ranked")
        val prevSrc = ranked.select(col("user_id"), col("rk").as("obs_idx"),
          col("day").as("day0"), col("obs_val").as("v0"))
        val nextSrc = ranked.select(col("user_id"), col("rk").as("nrk"),
          col("day").as("day1"), col("obs_val").as("v1"))
        idx.withColumn("nrk", col("obs_idx") + lit(1L) - col("is_obs"))
          .join(prevSrc, Seq("user_id", "obs_idx"))
          .join(nextSrc, Seq("user_id", "nrk"))
          .select(col("user_id"), col("day"), col("obs_val"),
            when(col("day1") === col("day0"), col("v0"))
              .otherwise(col("v0") + (col("v1") - col("v0"))
                * (col("day") - col("day0")).cast("double")
                / (col("day1") - col("day0")).cast("double")).as("interp"),
            col("obs_val").isNull.as("is_gap"))
          .orderBy("user_id", "day")
      },
      Some(s"""WITH p AS (SELECT user_id, (epoch_ns(ts) // 1000) // $DayUs AS day, value
                          FROM events WHERE event_type = 'purchase'),
                  obs AS (SELECT user_id, day,
                                 CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS obs_val
                          FROM p GROUP BY 1, 2),
                  span AS (SELECT user_id, MIN(day) AS mn, MAX(day) AS mx FROM obs GROUP BY 1),
                  grid AS (SELECT user_id, UNNEST(range(mn, mx + 1)) AS day FROM span),
                  g AS (SELECT gr.user_id, gr.day, o.obs_val
                        FROM grid gr LEFT JOIN obs o
                          ON o.user_id = gr.user_id AND o.day = gr.day),
                  br AS (SELECT user_id, day, obs_val,
                                LAST_VALUE(CASE WHEN obs_val IS NOT NULL THEN day END IGNORE NULLS)
                                  OVER (PARTITION BY user_id ORDER BY day
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS day0,
                                LAST_VALUE(obs_val IGNORE NULLS)
                                  OVER (PARTITION BY user_id ORDER BY day
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v0,
                                FIRST_VALUE(CASE WHEN obs_val IS NOT NULL THEN day END IGNORE NULLS)
                                  OVER (PARTITION BY user_id ORDER BY day
                                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS day1,
                                FIRST_VALUE(obs_val IGNORE NULLS)
                                  OVER (PARTITION BY user_id ORDER BY day
                                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v1
                         FROM g)
               SELECT user_id, day, obs_val,
                      CASE WHEN day1 = day0 THEN v0
                           ELSE v0 + (v1 - v0) * CAST(day - day0 AS DOUBLE)
                                / CAST(day1 - day0 AS DOUBLE) END AS interp,
                      obs_val IS NULL AS is_gap
               FROM br ORDER BY user_id, day""")),

    // As-of join WITH TOLERANCE — r01's production form: a preceding match
    // older than the staleness bound is WORSE than no match (a quote from
    // last week must not price today's trade), so matches beyond the bound
    // emit NULL. One pass: the plain as-of match (shared asofJoin — the
    // latest preceding click is by definition also the latest within any
    // bound) then a gap mask in exact microseconds. The bound is chosen to
    // SPLIT the fixture and both outcomes are require()d non-empty —
    // masked-out matches and surviving matches must each occur, or the
    // tolerance under test is a no-op.
    Q("r11_asof_tolerance",
      (s, d) => {
        val tolUs = 15L * 60L * 1000000L // 15 min
        val ev = t(s, d, "events")
        val purchases = ev.where(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        val clicks = ev.where(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("click_ts"), col("value").as("click_value"),
            col("event_id").as("click_id"))
        val matched = asofJoin(purchases, clicks, "user_id", "ts", "click_ts",
          Seq("click_value", "click_id", "click_ts"), "click_id")
        val fresh = unix_micros(col("ts")) - unix_micros(col("asof_click_ts")) <= tolUs
        val out = matched.select(col("event_id"), col("user_id"),
            when(fresh, col("asof_click_id")).as("click_id"),
            when(fresh, col("asof_click_value")).as("click_value"))
          .orderBy("event_id").localCheckpoint()
        val masked = matched.where(col("asof_click_id").isNotNull && !fresh).count()
        require(masked > 0,
          "no match exceeds the staleness bound — the tolerance mask is a no-op on this fixture")
        require(out.where(col("click_id").isNotNull).count() > 0,
          "every match exceeds the staleness bound — the surviving path is vacuous")
        out
      },
      Some("""SELECT p.event_id, p.user_id,
                     CASE WHEN c.ts >= p.ts - INTERVAL 15 MINUTE THEN c.event_id END AS click_id,
                     CASE WHEN c.ts >= p.ts - INTERVAL 15 MINUTE THEN c.value END AS click_value
              FROM (SELECT event_id, user_id, make_timestamp(epoch_ns(ts) // 1000) AS ts
                    FROM events WHERE event_type = 'purchase') p
              ASOF LEFT JOIN (SELECT event_id, user_id, value,
                                     make_timestamp(epoch_ns(ts) // 1000) AS ts
                              FROM events WHERE event_type = 'click') c
                ON p.user_id = c.user_id AND c.ts <= p.ts
              ORDER BY p.event_id"""))
  )
}
