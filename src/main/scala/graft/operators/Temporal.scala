package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.GQuery
import graft.GQuery.{oracled, sqlSurface}
import graft.sources.Tables
import graft.functions.GraftFunctions.dec2

/** Temporal / ordered-data operators beyond plain windows: the as-of
  * join (match each fact to the latest earlier event in another stream)
  * and generator (explode) coverage.
  */
object Temporal {

  /** q56 — AS-OF JOIN: each purchase matched to the same user's most
    * recent click at-or-before it.
    *
    * Spark has no asof-join operator; rather than a custom SparkPlan,
    * this composes it scale-correctly as ONE shuffle: union both streams,
    * per-user window ordered by (ts, click-before-purchase, event_id),
    * running `last(click_ts, ignoreNulls)` — O(n log n) per user
    * partition, no join at all, no state larger than a row. The DuckDB
    * oracle uses its native ASOF JOIN operator, so the composition is
    * cross-validated against an independent first-class implementation.
    */
  val q56 = oracled(
    "q56_asof_join",
    "as-of join (purchase -> latest preceding click) as one window pass",
    """SELECT p.event_id, p.user_id,
         strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
         strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
         epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
       FROM (SELECT * FROM events WHERE event_type = 'purchase') p
       ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
         ON p.user_id = c.user_id AND p.ts >= c.ts
       ORDER BY p.event_id""") { (s, dir) =>
    val ev = Tables.events(s, dir)
      .filter(col("event_type").isin("purchase", "click"))
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
    // clicks sort before purchases at equal ts so ties match ASOF's >=
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"),
        when(col("event_type") === "click", 0).otherwise(1),
        col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("click_ts_raw",
        when(col("event_type") === "click", col("ts")))
      .withColumn("last_click", last(col("click_ts_raw"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase" && col("last_click").isNotNull)
      .select(
        col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
        date_format(col("last_click"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
        (unix_micros(col("ts")) - unix_micros(col("last_click"))).as("gap_us"))
      .orderBy(col("event_id"))
  }

  /** q57 — generator/flatten coverage: explode tokens, global top-10 by
    * frequency (explode → hash agg → TakeOrderedAndProject).
    */
  val q57 = oracled(
    "q57_token_explode_topk",
    "explode(split) -> token frequency -> top-10",
    """SELECT tok, COUNT(*) AS n
       FROM (SELECT unnest(string_split(trim(text), ' ')) AS tok FROM documents)
       GROUP BY tok
       ORDER BY n DESC, tok
       LIMIT 10""") { (s, dir) =>
    Tables.documents(s, dir)
      .select(explode(split(trim(col("text")), " ")).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok"))
      .limit(10)
  }

  /** q58 — exact interpolated percentiles per group (median + p90 of
    * customer balances), spelled out as integer order-statistic
    * arithmetic through the shared [[graft.plans.ExactQuantile]]
    * template (r10: the engine `percentile`/`quantile_cont` pair this
    * query used through r9 is the construct class that produced every
    * rounds-6..8 driver red — interpolation/float policy is
    * engine-version property, not semantics; "matched for 2+ rounds"
    * was survivorship, not proof). Values are exact CENTS; both
    * quantiles share the ×10 unit (p=5/10 and p=9/10), so the gate
    * columns are BIGINT tenth-of-cents: caller's one division is
    * ·0.001. Rank selection is the template's two-scan histogram
    * narrowing (q194's shape) — no total sort, no per-row rank; the 4
    * selected order statistics per segment ride a targets-sized
    * broadcast.
    */
  val q58 = oracled(
    "q58_percentiles",
    "exact interpolated median/p90 per segment (integer order-statistic arithmetic)",
    """WITH qsrc AS (
         SELECT c_mktsegment,
           CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
         FROM customer),
       """ +
      graft.plans.ExactQuantile.oracleCtes("e", "qsrc", Seq("c_mktsegment"),
        Seq(graft.plans.ExactQuantile.Q("median_x10_cents", 5, 10),
          graft.plans.ExactQuantile.Q("p90_x10_cents", 9, 10))) +
      """
       SELECT c_mktsegment, CAST(n AS BIGINT) AS n,
         CAST(median_x10_cents AS BIGINT) AS median_x10_cents,
         CAST(p90_x10_cents AS BIGINT) AS p90_x10_cents
       FROM eq ORDER BY c_mktsegment""") { (s, dir) =>
    import graft.plans.ExactQuantile
    val cents = Tables.customer(s, dir).select(col("c_mktsegment"),
      (col("c_acctbal").cast("decimal(12,2)") * 100).cast("long").as("cents"))
    ExactQuantile.grouped(cents, Seq("c_mktsegment"), "cents",
        Seq(ExactQuantile.Q("median_x10_cents", 5, 10),
          ExactQuantile.Q("p90_x10_cents", 9, 10)))
      .orderBy(col("c_mktsegment"))
  }

  /** q87 — funnel analysis (view → click → purchase): per user, the
    * earliest view, the earliest click AFTER that view, and the earliest
    * purchase AFTER that click, counted per completed stage. Each stage
    * is a conditional-min aggregate gated by the PREVIOUS stage's
    * per-user scalar (one row per user, broadcast) — events join
    * per-user thresholds, never other events, so every shuffle is
    * O(events) or O(users) and nothing is O(events²). Timestamps
    * compare as microsecond instants in both engines.
    */
  val q87 = oracled(
    "q87_funnel_stages",
    "view→click→purchase funnel completion counts, join-free",
    """WITH v AS (
         SELECT user_id, MIN(ts) AS t_view FROM events
         WHERE event_type = 'view' GROUP BY user_id),
       c AS (
         SELECT e.user_id, MIN(e.ts) AS t_click
         FROM events e JOIN v ON e.user_id = v.user_id
         WHERE e.event_type = 'click' AND e.ts > v.t_view
         GROUP BY e.user_id),
       p AS (
         SELECT e.user_id, MIN(e.ts) AS t_purchase
         FROM events e JOIN c ON e.user_id = c.user_id
         WHERE e.event_type = 'purchase' AND e.ts > c.t_click
         GROUP BY e.user_id)
       SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_viewed,
              CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_clicked_after,
              CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_purchased_after""") { (s, dir) =>
    val ev = Tables.events(s, dir).select(col("user_id"), col("event_type"), col("ts"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
    val c = ev.filter(col("event_type") === "click")
      .join(broadcast(v), "user_id")
      .filter(col("ts") > col("t_view"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(broadcast(c), "user_id")
      .filter(col("ts") > col("t_click"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
    v.agg(count(lit(1)).as("n_viewed"))
      .crossJoin(c.agg(count(lit(1)).as("n_clicked_after")))
      .crossJoin(p.agg(count(lit(1)).as("n_purchased_after")))
  }

  /** q115 — SCD type-2 interval construction: turn a change stream into
    * versioned validity intervals (valid_from/valid_to, latest open as
    * '(current)') per key — the dimension-history build every warehouse
    * runs, by [[scd2Intervals]]. Event-time ties break on event_id at the
    * engines' shared microsecond precision.
    */
  val q115 = oracled(
    "q115_scd2_intervals",
    "SCD2 validity intervals from a change stream (lag-change, running version, lead-close)",
    """WITH e AS (
         SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS t
         FROM events WHERE user_id < 10),
       m AS (SELECT *, CASE WHEN LAG(event_type) OVER w IS DISTINCT FROM event_type
                 THEN 1 ELSE 0 END AS chg
         FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
       v AS (SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY t, event_id
                 ROWS UNBOUNDED PRECEDING) AS version FROM m),
       iv AS (SELECT user_id, version, event_type, MIN(t) AS vf, COUNT(*) AS n_events
         FROM v GROUP BY user_id, version, event_type)
       SELECT user_id, CAST(version AS BIGINT) AS version, event_type,
         strftime(vf, '%Y-%m-%d %H:%M:%S') AS valid_from,
         COALESCE(strftime(LEAD(vf) OVER (PARTITION BY user_id ORDER BY version),
           '%Y-%m-%d %H:%M:%S'), '(current)') AS valid_to,
         CAST(n_events AS BIGINT) AS n_events
       FROM iv ORDER BY user_id, version""") { (s, dir) =>
    val e = Tables.events(s, dir).filter(col("user_id") < 10)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts").as("t"))
    scd2Intervals(e, "user_id", Seq("t", "event_id"), "event_type", "t")
      .select(col("user_id"), col("run").as("version"), col("event_type"),
        date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
        coalesce(date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss"),
          lit("(current)")).as("valid_to"),
        col("n").as("n_events"))
      .orderBy(col("user_id"), col("version"))
  }

  /** SCD type-2 islands, the dimension-history build of q115 and q219:
    * per `key`, rows in `order` collapse into runs of equal `attr`. The
    * change flag is a null-safe lag compare, the run id a running sum of
    * flags, each run one group (start = min `at`, n = its rows), and a
    * lead over run starts closes every interval — three window passes
    * over one `key` partitioning, no self-join. Returns (key, run, attr,
    * valid_from, n, valid_to); valid_to is NULL for the open run.
    */
  private[operators] def scd2Intervals(df: DataFrame, key: String,
      order: Seq[String], attr: String, at: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(order.map(col): _*)
    df.withColumn("chg",
        when(not(col(attr) <=> lag(col(attr), 1).over(w)), 1L).otherwise(0L))
      .withColumn("run",
        sum(col("chg")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .groupBy(col(key), col("run"), col(attr))
      .agg(min(col(at)).as("valid_from"), count(lit(1)).as("n"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(
        Window.partitionBy(col(key)).orderBy(col("run"))))
  }

  /** q117 — event-time RANGE window frames: per-user rolling 1-hour
    * count and exact-decimal sum, where the frame is bounded by a TIME
    * interval, not a row count (ROWS frames are q14's territory). The
    * engine resolves `RANGE BETWEEN INTERVAL '1' HOUR PRECEDING AND
    * CURRENT ROW` over the timestamp ordering — one window shuffle on
    * user_id; frame peers at equal timestamps are included by RANGE
    * semantics in both engines.
    */
  val q117 = sqlSurface(
    "q117_time_range_frame",
    "rolling 1-hour RANGE frame per user (time-bounded, not row-bounded)",
    """SELECT user_id, event_id,
         CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_1h
       FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS t, value
             FROM events WHERE user_id < 20)
       WINDOW w AS (PARTITION BY user_id ORDER BY t
         RANGE BETWEEN INTERVAL '1' HOUR PRECEDING AND CURRENT ROW)
       ORDER BY user_id, event_id""",
    "events")

  /** q126 — the custom physical as-of operator through the correctness
    * gate: the SAME query as q56, executed by
    * [[graft.plans.AsOfJoinExec]] (logical node + strategy + streaming
    * sort-merge exec, O(1) state per partition) instead of the window
    * composition, against DuckDB's native ASOF JOIN. With q56 this
    * triangulates three independent implementations of the operator —
    * window composition, custom exec, DuckDB native — on one oracle.
    */
  val q126 = oracled(
    "q126_asof_custom_exec",
    "as-of join via the custom AsOfJoinExec physical operator (q56's oracle)",
    """SELECT p.event_id, p.user_id,
         strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
         strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
         epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
       FROM (SELECT * FROM events WHERE event_type = 'purchase') p
       ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
         ON p.user_id = c.user_id AND p.ts >= c.ts
       ORDER BY p.event_id""") { (s, dir) =>
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_event_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    graft.plans.AsOfJoin.asofJoin(purchases, clicks, "p_user", "p_ts", "c_user", "c_ts")
      .select(col("p_event_id").as("event_id"), col("p_user").as("user_id"),
        date_format(col("p_ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
        date_format(col("c_ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
        (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("gap_us"))
      .orderBy(col("event_id"))
  }

  /** q128 — timezone normalization: distribute UTC event times into a
    * fixed-offset local zone (+05:30) and histogram the local hour —
    * the "when are users actually active" rollup. The offset is FIXED
    * on purpose: named zones drag in tzdata whose versions differ
    * between engines (and over time); a fixed offset is pure interval
    * arithmetic, identical everywhere. Spark side goes through
    * `convert_timezone` (the real operator); the oracle adds the
    * interval — provably the same function for fixed offsets.
    */
  val q128 = oracled(
    "q128_timezone_local_hour",
    "fixed-offset (+05:30) local-hour activity histogram via convert_timezone",
    """SELECT local_hour, CAST(COUNT(*) AS BIGINT) AS n FROM (
         SELECT EXTRACT(hour FROM CAST(ts AS TIMESTAMP)
           + INTERVAL '5 hours 30 minutes') AS local_hour
         FROM events)
       GROUP BY local_hour ORDER BY local_hour""") { (s, dir) =>
    Tables.events(s, dir)
      .select(hour(convert_timezone(lit("UTC"), lit("+05:30"), col("ts")))
        .cast("long").as("local_hour"))
      .groupBy(col("local_hour"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("local_hour"))
  }

  /** q133 — user-journey path analysis: each user's first five events
    * in time order collapse to a `a->b->c` path string, and the top
    * journeys by user count surface the dominant flows (the
    * path-analysis complement of q87's fixed-funnel counting). The
    * ordered sequence is built with the sort_array(collect_list(struct))
    * idiom — collect_list alone has NO ordering guarantee under
    * partitioned aggregation; sorting the collected (rn, type) structs
    * inside the row restores a deterministic order at any parallelism.
    */
  val q133 = oracled(
    "q133_user_journeys",
    "top-10 first-five-event journeys (ordered path aggregation)",
    """WITH ranked AS (
         SELECT user_id, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id
             ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
         FROM events),
       j AS (
         SELECT user_id, string_agg(event_type, '->' ORDER BY rn) AS journey
         FROM ranked WHERE rn <= 5 GROUP BY user_id)
       SELECT journey, CAST(COUNT(*) AS BIGINT) AS n_users
       FROM j GROUP BY journey ORDER BY n_users DESC, journey LIMIT 10""") { (s, dir) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .groupBy(col("user_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("rn"), col("event_type")))),
          x => x.getField("event_type")), "->").as("journey"))
      .groupBy(col("journey"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("journey"))
      .limit(10)
  }

  /** Bucket width for q153's interval-join expansion: 4 days. Intervals
    * are at most 3 days long (o_orderkey % 3 + 1), so each expands to at
    * most 2 buckets — the expansion factor is bounded by
    * ceil(max_len / width) + 1 BY CONSTRUCTION, never by data.
    */
  private val RangeBucketDays = 4L

  /** q153 — interval (range) join where NEITHER side is broadcastable:
    * each urgent order opens a promo window [orderdate, orderdate +
    * 1..3 days) and is matched to every heavy shipment (quantity >= 49,
    * ANY order) shipping inside its window. Spark's native plan for a
    * pure range predicate between two large sides is a broadcast
    * nested-loop join — O(|A|·|B|) comparisons and a broadcast that dies
    * at scale. This is the standard fix: quantize time into fixed
    * buckets, EXPLODE each interval to the <= 2 buckets it covers
    * (`sequence` — scan-side, no shuffle), tag each point with its ONE
    * bucket, equi-join on the bucket id (plain shuffle hash join,
    * partition-parallel), then apply the exact range predicate as a
    * post-filter. Each (point, interval) pair meets in exactly one
    * bucket — the point's — so no dedup pass is needed. All arithmetic
    * is integer DAYS since epoch (the fixture's timestamps are pure
    * dates; day arithmetic is timezone-free on both engines, unlike
    * epoch-ms on a TIMESTAMP_NTZ); the DuckDB oracle runs the same
    * semantics as a declarative BETWEEN join on its native
    * inequality-join operator (IEJoin) — two independent evaluation
    * strategies. At 100 TB the bucketed join shuffles each row once and
    * the per-bucket work is bounded by temporal density, not table size.
    */
  val q153 = oracled(
    "q153_bucketed_range_join",
    "non-broadcast interval join via bucket expansion == DuckDB IEJoin BETWEEN oracle",
    """WITH iv AS (SELECT o_orderkey,
           CAST(o_orderdate::DATE - DATE '1970-01-01' AS BIGINT) AS st_d,
           CAST(o_orderdate::DATE - DATE '1970-01-01' AS BIGINT)
             + (o_orderkey % 3) + 1 AS en_d
         FROM orders WHERE o_orderpriority = '1-URGENT'),
       pr AS (SELECT CAST(l_shipdate::DATE - DATE '1970-01-01' AS BIGINT) AS p_d,
           l_quantity
         FROM lineitem WHERE l_quantity >= 49)
       SELECT iv.o_orderkey, CAST(COUNT(*) AS BIGINT) AS n_shipments,
         CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
       FROM iv JOIN pr ON pr.p_d >= iv.st_d AND pr.p_d < iv.en_d
       GROUP BY iv.o_orderkey ORDER BY iv.o_orderkey""") { (s, dir) =>
    def days(c: org.apache.spark.sql.Column) =
      datediff(c.cast("date"), lit("1970-01-01")).cast("long")
    val iv = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), days(col("o_orderdate")).as("st_d"))
      .withColumn("en_d", col("st_d") + (col("o_orderkey") % 3 + 1))
      // interval -> every bucket it covers (<= 2 by construction)
      .withColumn("bucket",
        explode(sequence(expr(s"st_d div $RangeBucketDays"),
          expr(s"(en_d - 1) div $RangeBucketDays"))))
    val pr = Tables.lineitem(s, dir)
      .filter(col("l_quantity") >= 49)
      .select(days(col("l_shipdate")).as("p_d"), col("l_quantity"))
      .withColumn("bucket", expr(s"p_d div $RangeBucketDays"))
    iv.join(pr, iv("bucket") === pr("bucket")
        && col("p_d") >= col("st_d") && col("p_d") < col("en_d"))
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_shipments"),
        sum(col("l_quantity")).cast("long").as("sum_qty"))
      .orderBy(col("o_orderkey"))
  }

  /** q159 — time-weighted average (the IoT/finance aggregate plain AVG
    * gets wrong on irregularly-sampled series): each reading is weighted
    * by how long it was current — Σ value·Δt / Σ Δt per user, Δt from
    * the NEXT event's timestamp (last reading carries no weight).
    * Determinism: Δt is exact BIGINT micros, value goes through the
    * fixture's DECIMAL(18,2) convention, so the weighted sum is an exact
    * DECIMAL × BIGINT product — order-independent, partial-agg
    * mergeable; the average is published as the exact rational
    * (twa_num_cents_us, twa_den_us) pair — the q234/q235 template
    * (ROUNDDIV burndown, VERDICT r10 #7): numerator = Σ value·Δt in
    * cents·µs (decimal sum ×100 cast once to BIGINT — bounded by
    * max_cents · user's observed span, < 2^63 for any series under
    * ~2·10¹⁵ cent-years), denominator = Σ Δt µs. One window pass (user
    * partitioning — the same high-cardinality key as q13/q14/q117) +
    * one hash aggregate.
    */
  val q159 = oracled(
    "q159_time_weighted_avg",
    "per-user time-weighted average value (exact rational cents-microseconds pair)",
    """WITH o AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t,
           CAST(value AS DECIMAL(18,2)) AS v,
           LEAD(epoch_us(CAST(ts AS TIMESTAMP))) OVER
             (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS t2
         FROM events),
       w AS (SELECT user_id, v * (t2 - t) AS vw, t2 - t AS dt
         FROM o WHERE t2 IS NOT NULL)
       SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_intervals,
         CAST(SUM(vw) * 100 AS BIGINT) AS twa_num_cents_us,
         CAST(SUM(dt) AS BIGINT) AS twa_den_us
       FROM w GROUP BY user_id ORDER BY user_id""") { (s, dir) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        unix_micros(col("ts")).as("t"), dec2(col("value")).as("v"))
      .withColumn("t2", lead(col("t"), 1).over(w))
      .filter(col("t2").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_intervals"),
        (sum(col("v") * (col("t2") - col("t"))) * 100).cast("long")
          .as("twa_num_cents_us"),
        sum(col("t2") - col("t")).cast("long").as("twa_den_us"))
      .orderBy(col("user_id"))
  }

  /** One scanned row of [[cappedRunningBalance]]'s input: exact signed
    * cents, ordered per user by (t, event_id).
    */
  private[graft] final case class BalanceDelta(
      user_id: Long, t: Long, event_id: Long, delta: Long)

  /** Per-user result of the capped scan. */
  private[graft] final case class BalanceOut(
      user_id: Long, final_cents: Long, n_clamps: Long, n_events: Long)

  /** Sequential capped scan: bal' = max(0, bal + delta) per user in
    * (t, event_id) order — rate-limiter / stock-level semantics. The
    * clamp makes this NON-windowable (max(0, ·) between every pair of
    * prefix-sum terms has no closed form), so it is the textbook
    * justification for SURVEY §5's mapPartitions carve-out: repartition
    * on the key, sortWithinPartitions by (key, time) — Spark's secondary
    * sort — then ONE forward pass per partition with O(1) state and a
    * key-change reset. No group is ever collected; memory is constant
    * regardless of how many events one user has (the flatMapGroups
    * alternative buffers a whole user's history).
    */
  private[graft] def cappedRunningBalance(
      deltas: org.apache.spark.sql.Dataset[BalanceDelta])
      : org.apache.spark.sql.Dataset[BalanceOut] = {
    import deltas.sparkSession.implicits._
    deltas
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("t"), col("event_id"))
      .mapPartitions { it =>
        new Iterator[BalanceOut] {
          private var cur = -1L
          private var bal = 0L
          private var clamps = 0L
          private var n = 0L
          private var pending: BalanceOut = _
          private var done = false
          private def emit(): BalanceOut = BalanceOut(cur, bal, clamps, n)
          override def hasNext: Boolean = {
            if (pending != null) return true
            while (it.hasNext) {
              val d = it.next()
              if (d.user_id != cur && n > 0) {
                pending = emit()
                cur = d.user_id; bal = 0L; clamps = 0L; n = 0L
              } else if (n == 0) cur = d.user_id
              val nb = bal + d.delta
              if (nb < 0) { bal = 0L; clamps += 1 } else bal = nb
              n += 1
              if (pending != null) return true
            }
            if (!done && n > 0) { pending = emit(); done = true }
            pending != null
          }
          override def next(): BalanceOut = {
            if (!hasNext) throw new NoSuchElementException
            val r = pending; pending = null; r
          }
        }
      }
  }

  /** q161 — capped running balance: per user, fold signed cents
    * (credits for signup/purchase, debits otherwise) through
    * bal' = max(0, bal + delta) in event order, reporting the final
    * balance and how often the floor clamped. Spark side is the
    * secondary-sort scan above (genuinely sequential per key — the S5
    * carve-out earned, not assumed); the DuckDB oracle computes the same
    * fold declaratively as a recursive CTE stepping rn -> rn+1 per user.
    * All arithmetic is exact BIGINT cents (the dec2 × 100 convention),
    * so two utterly different evaluation strategies hash-match.
    */
  val q161 = oracled(
    "q161_capped_running_balance",
    "per-user clamped-at-zero running balance: secondary-sort scan == recursive-CTE fold",
    """WITH RECURSIVE o AS (
         SELECT user_id, event_id,
           CASE WHEN event_type IN ('purchase', 'signup')
                THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                ELSE -CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END AS delta,
           row_number() OVER
             (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
         FROM events),
       rec(user_id, rn, bal, clamps) AS (
         SELECT user_id, rn, GREATEST(delta, 0),
           CASE WHEN delta < 0 THEN 1 ELSE 0 END
         FROM o WHERE rn = 1
         UNION ALL
         SELECT o.user_id, o.rn, GREATEST(rec.bal + o.delta, 0),
           rec.clamps + CASE WHEN rec.bal + o.delta < 0 THEN 1 ELSE 0 END
         FROM rec JOIN o ON o.user_id = rec.user_id AND o.rn = rec.rn + 1),
       fin AS (SELECT user_id, MAX(rn) AS mrn FROM o GROUP BY user_id)
       SELECT r.user_id, CAST(r.bal AS BIGINT) AS final_cents,
         CAST(r.clamps AS BIGINT) AS n_clamps, CAST(f.mrn AS BIGINT) AS n_events
       FROM rec r JOIN fin f ON f.user_id = r.user_id AND r.rn = f.mrn
       ORDER BY r.user_id""") { (s, dir) =>
    import s.implicits._
    val cents = (dec2(col("value")) * 100).cast("long")
    val deltas = Tables.events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("t"), col("event_id"),
        when(col("event_type").isin("purchase", "signup"), cents)
          .otherwise(-cents).as("delta"))
      .as[BalanceDelta]
    cappedRunningBalance(deltas)
      .toDF()
      .orderBy(col("user_id"))
  }

  /** q163 — the SAME interval-join semantics as q153, but written as the
    * naive range join and rewritten to the bucket equi-join by the
    * injected optimizer rule ([[graft.plans.RangeJoinBucketing]]) — the
    * automatic path vs q153's manual composition, both through the same
    * DuckDB BETWEEN oracle. The width conf is scoped to a CLONED session
    * that plans only this query: the width is workload knowledge for
    * this one join, and a set/restore window on the shared session's
    * conf would leak the rewrite to any join planned concurrently.
    */
  val q163 = oracled(
    "q163_range_join_rule",
    "optimizer-rule-bucketed range join (RangeJoinBucketing) == DuckDB BETWEEN oracle",
    """WITH iv AS (SELECT o_orderkey,
           CAST(o_orderdate::DATE - DATE '1970-01-01' AS BIGINT) AS st_d,
           CAST(o_orderdate::DATE - DATE '1970-01-01' AS BIGINT)
             + (o_orderkey % 3) + 1 AS en_d
         FROM orders WHERE o_orderpriority = '1-URGENT'),
       pr AS (SELECT CAST(l_shipdate::DATE - DATE '1970-01-01' AS BIGINT) AS p_d,
           l_quantity
         FROM lineitem WHERE l_quantity >= 49)
       SELECT iv.o_orderkey, CAST(COUNT(*) AS BIGINT) AS n_shipments,
         CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
       FROM iv JOIN pr ON pr.p_d >= iv.st_d AND pr.p_d < iv.en_d
       GROUP BY iv.o_orderkey ORDER BY iv.o_orderkey""") { (s, dir) =>
    val sw = s.newSession() // conf-isolated; shares context and data
    graft.plans.GraftExtensions.register(sw) // installs the rule on the clone
    sw.conf.set("spark.graft.rangeJoin.bucketWidth", RangeBucketDays.toString)
    def days(c: org.apache.spark.sql.Column) =
      datediff(c.cast("date"), lit("1970-01-01")).cast("long")
    val iv = Tables.orders(sw, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), days(col("o_orderdate")).as("st_d"))
      .withColumn("en_d", col("st_d") + (col("o_orderkey") % 3 + 1))
    val pr = Tables.lineitem(sw, dir)
      .filter(col("l_quantity") >= 49)
      .select(days(col("l_shipdate")).as("p_d"), col("l_quantity"))
    iv.join(pr, col("p_d") >= col("st_d") && col("p_d") < col("en_d"))
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_shipments"),
        sum(col("l_quantity")).cast("long").as("sum_qty"))
      .orderBy(col("o_orderkey"))
  }

  /** q178 — peak concurrency by sweep-line: how many user-day activity
    * intervals overlap at the busiest instant. The classic interval
    * problem every capacity/sessions dashboard runs, solved the only
    * way that scales: each interval becomes a +1 (start) and a −1 (end)
    * delta event, and the answer is the max of the running delta sum in
    * (time, delta) order — ends sort before starts at the same instant,
    * so half-open [start, end) semantics and zero-length intervals
    * never inflate the peak. The running sum is a GLOBAL ordered prefix
    * sum — the single-task window trap — so it runs through the
    * two-level [[graft.plans.PrefixSum]] scan (the q98/q151 scale
    * path): bucket subtotals + offset broadcast, every task sorting
    * only its slice. Peak instant is the earliest time attaining the
    * max (tie-order within an instant can't change it: all −1s apply
    * first, and a run of equal deltas yields the same value multiset in
    * any order).
    */
  val q178 = oracled(
    "q178_peak_concurrency",
    "sweep-line max overlapping user-day activity intervals + earliest peak instant",
    """WITH iv AS (
         SELECT user_id, CAST(ts AS TIMESTAMP)::DATE AS day,
           MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS s,
           MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS e
         FROM events GROUP BY 1, 2),
       d AS (SELECT s AS tu, 1 AS dd FROM iv
             UNION ALL SELECT e, -1 FROM iv),
       r AS (SELECT tu, SUM(dd) OVER (ORDER BY tu, dd
               ROWS UNBOUNDED PRECEDING) AS run FROM d),
       m AS (SELECT MAX(run) AS mx FROM r)
       SELECT CAST((SELECT COUNT(*) FROM iv) AS BIGINT) AS n_intervals,
         CAST(mx AS BIGINT) AS max_concurrent,
         strftime(make_timestamp((SELECT MIN(tu) FROM r WHERE run = mx)),
           '%Y-%m-%d %H:%M:%S') AS peak_instant
       FROM m""") { (s, dir) =>
    val iv = Tables.events(s, dir)
      .select(col("user_id"), col("ts").cast("date").as("day"),
        unix_micros(col("ts")).as("us"))
      .groupBy(col("user_id"), col("day"))
      .agg(min(col("us")).as("s"), max(col("us")).as("e"))
    val deltas = iv.select(col("s").as("tu"), lit(1L).as("dd"))
      .unionByName(iv.select(col("e").as("tu"), lit(-1L).as("dd")))
      .withColumn("g", lit(0))
    val run = graft.plans.PrefixSum.withRunningTotal(
      deltas, "run", Seq("g"), "tu", "dd", tiebreaks = Seq(col("dd")))
    // max run + earliest instant attaining it in ONE pass: lexicographic
    // struct max over (run, -tu) — among max-run rows, max(-tu) = min tu
    val peak = run.agg(max(struct(col("run"), (-col("tu")).as("ntu"))).as("pk"))
    iv.agg(count(lit(1)).as("n_intervals"))
      .crossJoin(peak)
      .select(col("n_intervals"),
        col("pk.run").cast("long").as("max_concurrent"),
        date_format(timestamp_micros(-col("pk.ntu")), "yyyy-MM-dd HH:mm:ss")
          .as("peak_instant"))
  }

  /** q179 — half-life recency weighting in EXACT integer arithmetic:
    * per item, Σ weight·2^(K−age_days) over the last K=20 days — the
    * freshness prior a data-mixing or trending stage multiplies into
    * its sampling weights. Doubles make exponential decay
    * order-dependent (summing a million decayed terms in different
    * partition orders drifts ulps); powers of two make it EXACT — the
    * per-event term `w << (K − age)` is a BIGINT, the sum is
    * associative, and Spark's distributed aggregation is bit-identical
    * to the oracle's serial one. One scan, one partial-aggregated
    * shuffle on item_id; the reference epoch (max event date) folds in
    * as a 1-row broadcast, not a driver round-trip.
    */
  val q179 = oracled(
    "q179_decayed_popularity",
    "per-item half-life decayed score (exact BIGINT 2^(K-age) weights, K=20 days)",
    """WITH e AS (
         SELECT event_id % 100 AS item_id, CAST(ts AS TIMESTAMP)::DATE AS day,
           CAST(FLOOR(value * 100) AS BIGINT) AS w FROM events),
       mx AS (SELECT MAX(day) AS d0 FROM e)
       SELECT item_id,
         CAST(SUM(CASE WHEN (SELECT d0 FROM mx) - day <= 20
           THEN w * CAST(POW(2, 20 - ((SELECT d0 FROM mx) - day)) AS BIGINT)
           ELSE 0 END) AS BIGINT) AS decayed_score,
         CAST(COUNT(*) AS BIGINT) AS n_events
       FROM e GROUP BY item_id ORDER BY decayed_score DESC, item_id""") { (s, dir) =>
    val e = Tables.events(s, dir)
      .select((col("event_id") % 100).as("item_id"),
        col("ts").cast("date").as("day"),
        floor(col("value") * 100).cast("long").as("w"))
    val d0 = e.agg(max(col("day")).as("d0"))
    e.crossJoin(broadcast(d0))
      .withColumn("age", datediff(col("d0"), col("day")))
      .groupBy(col("item_id"))
      .agg(
        sum(when(col("age") <= 20,
          expr("w * shiftleft(CAST(1 AS BIGINT), 20 - age)"))
          .otherwise(0L)).cast("long").as("decayed_score"),
        count(lit(1)).as("n_events"))
      .orderBy(col("decayed_score").desc, col("item_id"))
  }

  /** One scanned row of [[cusumScan]]'s input: per (item, epoch-day)
    * pre-mixed increment x = 10·count − ref, ordered per item by t.
    */
  private[graft] final case class CusumRow(item_id: Long, t: Long, x: Long)

  /** Per-item result of the CUSUM scan: the peak statistic, the FIRST
    * day attaining it, the end-of-span statistic, and the span length.
    */
  private[graft] final case class CusumOut(
      item_id: Long, peak_s: Long, peak_t: Long, final_s: Long, n_days: Long)

  /** Sequential one-sided CUSUM: s' = max(0, s + x) per item in day
    * order, tracking the running peak and its earliest day — the same
    * non-windowable clamped fold as [[cappedRunningBalance]] (the q161
    * carve-out), with the peak/argmax ride-along. O(1) state per
    * partition, key-change reset, no group buffering.
    */
  private[graft] def cusumScan(
      rows: org.apache.spark.sql.Dataset[CusumRow])
      : org.apache.spark.sql.Dataset[CusumOut] = {
    import rows.sparkSession.implicits._
    rows
      .repartition(col("item_id"))
      .sortWithinPartitions(col("item_id"), col("t"))
      .mapPartitions { it =>
        new Iterator[CusumOut] {
          private var cur = -1L
          private var s = 0L
          private var peak = -1L
          private var peakT = 0L
          private var n = 0L
          private var pending: CusumOut = _
          private var done = false
          private def emit(): CusumOut = CusumOut(cur, peak, peakT, s, n)
          override def hasNext: Boolean = {
            if (pending != null) return true
            while (it.hasNext) {
              val d = it.next()
              if (d.item_id != cur && n > 0) {
                pending = emit()
                cur = d.item_id; s = 0L; peak = -1L; peakT = 0L; n = 0L
              } else if (n == 0) cur = d.item_id
              s = math.max(0L, s + d.x)
              if (s > peak) { peak = s; peakT = d.t }
              n += 1
              if (pending != null) return true
            }
            if (!done && n > 0) { pending = emit(); done = true }
            pending != null
          }
          override def next(): CusumOut = {
            if (!hasNext) throw new NoSuchElementException
            val r = pending; pending = null; r
          }
        }
      }
  }

  /** q196 — CUSUM drift monitor per item: the one-sided cumulative-sum
    * statistic S_t = max(0, S_{t-1} + x_t) over each item's ZERO-FILLED
    * daily event counts (gaps are evidence — a calendar grid via
    * `sequence(d0, d1)` supplies the zero days a groupBy alone would
    * silently skip), with x_t = 10·count_t − ref and ref = the item's
    * scaled mean daily rate plus half a unit of slack. This is the
    * standard sequential changepoint screen a pipeline runs over
    * ingest volumes: the PEAK statistic and its first day localize the
    * strongest upward drift, the final statistic says whether it is
    * still running. The clamp is the q161 non-windowable fold, so the
    * Spark side is the same secondary-sort O(1)-state scan
    * ([[cusumScan]]) and the oracle the same unrolled recursive-CTE
    * fold — all BIGINT (counts ×10), no doubles anywhere.
    */
  val q196 = oracled(
    "q196_cusum_drift",
    "per-item one-sided CUSUM over zero-filled daily counts: peak, first peak day, final",
    """WITH RECURSIVE e AS (
         SELECT event_id % 100 AS item_id, CAST(ts AS TIMESTAMP)::DATE AS day
         FROM events),
       daily AS (SELECT item_id, day, COUNT(*) AS c FROM e GROUP BY 1, 2),
       span AS (SELECT item_id, MIN(day) AS d0, MAX(day) AS d1,
           CAST(SUM(c) AS BIGINT) AS t FROM daily GROUP BY 1),
       days AS MATERIALIZED (
         SELECT s.item_id, CAST(g.d AS DATE) AS day, s.t, s.d0, s.d1
         FROM span s,
           UNNEST(generate_series(s.d0, s.d1, INTERVAL 1 DAY)) AS g(d)),
       grid AS MATERIALIZED (
         SELECT dy.item_id, dy.day,
           10 * COALESCE(d.c, 0)
             - ((10 * dy.t) // (dy.d1 - dy.d0 + 1) + 5) AS x,
           row_number() OVER (PARTITION BY dy.item_id ORDER BY dy.day) AS rn
         FROM days dy
         LEFT JOIN daily d ON d.item_id = dy.item_id AND d.day = dy.day),
       rec(item_id, rn, s, peak, peak_rn) AS (
         SELECT item_id, rn, GREATEST(x, 0), GREATEST(x, 0), 1
         FROM grid WHERE rn = 1
         UNION ALL
         SELECT g.item_id, g.rn, GREATEST(r.s + g.x, 0),
           CASE WHEN GREATEST(r.s + g.x, 0) > r.peak
                THEN GREATEST(r.s + g.x, 0) ELSE r.peak END,
           CASE WHEN GREATEST(r.s + g.x, 0) > r.peak
                THEN g.rn ELSE r.peak_rn END
         FROM rec r JOIN grid g ON g.item_id = r.item_id AND g.rn = r.rn + 1),
       fin AS (SELECT item_id, MAX(rn) AS mrn FROM grid GROUP BY 1)
       SELECT r.item_id, CAST(r.peak AS BIGINT) AS peak_s, g2.day AS peak_day,
         CAST(r.s AS BIGINT) AS final_s, CAST(f.mrn AS BIGINT) AS n_days
       FROM rec r
       JOIN fin f ON f.item_id = r.item_id AND r.rn = f.mrn
       JOIN grid g2 ON g2.item_id = r.item_id AND g2.rn = r.peak_rn
       ORDER BY r.item_id""") { (s, dir) =>
    import s.implicits._
    val day = col("ts").cast("date")
    val e = Tables.events(s, dir)
      .select((col("event_id") % 100).as("item_id"), day.as("day"))
    val daily = e.groupBy(col("item_id"), col("day")).agg(count(lit(1)).as("c"))
    val span = daily.groupBy(col("item_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"),
        sum(col("c")).as("t"))
    val grid = span
      .select(col("item_id"), col("t"),
        (datediff(col("d1"), col("d0")) + 1).cast("long").as("dspan"),
        explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(daily, Seq("item_id", "day"), "left")
      .select(col("item_id"),
        datediff(col("day"), lit("1970-01-01")).cast("long").as("t"),
        (lit(10) * coalesce(col("c"), lit(0L))
          - (expr("(10 * t) div dspan") + 5)).as("x"))
      .as[CusumRow]
    cusumScan(grid)
      .toDF()
      .select(col("item_id"), col("peak_s"),
        date_add(lit("1970-01-01").cast("date"), col("peak_t").cast("int"))
          .as("peak_day"),
        col("final_s"), col("n_days"))
      .orderBy(col("item_id"))
  }

  /** Per-user funnel stage timestamps over an event log already
    * projected to (user_id, us, event_id, event_type): the first 'view',
    * the first 'click' at-or-after that view, and the first 'purchase'
    * at-or-after that qualified click — the ordered-prefix semantics
    * every product-analytics funnel uses (a click BEFORE the user's
    * first view does not convert; re-orderings within the same
    * microsecond resolve by event_id, identically on both engines).
    *
    * One window shuffle on user_id does all the sequencing: a running
    * `min(view us)` marks each row's funnel entry, a second running min
    * over view-qualified clicks marks click conversion, and the final
    * groupBy(user_id) — same key, zero extra exchanges — collapses to
    * one row per user. No self-joins, no per-user collect: at 100 TB
    * this is one shuffle of the event log and nothing else.
    * Output: (user_id, v_us, c_us, p_us), later stages null when the
    * user never reached them.
    */
  private[graft] def funnelPerUser(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("rv",
        min(when(col("event_type") === "view", col("us"))).over(w))
      .withColumn("qc_us",
        when(col("event_type") === "click" && col("rv").isNotNull, col("us")))
      .withColumn("rc", min(col("qc_us")).over(w))
      .withColumn("qp_us",
        when(col("event_type") === "purchase" && col("rc").isNotNull,
          col("us")))
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", col("us"))).as("v_us"),
        min(col("qc_us")).as("c_us"),
        min(col("qp_us")).as("p_us"))
  }

  /** q218 — funnel conversion: view → click → purchase with ordered
    * first-qualifying semantics (see [[funnelPerUser]]), rolled up to
    * the three stage rows a conversion dashboard shows: users reaching
    * the stage and the total view→stage delay in whole seconds. All
    * outputs are BIGINT (delays floor-divided from exact micros — the
    * repo-wide no-decimal-output rule). The DuckDB oracle rebuilds the
    * same two-layer running-min windows declaratively — an independent
    * formulation of the same prefix semantics.
    */
  val q218 = oracled(
    "q218_funnel_conversion",
    "view→click→purchase funnel: stage reach counts + summed view→stage delay seconds",
    """WITH ev AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
           event_id, event_type
         FROM events WHERE event_type IN ('view', 'click', 'purchase')),
       s1 AS (SELECT *,
           MIN(CASE WHEN event_type = 'view' THEN us END) OVER
             (PARTITION BY user_id ORDER BY us, event_id
              ROWS UNBOUNDED PRECEDING) AS rv
         FROM ev),
       s2 AS (SELECT *,
           MIN(CASE WHEN event_type = 'click' AND rv IS NOT NULL
                    THEN us END) OVER
             (PARTITION BY user_id ORDER BY us, event_id
              ROWS UNBOUNDED PRECEDING) AS rc
         FROM s1),
       per AS (SELECT user_id,
           MIN(CASE WHEN event_type = 'view' THEN us END) AS v_us,
           MIN(CASE WHEN event_type = 'click' AND rv IS NOT NULL
                    THEN us END) AS c_us,
           MIN(CASE WHEN event_type = 'purchase' AND rc IS NOT NULL
                    THEN us END) AS p_us
         FROM s2 GROUP BY user_id),
       g AS (SELECT CAST(COUNT(v_us) AS BIGINT) AS n_view,
           CAST(COUNT(c_us) AS BIGINT) AS n_click,
           CAST(COUNT(p_us) AS BIGINT) AS n_purchase,
           CAST(COALESCE(SUM((c_us - v_us) // 1000000), 0) AS BIGINT) AS cd,
           CAST(COALESCE(SUM((p_us - v_us) // 1000000), 0) AS BIGINT) AS pd
         FROM per)
       SELECT '1_view' AS stage, n_view AS n_users,
         CAST(0 AS BIGINT) AS sum_delay_s FROM g
       UNION ALL SELECT '2_click', n_click, cd FROM g
       UNION ALL SELECT '3_purchase', n_purchase, pd FROM g
       ORDER BY stage""") { (s, dir) =>
    val ev = Tables.events(s, dir)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
    val g = funnelPerUser(ev).agg(
      coalesce(sum(when(col("v_us").isNotNull, 1L)), lit(0L)).as("n_view"),
      coalesce(sum(when(col("c_us").isNotNull, 1L)), lit(0L)).as("n_click"),
      coalesce(sum(when(col("p_us").isNotNull, 1L)), lit(0L))
        .as("n_purchase"),
      coalesce(sum(expr("(c_us - v_us) div 1000000")), lit(0L)).as("cd"),
      coalesce(sum(expr("(p_us - v_us) div 1000000")), lit(0L)).as("pd"))
    g.select(expr(
      """stack(3,
           '1_view', n_view, 0L,
           '2_click', n_click, cd,
           '3_purchase', n_purchase, pd) AS (stage, n_users, sum_delay_s)"""))
      .orderBy(col("stage"))
  }

  /** q219 — SCD Type-2 dimension build: each customer's order-priority
    * history as half-open validity intervals — the slowly-changing-
    * dimension table every warehouse derives from a mutable attribute
    * stream. Orders sort per customer by (date, orderkey); runs of equal
    * priority collapse to one interval [valid_from, valid_to) where
    * valid_to is the next run's start (NULL = current), built by
    * [[scd2Intervals]]: one window shuffle on custkey, then an agg and a
    * second window on the already-tiny run table, both key-compatible
    * with the first shuffle's partitioning. The oracle states the
    * identical islands-and-gaps construction in SQL.
    */
  val q219 = oracled(
    "q219_scd2_priority_history",
    "SCD Type-2 validity intervals of each customer's order priority (islands via lag + running sum)",
    """WITH o AS (SELECT o_custkey, o_orderkey,
           CAST(o_orderdate AS TIMESTAMP)::DATE AS d, o_orderpriority AS pr
         FROM orders),
       f AS (SELECT *,
           CASE WHEN pr IS DISTINCT FROM
                  lag(pr) OVER (PARTITION BY o_custkey
                                ORDER BY d, o_orderkey)
                THEN 1 ELSE 0 END AS chg
         FROM o),
       r AS (SELECT *,
           SUM(chg) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey
                          ROWS UNBOUNDED PRECEDING) AS seq
         FROM f),
       iv AS (SELECT o_custkey, seq, pr,
           MIN(d) AS valid_from, CAST(COUNT(*) AS BIGINT) AS n_orders
         FROM r GROUP BY 1, 2, 3)
       SELECT o_custkey, CAST(seq AS BIGINT) AS seq, pr AS priority,
         valid_from,
         lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY seq)
           AS valid_to,
         n_orders
       FROM iv ORDER BY o_custkey, seq""") { (s, dir) =>
    val o = Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("d"),
        col("o_orderpriority").as("pr"))
    scd2Intervals(o, "o_custkey", Seq("d", "o_orderkey"), "pr", "d")
      .select(col("o_custkey"), col("run").as("seq"), col("pr").as("priority"),
        col("valid_from"), col("valid_to"), col("n").as("n_orders"))
      .orderBy(col("o_custkey"), col("seq"))
  }

  /** q248 — POINT-IN-TIME dimension join (the consumption side of
    * q219's SCD-2 table): every lineitem priced under the customer
    * priority that was ACTIVE on its ship date — the effective-dated
    * fact/dimension join every warehouse runs against slowly-changing
    * dimensions, and the classic place silent lookahead leakage creeps
    * into training features (joining today's attribute onto yesterday's
    * fact). Semantics: active attribute at date d = the last
    * observation ≤ d under the (date, orderkey) total order — identical
    * to interval containment in q219's [valid_from, valid_to) table,
    * because the active interval at d is the one opened by the last
    * change-point ≤ d. Scale shape: NOT a per-fact interval-range join
    * (per-key fan-out) but the q56 as-of composition — union dimension
    * observations and facts, ONE custkey shuffle, and a carry-forward
    * `last(attr) ignoreNulls` window in (d, isFact, okey) order (dims
    * sort before facts at equal d, so a same-day change applies to that
    * day's shipments); the oracle states the same semantics as a
    * correlated last-observation subquery. The 'none' bucket holds
    * pre-history facts — non-empty on this fixture because the
    * synthetic generator does not enforce shipdate ≥ orderdate, which
    * is exactly the row class a leakage-guarded join must surface
    * rather than silently match to a FUTURE attribute.
    */
  val q248 = oracled(
    "q248_point_in_time_join",
    "facts joined to the SCD-2 attribute active at ship date: as-of carry-forward, one custkey shuffle",
    """WITH o AS (SELECT o_custkey AS c, o_orderkey AS k,
           CAST(o_orderdate AS TIMESTAMP)::DATE AS d, o_orderpriority AS pr
         FROM orders),
       f AS (SELECT o.o_custkey AS c,
           CAST(l.l_shipdate AS TIMESTAMP)::DATE AS d,
           CAST(CAST(l.l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS q
         FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
       m AS (SELECT f.q,
           (SELECT pr FROM o WHERE o.c = f.c AND o.d <= f.d
            ORDER BY o.d DESC, o.k DESC LIMIT 1) AS pr
         FROM f)
       SELECT COALESCE(pr, 'none') AS priority,
         CAST(COUNT(*) AS BIGINT) AS n_items,
         CAST(SUM(q) AS BIGINT) AS qty_x100
       FROM m GROUP BY 1 ORDER BY priority""") { (s, dir) =>
    val ords = Tables.orders(s, dir).select(col("o_custkey").as("c"),
      col("o_orderkey").as("k"), col("o_orderdate").cast("date").as("d"),
      col("o_orderpriority").as("pr"))
    val dims = ords.select(col("c"), col("d"), col("k"), col("pr"),
      lit(0).as("isFact"), lit(null).cast("long").as("q"))
    val facts = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_shipdate").cast("date").as("d"),
        (dec2(col("l_quantity")) * 100).cast("long").as("q"))
      .join(ords.select(col("k").as("l_orderkey"), col("c")), Seq("l_orderkey"))
      .select(col("c"), col("d"), col("l_orderkey").as("k"),
        lit(null).cast("string").as("pr"), lit(1).as("isFact"), col("q"))
    val w = Window.partitionBy(col("c"))
      .orderBy(col("d"), col("isFact"), col("k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dims.unionByName(facts)
      .withColumn("active_pr", last(col("pr"), ignoreNulls = true).over(w))
      .filter(col("isFact") === 1)
      .groupBy(coalesce(col("active_pr"), lit("none")).as("priority"))
      .agg(count(lit(1)).as("n_items"), sum(col("q")).as("qty_x100"))
      .orderBy(col("priority"))
  }

  /** q220 — event-type transition matrix: first-order Markov estimates
    * of P(next | current) over each user's event sequence — the
    * behavioral fingerprint a recommendation or anomaly pipeline keeps.
    * Per user, lead() in (ts, event_id) order pairs each event with its
    * successor; the (src, dst) counts and their row-normalized
    * probabilities in integer ppm (count·10^6 div row total — exact,
    * no decimal/double output) come from one agg over the pair stream
    * plus a window over the 25-row matrix. One window shuffle on
    * user_id, one agg shuffle on (src, dst); the normalizing window
    * touches only |types|² rows.
    */
  val q220 = oracled(
    "q220_event_transition_matrix",
    "per-user event bigrams → Markov transition counts + row-normalized ppm",
    """WITH nx AS (SELECT event_type AS src,
           lead(event_type) OVER (PARTITION BY user_id
             ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS dst
         FROM events),
       c AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
         FROM nx WHERE dst IS NOT NULL GROUP BY 1, 2)
       SELECT src, dst, n,
         CAST(n * 1000000 // SUM(n) OVER (PARTITION BY src) AS BIGINT)
           AS p_ppm
       FROM c ORDER BY src, dst""") { (s, dir) =>
    val wu = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val pairs = Tables.events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type").as("src"))
      .withColumn("dst", lead(col("src"), 1).over(wu))
      .filter(col("dst").isNotNull)
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("n"))
    pairs
      .withColumn("tot",
        sum(col("n")).over(Window.partitionBy(col("src"))))
      .select(col("src"), col("dst"), col("n"),
        expr("n * 1000000 div tot").as("p_ppm"))
      .orderBy(col("src"), col("dst"))
  }

  /** q226 — OHLC downsampling bars: the time-series compaction every
    * monitoring/market pipeline runs — raw ticks → per-(series, window)
    * open/high/low/close/volume/turnover. Values go through the exact
    * DECIMAL(18,2)→cents route (no double min/max/sum order
    * dependence); open and close are rank-1 picks under the total
    * (ts, event_id) order, so same-microsecond ticks resolve
    * identically on both engines. One window pass and one aggregate,
    * both keyed (event_type, bar) — a single shuffle of the tick
    * stream, which is the 100 TB shape (bars are why you can afford to
    * keep years of ticks).
    */
  val q226 = oracled(
    "q226_ohlc_bars",
    "6-hour OHLC/volume/turnover bars per event_type, exact cents, rank-1 open/close",
    """WITH t AS (SELECT event_type,
           epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         FROM events),
       r AS (SELECT *,
           us // 21600000000 AS bar,
           row_number() OVER (PARTITION BY event_type, us // 21600000000
             ORDER BY us, event_id) AS rn,
           row_number() OVER (PARTITION BY event_type, us // 21600000000
             ORDER BY us DESC, event_id DESC) AS rnd
         FROM t)
       SELECT event_type, CAST(bar * 21600 AS BIGINT) AS bar_start_s,
         CAST(MAX(CASE WHEN rn = 1 THEN cents END) AS BIGINT) AS open_c,
         CAST(MAX(cents) AS BIGINT) AS high_c,
         CAST(MIN(cents) AS BIGINT) AS low_c,
         CAST(MAX(CASE WHEN rnd = 1 THEN cents END) AS BIGINT) AS close_c,
         CAST(COUNT(*) AS BIGINT) AS n_ticks,
         CAST(SUM(cents) AS BIGINT) AS turnover_c
       FROM r GROUP BY event_type, bar
       ORDER BY event_type, bar_start_s""") { (s, dir) =>
    val barUs = 21600000000L // 6 hours
    val t = Tables.events(s, dir)
      .select(col("event_type"), unix_micros(col("ts")).as("us"),
        col("event_id"),
        (dec2(col("value")) * 100).cast("long").as("cents"))
      .withColumn("bar", expr(s"us div $barUs"))
    val wAsc = Window.partitionBy(col("event_type"), col("bar"))
      .orderBy(col("us"), col("event_id"))
    val wDesc = Window.partitionBy(col("event_type"), col("bar"))
      .orderBy(col("us").desc, col("event_id").desc)
    t.withColumn("rn", row_number().over(wAsc))
      .withColumn("rnd", row_number().over(wDesc))
      .groupBy(col("event_type"), col("bar"))
      .agg(max(when(col("rn") === 1, col("cents"))).as("open_c"),
        max(col("cents")).as("high_c"),
        min(col("cents")).as("low_c"),
        max(when(col("rnd") === 1, col("cents"))).as("close_c"),
        count(lit(1)).as("n_ticks"),
        sum(col("cents")).as("turnover_c"))
      .select(col("event_type"), (col("bar") * 21600).as("bar_start_s"),
        col("open_c"), col("high_c"), col("low_c"), col("close_c"),
        col("n_ticks"), col("turnover_c"))
      .orderBy(col("event_type"), col("bar_start_s"))
  }

  /** q227 — calendar gap-fill with LINEAR INTERPOLATION in exact
    * integer arithmetic: per item, the daily close series on a full
    * min..max day grid, missing days interpolated between the
    * surrounding observed closes as (c0·(t1−t) + c1·(t−t0)) div
    * (t1−t0) — the numerator is a positive BIGINT, so truncating and
    * flooring division agree and the filled values are hash-exact (the
    * naive c0 + Δ·slope form floors differently on the two engines
    * when the series falls). Grid endpoints are observed by
    * construction, so every gap is interior. Shapes: daily closes via
    * one keyed window (q226's rank-1 pick), the grid via
    * explode(sequence) (q196's pattern), fill via last/first
    * ignoreNulls windows over the grid — all partitioned by item, one
    * shuffle chain end to end.
    */
  val q227 = oracled(
    "q227_gapfill_interpolate",
    "per-item daily grid, interior gaps linearly interpolated in exact integer cents",
    """WITH e AS (SELECT event_id % 100 AS item_id,
           CAST(ts AS TIMESTAMP)::DATE AS day,
           epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         FROM events),
       cl AS (SELECT item_id, day, cents AS close_c FROM (
           SELECT *, row_number() OVER (PARTITION BY item_id, day
             ORDER BY us DESC, event_id DESC) AS rn FROM e)
         WHERE rn = 1),
       span AS (SELECT item_id, MIN(day) AS d0, MAX(day) AS d1 FROM cl
         GROUP BY 1),
       grid AS (SELECT s.item_id, CAST(g.d AS DATE) AS day
         FROM span s, UNNEST(generate_series(s.d0, s.d1, INTERVAL 1 DAY))
           AS g(d)),
       j AS (SELECT g.item_id, g.day, c.close_c,
           (g.day - DATE '1970-01-01') AS t
         FROM grid g LEFT JOIN cl c
           ON c.item_id = g.item_id AND c.day = g.day),
       f AS (SELECT *,
           last_value(close_c IGNORE NULLS) OVER (PARTITION BY item_id
             ORDER BY day ROWS UNBOUNDED PRECEDING) AS c0,
           last_value(CASE WHEN close_c IS NOT NULL THEN t END IGNORE NULLS)
             OVER (PARTITION BY item_id ORDER BY day
                   ROWS UNBOUNDED PRECEDING) AS t0,
           first_value(close_c IGNORE NULLS) OVER (PARTITION BY item_id
             ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
             AS c1,
           first_value(CASE WHEN close_c IS NOT NULL THEN t END IGNORE NULLS)
             OVER (PARTITION BY item_id ORDER BY day
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS t1
         FROM j),
       v AS (SELECT item_id, day, close_c IS NULL AS filled,
           CASE WHEN close_c IS NOT NULL THEN close_c
                ELSE (c0 * (t1 - t) + c1 * (t - t0)) // (t1 - t0) END AS vc
         FROM f)
       SELECT item_id, CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(COUNT(*) FILTER (WHERE NOT filled) AS BIGINT) AS n_obs,
         CAST(COUNT(*) FILTER (WHERE filled) AS BIGINT) AS n_filled,
         CAST(COALESCE(SUM(vc) FILTER (WHERE filled), 0) AS BIGINT)
           AS sum_filled_c,
         CAST(SUM(vc) AS BIGINT) AS sum_all_c
       FROM v GROUP BY item_id ORDER BY item_id""") { (s, dir) =>
    val cl = dailyCloses(s, dir)
      .select(col("item_id"), col("day"), col("c").as("close_c"))
    val grid = cl.groupBy(col("item_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("item_id"), explode(sequence(col("d0"), col("d1")))
        .as("day"))
    val wPrev = Window.partitionBy(col("item_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(col("item_id")).orderBy(col("day"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val f = grid.join(cl, Seq("item_id", "day"), "left")
      .withColumn("t", datediff(col("day"), lit("1970-01-01")).cast("long"))
      .withColumn("c0", last(col("close_c"), ignoreNulls = true).over(wPrev))
      .withColumn("t0", last(when(col("close_c").isNotNull, col("t")),
        ignoreNulls = true).over(wPrev))
      .withColumn("c1", first(col("close_c"), ignoreNulls = true).over(wNext))
      .withColumn("t1", first(when(col("close_c").isNotNull, col("t")),
        ignoreNulls = true).over(wNext))
      .withColumn("filled", col("close_c").isNull)
      .withColumn("vc", when(!col("filled"), col("close_c"))
        .otherwise(expr("(c0 * (t1 - t) + c1 * (t - t0)) div (t1 - t0)")))
    f.groupBy(col("item_id"))
      .agg(count(lit(1)).as("n_days"),
        sum(when(!col("filled"), 1L).otherwise(0L)).as("n_obs"),
        sum(when(col("filled"), 1L).otherwise(0L)).as("n_filled"),
        coalesce(sum(when(col("filled"), col("vc"))), lit(0L))
          .as("sum_filled_c"),
        sum(col("vc")).as("sum_all_c"))
      .orderBy(col("item_id"))
  }

  /** q233 — top session paths: the most frequent 3-event journeys
    * WITHIN a session (30-minute gap sessionization) — the clickstream
    * path-analysis staple, and deliberately different from q220's
    * global bigrams: a path never crosses a session boundary. The
    * session id (gap-flag running sum), both lookahead types AND their
    * session ids come from ONE user-partitioned window chain — the
    * boundary check is "lead's sid == mine", so no second shuffle on
    * (user, session) is ever needed. Top-10 by (count desc, path asc)
    * with an explicit rank, identical tie order on both engines.
    */
  val q233 = oracled(
    "q233_session_paths",
    "top-10 within-session 3-event paths, 30-min gap sessions, one window chain",
    """WITH e AS (SELECT user_id, event_type,
           epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
         FROM events),
       f AS (SELECT *, CASE WHEN us - lag(us) OVER w > 1800000000
                 OR lag(us) OVER w IS NULL THEN 1 ELSE 0 END AS brk
         FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
       g AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id
             ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sid
         FROM f),
       h AS (SELECT event_type AS t1,
           lead(event_type, 1) OVER w AS t2, lead(sid, 1) OVER w AS s2,
           lead(event_type, 2) OVER w AS t3, lead(sid, 2) OVER w AS s3,
           sid
         FROM g WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
       c AS (SELECT t1 || '>' || t2 || '>' || t3 AS path,
           CAST(COUNT(*) AS BIGINT) AS n
         FROM h WHERE s2 = sid AND s3 = sid GROUP BY 1)
       SELECT CAST(row_number() OVER (ORDER BY n DESC, path) AS BIGINT)
           AS rank, path, n
       FROM c ORDER BY n DESC, path LIMIT 10""") { (s, dir) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val paths = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .withColumn("brk",
        when(col("us") - lag(col("us"), 1).over(w) > 1800000000L ||
          lag(col("us"), 1).over(w).isNull, 1L).otherwise(0L))
      .withColumn("sid", sum(col("brk")).over(wrun))
      .withColumn("t2", lead(col("event_type"), 1).over(w))
      .withColumn("s2", lead(col("sid"), 1).over(w))
      .withColumn("t3", lead(col("event_type"), 2).over(w))
      .withColumn("s3", lead(col("sid"), 2).over(w))
      .filter(col("s2") === col("sid") && col("s3") === col("sid"))
      .select(concat_ws(">", col("event_type"), col("t2"), col("t3"))
        .as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
    paths
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n").desc, col("path"))).cast("long"))
      .select(col("rank"), col("path"), col("n"))
      .orderBy(col("n").desc, col("path")).limit(10)
  }

  /** q234 — Theil–Sen robust trend per item: the median of all
    * pairwise day-close slopes — the estimator that shrugs off the
    * outlier days a least-squares fit chases. Slopes stay EXACT
    * RATIONALS (num = c2−c1 cents, den = t2−t1 days, den > 0): the
    * median is selected by ordering on the IEEE double num/den (both
    * engines divide the same integers → identical doubles → identical
    * order) with the (num, den) pair as the deterministic tiebreak for
    * equal-valued fractions, and the OUTPUT is the selected pair's
    * integers — no rounded quotient ever crosses the gate. Cost is the
    * Theil–Sen bound: pairs per item ≤ day-span², independent of raw
    * row count (the daily-close compaction runs first); the pair join
    * is item-keyed, so it shuffles the tiny close table once.
    */
  val q234 = oracled(
    "q234_theilsen_trend",
    "per-item Theil–Sen median slope as an exact rational, double-order + integer tiebreak",
    """WITH e AS (SELECT event_id % 100 AS item_id,
           CAST(ts AS TIMESTAMP)::DATE AS day,
           epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         FROM events),
       cl AS (SELECT item_id, (day - DATE '1970-01-01') AS t,
           cents AS c FROM (
           SELECT *, row_number() OVER (PARTITION BY item_id, day
             ORDER BY us DESC, event_id DESC) AS rn FROM e)
         WHERE rn = 1),
       pr AS (SELECT a.item_id, b.c - a.c AS num,
           CAST(b.t - a.t AS BIGINT) AS den
         FROM cl a JOIN cl b ON a.item_id = b.item_id AND a.t < b.t),
       rk AS (SELECT *,
           row_number() OVER (PARTITION BY item_id
             ORDER BY CAST(num AS DOUBLE) / den, num, den) AS rn,
           COUNT(*) OVER (PARTITION BY item_id) AS np
         FROM pr)
       SELECT item_id, CAST(np AS BIGINT) AS n_pairs,
         CAST(num AS BIGINT) AS slope_num, den AS slope_den
       FROM rk WHERE rn = (np - 1) // 2 + 1
       ORDER BY item_id""") { (s, dir) =>
    val cl = dailyCloses(s, dir)
    val pr = cl.alias("a").join(cl.alias("b"),
        col("a.item_id") === col("b.item_id") && col("a.t") < col("b.t"))
      .select(col("a.item_id").as("item_id"),
        (col("b.c") - col("a.c")).as("num"),
        (col("b.t") - col("a.t")).as("den"))
    val wi = Window.partitionBy(col("item_id"))
    pr.withColumn("rn", row_number().over(
        wi.orderBy(col("num").cast("double") / col("den"), col("num"),
          col("den"))))
      .withColumn("np", count(lit(1)).over(wi))
      .filter(col("rn") === expr("(np - 1) div 2 + 1"))
      .select(col("item_id"), col("np").as("n_pairs"),
        col("num").as("slope_num"), col("den").as("slope_den"))
      .orderBy(col("item_id"))
  }

  /** q235 — per-item OLS trend in EXACT RATIONAL form, the classical
    * companion to q234's robust Theil–Sen: slope = (nΣtc − Σt·Σc) /
    * (nΣt² − (Σt)²) and intercept = (Σc·Σt² − Σt·Σtc) / same — both
    * ratios of exact BIGINT moment sums over the daily-close table, so
    * the gate carries the integer numerators and the common
    * denominator, never a rounded quotient. Days re-zero to the item's
    * first day (t − min t) to keep every moment product far from
    * overflow (t ≤ span ≈ 30, Σt² ≤ n·span²). ONE aggregate per item
    * over the compacted closes — this is the textbook "sufficient
    * statistics, not data movement" regression shape: at 100 TB the
    * five moments stream through map-side partial sums.
    */
  val q235 = oracled(
    "q235_ols_trend",
    "per-item OLS slope/intercept as exact rationals from five moment sums",
    """WITH e AS (SELECT event_id % 100 AS item_id,
           CAST(ts AS TIMESTAMP)::DATE AS day,
           epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         FROM events),
       cl AS (SELECT item_id, (day - DATE '1970-01-01') AS t0,
           cents AS c FROM (
           SELECT *, row_number() OVER (PARTITION BY item_id, day
             ORDER BY us DESC, event_id DESC) AS rn FROM e)
         WHERE rn = 1),
       z AS (SELECT item_id,
           CAST(t0 - MIN(t0) OVER (PARTITION BY item_id) AS BIGINT) AS t,
           c FROM cl),
       m AS (SELECT item_id, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(t) AS BIGINT) AS st, CAST(SUM(c) AS BIGINT) AS sc,
           CAST(SUM(t * c) AS BIGINT) AS stc,
           CAST(SUM(t * t) AS BIGINT) AS stt
         FROM z GROUP BY 1)
       SELECT item_id, n AS n_days,
         n * stc - st * sc AS slope_num,
         sc * stt - st * stc AS intercept_num,
         n * stt - st * st AS den
       FROM m WHERE n * stt - st * st > 0
       ORDER BY item_id""") { (s, dir) =>
    val cl = dailyCloses(s, dir)
    olsMoments(cl.withColumn("t",
        col("t") - min(col("t")).over(Window.partitionBy(col("item_id")))),
        "item_id", "t", "c")
      .filter(col("n") * col("stt") - col("st") * col("st") > 0)
      .select(col("item_id"), col("n").as("n_days"),
        (col("n") * col("sty") - col("st") * col("sy")).as("slope_num"),
        (col("sy") * col("stt") - col("st") * col("sty"))
          .as("intercept_num"),
        (col("n") * col("stt") - col("st") * col("st")).as("den"))
      .orderBy(col("item_id"))
  }

  /** The last close of every (item, day), the series q227, q234 and q235
    * fit: items are `event_id % 100`, the close is the day's latest event
    * under (µs, event_id), picked by one keyed rank-1 window, in exact
    * cents. Returns (item_id, day, t, c), t the epoch day.
    */
  private[operators] def dailyCloses(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select((col("event_id") % 100).as("item_id"),
        col("ts").cast("date").as("day"), unix_micros(col("ts")).as("us"),
        col("event_id"),
        (dec2(col("value")) * 100).cast("long").as("cents"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("item_id"), col("day"))
          .orderBy(col("us").desc, col("event_id").desc)))
      .filter(col("rn") === 1)
      .select(col("item_id"), col("day"),
        datediff(col("day"), lit("1970-01-01")).cast("long").as("t"),
        col("cents").as("c"))

  /** The five OLS moment sums of `y` on `t` per `key` — n, Σt, Σy, Σt²
    * and Σty as (key, n, st, sy, stt, sty) — from which q235 and q295
    * state their slopes as exact rationals. One aggregate: the moments
    * stream through map-side partial sums.
    */
  private[operators] def olsMoments(df: DataFrame, key: String, t: String,
      y: String): DataFrame =
    df.groupBy(col(key))
      .agg(count(lit(1)).as("n"), sum(col(t)).as("st"), sum(col(y)).as("sy"),
        sum(col(t) * col(t)).as("stt"), sum(col(t) * col(y)).as("sty"))

  /** q242 — OHLC RE-AGGREGATION: daily bars composed from the 6-hour
    * bars, never from raw ticks — the property that makes bar tables a
    * storage hierarchy (keep fine bars, answer any coarser granularity
    * from them): open = the earliest sub-bar's open, close = the
    * latest's close, high/low/volume/turnover = max/min/sums. Both
    * engines build the same 6-hour bar table first (q226's rank-1
    * construction) and then roll it up with min_by/max_by over
    * bar_start — so the oracle doubles as a proof that bar composition
    * loses nothing: its daily rows are byte-for-byte what direct daily
    * bars over the ticks would produce.
    */
  val q242 = oracled(
    "q242_ohlc_reaggregation",
    "daily bars composed from 6h bars (min_by/max_by roll-up), not from ticks",
    """WITH t AS (SELECT event_type,
           epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         FROM events),
       r AS (SELECT *,
           us // 21600000000 AS bar,
           row_number() OVER (PARTITION BY event_type, us // 21600000000
             ORDER BY us, event_id) AS rn,
           row_number() OVER (PARTITION BY event_type, us // 21600000000
             ORDER BY us DESC, event_id DESC) AS rnd
         FROM t),
       b AS (SELECT event_type, bar,
           MAX(CASE WHEN rn = 1 THEN cents END) AS open_c,
           MAX(cents) AS high_c, MIN(cents) AS low_c,
           MAX(CASE WHEN rnd = 1 THEN cents END) AS close_c,
           COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS turn
         FROM r GROUP BY 1, 2)
       SELECT event_type, CAST(bar // 4 AS BIGINT) AS day_idx,
         CAST(min_by(open_c, bar) AS BIGINT) AS open_c,
         CAST(MAX(high_c) AS BIGINT) AS high_c,
         CAST(MIN(low_c) AS BIGINT) AS low_c,
         CAST(max_by(close_c, bar) AS BIGINT) AS close_c,
         CAST(SUM(n) AS BIGINT) AS n_ticks,
         CAST(SUM(turn) AS BIGINT) AS turnover_c
       FROM b GROUP BY event_type, bar // 4
       ORDER BY event_type, day_idx""") { (s, dir) =>
    val barUs = 21600000000L
    val t = Tables.events(s, dir)
      .select(col("event_type"), unix_micros(col("ts")).as("us"),
        col("event_id"),
        (dec2(col("value")) * 100).cast("long").as("cents"))
      .withColumn("bar", expr(s"us div $barUs"))
    val wAsc = Window.partitionBy(col("event_type"), col("bar"))
      .orderBy(col("us"), col("event_id"))
    val wDesc = Window.partitionBy(col("event_type"), col("bar"))
      .orderBy(col("us").desc, col("event_id").desc)
    val bars = t
      .withColumn("rn", row_number().over(wAsc))
      .withColumn("rnd", row_number().over(wDesc))
      .groupBy(col("event_type"), col("bar"))
      .agg(max(when(col("rn") === 1, col("cents"))).as("open_c"),
        max(col("cents")).as("high_c"), min(col("cents")).as("low_c"),
        max(when(col("rnd") === 1, col("cents"))).as("close_c"),
        count(lit(1)).as("n"), sum(col("cents")).as("turn"))
    bars
      .groupBy(col("event_type"), expr("bar div 4").as("day_idx"))
      .agg(min_by(col("open_c"), col("bar")).as("open_c"),
        max(col("high_c")).as("high_c"), min(col("low_c")).as("low_c"),
        max_by(col("close_c"), col("bar")).as("close_c"),
        sum(col("n")).as("n_ticks"), sum(col("turn")).as("turnover_c"))
      .orderBy(col("event_type"), col("day_idx"))
  }

  /** q243 — restatement audit: which published daily totals CHANGED
    * between two report cutoffs — the "yesterday's dashboard said X,
    * today it says Y" reconciliation every late-arriving-data pipeline
    * owes its consumers. Cutoffs are deterministic functions of the
    * data (full = max event time; early = full − 7 days, a 1-row
    * broadcast, no driver round-trip); both as-of totals come from ONE
    * scan with conditional aggregation — computing the early total is
    * a `sum(when us ≤ cutoff)` beside the full sum, not a second read.
    * Only restated days are reported, with exact integer deltas.
    */
  val q243 = oracled(
    "q243_restatement_audit",
    "daily totals as-of two cutoffs in one conditional-agg scan; restated days + exact deltas",
    """WITH ev AS (SELECT CAST(ts AS TIMESTAMP)::DATE AS day,
           epoch_us(CAST(ts AS TIMESTAMP)) AS us,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         FROM events),
       w AS (SELECT MAX(us) - 7 * 86400000000 AS early FROM ev),
       g AS (SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_full,
           CAST(SUM(cents) AS BIGINT) AS cents_full,
           CAST(COUNT(*) FILTER (WHERE us <= w.early) AS BIGINT)
             AS n_early,
           CAST(COALESCE(SUM(cents) FILTER (WHERE us <= w.early), 0)
             AS BIGINT) AS cents_early
         FROM ev CROSS JOIN w GROUP BY day)
       SELECT day, n_early, n_full, cents_early, cents_full,
         cents_full - cents_early AS delta_cents
       FROM g WHERE n_full <> n_early
       ORDER BY day""") { (s, dir) =>
    restatementAudit(Tables.events(s, dir)
      .select(col("ts").cast("date").as("day"),
        unix_micros(col("ts")).as("us"),
        (dec2(col("value")) * 100).cast("long").as("cents")),
      lagUs = 7L * 86400000000L)
  }

  /** q243 core, factored for the hand-built-fixture spec: `ev` has
    * (day, us, cents); early cutoff = max(us) − lagUs. One
    * conditional-agg scan; only restated days survive.
    */
  private[graft] def restatementAudit(ev: DataFrame, lagUs: Long): DataFrame = {
    val w = ev.agg((max(col("us")) - lagUs).as("early"))
    ev.crossJoin(broadcast(w))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_full"),
        sum(col("cents")).as("cents_full"),
        sum(when(col("us") <= col("early"), 1L).otherwise(0L))
          .as("n_early"),
        coalesce(sum(when(col("us") <= col("early"), col("cents"))),
          lit(0L)).as("cents_early"))
      .filter(col("n_full") =!= col("n_early"))
      .select(col("day"), col("n_early"), col("n_full"),
        col("cents_early"), col("cents_full"),
        (col("cents_full") - col("cents_early")).as("delta_cents"))
      .orderBy(col("day"))
  }

  // --------------------------------------------- seasonal decomposition

  /** q261 — classical seasonal decomposition (STL-lite: trend by
    * centered moving average, seasonal by per-period mean of the
    * detrended series, remainder as what's left) over the daily revenue
    * series, in EXACT integer/rational arithmetic so the gate hash
    * compares: the time-series health view every ingestion monitor
    * draws, without a single float until the consumer divides.
    *
    * Arithmetic contract (the q234/q235 rational-output template):
    *   v        = Σ day cents (exact BIGINT)
    *   trend_x7 = Σ over the centered 7-row window — the ×7-scaled
    *              moving average; NULL unless the window is FULL
    *              (7 observed days), so edges never fake a trend
    *   detr_x7  = 7·v − trend_x7 (×7-scaled detrended value)
    *   seasonal = per-weekday mean of detr_x7, kept as the rational
    *              pair (s_num, s_den)
    *   remainder = detr_x7 − s_num/s_den, kept as
    *              (rem_x7_num, rem_den) = (detr_x7·s_den − s_num, s_den)
    * Weekday is `datediff(day, 1970-01-01) % 7` — an explicit epoch
    * formula because the engines' dayofweek() origins differ.
    *
    * Scale shape: the corpus-side work is ONE partial-aggregated
    * groupBy(day); everything after lives on the daily series — a
    * calendar-bounded dimension (365 rows/year at 100 TB, not corpus
    * rows), so its single-partition window and the |weekday|-row
    * broadcast are bounded by the calendar, the q174 dimension-window
    * discipline.
    */
  /** The decomposition core over an arbitrary (day, v_cents) daily
    * series — exposed so TemporalSpec can feed an exactly-periodic
    * synthetic series and assert zero remainder (the classical-
    * decomposition identity a DuckDB oracle can't express as a law).
    */
  private[graft] def stlDecompose(daily: DataFrame): DataFrame = {
    // single-partition window: the DAILY series, bounded by the calendar
    val w = Window.orderBy(col("day")).rowsBetween(-3, 3)
    val dt = daily
      .withColumn("trend_x7",
        when(count(lit(1)).over(w) === 7, sum(col("v_cents")).over(w)))
      .withColumn("wd",
        expr("CAST(datediff(day, DATE '1970-01-01') % 7 AS BIGINT)"))
      .withColumn("detr_x7", lit(7L) * col("v_cents") - col("trend_x7"))
    val seas = dt.filter(col("detr_x7").isNotNull)
      .groupBy(col("wd"))
      .agg(sum(col("detr_x7")).as("s_num"), count(lit(1)).as("s_den"))
    dt.join(broadcast(seas), Seq("wd"), "left")
      .select(col("day"), col("v_cents"), col("trend_x7"), col("wd"),
        col("s_num"), col("s_den"),
        (col("detr_x7") * col("s_den") - col("s_num")).as("rem_x7_num"),
        col("s_den").as("rem_den"))
      .orderBy(col("day"))
  }

  /** The q261 decomposition oracle — shared verbatim by q314's
    * incremental-replay twin (same final series ⟹ same decomposition).
    */
  private val stlSql =
    """WITH daily AS (
         SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS v_cents
         FROM events GROUP BY 1),
       tr AS (SELECT day, v_cents,
           CASE WHEN COUNT(*) OVER w = 7
             THEN CAST(SUM(v_cents) OVER w AS BIGINT) END AS trend_x7,
           date_diff('day', DATE '1970-01-01', day) % 7 AS wd
         FROM daily
         WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
       dt AS (SELECT *, 7 * v_cents - trend_x7 AS detr_x7 FROM tr),
       seas AS (SELECT wd, CAST(SUM(detr_x7) AS BIGINT) AS s_num,
           CAST(COUNT(*) AS BIGINT) AS s_den
         FROM dt WHERE detr_x7 IS NOT NULL GROUP BY wd)
       SELECT dt.day, dt.v_cents, dt.trend_x7, CAST(dt.wd AS BIGINT) AS wd,
         seas.s_num, seas.s_den,
         CAST(dt.detr_x7 * seas.s_den - seas.s_num AS BIGINT) AS rem_x7_num,
         seas.s_den AS rem_den
       FROM dt LEFT JOIN seas ON seas.wd = dt.wd
       ORDER BY dt.day"""

  val q261 = oracled(
    "q261_seasonal_decomposition",
    "integer STL-lite: centered-MA trend, per-weekday seasonal, rational remainder over daily revenue",
    stlSql) { (s, dir) =>
    stlDecompose(Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(expr("CAST(FLOOR(value * 100) AS BIGINT)")).as("v_cents")))
  }

  /** q314 — STREAMING twin of q261 (VERDICT r11 #10 / r12 #10): the
    * daily-revenue series is maintained INCREMENTALLY by
    * [[graft.streaming.SeasonalStream.step]] — four time-ordered
    * micro-batches folded through the pure (daily, wm, batch) →
    * (daily', wm') step, each batch costing batch-sized work against
    * calendar-bounded state — and the decomposition view over the
    * maintained series must EQUAL q261's from-scratch run (the oracle
    * is q261's SQL verbatim). Batch k = events in the k-th quarter of
    * the [min ts, max ts] span (a pure function of ts, so same-ts rows
    * never split and the (ts, event_id) ordering contract holds across
    * batches); the middle batch is delivered TWICE to exercise the
    * high-water-mark fixpoint in the gated path, not just in the spec.
    */
  val q314 = oracled(
    "q314_seasonal_stream_replay",
    "4-batch incremental daily-series fold (with a duplicate delivery) + decomposition == from-scratch q261",
    stlSql) { (s, dir) =>
    import graft.streaming.SeasonalStream
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("value"))
    val span = ev.agg(min(unix_micros(col("ts"))).as("mn"),
      max(unix_micros(col("ts"))).as("mx"))
    val staged = ev.crossJoin(broadcast(span))
      .withColumn("bk", least(lit(3L),
        expr("(unix_micros(ts) - mn) * 4 div (mx - mn + 1)")))
      .localCheckpoint() // four filtered scans below, one materialization
    var st = (SeasonalStream.emptyDaily(s), SeasonalStream.emptyWm(s))
    for (k <- Seq(0, 1, 2, 2, 3)) // batch 2 redelivered: replay fixpoint
      st = SeasonalStream.step(st._1, st._2,
        staged.filter(col("bk") === k)
          .select(col("event_id"), col("ts"), col("value")))
    stlDecompose(st._1)
  }

  // --------------------------------------------------- autocorrelation

  /** q282 — autocorrelation function of the daily event-arrival series
    * at lags 0..13, in EXACT integer arithmetic (the q261 discipline
    * extended to second moments): the seasonality detector that tells
    * an ingestion monitor whether its arrival process has weekly
    * memory before anyone fits a model to it.
    *
    * Arithmetic contract: with x_t the daily event count, n the number
    * of observed days and S = Σ x_t, the lag-k autocovariance is kept
    * as the ×n²-scaled integer
    *   gamma_num(k) = Σ_{pairs k apart} (n·x_t − S)(n·x_{t+k} − S)
    * (deviations from the mean cleared of the 1/n each). The consumer's
    * ACF is gamma_num(k)/gamma_num(0) — the shared n³ denominator
    * cancels, so the ratio needs no float until the very end. Counts,
    * not cents, are the series: n·x stays ~10⁶ at sf1 and the product
    * sum orders of magnitude inside BIGINT at any plausible calendar.
    *
    * Scale shape: corpus work is ONE partial-aggregated groupBy(day);
    * the lag self-join runs on the daily series — calendar-bounded
    * (365 rows/year at 100 TB), broadcast against a 14-row lag spine,
    * the q174/q261 dimension-window discipline.
    */
  val q282 = oracled(
    "q282_autocorrelation",
    "exact ×n²-scaled autocovariance of daily event counts at lags 0..13",
    """WITH daily AS (
         SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
         FROM events GROUP BY 1),
       tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS s FROM daily),
       lags AS (SELECT CAST(i AS BIGINT) AS lag FROM range(0, 14) t(i))
       SELECT l.lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM((t.n * a.x - t.s) * (t.n * b.x - t.s)) AS BIGINT)
           AS gamma_num
       FROM lags l CROSS JOIN tot t
         JOIN daily a ON TRUE
         JOIN daily b ON b.day = a.day + CAST(l.lag AS INTEGER)
       GROUP BY l.lag ORDER BY l.lag""") { (s, dir) =>
    val daily = Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    val tot = daily.agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
    val lags = s.range(0, 14).select(col("id").as("lag"))
    daily.alias("a")
      .crossJoin(broadcast(lags))
      .crossJoin(broadcast(tot))
      .join(daily.alias("b"),
        col("b.day") === date_add(col("a.day"), col("lag").cast("int")))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum((col("n") * col("a.x") - col("s"))
          * (col("n") * col("b.x") - col("s"))).as("gamma_num"))
      .orderBy(col("lag"))
  }

  // --------------------------------------------- conversion attribution

  /** q286 — multi-touch CONVERSION ATTRIBUTION (first-touch /
    * last-touch / linear — the marketing-analytics workhorse trio):
    * every `purchase` claims the touches (view/click/signup/error)
    * since the user's previous purchase; the claiming window is the
    * standard exclusive-scan epochization — running purchase count
    * over (ts, event_id) order assigns each touch the epoch of the
    * NEXT purchase and each purchase claims epoch cum−1. Per channel
    * the ledger reports first-touch conversions, last-touch
    * conversions (exact counts under the unique (ts, event_id) total
    * order), and linear credit where each of an epoch's n touches
    * earns `10000 div n` — a DECLARED floor-scaled integer (the q212
    * floor-key discipline: both engines run the identical integer
    * division, so the credit crosses the hash gate bit-exact; the
    * ≤ n−1 basis-point floor loss per conversion is the documented
    * price of no doubles). Purchases with no preceding touch credit
    * the '(none)' channel in all three models.
    *
    * Scale shape: ONE shuffle — everything is keyed by user then
    * (user, epoch): the epochization window, the first/last
    * row_numbers, and the per-epoch/per-channel aggregates all share
    * the user partitioning; the final channel ledger is
    * domain-bounded. The three models are assembled as a UNION of
    * per-conversion contribution rows — one partial-aggregated
    * groupBy(channel), no re-scan per model.
    */
  val q286 = oracled(
    "q286_attribution",
    "first/last/linear-touch attribution per channel, exact-integer credits",
    """WITH c AS (SELECT user_id, ts, event_id, event_type,
           SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS cum
         FROM events),
       t AS (SELECT user_id, cum AS epoch, event_type AS channel, ts,
           event_id
         FROM c WHERE event_type <> 'purchase'),
       p AS (SELECT user_id, cum - 1 AS epoch FROM c
         WHERE event_type = 'purchase'),
       ep AS (SELECT user_id, epoch, CAST(COUNT(*) AS BIGINT) AS n
         FROM t GROUP BY 1, 2),
       ft AS (SELECT user_id, epoch, channel,
           ROW_NUMBER() OVER (PARTITION BY user_id, epoch
             ORDER BY ts, event_id) AS rf,
           ROW_NUMBER() OVER (PARTITION BY user_id, epoch
             ORDER BY ts DESC, event_id DESC) AS rl
         FROM t),
       conv AS (SELECT p.user_id, p.epoch, ep.n
         FROM p LEFT JOIN ep USING (user_id, epoch)),
       contrib AS (
         SELECT COALESCE(f.channel, '(none)') AS channel,
           1 AS fc, 0 AS lc, 0 AS lin
         FROM conv LEFT JOIN (SELECT user_id, epoch, channel FROM ft
           WHERE rf = 1) f USING (user_id, epoch)
         UNION ALL
         SELECT COALESCE(l.channel, '(none)'), 0, 1, 0
         FROM conv LEFT JOIN (SELECT user_id, epoch, channel FROM ft
           WHERE rl = 1) l USING (user_id, epoch)
         UNION ALL
         SELECT tc.channel, 0, 0, tc.nc * (10000 // ep.n)
         FROM (SELECT user_id, epoch, channel,
             CAST(COUNT(*) AS BIGINT) AS nc FROM t GROUP BY 1, 2, 3) tc
         JOIN ep USING (user_id, epoch)
         JOIN p USING (user_id, epoch)
         UNION ALL
         SELECT '(none)', 0, 0, 10000 FROM conv WHERE n IS NULL)
       SELECT channel, CAST(SUM(fc) AS BIGINT) AS first_convs,
         CAST(SUM(lc) AS BIGINT) AS last_convs,
         CAST(SUM(lin) AS BIGINT) AS linear_x10k
       FROM contrib GROUP BY channel ORDER BY channel""") { (s, dir) =>
    val wCum = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("cum",
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .over(wCum))
    val t = c.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("cum").as("epoch"),
        col("event_type").as("channel"), col("ts"), col("event_id"))
      .localCheckpoint(false)
    val p = c.filter(col("event_type") === "purchase")
      .select(col("user_id"), (col("cum") - 1).as("epoch"))
    val ep = t.groupBy(col("user_id"), col("epoch"))
      .agg(count(lit(1)).as("n"))
    val wF = Window.partitionBy(col("user_id"), col("epoch"))
      .orderBy(col("ts"), col("event_id"))
    val wL = Window.partitionBy(col("user_id"), col("epoch"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val ft = t.withColumn("rf", row_number().over(wF))
      .withColumn("rl", row_number().over(wL))
      .localCheckpoint(false)
    val conv = p.join(ep, Seq("user_id", "epoch"), "left")
      .localCheckpoint(false)
    val cf = conv.join(ft.filter(col("rf") === 1)
        .select(col("user_id"), col("epoch"), col("channel")),
        Seq("user_id", "epoch"), "left")
      .select(coalesce(col("channel"), lit("(none)")).as("channel"),
        lit(1L).as("fc"), lit(0L).as("lc"), lit(0L).as("lin"))
    val cl = conv.join(ft.filter(col("rl") === 1)
        .select(col("user_id"), col("epoch"), col("channel")),
        Seq("user_id", "epoch"), "left")
      .select(coalesce(col("channel"), lit("(none)")).as("channel"),
        lit(0L).as("fc"), lit(1L).as("lc"), lit(0L).as("lin"))
    val clin = t.groupBy(col("user_id"), col("epoch"), col("channel"))
      .agg(count(lit(1)).as("nc"))
      .join(ep, Seq("user_id", "epoch"))
      .join(p, Seq("user_id", "epoch"))
      .select(col("channel"), lit(0L).as("fc"), lit(0L).as("lc"),
        expr("nc * (10000 div n)").as("lin"))
    val cnone = conv.filter(col("n").isNull)
      .select(lit("(none)").as("channel"), lit(0L).as("fc"),
        lit(0L).as("lc"), lit(10000L).as("lin"))
    cf.union(cl).union(clin).union(cnone)
      .groupBy(col("channel"))
      .agg(sum(col("fc")).as("first_convs"),
        sum(col("lc")).as("last_convs"),
        sum(col("lin")).as("linear_x10k"))
      .orderBy(col("channel"))
  }

  // ------------------------------------------- watermark planning ledger

  /** q293 — OUT-OF-ORDERNESS / WATERMARK planning ledger (the
    * diagnostic run BEFORE choosing a Structured Streaming
    * `withWatermark` delay: how late do events actually arrive, and
    * what would each candidate delay drop?): arrival time is event
    * time plus a deterministic transport jitter of up to 10 minutes
    * (pure hash of event_id, mirrored in the oracle — the fixture's
    * log is perfectly ordered, so the q92/q96 dirty-fixture trick
    * supplies the disorder the diagnostic exists to measure); an
    * event's lateness is (max event time seen at its arrival) − (its
    * own event time) — the high-watermark prefix max over the arrival
    * order (atus, event_id). For four candidate delays W ∈ {0 s,
    * 60 s, 600 s, 3600 s} the ledger reports events that would be
    * dropped (lateness > W) and the max observed lateness — exactly
    * the trade-off curve the watermark knob moves along.
    *
    * Scale shape: the global running max is NOT a single-task window —
    * it runs as the textbook two-level scan (the [[graft.plans
    * .PrefixSum]] discipline applied to MAX): fixed-width arrival
    * buckets (pure arithmetic on event_id — deterministic, no
    * sampling), per-bucket prefix max inside partitioned windows, a
    * cumulative max over the BUCKET-COUNT-sized subtotal relation for
    * each bucket's carry-in, broadcast back. Bucket-invariant (max
    * composes associatively); depth recurses log_B N times at 100 TB
    * — two levels here. The W sweep is a 4-row broadcast; the oracle
    * runs the same definition as one plain window — two mechanisms,
    * one contract.
    */
  val q293 = oracled(
    "q293_watermark_planning",
    "lateness distribution vs candidate watermark delays: two-level prefix-max ledger",
    """WITH e AS (SELECT event_id,
           epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
           epoch_us(CAST(ts AS TIMESTAMP))
             + (event_id % 100003) * 2654435761 % 600000000 AS atus
         FROM events),
       rm AS (SELECT event_id, tus,
           MAX(tus) OVER (ORDER BY atus, event_id
             ROWS UNBOUNDED PRECEDING) AS runmax
         FROM e),
       lt AS (SELECT runmax - tus AS late_us FROM rm),
       ws(w_us) AS (VALUES (CAST(0 AS BIGINT)), (60000000),
         (600000000), (3600000000))
       SELECT w_us, CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CASE WHEN late_us > w_us THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dropped,
         CAST(MAX(late_us) AS BIGINT) AS max_late_us
       FROM lt CROSS JOIN ws GROUP BY w_us ORDER BY w_us""") { (s, dir) =>
    import s.implicits._
    val e = Tables.events(s, dir)
      .select(col("event_id"), unix_micros(col("ts")).as("tus"))
      .withColumn("atus", expr(
        "tus + (event_id % 100003) * 2654435761L % 600000000"))
      // hour-wide arrival buckets: pure arithmetic on the order column,
      // so equal atus always share a bucket (the PrefixSum contract)
      .withColumn("bkt", expr("atus div 3600000000L"))
    val wIn = Window.partitionBy(col("bkt"))
      .orderBy(col("atus"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inMax = e.withColumn("inmax", max(col("tus")).over(wIn))
    // carry-in: cumulative max over bucket subtotals — bucket-count
    // rows, never the corpus (recurse another level past ~1e8 buckets)
    val wB = Window.orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = e.groupBy(col("bkt")).agg(max(col("tus")).as("bmax"))
      .withColumn("carry", max(col("bmax")).over(wB))
      .select(col("bkt"), col("carry"))
    val late = inMax.join(broadcast(off), Seq("bkt"))
      .select((greatest(col("inmax"), coalesce(col("carry"),
        col("inmax"))) - col("tus")).as("late_us"))
    val ws = Seq(0L, 60000000L, 600000000L, 3600000000L).toDF("w_us")
    late.crossJoin(broadcast(ws))
      .groupBy(col("w_us"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("late_us") > col("w_us"), 1L).otherwise(0L))
          .as("n_dropped"),
        max(col("late_us")).as("max_late_us"))
      .orderBy(col("w_us"))
  }

  // ---------------------------------------------------- OLS trend line

  /** q295 — per-type ORDINARY-LEAST-SQUARES daily trend as an EXACT
    * RATIONAL (the parametric twin of q234's Theil–Sen: same question
    * — is this series drifting? — closed-form instead of robust):
    * with t the day index (normalized to the corpus's first day so
    * every moment stays far inside BIGINT) and y the day's value
    * cents, the slope is the textbook moment ratio
    *   slope = (n·Σty − Σt·Σy) / (n·Σt² − (Σt)²)
    * reported as (slope_num, slope_den) — the q234/q235 rational
    * num/den output template, zero float anywhere. Consumers divide
    * (or compare cross-multiplied); the gate hashes integers.
    *
    * Scale shape: ONE partial-aggregable groupBy(type, day) for the
    * daily series, a 1-row global min-day broadcast for the
    * normalization, then one groupBy(type) over the calendar-bounded
    * series for all four moments in a single pass. BIGINT-safe while
    * n·Σty < 2⁶³ — decades of daily cents at 100 TB volumes; the
    * normalization is what buys that (raw epoch-day t² would not fit
    * a century earlier).
    */
  val q295 = oracled(
    "q295_ols_trend",
    "per-type OLS daily-trend slope as an exact rational from integer moments",
    """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
             AS BIGINT) AS y
         FROM events GROUP BY 1, 2),
       m AS (SELECT MIN(day) AS d0 FROM d),
       s AS (SELECT event_type, CAST(day - d0 AS BIGINT) AS t, y
         FROM d CROSS JOIN m),
       mo AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(t) AS BIGINT) AS st, CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(t * t) AS BIGINT) AS stt,
           CAST(SUM(t * y) AS BIGINT) AS sty
         FROM s GROUP BY 1)
       SELECT event_type, n AS n_days, sy AS sum_cents,
         CAST(n * sty - st * sy AS BIGINT) AS slope_num,
         CAST(n * stt - st * st AS BIGINT) AS slope_den
       FROM mo ORDER BY event_type""") { (s, dir) =>
    val d = Tables.events(s, dir)
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(sum((dec2(col("value")) * 100).cast("long")).as("y"))
    val m = d.agg(min(col("day")).as("d0"))
    val ser = d.crossJoin(broadcast(m))
      .select(col("event_type"),
        datediff(col("day"), col("d0")).cast("long").as("t"), col("y"))
    olsMoments(ser, "event_type", "t", "y")
      .select(col("event_type"), col("n").as("n_days"),
        col("sy").as("sum_cents"),
        (col("n") * col("sty") - col("st") * col("sy")).as("slope_num"),
        (col("n") * col("stt") - col("st") * col("st")).as("slope_den"))
      .orderBy(col("event_type"))
  }

  // ---------------------------------------- gapped sequence patterns

  /** q306 — GAPPED SUBSEQUENCE pattern mining (SPAM/PrefixSpan
    * semantics at fixed length 3: does the user's stream contain
    * a…b…c with ANY gaps — unlike q233's CONTIGUOUS session paths and
    * q220's adjacent Markov transitions, this is order-without-
    * adjacency, the shape funnel analysis actually wants): for every
    * ordered type triple the ledger counts users whose stream
    * contains it as a subsequence. Existence is decided by the GREEDY
    * witness — earliest a, earliest b after it, any c after that —
    * which is correct for subsequence existence (matroid greedy: if
    * any witness exists, the greedy one does) and turns the
    * exponential pattern search into three rank-1 windows.
    *
    * Scale shape: everything is keyed by user — first-per-type via
    * one user-partitioned window; "earliest b after first a" via ONE
    * 5×-fanout self-join (each event joins its user's ≤5 firsts) +
    * a second window; the triple check is a ≤125-rows-per-user
    * dimension join against the ≤5-per-user last-occurrence table.
    * No per-pattern scan, no combinatorial blowup: the 5³ pattern
    * space is walked entirely on user-bounded derived tables. Tuple
    * order (ts, event_id) is spelled as an explicit lexicographic
    * predicate on both engines — no struct-min portability bet.
    */
  val q306 = oracled(
    "q306_gapped_sequences",
    "users containing each ordered type triple as a gapped subsequence (greedy witness)",
    """WITH e AS (SELECT user_id, event_type AS ty, ts, event_id
         FROM events),
       f1 AS (SELECT user_id, ty AS a, ts, event_id FROM (
           SELECT user_id, ty, ts, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id, ty
               ORDER BY ts, event_id) AS rn
           FROM e) t WHERE rn = 1),
       f2 AS (SELECT user_id, a, b, ts, event_id FROM (
           SELECT e.user_id, f1.a, e.ty AS b, e.ts, e.event_id,
             ROW_NUMBER() OVER (PARTITION BY e.user_id, f1.a, e.ty
               ORDER BY e.ts, e.event_id) AS rn
           FROM e JOIN f1 ON f1.user_id = e.user_id
             AND (e.ts > f1.ts OR (e.ts = f1.ts
               AND e.event_id > f1.event_id))) t
         WHERE rn = 1),
       lk AS (SELECT user_id, ty AS c, ts, event_id FROM (
           SELECT user_id, ty, ts, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id, ty
               ORDER BY ts DESC, event_id DESC) AS rn
           FROM e) t WHERE rn = 1),
       m AS (SELECT f2.user_id, f2.a, f2.b, lk.c
         FROM f2 JOIN lk ON lk.user_id = f2.user_id
         WHERE lk.ts > f2.ts OR (lk.ts = f2.ts
           AND lk.event_id > f2.event_id))
       SELECT a, b, c, CAST(COUNT(*) AS BIGINT) AS n_users
       FROM m GROUP BY 1, 2, 3 ORDER BY a, b, c""") { (s, dir) =>
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_type").as("ty"), col("ts"),
        col("event_id"))
      .localCheckpoint(false)
    val wFirst = Window.partitionBy(col("user_id"), col("ty"))
      .orderBy(col("ts"), col("event_id"))
    val f1 = e.withColumn("rn", row_number().over(wFirst))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("ty").as("a"), col("ts").as("ts1"),
        col("event_id").as("eid1"))
    val wSecond = Window.partitionBy(col("user_id"), col("a"), col("ty"))
      .orderBy(col("ts"), col("event_id"))
    val f2 = e.join(f1, Seq("user_id"))
      .filter(col("ts") > col("ts1") ||
        (col("ts") === col("ts1") && col("event_id") > col("eid1")))
      .withColumn("rn", row_number().over(wSecond))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("a"), col("ty").as("b"),
        col("ts").as("ts2"), col("event_id").as("eid2"))
    val wLast = Window.partitionBy(col("user_id"), col("ty"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val lk = e.withColumn("rn", row_number().over(wLast))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("ty").as("c"), col("ts").as("ts3"),
        col("event_id").as("eid3"))
    f2.join(lk, Seq("user_id"))
      .filter(col("ts3") > col("ts2") ||
        (col("ts3") === col("ts2") && col("eid3") > col("eid2")))
      .groupBy(col("a"), col("b"), col("c"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("a"), col("b"), col("c"))
  }

  // ------------------------------------------- time-to-conversion

  /** q307 — TIME-TO-FIRST-CONVERSION quartiles per ACQUISITION channel
    * (the funnel-latency summary that sits beside q286's credit
    * attribution: not who gets credit, but how long conversion takes
    * depending on how the user arrived — the user's FIRST event type
    * is the acquisition channel, the metric is µs from that first
    * event to the first purchase, conversion-less users excluded):
    * p25/p50/p75 via the shared [[graft.plans.ExactQuantile]]
    * order-statistic template — quartiles ship ×4/×2/×4 as exact
    * BIGINTs, no engine percentile function anywhere (the q58/q160
    * discipline).
    *
    * Scale shape: two rank-1 user-partitioned windows (first event,
    * first purchase) + one user-keyed join build the per-user metric;
    * the grouped quantiles are the template's three bounded scans
    * (bounds → histogram → winning buckets), per-group state bounded
    * by its bucket count, never the user count.
    */
  val q307 = oracled(
    "q307_time_to_conversion",
    "per-acquisition-channel time-to-first-purchase quartiles (exact order statistics)",
    """WITH fe AS (SELECT user_id, event_type AS channel, ts FROM (
           SELECT user_id, event_type, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS rn
           FROM events) t WHERE rn = 1),
       fp AS (SELECT user_id, ts FROM (
           SELECT user_id, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS rn
           FROM events WHERE event_type = 'purchase') t WHERE rn = 1),
       qsrc AS (SELECT fe.channel,
           epoch_us(CAST(fp.ts AS TIMESTAMP))
             - epoch_us(CAST(fe.ts AS TIMESTAMP)) AS v
         FROM fe JOIN fp ON fp.user_id = fe.user_id),
       nn AS (SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_users
         FROM qsrc GROUP BY channel),
       """ +
      graft.plans.ExactQuantile.oracleCtes("t", "qsrc", Seq("channel"),
        Seq(graft.plans.ExactQuantile.Q("p25_x4", 1, 4),
          graft.plans.ExactQuantile.Q("p50_x2", 1, 2),
          graft.plans.ExactQuantile.Q("p75_x4", 3, 4))) +
      """
       SELECT nn.channel, nn.n_users,
         CAST(tq.p25_x4 AS BIGINT) AS p25_x4,
         CAST(tq.p50_x2 AS BIGINT) AS p50_x2,
         CAST(tq.p75_x4 AS BIGINT) AS p75_x4
       FROM nn JOIN tq ON tq.channel = nn.channel
       ORDER BY nn.channel""") { (s, dir) =>
    import graft.plans.ExactQuantile
    val wU = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts"),
        col("event_id"))
    val fe = e.withColumn("rn", row_number().over(wU))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("channel"),
        unix_micros(col("ts")).as("t0"))
    val fp = e.filter(col("event_type") === "purchase")
      .withColumn("rn", row_number().over(wU))
      .filter(col("rn") === 1)
      .select(col("user_id"), unix_micros(col("ts")).as("tp"))
    val qsrc = fe.join(fp, Seq("user_id"))
      .select(col("channel"), (col("tp") - col("t0")).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nn = qsrc.groupBy(col("channel"))
      .agg(count(lit(1)).as("n_users"))
    val qq = ExactQuantile.grouped(qsrc, Seq("channel"), "v",
      Seq(ExactQuantile.Q("p25_x4", 1, 4), ExactQuantile.Q("p50_x2", 1, 2),
        ExactQuantile.Q("p75_x4", 3, 4)))
    nn.join(qq, Seq("channel"))
      .select(col("channel"), col("n_users"), col("p25_x4"),
        col("p50_x2"), col("p75_x4"))
      .orderBy(col("channel"))
  }

  // ------------------------------------------- Kaplan-Meier survival

  /** q308 — KAPLAN–MEIER churn survival ledger (the right-censored
    * survival table behind every retention curve; Kaplan/Meier JASA
    * '58): the survival subject is a (user, item) ENGAGEMENT — the
    * fixture's per-user stream spans the whole corpus window, so
    * user-level churn is all-censored and vacuous; engagement-level
    * durations (first to last interaction with one item) carry a real
    * spectrum. Duration = last-day − first-day; an engagement whose
    * last activity is within 7 days of the corpus end is CENSORED at
    * that duration (still alive as far as the data can see — ignoring
    * censoring is the classic retention-curve bug, and the ledger
    * makes it impossible: exits d_t and censorings c_t are separate
    * columns). Per duration t with any exit: n_risk(t) = engagements
    * with duration ≥ t. The KM estimator Ŝ(t) = Π(1 −
    * d_i/n_i) is the CONSUMER's product — a running product of
    * rationals has unbounded denominators, so the hash-gated artifact
    * is the exact integer TABLE the estimator is defined from (the
    * q297 per-cell discipline).
    *
    * Scale shape: per-engagement first/last via one partial-
    * aggregable groupBy(user, item); everything after runs on the
    * duration-bounded
    * exit table (calendar days, never users) — the suffix n_risk is
    * total − exclusive-prefix over that bounded table.
    */
  val q308 = oracled(
    "q308_kaplan_meier",
    "right-censored engagement survival table: per-duration n_risk / churned / censored",
    """WITH u AS (SELECT user_id, event_id % 100 AS item,
           MIN(CAST(ts AS DATE)) AS f, MAX(CAST(ts AS DATE)) AS l
         FROM events GROUP BY 1, 2),
       d0 AS (SELECT MAX(l) AS dend FROM u),
       obs AS (SELECT CAST(l - f AS BIGINT) AS dur,
           CASE WHEN l <= dend - 7 THEN 1 ELSE 0 END AS churned
         FROM u CROSS JOIN d0),
       ex AS (SELECT dur, CAST(SUM(churned) AS BIGINT) AS d,
           CAST(SUM(1 - churned) AS BIGINT) AS c,
           CAST(COUNT(*) AS BIGINT) AS exits
         FROM obs GROUP BY dur),
       nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM obs),
       rk AS (SELECT dur, d, c,
           total - COALESCE(SUM(exits) OVER (ORDER BY dur
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS n_risk
         FROM ex CROSS JOIN nn)
       SELECT dur, CAST(n_risk AS BIGINT) AS n_risk, d AS n_churned,
         c AS n_censored
       FROM rk ORDER BY dur""") { (s, dir) =>
    val u = Tables.events(s, dir)
      .groupBy(col("user_id"), (col("event_id") % 100).as("item"))
      .agg(min(col("ts").cast("date")).as("f"),
        max(col("ts").cast("date")).as("l"))
    val d0 = u.agg(max(col("l")).as("dend"))
    val obs = u.crossJoin(broadcast(d0))
      .select(datediff(col("l"), col("f")).cast("long").as("dur"),
        when(col("l") <= date_sub(col("dend"), 7), 1L).otherwise(0L)
          .as("churned"))
    val ex = obs.groupBy(col("dur"))
      .agg(sum(col("churned")).as("d"),
        sum(lit(1L) - col("churned")).as("c"),
        count(lit(1)).as("exits"))
    val nn = obs.agg(count(lit(1)).as("total"))
    val wPre = Window.orderBy(col("dur"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ex.crossJoin(broadcast(nn))
      .withColumn("n_risk", col("total")
        - coalesce(sum(col("exits")).over(wPre), lit(0L)))
      .select(col("dur"), col("n_risk"), col("d").as("n_churned"),
        col("c").as("n_censored"))
      .orderBy(col("dur"))
  }

  val all: Seq[GQuery] =
    Seq(q56, q57, q58, q87, q115, q117, q126, q128, q133, q153, q159, q161,
      q163, q178, q179, q196, q218, q219, q220, q226, q227, q233, q234,
      q235, q242, q243, q248, q261, q282, q286, q293, q295, q306, q307,
      q308, q314)
}
