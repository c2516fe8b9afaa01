package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.AsOfJoin
import Tables._

/** Second wave of the extended relational surface (SURVEY §2.2):
  * as-of + range joins, lag/lead/ntile windows, pivot, exact
  * percentiles, moment statistics, grouping sets, having, explode,
  * and scalar-function batteries (string/date).
  *
  * Cross-engine determinism notes:
  *   - timestamps compare/export via `unix_micros` (DuckDB `epoch_us`);
  *   - double aggregates whose merge order varies (corr/stddev/var,
  *     percentile interpolation) are rounded to 6 dp in BOTH engines;
  *   - DATE-typed outputs are cast to DATE on both sides (Spark
  *     `add_months` returns DATE, DuckDB `+ INTERVAL` a TIMESTAMP);
  *   - Spark `dayofweek` is 1=Sunday..7; DuckDB `dayofweek` 0=Sunday..6.
  */
object ExtendedQueries {

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // As-of join: each purchase picks the user's most recent earlier
    // click (union + window; see graft.operators.AsOfJoin).
    "join_asof" -> ((s, d) => {
      val ev = events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "ts", "value")
      AsOfJoin.lastEarlier(purchases, clicks, "user_id", "ts", "ts",
          Seq("value"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("purchase_us"),
          unix_micros(col("asof.ts")).as("click_us"),
          col("asof.value").as("click_value"))
    }),

    // The SAME last-click attribution through the native sort-merge
    // as-of operator (plans/AsOfJoinPlan: custom LogicalPlan →
    // SparkStrategy → SparkPlan, injected via GraftExtensions) — one
    // forward merge pass per co-clustered partition, O(1) state, no
    // union/window buffer. Oracle identical to join_asof; the two
    // implementations hash-agree, which is the strongest check the
    // custom operator can get.
    "join_asof_native" -> ((s, d) => {
      val ev = events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "ts", "value")
      graft.operators.AsOfJoinNative.asofBackward(
          purchases, col("user_id"), unix_micros(col("ts")),
          clicks, col("user_id"), unix_micros(col("ts")),
          Seq("click_us" -> unix_micros(col("ts")),
            "click_value" -> col("value")))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("purchase_us"),
          col("click_us"), col("click_value"))
    }),

    // The same attribution through the SKEW-SALTED wrapper: probes
    // scatter over 8 sub-keys, versions replicate once per salt, and
    // the result is bit-identical to the unsalted native join (the
    // oracle replays the plain ASOF) — the documented mitigation for
    // a hot tenant that the hash-clustered custom exec cannot
    // AQE-split at runtime.
    "join_asof_salted" -> ((s, d) => {
      val ev = events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "ts", "value")
      graft.operators.AsOfJoinNative.asofSalted(
          purchases, col("user_id"), unix_micros(col("ts")),
          clicks, col("user_id"), unix_micros(col("ts")),
          Seq("click_us" -> unix_micros(col("ts")),
            "click_value" -> col("value")), salts = 8)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("purchase_us"),
          col("click_us"), col("click_value"))
    }),

    // The same attribution through the TIME-SHARDED wrapper: probes
    // co-partition on (user, time-bucket) so a hot user's probe
    // stream splits across 8 partitions, and each left-occupied
    // bucket is padded with ONE carried boundary version instead of
    // salting's full-history ×salts replication — the key+time-range
    // co-partitioning posture for hot keys with LONG version
    // histories. Result is bit-identical to the unsalted native join
    // (oracle replays the plain ASOF).
    "join_asof_sharded" -> ((s, d) => {
      val ev = events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "ts", "value")
      graft.operators.AsOfJoinNative.asofTimeSharded(
          purchases, col("user_id"), unix_micros(col("ts")),
          clicks, col("user_id"), unix_micros(col("ts")),
          Seq("click_us" -> unix_micros(col("ts")),
            "click_value" -> col("value")), shards = 8)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("purchase_us"),
          col("click_us"), col("click_value"))
    }),

    // Forward attribution through the native exec (peek-don't-consume
    // merge head; ties to the MIN payload tuple = firstLater's rule).
    // Clicks pre-deduped per (user, ts) exactly like join_asof_forward
    // so both implementations and the oracle see one candidate per
    // instant.
    "join_asof_fwd_native" -> ((s, d) => {
      val ev = events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "ts").agg(min(col("value")).as("value"))
      graft.operators.AsOfJoinNative.asofForward(
          purchases, col("user_id"), unix_micros(col("ts")),
          clicks, col("user_id"), unix_micros(col("ts")),
          Seq("click_us" -> unix_micros(col("ts")),
            "click_value" -> col("value")))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("purchase_us"),
          col("click_us"), col("click_value"))
    }),

    // Nearest attribution through the native exec — backward consumed
    // state + forward peeked head in the SAME one-pass merge, pick by
    // |Δt| with ties to the backward side. Completes the native
    // direction set (backward / forward / nearest).
    "join_asof_near_native" -> ((s, d) => {
      val ev = events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "ts").agg(min(col("value")).as("value"))
      graft.operators.AsOfJoinNative.asofNearest(
          purchases, col("user_id"), unix_micros(col("ts")),
          clicks, col("user_id"), unix_micros(col("ts")),
          Seq("click_us" -> unix_micros(col("ts")),
            "click_value" -> col("value")))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("purchase_us"),
          col("click_us"), col("click_value"))
    }),

    // The SAME staleness-bounded attribution through the native
    // sort-merge exec: tolerance is checked inside the one merge pass
    // (plans/AsOfJoinPlan), so the bounded join gets the
    // halved-shuffle single-pass plan too — no union/window buffer.
    // Oracle identical to join_asof_tol.
    "join_asof_tol_native" -> ((s, d) => {
      val ev = events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "ts", "value")
      graft.operators.AsOfJoinNative.asofBackwardWithin(
          purchases, col("user_id"), unix_micros(col("ts")),
          clicks, col("user_id"), unix_micros(col("ts")),
          Seq("click_us" -> unix_micros(col("ts")),
            "click_value" -> col("value")),
          tolerance = 6L * 3600 * 1000000)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("purchase_us"),
          col("click_us"), col("click_value"))
    }),

    // As-of with a staleness bound (pandas merge_asof tolerance): the
    // last-click attribution above, but a click older than 6 hours no
    // longer explains the purchase. Exact post-check on the carried
    // match ts — same one-shuffle plan as join_asof, no second join.
    "join_asof_tol" -> ((s, d) => {
      val ev = events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "ts", "value")
      AsOfJoin.lastEarlierWithin(purchases, clicks, "user_id", "ts",
          "ts", Seq("value"), tolerance = 6L * 3600 * 1000000)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("purchase_us"),
          unix_micros(col("asof.ts")).as("click_us"),
          col("asof.value").as("click_value"))
    }),

    // Null-safe equality join (<=>): both sides map status 'P' to
    // NULL; <=> matches NULL with NULL where plain = silently drops
    // those rows — the classic dimension-key-with-unknowns join bug.
    "join_nullsafe" -> ((s, d) => {
      val l = orders(s, d)
        .groupBy(expr("nullif(o_orderstatus, 'P')").as("st"))
        .agg(count(lit(1)).as("n_orders"))
      val r = orders(s, d)
        .groupBy(expr("nullif(o_orderstatus, 'P')").as("st2"))
        .agg(countDistinct(col("o_custkey")).as("n_custs"))
      l.join(r, col("st") <=> col("st2"))
        .select(col("st"), col("n_orders"), col("n_custs"))
    }),

    // Forward as-of: each purchase enriched with the NEXT click
    // (click.ts >= purchase.ts) — same union-sort-window shape as the
    // backward join, one user_id shuffle. Clicks pre-reduce to one
    // row per (user, ts) (min value) so the attached payload is
    // deterministic at any SF.
    "join_asof_forward" -> ((s, d) => {
      val ev = events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "ts").agg(min(col("value")).as("value"))
      AsOfJoin.firstLater(purchases, clicks, "user_id", "ts", "ts",
          Seq("value"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("purchase_us"),
          unix_micros(col("asof.ts")).as("click_us"),
          col("asof.value").as("click_value"))
    }),

    // Nearest as-of: the click minimizing |Δt| around each purchase,
    // exact tie → earlier. Both direction windows share ONE user_id
    // exchange.
    "join_asof_nearest" -> ((s, d) => {
      val ev = events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "ts").agg(min(col("value")).as("value"))
      AsOfJoin.nearest(purchases, clicks, "user_id", "ts", "ts",
          Seq("value"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("purchase_us"),
          unix_micros(col("asof.ts")).as("click_us"),
          col("asof.value").as("click_value"))
    }),

    // Range join: click->purchase conversions within one hour, same
    // user. Equi key (user) + range predicate: shuffles once on the
    // key, the range filter applies inside the joined partitions.
    "join_range" -> ((s, d) => {
      val ev = events(s, d)
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("c_us"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("p_us"))
      c.join(p, "user_id")
        .filter(col("p_us") > col("c_us") &&
          col("p_us") - col("c_us") <= 3600000000L)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"),
          (sum(col("p_us") - col("c_us")).cast("double") / count(lit(1)))
            .as("avg_gap_us"))
    }),

    // PURE range join (no equi key): every ~1000th event anchors a
    // +-30min "incident window"; count ALL events (any user) inside
    // each window. Without binning Spark plans this contains-join as a
    // BroadcastNestedLoopJoin — operators/RangeJoin turns it into a
    // plain equi-join on 10-minute buckets (pinned in PlanShapeSpec).
    "join_range_binned" -> ((s, d) => {
      val ev = events(s, d)
        .select(col("event_id"), unix_micros(col("ts")).as("us"))
      val win = events(s, d).filter(col("event_id") % 997 === 0)
        .select(col("event_id").as("win_id"),
          (unix_micros(col("ts")) - 1800000000L).as("lo"),
          (unix_micros(col("ts")) + 1800000000L).as("hi"))
      graft.operators.RangeJoin.pointInInterval(ev, "us", win,
          "lo", "hi", binWidth = 600000000L)
        .groupBy("win_id").agg(count(lit(1)).as("n_events"))
    }),

    // The SAME range join spelled naively — `points.join(intervals,
    // v BETWEEN lo AND hi)`, no manual binning AND no hand-picked
    // width: the session builders set binWidth=auto, so the
    // RangeJoinRewrite optimizer rule derives the width from the p90
    // interval length at planning time and turns the join into the
    // binned equi-join automatically; without the rule Spark plans a
    // BroadcastNestedLoopJoin. Oracle is join_range_binned's SQL
    // verbatim — the rewrite must be result-identical, hash-checked.
    "join_range_auto" -> ((s, d) => {
      val ev = events(s, d)
        .select(col("event_id"), unix_micros(col("ts")).as("us"))
      val win = events(s, d).filter(col("event_id") % 997 === 0)
        .select(col("event_id").as("win_id"),
          (unix_micros(col("ts")) - 1800000000L).as("lo"),
          (unix_micros(col("ts")) + 1800000000L).as("hi"))
      ev.join(win, col("us") >= col("lo") && col("us") <= col("hi"))
        .groupBy("win_id").agg(count(lit(1)).as("n_events"))
    }),

    // Interval×interval OVERLAP join (the range×range sibling):
    // ±30min incident windows vs ±10min maintenance windows, paired
    // iff they overlap in time — RangeJoin.intervalOverlap's binned
    // equi-join with the first-shared-bin exactly-once rule, never a
    // nested-loop. Overlap length is exact integer arithmetic
    // (min(hi)-max(lo)+1 on inclusive micros), so the aggregate
    // hash-mirrors the oracle's plain theta join.
    "join_range_overlap" -> ((s, d) => {
      val ev = events(s, d)
      val a = ev.filter(col("event_id") % 997 === 0)
        .select(col("event_id").as("a_id"),
          (unix_micros(col("ts")) - 1800000000L).as("a_lo"),
          (unix_micros(col("ts")) + 1800000000L).as("a_hi"))
      val b = ev.filter(col("event_id") % 499 === 0)
        .select(col("event_id").as("b_id"),
          (unix_micros(col("ts")) - 600000000L).as("b_lo"),
          (unix_micros(col("ts")) + 600000000L).as("b_hi"))
      graft.operators.RangeJoin.intervalOverlap(a, "a_lo", "a_hi",
          b, "b_lo", "b_hi", binWidth = 600000000L)
        .groupBy("a_id")
        .agg(count(lit(1)).as("n_overlaps"),
          sum(least(col("a_hi"), col("b_hi")) -
            greatest(col("a_lo"), col("b_lo")) + 1L)
            .as("sum_overlap_us"))
    }),

    // The SAME overlap join spelled naively — a bare two-conjunct
    // theta join Spark would plan as a nested loop; the
    // RangeJoinRewrite overlap path (binWidth=auto) must turn it into
    // the binned first-shared-bin equi-join with identical results
    // (oracle is join_range_overlap's SQL verbatim, hash-checked).
    "join_range_overlap_auto" -> ((s, d) => {
      val ev = events(s, d)
      val a = ev.filter(col("event_id") % 997 === 0)
        .select(col("event_id").as("a_id"),
          (unix_micros(col("ts")) - 1800000000L).as("a_lo"),
          (unix_micros(col("ts")) + 1800000000L).as("a_hi"))
      val b = ev.filter(col("event_id") % 499 === 0)
        .select(col("event_id").as("b_id"),
          (unix_micros(col("ts")) - 600000000L).as("b_lo"),
          (unix_micros(col("ts")) + 600000000L).as("b_hi"))
      a.join(b, col("a_lo") <= col("b_hi") && col("b_lo") <= col("a_hi"))
        .groupBy("a_id")
        .agg(count(lit(1)).as("n_overlaps"),
          sum(least(col("a_hi"), col("b_hi")) -
            greatest(col("a_lo"), col("b_lo")) + 1L)
            .as("sum_overlap_us"))
    }),

    // Event-type transition matrix (first-order Markov counts): lag
    // window per user, then a global bigram aggregate — one user_id
    // exchange for the window, one partial-agg'd shuffle on the (tiny)
    // 5×5 transition key space. The tie-break on event_id makes the
    // sequence — and therefore every count — deterministic.
    "events_transitions" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      events(s, d)
        .select(col("user_id"), col("event_type"),
          lag(col("event_type"), 1).over(w).as("prev_type"))
        .filter(col("prev_type").isNotNull)
        .select(col("prev_type"), col("event_type").as("next_type"))
        .groupBy("prev_type", "next_type")
        .agg(count(lit(1)).as("n"))
    }),

    // Conversion funnel: first view -> first later click -> first
    // later purchase per user. ONE exchange on user_id end to end:
    // the staged minima are chained window aggregates over the same
    // partitioning (each stage's condition reads the previous stage's
    // column), the per-user reduce reuses that partitioning
    // exchange-free, and the 3-stage unpivot is a 1-row stack. The
    // v1 shape (per-stage groupBy + join against the previous stage)
    // re-aggregated the events scan 6x and only avoided shuffle
    // joins because an all-users aggregate happens to broadcast at
    // test SF — at 100 TB those joins are sort-merge with two more
    // exchanges each; this shape is SF-independent.
    "events_funnel" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
      val staged = events(s, d)
        .select(col("user_id"), col("event_type"), col("ts"))
        .withColumn("v_ts",
          min(when(col("event_type") === "view", col("ts"))).over(w))
        .withColumn("c_ts",
          min(when(col("event_type") === "click" &&
            col("ts") > col("v_ts"), col("ts"))).over(w))
        .withColumn("p_ts",
          min(when(col("event_type") === "purchase" &&
            col("ts") > col("c_ts"), col("ts"))).over(w))
      staged.groupBy("user_id").agg(
          max(col("v_ts").isNotNull).as("has_v"),
          max(col("c_ts").isNotNull).as("has_c"),
          max(col("p_ts").isNotNull).as("has_p"))
        .agg(sum(when(col("has_v"), 1L).otherwise(0L)).as("nv"),
          sum(when(col("has_c"), 1L).otherwise(0L)).as("nc"),
          sum(when(col("has_p"), 1L).otherwise(0L)).as("np"))
        .select(expr("stack(3, '1_view', nv, '2_click', nc, " +
          "'3_purchase', np) AS (stage, n)"))
    }),

    // Retention cohort matrix: users bucketed by signup week, counted
    // distinct in each subsequent activity week. The cohort stamp is
    // a window MIN over the same user_id partitioning instead of an
    // aggregate+self-join (a null cohort — user never signed up — is
    // dropped by the >= filter, exactly the inner join's semantics),
    // so the only user_id exchange is the window's and no join node
    // exists at any SF.
    "events_retention" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
      events(s, d)
        .select(col("user_id"), col("ts"), col("event_type"))
        .withColumn("cohort", min(when(col("event_type") === "signup",
          date_trunc("week", col("ts")))).over(w))
        .filter(col("ts") >= col("cohort"))
        .groupBy(to_date(col("cohort")).as("cohort_week"),
          floor(datediff(to_date(col("ts")), to_date(col("cohort"))) / 7)
            .as("wk"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    }),

    // lag/lead offsets within a partition.
    "window_lag" -> ((s, d) => {
      val w = Window.partitionBy("event_type").orderBy("ts", "event_id")
      events(s, d).select(col("event_id"), col("event_type"), col("value"),
        lag("value", 1).over(w).as("prev_value"),
        lead("value", 1).over(w).as("next_value"),
        (col("value") - coalesce(lag("value", 1).over(w), lit(0.0)))
          .as("delta"))
    }),

    // Ranking family: ntile/rank/percent_rank over a deterministic
    // (unique-tiebreak) ordering, partitioned so no global sort.
    "window_ntile" -> ((s, d) => {
      val w = Window.partitionBy("o_orderstatus")
        .orderBy("o_totalprice", "o_orderkey")
      orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
        ntile(10).over(w).as("decile"),
        rank().over(w).as("rnk"),
        round(percent_rank().over(w), 6).as("pct_rank"))
    }),

    // Pivot: one count column per order priority (explicit value list
    // -> stable schema; missing combos coalesced to 0 on both sides).
    "pivot_agg" -> ((s, d) => {
      val pv = orders(s, d).groupBy("o_orderstatus")
        .pivot("o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .agg(count(lit(1)))
      pv.select(col("o_orderstatus"),
        coalesce(col("1-URGENT"), lit(0L)).as("n_urgent"),
        coalesce(col("2-HIGH"), lit(0L)).as("n_high"),
        coalesce(col("3-MEDIUM"), lit(0L)).as("n_medium"),
        coalesce(col("4-NOT SPECIFIED"), lit(0L)).as("n_notspec"),
        coalesce(col("5-LOW"), lit(0L)).as("n_low"))
    }),

    // UNPIVOT (melt): wide per-priority aggregates back to long
    // (metric, val) rows via stack — the generator-side inverse of
    // pivot_agg. Values cast double so one stack column type fits all.
    "unpivot_agg" -> ((s, d) =>
      orders(s, d).groupBy("o_orderpriority").agg(
          count(lit(1)).cast("double").as("n_orders"),
          countDistinct(col("o_custkey")).cast("double").as("n_cust"))
        .select(col("o_orderpriority"),
          expr("stack(2, 'n_orders', n_orders, 'n_cust', n_cust)" +
            " AS (metric, val)"))),

    // first/last/nth over the full partition frame (ROWS UNBOUNDED
    // both ways): values come straight from storage, so cross-engine
    // determinism needs only the unique (ts, event_id) ordering.
    "window_nth" -> ((s, d) => {
      val w = Window.partitionBy("event_type")
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      events(s, d).select(col("event_id"), col("event_type"),
        first(col("value")).over(w).as("first_v"),
        last(col("value")).over(w).as("last_v"),
        nth_value(col("value"), 3).over(w).as("third_v"))
    }),

    // Time-series gap-fill: complete the per-type daily calendar
    // (sequence over each type's observed [min, max] span), then LOCF
    // — last(ignoreNulls) over the day order. The calendar explode is
    // per GROUP (bounded by span days), never per event, and the one
    // window reuses the event_type partitioning — the standard
    // resample shape at any scale.
    "events_gapfill" -> ((s, d) => {
      val daily = events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint(false) // two consumers: bounds + the join
      val cal = daily.groupBy("event_type")
        .agg(min("day").as("lo"), max("day").as("hi"))
        .select(col("event_type"),
          explode(sequence(col("lo"), col("hi"))).as("day"))
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cal.join(daily, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"),
          coalesce(col("n"), lit(0L)).as("n"),
          last(col("n"), ignoreNulls = true).over(w).as("n_locf"))
    }),

    // Exact interpolated percentiles (== DuckDB `quantile_cont`),
    // rounded 6dp — computed by ext/ExactQuantiles, NOT Spark's exact
    // grouped `percentile`, whose per-group buffer materializes that
    // group's full value multiset (at 100 TB a hot group is an
    // executor-memory wall — the same scale-killer the equi-depth
    // histogram had). Bounded passes instead: grouped min/max/count,
    // per-group-range histogram via broadcast stats join, one windowed
    // candidate scan (input within refineLimit: one windowed rank
    // pass instead) — and the MULTI-column variant computes both
    // value columns' stats and histograms in the SAME scans (r07 ran
    // the machinery once per column, 2× the passes and an 8× local
    // regression).
    "percentile_agg" -> ((s, d) =>
      graft.ext.ExactQuantiles.groupedPercentilesMulti(
        lineitem(s, d), "l_returnflag",
        Seq("l_quantity" -> Seq(0.5), "l_extendedprice" -> Seq(0.25, 0.9)))
        .select(col("l_returnflag"), round(col("p0"), 6).as("p50_qty"),
          round(col("p1"), 6).as("p25_price"),
          round(col("p2"), 6).as("p90_price"))),

    // Quantile SKETCH (the scan-tier companion to the HLL distinct
    // sketch): approx_percentile with accuracy A bounds rank error by
    // n/A. The query verifies that bound itself — the returned value's
    // feasible rank interval [count(<v)+1, count(<=v)] must intersect
    // [p*n - n/A, p*n + n/A] — and emits booleans whose oracle is
    // constant truth, so sketch drift goes hash-red (the
    // approx_distinct pattern). One extra scan against the broadcast
    // 1-row sketch result; both aggregations are map-side partial.
    "approx_percentile_agg" -> ((s, d) => {
      val acc = 1000
      val o = orders(s, d)
      val sk = o.agg(
        expr(s"approx_percentile(o_totalprice, 0.5, $acc)").as("a50"),
        expr(s"approx_percentile(o_totalprice, 0.9, $acc)").as("a90"),
        count(lit(1)).as("n"))
      o.crossJoin(broadcast(sk))
        .agg(max(col("n")).as("n"),
          sum(when(col("o_totalprice") < col("a50"), 1L).otherwise(0L))
            .as("lo50"),
          sum(when(col("o_totalprice") <= col("a50"), 1L).otherwise(0L))
            .as("hi50"),
          sum(when(col("o_totalprice") < col("a90"), 1L).otherwise(0L))
            .as("lo90"),
          sum(when(col("o_totalprice") <= col("a90"), 1L).otherwise(0L))
            .as("hi90"))
        .select(
          (col("lo50") + 1 <= col("n") * 0.5 + col("n") / acc &&
            col("hi50") >= col("n") * 0.5 - col("n") / acc).as("p50_ok"),
          (col("lo90") + 1 <= col("n") * 0.9 + col("n") / acc &&
            col("hi90") >= col("n") * 0.9 - col("n") / acc).as("p90_ok"))
    }),

    // Moment statistics (single-pass co-moment aggregates).
    "stats_agg" -> ((s, d) =>
      lineitem(s, d).agg(
        round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
        round(var_samp(col("l_quantity")), 6).as("var_qty"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6)
          .as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_discount")), 6)
          .as("covar_qty_disc"))),

    // Explicit GROUPING SETS (beyond rollup/cube).
    "grouping_sets" -> ((s, d) => {
      orders(s, d).createOrReplaceTempView("gs_orders")
      s.sql("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
               FROM gs_orders
               GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""")
    }),

    // Aggregate + HAVING (post-aggregation filter).
    "having_agg" -> ((s, d) =>
      orders(s, d).groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).cast("double").as("total_spend"))
        .filter(col("n_orders") >= 8)),

    // Generator/UDTF surface: token stream with positions.
    "explode_tokens" -> ((s, d) =>
      documents(s, d).filter(col("doc_id") < 50)
        .select(col("doc_id"),
          posexplode(graft.ext.Dedup.tokens(col("text")))
            .as(Seq("pos", "token")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("token"))),

    // Gap-based sessionization: a new session starts after >30 min of
    // user inactivity; session ids via a running sum of session-start
    // flags — one shuffle by user, two window passes, then a keyed
    // aggregate. The batch face of streaming session windows.
    "events_sessionize" -> ((s, d) => {
      val wOrd = Window.partitionBy("user_id").orderBy("us", "event_id")
      val wRun = wOrd.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      events(s, d)
        .select(col("user_id"), col("event_id"), col("value"),
          unix_micros(col("ts")).as("us"))
        .withColumn("gap", col("us") - lag("us", 1).over(wOrd))
        .withColumn("is_new",
          when(col("gap").isNull || col("gap") > 1800000000L, 1)
            .otherwise(0))
        .withColumn("sess", sum("is_new").over(wRun))
        .groupBy("user_id", "sess")
        .agg(count(lit(1)).as("n_events"),
          min(col("us")).as("start_us"),
          max(col("us")).as("end_us"),
          sum(dec(col("value"))).cast("double").as("sum_value"))
    }),

    // String scalar-function battery.
    "string_funcs" -> ((s, d) =>
      customer(s, d).select(col("c_custkey"),
        upper(col("c_name")).as("uname"),
        length(col("c_name")).as("len"),
        substring(col("c_name"), 10, 5).as("sub"),
        regexp_replace(col("c_name"), "Customer", "Cust").as("repl"),
        lpad(col("c_custkey").cast("string"), 10, "0").as("padded"),
        reverse(col("c_mktsegment")).as("rseg"),
        levenshtein(col("c_mktsegment"), lit("BUILDING")).as("lev"),
        instr(col("c_name"), "1").as("pos1"),
        concat_ws("-", col("c_mktsegment"), col("c_name")).as("joined"))),

    // Map/JSON functions: parse the props JSON object into a typed
    // map, then key/size/lookup operations on it.
    "map_funcs" -> ((s, d) =>
      events(s, d)
        .select(col("event_id"),
          from_json(col("props"),
            org.apache.spark.sql.types.DataType.fromDDL("map<string,bigint>"))
            .as("m"))
        .select(col("event_id"),
          concat_ws(",", array_sort(map_keys(col("m")))).as("keys"),
          size(col("m")).as("n_keys"),
          col("m").getItem("k").as("k"))),

    // Array functions over the token array: slice, negative index,
    // position (0 when absent), min element, membership.
    "array_funcs" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          graft.ext.Dedup.tokens(col("text")).as("ws"))
        .select(col("doc_id"),
          concat_ws(" ", slice(col("ws"), 1, 3)).as("first3"),
          element_at(col("ws"), -1).as("last_tok"),
          array_position(col("ws"), "the").as("the_pos"),
          array_min(col("ws")).as("min_tok"),
          array_contains(col("ws"), "data").as("has_data"))),

    // RANGE window frame (value-based, vs window_running's ROWS
    // frame): count/sum of orders within a $50k price band below each
    // order, per status. Value frames are tie-stable — no
    // order-dependence to break the cross-engine hash.
    "window_range_frame" -> ((s, d) => {
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice"))
        .rangeBetween(-50000L, Window.currentRow)
      orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"),
        count(lit(1)).over(w).as("n_in_band"),
        sum(dec(col("o_totalprice"))).over(w).cast("double")
          .as("band_sum"))
    }),

    // Lexicon-weighted scoring (the sentiment shape): a small weights
    // table BROADCAST-joined onto exploded tokens, weighted sum per
    // doc — the pattern for any lexicon op at scale (the lexicon is a
    // real relation, not a literal array, so it can come from a file
    // and grow without replanning).
    "text_sentiment" -> ((s, d) => {
      import s.implicits._
      val lex = Seq(
        ("fast", 2), ("big", 1), ("value", 1), ("merge", 1),
        ("slow", -2), ("small", -1), ("filter", -1), ("scan", -1))
        .toDF("word", "weight")
      documents(s, d)
        .select(col("doc_id"),
          explode(graft.ext.Dedup.tokens(col("text"))).as("t"))
        .join(broadcast(lex), col("t") === col("word"), "inner")
        .groupBy("doc_id")
        .agg(sum("weight").as("score"), count(lit(1)).as("n_hits"))
    }),

    // Null-handling battery: nulls manufactured with nullif, then
    // coalesce / na.fill / null-safe equality / null-aware counts.
    "null_handling" -> ((s, d) => {
      val withNulls = customer(s, d).select(col("c_custkey"),
        nullif(col("c_mktsegment"), lit("BUILDING")).as("seg_n"),
        when(col("c_acctbal") < 0, col("c_acctbal")).as("neg_bal"))
      withNulls.na.fill(Map("seg_n" -> "REDACTED"))
        .select(col("c_custkey"),
          col("seg_n"),
          coalesce(col("neg_bal"), lit(0.0)).as("neg_or_zero"),
          col("neg_bal").isNull.as("was_null"),
          (col("seg_n") <=> lit("REDACTED")).as("nullsafe_eq"))
    }),

    // ANSI-mode error-safe scalars: Spark 4 runs ANSI, where a bad
    // cast, an arithmetic overflow, or a divide-by-zero THROWS — at
    // 100 TB that's hours of work lost to one dirty row. The try_*
    // family turns row-level data errors into NULLs the pipeline can
    // quarantine instead: try_cast on an unparseable string, a
    // parseable prefix cast, try_divide with a cycling zero
    // denominator, try_add at the int64 ceiling.
    "scalar_try_funcs" -> ((s, d) =>
      orders(s, d).select(col("o_orderkey"),
        expr("try_cast(o_orderpriority AS INT)").as("pri_num"),
        expr("try_cast(substr(o_orderpriority, 1, 1) AS INT)")
          .as("pri_digit"),
        expr("try_divide(o_totalprice, o_custkey % 3)").as("div3"),
        expr("try_add(9223372036854775807L, o_orderkey)").as("ovf"))),

    // Date/time scalar-function battery.
    "date_funcs" -> ((s, d) =>
      orders(s, d).select(col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        quarter(col("o_orderdate")).as("q"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("dom"),
        dayofweek(col("o_orderdate")).as("dow"),
        last_day(col("o_orderdate")).as("month_end"),
        add_months(col("o_orderdate"), 2).as("plus2m"),
        datediff(lit("1999-01-01").cast("date"),
          col("o_orderdate").cast("date")).as("days_to_99"),
        unix_timestamp(date_trunc("month", col("o_orderdate")))
          .as("month_epoch"))),

    // Sequence pattern matching (the MATCH_RECOGNIZE analog): does a
    // session contain view → … → click → … → purchase in order? The
    // same gap-sessionization as events_sessionize, then ONE grouped
    // collect of the session's type sequence — sorted by the full
    // (us, event_id) struct so collect_list's arrival order can't
    // leak into the hash — and a regex over the joined string. State
    // is bounded by session length (the same bound a streaming
    // MATCH_RECOGNIZE engine holds per key); no window ever spans
    // more than one user.
    "events_pattern" -> ((s, d) => {
      val wOrd = Window.partitionBy("user_id").orderBy("us", "event_id")
      val wRun = wOrd.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .withColumn("gap", col("us") - lag("us", 1).over(wOrd))
        .withColumn("is_new",
          when(col("gap").isNull || col("gap") > 1800000000L, 1)
            .otherwise(0))
        .withColumn("sess", sum("is_new").over(wRun))
        .groupBy("user_id", "sess")
        .agg(count(lit(1)).as("n_events"),
          array_join(transform(
            array_sort(collect_list(struct(col("us"), col("event_id"),
              col("event_type")))),
            x => x.getField("event_type")), ",").as("seq"))
        .select(col("user_id"), col("sess"), col("n_events"),
          col("seq").rlike("view.*click.*purchase").as("hit"))
    }),

    // Time-series backtesting: the seasonal-naive baseline every
    // forecast must beat — predict each day's per-type event count
    // with the count 7 days earlier, score by MAE over the days where
    // a lag exists. Daily counts via one keyed aggregate, the lag via
    // a type-partitioned window over the DAY-level table (domain-
    // bounded), errors in exact integers; MAE emitted as numerator +
    // denominator plus one deterministic division.
    "events_forecast_naive" -> ((s, d) => {
      val daily = events(s, d)
        .groupBy(col("event_type"),
          date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy("day")
      daily.withColumn("pred", lag("n", 7).over(w))
        .filter(col("pred").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          sum(abs(col("n") - col("pred"))).as("abs_err_sum"))
        .select(col("event_type"), col("n_days"), col("abs_err_sum"),
          round(col("abs_err_sum").cast("double") / col("n_days"), 6)
            .as("mae"))
    }),

    // Holt linear-trend (double exponential) smoothing per event
    // type over the daily-count series — the trend-aware forecaster
    // next to events_forecast_naive's seasonal baseline. Dyadic
    // smoothing constants (α=1/2; trend recurrence pre-expanded to
    // b' = x/8 − l/8 + 7b/8 so every coefficient is a power of two)
    // and one fixed fold order make the doubles bit-identical on
    // both engines — the oracle replays the recurrence as a
    // recursive CTE (NOT list_reduce: DuckDB 1.0 mutates the
    // accumulator struct field-by-field, so a later field reads the
    // already-updated level) — and the 2⁻²⁰-dyadic-unit floor at the
    // end quantizes identical doubles identically
    // (docs/HASH_NUMERICS.md). Scale shape: one keyed partial-agg'd
    // count to the day-level table, then a fold over each type's
    // domain-bounded day list; the inherently sequential recurrence
    // runs per type, never over the corpus.
    "events_holt" -> ((s, d) => {
      val daily = events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).cast("double").as("y"))
      daily.groupBy("event_type")
        .agg(sort_array(collect_list(struct(col("day"), col("y"))))
          .as("xs"))
        .withColumn("st", expr(
          """aggregate(
               slice(transform(xs, e -> e.y), 2, size(xs) - 1),
               named_struct('l', xs[0].y, 'b', CAST(NULL AS DOUBLE)),
               (a, y) -> CASE WHEN a.b IS NULL
                 THEN named_struct('l', y, 'b', y - a.l)
                 ELSE named_struct(
                   'l', 0.5D * y + 0.5D * (a.l + a.b),
                   'b', 0.125D * (y - a.l) + 0.875D * a.b)
                 END)"""))
        .select(col("event_type"), size(col("xs")).cast("long").as("n_days"),
          expr("CAST(floor(st.l * 1048576) AS BIGINT)").as("level_dy"),
          expr("CAST(floor(st.b * 1048576) AS BIGINT)").as("trend_dy"),
          expr("CAST(floor((st.l + 7 * st.b) * 1048576) AS BIGINT)")
            .as("fc7_dy"))
    }),

    // Lag-7 autocorrelation of the per-type daily series — the
    // seasonality audit behind events_forecast_naive's weekly
    // baseline and events_holt's trend fit. Exact end to end:
    // deviations scaled by n (dx = n·x − Σx stays integral, the
    // mean never materializes as a double), numerator over the
    // lag-paired days and denominator over all days as
    // DECIMAL(38,0) sums, ratio emitted in SIGN-SPLIT micro-units —
    // floor(|num|·10⁶ DIV den) negated when num < 0, because trunc
    // (Spark DIV) and floor (DuckDB //) only agree on non-negatives.
    // |num| <= den (Cauchy–Schwarz), so acf7_micro ∈ [−10⁶, 10⁶];
    // a constant series (den = 0) yields NULL via nullif, not an
    // ANSI divide-by-zero;
    // the raw num/den BIGINT casts hold while n·x_max < ~3·10⁹
    // (dx² ≤ 2⁶³) — lift to DECIMAL output past that. Scale shape:
    // one keyed day-level aggregate, one type-partitioned lag over
    // the domain-bounded day table, one final aggregate.
    "profile_autocorr" -> ((s, d) => {
      val daily = events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val w = Window.partitionBy("event_type").orderBy("day")
      val tot = daily.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"))
      daily.withColumn("xl", lag("x", 7).over(w))
        .join(tot, "event_type")
        .withColumn("dx", expr("CAST(n AS DECIMAL(38,0)) * x - sx"))
        .withColumn("dxl", expr(
          """CASE WHEN xl IS NULL THEN NULL
               ELSE CAST(n AS DECIMAL(38,0)) * xl - sx END"""))
        .groupBy("event_type")
        .agg(max("n").cast("long").as("n_days"),
          sum(expr("dx * dxl")).as("num"),
          sum(expr("dx * dx")).as("den"))
        .select(col("event_type"), col("n_days"),
          expr("CAST(num AS BIGINT)").as("acf_num"),
          expr("CAST(den AS BIGINT)").as("acf_den"),
          expr("""CAST(CASE WHEN num < 0
                    THEN -((-num) * 1000000 DIV nullif(den, 0))
                    ELSE num * 1000000 DIV nullif(den, 0) END AS BIGINT)""")
            .as("acf7_micro"))
    }),

    // Weekly seasonal index per event type — the seasonality
    // MEASUREMENT next to profile_autocorr's seasonality TEST and
    // events_holt's trend fit: per (type, day-of-week) mean daily
    // count and its ratio to the type's overall mean, as exact
    // integer cross-ratios (s·n_all·10⁶ DIV (n_days·s_all) — all
    // positive, trunc == floor; DECIMAL-lifted per the gini
    // precedent). Day-of-week = Monday 0 .. Sunday 6 (Spark weekday
    // == DuckDB isodow − 1; dayofweek starts at different days in
    // the two engines). Scale shape: two keyed partial-agg'd counts
    // over the day-level table, one dow-domain-bounded join.
    "events_seasonality" -> ((s, d) => {
      val daily = events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
        .withColumn("dow", expr("CAST(weekday(day) AS BIGINT)"))
      val tot = daily.groupBy("event_type")
        .agg(count(lit(1)).as("n_all"), sum("x").as("s_all"))
      daily.groupBy("event_type", "dow")
        .agg(count(lit(1)).as("n_days"), sum("x").as("s"))
        .join(tot, "event_type")
        .select(col("event_type"), col("dow"), col("n_days"),
          expr("s * 1000000 DIV n_days").as("mean_micro"),
          expr("""CAST(CAST(s AS DECIMAL(38,0)) * n_all * 1000000
                  DIV (CAST(n_days AS DECIMAL(38,0)) * s_all)
                  AS BIGINT)""").as("index_micro"))
    }),

    // Experimentation analytics: two-proportion conversion test
    // between user cohorts (A/B by user_id parity). Conversion =
    // "purchased within the user's first 20 events" — exact integers
    // from one user-keyed window + max aggregate, and a
    // scale-interesting rate (the early window's relative share
    // shrinks as history grows). The z-score is a FIXED scalar
    // expression tree over those integers evaluated once on one row —
    // no sum-reorder freedom anywhere, so the doubles match
    // bit-for-bit across engines (6dp round as belt and braces); a
    // degenerate experiment (pooled p of 0 or 1) yields NULL via the
    // nullif'd denominator instead of an ANSI divide-by-zero.
    "events_ab_test" -> ((s, d) => {
      val wOrd = Window.partitionBy("user_id").orderBy("us", "event_id")
      val conv = events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .withColumn("rk", row_number().over(wOrd))
        .groupBy((col("user_id") % 2).as("grp"), col("user_id"))
        .agg(max(when(col("event_type") === "purchase" &&
          col("rk") <= 20, 1L).otherwise(0L)).as("c"))
      conv.groupBy("grp")
        .agg(count(lit(1)).as("n"), sum(col("c")).as("conv"))
        .agg(
          sum(when(col("grp") === 0, col("n"))).as("n_a"),
          sum(when(col("grp") === 0, col("conv"))).as("conv_a"),
          sum(when(col("grp") === 1, col("n"))).as("n_b"),
          sum(when(col("grp") === 1, col("conv"))).as("conv_b"))
        .select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
          round(expr(
            """(CAST(conv_a AS DOUBLE)/n_a - CAST(conv_b AS DOUBLE)/n_b)
               / nullif(sqrt((CAST(conv_a + conv_b AS DOUBLE)/(n_a + n_b))
                 * (1.0 - CAST(conv_a + conv_b AS DOUBLE)/(n_a + n_b))
                 * (1.0/n_a + 1.0/n_b)), 0.0)"""), 6).as("z_score"))
    }),

    // Completes the ranking-function battery (row_number appears in
    // window_topk, percent_rank/cume_dist in window_cume, ntile in
    // window_ntile): rank vs dense_rank gap semantics on a column
    // with REAL ties (order status within priority), plus the tie
    // count via a value-partitioned count — all integer outputs.
    "window_rank_dense" -> ((s, d) =>
      orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_orderstatus"))
        .withColumn("rnk", rank().over(
          Window.partitionBy("o_orderpriority")
            .orderBy("o_orderstatus")).cast("long"))
        .withColumn("drnk", dense_rank().over(
          Window.partitionBy("o_orderpriority")
            .orderBy("o_orderstatus")).cast("long"))
        .withColumn("ties", count(lit(1)).over(
          Window.partitionBy("o_orderpriority", "o_orderstatus")))),

    // Multi-touch attribution: every click in the 6 h before a
    // purchase shares the credit — linear split in EXACT integer
    // milli-credits (1000 DIV n each, the remainder distributed to
    // the earliest touches one milli apiece, so every purchase's
    // credits sum to exactly 1000; no float division ever). The
    // touch set comes from a user-keyed equi-join + time-band filter
    // — a keyed shuffle join, never a cartesian — and the split is
    // one purchase-partitioned window.
    "events_attribution" -> ((s, d) => {
      val ev = events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"),
          unix_micros(col("ts")).as("p_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("c_id"),
          unix_micros(col("ts")).as("c_us"))
      val touches = purchases.join(clicks, "user_id")
        .filter(col("c_us") <= col("p_us") &&
          col("c_us") > col("p_us") - 21600000000L)
      val w = Window.partitionBy("p_id")
      val wOrd = w.orderBy(col("c_us").asc, col("c_id").asc)
      touches
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("rk", row_number().over(wOrd))
        .select(col("p_id"), col("user_id"), col("c_id"), col("c_us"),
          (expr("1000 DIV n") +
            when(col("rk") <= expr("1000 % n"), 1L).otherwise(0L))
            .as("credit_milli"))
    }),

    // Frequent-path mining over the same sessionized sequences: the
    // top-10 most common FULL session paths (the "what do users
    // actually do" report). Path strings group map-side-combined —
    // the aggregate key domain is bounded by distinct paths, not
    // sessions — and the top-10 is a deterministic (count DESC, path
    // ASC) order + limit.
    // Top-k trajectory similarity (the REPOSE/distributed-trajectory
    // family): which users' clickstreams look most like user 0's?
    // Trajectories reduce to DISTINCT event-type 3-gram sets (one
    // per-user lead window over the total (us, event_id) order, one
    // distinct), similarity is exact set Jaccard in integer basis
    // points — ni*10000 DIV (na+nq-ni), no floats — against the
    // broadcast query-user gram set, and the top-10 is
    // TakeOrderedAndProject. Scale: one user_id exchange for the
    // window, one distinct, a broadcast semi-ish join; candidate
    // users with zero overlap keep bp=0 via the left join (they are
    // real candidates, just maximally dissimilar).
    "sim_trajectory" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val grams = events(s, d)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"), col("event_id"))
        .withColumn("e2", lead("event_type", 1).over(w))
        .withColumn("e3", lead("event_type", 2).over(w))
        .filter(col("e3").isNotNull)
        .select(col("user_id"),
          concat_ws(">", col("event_type"), col("e2"), col("e3"))
            .as("g"))
        .distinct()
        .localCheckpoint(false)
      val q = grams.filter(col("user_id") === 0)
        .select(col("g").as("qg"))
      val inter = grams.join(broadcast(q), col("g") === col("qg"))
        .groupBy("user_id").agg(count(lit(1)).as("ni"))
      grams.groupBy("user_id").agg(count(lit(1)).as("na"))
        .join(inter, Seq("user_id"), "left")
        .crossJoin(broadcast(q.agg(count(lit(1)).as("nq"))))
        .filter(col("user_id") =!= 0)
        .select(col("user_id"), col("na"),
          coalesce(col("ni"), lit(0L)).as("ni"), col("nq"))
        .withColumn("jaccard_bp",
          expr("ni * 10000 DIV (na + nq - ni)"))
        .orderBy(desc("jaccard_bp"), col("user_id")).limit(10)
    }),

    "events_top_paths" -> ((s, d) => {
      val wOrd = Window.partitionBy("user_id").orderBy("us", "event_id")
      val wRun = wOrd.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .withColumn("gap", col("us") - lag("us", 1).over(wOrd))
        .withColumn("is_new",
          when(col("gap").isNull || col("gap") > 1800000000L, 1)
            .otherwise(0))
        .withColumn("sess", sum("is_new").over(wRun))
        .groupBy("user_id", "sess")
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("us"), col("event_id"),
            col("event_type")))),
          x => x.getField("event_type")), ",").as("path"))
        .groupBy("path").agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("n_sessions").desc, col("path").asc)
        .limit(10)
    })
  )

  val oracleSql: Map[String, String] = Map(
    "window_range_frame" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice,
         COUNT(*) OVER w AS n_in_band,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
           AS band_sum
         FROM orders
         WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice
                      RANGE BETWEEN 50000 PRECEDING AND CURRENT ROW)""",

    "text_sentiment" -> {
      val toks = "string_split_regex(lower(trim(text)), '\\s+')"
      s"""WITH lex(word, weight) AS (VALUES
            ('fast', 2), ('big', 1), ('value', 1), ('merge', 1),
            ('slow', -2), ('small', -1), ('filter', -1), ('scan', -1)),
          tok AS (SELECT doc_id, unnest($toks) AS t FROM documents)
          SELECT doc_id, CAST(SUM(weight) AS BIGINT) AS score,
            COUNT(*) AS n_hits
          FROM tok JOIN lex ON t = word GROUP BY doc_id"""
    },

    "null_handling" ->
      """SELECT c_custkey,
         coalesce(nullif(c_mktsegment, 'BUILDING'), 'REDACTED') AS seg_n,
         coalesce(CASE WHEN c_acctbal < 0 THEN c_acctbal END, 0.0)
           AS neg_or_zero,
         (CASE WHEN c_acctbal < 0 THEN c_acctbal END) IS NULL AS was_null,
         (coalesce(nullif(c_mktsegment, 'BUILDING'), 'REDACTED')
           IS NOT DISTINCT FROM 'REDACTED') AS nullsafe_eq
         FROM customer""",

    "join_asof" ->
      """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS purchase_us,
         epoch_us(c.ts) AS click_us, c.value AS click_value
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
         ON p.user_id = c.user_id AND c.ts <= p.ts""",

    "join_asof_native" ->
      """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS purchase_us,
         epoch_us(c.ts) AS click_us, c.value AS click_value
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
         ON p.user_id = c.user_id AND c.ts <= p.ts""",

    // Salting is plan-side only — the oracle replays the plain ASOF.
    "join_asof_salted" ->
      """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS purchase_us,
         epoch_us(c.ts) AS click_us, c.value AS click_value
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
         ON p.user_id = c.user_id AND c.ts <= p.ts""",

    // Time-sharding is plan-side only — the oracle replays the plain
    // ASOF (carried boundary rows reconstruct cross-bucket matches).
    "join_asof_sharded" ->
      """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS purchase_us,
         epoch_us(c.ts) AS click_us, c.value AS click_value
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
         ON p.user_id = c.user_id AND c.ts <= p.ts""",

    // Tolerance replay: ASOF picks the latest click <= purchase, so
    // the staleness bound is an exact post-filter on that match.
    "join_asof_tol_native" ->
      """SELECT event_id, user_id, purchase_us,
           CASE WHEN purchase_us - click_us <= 21600000000
                THEN click_us END AS click_us,
           CASE WHEN purchase_us - click_us <= 21600000000
                THEN click_value END AS click_value
         FROM (
           SELECT p.event_id, p.user_id, epoch_us(p.ts) AS purchase_us,
             epoch_us(c.ts) AS click_us, c.value AS click_value
           FROM (SELECT * FROM events WHERE event_type = 'purchase') p
           ASOF LEFT JOIN
             (SELECT * FROM events WHERE event_type = 'click') c
           ON p.user_id = c.user_id AND c.ts <= p.ts)""",

    "join_asof_tol" ->
      """SELECT event_id, user_id, purchase_us,
           CASE WHEN purchase_us - click_us <= 21600000000
                THEN click_us END AS click_us,
           CASE WHEN purchase_us - click_us <= 21600000000
                THEN click_value END AS click_value
         FROM (
           SELECT p.event_id, p.user_id, epoch_us(p.ts) AS purchase_us,
             epoch_us(c.ts) AS click_us, c.value AS click_value
           FROM (SELECT * FROM events WHERE event_type = 'purchase') p
           ASOF LEFT JOIN
             (SELECT * FROM events WHERE event_type = 'click') c
           ON p.user_id = c.user_id AND c.ts <= p.ts)""",

    "join_nullsafe" ->
      """WITH l AS (SELECT nullif(o_orderstatus, 'P') AS st,
           count(*) AS n_orders FROM orders GROUP BY 1),
         r AS (SELECT nullif(o_orderstatus, 'P') AS st2,
           count(DISTINCT o_custkey) AS n_custs FROM orders GROUP BY 1)
         SELECT st, n_orders, n_custs
         FROM l JOIN r ON st IS NOT DISTINCT FROM st2""",

    // min-ts-per-direction + equi lookup on the deduped click table —
    // engine-neutral spelling of forward/nearest ASOF semantics
    "join_asof_forward" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events
           WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts, min(value) AS value FROM events
           WHERE event_type = 'click' GROUP BY 1, 2),
         f AS (SELECT p.event_id, p.user_id, p.ts, min(c.ts) AS fts
           FROM p LEFT JOIN c
             ON p.user_id = c.user_id AND c.ts >= p.ts
           GROUP BY 1, 2, 3)
         SELECT f.event_id, f.user_id, epoch_us(f.ts) AS purchase_us,
           epoch_us(fts) AS click_us, c.value AS click_value
         FROM f LEFT JOIN c
           ON f.user_id = c.user_id AND c.ts = fts""",

    "join_asof_fwd_native" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events
           WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts, min(value) AS value FROM events
           WHERE event_type = 'click' GROUP BY 1, 2),
         f AS (SELECT p.event_id, p.user_id, p.ts, min(c.ts) AS fts
           FROM p LEFT JOIN c
             ON p.user_id = c.user_id AND c.ts >= p.ts
           GROUP BY 1, 2, 3)
         SELECT f.event_id, f.user_id, epoch_us(f.ts) AS purchase_us,
           epoch_us(fts) AS click_us, c.value AS click_value
         FROM f LEFT JOIN c
           ON f.user_id = c.user_id AND c.ts = fts""",

    "join_asof_nearest" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events
           WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts, min(value) AS value FROM events
           WHERE event_type = 'click' GROUP BY 1, 2),
         bf AS (SELECT p.event_id, p.user_id, p.ts,
             max(CASE WHEN c.ts <= p.ts THEN c.ts END) AS bts,
             min(CASE WHEN c.ts >= p.ts THEN c.ts END) AS fts
           FROM p LEFT JOIN c ON p.user_id = c.user_id
           GROUP BY 1, 2, 3),
         pick AS (SELECT event_id, user_id, ts,
             CASE WHEN bts IS NULL THEN fts
                  WHEN fts IS NULL THEN bts
                  WHEN epoch_us(ts) - epoch_us(bts)
                       <= epoch_us(fts) - epoch_us(ts) THEN bts
                  ELSE fts END AS mts
           FROM bf)
         SELECT pick.event_id, pick.user_id,
           epoch_us(pick.ts) AS purchase_us,
           epoch_us(mts) AS click_us, c.value AS click_value
         FROM pick LEFT JOIN c
           ON pick.user_id = c.user_id AND c.ts = mts""",

    "join_asof_near_native" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events
           WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts, min(value) AS value FROM events
           WHERE event_type = 'click' GROUP BY 1, 2),
         bf AS (SELECT p.event_id, p.user_id, p.ts,
             max(CASE WHEN c.ts <= p.ts THEN c.ts END) AS bts,
             min(CASE WHEN c.ts >= p.ts THEN c.ts END) AS fts
           FROM p LEFT JOIN c ON p.user_id = c.user_id
           GROUP BY 1, 2, 3),
         pick AS (SELECT event_id, user_id, ts,
             CASE WHEN bts IS NULL THEN fts
                  WHEN fts IS NULL THEN bts
                  WHEN epoch_us(ts) - epoch_us(bts)
                       <= epoch_us(fts) - epoch_us(ts) THEN bts
                  ELSE fts END AS mts
           FROM bf)
         SELECT pick.event_id, pick.user_id,
           epoch_us(pick.ts) AS purchase_us,
           epoch_us(mts) AS click_us, c.value AS click_value
         FROM pick LEFT JOIN c
           ON pick.user_id = c.user_id AND c.ts = mts""",

    "join_range" ->
      """SELECT user_id, COUNT(*) AS n_pairs,
         CAST(SUM(gap) AS DOUBLE) / COUNT(*) AS avg_gap_us
         FROM (SELECT c.user_id, epoch_us(p.ts) - epoch_us(c.ts) AS gap
               FROM (SELECT * FROM events WHERE event_type = 'click') c
               JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
               ON c.user_id = p.user_id
               WHERE epoch_us(p.ts) > epoch_us(c.ts)
                 AND epoch_us(p.ts) - epoch_us(c.ts) <= 3600000000)
         GROUP BY user_id""",

    // the oracle states the JOIN SEMANTICS directly (plain theta
    // join) — the binned plan must be result-identical
    "join_range_binned" ->
      """WITH ev AS (SELECT event_id, epoch_us(ts) AS us FROM events),
         w AS (SELECT event_id AS win_id,
               epoch_us(ts) - 1800000000 AS lo,
               epoch_us(ts) + 1800000000 AS hi
               FROM events WHERE event_id % 997 = 0)
         SELECT win_id, count(*) AS n_events
         FROM w JOIN ev ON ev.us BETWEEN w.lo AND w.hi
         GROUP BY win_id""",

    // identical oracle by design: the auto-rewritten naive spelling
    // must match the manually binned plan's results
    "join_range_auto" ->
      """WITH ev AS (SELECT event_id, epoch_us(ts) AS us FROM events),
         w AS (SELECT event_id AS win_id,
               epoch_us(ts) - 1800000000 AS lo,
               epoch_us(ts) + 1800000000 AS hi
               FROM events WHERE event_id % 997 = 0)
         SELECT win_id, count(*) AS n_events
         FROM w JOIN ev ON ev.us BETWEEN w.lo AND w.hi
         GROUP BY win_id""",

    // plain theta overlap join — the binned first-shared-bin plan
    // must be result-identical
    "join_range_overlap" ->
      """WITH a AS (SELECT event_id AS a_id,
               epoch_us(ts) - 1800000000 AS a_lo,
               epoch_us(ts) + 1800000000 AS a_hi
             FROM events WHERE event_id % 997 = 0),
         b AS (SELECT event_id AS b_id,
               epoch_us(ts) - 600000000 AS b_lo,
               epoch_us(ts) + 600000000 AS b_hi
             FROM events WHERE event_id % 499 = 0)
         SELECT a_id, CAST(count(*) AS BIGINT) AS n_overlaps,
           CAST(sum(least(a_hi, b_hi) - greatest(a_lo, b_lo) + 1)
             AS BIGINT) AS sum_overlap_us
         FROM a JOIN b ON a_lo <= b_hi AND b_lo <= a_hi
         GROUP BY a_id""",

    // the naive spelling must produce the identical result through
    // the automatic overlap rewrite
    "join_range_overlap_auto" ->
      """WITH a AS (SELECT event_id AS a_id,
               epoch_us(ts) - 1800000000 AS a_lo,
               epoch_us(ts) + 1800000000 AS a_hi
             FROM events WHERE event_id % 997 = 0),
         b AS (SELECT event_id AS b_id,
               epoch_us(ts) - 600000000 AS b_lo,
               epoch_us(ts) + 600000000 AS b_hi
             FROM events WHERE event_id % 499 = 0)
         SELECT a_id, CAST(count(*) AS BIGINT) AS n_overlaps,
           CAST(sum(least(a_hi, b_hi) - greatest(a_lo, b_lo) + 1)
             AS BIGINT) AS sum_overlap_us
         FROM a JOIN b ON a_lo <= b_hi AND b_lo <= a_hi
         GROUP BY a_id""",

    "events_retention" ->
      """WITH su AS (SELECT user_id, min(date_trunc('week', ts)) AS cohort
                     FROM events WHERE event_type = 'signup'
                     GROUP BY user_id)
         SELECT CAST(su.cohort AS DATE) AS cohort_week,
           date_diff('day', CAST(su.cohort AS DATE), CAST(e.ts AS DATE))
             // 7 AS wk,
           count(DISTINCT e.user_id) AS n_users
         FROM events e JOIN su ON e.user_id = su.user_id
         WHERE e.ts >= su.cohort
         GROUP BY 1, 2""",

    "events_transitions" ->
      """WITH t AS (SELECT user_id, event_type,
           lag(event_type) OVER (PARTITION BY user_id
             ORDER BY ts, event_id) AS prev_type
           FROM events)
         SELECT prev_type, event_type AS next_type, count(*) AS n
         FROM t WHERE prev_type IS NOT NULL
         GROUP BY 1, 2""",

    "events_funnel" ->
      """WITH v AS (SELECT user_id, min(ts) AS v_ts FROM events
                    WHERE event_type = 'view' GROUP BY user_id),
         c AS (SELECT e.user_id, min(e.ts) AS c_ts FROM events e
               JOIN v ON e.user_id = v.user_id
               WHERE e.event_type = 'click' AND e.ts > v.v_ts
               GROUP BY e.user_id),
         p AS (SELECT e.user_id, min(e.ts) AS p_ts FROM events e
               JOIN c ON e.user_id = c.user_id
               WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
               GROUP BY e.user_id)
         SELECT '1_view' AS stage, count(*) AS n FROM v
         UNION ALL SELECT '2_click', count(*) FROM c
         UNION ALL SELECT '3_purchase', count(*) FROM p""",

    "window_lag" ->
      """SELECT event_id, event_type, value,
         LAG(value) OVER w AS prev_value,
         LEAD(value) OVER w AS next_value,
         value - COALESCE(LAG(value) OVER w, 0.0) AS delta
         FROM events
         WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)""",

    "window_ntile" ->
      """SELECT o_orderkey, o_orderstatus,
         ntile(10) OVER w AS decile,
         rank() OVER w AS rnk,
         round(percent_rank() OVER w, 6) AS pct_rank
         FROM orders
         WINDOW w AS (PARTITION BY o_orderstatus
                      ORDER BY o_totalprice, o_orderkey)""",

    "pivot_agg" ->
      """SELECT o_orderstatus,
         COUNT(*) FILTER (o_orderpriority = '1-URGENT') AS n_urgent,
         COUNT(*) FILTER (o_orderpriority = '2-HIGH') AS n_high,
         COUNT(*) FILTER (o_orderpriority = '3-MEDIUM') AS n_medium,
         COUNT(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS n_notspec,
         COUNT(*) FILTER (o_orderpriority = '5-LOW') AS n_low
         FROM orders GROUP BY o_orderstatus""",

    "unpivot_agg" ->
      """WITH w AS (SELECT o_orderpriority,
             CAST(count(*) AS DOUBLE) AS n_orders,
             CAST(count(DISTINCT o_custkey) AS DOUBLE) AS n_cust
           FROM orders GROUP BY o_orderpriority)
         SELECT o_orderpriority, 'n_orders' AS metric, n_orders AS val
           FROM w
         UNION ALL
         SELECT o_orderpriority, 'n_cust', n_cust FROM w""",

    "window_nth" ->
      """SELECT event_id, event_type,
         first_value(value) OVER w AS first_v,
         last_value(value) OVER w AS last_v,
         nth_value(value, 3) OVER w AS third_v
         FROM events
         WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING
                        AND UNBOUNDED FOLLOWING)""",

    "events_gapfill" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
             count(*) AS n
           FROM events GROUP BY 1, 2),
         b AS (SELECT event_type, min(day) AS lo, max(day) AS hi
           FROM daily GROUP BY 1),
         cal AS (SELECT event_type,
             unnest([lo + CAST(i AS INTEGER)
                     FOR i IN range(0, hi - lo + 1)]) AS day
           FROM b),
         j AS (SELECT c.event_type, c.day, d.n
           FROM cal c LEFT JOIN daily d
             ON c.event_type = d.event_type AND c.day = d.day)
         SELECT event_type, day, coalesce(n, 0) AS n,
           last_value(n IGNORE NULLS) OVER (
             PARTITION BY event_type ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_locf
         FROM j""",

    "percentile_agg" ->
      """SELECT l_returnflag,
         round(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
         round(quantile_cont(l_extendedprice, 0.25), 6) AS p25_price,
         round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price
         FROM lineitem GROUP BY l_returnflag""",

    "approx_percentile_agg" ->
      "SELECT true AS p50_ok, true AS p90_ok",

    "stats_agg" ->
      """SELECT round(stddev_samp(l_quantity), 6) AS sd_qty,
         round(var_samp(l_quantity), 6) AS var_qty,
         round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
         round(covar_samp(l_quantity, l_discount), 6) AS covar_qty_disc
         FROM lineitem""",

    "grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""",

    "having_agg" ->
      """SELECT o_custkey, COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           AS total_spend
         FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 8""",

    "explode_tokens" ->
      """SELECT doc_id, unnest(range(len(ws))) AS pos, unnest(ws) AS token
         FROM (SELECT doc_id,
                 string_split_regex(lower(trim(text)), '\s+') AS ws
               FROM documents WHERE doc_id < 50)""",

    "events_sessionize" ->
      """SELECT user_id, sess, COUNT(*) AS n_events,
         MIN(us) AS start_us, MAX(us) AS end_us,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM (
           SELECT user_id, value, us,
             CAST(SUM(CASE WHEN gap IS NULL OR gap > 1800000000
                           THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess
           FROM (
             SELECT user_id, event_id, value, epoch_us(ts) AS us,
               epoch_us(ts) - LAG(epoch_us(ts))
                 OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                 AS gap
             FROM events))
         GROUP BY user_id, sess""",

    "string_funcs" ->
      """SELECT c_custkey,
         upper(c_name) AS uname,
         length(c_name) AS len,
         substr(c_name, 10, 5) AS sub,
         regexp_replace(c_name, 'Customer', 'Cust') AS repl,
         lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded,
         reverse(c_mktsegment) AS rseg,
         levenshtein(c_mktsegment, 'BUILDING') AS lev,
         strpos(c_name, '1') AS pos1,
         concat_ws('-', c_mktsegment, c_name) AS joined
         FROM customer""",

    "map_funcs" ->
      """SELECT event_id,
         array_to_string(list_sort(json_keys(props)), ',') AS keys,
         len(json_keys(props)) AS n_keys,
         CAST(props->>'$.k' AS BIGINT) AS k
         FROM events""",

    "array_funcs" ->
      """SELECT doc_id,
         array_to_string(ws[1:3], ' ') AS first3,
         ws[-1] AS last_tok,
         COALESCE(list_position(ws, 'the'), 0) AS the_pos,
         list_min(ws) AS min_tok,
         list_contains(ws, 'data') AS has_data
         FROM (SELECT doc_id,
                 string_split_regex(lower(trim(text)), '\s+') AS ws
               FROM documents)""",

    // try_* replay: TRY_CAST is native; try_divide/try_add become
    // explicit NULL guards around the same IEEE/integer ops.
    "scalar_try_funcs" ->
      """SELECT o_orderkey,
         TRY_CAST(o_orderpriority AS INTEGER) AS pri_num,
         TRY_CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS pri_digit,
         CASE WHEN o_custkey % 3 = 0 THEN NULL
              ELSE o_totalprice / (o_custkey % 3) END AS div3,
         CASE WHEN o_orderkey > 0 THEN NULL
              ELSE 9223372036854775807 + o_orderkey END AS ovf
         FROM orders""",

    "date_funcs" ->
      """SELECT o_orderkey,
         year(o_orderdate) AS y,
         quarter(o_orderdate) AS q,
         month(o_orderdate) AS m,
         day(o_orderdate) AS dom,
         dayofweek(o_orderdate) + 1 AS dow,
         last_day(o_orderdate) AS month_end,
         CAST(o_orderdate + INTERVAL 2 MONTH AS DATE) AS plus2m,
         date_diff('day', CAST(o_orderdate AS DATE), DATE '1999-01-01')
           AS days_to_99,
         CAST(epoch(date_trunc('month', o_orderdate)) AS BIGINT)
           AS month_epoch
         FROM orders""",

    "events_pattern" ->
      """SELECT user_id, sess, COUNT(*) AS n_events,
         regexp_matches(string_agg(event_type, ',' ORDER BY us, event_id),
           'view.*click.*purchase') AS hit
         FROM (
           SELECT user_id, event_id, event_type, us,
             CAST(SUM(CASE WHEN gap IS NULL OR gap > 1800000000
                           THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess
           FROM (
             SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
               epoch_us(ts) - LAG(epoch_us(ts))
                 OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                 AS gap
             FROM events))
         GROUP BY user_id, sess""",

    "events_forecast_naive" ->
      """WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day,
             count(*) AS n
           FROM events GROUP BY 1, 2),
         l AS (SELECT event_type, n,
             LAG(n, 7) OVER (PARTITION BY event_type ORDER BY day)
               AS pred
           FROM daily)
         SELECT event_type, count(*) AS n_days,
           CAST(SUM(ABS(n - pred)) AS BIGINT) AS abs_err_sum,
           round(CAST(SUM(ABS(n - pred)) AS DOUBLE) / count(*), 6)
             AS mae
         FROM l WHERE pred IS NOT NULL GROUP BY 1""",

    // Holt recurrence replayed as a recursive CTE — one affine step
    // per day index, every field computed from the PRIOR row h.* (no
    // struct-mutation hazard; list_reduce in DuckDB 1.0 updates the
    // accumulator in place so a later field would read the new
    // level). Same dyadic coefficients and fold order as the Spark
    // HOF aggregate -> bit-identical doubles -> identical floors.
    "events_holt" ->
      """WITH RECURSIVE daily AS (SELECT event_type,
             CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS y
           FROM events GROUP BY 1, 2),
         idx AS (SELECT event_type, y,
             row_number() OVER (PARTITION BY event_type ORDER BY day)
               AS t
           FROM daily),
         nn AS (SELECT event_type, max(t) AS n_days FROM idx
           GROUP BY 1),
         holt AS (
           SELECT event_type, t, y AS l, CAST(NULL AS DOUBLE) AS b
           FROM idx WHERE t = 1
           UNION ALL
           SELECT i.event_type, i.t,
             CASE WHEN h.b IS NULL THEN i.y
                  ELSE 0.5 * i.y + 0.5 * (h.l + h.b) END,
             CASE WHEN h.b IS NULL THEN i.y - h.l
                  ELSE 0.125 * (i.y - h.l) + 0.875 * h.b END
           FROM holt h JOIN idx i
             ON i.event_type = h.event_type AND i.t = h.t + 1)
         SELECT h.event_type, CAST(nn.n_days AS BIGINT) AS n_days,
           CAST(floor(h.l * 1048576) AS BIGINT) AS level_dy,
           CAST(floor(h.b * 1048576) AS BIGINT) AS trend_dy,
           CAST(floor((h.l + 7 * h.b) * 1048576) AS BIGINT) AS fc7_dy
         FROM holt h JOIN nn ON h.event_type = nn.event_type
         WHERE h.t = nn.n_days""",

    // Same n-scaled deviations in HUGEINT, same sign-split floor
    // division (operands made non-negative before //, so DuckDB's
    // floor matches Spark's trunc).
    "profile_autocorr" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
             count(*) AS x
           FROM events GROUP BY 1, 2),
         tot AS (SELECT event_type, count(*) AS n, sum(x) AS sx
           FROM daily GROUP BY 1),
         lg AS (SELECT event_type, day, x,
             lag(x, 7) OVER (PARTITION BY event_type ORDER BY day) AS xl
           FROM daily),
         tm AS (SELECT l.event_type, t.n,
             (t.n::HUGEINT * l.x - t.sx) AS dx,
             CASE WHEN l.xl IS NULL THEN NULL
                  ELSE t.n::HUGEINT * l.xl - t.sx END AS dxl
           FROM lg l JOIN tot t ON l.event_type = t.event_type),
         ag AS (SELECT event_type, max(n) AS n_days,
             sum(dx * dxl) AS num, sum(dx * dx) AS den
           FROM tm GROUP BY 1)
         SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
           CAST(num AS BIGINT) AS acf_num,
           CAST(den AS BIGINT) AS acf_den,
           CAST(CASE WHEN num < 0
                  THEN -((-num) * 1000000 // nullif(den, 0))
                  ELSE num * 1000000 // nullif(den, 0) END AS BIGINT)
             AS acf7_micro
         FROM ag""",

    // isodow - 1 == Spark's weekday (Monday 0); all-positive integer
    // cross-ratios, HUGEINT product.
    "events_seasonality" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
             count(*) AS x
           FROM events GROUP BY 1, 2),
         d2 AS (SELECT event_type, isodow(day) - 1 AS dow, x
           FROM daily),
         tot AS (SELECT event_type, count(*) AS n_all, sum(x) AS s_all
           FROM d2 GROUP BY 1),
         g AS (SELECT event_type, dow, count(*) AS n_days, sum(x) AS s
           FROM d2 GROUP BY 1, 2)
         SELECT g.event_type, CAST(g.dow AS BIGINT) AS dow,
           CAST(n_days AS BIGINT) AS n_days,
           CAST(s * 1000000 // n_days AS BIGINT) AS mean_micro,
           CAST(s::HUGEINT * n_all * 1000000
                // (n_days::HUGEINT * s_all) AS BIGINT) AS index_micro
         FROM g JOIN tot ON g.event_type = tot.event_type""",

    "events_ab_test" ->
      """WITH r AS (SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts), event_id) AS rk
           FROM events),
         u AS (SELECT user_id % 2 AS grp,
             MAX(CASE WHEN event_type = 'purchase' AND rk <= 20
                 THEN 1 ELSE 0 END) AS c
           FROM r GROUP BY user_id),
         g AS (SELECT grp, count(*) AS n, CAST(SUM(c) AS BIGINT)
               AS conv FROM u GROUP BY 1),
         w AS (SELECT
             CAST(SUM(CASE WHEN grp = 0 THEN n END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN grp = 0 THEN conv END) AS BIGINT)
               AS conv_a,
             CAST(SUM(CASE WHEN grp = 1 THEN n END) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN grp = 1 THEN conv END) AS BIGINT)
               AS conv_b
           FROM g)
         SELECT n_a, conv_a, n_b, conv_b,
           round((CAST(conv_a AS DOUBLE)/n_a - CAST(conv_b AS DOUBLE)/n_b)
             / nullif(sqrt((CAST(conv_a + conv_b AS DOUBLE)/(n_a + n_b))
               * (1.0 - CAST(conv_a + conv_b AS DOUBLE)/(n_a + n_b))
               * (1.0/n_a + 1.0/n_b)), 0.0), 6) AS z_score
         FROM w""",

    "window_rank_dense" ->
      """SELECT o_orderkey, o_orderpriority, o_orderstatus,
         CAST(RANK() OVER (PARTITION BY o_orderpriority
           ORDER BY o_orderstatus) AS BIGINT) AS rnk,
         CAST(DENSE_RANK() OVER (PARTITION BY o_orderpriority
           ORDER BY o_orderstatus) AS BIGINT) AS drnk,
         COUNT(*) OVER (PARTITION BY o_orderpriority, o_orderstatus)
           AS ties
         FROM orders""",

    "events_attribution" ->
      """WITH p AS (SELECT event_id AS p_id, user_id,
             epoch_us(ts) AS p_us
           FROM events WHERE event_type = 'purchase'),
         c AS (SELECT user_id, event_id AS c_id, epoch_us(ts) AS c_us
           FROM events WHERE event_type = 'click'),
         t AS (SELECT p_id, p.user_id, c_id, c_us,
             COUNT(*) OVER (PARTITION BY p_id) AS n,
             CAST(ROW_NUMBER() OVER (PARTITION BY p_id
               ORDER BY c_us ASC, c_id ASC) AS BIGINT) AS rk
           FROM p JOIN c ON p.user_id = c.user_id
             AND c_us <= p_us AND c_us > p_us - 21600000000)
         SELECT p_id, user_id, c_id, c_us,
           CAST(1000 // n + CASE WHEN rk <= 1000 % n THEN 1 ELSE 0 END
             AS BIGINT) AS credit_milli
         FROM t""",

    // Gram construction replayed with the same total (us, event_id)
    // lead order; Jaccard in exact integer basis points.
    "sim_trajectory" ->
      """WITH ev AS (SELECT user_id, event_type,
             CAST(epoch_us(ts) AS BIGINT) AS us, event_id
           FROM events),
         tg AS (SELECT user_id, event_type || '>' || e2 || '>' || e3 AS g
           FROM (SELECT user_id, event_type,
               lead(event_type, 1) OVER (PARTITION BY user_id
                 ORDER BY us, event_id) AS e2,
               lead(event_type, 2) OVER (PARTITION BY user_id
                 ORDER BY us, event_id) AS e3
             FROM ev)
           WHERE e3 IS NOT NULL),
         grams AS (SELECT DISTINCT user_id, g FROM tg),
         q AS (SELECT g AS qg FROM grams WHERE user_id = 0),
         nqt AS (SELECT count(*) AS nq FROM q),
         sizes AS (SELECT user_id, count(*) AS na FROM grams GROUP BY 1),
         inter AS (SELECT user_id, count(*) AS ni
           FROM grams JOIN q ON g = qg GROUP BY 1)
         SELECT s.user_id, s.na,
           CAST(coalesce(i.ni, 0) AS BIGINT) AS ni, nqt.nq,
           CAST(coalesce(i.ni, 0) * 10000
             // (s.na + nqt.nq - coalesce(i.ni, 0)) AS BIGINT)
             AS jaccard_bp
         FROM sizes s LEFT JOIN inter i ON s.user_id = i.user_id
         CROSS JOIN nqt
         WHERE s.user_id <> 0
         ORDER BY jaccard_bp DESC, s.user_id LIMIT 10""",

    "events_top_paths" ->
      """SELECT path, COUNT(*) AS n_sessions FROM (
           SELECT user_id, sess,
             string_agg(event_type, ',' ORDER BY us, event_id) AS path
           FROM (
             SELECT user_id, event_id, event_type, us,
               CAST(SUM(CASE WHEN gap IS NULL OR gap > 1800000000
                             THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY us, event_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess
             FROM (
               SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
                 epoch_us(ts) - LAG(epoch_us(ts))
                   OVER (PARTITION BY user_id
                         ORDER BY epoch_us(ts), event_id) AS gap
               FROM events))
           GROUP BY user_id, sess)
         GROUP BY path
         ORDER BY n_sessions DESC, path ASC LIMIT 10"""
  )
}
