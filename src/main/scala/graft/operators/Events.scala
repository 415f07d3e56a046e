package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryModule
import graft.sources.Tables

/** Event-time analytics over the `events` table (SURVEY.md §2.10/E6) in
  * batch form. The reference's only temporal construct is the
  * coarse last-run-date watermark (`flows/main_flow.py:114,129-134`);
  * these queries are the engine's event-time surface.
  *
  * Scale posture: tumbling/sliding windows and sessions are single hash
  * aggregations after one shuffle on (window bucket | user). The
  * sliding window emits exactly duration/slide = 2 bucket rows per
  * event before the shuffle (no range explosion). Sums over the double
  * `value` column go through DECIMAL so partial-aggregation order can't
  * perturb the result, then finish as CAST(... AS DOUBLE) on both sides
  * so the driver gate sees one pandas dtype (same rule as Relational —
  * DuckDB decimal aggregates render float64, Spark parquet decimals
  * stay Decimal objects).
  */
object Events {

  private def dec(c: Column): Column = c.cast("decimal(18,6)")

  /** Tumbling 1-hour windows per event type: count + exact sum. */
  def tumbling(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(dec(col("value"))).cast("double").as("sum_value"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("window_start", "event_type")

  /** Sliding 1-hour windows every 30 minutes: each event lands in
    * exactly two buckets. */
  def sliding(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        sum(dec(col("value"))).cast("double").as("sum_value"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("n_events"), col("sum_value"))
      .orderBy("window_start")

  /** Session windows: 30-minute inactivity gap per user. Spark merges
    * per-event windows [ts, ts+gap); a new session starts exactly when
    * the gap to the previous event is >= 30 min (end-exclusive) — the
    * oracle's lag/cumsum formulation encodes the same boundary. */
  def sessions(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        sum(dec(col("value"))).cast("double").as("sum_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("sum_value"))
      .orderBy("user_id", "session_start")

  /** Top-10 longest sessions (by event count, then duration): windows +
    * ranking composed over the session output. */
  def topSessions(spark: SparkSession, dir: String): DataFrame =
    sessions(spark, dir)
      .select(col("user_id"), col("session_start"), col("n_events"),
        // exact µs difference then integer-floor division — immune to
        // the engines' differing epoch-seconds truncation of fractional
        // timestamps (unix_timestamp floors, DuckDB's cast rounds)
        floor((unix_micros(col("session_end")) - unix_micros(col("session_start")))
          / lit(1000000L)).as("duration_sec"))
      .orderBy(col("n_events").desc, col("duration_sec").desc,
        col("user_id").asc, col("session_start").asc)
      .limit(10)

  /** Skew-safe aggregation: event_type has a handful of hot keys over
    * the whole table, so a naive groupBy concentrates each key's rows
    * in one reducer. Two-stage salted aggregation — partial sums on
    * (key, salt) across 16 buckets, then the final fold on the key —
    * spreads the hot keys; the salt is deterministic (event_id mod 16)
    * so replays and the oracle compare are stable. DECIMAL sums make
    * the two-stage result bit-equal to the one-stage plan the DuckDB
    * oracle runs. */
  def saltedTypeTotals(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), dec(col("value")).as("v"),
        pmod(col("event_id"), lit(16)).as("salt"))
      .groupBy("event_type", "salt")
      .agg(count(lit(1)).as("pn"), sum(col("v")).as("pv"))
      .groupBy("event_type")
      .agg(sum(col("pn")).as("n_events"),
        sum(col("pv")).cast("double").as("sum_value"))
      .orderBy("event_type")

  /** Ordered conversion funnel view → click → purchase: a user reaches
    * step i+1 only with an event of that type STRICTLY AFTER their
    * step-i time (first-touch semantics — each step's timestamp is the
    * earliest qualifying event). The classic product-analytics ask
    * ("of those who viewed, how many then clicked, then bought?") that
    * a plain per-type count can't answer because it ignores order.
    *
    * Plan: each stage is min-ts per user filtered by the previous
    * stage's time. Stage 1 is the only event-table-sized shuffle; the
    * stage-2/3 inputs join the (much smaller) per-user stage table and
    * arrive already hash-partitioned on user_id, so the follow-up
    * groupBy reuses the join's exchange rather than reshuffling. At
    * 100 TB the per-stage tables are |users| rows — broadcastable; the
    * event scan is read once per step with the type filter pushed to
    * parquet. */
  def funnel(spark: SparkSession, dir: String): DataFrame =
    funnelOf(Tables.events(spark, dir))

  private[graft] def funnelOf(ev: DataFrame): DataFrame = {
    def typed(t: String) = ev.filter(col("event_type") === t)
      .select(col("user_id"), col("ts"))
    val s1 = typed("view").groupBy("user_id").agg(min(col("ts")).as("t1"))
    val s2 = typed("click").join(s1, "user_id")
      .filter(col("ts") > col("t1"))
      .groupBy("user_id").agg(min(col("ts")).as("t2"))
    val s3 = typed("purchase").join(s2, "user_id")
      .filter(col("ts") > col("t2"))
      .groupBy("user_id").agg(min(col("ts")).as("t3"))
    def cnt(df: DataFrame, step: Int, name: String) =
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(step).as("step"), lit(name).as("step_name"), col("n_users"))
    cnt(s1, 1, "view").unionAll(cnt(s2, 2, "click"))
      .unionAll(cnt(s3, 3, "purchase"))
      .orderBy("step")
  }

  /** Daily retention cohorts: users grouped by first-seen calendar day,
    * then counted as active on each later day they produced any event
    * (offsets 0..7). The training-pipeline twin of funnel — "does the
    * corpus keep producing events from the same sources over time".
    *
    * Plan: the (user, day) activity grid is a distinct over the event
    * scan (one shuffle, map-side combined); the cohort day is a min
    * over the same grid partitioned identically, so the self-join on
    * user_id co-locates without a new exchange; the final (cohort,
    * offset) count is a bounded-cardinality hash agg (≤ days²). */
  def retentionCohorts(spark: SparkSession, dir: String, maxOffset: Int = 7): DataFrame =
    retentionCohortsOf(Tables.events(spark, dir), maxOffset)

  private[operators] def retentionCohortsOf(ev: DataFrame, maxOffset: Int = 7): DataFrame = {
    val days = ev
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val cohort = days.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    days.join(cohort, "user_id")
      .withColumn("day_offset", datediff(col("day"), col("cohort_day")))
      .filter(col("day_offset") <= maxOffset)
      .groupBy("cohort_day", "day_offset")
      .agg(count(lit(1)).as("n_active"))
      .orderBy("cohort_day", "day_offset")
  }

  /** Event-type transition matrix: counts of consecutive (type → next
    * type) pairs per user in time order — the first-order Markov view
    * of behavior sequences (and of a crawl/ingest pipeline's state
    * flow). One window pass partitioned by user (a single shuffle,
    * state bounded by the partition's row group), then a 25-row hash
    * agg; ties on ts are broken by event_id so the sequence — and
    * therefore the counts — are replay-stable in both engines. */
  def typeTransitions(spark: SparkSession, dir: String): DataFrame =
    typeTransitionsOf(Tables.events(spark, dir))

  private[operators] def typeTransitionsOf(ev: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ev.select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("from_type", "to_type")
  }

  /** Per-user value-anomaly audit: events whose value sits more than
    * 3σ from their user's mean — the monitoring query a pipeline runs
    * over billing/telemetry feeds. Two-pass shape sharing one user_id
    * partitioning: exact per-user moments (9-dp-rounded DECIMAL sums —
    * reduction-order-proof), then a co-partitioned join back to flag
    * rows; top-20 by rounded |z| with event_id tie-break. Population
    * variance, guarded against σ = 0 single-value users. */
  def valueAnomalies(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("value"))
    val stats = ev.groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(round(col("value"), 9).cast("decimal(29,9)")).as("s"),
        sum(round(col("value") * col("value"), 9).cast("decimal(29,9)")).as("sq"))
      .filter(col("n") >= lit(2))
      .select(col("user_id"), col("n"),
        (col("s").cast("double") / col("n")).as("mean"),
        sqrt(col("sq").cast("double") / col("n") -
          (col("s").cast("double") / col("n")) *
            (col("s").cast("double") / col("n"))).as("sd"))
      .filter(col("sd") > 0d)
    ev.join(stats, Seq("user_id"))
      .select(col("user_id"), col("event_id"), col("value"),
        round((col("value") - col("mean")) / col("sd"), 6).as("z"))
      .filter(abs(col("z")) > 3d)
      .orderBy(abs(col("z")).desc, col("event_id").asc)
      .limit(k)
  }

  /** Daily resample + gap-fill with LOCF (last-observation-carried-
    * forward): regularize the irregular event stream onto a per-user
    * daily grid — the feature-engineering step before any window model
    * or trend fit. Days with no events appear with n_events = 0,
    * is_gap = true, and the last observed daily sum carried forward
    * (null before a user's first event).
    *
    * Scale shape: the only corpus-sized stage is the daily aggregate
    * (one shuffle on (user, day), full map-side combine — at 100 TB
    * of events this collapses ~10⁶× before anything else runs). The
    * grid is |users| × |days| — generated by exploding a sequence
    * against the distinct-user table with the 1-row global span
    * broadcast, never by scanning events again — and the LOCF window
    * re-uses the user partitioning. Sums go through DECIMAL so
    * reduction order can't perturb the fill values. */
  def gapfillDaily(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val daily = ev
      .groupBy(col("user_id"), date_trunc("DAY", col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"),
        sum(dec(col("value"))).cast("double").as("sum_value"))
    val span = ev.agg(date_trunc("DAY", min(col("ts"))).as("d0"),
      date_trunc("DAY", max(col("ts"))).as("d1"))
    val grid = ev.select(col("user_id")).distinct()
      .crossJoin(broadcast(span))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    grid.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        col("sum_value").isNull.as("is_gap"),
        round(last(col("sum_value"), ignoreNulls = true).over(w), 6)
          .as("sum_value_filled"))
      .orderBy("user_id", "day")
  }

  /** Interval join: every error event paired with the SAME USER's
    * click events in the preceding hour — impressions⋈clicks shape.
    * Plan shape at scale: equi-join on user_id (hash-partitioned both
    * sides) with the interval condition as a cheap post-join filter —
    * no cartesian anywhere. */
  def errorClickPairs(spark: SparkSession, dir: String): DataFrame =
    errorClickPairsOf(Tables.events(spark, dir))

  /** Core over an arbitrary events slice. */
  private[graft] def errorClickPairsOf(ev: DataFrame): DataFrame = {
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id"),
        col("ts").as("error_ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").as("click_ts"))
    errors.join(clicks,
        col("user_id") === col("click_user") &&
          col("click_ts") <= col("error_ts") &&
          col("click_ts") >= col("error_ts") - expr("INTERVAL 1 hour"))
      .select(col("error_id"), col("user_id"), col("error_ts"),
        col("click_id"), col("click_ts"))
      .orderBy("error_id", "click_id")
  }

  /** LEFT OUTER interval join: every error event paired with the same
    * user's clicks in the preceding hour — PLUS one null-click row for
    * every error with NO click in the horizon (the unmatched-error
    * half the inner join drops: "errors with no preceding
    * interaction" is the question an incident pipeline actually
    * asks). Plan shape at
    * scale: same user-keyed equi-join as the inner twin (the interval
    * bound a post-join filter); the null-extension adds no extra
    * shuffle. Ordering pins null click ids FIRST in both engines
    * (Spark's ASC default; DuckDB needs it stated). */
  def errorClickPairsOuter(spark: SparkSession, dir: String): DataFrame =
    errorClickPairsOuterOf(Tables.events(spark, dir))

  private[graft] def errorClickPairsOuterOf(ev: DataFrame): DataFrame = {
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id"),
        col("ts").as("error_ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").as("click_ts"))
    errors.join(clicks,
        col("user_id") === col("click_user") &&
          col("click_ts") <= col("error_ts") &&
          col("click_ts") >= col("error_ts") - expr("INTERVAL 1 hour"),
        "left_outer")
      .select(col("error_id"), col("user_id"), col("error_ts"),
        col("click_id"), col("click_ts"))
      .orderBy(col("error_id").asc, col("click_id").asc_nulls_first)
  }

  /** EWMA half-life constants: round(0.9^j, 12) for j = 0..19, newest
    * first — inlined as literals (not `pow`) so both engines weight
    * with the IDENTICAL doubles; a libm pow divergence can't exist
    * where pow is never called. */
  private[graft] val EwmaWeights: Seq[Double] = Seq(
    1.0, 0.9, 0.81, 0.729, 0.6561, 0.59049, 0.531441, 0.4782969,
    0.43046721, 0.387420489, 0.3486784401, 0.31381059609,
    0.282429536481, 0.254186582833, 0.22876792455, 0.205891132095,
    0.185302018885, 0.166771816997, 0.150094635297, 0.135085171767)

  /** Trailing exponentially-weighted moving average of each user's
    * value at their LATEST event (decay 0.9 over the last 20 events) —
    * the standard smoothed-activity feature. Formulated without
    * arrays: one ranking window per user (newest = rank 1), keep the
    * trailing 20, broadcast-join the 20-row weight table, one hash
    * aggregation. At 100 TB: a single shuffle on user_id; the rank
    * filter discards the corpus tail BEFORE the join and final agg see
    * it. Weighted terms go through DECIMAL(28,12) so the ≤20-term
    * reduction is order-proof; the weight table is literal in both
    * engines (see [[EwmaWeights]]). */
  def ewmaLatest(spark: SparkSession, dir: String): DataFrame =
    ewmaLatestOf(Tables.events(spark, dir))

  private[graft] def ewmaLatestOf(ev: DataFrame): DataFrame = {
    val s2 = ev.sparkSession
    import s2.implicits._
    val rk = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
    val weights = EwmaWeights.zipWithIndex
      .map { case (wt, j) => (j + 1, wt) }.toDF("j", "wt")
    ev.select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("rk", row_number().over(rk))
      .filter(col("rk") <= EwmaWeights.size)
      .join(broadcast(weights), col("rk") === col("j"))
      .groupBy("user_id")
      .agg(max(col("ts")).as("last_ts"), count(lit(1)).as("n_window"),
        sum((col("value") * col("wt")).cast("decimal(28,12)")).as("num"),
        sum(col("wt").cast("decimal(28,12)")).as("den"))
      .select(col("user_id"), col("last_ts"), col("n_window"),
        round(col("num").cast("double") / col("den").cast("double"), 6)
          .as("ewma"))
      .orderBy("user_id")
  }

  /** Robust (median/MAD) outlier audit per event type — the
    * heavy-tail-safe complement to [[valueAnomalies]]'s z-score: the
    * mean and σ are themselves dragged by the outliers they are meant
    * to find, while the median and the median-absolute-deviation have
    * a 50% breakdown point. Flags |v − median| > 3·MAD.
    *
    * Exact medians via the interpolating percentile on both sides
    * (the q_percentiles parity). Scale note, stated honestly: exact
    * per-group percentiles buffer group values; at production scale
    * the same query swaps in the GK sketch twin
    * (`approx_percentile`, the q_percentiles_approx discipline) —
    * the robust-stats semantics are unchanged, the quantile becomes
    * ±ε-rank. Three passes sharing one event_type partitioning: the
    * medians and MADs are per-type scalars broadcast back, never a
    * corpus re-shuffle. */
  def valueMadOutliers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("event_type"), col("value"))
    val med = ev.groupBy("event_type")
      .agg(percentile(col("value"), lit(0.5)).as("med"))
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("adev", abs(col("value") - col("med")))
    val mad = dev.groupBy("event_type")
      .agg(percentile(col("adev"), lit(0.5)).as("mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        round(max(col("med")), 6).as("med"),
        round(max(col("mad")), 6).as("mad"),
        sum(when(col("adev") > lit(3.0) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
      .orderBy("event_type")
  }

  /** JSON property extraction (reference F6 `json.loads`,
    * `flows/main_flow.py:68`): parse the props JSON string column with
    * an explicit schema, aggregate the extracted field. */
  def propsJson(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        from_json(col("props"), lit("k INT")).getField("k").as("k"))
      .groupBy("event_type")
      .agg(count(col("k")).as("n_with_k"), sum(col("k")).as("sum_k"),
        round(sum(col("k")).cast("double") / count(col("k")), 6).as("avg_k"))
      .orderBy("event_type")
}

/** Driver-contract registration for the event-time set. */
object EventsModule extends QueryModule {
  import Events._

  /** Fixed-window audit head (`q_stream_parity_batch`): replays a
    * FIXED two-day window (the corpus's first two calendar days of
    * events) through the funnel and EWMA kernels, and an even/odd
    * doc_id split through an exact-dedup-against-corpus join, and
    * reduces each to one summary row, so a drifted kernel breaks
    * this hash.
    *
    * All checksums are BIGINT-exact (counts, step-weighted user
    * counts, rank-window sizes, epoch-millis, id sums) — no float ever
    * crosses the engine boundary, the DetHll discipline. */
  def streamParityBatch(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val d0 = ev.agg(date_trunc("DAY", min(col("ts"))).as("d0"))
    val win = ev.crossJoin(broadcast(d0))
      .filter(col("ts") < col("d0") + expr("INTERVAL 2 DAYS"))
      .drop("d0")
    val fun = funnelOf(win)
      .agg(count(lit(1)).as("n_rows"),
        sum(col("step").cast("long") * col("n_users")).as("chk"))
      .select(lit("funnel").as("head"), col("n_rows"),
        col("chk").cast("long").as("chk"))
    val ew = ewmaLatestOf(win)
      .agg(count(lit(1)).as("n_rows"),
        (sum(col("n_window")) + sum(unix_millis(col("last_ts")))).as("chk"))
      .select(lit("ewma").as("head"), col("n_rows"),
        col("chk").cast("long").as("chk"))
    // ingest dedup: even doc_ids are the incoming batch (first seen
    // per fingerprint = min doc_id), odd doc_ids stand in as the
    // standing corpus for the in_corpus join
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(Dedup.normText(col("text"))).as("fp"))
    val corpus = docs.filter(col("doc_id") % 2 === 1).select(col("fp")).distinct()
    val stream = docs.filter(col("doc_id") % 2 === 0)
      .groupBy("fp").agg(min(col("doc_id")).as("keep_id"))
    val ing = stream.join(corpus.withColumn("hit", lit(1)), Seq("fp"), "left")
      .agg(count(lit(1)).as("n_rows"),
        (sum(col("keep_id")) + lit(1000000L) * count(col("hit"))).as("chk"))
      .select(lit("ingest_dedup").as("head"), col("n_rows"),
        col("chk").cast("long").as("chk"))
    ew.unionByName(fun).unionByName(ing).orderBy("head")
  }

  def queries = Map(
    "q_stream_parity_batch" -> ((s: SparkSession, d: String) => streamParityBatch(s, d)),
    "q_events_tumbling" -> ((s: SparkSession, d: String) => tumbling(s, d)),
    "q_events_sliding" -> ((s: SparkSession, d: String) => sliding(s, d)),
    "q_events_sessions" -> ((s: SparkSession, d: String) => sessions(s, d)),
    "q_events_top_sessions" -> ((s: SparkSession, d: String) => topSessions(s, d)),
    "q_events_props_json" -> ((s: SparkSession, d: String) => propsJson(s, d)),
    "q_events_salted_agg" -> ((s: SparkSession, d: String) => saltedTypeTotals(s, d)),
    "q_events_funnel" -> ((s: SparkSession, d: String) => funnel(s, d)),
    "q_events_retention" -> ((s: SparkSession, d: String) => retentionCohorts(s, d)),
    "q_events_transitions" -> ((s: SparkSession, d: String) => typeTransitions(s, d)),
    "q_events_anomaly" -> ((s: SparkSession, d: String) => valueAnomalies(s, d)),
    "q_events_gapfill" -> ((s: SparkSession, d: String) => gapfillDaily(s, d)),
    "q_events_ewma" -> ((s: SparkSession, d: String) => ewmaLatest(s, d)),
    "q_events_mad" -> ((s: SparkSession, d: String) => valueMadOutliers(s, d)),
    "q_events_stream_join" -> ((s: SparkSession, d: String) => errorClickPairs(s, d)),
    "q_events_stream_join_outer" -> ((s: SparkSession, d: String) => errorClickPairsOuter(s, d)))

  /** The EWMA weight table as a VALUES list — same literals the Spark
    * side broadcasts. */
  private def ewmaWeightValues: String =
    Events.EwmaWeights.zipWithIndex
      .map { case (wt, j) => s"(${j + 1}, $wt)" }.mkString(", ")

  // DuckDB time_bucket's default origin (2000-01-03 for multi-day, else
  // 2000-01-01) sits on the same 30-min grid as Spark's epoch-aligned
  // windows, so bucket starts agree.
  def oracles = Map(
    "q_stream_parity_batch" ->
      s"""WITH d0 AS (SELECT date_trunc('day', MIN(ts)) AS d0 FROM events),
         |win AS (SELECT * FROM events, d0 WHERE ts < d0 + INTERVAL 2 DAY),
         |s1 AS (SELECT user_id, MIN(ts) AS t1 FROM win WHERE event_type = 'view' GROUP BY 1),
         |s2 AS (SELECT w.user_id, MIN(w.ts) AS t2 FROM win w JOIN s1 ON s1.user_id = w.user_id
         |       WHERE w.event_type = 'click' AND w.ts > s1.t1 GROUP BY 1),
         |s3 AS (SELECT w.user_id, MIN(w.ts) AS t3 FROM win w JOIN s2 ON s2.user_id = w.user_id
         |       WHERE w.event_type = 'purchase' AND w.ts > s2.t2 GROUP BY 1),
         |fun AS (SELECT 1 AS step, COUNT(*) AS n_users FROM s1
         |        UNION ALL SELECT 2, COUNT(*) FROM s2
         |        UNION ALL SELECT 3, COUNT(*) FROM s3),
         |x AS (SELECT user_id, ts, value,
         |      row_number() OVER (PARTITION BY user_id
         |        ORDER BY ts DESC, event_id DESC) AS rk FROM win),
         |ew AS (SELECT user_id, MAX(ts) AS last_ts, COUNT(*) AS n_window
         |       FROM x WHERE rk <= ${Events.EwmaWeights.size} GROUP BY user_id),
         |fp AS (SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
         |       FROM documents),
         |corpus AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 2 = 1),
         |strm AS (SELECT fp, MIN(doc_id) AS keep_id FROM fp WHERE doc_id % 2 = 0 GROUP BY fp),
         |ing AS (SELECT s.keep_id, (c.fp IS NOT NULL) AS in_corpus
         |        FROM strm s LEFT JOIN corpus c USING (fp))
         |SELECT 'ewma' AS head, COUNT(*) AS n_rows,
         |  CAST(SUM(n_window) + SUM(epoch_ms(last_ts)) AS BIGINT) AS chk FROM ew
         |UNION ALL
         |SELECT 'funnel', COUNT(*), CAST(SUM(step * n_users) AS BIGINT) FROM fun
         |UNION ALL
         |SELECT 'ingest_dedup', COUNT(*),
         |  CAST(SUM(keep_id) +
         |    1000000 * SUM(CASE WHEN in_corpus THEN 1 ELSE 0 END) AS BIGINT) FROM ing
         |ORDER BY head""".stripMargin,
    "q_events_stream_join" ->
      """SELECT e.event_id AS error_id, e.user_id, e.ts AS error_ts,
        |  c.event_id AS click_id, c.ts AS click_ts
        |FROM events e JOIN events c
        |  ON c.user_id = e.user_id AND c.event_type = 'click'
        | AND c.ts <= e.ts AND c.ts >= e.ts - INTERVAL 1 HOUR
        |WHERE e.event_type = 'error'
        |ORDER BY error_id, click_id""".stripMargin,
    "q_events_stream_join_outer" ->
      """SELECT e.event_id AS error_id, e.user_id, e.ts AS error_ts,
        |  c.event_id AS click_id, c.ts AS click_ts
        |FROM (SELECT * FROM events WHERE event_type = 'error') e
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON c.user_id = e.user_id
        | AND c.ts <= e.ts AND c.ts >= e.ts - INTERVAL 1 HOUR
        |ORDER BY error_id ASC, click_id ASC NULLS FIRST""".stripMargin,
    "q_events_mad" ->
      """WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY 1),
        |dev AS (SELECT e.event_type, value, med, abs(value - med) AS adev
        |  FROM events e JOIN med USING (event_type)),
        |mad AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad
        |  FROM dev GROUP BY 1)
        |SELECT d.event_type, COUNT(*) AS n_events,
        |  round(max(d.med), 6) AS med, round(max(m.mad), 6) AS mad,
        |  CAST(SUM(CASE WHEN adev > 3.0 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers
        |FROM dev d JOIN mad m USING (event_type)
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin,
    "q_events_gapfill" ->
      """WITH d AS (SELECT user_id, date_trunc('day', ts) AS day,
        |    COUNT(*) AS n_events,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT date_trunc('day', min(ts)) AS d0,
        |    date_trunc('day', max(ts)) AS d1 FROM events),
        |u AS (SELECT DISTINCT user_id FROM events),
        |grid AS (SELECT user_id,
        |    unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day FROM u, span)
        |SELECT g.user_id, g.day, coalesce(d.n_events, 0) AS n_events,
        |  d.sum_value IS NULL AS is_gap,
        |  round(last_value(d.sum_value IGNORE NULLS) OVER (
        |    PARTITION BY g.user_id ORDER BY g.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
        |    AS sum_value_filled
        |FROM grid g LEFT JOIN d USING (user_id, day)
        |ORDER BY user_id, day""".stripMargin,
    "q_events_ewma" ->
      s"""WITH w AS (SELECT * FROM (VALUES $ewmaWeightValues) AS w(j, wt)),
         |x AS (SELECT user_id, ts, value,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY ts DESC, event_id DESC) AS rk
         |  FROM events)
         |SELECT user_id, MAX(ts) AS last_ts, COUNT(*) AS n_window,
         |  round(CAST(SUM(CAST(value * wt AS DECIMAL(28,12))) AS DOUBLE)
         |      / CAST(SUM(CAST(wt AS DECIMAL(28,12))) AS DOUBLE), 6) AS ewma
         |FROM x JOIN w ON w.j = x.rk WHERE rk <= ${Events.EwmaWeights.size}
         |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_events_tumbling" ->
      """SELECT date_trunc('hour', ts) AS window_start,
        |  date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
        |  event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2, 3 ORDER BY window_start, event_type""".stripMargin,
    "q_events_sliding" ->
      """WITH x AS (SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
        |                          time_bucket(INTERVAL '30 minutes', ts) - INTERVAL 30 MINUTE])
        |             AS window_start, value
        |           FROM events)
        |SELECT window_start, window_start + INTERVAL 1 HOUR AS window_end,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM x GROUP BY 1, 2 ORDER BY window_start""".stripMargin,
    "q_events_sessions" ->
      """WITH x AS (SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |y AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, new_s DESC
        |        ROWS UNBOUNDED PRECEDING) AS sid FROM x)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM y GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,
    "q_events_top_sessions" ->
      """WITH x AS (SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |y AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, new_s DESC
        |        ROWS UNBOUNDED PRECEDING) AS sid FROM x),
        |s AS (SELECT user_id, min(ts) AS session_start,
        |        COUNT(*) AS n_events,
        |        (epoch_us(max(ts) + INTERVAL 30 MINUTE)
        |          - epoch_us(min(ts))) // 1000000 AS duration_sec
        |      FROM y GROUP BY user_id, sid)
        |SELECT user_id, session_start, n_events, duration_sec FROM s
        |ORDER BY n_events DESC, duration_sec DESC, user_id ASC, session_start ASC
        |LIMIT 10""".stripMargin,
    "q_events_salted_agg" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_events_anomaly" ->
      """WITH st AS (SELECT user_id, COUNT(*) AS n,
        |    SUM(CAST(round(value, 9) AS DECIMAL(29,9))) AS s,
        |    SUM(CAST(round(value * value, 9) AS DECIMAL(29,9))) AS sq
        |  FROM events GROUP BY user_id HAVING COUNT(*) >= 2),
        |m AS (SELECT user_id, n, CAST(s AS DOUBLE) / n AS mean,
        |    sqrt(CAST(sq AS DOUBLE) / n -
        |         (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)) AS sd
        |  FROM st),
        |z AS (SELECT e.user_id, event_id, value,
        |    round((value - mean) / sd, 6) AS z
        |  FROM events e JOIN m ON m.user_id = e.user_id WHERE sd > 0)
        |SELECT user_id, event_id, value, z FROM z
        |WHERE abs(z) > 3
        |ORDER BY abs(z) DESC, event_id ASC LIMIT 20""".stripMargin,
    "q_events_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |            WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(ts) AS t2 FROM events e
        |       JOIN s1 ON s1.user_id = e.user_id
        |       WHERE event_type = 'click' AND ts > t1 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(ts) AS t3 FROM events e
        |       JOIN s2 ON s2.user_id = e.user_id
        |       WHERE event_type = 'purchase' AND ts > t2 GROUP BY e.user_id)
        |SELECT 1 AS step, 'view' AS step_name, COUNT(*) AS n_users FROM s1
        |UNION ALL
        |SELECT 2, 'click', COUNT(*) FROM s2
        |UNION ALL
        |SELECT 3, 'purchase', COUNT(*) FROM s3
        |ORDER BY step""".stripMargin,
    "q_events_retention" ->
      """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |cohort AS (SELECT user_id, min(day) AS cohort_day FROM days GROUP BY user_id)
        |SELECT cohort_day, date_diff('day', cohort_day, day) AS day_offset,
        |  COUNT(*) AS n_active
        |FROM days JOIN cohort ON cohort.user_id = days.user_id
        |WHERE date_diff('day', cohort_day, day) <= 7
        |GROUP BY 1, 2 ORDER BY cohort_day, day_offset""".stripMargin,
    "q_events_transitions" ->
      """WITH x AS (SELECT event_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |  FROM events)
        |SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
        |FROM x WHERE next_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin,
    "q_events_props_json" ->
      """SELECT event_type,
        |  COUNT(CAST(props->>'k' AS INT)) AS n_with_k,
        |  CAST(SUM(CAST(props->>'k' AS INT)) AS BIGINT) AS sum_k,
        |  round(CAST(SUM(CAST(props->>'k' AS INT)) AS DOUBLE)
        |        / COUNT(CAST(props->>'k' AS INT)), 6) AS avg_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
}
