package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Q
import graft.functions.Cleanse._
import graft.sources.Tables

/** Event-stream surface (SURVEY.md §2.9/§2.11): tumbling and session
  * windows, stream dedup, and semi-structured JSON extraction over the
  * driver `events` table.
  *
  * The reference has no streaming (SURVEY.md §2.9), so these are the
  * extension surface. Each operator is written so the SAME code runs in
  * batch (oracle-checkable against DuckDB) and under Structured Streaming —
  * `window`/`session_window` group keys and dropDuplicates carry over
  * verbatim; `streamingDemo` below wires the true readStream path with a
  * watermark.
  */
object Events {

  /** Tumbling 10-minute window aggregation per event_type
    * (`window(ts, "10 minutes")` — epoch-aligned, so the oracle reproduces
    * bucket starts via integer division on epoch micros). */
  val q14Tumbling: Q = Q(
    "q14_events_tumbling",
    (s, dir) => Tables(s, dir, "events")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(
        count(lit(1)).as("event_count"),
        moneySum(col("value")).cast("double").as("value_sum"),
        countDistinct(col("user_id")).as("unique_users"))
      .select(col("window.start").as("bucket_start"), col("event_type"),
        col("event_count"), col("value_sum"), col("unique_users")),
    Some("""SELECT make_timestamp((epoch_us(ts) // 600000000) * 600000000) AS bucket_start,
      |  event_type,
      |  COUNT(*) AS event_count,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
      |  COUNT(DISTINCT user_id) AS unique_users
      |FROM events GROUP BY 1, 2""".stripMargin))

  /** Session windows: 30-minute inactivity gap per user
    * (`session_window` — a new session starts when the gap from the previous
    * event is >= 30 min; the oracle reproduces this with a lag/cumsum
    * gaps-and-islands rewrite). */
  val q15Sessions: Q = Q(
    "q15_events_sessions",
    (s, dir) => Tables(s, dir, "events")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(
        count(lit(1)).as("event_count"),
        moneySum(col("value")).cast("double").as("session_value"))
      .select(col("session_window.start").as("session_start"), col("user_id"),
        col("event_count"), col("session_value")),
    Some("""WITH flagged AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts))
      |              >= 1800000000
      |         OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events),
      |numbered AS (
      |  SELECT user_id, ts, value,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM flagged)
      |SELECT MIN(ts) AS session_start, user_id,
      |  COUNT(*) AS event_count,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS session_value
      |FROM numbered GROUP BY user_id, session_id""".stripMargin))

  /** Stream-dedup shape: earliest event per (user_id, event_type) with a
    * pinned tiebreak — the batch analog of dropDuplicates on a keyed stream.
    * Implemented as MIN(STRUCT(...)) — single hash agg, no window sort. */
  val q16FirstTouch: Q = Q(
    "q16_events_first_touch",
    (s, dir) => Tables(s, dir, "events")
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(struct(col("ts"), col("event_id"), col("value"))).as("first"))
      .select(col("user_id"), col("event_type"),
        col("first.ts").as("first_ts"), col("first.event_id").as("first_event_id"),
        col("first.value").as("first_value")),
    Some("""SELECT user_id, event_type, ts AS first_ts, event_id AS first_event_id,
      |       value AS first_value
      |FROM (SELECT user_id, event_type, ts, event_id, value,
      |        ROW_NUMBER() OVER (PARTITION BY user_id, event_type
      |                           ORDER BY ts ASC, event_id ASC) AS rn
      |      FROM events) t
      |WHERE rn = 1""".stripMargin))

  /** Semi-structured JSON extraction from the `props` column + rollup. */
  val q17JsonExtract: Q = Q(
    "q17_events_json",
    (s, dir) => Tables(s, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(
        count(col("k")).as("k_count"),
        sum(col("k")).as("k_sum"),
        max(col("k")).as("k_max")),
    Some("""SELECT event_type,
      |  COUNT(k) AS k_count, CAST(SUM(k) AS BIGINT) AS k_sum, MAX(k) AS k_max
      |FROM (SELECT event_type,
      |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |      FROM events) t
      |GROUP BY event_type""".stripMargin))

  /** Sliding 15-minute windows every 5 minutes: each event lands in 3
    * overlapping windows (the oracle reproduces Spark's epoch-aligned window
    * assignment by enumerating the 3 candidate starts per event). */
  val q18Sliding: Q = Q(
    "q18_events_sliding",
    (s, dir) => Tables(s, dir, "events")
      .groupBy(window(col("ts"), "15 minutes", "5 minutes"), col("event_type"))
      .agg(
        count(lit(1)).as("event_count"),
        moneySum(col("value")).cast("double").as("value_sum"))
      .select(col("window.start").as("bucket_start"), col("event_type"),
        col("event_count"), col("value_sum")),
    Some("""SELECT make_timestamp(((epoch_us(ts) // 300000000) - off.i) * 300000000) AS bucket_start,
      |  event_type,
      |  COUNT(*) AS event_count,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM events CROSS JOIN (VALUES (0), (1), (2)) AS off(i)
      |GROUP BY 1, 2""".stripMargin))

  /** Sketch aggregates (HLL distinct, approx quantiles) next to their exact
    * counterparts. Raw sketch estimates are engine-specific (DataSketches
    * HLL / Greenwald-Khanna internals), so instead of emitting unverifiable
    * raw values the query emits its exact columns PLUS the sketches'
    * documented error-bound CLAIMS as booleans (|approx−exact| within 5% for
    * HLL distinct, 2% for the accuracy-10000 median) — deterministic for
    * fixed data, so the oracle checks the exact columns and that every bound
    * holds (`TRUE` literals on the oracle side): the deterministic half is
    * hash-checked and only the raw sketch values stay outside the oracle
    * (EventsSpec pins those at sf0.001 and sf0.01). */
  val q19Sketches: Q = Q(
    "q19_events_sketches",
    (s, dir) => sketches(Tables(s, dir, "events")),
    Some("""SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
      |  COUNT(*) AS event_count,
      |  TRUE AS approx_users_ok, TRUE AS approx_median_ok
      |FROM events GROUP BY event_type""".stripMargin))

  /** q19 over any (event_type, user_id, value) frame. */
  def sketches(ev: DataFrame): DataFrame =
    sketchEstimates(ev)
      .select(col("event_type"), col("exact_users"), col("event_count"),
        (abs(col("approx_users") - col("exact_users")).cast("double") <=
          col("exact_users") * 0.05).as("approx_users_ok"),
        (abs(col("approx_median") - col("exact_median")) <=
          abs(col("exact_median")) * 0.02 + 1e-9).as("approx_median_ok"))

  /** Per event_type: exact and DataSketches-HLL distinct users, event
    * count, approximate and exact median value — q19's raw estimates. */
  def sketchEstimates(ev: DataFrame): DataFrame = {
    // Two branches joined on the type, not one aggregate: a countDistinct
    // next to the other functions makes Spark carry every sketch buffer at
    // (event_type, user_id) grain, and approx_count_distinct(rsd 0.01) is
    // HLL++ with 1,639 long buffer columns per group. The distinct users
    // get their own branch, where an HLL sketch (insert-dedup-invariant)
    // over the distinct pairs equals the sketch over all events.
    // lgConfigK 14 puts the RSE near 0.8%, so the 5% flag is ~6 standard
    // errors out; HLL++ at its default rsd 0.05 measured -6.7% at sf0.1
    // and tripped it.
    val users = ev.select(col("event_type"), col("user_id")).distinct()
      .groupBy(col("event_type"))
      .agg(
        count(col("user_id")).as("exact_users"),
        hll_sketch_estimate(hll_sketch_agg(col("user_id"), 14)).as("approx_users"))
    val values = ev.groupBy(col("event_type").as("vt"))
      .agg(
        count(lit(1)).as("event_count"),
        percentile_approx(col("value"), lit(0.5), lit(10000)).as("approx_median"),
        expr("percentile(value, 0.5)").as("exact_median"))
    users.join(values, col("event_type") <=> col("vt")).drop("vt")
  }

  /** Mergeable HLL sketches (Apache DataSketches built-ins): per-type
    * sketches estimated locally, then UNIONED into a global estimate — the
    * reaggregation property that makes 100 TB distinct counts cheap
    * (pre-aggregated sketches per partition/day merge without rescanning).
    * The binary sketches are engine-specific, so — like q19 — the query
    * emits exact counts plus the union-estimate error-bound claim as a
    * boolean (|estimate−exact| ≤ 5%), which the oracle checks with `TRUE`
    * literals: every column is hash-checked, and only the raw estimates
    * stay spec-pinned (EventsSpec). */
  val q49HllUnion: Q = Q(
    "q49_hll_union",
    (s, dir) => {
      // Distinct (event_type, user_id) ONCE, then both the per-type and
      // the overall branch aggregate it (optimization r18): an HLL sketch
      // is insert-dedup-invariant (registers are maxes), so sketching the
      // distinct pairs yields the identical sketch and estimate, the
      // per-type exact count becomes a plain count (no mixed
      // distinct+sketch Expand), and the overall exact distinct re-reads
      // the same distinct exchange instead of re-scanning events
      // (ReusedExchange; one events scan, was two).
      val ev = Tables(s, dir, "events")
      val pairs = ev.select(col("event_type"), col("user_id")).distinct()
      val perType = pairs.groupBy(col("event_type")).agg(
        hll_sketch_agg(col("user_id")).as("sk"),
        count(col("user_id")).as("exact_users"))
      val typed = perType.select(col("event_type"), col("exact_users"),
        round(hll_sketch_estimate(col("sk"))).cast("long").as("hll_users"))
      // Overall exact distinct users as a two-level count over `pairs`
      // (count rows of the per-user type-count): countDistinct alone is
      // distinct-insensitive, so the optimizer would collapse the shared
      // distinct away and re-scan events; the per-user count is NOT
      // collapsible and the always-true `nt >= 1` anchor keeps it — the
      // branch re-reads the pairs exchange instead (ReusedExchange).
      val overallExact = pairs.groupBy(col("user_id"))
        .agg(count(lit(1)).as("nt")).filter(col("nt") >= 1)
        .agg(count(lit(1)).as("exact_users"))
      val overall = perType.agg(
          round(hll_sketch_estimate(hll_union_agg(col("sk")))).cast("long").as("hll_users"))
        .crossJoin(overallExact)
        .select(lit("__all__").as("event_type"), col("exact_users"), col("hll_users"))
      typed.unionByName(overall)
        .select(col("event_type"), col("exact_users"),
          (abs(col("hll_users") - col("exact_users")).cast("double") <=
            col("exact_users") * 0.05).as("hll_ok"))
    },
    Some("""SELECT event_type, COUNT(DISTINCT user_id) AS exact_users, TRUE AS hll_ok
      |FROM events GROUP BY event_type
      |UNION ALL
      |SELECT '__all__' AS event_type, COUNT(DISTINCT user_id) AS exact_users, TRUE AS hll_ok
      |FROM events""".stripMargin))

  /** Stratified sampling (training-data subsampling): per-stratum fractions
    * via a DETERMINISTIC hash-threshold sampler — keep a row iff the first
    * 4 hex chars of md5(event_id || ':' || event_type) fall below the
    * stratum's fraction of the 16-bit hex space ('8000' = 1/2,
    * '4000' = 1/4). Engine-portable (md5 hex is identical in DuckDB), so
    * unlike seeded `sampleBy` this is fully hash-checkable; it is also the
    * 100 TB-correct shape — membership is a pure row-local function, stable
    * under repartitioning, retries, and incremental reruns. */
  val q50StratifiedSample: Q = Q(
    "q50_stratified_sample",
    (s, dir) => Tables(s, dir, "events")
      .withColumn("hx", substring(
        // concat, not concat_ws: NULL must propagate (and drop the row at the
        // filter) exactly like the oracle's `||` — concat_ws would silently
        // hash the surviving fields instead.
        md5(concat(col("event_id").cast("string"), lit(":"), col("event_type")).cast("binary")),
        1, 4))
      .filter(
        (col("event_type") === "click" && col("hx") < "8000") ||
        (col("event_type") === "view" && col("hx") < "4000") ||
        (col("event_type") === "purchase"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("sampled_rows")),
    Some("""SELECT event_type, COUNT(*) AS sampled_rows
      |FROM (SELECT event_type,
      |        substr(md5(CAST(event_id AS VARCHAR) || ':' || event_type), 1, 4) AS hx
      |      FROM events) t
      |WHERE (event_type = 'click' AND hx < '8000')
      |   OR (event_type = 'view' AND hx < '4000')
      |   OR event_type = 'purchase'
      |GROUP BY event_type""".stripMargin))

  /** Value histogram: fixed-width bins with per-bin stats (floor-division
    * binning is engine-portable, unlike width_bucket). */
  val q51Histogram: Q = Q(
    "q51_histogram",
    (s, dir) => Tables(s, dir, "events")
      .groupBy(floor(col("value") / 50).cast("long").as("bin"))
      .agg(
        count(lit(1)).as("n"),
        min(col("value")).as("bin_min"),
        max(col("value")).as("bin_max"),
        (moneySum(col("value")).cast("double") / count(lit(1))).as("bin_avg")),
    Some("""SELECT CAST(floor(value / 50) AS BIGINT) AS bin,
      |  COUNT(*) AS n, MIN(value) AS bin_min, MAX(value) AS bin_max,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS bin_avg
      |FROM events GROUP BY 1""".stripMargin))

  /** Regex field extraction (log-parsing shape): numeric suffix of `source`
    * in documents, rolled up. */
  val q52RegexParse: Q = Q(
    "q52_regex_parse",
    (s, dir) => Tables(s, dir, "documents")
      .select(col("doc_id"),
        regexp_extract(col("source"), "([0-9]+)$", 1).cast("long").as("src_num"),
        col("lang"))
      .groupBy(col("src_num"))
      .agg(count(lit(1)).as("docs"), countDistinct(col("lang")).as("langs")),
    Some("""SELECT CAST(regexp_extract(source, '([0-9]+)$', 1) AS BIGINT) AS src_num,
      |  COUNT(*) AS docs, COUNT(DISTINCT lang) AS langs
      |FROM documents GROUP BY 1""".stripMargin))

  /** Shared click→purchase conversion join: purchases attributed to any
    * click by the same user in the preceding 30 minutes. ONE definition
    * runs both modes — the batch registry query (oracle-checked) and the
    * watermarked stream-stream join below (spec-checked for parity), which
    * is the point: Structured Streaming's interval join is the same
    * declarative plan plus watermark-bounded state. Inputs must carry the
    * (c_user, c_ts, c_id) / (p_user, p_ts, p_id) projections. */
  def conversionJoin(clicks: DataFrame, purchases: DataFrame,
      joinType: String = "inner"): DataFrame =
    clicks.join(purchases,
        expr("c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + interval 30 minutes"),
        joinType)
      .select(col("c_user").as("user_id"), col("c_id").as("click_id"),
        col("p_id").as("purchase_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("delay_us"))

  private def clickProj(ev: DataFrame): DataFrame =
    ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("event_id").as("c_id"))
  private def purchaseProj(ev: DataFrame): DataFrame =
    ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("event_id").as("p_id"))

  /** q93 — conversion interval join (batch form of the stream-stream join).
    * Catalyst plans the equality on user as the shuffle key with the time
    * range as a join residual — no theta/cartesian stage; at 100 TB both
    * sides co-partition on user_id. The streaming form
    * (`streamingConversions`) is the same `conversionJoin` with 1-hour
    * watermarks on both sides: the interval bound lets the state store
    * evict rows older than watermark − 30 min, so state is O(traffic in
    * the join window), not O(stream). */
  val q93ConversionJoin: Q = Q(
    "q93_conversion_join",
    (s, dir) => {
      val ev = Tables(s, dir, "events")
      conversionJoin(clickProj(ev), purchaseProj(ev))
    },
    Some("""SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
      |  epoch_us(p.ts) - epoch_us(c.ts) AS delay_us
      |FROM events c JOIN events p
      |  ON p.user_id = c.user_id
      | AND c.event_type = 'click' AND p.event_type = 'purchase'
      | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE""".stripMargin))

  /** q94 — LEFT OUTER form of q93: every click, converted or not, with
    * NULL purchase columns on no-match. In streaming this is the
    * watermark-DEPENDENT join: an unmatched click can only emit once the
    * watermark proves no matching purchase can still arrive (state eviction
    * at watermark − interval), which the spec pins with an
    * advance-the-watermark batch; the batch form is the plain left join the
    * oracle states. */
  val q94ConversionOuter: Q = Q(
    "q94_conversion_outer",
    (s, dir) => {
      val ev = Tables(s, dir, "events")
      conversionJoin(clickProj(ev), purchaseProj(ev), "left_outer")
    },
    Some("""SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
      |  epoch_us(p.ts) - epoch_us(c.ts) AS delay_us
      |FROM (SELECT * FROM events WHERE event_type = 'click') c
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ON p.user_id = c.user_id
      | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE""".stripMargin))

  /** True stream-stream interval join over a parquet-directory source of
    * events-schema files (spec fixture path) — same `conversionJoin`
    * definition as q93/q94 with watermarks bounding the join state. */
  def streamingConversions(spark: SparkSession, dir: String,
      joinType: String = "inner",
      readerOptions: Map[String, String] = Map.empty): DataFrame = {
    // readerOptions: file-source admission control (e.g. maxFilesPerTrigger)
    // for replay harnesses; semantics are unchanged.
    def src = spark.readStream.options(readerOptions)
      .schema(Tables.schemas("events")).parquet(dir)
    conversionJoin(
      clickProj(src).withWatermark("c_ts", "1 hour"),
      purchaseProj(src).withWatermark("p_ts", "1 hour"),
      joinType)
  }

  /** Streaming heavy hitters: per tumbling 1-hour window, a top-k term
    * summary via the custom MERGEABLE `HeavyHitters` aggregate —
    * the TypedImperativeAggregate buffer serializes into the streaming
    * state store, so the same Misra-Gries sketch that powers q95 in batch
    * is maintained incrementally across micro-batches under a watermark
    * (mergeability is exactly what the state-store update path requires).
    * With k ≥ distinct terms the summary is exact and batch/stream agree
    * bit-for-bit; below that the ±n/k guarantee carries over. */
  def streamingHeavyHitters(spark: SparkSession, dir: String, k: Int = 4)
      : DataFrame = {
    spark.readStream
      .schema(Tables.schemas("events"))
      .parquet(dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(graft.expressions.HeavyHitters.of(col("event_type"), k).as("top_terms"))
      .select(col("window.start").as("window_start"), col("top_terms"))
  }

  val all: Seq[Q] = Seq(q14Tumbling, q15Sessions, q16FirstTouch, q17JsonExtract,
    q18Sliding, q19Sketches, q49HllUnion, q50StratifiedSample, q51Histogram,
    q52RegexParse, q93ConversionJoin, q94ConversionOuter)

  /** True Structured Streaming path: parquet-directory source → watermarked
    * tumbling aggregation. Exercised by the streaming spec (file source +
    * memory sink); semantics match q14 by construction. At scale this is the
    * same plan with state-store-backed incremental aggregation. */
  def streamingTumbling(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(Tables.schemas("events"))
      .parquet(s"$dir")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("event_count"),
        moneySum(col("value")).cast("double").as("value_sum"))
      .select(col("window.start").as("bucket_start"), col("event_type"),
        col("event_count"), col("value_sum"))
}
