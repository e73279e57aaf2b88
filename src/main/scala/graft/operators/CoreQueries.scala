package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Q
import graft.expressions.ExactSum
import graft.functions.Cleanse._
import graft.sources.Tables

/** The core relational operator inventory (SURVEY.md §2.1–§2.8) as named,
  * oracle-checked queries over the driver testdata. Each query's Scaladoc
  * cites the reference operator(s) it re-expresses.
  */
object CoreQueries {

  /** A1–A6 + F1 — grouped hash aggregation with exact decimal money sums
    * (pay_agg shape; transform-complex-full.py:67-82) over `lineitem` rows
    * (q01: the whole table). Partial+final HashAggregate: the shuffle
    * carries 6 groups, not 600k rows. */
  def pricingSummary(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        moneyReport(moneySum(col("l_extendedprice"))).as("sum_base_price"),
        moneyReport(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc_price"),
        moneyReport(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))).as("sum_charge"),
        avg(col("l_quantity")).as("avg_qty"),
        count(lit(1)).as("count_order"))

  /** `pricingSummary` in DuckDB SQL over the relation `from`. */
  private[graft] def pricingSummaryOracle(from: String): String =
    s"""SELECT l_returnflag, l_linestatus,
      |  SUM(l_quantity) AS sum_qty,
      |  ${moneySumSql("l_extendedprice")} AS sum_base_price,
      |  ${moneySumSql("l_extendedprice*(1-l_discount)")} AS sum_disc_price,
      |  ${moneySumSql("l_extendedprice*(1-l_discount)*(1+l_tax)")} AS sum_charge,
      |  AVG(l_quantity) AS avg_qty,
      |  COUNT(*) AS count_order
      |FROM $from GROUP BY l_returnflag, l_linestatus""".stripMargin

  val q01PricingSummary: Q = Q(
    "q01_pricing_summary",
    (s, dir) => pricingSummary(Tables(s, dir, "lineitem")),
    Some(pricingSummaryOracle("lineitem")))

  /** P1/P6 predicates + computed aggregate (TPC-H Q6 shape): ship date in
    * [from, until), discount in [discLo, discHi], quantity below
    * `qtyBelow`. The range + equality predicates push into the parquet
    * scan (PushedFilters). */
  def selectiveRevenue(s: SparkSession, dir: String, from: String, until: String,
      discLo: Double, discHi: Double, qtyBelow: Int): DataFrame =
    Tables(s, dir, "lineitem")
      .filter(
        col("l_shipdate") >= lit(from).cast("timestamp") &&
        col("l_shipdate") < lit(until).cast("timestamp") &&
        col("l_discount").between(discLo, discHi) &&
        col("l_quantity") < qtyBelow)
      .agg(
        moneyReport(moneySum(col("l_extendedprice") * col("l_discount"))).as("promo_revenue"),
        count(lit(1)).as("n_rows"))

  /** `selectiveRevenue` in DuckDB SQL. The discount bounds cross as
    * `Double.toString`, which round-trips. */
  private[graft] def selectiveRevenueOracle(from: String, until: String,
      discLo: Double, discHi: Double, qtyBelow: Int): String =
    s"""SELECT
      |  ${moneySumSql("l_extendedprice*l_discount")} AS promo_revenue,
      |  COUNT(*) AS n_rows
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '$from' AND l_shipdate < TIMESTAMP '$until'
      |  AND l_discount BETWEEN $discLo AND $discHi AND l_quantity < $qtyBelow""".stripMargin

  val q02SelectiveRevenue: Q = Q(
    "q02_selective_revenue",
    (s, dir) => selectiveRevenue(s, dir, "1996-01-01", "1996-07-01", 0.02, 0.06, 24),
    Some(selectiveRevenueOracle("1996-01-01", "1996-07-01", 0.02, 0.06, 24)))

  /** J2 inner equi-join + grouped agg + distinct aggregate
    * (transform-complex-full.py:197-199 join shape). */
  val q03JoinAgg: Q = Q(
    "q03_join_agg",
    (s, dir) => Tables(s, dir, "lineitem")
      .join(Tables(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        countDistinct(col("o_orderkey")).as("order_count"),
        moneyReport(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue")),
    Some(s"""SELECT o_orderpriority,
      |  COUNT(DISTINCT o_orderkey) AS order_count,
      |  ${moneySumSql("l_extendedprice*(1-l_discount)")} AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority""".stripMargin))

  /** J3 left join against a grouped aggregate + A2 COALESCE(SUM(NULLIF))
    * (transform-complex-full.py:200-201, :71). */
  val q04OrderEnrichment: Q = Q(
    "q04_order_enrichment",
    (s, dir) => Tables(s, dir, "orders")
      .join(Aggregates.perOrder(Tables(s, dir, "lineitem")),
        col("o_orderkey") === col("l_orderkey"), "left")
      .select(
        col("o_orderkey"), col("o_orderstatus"),
        coalesce(col("order_item_count"), lit(0L)).as("item_count"),
        coalesce(col("order_qty"), lit(0.0)).as("total_qty"),
        coalesce(col("order_revenue_dec").cast("double"), lit(0.0)).as("order_revenue")),
    Some("""SELECT o_orderkey, o_orderstatus,
      |  COALESCE(order_item_count, 0) AS item_count,
      |  COALESCE(order_qty, 0.0) AS total_qty,
      |  COALESCE(CAST(order_revenue_dec AS DOUBLE), 0.0) AS order_revenue
      |FROM orders LEFT JOIN (
      |  SELECT l_orderkey, COUNT(*) AS order_item_count,
      |    COALESCE(SUM(NULLIF(l_quantity, 0)), 0) AS order_qty,
      |    SUM(CAST(l_extendedprice*(1-l_discount)*(1+l_tax) AS DECIMAL(18,6))) AS order_revenue_dec
      |  FROM lineitem GROUP BY l_orderkey) agg ON o_orderkey = l_orderkey""".stripMargin))

  /** J6/O1 — decorrelated argmax ("primary payment type",
    * transform-complex-full.py:72-79) with a pinned tiebreak. */
  val q05PrimaryFlag: Q = Q(
    "q05_primary_flag",
    (s, dir) => Aggregates.primaryFlag(Tables(s, dir, "lineitem"))
      .select(col("l_orderkey").as("orderkey"), col("primary_returnflag"),
        col("primary_flag_revenue")),
    Some("""SELECT l_orderkey AS orderkey, l_returnflag AS primary_returnflag,
      |       CAST(flag_rev AS DOUBLE) AS primary_flag_revenue
      |FROM (SELECT l_orderkey, l_returnflag, flag_rev,
      |        ROW_NUMBER() OVER (PARTITION BY l_orderkey
      |                           ORDER BY flag_rev DESC, l_returnflag ASC) AS rn
      |      FROM (SELECT l_orderkey, l_returnflag,
      |              SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS flag_rev
      |            FROM lineitem GROUP BY 1, 2) fr) rk
      |WHERE rn = 1""".stripMargin))

  /** U1 + A7 + P4 — unionByName → distinct → na.drop
    * (create_dimensions.py:49-51). */
  val q06UnionDistinct: Q = Q(
    "q06_union_distinct",
    (s, dir) => Dimensions.locationKeys(s, dir),
    Some(Dimensions.locationKeysOracle))

  /** Full dimension build with deterministic surrogate key + dict lookup
    * (create_dimensions.py:49-68; SURVEY.md §1.3). */
  val q07DimLocations: Q = Q(
    "q07_dim_locations",
    (s, dir) => Dimensions.dimLocations(s, dir),
    Some(Dimensions.dimLocationsOracle))

  /** Flagship master-table query (SURVEY.md §3.3). */
  val q08Master: Q = Q(
    "q08_master_table",
    (s, dir) => Master(s, dir),
    Some(Master.oracle))

  /** F1–F6/F11 scalar-function surface on a single table. */
  val q09ScalarNorm: Q = Q(
    "q09_scalar_norm",
    (s, dir) => Tables(s, dir, "part").select(
      col("p_partkey"),
      normLower(col("p_type")).as("type_norm"),
      normUpper(col("p_brand")).as("brand_norm"),
      coalesce(nullIfZero(col("p_size")), lit(-1)).as("size_nz"),
      money(col("p_retailprice")).cast("double").as("price_dec"),
      concat_ws("|", col("p_brand"), col("p_type")).as("brand_type")),
    Some("""SELECT p_partkey,
      |  lower(trim(p_type)) AS type_norm,
      |  upper(trim(p_brand)) AS brand_norm,
      |  COALESCE(NULLIF(p_size, 0), -1) AS size_nz,
      |  CAST(CAST(p_retailprice AS DECIMAL(18,6)) AS DOUBLE) AS price_dec,
      |  concat_ws('|', p_brand, p_type) AS brand_type
      |FROM part""".stripMargin))

  /** Sort direction of an ORDER BY key, in Spark and in SQL. */
  private def ordered(c: Column, desc: Boolean): Column = if (desc) c.desc else c.asc
  private def orderSql(desc: Boolean): String = if (desc) "DESC" else "ASC"

  /** O1 generalized — top-k per group via ranked window (SURVEY.md §2.6):
    * the `k` parts of each brand by price (`desc` or ascending), ties
    * broken by partkey. */
  def topKPerGroup(s: SparkSession, dir: String, k: Int, desc: Boolean): DataFrame =
    Tables(s, dir, "part")
      .withColumn("brand_rank",
        row_number().over(Window.partitionBy(col("p_brand"))
          .orderBy(ordered(col("p_retailprice"), desc), col("p_partkey").asc)).cast("long"))
      .filter(col("brand_rank") <= k)
      .select(col("p_brand"), col("p_partkey"), col("p_name"),
        col("p_retailprice"), col("brand_rank"))

  /** `topKPerGroup` in DuckDB SQL. */
  private[graft] def topKPerGroupOracle(k: Int, desc: Boolean): String =
    s"""SELECT p_brand, p_partkey, p_name, p_retailprice, brand_rank
      |FROM (SELECT p_brand, p_partkey, p_name, p_retailprice,
      |        CAST(ROW_NUMBER() OVER (PARTITION BY p_brand
      |               ORDER BY p_retailprice ${orderSql(desc)}, p_partkey ASC) AS BIGINT) AS brand_rank
      |      FROM part) t
      |WHERE brand_rank <= $k""".stripMargin

  val q10TopKPerGroup: Q = Q(
    "q10_topk_per_group",
    (s, dir) => topKPerGroup(s, dir, 3, desc = true),
    Some(topKPerGroupOracle(3, desc = true)))

  /** Window-function surface (SURVEY.md §2.5 extension) over `orders` rows
    * (q11: the whole table): row_number, lag, lead, running decimal sum
    * and NTILE(`tiles`) over a pinned total order per customer. The
    * bucket column keeps q11's name, `order_quartile`. */
  def customerOrderSeq(orders: DataFrame, tiles: Int): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    orders.select(
      col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"),
      row_number().over(w).cast("long").as("order_seq"),
      lag(col("o_totalprice"), 1).over(w).as("prev_totalprice"),
      lead(col("o_orderdate"), 1).over(w).as("next_order_ts"),
      // a running-window sum stays Spark's `sum`: `moneySum` is for
      // grouped aggregates
      sum(money(col("o_totalprice")))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double").as("running_spend"),
      ntile(tiles).over(w).cast("long").as("order_quartile"))
  }

  /** `customerOrderSeq` in DuckDB SQL over the relation `from`. */
  private[graft] def customerOrderSeqOracle(from: String, tiles: Int): String =
    s"""SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
      |  CAST(ROW_NUMBER() OVER w AS BIGINT) AS order_seq,
      |  LAG(o_totalprice, 1) OVER w AS prev_totalprice,
      |  LEAD(o_orderdate, 1) OVER w AS next_order_ts,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER
      |    (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
      |  CAST(NTILE($tiles) OVER w AS BIGINT) AS order_quartile
      |FROM $from
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)""".stripMargin

  val q11CustomerOrderSeq: Q = Q(
    "q11_customer_order_seq",
    (s, dir) => customerOrderSeq(Tables(s, dir, "orders"), 4),
    Some(customerOrderSeqOracle("orders", 4)))

  /** Global sort + limit with pinned tiebreak (SURVEY.md §2.6): the `n`
    * orders by total price (`desc` or ascending), ties broken by orderkey.
    * Spark plans TakeOrderedAndProject — a per-partition top-k then a
    * k-row merge, no global sort materialization. */
  def topOrders(s: SparkSession, dir: String, n: Int, desc: Boolean): DataFrame =
    Tables(s, dir, "orders")
      .orderBy(ordered(col("o_totalprice"), desc), col("o_orderkey").asc)
      .limit(n)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderdate"))

  /** `topOrders` in DuckDB SQL. */
  private[graft] def topOrdersOracle(n: Int, desc: Boolean): String =
    s"""SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
      |FROM orders ORDER BY o_totalprice ${orderSql(desc)}, o_orderkey ASC LIMIT $n""".stripMargin

  val q12TopOrders: Q = Q(
    "q12_top_orders",
    (s, dir) => topOrders(s, dir, 10, desc = true),
    Some(topOrdersOracle(10, desc = true)))

  /** Date-part rollup (the BI-layer query shape the reference's 7 indexes
    * exist to serve — transform-complex-full.py:215-221). */
  val q13MonthlyRollup: Q = Q(
    "q13_monthly_rollup",
    (s, dir) => Tables(s, dir, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).as("order_month"))
      .agg(
        count(lit(1)).as("order_count"),
        moneyReport(moneySum(col("o_totalprice"))).as("month_revenue"))
      .withColumn("order_year", year(col("order_month")).cast("long")),
    Some(s"""SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
      |  COUNT(*) AS order_count,
      |  ${moneySumSql("o_totalprice")} AS month_revenue,
      |  CAST(year(o_orderdate) AS BIGINT) AS order_year
      |FROM orders GROUP BY 1, 4""".stripMargin))

  /** J5 analog on testdata — composite-key equi-join with BOTH sides
    * normalized first (transform-complex-full.py:100-124): a dim of distinct
    * normalized (status, priority) pairs with a deterministic surrogate key,
    * joined back to orders on the normalized pair. */
  val q25MultiKeyNormJoin: Q = Q(
    "q25_multikey_norm_join",
    (s, dir) => {
      val o = Tables(s, dir, "orders")
      val dim = o.select(
          normLower(col("o_orderstatus")).as("status_norm"),
          normLower(col("o_orderpriority")).as("priority_norm"))
        .distinct()
        .withColumn("combo_id", (row_number().over(
          Window.orderBy(col("status_norm"), col("priority_norm"))) - 1).cast("long"))
      o.select(col("o_orderkey"),
          normLower(col("o_orderstatus")).as("status_norm"),
          normLower(col("o_orderpriority")).as("priority_norm"))
        .join(broadcast(dim), Seq("status_norm", "priority_norm"), "left")
        .select(col("o_orderkey"), col("status_norm"), col("priority_norm"), col("combo_id"))
    },
    Some("""WITH dim AS (
      |  SELECT status_norm, priority_norm,
      |    CAST(ROW_NUMBER() OVER (ORDER BY status_norm, priority_norm) - 1 AS BIGINT) AS combo_id
      |  FROM (SELECT DISTINCT lower(trim(o_orderstatus)) AS status_norm,
      |               lower(trim(o_orderpriority)) AS priority_norm FROM orders) d)
      |SELECT o_orderkey, lower(trim(o_orderstatus)) AS status_norm,
      |       lower(trim(o_orderpriority)) AS priority_norm, combo_id
      |FROM orders LEFT JOIN dim
      |  ON lower(trim(o_orderstatus)) = status_norm
      | AND lower(trim(o_orderpriority)) = priority_norm""".stripMargin))

  /** Set operations (SURVEY.md §2.7 beyond U1): INTERSECT and EXCEPT with an
    * origin tag. */
  val q26SetOps: Q = Q(
    "q26_setops",
    (s, dir) => {
      val c = Tables(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      val sup = Tables(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
      c.intersect(sup).withColumn("op", lit("both"))
        .unionByName(c.except(sup).withColumn("op", lit("customer_only")))
    },
    Some("""SELECT nationkey, 'both' AS op FROM (
      |  SELECT c_nationkey AS nationkey FROM customer
      |  INTERSECT
      |  SELECT s_nationkey FROM supplier) a
      |UNION ALL
      |SELECT nationkey, 'customer_only' AS op FROM (
      |  SELECT c_nationkey AS nationkey FROM customer
      |  EXCEPT
      |  SELECT s_nationkey FROM supplier) b""".stripMargin))

  /** ROLLUP hierarchy totals — the BI-layer rollup shape the reference's
    * indexes serve (transform-complex-full.py:215-221). */
  val q27Rollup: Q = Q(
    "q27_rollup",
    (s, dir) => Tables(s, dir, "orders")
      .rollup(col("o_orderpriority"), col("o_orderstatus"))
      .agg(
        count(lit(1)).as("order_count"),
        moneyReport(moneySum(col("o_totalprice"))).as("revenue")),
    Some(s"""SELECT o_orderpriority, o_orderstatus, COUNT(*) AS order_count,
      |  ${moneySumSql("o_totalprice")} AS revenue
      |FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)""".stripMargin))

  /** CUBE over (returnflag, linestatus) with `grouping_id` — completes the
    * multi-dimensional aggregate family next to q27's ROLLUP: all four
    * grouping sets in ONE pass (Spark expands the sets map-side, so the
    * shuffle still carries only group rows — same 100 TB shape as a plain
    * groupBy). `gid` distinguishes a real NULL group value from a
    * subtotal's placeholder NULL, which COALESCE-based marking cannot. */
  val q63CubeGrouping: Q = Q(
    "q63_cube_grouping",
    (s, dir) => Tables(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("row_count"),
        moneyReport(moneySum(col("l_extendedprice"))).as("revenue"),
        grouping_id().cast("long").as("gid")),
    Some(s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS row_count,
      |  ${moneySumSql("l_extendedprice")} AS revenue,
      |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
      |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin))

  /** §2.5 completion next to q11's row-navigation set: the RANKING family
    * over a tie-PRONE order (rank/dense_rank/percent_rank/cume_dist are
    * peer-group functions — deterministic under ties, which is why the date
    *-only window is safe to hash-check), positional reads over the total
    * order (first/nth_value need a unique sort or engines disagree on which
    * peer they read), and a RANGE frame keyed on day number — the
    * trailing-window aggregate (30-day spend) that at 100 TB replaces a
    * self-join-per-row; one shuffle on the partition key serves all three
    * window specs since they share partitioning. */
  val q66WindowAnalytics: Q = Q(
    "q66_window_analytics",
    (s, dir) => {
      val wt = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate").asc)
      val wu = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val wr = Window.partitionBy(col("o_custkey")).orderBy(col("day_no").asc)
        .rangeBetween(-30, Window.currentRow)
      Tables(s, dir, "orders")
        .withColumn("day_no", datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date")).cast("long"))
        .select(
          col("o_custkey"), col("o_orderkey"),
          rank().over(wt).cast("long").as("date_rank"),
          dense_rank().over(wt).cast("long").as("date_dense_rank"),
          percent_rank().over(wt).as("pct_rank"),
          cume_dist().over(wt).as("cdist"),
          first(col("o_totalprice")).over(wu).as("first_price"),
          nth_value(col("o_totalprice"), 2).over(wu).as("second_price"),
          count(lit(1)).over(wr).as("trail30_cnt"),
          sum(money(col("o_totalprice"))).over(wr).cast("double").as("trail30_spend"))
    },
    Some("""SELECT o_custkey, o_orderkey,
      |  CAST(RANK() OVER wt AS BIGINT) AS date_rank,
      |  CAST(DENSE_RANK() OVER wt AS BIGINT) AS date_dense_rank,
      |  PERCENT_RANK() OVER wt AS pct_rank,
      |  CUME_DIST() OVER wt AS cdist,
      |  FIRST_VALUE(o_totalprice) OVER wu AS first_price,
      |  NTH_VALUE(o_totalprice, 2) OVER wu AS second_price,
      |  COUNT(*) OVER wr AS trail30_cnt,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER wr AS DOUBLE) AS trail30_spend
      |FROM (SELECT *, date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day_no
      |      FROM orders) o
      |WINDOW
      |  wt AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC),
      |  wu AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
      |  wr AS (PARTITION BY o_custkey ORDER BY day_no ASC
      |         RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)""".stripMargin))

  /** Pivot (status → columns). Spark's pivot yields NULL for absent combos;
    * both sides coalesce to 0 for parity with FILTERed counts. */
  val q28Pivot: Q = Q(
    "q28_pivot",
    (s, dir) => Tables(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("O", "F", "P"))
      .agg(count(lit(1)))
      .select(col("o_orderpriority"),
        coalesce(col("O"), lit(0L)).as("status_o"),
        coalesce(col("F"), lit(0L)).as("status_f"),
        coalesce(col("P"), lit(0L)).as("status_p")),
    Some("""SELECT o_orderpriority,
      |  COUNT(*) FILTER (o_orderstatus = 'O') AS status_o,
      |  COUNT(*) FILTER (o_orderstatus = 'F') AS status_f,
      |  COUNT(*) FILTER (o_orderstatus = 'P') AS status_p
      |FROM orders GROUP BY o_orderpriority""".stripMargin))

  /** As-of join: each event matched to the user's most recent order at or
    * before the event time (AsofJoin operator; oracle = DuckDB ASOF JOIN).
    * Orders are pre-deduped to one per (custkey, ts) — ties would be
    * carrier-order-dependent on both engines. */
  val q29AsofJoin: Q = Q(
    "q29_asof_join",
    (s, dir) => {
      val events = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      val orders = Tables(s, dir, "orders")
        // events.ts is TIMESTAMP (LTZ, from the nanos conversion) while
        // parquet orders are NTZ — align so the union inside the as-of
        // operator sees one timestamp type (UTC session ⇒ same instants)
        .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("o_orderkey"))
      AsofJoin.asofBackwardFlat(events, orders,
          "user_id", "o_custkey", "ts", "o_orderdate",
          Seq("o_orderkey" -> "last_orderkey", "o_orderdate" -> "last_order_ts"))
        .withColumn("days_since_order", fracDays(col("ts"), col("last_order_ts")))
    },
    Some("""WITH o AS (
      |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
      |  FROM orders GROUP BY 1, 2)
      |SELECT e.event_id, e.user_id, e.ts, e.event_type,
      |  o.o_orderkey AS last_orderkey, o.o_orderdate AS last_order_ts,
      |  (epoch_us(e.ts) - epoch_us(o.o_orderdate)) / 86400000000.0 AS days_since_order
      |FROM events e ASOF LEFT JOIN o
      |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate""".stripMargin))

  /** Semi/anti joins (EXISTS / NOT EXISTS): customers with and without
    * orders, tagged. Spark plans left_semi/left_anti — no row multiplication,
    * build side carries only the join key. */
  val q41SemiAnti: Q = Q(
    "q41_semi_anti",
    (s, dir) => {
      val c = Tables(s, dir, "customer")
      val o = Tables(s, dir, "orders")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name")).withColumn("op", lit("has_orders"))
        .unionByName(
          c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
            .select(col("c_custkey"), col("c_name")).withColumn("op", lit("no_orders")))
    },
    Some("""SELECT c_custkey, c_name, 'has_orders' AS op FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c.c_custkey)
      |UNION ALL
      |SELECT c_custkey, c_name, 'no_orders' AS op FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c.c_custkey)""".stripMargin))

  /** Bucketed range join (RangeJoin operator): events priced into value
    * tiers, including an overlapping promo band (multi-match). Oracle is the
    * plain theta join. */
  val q42RangeJoin: Q = Q(
    "q42_range_join",
    (s, dir) => {
      import s.implicits._
      val tiers = Seq(
        (0.0, 25.0, "small"), (25.0, 60.0, "mid"), (60.0, 1000.0, "large"),
        (50.0, 150.0, "promo_band"))
        .toDF("lo", "hi", "tier")
      RangeJoin.bucketed(
          Tables(s, dir, "events").select(col("event_id"), col("value")),
          "value", tiers, "lo", "hi", bucketWidth = 25.0)
        .select(col("event_id"), col("value"), col("tier"), col("lo"), col("hi"))
    },
    Some("""SELECT event_id, value, tier, lo, hi
      |FROM events JOIN (VALUES
      |  (0.0, 25.0, 'small'), (25.0, 60.0, 'mid'), (60.0, 1000.0, 'large'),
      |  (50.0, 150.0, 'promo_band')) AS tiers(lo, hi, tier)
      |  ON value >= lo AND value < hi""".stripMargin))

  /** Funnel analysis over the event stream: signup → first subsequent
    * purchase per user, with conversion latency. Window carries the first
    * signup ts to every row; conditional aggregation finds the first
    * qualifying purchase — no self-join. */
  val q43Funnel: Q = Q(
    "q43_funnel",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
      Tables(s, dir, "events")
        .withColumn("first_signup_ts",
          min(when(col("event_type") === "signup", col("ts"))).over(w))
        .groupBy(col("user_id"))
        .agg(
          max(col("first_signup_ts")).as("first_signup_ts"),
          min(when(col("event_type") === "purchase" && col("ts") > col("first_signup_ts"),
            col("ts"))).as("first_purchase_after"))
        .withColumn("converted",
          when(col("first_signup_ts").isNotNull, col("first_purchase_after").isNotNull)
            .otherwise(lit(null).cast("boolean")))
        .withColumn("conversion_days",
          fracDays(col("first_purchase_after"), col("first_signup_ts")))
    },
    Some("""WITH flagged AS (
      |  SELECT user_id, ts, event_type,
      |    MIN(CASE WHEN event_type = 'signup' THEN ts END)
      |      OVER (PARTITION BY user_id) AS first_signup_ts
      |  FROM events)
      |SELECT user_id,
      |  MAX(first_signup_ts) AS first_signup_ts,
      |  MIN(CASE WHEN event_type = 'purchase' AND ts > first_signup_ts THEN ts END)
      |    AS first_purchase_after,
      |  CASE WHEN MAX(first_signup_ts) IS NOT NULL
      |       THEN MIN(CASE WHEN event_type = 'purchase' AND ts > first_signup_ts THEN ts END)
      |            IS NOT NULL
      |       ELSE NULL END AS converted,
      |  (epoch_us(MIN(CASE WHEN event_type = 'purchase' AND ts > first_signup_ts THEN ts END))
      |    - epoch_us(MAX(first_signup_ts))) / 86400000000.0 AS conversion_days
      |FROM flagged GROUP BY user_id""".stripMargin))

  /** Cohort retention: users grouped by first-activity week, distinct
    * active users per (cohort, activity week) — two stacked aggregations,
    * both keyed on user/week. WEEK grain, not month: the driver events
    * table spans ~one month, so monthly cohorts degenerate to a single
    * all-users row (r11 found exactly that trivially-passing shape);
    * weekly cohorts give a real retention triangle at every SF. Both
    * engines truncate weeks to Monday, and the week delta is day-diff/7 —
    * exact, since both operands are week-truncated. */
  val q44CohortRetention: Q = Q(
    "q44_cohort_retention",
    (s, dir) => {
      val ev = Tables(s, dir, "events")
      val activity = ev.select(col("user_id"),
        date_trunc("week", col("ts")).as("activity_week")).distinct()
      // cohort_week = trunc(min(ts)) = min(trunc(ts)) — date_trunc to a
      // fixed grain is monotone, so the cohort derives from the SAME
      // distinct (user, week) relation the activity branch needs
      // (optimization r18): the old separate min(ts)-per-user aggregate
      // re-scanned events and shuffled raw timestamps; this re-reads the
      // distinct exchange (ReusedExchange, one events scan) and shuffles
      // nothing new. Values are identical at any scale. The count(*)
      // + always-true `nw >= 1` anchor keeps the derivation literal: min
      // alone is distinct-insensitive, so RemoveRedundantAggregates would
      // collapse the distinct away and re-split the branches (count over
      // the distinct relation is NOT collapsible, and the filter keeps it
      // from being pruned).
      val cohorts = activity.groupBy(col("user_id"))
        .agg(min(col("activity_week")).as("cohort_week"),
          count(lit(1)).as("nw"))
        .filter(col("nw") >= 1)
        .select(col("user_id"), col("cohort_week"))
      activity.join(cohorts, Seq("user_id"))
        .groupBy(col("cohort_week"), col("activity_week"))
        .agg(countDistinct(col("user_id")).as("active_users"))
        .withColumn("weeks_since_cohort",
          (datediff(col("activity_week"), col("cohort_week")) / lit(7)).cast("long"))
    },
    Some("""WITH cohorts AS (
      |  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
      |  FROM events GROUP BY user_id),
      |activity AS (
      |  SELECT DISTINCT user_id, date_trunc('week', ts) AS activity_week FROM events)
      |SELECT CAST(cohort_week AS TIMESTAMP) AS cohort_week,
      |  CAST(activity_week AS TIMESTAMP) AS activity_week,
      |  COUNT(DISTINCT user_id) AS active_users,
      |  CAST(datediff('day', cohort_week, activity_week) / 7 AS BIGINT) AS weeks_since_cohort
      |FROM activity JOIN cohorts USING (user_id)
      |GROUP BY cohort_week, activity_week""".stripMargin))

  /** Data-quality profile of the orders table (Checks.profile): per-column
    * null and exact distinct counts as rows. */
  val q45Profile: Q = Q(
    "q45_profile",
    (s, dir) => Checks.profile(Tables(s, dir, "orders"),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")),
    Some("""SELECT 'o_orderkey' AS column_name,
      |  COUNT(*) FILTER (o_orderkey IS NULL) AS null_count,
      |  COUNT(DISTINCT o_orderkey) AS distinct_count FROM orders
      |UNION ALL SELECT 'o_custkey', COUNT(*) FILTER (o_custkey IS NULL),
      |  COUNT(DISTINCT o_custkey) FROM orders
      |UNION ALL SELECT 'o_orderstatus', COUNT(*) FILTER (o_orderstatus IS NULL),
      |  COUNT(DISTINCT o_orderstatus) FROM orders
      |UNION ALL SELECT 'o_totalprice', COUNT(*) FILTER (o_totalprice IS NULL),
      |  COUNT(DISTINCT o_totalprice) FROM orders
      |UNION ALL SELECT 'o_orderdate', COUNT(*) FILTER (o_orderdate IS NULL),
      |  COUNT(DISTINCT o_orderdate) FROM orders
      |UNION ALL SELECT 'o_orderpriority', COUNT(*) FILTER (o_orderpriority IS NULL),
      |  COUNT(DISTINCT o_orderpriority) FROM orders""".stripMargin))

  /** q70 — the SKEW-SALTED join as an oracle-checked query: events (the big,
    * skewed side — synthetic user activity is Zipf-ish) ⨝ a per-user tier
    * dim through `ScaleLayout.saltedJoin` with 8 salts, then a per-tier
    * rollup. The oracle is the PLAIN join + rollup — proving the salt/
    * replicate/strip transform is result-invariant, which is the whole
    * contract of manual skew mitigation. At 100 TB the salted form bounds
    * any single reducer to 1/salts of the hottest key's rows (the shape AQE
    * skew-join can't produce when the join feeds a co-grouped downstream
    * computation, since AQE won't split a partition that a later stage
    * requires intact). */
  val q70SaltedJoin: Q = Q(
    "q70_salted_join",
    (s, dir) => {
      val events = Tables(s, dir, "events")
        .select(col("user_id"), col("value"))
      val users = events.select(col("user_id")).distinct()
        .withColumn("tier", pmod(col("user_id"), lit(3)))
      ScaleLayout.saltedJoin(events, users, "user_id", salts = 8)
        .groupBy(col("tier"))
        .agg(
          count(lit(1)).as("n_events"),
          moneyReport(moneySum(col("value"))).as("total_value"))
    },
    Some(s"""SELECT u.tier, COUNT(*) AS n_events,
      |  ${moneySumSql("e.value")} AS total_value
      |FROM events e
      |JOIN (SELECT user_id, user_id % 3 AS tier
      |      FROM (SELECT DISTINCT user_id FROM events) du) u
      |  ON u.user_id = e.user_id
      |GROUP BY u.tier""".stripMargin))

  /** q69 — distributed EXACT quantiles by rank selection, plus the mergeable
    * sketch checked against its own guarantee. Exact path: row_number over
    * the value order, pick the value at rank floor((n−1)·p)+1 — pure integer
    * rank arithmetic (no interpolation, whose a+(b−a)·f vs a·(1−f)+b·f
    * freedom differs across engines), and the value AT a rank is well-defined
    * under ties because the order is by value. Approx path:
    * percentile_approx (KLL-ish mergeable sketch — the 100 TB quantile
    * plan: partial sketches merge associatively, no global sort) validated
    * IN-QUERY against the exact rank band its accuracy parameter promises,
    * so the oracle checks a deterministic boolean (q19's technique). One
    * window pass + one hash aggregation; the sort is per-group within the
    * window shuffle, never global. */
  val q69ExactQuantiles: Q = Q(
    "q69_exact_quantiles",
    (s, dir) => {
      val wOrd = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      val wAll = Window.partitionBy(col("o_orderpriority"))
      def target(p: Int) = expr(s"(cnt - 1) * $p div 100 + 1")
      val slack = expr("cnt div 10000 + 1")
      Tables(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
        .withColumn("rn", row_number().over(wOrd).cast("long"))
        .withColumn("cnt", count(lit(1)).over(wAll))
        .groupBy(col("o_orderpriority"))
        .agg(
          max(col("cnt")).as("n_orders"),
          min(when(col("rn") === target(25), col("o_totalprice"))).as("p25"),
          min(when(col("rn") === target(50), col("o_totalprice"))).as("p50"),
          min(when(col("rn") === target(95), col("o_totalprice"))).as("p95"),
          min(when(col("rn") === greatest(target(50) - slack, lit(1L)), col("o_totalprice"))).as("lo50"),
          min(when(col("rn") === least(target(50) + slack, col("cnt")), col("o_totalprice"))).as("hi50"),
          percentile_approx(col("o_totalprice"), lit(0.5), lit(10000)).as("approx50"))
        .select(col("o_orderpriority"), col("n_orders"), col("p25"), col("p50"), col("p95"),
          (col("approx50") >= col("lo50") && col("approx50") <= col("hi50"))
            .as("approx_median_ok"))
    },
    Some("""WITH r AS (
      |  SELECT o_orderpriority, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
      |                       ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn,
      |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS cnt
      |  FROM orders)
      |SELECT o_orderpriority,
      |  CAST(MAX(cnt) AS BIGINT) AS n_orders,
      |  MIN(CASE WHEN rn = (cnt - 1) * 25 // 100 + 1 THEN o_totalprice END) AS p25,
      |  MIN(CASE WHEN rn = (cnt - 1) * 50 // 100 + 1 THEN o_totalprice END) AS p50,
      |  MIN(CASE WHEN rn = (cnt - 1) * 95 // 100 + 1 THEN o_totalprice END) AS p95,
      |  TRUE AS approx_median_ok
      |FROM r GROUP BY o_orderpriority""".stripMargin))

  /** q72 — SCD Type-2 dimension build from history: each customer's
    * order-priority timeline collapses into versioned validity intervals
    * (effective_from/effective_to, NULL-open current row, version number).
    * The warehouse pattern the reference's whole-replace dimension loads
    * (create_dimensions.py) cannot express: history is PRESERVED, and the
    * as-of join (q29) can resolve any past date against it. Two window
    * passes over ONE o_custkey shuffle: change detection via lag, then
    * interval close via lead over the filtered change rows — no self-join,
    * no correlated subquery, linear at any scale. */
  val q72Scd2: Q = Q(
    "q72_scd2_dimension",
    (s, dir) => {
      val wOrd = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      val changes = Tables(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderpriority"), col("o_orderdate"), col("o_orderkey"))
        .withColumn("prev_prio", lag(col("o_orderpriority"), 1).over(wOrd))
        .filter(col("prev_prio").isNull || col("prev_prio") =!= col("o_orderpriority"))
      val wVer = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      changes
        .withColumn("version", row_number().over(wVer).cast("long"))
        .withColumn("effective_to", lead(col("o_orderdate"), 1).over(wVer))
        .select(col("o_custkey"), col("o_orderpriority"),
          col("o_orderdate").as("effective_from"), col("effective_to"),
          col("version"), col("effective_to").isNull.as("is_current"))
    },
    Some("""WITH ordered AS (
      |  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
      |    LAG(o_orderpriority, 1) OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate ASC, o_orderkey ASC) AS prev_prio
      |  FROM orders),
      |changes AS (
      |  SELECT * FROM ordered
      |  WHERE prev_prio IS NULL OR prev_prio <> o_orderpriority)
      |SELECT o_custkey, o_orderpriority,
      |  o_orderdate AS effective_from,
      |  LEAD(o_orderdate, 1) OVER w AS effective_to,
      |  CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
      |  LEAD(o_orderdate, 1) OVER w IS NULL AS is_current
      |FROM changes
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)""".stripMargin))

  /** q74 — the 6-way star join (TPC-H Q5 shape): customer ⨝ orders ⨝
    * lineitem ⨝ supplier ⨝ nation ⨝ region, revenue per nation for one
    * region-year, with the local-supplier condition (c_nationkey =
    * s_nationkey) that makes the join graph a cycle. This is the query
    * Catalyst's join reordering + broadcast selection exists for: region/
    * nation broadcast everywhere, the date filter pushes into the orders
    * scan, and the only big shuffles are lineitem⨝orders (orderkey) and
    * the customer⨝supplier nation condition riding the existing joins —
    * declared declaratively, the optimizer picks the order. */
  val q74StarJoin: Q = Q(
    "q74_star_join",
    (s, dir) => {
      val customer = Tables(s, dir, "customer")
      val orders = Tables(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val lineitem = Tables(s, dir, "lineitem")
      val supplier = Tables(s, dir, "supplier")
      val nation = Tables(s, dir, "nation")
      val region = Tables(s, dir, "region").filter(col("r_name") === "ASIA")
      customer
        .join(orders, col("c_custkey") === col("o_custkey"))
        .join(lineitem, col("o_orderkey") === col("l_orderkey"))
        .join(supplier, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(moneyReport(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue"))
    },
    Some(s"""SELECT n_name,
      |  ${moneySumSql("l_extendedprice*(1-l_discount)")} AS revenue
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-01-01'
      |GROUP BY n_name""".stripMargin))

  /** q77 — schema evolution across snapshots: a v1 projection (no
    * o_orderpriority column) unions with the evolved v2 table via
    * unionByName(allowMissingColumns) — v1 rows NULL-fill the added
    * column, v2 rows keep it, and downstream aggregation treats the NULL
    * domain explicitly. The relational half of lake schema evolution;
    * the file-level half (parquet mergeSchema over mixed-schema
    * directories) is spec-proven in ScaleLayoutSpec. */
  val q77SchemaEvolution: Q = Q(
    "q77_schema_evolution",
    (s, dir) => {
      val v1 = Tables(s, dir, "orders")
        .filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .withColumn("snapshot", lit("v1"))
      val v2 = Tables(s, dir, "orders")
        .filter(col("o_orderkey") % 2 =!= 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          col("o_orderpriority"))
        .withColumn("snapshot", lit("v2"))
      v1.unionByName(v2, allowMissingColumns = true)
        .groupBy(col("snapshot"), coalesce(col("o_orderpriority"), lit("<pre-evolution>"))
          .as("priority"))
        .agg(count(lit(1)).as("n_orders"),
          moneyReport(moneySum(col("o_totalprice"))).as("revenue"))
    },
    Some(s"""SELECT snapshot, COALESCE(o_orderpriority, '<pre-evolution>') AS priority,
      |  COUNT(*) AS n_orders,
      |  ${moneySumSql("o_totalprice")} AS revenue
      |FROM (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice,
      |         NULL AS o_orderpriority, 'v1' AS snapshot
      |  FROM orders WHERE o_orderkey % 2 = 0
      |  UNION ALL
      |  SELECT o_orderkey, o_orderstatus, o_totalprice,
      |         o_orderpriority, 'v2' AS snapshot
      |  FROM orders WHERE o_orderkey % 2 <> 0) u
      |GROUP BY snapshot, COALESCE(o_orderpriority, '<pre-evolution>')""".stripMargin))

  /** q78 — cross-engine table checksum (the migration-parity audit: "did
    * the switch off the reference engine lose a row or flip a value?").
    * Per status group: row count + XOR of a 60-bit md5 over a canonical
    * '|'-joined rendering of the integer/string columns. XOR is the
    * order-independent combine that cannot overflow (a SUM of 2⁶⁰-scale
    * hashes would overflow BIGINT at ~2¹³ rows); restricting the rendering
    * to ints/strings sidesteps engine float-formatting differences. At
    * 100 TB this is one pruned scan + a 5-group aggregate — the cheapest
    * possible full-table integrity probe. */
  val q78TableChecksum: Q = Q(
    "q78_table_checksum",
    (s, dir) => Tables(s, dir, "orders")
      .select(col("o_orderstatus"),
        graft.expressions.Md5Prefix.of(concat_ws("|",
          col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_orderpriority")).cast("binary"), 15).as("h"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(h)").as("checksum")),
    Some("""SELECT o_orderstatus, COUNT(*) AS n_rows,
      |  BIT_XOR(('0x' || substr(md5(
      |    CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR) || '|' ||
      |    o_orderstatus || '|' || o_orderpriority), 1, 15))::BIGINT) AS checksum
      |FROM orders GROUP BY o_orderstatus""".stripMargin))

  /** q82 — last-touch attribution: each purchase's value is credited to the
    * most recent PRIOR marketing touch (click/view/signup) of the same
    * user — `last(..., ignoreNulls)` over a frame ending 1 row before
    * current, the windowed form of the correlated "latest preceding row"
    * lookup (a per-row as-of self-join collapsed into ONE user-partition
    * window pass). Purchases with no prior touch credit 'direct'. Rollup:
    * per-channel purchase count + exact decimal revenue. */
  val q82Attribution: Q = Q(
    "q82_attribution",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables(s, dir, "events")
        .withColumn("touch",
          last(when(col("event_type").isin("click", "view", "signup"), col("event_type")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .groupBy(coalesce(col("touch"), lit("direct")).as("channel"))
        .agg(
          count(lit(1)).as("purchases"),
          moneyReport(moneySum(col("value"))).as("attributed_revenue"))
    },
    Some(s"""SELECT COALESCE(touch, 'direct') AS channel,
      |  COUNT(*) AS purchases,
      |  ${moneySumSql("value")} AS attributed_revenue
      |FROM (
      |  SELECT event_type, value,
      |    LAST_VALUE(CASE WHEN event_type IN ('click','view','signup')
      |               THEN event_type END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
      |  FROM events) t
      |WHERE event_type = 'purchase'
      |GROUP BY COALESCE(touch, 'direct')""".stripMargin))

  /** The SQL-string entry point (spark.sql over registered views) — the
    * other half of the API surface; same Catalyst plan as the DataFrame
    * formulation. */
  val q46SqlApi: Q = Q(
    "q46_sql_api",
    (s, dir) => {
      Tables(s, dir, "orders").createOrReplaceTempView("orders_v")
      s.sql(s"""SELECT o_orderpriority, o_orderstatus, COUNT(*) AS order_count,
              |  ${moneySumSql("o_totalprice")} AS revenue
              |FROM orders_v
              |GROUP BY o_orderpriority, o_orderstatus
              |HAVING COUNT(*) > 10""".stripMargin)
    },
    Some(s"""SELECT o_orderpriority, o_orderstatus, COUNT(*) AS order_count,
      |  ${moneySumSql("o_totalprice")} AS revenue
      |FROM orders
      |GROUP BY o_orderpriority, o_orderstatus
      |HAVING COUNT(*) > 10""".stripMargin))

  /** The custom physical top-k operator (graft.plans.TopKPerGroup): same
    * semantics as q10's window formulation but executed with bounded heaps
    * and a partial/final stage pair — shuffle carries ≤k rows per group per
    * map partition. Oracle-checked against the declarative SQL. */
  val q47TopKNative: Q = Q(
    "q47_topk_native",
    (s, dir) => graft.plans.TopK.perGroup(
      Tables(s, dir, "part"), Seq("p_brand"),
      Seq("p_retailprice" -> false, "p_partkey" -> true), 3),
    Some("""SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY p_brand
      |        ORDER BY p_retailprice DESC, p_partkey ASC) AS rk
      |      FROM part) t
      |WHERE rk <= 3""".stripMargin))

  /** Distributed second-moment statistics from EXACT decimal power sums:
    * covariance/correlation assembled from (n, Σx, Σy, Σxy, Σx², Σy²) where
    * every sum is order-independent decimal arithmetic and only the final
    * scalar formula runs in doubles (identical expression structure on both
    * engines → bitwise-equal results; built-in corr() would be
    * implementation-dependent). This is also the mergeable-statistics shape
    * used for incremental rollups at scale. */
  val q53ExactStats: Q = Q(
    "q53_exact_stats",
    (s, dir) => Tables(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        ExactSum.of(col("l_quantity").cast("decimal(18,6)")).cast("double").as("sx"),
        ExactSum.of(col("l_discount").cast("decimal(18,6)")).cast("double").as("sy"),
        // Factors cast to decimal(18,2) (exact for these 2dp doubles) and
        // multiplied exactly: sums are exact end-to-end. Each `ExactSum` is
        // `sum(a * b)` over decimal(37,4) products, result decimal(38,4),
        // on 128-bit limbs instead of a BigDecimal per row. Two pitfalls
        // pinned here: casting the double PRODUCT at any scale is
        // probabilistically engine-divergent, and the final DECIMAL→DOUBLE
        // cast itself diverges when |unscaled| > 2^53 (DuckDB divides
        // rounded doubles, Spark rounds exactly via BigDecimal) — hence
        // correlating with the small-magnitude discount column.
        ExactSum.of(col("l_quantity").cast("decimal(18,2)"), col("l_discount").cast("decimal(18,2)"))
          .cast("double").as("sxy"),
        ExactSum.of(col("l_quantity").cast("decimal(18,2)"), col("l_quantity").cast("decimal(18,2)"))
          .cast("double").as("sxx"),
        ExactSum.of(col("l_discount").cast("decimal(18,2)"), col("l_discount").cast("decimal(18,2)"))
          .cast("double").as("syy"))
      .select(col("l_returnflag"), col("n"),
        ((col("sxy") - col("sx") * col("sy") / col("n")) / col("n")).as("covar_pop"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
           sqrt(col("n") * col("syy") - col("sy") * col("sy")))).as("corr_qty_discount")),
    Some("""WITH sums AS (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS syy
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, n,
      |  (sxy - sx * sy / n) / n AS covar_pop,
      |  (n * sxy - sx * sy) /
      |    (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_qty_discount
      |FROM sums""".stripMargin))

  /** Unpivot/melt (wide → long) — the inverse of q28's pivot. */
  val q54Unpivot: Q = Q(
    "q54_unpivot",
    (s, dir) => Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"),
        col("o_custkey").cast("double").as("o_custkey"))
      .unpivot(Array(col("o_orderkey")),
        Array(col("o_totalprice"), col("o_custkey")), "metric", "value"),
    Some("""SELECT o_orderkey, 'o_totalprice' AS metric, o_totalprice AS value FROM orders
      |UNION ALL
      |SELECT o_orderkey, 'o_custkey', CAST(o_custkey AS DOUBLE) FROM orders""".stripMargin))

  /** Fuzzy matching: nearest part name by Levenshtein distance for a probe
    * set (argmin with pinned tiebreak) — entity-resolution shape. */
  val q55FuzzyMatch: Q = Q(
    "q55_fuzzy_match",
    (s, dir) => {
      val p = Tables(s, dir, "part")
      val probes = p.filter(col("p_partkey") < 20)
        .select(col("p_partkey").as("probe_key"), col("p_name").as("probe_name"))
      p.select(col("p_partkey").as("cand_key"), col("p_name").as("cand_name"))
        .join(broadcast(probes), col("cand_key") =!= col("probe_key"))
        .withColumn("dist", levenshtein(col("probe_name"), col("cand_name")))
        .groupBy(col("probe_key"), col("probe_name"))
        .agg(min(struct(col("dist"), col("cand_key"), col("cand_name"))).as("best"))
        .select(col("probe_key"), col("probe_name"),
          col("best.cand_key").as("closest_key"),
          col("best.cand_name").as("closest_name"),
          col("best.dist").cast("long").as("distance"))
    },
    Some("""SELECT probe_key, probe_name, cand_key AS closest_key,
      |  cand_name AS closest_name, CAST(dist AS BIGINT) AS distance
      |FROM (
      |  SELECT p.p_partkey AS probe_key, p.p_name AS probe_name,
      |    c.p_partkey AS cand_key, c.p_name AS cand_name,
      |    levenshtein(p.p_name, c.p_name) AS dist,
      |    ROW_NUMBER() OVER (PARTITION BY p.p_partkey
      |      ORDER BY levenshtein(p.p_name, c.p_name) ASC, c.p_partkey ASC) AS rn
      |  FROM part p JOIN part c ON c.p_partkey <> p.p_partkey
      |  WHERE p.p_partkey < 20) t
      |WHERE rn = 1""".stripMargin))

  /** Calendar-spine gap filling: month spine from sequence(), left join,
    * zero-fill — the standard dense-time-series transform. */
  val q56GapFill: Q = Q(
    "q56_gap_fill",
    (s, dir) => {
      val o = Tables(s, dir, "orders")
      val monthly = o.groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(moneyReport(moneySum(col("o_totalprice"))).as("revenue"))
      val spine = o.agg(
          date_trunc("month", min(col("o_orderdate"))).as("lo"),
          date_trunc("month", max(col("o_orderdate"))).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"), expr("interval 1 month"))).as("month"))
      spine.join(monthly, Seq("month"), "left")
        .select(col("month"),
          coalesce(col("revenue"), lit(0.0)).as("revenue"),
          col("revenue").isNull.as("was_missing"))
    },
    Some(s"""WITH monthly AS (
      |  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
      |    ${moneySumSql("o_totalprice")} AS revenue
      |  FROM orders GROUP BY 1),
      |b AS (SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS TIMESTAMP) AS lo,
      |             CAST(date_trunc('month', MAX(o_orderdate)) AS TIMESTAMP) AS hi
      |      FROM orders),
      |spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS month FROM b)
      |SELECT month, COALESCE(revenue, 0.0) AS revenue, revenue IS NULL AS was_missing
      |FROM spine LEFT JOIN monthly USING (month)""".stripMargin))

  /** Ordered string aggregation (collect → sort → join: Spark's
    * collect_list is order-nondeterministic, array_sort pins it) plus
    * percent_rank over the same groups. */
  val q57StringAgg: Q = Q(
    "q57_string_agg",
    (s, dir) => {
      val withRank = Tables(s, dir, "part")
        .withColumn("price_pct_rank", percent_rank().over(
          Window.partitionBy(col("p_brand"))
            .orderBy(col("p_retailprice").asc, col("p_partkey").asc)))
      withRank.groupBy(col("p_brand"))
        .agg(
          concat_ws(",", array_sort(collect_set(normLower(col("p_type"))))).as("types_csv"),
          count(lit(1)).as("n_parts"),
          max(col("price_pct_rank")).as("max_pct_rank"))
    },
    Some("""WITH ranked AS (
      |  SELECT p_brand, lower(trim(p_type)) AS type_norm,
      |    percent_rank() OVER (PARTITION BY p_brand
      |      ORDER BY p_retailprice ASC, p_partkey ASC) AS price_pct_rank
      |  FROM part)
      |SELECT p_brand,
      |  array_to_string(list_sort(list(DISTINCT type_norm)), ',') AS types_csv,
      |  COUNT(*) AS n_parts,
      |  MAX(price_pct_rank) AS max_pct_rank
      |FROM ranked GROUP BY p_brand""".stripMargin))

  /** Date-part scalar pack (the BI drill-down dimensions): year/quarter/
    * month/day/day-of-week/last-day-of-month, normalized to one convention
    * on both engines. */
  val q58DateParts: Q = Q(
    "q58_date_parts",
    (s, dir) => Tables(s, dir, "orders")
      .select(
        col("o_orderkey"),
        col("o_orderdate"),
        year(col("o_orderdate")).cast("long").as("y"),
        quarter(col("o_orderdate")).cast("long").as("q"),
        month(col("o_orderdate")).cast("long").as("m"),
        dayofmonth(col("o_orderdate")).cast("long").as("d"),
        // Spark dayofweek: 1=Sunday..7; DuckDB dayofweek: 0=Sunday..6
        (dayofweek(col("o_orderdate")) - 1).cast("long").as("dow"),
        last_day(col("o_orderdate")).cast("string").as("month_end")),
    Some("""SELECT o_orderkey, o_orderdate,
      |  CAST(year(o_orderdate) AS BIGINT) AS y,
      |  CAST(quarter(o_orderdate) AS BIGINT) AS q,
      |  CAST(month(o_orderdate) AS BIGINT) AS m,
      |  CAST(day(o_orderdate) AS BIGINT) AS d,
      |  CAST(dayofweek(o_orderdate) AS BIGINT) AS dow,
      |  CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end
      |FROM orders""".stripMargin))

  /** Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys match
    * NULL keys instead of dropping — the dimension-with-unknown-bucket join
    * shape. Keys made nullable via NULLIF on the extracted JSON field.
    * The events side is aggregated per key FIRST and the dimension derived
    * from the aggregate, so the JSON parse + scan run once (the two
    * branches share one exchange, deduped by ReuseExchange) and the
    * null-safe join touches only key-cardinality relations — at 100 TB the
    * join cost is |distinct keys|, not |events|. */
  val q59NullSafeJoin: Q = Q(
    "q59_nullsafe_join",
    (s, dir) => {
      val perKey = Tables(s, dir, "events")
        .select(
          nullif(get_json_object(col("props"), "$.k").cast("long"), lit(0L)).as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("cnt"))
      // `cnt >= 1` is an always-true anchor (count(*) ≥ 1): without it the
      // dim branch's copy of the per-key aggregate prunes cnt away, stops
      // canonicalizing equal to the join branch's copy, and the whole
      // JSON-parse + aggregate pipeline (and its exchange) runs twice —
      // anchored, the dim branch re-reads the same exchange
      // (ReusedExchange; one events scan, was two).
      val keys = perKey.filter(col("cnt") >= 1).select(col("k").as("dim_k"))
        .withColumn("bucket_name",
          coalesce(concat(lit("k_"), col("dim_k")), lit("k_unknown")))
      perKey.join(keys, col("k") <=> col("dim_k"))
        .groupBy(col("bucket_name"))
        .agg(sum(col("cnt")).as("n"))
    },
    Some("""WITH ev AS (
      |  SELECT event_id,
      |    NULLIF(CAST(json_extract_string(props, '$.k') AS BIGINT), 0) AS k
      |  FROM events),
      |keys AS (
      |  SELECT dim_k, COALESCE('k_' || dim_k, 'k_unknown') AS bucket_name
      |  FROM (SELECT DISTINCT k AS dim_k FROM ev) d)
      |SELECT bucket_name, COUNT(*) AS n
      |FROM ev JOIN keys ON ev.k IS NOT DISTINCT FROM keys.dim_k
      |GROUP BY bucket_name""".stripMargin))

  val all: Seq[Q] = Seq(
    q01PricingSummary, q02SelectiveRevenue, q03JoinAgg, q04OrderEnrichment,
    q05PrimaryFlag, q06UnionDistinct, q07DimLocations, q08Master,
    q09ScalarNorm, q10TopKPerGroup, q11CustomerOrderSeq, q12TopOrders,
    q13MonthlyRollup, q25MultiKeyNormJoin, q26SetOps, q27Rollup, q28Pivot,
    q63CubeGrouping, q66WindowAnalytics,
    q29AsofJoin, q41SemiAnti, q42RangeJoin, q43Funnel, q44CohortRetention,
    q45Profile, q46SqlApi, q47TopKNative, q53ExactStats, q54Unpivot,
    q69ExactQuantiles, q70SaltedJoin, q72Scd2, q74StarJoin,
    q77SchemaEvolution, q78TableChecksum, q82Attribution,
    q55FuzzyMatch, q56GapFill, q57StringAgg, q58DateParts, q59NullSafeJoin)
}
