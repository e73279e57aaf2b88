package graft.pipeline

import java.util.UUID
import java.util.concurrent.{ConcurrentLinkedQueue, ExecutionException, ExecutorCompletionService, Executors}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Cleanse._
import graft.operators.Aggregates
import graft.sources.Tables

/** The reference pipeline itself, Olist-shaped, end to end — so a user of
  * the reference can switch engines and run the exact workload they run
  * today: raw CSV load (main.py:39-64), dim_locations build
  * (create_dimensions.py:6-70), and the master_table transform
  * (transform-complex-full.py:14-224), re-expressed as one lazy DataFrame
  * DAG per step.
  *
  * Deviations from the reference, both pinned in SURVEY.md §7.4:
  *  - surrogate location_id is row_number over the natural key (zip, city,
  *    state) instead of the pandas row index — deterministic under
  *    distribution (§7.4 item 2);
  *  - the primary_payment_type argmax breaks ties (sum DESC, type ASC)
  *    where Postgres LIMIT 1 is nondeterministic (§7.4 item 1).
  *
  * Scale design: pay/rev aggregates and the items⨝orders join share the
  * order_id shuffle key; order_payments is scanned once; translation and
  * dim_locations are broadcast; all KPI expressions are codegen'd
  * built-ins; the nine raw loads and the two serving sinks each run
  * concurrently. Every output is a DIRECT overwrite (`Tables.overwrite`),
  * not a staged swap: the recovery story is re-running the pipeline from
  * the source CSVs, as with the reference's if_exists='replace' (§7.4
  * item 5).
  */
object OlistPipeline {

  /** CSV filename → table map (main.py:21-31). */
  val filesToLoad: Map[String, String] = Map(
    "olist_customers_dataset.csv" -> "customers",
    "olist_geolocation_dataset.csv" -> "geolocation",
    "olist_order_items_dataset.csv" -> "order_items",
    "olist_order_payments_dataset.csv" -> "order_payments",
    "olist_order_reviews_dataset.csv" -> "order_reviews",
    "olist_orders_dataset.csv" -> "orders",
    "olist_products_dataset.csv" -> "products",
    "olist_sellers_dataset.csv" -> "sellers",
    "product_category_name_translation.csv" -> "product_category_name_translation")

  /** Explicit schemas (FIXTURES.md §3) — the reference relies on pandas
    * inference (main.py:49); we pin types for determinism (SURVEY.md §1.3).
    * Zip prefixes are STRINGS (leading zeros — SURVEY.md §1.2). */
  val schemas: Map[String, StructType] = Map(
    "orders" -> StructType(Seq(
      StructField("order_id", StringType), StructField("customer_id", StringType),
      StructField("order_status", StringType),
      StructField("order_purchase_timestamp", StringType),
      StructField("order_approved_at", StringType),
      StructField("order_delivered_carrier_date", StringType),
      StructField("order_delivered_customer_date", StringType),
      StructField("order_estimated_delivery_date", StringType))),
    "order_items" -> StructType(Seq(
      StructField("order_id", StringType), StructField("order_item_id", IntegerType),
      StructField("product_id", StringType), StructField("seller_id", StringType),
      StructField("shipping_limit_date", StringType),
      StructField("price", DoubleType), StructField("freight_value", DoubleType))),
    "order_payments" -> StructType(Seq(
      StructField("order_id", StringType), StructField("payment_sequential", IntegerType),
      StructField("payment_type", StringType), StructField("payment_installments", IntegerType),
      StructField("payment_value", DoubleType))),
    "order_reviews" -> StructType(Seq(
      StructField("review_id", StringType), StructField("order_id", StringType),
      StructField("review_score", IntegerType),
      StructField("review_creation_date", StringType),
      StructField("review_answer_timestamp", StringType))),
    "customers" -> StructType(Seq(
      StructField("customer_id", StringType), StructField("customer_unique_id", StringType),
      StructField("customer_zip_code_prefix", StringType),
      StructField("customer_city", StringType), StructField("customer_state", StringType))),
    "sellers" -> StructType(Seq(
      StructField("seller_id", StringType), StructField("seller_zip_code_prefix", StringType),
      StructField("seller_city", StringType), StructField("seller_state", StringType))),
    "geolocation" -> StructType(Seq(
      StructField("geolocation_zip_code_prefix", StringType),
      StructField("geolocation_lat", DoubleType), StructField("geolocation_lng", DoubleType),
      StructField("geolocation_city", StringType), StructField("geolocation_state", StringType))),
    "products" -> StructType(Seq(
      StructField("product_id", StringType), StructField("product_category_name", StringType),
      StructField("product_name_lenght", IntegerType),
      StructField("product_description_lenght", IntegerType),
      StructField("product_photos_qty", IntegerType), StructField("product_weight_g", IntegerType),
      StructField("product_length_cm", IntegerType), StructField("product_height_cm", IntegerType),
      StructField("product_width_cm", IntegerType))),
    "product_category_name_translation" -> StructType(Seq(
      StructField("product_category_name", StringType),
      StructField("product_category_name_english", StringType))))

  /** The 27-entry state dictionary (create_dimensions.py:53-62). */
  val stateMapping: Map[String, String] = Map(
    "AC" -> "Acre", "AL" -> "Alagoas", "AP" -> "Amapá", "AM" -> "Amazonas", "BA" -> "Bahia",
    "CE" -> "Ceará", "DF" -> "Distrito Federal", "ES" -> "Espírito Santo", "GO" -> "Goiás",
    "MA" -> "Maranhão", "MT" -> "Mato Grosso", "MS" -> "Mato Grosso do Sul", "MG" -> "Minas Gerais",
    "PA" -> "Pará", "PB" -> "Paraíba", "PR" -> "Paraná", "PE" -> "Pernambuco", "PI" -> "Piauí",
    "RJ" -> "Rio de Janeiro", "RN" -> "Rio Grande do Norte", "RS" -> "Rio Grande do Sul",
    "RO" -> "Rondônia", "RR" -> "Roraima", "SC" -> "Santa Catarina", "SP" -> "São Paulo",
    "SE" -> "Sergipe", "TO" -> "Tocantins")

  private val Money = DecimalType(12, 2) // numeric(12,2), transform-complex-full.py:63-64
  private val MoneySum = DecimalType(22, 2) // Spark's type for sum(decimal(12,2)): lake and Derby schema

  /** Name prefix of the threads `concurrently` runs steps on. */
  private[graft] val StepThreadPrefix = "olist-step-"

  /** Runs independent named steps at the same time, one pool thread each,
    * and returns when all have ended. Each worker inherits a copy of the
    * caller's Spark local properties (SparkContext keeps them in an
    * InheritableThreadLocal, and the pool makes its threads on the caller's
    * thread, inside `submit`), so its jobs carry the caller's job group and
    * description, plus one job tag for this call.
    *
    * Fail-fast (pipeline.py:4-11): the first failure cancels the running
    * jobs of the sibling steps, and once every step has ended it is
    * rethrown with the step's name; the siblings' own failures ride along
    * as suppressed. The cancel reaches only jobs already running: a
    * sibling that finished before it, or starts its job after it, keeps
    * its output. */
  private[pipeline] def concurrently(spark: SparkSession, steps: Seq[(String, () => Unit)]): Unit = {
    val sc = spark.sparkContext
    val tag = s"olist-steps-${UUID.randomUUID()}"
    val threads = new ConcurrentLinkedQueue[Thread]()
    val pool = Executors.newFixedThreadPool(steps.size max 1, { (r: Runnable) =>
      val t = new Thread(r, s"$StepThreadPrefix${threads.size}")
      threads.add(t)
      t
    })
    try {
      val done = new ExecutorCompletionService[Unit](pool)
      val names = steps.map { case (name, body) =>
        done.submit { () =>
          sc.addJobTag(tag)
          body()
        } -> name
      }.toMap
      var failure: Option[RuntimeException] = None
      for (_ <- steps) {
        val step = done.take()
        try step.get()
        catch {
          case e: ExecutionException => failure match {
            case Some(first) => first.addSuppressed(e.getCause)
            case None =>
              sc.cancelJobsWithTag(tag)
              failure = Some(new RuntimeException(s"step ${names(step)} failed: ${e.getCause}", e.getCause))
          }
        }
      }
      failure.foreach(throw _)
    } finally {
      pool.shutdown()
      threads.forEach(_.join())
    }
  }

  /** Step 1 — raw load (main.py:39-64): CSV → overwrite parquet lake. The
    * reference's 10k-row batched INSERT concern disappears: a distributed
    * parquet write IS the batched bulk path. The 9 loads are independent,
    * so they run concurrently (`concurrently`). A failed load names its
    * table and cancels the running loads. Loads that finished first have
    * replaced their raw tables, and a cancelled one leaves its table
    * removed, since `Tables.overwrite` deletes before it writes. */
  def loadRaw(spark: SparkSession, srcDir: String, lakeDir: String): Unit =
    concurrently(spark, filesToLoad.toSeq.map { case (file, table) =>
      table -> (() => Tables.overwrite(
        Tables.csv(spark, s"$srcDir/$file", schemas(table)), s"$lakeDir/$table.parquet"))
    })

  /** Step 2 — dim_locations (create_dimensions.py:6-70): project+rename the
    * three sources, unionByName, dedup THEN dropna (order matters for
    * counts — §7.4 item 7), state-dict lookup with NULL on miss,
    * deterministic surrogate key. */
  def buildDimLocations(customers: DataFrame, sellers: DataFrame, geolocation: DataFrame): DataFrame = {
    def std(df: DataFrame, zip: String, city: String, state: String) =
      df.select(col(zip).as("zip_code_prefix"), col(city).as("city"), col(state).as("state_code"))
    val combined =
      std(customers, "customer_zip_code_prefix", "customer_city", "customer_state")
        .unionByName(std(sellers, "seller_zip_code_prefix", "seller_city", "seller_state"))
        .unionByName(std(geolocation, "geolocation_zip_code_prefix", "geolocation_city", "geolocation_state"))
        .dropDuplicates()
        .na.drop("any")
    combined
      .withColumn("state_name", mapLookup(stateMapping, col("state_code")))
      .withColumn("location_id",
        (row_number().over(
          Window.orderBy(col("zip_code_prefix"), col("city"), col("state_code"))) - 1).cast("long"))
  }

  /** Step 3 — master_table (transform-complex-full.py:14-210): the full CTE
    * tree as DataFrames. Column names match the reference's output exactly. */
  def buildMaster(
      orders: DataFrame, orderItems: DataFrame, orderPayments: DataFrame,
      orderReviews: DataFrame, products: DataFrame, translation: DataFrame,
      customers: DataFrame, sellers: DataFrame, dimLocations: DataFrame): DataFrame = {

    // c_orders (:19-31)
    val cOrders = orders.select(
      col("order_id"), col("customer_id"),
      normLower(col("order_status")).as("order_status"),
      col("order_purchase_timestamp").cast(TimestampType).as("order_purchase_ts"),
      col("order_approved_at").cast(TimestampType).as("order_approved_ts"),
      col("order_delivered_carrier_date").cast(TimestampType).as("order_delivered_carrier_ts"),
      col("order_delivered_customer_date").cast(TimestampType).as("order_delivered_customer_ts"),
      col("order_estimated_delivery_date").cast(TimestampType).as("order_estimated_delivery_ts"))

    // c_customers / c_sellers (:33-46) — normalization at the join, both sides
    val cCustomers = customers.select(
      col("customer_id"),
      trim(col("customer_zip_code_prefix")).cast(StringType).as("customer_zip_prefix"),
      normUpper(col("customer_city")).as("customer_city_norm"),
      normUpper(col("customer_state")).as("customer_state_norm"))
    val cSellers = sellers.select(
      col("seller_id"),
      trim(col("seller_zip_code_prefix")).cast(StringType).as("seller_zip_prefix"),
      normUpper(col("seller_city")).as("seller_city_norm"),
      normUpper(col("seller_state")).as("seller_state_norm"))

    // c_products (:48-56) — translation join, COALESCE fallback to PT name
    val cProducts = products
      .join(broadcast(translation), Seq("product_category_name"), "left")
      .select(
        col("product_id"),
        normLower(col("product_category_name")).as("product_category_pt"),
        normLower(coalesce(col("product_category_name_english"), col("product_category_name")))
          .as("product_category_en"))

    // c_items (:57-66)
    val cItems = orderItems.select(
      col("order_id"), col("order_item_id"), col("product_id"), col("seller_id"),
      col("price").cast(Money).as("item_price"),
      col("freight_value").cast(Money).as("item_freight"))

    // pay_agg (:67-82) — one scan: per-(order, type) sums, then the order
    // totals and the decorrelated argmax with pinned tiebreak (the
    // Aggregates.perOrderAll pattern). Decimal sums are exact, so summing
    // per-type sums equals the reference's direct sum; the cast keeps its
    // decimal(22,2) instead of the widened decimal(32,2).
    val payAgg = orderPayments
      .groupBy(col("order_id"), col("payment_type"))
      .agg(
        sum(col("payment_value").cast(Money)).as("type_value"),
        sum(nullIfZero(col("payment_installments"))).as("type_installments"))
      .groupBy(col("order_id"))
      .agg(
        sum(col("type_value")).cast(MoneySum).as("total_payment_value"),
        coalesce(sum(col("type_installments")), lit(0)).as("total_installments"),
        min(struct(negate(col("type_value")).as("neg"), col("payment_type").as("t"))).as("top"))
      .select(col("order_id"), col("total_payment_value"), col("total_installments"),
        col("top.t").as("primary_payment_type"))

    // rev_agg (:83-91)
    val revAgg = orderReviews.groupBy(col("order_id")).agg(
      avg(col("review_score").cast(DecimalType(10, 0))).as("review_score_avg"),
      min(col("review_creation_date").cast(TimestampType)).as("first_review_creation_ts"),
      max(col("review_answer_timestamp").cast(TimestampType)).as("last_review_answer_ts"))

    // loc (:93-99) — dim side normalized identically to the customer/seller side
    val loc = dimLocations.select(
      col("location_id"),
      trim(col("zip_code_prefix")).cast(StringType).as("zip_prefix"),
      normUpper(col("city")).as("city_norm"),
      normUpper(col("state_code")).as("state_norm"))

    // cust_with_loc / seller_with_loc (:100-124) — 3-key normalized left joins
    val custWithLoc = cCustomers.join(broadcast(loc),
      col("zip_prefix") === col("customer_zip_prefix") &&
      col("city_norm") === col("customer_city_norm") &&
      col("state_norm") === col("customer_state_norm"), "left")
      .select(col("customer_id"), col("customer_zip_prefix"), col("customer_city_norm"),
        col("customer_state_norm"), col("location_id").as("customer_location_id"))
    val sellerWithLoc = cSellers.join(broadcast(loc),
      col("zip_prefix") === col("seller_zip_prefix") &&
      col("city_norm") === col("seller_city_norm") &&
      col("state_norm") === col("seller_state_norm"), "left")
      .select(col("seller_id"), col("seller_zip_prefix"), col("seller_city_norm"),
        col("seller_state_norm"), col("location_id").as("seller_location_id"))

    // final assembly (:127-210)
    cItems
      .join(cOrders, Seq("order_id"))
      .join(payAgg, Seq("order_id"), "left")
      .join(revAgg, Seq("order_id"), "left")
      .join(cProducts, Seq("product_id"), "left")
      .join(custWithLoc, Seq("customer_id"), "left")
      .join(sellerWithLoc, Seq("seller_id"), "left")
      .select(
        col("order_id"), col("order_item_id"),
        col("order_status"), col("order_purchase_ts"), col("order_approved_ts"),
        col("order_delivered_carrier_ts"), col("order_delivered_customer_ts"),
        col("order_estimated_delivery_ts"),
        col("customer_id"), col("customer_location_id"), col("customer_zip_prefix"),
        col("customer_city_norm"), col("customer_state_norm"),
        col("seller_id"), col("seller_location_id"), col("seller_zip_prefix"),
        col("seller_city_norm"), col("seller_state_norm"),
        col("product_id"), col("product_category_pt"), col("product_category_en"),
        col("item_price"), col("item_freight"),
        (col("item_price") + col("item_freight")).as("item_gross_revenue"),
        col("total_payment_value"), col("total_installments"),
        normLower(col("primary_payment_type")).as("primary_payment_type"),
        col("review_score_avg"), col("first_review_creation_ts"), col("last_review_answer_ts"),
        // fracDays and > are already NULL when either timestamp is NULL
        fracDays(col("order_delivered_customer_ts"), col("order_purchase_ts"))
          .as("delivery_days_actual"),
        fracDays(col("order_estimated_delivery_ts"), col("order_purchase_ts"))
          .as("delivery_days_estimated"),
        fracDays(col("order_delivered_customer_ts"), col("order_estimated_delivery_ts"))
          .as("delivery_delay_days"),
        (col("order_delivered_customer_ts") > col("order_estimated_delivery_ts"))
          .as("delivered_late_flag"))
  }

  /** Orchestration (pipeline.py:13-18): steps run in order, fail-fast — an
    * exception aborts the run before any later step starts. Each output is
    * a DIRECT overwrite (`Tables.overwrite`), so a failed run can leave the
    * lake half-replaced: a failed raw load leaves some raw tables already
    * rewritten and nothing downstream written. Re-running from the source
    * CSVs repairs it, and a re-run is idempotent like the reference's
    * if_exists='replace'. */
  def runPipeline(spark: SparkSession, srcDir: String, lakeDir: String): Unit = {
    loadRaw(spark, srcDir, lakeDir)
    def read(t: String) = spark.read.parquet(s"$lakeDir/$t.parquet")
    val dim = buildDimLocations(read("customers"), read("sellers"), read("geolocation"))
    Tables.overwrite(dim, s"$lakeDir/dim_locations.parquet")
    val master = buildMaster(
      read("orders"), read("order_items"), read("order_payments"), read("order_reviews"),
      read("products"), read("product_category_name_translation"),
      read("customers"), read("sellers"),
      spark.read.parquet(s"$lakeDir/dim_locations.parquet"))
    Tables.overwrite(master, s"$lakeDir/master_table.parquet")
  }

  /** Serving publish — the reference's LAST mile (main.py:55-62 writes every
    * table to Postgres with batched multi-row INSERTs): push dim_locations
    * and master_table from the lake to a JDBC serving database via `Tables.jdbcSink` (10k batches,
    * overwrite = if_exists='replace'). Kept separate from `runPipeline` so
    * the lake build never blocks on a serving DB being reachable; re-runs
    * are idempotent on both layers. The sinks are independent, so they run
    * concurrently (`concurrently`), fail-fast like `loadRaw`. */
  def publishServing(spark: SparkSession, lakeDir: String, url: String): Unit =
    concurrently(spark, Seq("dim_locations", "master_table").map { t =>
      t -> (() => Tables.jdbcSink(spark.read.parquet(s"$lakeDir/$t.parquet"), url, t))
    })
}
