package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.OlistPipeline

/** Olist-shaped CSV corpus generator for the paper's pipeline
  * (`OlistPipeline`): the `olist_etl_5k` benchmark workload and
  * `OlistPipelineSpec` read what `generate` writes.
  *
  * The generator is fully deterministic (id-hash-derived columns, no
  * RNG) and distribution-shaped like the real Olist dump: ~1.1 items and
  * ~1.04 payments per order, 1 review per order, 1 customer row per order,
  * sellers ≈ orders/30, products ≈ orders/3, geolocation ≈ 10× orders
  * (the dim build's dedup dominates, as it does on the real data).
  */
object PipelineBench {

  private val cities = Seq("sao paulo", "rio de janeiro", "belo horizonte",
    "brasilia", "curitiba", "campinas", "porto alegre", "salvador",
    "guarulhos", "fortaleza", "niteroi", "santos")
  private val states = OlistPipeline.stateMapping.keys.toSeq.sorted
  private val categories = Seq("cama_mesa_banho", "beleza_saude",
    "esporte_lazer", "moveis_decoracao", "informatica_acessorios",
    "utilidades_domesticas", "relogios_presentes", "telefonia",
    "ferramentas_jardim", "automotivo", "brinquedos", "cool_stuff",
    "perfumaria", "bebes", "eletronicos", "papelaria", "fashion_bolsas_e_acessorios")

  private def hid(c: org.apache.spark.sql.Column, salt: String) =
    md5(concat(lit(salt), c.cast("string")))

  /** Deterministic "2017-ish" timestamp string from an order index: a
    * purchase instant spread over ~2 years, plus a per-stage lag. */
  private def ts(i: org.apache.spark.sql.Column, lagHours: org.apache.spark.sql.Column) =
    date_format(
      to_timestamp(lit("2017-01-01 00:00:00")) +
        make_interval(lit(0), lit(0), lit(0), lit(0), (i % 17000L) + lagHours),
      "yyyy-MM-dd HH:mm:ss")

  /** Write one CSV "file" (a header'd part directory — the reader globs). */
  private def csvOut(df: DataFrame, dir: String, name: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(s"$dir/$name")

  def generate(spark: SparkSession, dir: String, nOrders: Long): Unit = {
    val nSellers = math.max(100L, nOrders / 30)
    val nProducts = math.max(1000L, nOrders / 3)
    val nGeo = nOrders * 10
    def range(n: Long) = spark.range(n).select(col("id"))

    val statuses = array((Seq.fill(18)("delivered") ++
      Seq("shipped", "canceled")).map(lit): _*)
    csvOut(range(nOrders).select(
      hid(col("id"), "o").as("order_id"),
      hid(col("id"), "c").as("customer_id"),
      element_at(statuses, (col("id") % 20 + 1).cast("int")).as("order_status"),
      ts(col("id"), lit(0L)).as("order_purchase_timestamp"),
      ts(col("id"), lit(1L)).as("order_approved_at"),
      when(col("id") % 20 < 18, ts(col("id"), lit(48L))).as("order_delivered_carrier_date"),
      when(col("id") % 20 < 18, ts(col("id"), lit(96L) + col("id") % 300)).as("order_delivered_customer_date"),
      ts(col("id"), lit(240L)).as("order_estimated_delivery_date")),
      dir, "olist_orders_dataset.csv")

    // items: every order gets 1, every 10th a 2nd, every 100th a 3rd (~1.11/order)
    csvOut(range(nOrders).select(col("id"),
        explode(when(col("id") % 100 === 0, array(lit(1), lit(2), lit(3)))
          .when(col("id") % 10 === 0, array(lit(1), lit(2)))
          .otherwise(array(lit(1)))).as("item"))
      .select(
        hid(col("id"), "o").as("order_id"),
        col("item").as("order_item_id"),
        hid((col("id") * 7 + col("item")) % nProducts, "p").as("product_id"),
        hid((col("id") * 13 + col("item")) % nSellers, "s").as("seller_id"),
        ts(col("id"), lit(120L)).as("shipping_limit_date"),
        round(lit(20.0) + (col("id") % 400L) / lit(2.0) + col("item"), 2).as("price"),
        round(lit(8.0) + (col("id") % 40L) / lit(4.0), 2).as("freight_value")),
      dir, "olist_order_items_dataset.csv")

    val payTypes = array(Seq("credit_card", "credit_card", "credit_card",
      "boleto", "voucher", "debit_card").map(lit): _*)
    csvOut(range(nOrders).select(col("id"),
        explode(when(col("id") % 25 === 0, array(lit(1), lit(2)))
          .otherwise(array(lit(1)))).as("seq"))
      .select(
        hid(col("id"), "o").as("order_id"),
        col("seq").as("payment_sequential"),
        element_at(payTypes, ((col("id") + col("seq")) % 6 + 1).cast("int")).as("payment_type"),
        (col("id") % 10 + 1).cast("int").as("payment_installments"),
        round(lit(25.0) + (col("id") % 420L) / lit(2.0) + col("seq") * 3, 2).as("payment_value")),
      dir, "olist_order_payments_dataset.csv")

    csvOut(range(nOrders).filter(col("id") % 20 =!= 7).select(
      hid(col("id"), "r").as("review_id"),
      hid(col("id"), "o").as("order_id"),
      (col("id") % 5 + 1).cast("int").as("review_score"),
      ts(col("id"), lit(100L)).as("review_creation_date"),
      ts(col("id"), lit(130L)).as("review_answer_timestamp")),
      dir, "olist_order_reviews_dataset.csv")

    def zip(c: org.apache.spark.sql.Column) =
      lpad((c % 20000L).cast("string"), 5, "0")
    def city(c: org.apache.spark.sql.Column) =
      element_at(array(cities.map(lit): _*), (c % cities.length + 1).cast("int"))
    def state(c: org.apache.spark.sql.Column) =
      element_at(array(states.map(lit): _*), (c % states.length + 1).cast("int"))

    csvOut(range(nOrders).select(
      hid(col("id"), "c").as("customer_id"),
      hid(col("id") % (nOrders * 95 / 100 + 1), "cu").as("customer_unique_id"),
      zip(col("id") * 31).as("customer_zip_code_prefix"),
      city(col("id") * 31).as("customer_city"),
      state(col("id") * 31).as("customer_state")),
      dir, "olist_customers_dataset.csv")

    csvOut(range(nSellers).select(
      hid(col("id"), "s").as("seller_id"),
      zip(col("id") * 37).as("seller_zip_code_prefix"),
      city(col("id") * 37).as("seller_city"),
      state(col("id") * 37).as("seller_state")),
      dir, "olist_sellers_dataset.csv")

    csvOut(range(nGeo).select(
      zip(col("id")).as("geolocation_zip_code_prefix"),
      round(lit(-23.5) + (col("id") % 2000L) / lit(100.0), 6).as("geolocation_lat"),
      round(lit(-46.6) + (col("id") % 3000L) / lit(100.0), 6).as("geolocation_lng"),
      city(col("id")).as("geolocation_city"),
      state(col("id")).as("geolocation_state")),
      dir, "olist_geolocation_dataset.csv")

    csvOut(range(nProducts).select(
      hid(col("id"), "p").as("product_id"),
      element_at(array(categories.map(lit): _*),
        (col("id") % categories.length + 1).cast("int")).as("product_category_name"),
      (col("id") % 60 + 5).cast("int").as("product_name_lenght"),
      (col("id") % 900 + 50).cast("int").as("product_description_lenght"),
      (col("id") % 6 + 1).cast("int").as("product_photos_qty"),
      (col("id") % 9000 + 100).cast("int").as("product_weight_g"),
      (col("id") % 90 + 10).cast("int").as("product_length_cm"),
      (col("id") % 60 + 5).cast("int").as("product_height_cm"),
      (col("id") % 50 + 8).cast("int").as("product_width_cm")),
      dir, "olist_products_dataset.csv")

    csvOut(spark.createDataFrame(
      categories.map(c => (c, c.replace('_', ' '))))
      .toDF("product_category_name", "product_category_name_english"),
      dir, "product_category_name_translation.csv")
  }
}
