package e2ebench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.{HexFormat, Locale}
import graft.pipeline.OlistPipeline

/** The nine Olist CSVs, one file each as in the public dump, generated from
  * a seed by plain JVM code (the engine under test does not make its own
  * inputs).
  *
  * Shaped like `graft.tools.PipelineBench.generate`: about 1.1 items and
  * 1.04 payments per order, one review for 19 of 20 orders, one customer row
  * per order, sellers ≈ orders/30, products ≈ orders/3 and geolocation ≈
  * 10 × orders. The seed salts every generated id and leaves every row count
  * and every other column alone, so two seeds give the same amount of work
  * over different keys. The files are a pure function of (seed, orders).
  */
object OlistInputs {
  private val cities = Seq("sao paulo", "rio de janeiro", "belo horizonte",
    "brasilia", "curitiba", "campinas", "porto alegre", "salvador",
    "guarulhos", "fortaleza", "niteroi", "santos")
  private val states = OlistPipeline.stateMapping.keys.toSeq.sorted
  private val categories = Seq("cama_mesa_banho", "beleza_saude",
    "esporte_lazer", "moveis_decoracao", "informatica_acessorios",
    "utilidades_domesticas", "relogios_presentes", "telefonia",
    "ferramentas_jardim", "automotivo", "brinquedos", "cool_stuff",
    "perfumaria", "bebes", "eletronicos", "papelaria", "fashion_bolsas_e_acessorios")
  private val statuses = Seq.fill(18)("delivered") ++ Seq("shipped", "canceled")
  private val payTypes = Seq("credit_card", "credit_card", "credit_card", "boleto", "voucher",
    "debit_card")

  final case class Sizes(orders: Long) {
    val sellers: Long = math.max(100L, orders / 30)
    val products: Long = math.max(1000L, orders / 3)
    val geolocation: Long = orders * 10
    /** order_items rows: one per order, a 2nd every 10th, a 3rd every 100th. */
    val items: Long = orders + (orders + 9) / 10 + (orders + 99) / 100
  }

  private val epoch = LocalDateTime.of(2017, 1, 1, 0, 0)
  private val tsFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss", Locale.ROOT)
  /** A purchase instant spread over ~2 years, plus a per-stage lag. */
  private def ts(i: Long, lagHours: Long): String =
    epoch.plusHours(i % 17000L + lagHours).format(tsFormat)
  private def money(d: Double): String = String.format(Locale.ROOT, "%.2f", d)
  private def coord(d: Double): String = String.format(Locale.ROOT, "%.6f", d)
  private def zip(c: Long): String = f"${c % 20000L}%05d"
  private def city(c: Long): String = cities((c % cities.length).toInt)
  private def state(c: Long): String = states((c % states.length).toInt)

  private def csv(dir: Path, name: String, header: String)(rows: (Seq[String] => Unit) => Unit): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(
      Files.newOutputStream(dir.resolve(name)), StandardCharsets.UTF_8), 1 << 16)
    try {
      w.write(header); w.write('\n')
      rows { fields => w.write(fields.mkString(",")); w.write('\n') }
    } finally w.close()
  }

  def generate(dir: Path, seed: Long, orders: Long): Unit = {
    val n = Sizes(orders)
    val md5 = MessageDigest.getInstance("MD5")
    val hex = HexFormat.of()
    def hid(i: Long, tag: String): String =
      hex.formatHex(md5.digest(s"$seed/$tag/$i".getBytes(StandardCharsets.UTF_8)))
    Files.createDirectories(dir)

    csv(dir, "olist_orders_dataset.csv", "order_id,customer_id,order_status," +
        "order_purchase_timestamp,order_approved_at,order_delivered_carrier_date," +
        "order_delivered_customer_date,order_estimated_delivery_date") { row =>
      for (i <- 0L until orders) {
        val delivered = i % 20 < 18
        row(Seq(hid(i, "o"), hid(i, "c"), statuses((i % 20).toInt), ts(i, 0), ts(i, 1),
          if (delivered) ts(i, 48) else "", if (delivered) ts(i, 96 + i % 300) else "",
          ts(i, 240)))
      }
    }
    csv(dir, "olist_order_items_dataset.csv", "order_id,order_item_id,product_id,seller_id," +
        "shipping_limit_date,price,freight_value") { row =>
      for (i <- 0L until orders) {
        val k = if (i % 100 == 0) 3 else if (i % 10 == 0) 2 else 1
        for (item <- 1 to k)
          row(Seq(hid(i, "o"), item.toString, hid((i * 7 + item) % n.products, "p"),
            hid((i * 13 + item) % n.sellers, "s"), ts(i, 120),
            money(20.0 + (i % 400) / 2.0 + item), money(8.0 + (i % 40) / 4.0)))
      }
    }
    csv(dir, "olist_order_payments_dataset.csv", "order_id,payment_sequential,payment_type," +
        "payment_installments,payment_value") { row =>
      for (i <- 0L until orders; seq <- 1 to (if (i % 25 == 0) 2 else 1))
        row(Seq(hid(i, "o"), seq.toString, payTypes(((i + seq) % 6).toInt), (i % 10 + 1).toString,
          money(25.0 + (i % 420) / 2.0 + seq * 3)))
    }
    csv(dir, "olist_order_reviews_dataset.csv", "review_id,order_id,review_score," +
        "review_creation_date,review_answer_timestamp") { row =>
      for (i <- 0L until orders if i % 20 != 7)
        row(Seq(hid(i, "r"), hid(i, "o"), (i % 5 + 1).toString, ts(i, 100), ts(i, 130)))
    }
    csv(dir, "olist_customers_dataset.csv", "customer_id,customer_unique_id," +
        "customer_zip_code_prefix,customer_city,customer_state") { row =>
      for (i <- 0L until orders)
        row(Seq(hid(i, "c"), hid(i % (orders * 95 / 100 + 1), "cu"), zip(i * 31), city(i * 31),
          state(i * 31)))
    }
    csv(dir, "olist_sellers_dataset.csv",
        "seller_id,seller_zip_code_prefix,seller_city,seller_state") { row =>
      for (i <- 0L until n.sellers)
        row(Seq(hid(i, "s"), zip(i * 37), city(i * 37), state(i * 37)))
    }
    csv(dir, "olist_geolocation_dataset.csv", "geolocation_zip_code_prefix,geolocation_lat," +
        "geolocation_lng,geolocation_city,geolocation_state") { row =>
      for (i <- 0L until n.geolocation)
        row(Seq(zip(i), coord(-23.5 + (i % 2000) / 100.0), coord(-46.6 + (i % 3000) / 100.0),
          city(i), state(i)))
    }
    csv(dir, "olist_products_dataset.csv", "product_id,product_category_name," +
        "product_name_lenght,product_description_lenght,product_photos_qty,product_weight_g," +
        "product_length_cm,product_height_cm,product_width_cm") { row =>
      for (i <- 0L until n.products)
        row(Seq(hid(i, "p"), categories((i % categories.length).toInt), (i % 60 + 5).toString,
          (i % 900 + 50).toString, (i % 6 + 1).toString, (i % 9000 + 100).toString,
          (i % 90 + 10).toString, (i % 60 + 5).toString, (i % 50 + 8).toString))
    }
    csv(dir, "product_category_name_translation.csv",
        "product_category_name,product_category_name_english") { row =>
      categories.foreach(c => row(Seq(c, c.replace('_', ' '))))
    }
  }
}
