package e2ebench

import java.nio.file.{Files, Path}
import java.sql.DriverManager
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StringType, StructField, StructType}
import graft.SparkEntry
import graft.pipeline.OlistPipeline
import graft.sources.Tables

/** One unit of work in a pass: a pipeline stage or a registry query.
  * `build` constructs the DataFrame (graft's plan code; null for a stage
  * that is a single call) and `execute` materializes it. */
final case class Op(name: String, layer: String, group: String,
    build: () => DataFrame, execute: DataFrame => Unit)

/** An untimed correctness check; it throws when the check fails. */
final case class Check(name: String, run: () => Unit)

trait Workload {
  def name: String
  /** Generates or opens the inputs under `work` for a fresh session. */
  def setUp(spark: SparkSession, work: Path): Unit
  /** The ops of pass `p` (0 is the cold first pass), in execution order. */
  def pass(spark: SparkSession, p: Int): Seq[Op]
  /** Checks run once after the timed passes. */
  def checks(spark: SparkSession): Seq[Check]
  /** Exact counts this workload reports as per-layer metrics. */
  def counts(spark: SparkSession): Map[String, Double]
}

object Workload {
  def apply(name: String, fixtures: Path, seed: Long): Workload = name match {
    case "olist_etl_5k" => new OlistEtl(name, orders = 5000L, seed)
    case "bi_heavy_sf0.01" => new RegistryQueries(name, fixtures.resolve("sf0.01"), BiHeavy, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The registry's hot spots under materialized timing (the count()-hidden
    * hit list): the exact-percentile sketch query, winnowing, and the two
    * decimal aggregates. The flagship master table is timed on the pipeline
    * workload instead (its `master` stage). */
  val BiHeavy: Seq[String] = Seq("q19_events_sketches", "q39_winnowing",
    "q01_pricing_summary", "q53_exact_stats")

  /** The operator families those queries come from, as `SparkEntry.families` names them. */
  val BiHeavyFamilies: Seq[String] = BiHeavy.map(SparkEntry.families).distinct.sorted

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** Registry queries over fixed parquet fixtures. Each query is built with
  * `SparkEntry.queries(name)(spark, dir)` and materialized into the noop
  * sink, which evaluates every output column (a `count()` would let
  * Catalyst prune the plan to its keys). The seed permutes the query order
  * of the warm passes; the fixtures themselves never change. */
final class RegistryQueries(val name: String, dir: Path, queries: Seq[String], seed: Long)
    extends Workload {
  private val fns = SparkEntry.queries
  private val families = SparkEntry.families
  private var results: Path = _

  /** The cold first pass runs in registry order, so its one-off costs land
    * on the same queries in every run; the seed permutes every later pass. */
  def order(p: Int): Seq[String] =
    if (p == 0) queries else new Random(seed * 1000003L + p).shuffle(queries)

  def setUp(spark: SparkSession, work: Path): Unit = {
    results = work.resolve("results")
    Tables.all.foreach(t => Tables(spark, dir.toString, t).schema)
  }

  def pass(spark: SparkSession, p: Int): Seq[Op] = order(p).map { q =>
    Op(q, "operators", families(q), () => fns(q)(spark, dir.toString), Workload.noop)
  }

  /** Each query's result is written once as parquet; run.py hashes it
    * against the DuckDB oracle recorded for the same fixtures. */
  def checks(spark: SparkSession): Seq[Check] = queries.sorted.map { q =>
    Check(s"result $q", () =>
      fns(q)(spark, dir.toString).coalesce(1).write.mode("overwrite")
        .parquet(results.resolve(q).toString))
  }

  def counts(spark: SparkSession): Map[String, Double] = Map.empty
}

/** The paper's batch pipeline over generated Olist CSVs: raw load to a
  * parquet lake, dim_locations, master_table, then serving into in-memory
  * Derby. The only workload that writes. */
final class OlistEtl(val name: String, orders: Long, seed: Long) extends Workload {
  private var src: Path = _
  private var lake: Path = _
  private var url: String = _
  private var setUps = 0

  def setUp(spark: SparkSession, work: Path): Unit = {
    src = work.resolve("src")
    lake = work.resolve("lake")
    setUps += 1
    url = s"jdbc:derby:memory:serving$setUps;create=true"
    OlistInputs.generate(src, seed, orders)
  }

  private def read(spark: SparkSession, t: String) = spark.read.parquet(s"$lake/$t.parquet")

  def pass(spark: SparkSession, p: Int): Seq[Op] = Seq(
    Op("load_raw", "pipeline", "load_raw", () => null,
      _ => OlistPipeline.loadRaw(spark, src.toString, lake.toString)),
    Op("dim_locations", "pipeline", "dim_locations",
      () => OlistPipeline.buildDimLocations(
        read(spark, "customers"), read(spark, "sellers"), read(spark, "geolocation")),
      df => Tables.overwrite(df, s"$lake/dim_locations.parquet")),
    Op("master", "pipeline", "master",
      () => OlistPipeline.buildMaster(
        read(spark, "orders"), read(spark, "order_items"), read(spark, "order_payments"),
        read(spark, "order_reviews"), read(spark, "products"),
        read(spark, "product_category_name_translation"),
        read(spark, "customers"), read(spark, "sellers"), read(spark, "dim_locations")),
      df => Tables.overwrite(df, s"$lake/master_table.parquet")),
    Op("serve", "pipeline", "serve", () => null,
      _ => OlistPipeline.publishServing(spark, lake.toString, url)))

  private def derbyCount(table: String): Long = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
      rs.next(); rs.getLong(1)
    } finally c.close()
  }

  private def expect(what: String, got: Any, want: Any): Unit =
    if (got != want) throw new IllegalStateException(s"$what: got $got, want $want")

  def checks(spark: SparkSession): Seq[Check] = {
    def master = read(spark, "master_table")
    Seq(
      Check("master rows = order_items rows", () =>
        expect("master rows", master.count(), read(spark, "order_items").count())),
      Check("(order_id, order_item_id) unique", () =>
        expect("duplicate keys",
          master.groupBy("order_id", "order_item_id").count().filter(col("count") > 1).count(), 0L)),
      Check("location_id unique", () =>
        expect("duplicate location_id",
          read(spark, "dim_locations").groupBy("location_id").count()
            .filter(col("count") > 1).count(), 0L)),
      Check("serving rows = lake rows", () => Seq("dim_locations", "master_table").foreach { t =>
        expect(s"$t served rows", derbyCount(t), read(spark, t).count())
      }),
      Check("sum(item_price) source = master", () => {
        // The raw CSV text, summed as exact decimals, independent of the lake.
        val raw = spark.read.option("header", "true")
          .schema(StructType(OlistPipeline.schemas("order_items").fields.map(f =>
            StructField(f.name, StringType))))
          .csv(s"$src/olist_order_items_dataset.csv")
        val want = raw.agg(sum(col("price").cast(DecimalType(18, 2)))).head().getDecimal(0)
        val got = master.agg(sum(col("item_price"))).head().getDecimal(0)
        expect("sum(item_price)", got.compareTo(want), 0)
      }))
  }

  private def bytesUnder(dir: Path, keep: Path => Boolean): Double =
    if (!Files.exists(dir)) 0.0
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) && keep(p)).map(Files.size).sum.toDouble
      finally s.close()
    }

  def counts(spark: SparkSession): Map[String, Double] = {
    val raw = OlistPipeline.filesToLoad.values.toSeq.map(t => read(spark, t).count()).sum
    val dim = read(spark, "dim_locations").count()
    val master = read(spark, "master_table").count()
    Map(
      "pipeline.raw_rows" -> raw.toDouble,
      "pipeline.dim_rows" -> dim.toDouble,
      "pipeline.master_rows" -> master.toDouble,
      "pipeline.served_rows" -> (derbyCount("dim_locations") + derbyCount("master_table")).toDouble,
      "sources.csv_bytes" -> bytesUnder(src, _.toString.endsWith(".csv")),
      "sources.lake_bytes" -> bytesUnder(lake, _.toString.endsWith(".parquet")))
  }
}
