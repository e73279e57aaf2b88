package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TempDirs.withTempDir
import graft.streaming.Events

/** Session-window semantics + the true Structured Streaming path. */
class EventsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("session_window splits on gaps >= 30min and merges within") {
    val df = Seq(
      (1L, "2024-01-01 00:00:00", 1.0),
      (1L, "2024-01-01 00:29:59", 2.0),  // same session (gap < 30m)
      (1L, "2024-01-01 01:10:00", 3.0),  // new session (gap > 30m)
      (2L, "2024-01-01 00:00:00", 4.0))
      .toDF("user_id", "ts_s", "value")
      .withColumn("ts", col("ts_s").cast("timestamp"))
    val out = df.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"), sum("value").as("v"))
      .select(col("user_id"), col("n"), col("v"))
      .orderBy("user_id", "v")
      .as[(Long, Long, Double)].collect()
    assert(out.toSeq == Seq((1L, 2L, 3.0), (1L, 1L, 3.0), (2L, 1L, 4.0))
      || out.toSeq == Seq((1L, 1L, 3.0), (1L, 2L, 3.0), (2L, 1L, 4.0)))
  }

  test("HLL union estimates stay within 5% of exact distinct counts") {
    // raw estimates (the query itself now emits the bound as a checked flag)
    val ev = graft.sources.Tables(spark, TestSpark.sf0001, "events")
    val raw = ev.groupBy(col("event_type")).agg(
        hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("hll"),
        countDistinct(col("user_id")).cast("double").as("exact"))
      .as[(String, Double, Double)].collect()
    assert(raw.nonEmpty)
    raw.foreach { case (t, hll, exact) =>
      assert(math.abs(hll - exact) / exact <= 0.05, s"$t: exact=$exact hll=$hll")
    }
    val rows = graft.streaming.Events.q49HllUnion.run(spark, TestSpark.sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    assert(rows.exists(_._1 == "__all__"))
    rows.foreach { case (t, _, ok) => assert(ok, s"$t: hll bound violated") }
  }

  /** q19 as one aggregate (the formulation the two-branch query replaced):
    * the reference its output must equal, flags included. */
  private def q19SingleAggregate(ev: DataFrame): DataFrame = ev
    .groupBy(col("event_type"))
    .agg(
      countDistinct(col("user_id")).as("exact_users"),
      count(lit(1)).as("event_count"),
      approx_count_distinct(col("user_id"), 0.01).as("approx_users"),
      percentile_approx(col("value"), lit(0.5), lit(10000)).as("approx_median"),
      expr("percentile(value, 0.5)").as("exact_median"))
    .select(col("event_type"), col("exact_users"), col("event_count"),
      (abs(col("approx_users") - col("exact_users")).cast("double") <=
        col("exact_users") * 0.05).as("approx_users_ok"),
      (abs(col("approx_median") - col("exact_median")) <=
        abs(col("exact_median")) * 0.02 + 1e-9).as("approx_median_ok"))

  test("q19 two-branch plan equals the single-aggregate form on NULL/NaN/duplicate edge cases") {
    val ev = Seq[(Option[String], Option[Long], Option[Double])](
      (Some("click"), Some(1L), Some(1.0)),
      (Some("click"), Some(1L), Some(1.0)),            // duplicate row
      (Some("click"), Some(2L), Some(5.0)),
      (Some("click"), None, Some(2.0)),                // NULL user
      (Some("zero"), Some(3L), Some(0.0)),
      (Some("zero"), Some(4L), Some(-0.0)),
      (Some("zero"), Some(4L), Some(-0.0)),
      (Some("nan"), Some(5L), Some(Double.NaN)),
      (Some("nan"), Some(6L), Some(7.0)),
      (Some("nan"), Some(6L), Some(Double.NaN)),
      (Some("ghost"), None, Some(3.0)),                // every user NULL
      (Some("ghost"), None, Some(4.0)),
      (Some("novalue"), Some(7L), None),               // every value NULL
      (None, Some(8L), Some(1.5)),                     // NULL event_type
      (None, Some(8L), Some(2.5)),
      (None, None, Some(3.5)))
      .toDF("event_type", "user_id", "value")
    val got = Events.sketches(ev).collect()
    val want = q19SingleAggregate(ev).collect()
    assert(got.map(_.toSeq).toSet == want.map(_.toSeq).toSet)
    assert(got.length == 6 && got.count(_.isNullAt(0)) == 1)
    val byType = got.map(r => Option(r.getString(0)) -> r).toMap
    assert(byType(Some("ghost")).getLong(1) == 0L && byType(Some("ghost")).getBoolean(3))
    assert(byType(None).getLong(1) == 1L && byType(None).getLong(2) == 3L)
    assert(byType(Some("click")).getLong(1) == 2L && byType(Some("click")).getLong(2) == 4L)
  }

  test("q19 raw DataSketches HLL estimates stay within 5% of exact distinct users") {
    for (dir <- Seq(TestSpark.sf0001, TestSpark.sf001)) {
      val raw = Events.sketchEstimates(graft.sources.Tables(spark, dir, "events"))
        .select(col("event_type"), col("exact_users"), col("approx_users"))
        .as[(String, Long, Long)].collect()
      assert(raw.nonEmpty)
      raw.foreach { case (t, exact, approx) =>
        assert(exact > 0 && math.abs(approx - exact).toDouble / exact <= 0.05,
          s"$dir $t: exact=$exact approx=$approx")
      }
    }
  }

  test("stratified sample respects per-stratum fractions") {
    val totals = graft.sources.Tables(spark, TestSpark.sf0001, "events")
      .groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sampled = graft.streaming.Events.q50StratifiedSample.run(spark, TestSpark.sf0001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sampled("purchase") == totals("purchase")) // fraction 1.0 = exact
    val clickRatio = sampled("click").toDouble / totals("click")
    assert(clickRatio > 0.3 && clickRatio < 0.7, s"click ratio $clickRatio vs 0.5")
    assert(!sampled.contains("signup") || sampled.get("signup").isEmpty ||
      sampled("signup") == 0L) // unlisted strata are dropped by the sampler
  }

  test("streaming tumbling agg (readStream + watermark) matches batch result") {
    withTempDir { tmp =>
      val dir = tmp.resolve("events").toFile
      val data = Seq(
        (1L, "2024-01-01 00:01:00", 10L, "click", 1.5, """{"k":1}"""),
        (2L, "2024-01-01 00:04:00", 11L, "click", 2.5, """{"k":2}"""),
        (3L, "2024-01-01 00:12:00", 10L, "view", 4.0, """{"k":3}"""))
        .toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
        .select(col("event_id"), col("ts_s").cast("timestamp").as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
      data.write.mode("overwrite").parquet(dir.getAbsolutePath)

      val q = Events.streamingTumbling(spark, dir.getAbsolutePath)
        .writeStream.format("memory").queryName("tumbling_test")
        .outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()

      val got = spark.table("tumbling_test")
        .select("bucket_start", "event_type", "event_count", "value_sum")
        .orderBy("bucket_start", "event_type")
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
      assert(got.toSeq == Seq(
        ("2024-01-01 00:00:00.0", "click", 2L, 4.0),
        ("2024-01-01 00:10:00.0", "view", 1L, 4.0)))
    }
  }
}
