package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TempDirs.withTempDir
import graft.streaming.Sessionize

/** Stateful streaming: custom flatMapGroupsWithState sessionization and
  * watermarked stream dedup, driven through real readStream file sources
  * with incremental batches (the watermark only advances between batches).
  */
class StreamingStateSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def eventsDf(rows: Seq[(Long, String, Long, String, Double, String)]) =
    rows.toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .select(col("event_id"), col("ts_s").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))

  test("flatMapGroupsWithState sessionization emits on gap and on watermark timeout") {
    withTempDir { tmp =>
      val dir = tmp.toString
      // batch 1: user 10 has two sessions (gap > 30min); second session still open
      eventsDf(Seq(
        (1L, "2024-01-01 00:00:00", 10L, "click", 1.0, "{}"),
        (2L, "2024-01-01 00:10:00", 10L, "click", 2.0, "{}"),
        (3L, "2024-01-01 01:00:00", 10L, "view", 4.0, "{}")))
        .coalesce(1).write.mode("append").parquet(dir)

      val q = Sessionize.streamingSessions(spark, dir, gapMinutes = 30)
        .writeStream.format("memory").queryName("sessions_test")
        .outputMode("append").start()
      try {
        q.processAllAvailable()

        // batch 2: far-future event advances the watermark → open session times out
        eventsDf(Seq((4L, "2024-01-01 09:00:00", 99L, "click", 0.5, "{}")))
          .coalesce(1).write.mode("append").parquet(dir)
        q.processAllAvailable()
      } finally q.stop()

      val got = spark.table("sessions_test")
        .filter($"user_id" === 10)
        .orderBy("session_start")
        .collect()
        .map(r => (r.getTimestamp(1).toString, r.getLong(3), r.getDouble(4)))
      assert(got.toSeq == Seq(
        ("2024-01-01 00:00:00.0", 2L, 3.0),   // closed by the 01:00 gap
        ("2024-01-01 01:00:00.0", 1L, 4.0)))  // closed by watermark timeout
    }
  }

  test("watermarked stream-stream join pairs purchases within 30min of a click") {
    withTempDir { tmp =>
      val dir = tmp.toString
      eventsDf(Seq(
        (1L, "2024-01-01 00:00:00", 10L, "click", 1.0, "{}"),
        (2L, "2024-01-01 00:10:00", 10L, "purchase", 9.0, "{}"),   // within 30m of click 1
        (3L, "2024-01-01 02:00:00", 10L, "purchase", 5.0, "{}"),   // too late for click 1
        (4L, "2024-01-01 00:05:00", 11L, "purchase", 2.0, "{}")))  // other user, no click
        .coalesce(1).write.mode("append").parquet(dir)

      val q = graft.streaming.Events.streamingConversions(spark, dir)
        .writeStream.format("memory").queryName("ssj_test")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()

      val pairs = spark.table("ssj_test").select("click_id", "purchase_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((1L, 2L)))

      // streaming output == the batch q93 join over the same files (the ONE
      // conversionJoin definition runs in both modes)
      val ev = spark.read.schema(graft.sources.Tables.schemas("events")).parquet(dir)
      val batch = graft.streaming.Events.conversionJoin(
        ev.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("event_id").as("c_id")),
        ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("event_id").as("p_id")))
        .select("click_id", "purchase_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == batch)
    }
  }

  test("left-outer stream join emits unmatched clicks only after the watermark closes them") {
    withTempDir { tmp =>
      val dir = tmp.toString
      eventsDf(Seq(
        (1L, "2024-01-01 00:00:00", 10L, "click", 1.0, "{}"),
        (2L, "2024-01-01 00:10:00", 10L, "purchase", 9.0, "{}"),  // converts click 1
        (3L, "2024-01-01 00:05:00", 11L, "click", 2.0, "{}")))    // never converts
        .coalesce(1).write.mode("append").parquet(dir)

      val q = graft.streaming.Events.streamingConversions(spark, dir, "left_outer")
        .writeStream.format("memory").queryName("ssj_outer_test")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        // watermark hasn't passed click 3's join window: no null row may exist yet
        val early = spark.table("ssj_outer_test").select("click_id").as[Long].collect().toSet
        assert(!early.contains(3L))

        // Far-future CLICK and PURCHASE rows advance both sides' watermarks
        // (a view row would be filtered out before the watermark operator and
        // advance nothing); different users so they join nothing. The new
        // watermark takes effect in the NEXT batch, so a third write triggers
        // the state-eviction batch that emits the null row.
        eventsDf(Seq(
          (9L, "2024-01-01 12:00:00", 98L, "click", 0.0, "{}"),
          (10L, "2024-01-01 12:00:00", 99L, "purchase", 0.0, "{}")))
          .coalesce(1).write.mode("append").parquet(dir)
        q.processAllAvailable()
        eventsDf(Seq((11L, "2024-01-01 12:01:00", 97L, "click", 0.0, "{}")))
          .coalesce(1).write.mode("append").parquet(dir)
        q.processAllAvailable()
      } finally q.stop()

      val rows = spark.table("ssj_outer_test")
        .select(col("click_id"), col("purchase_id"))
        .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
      assert(rows == Set((1L, 2L), (3L, -1L))) // unmatched click emitted with NULLs
    }
  }

  test("watermark-bounded state: conversion-join state stays far below the stream") {
    withTempDir { work =>
      import java.nio.file.StandardCopyOption
      import java.nio.file.attribute.FileTime
      import scala.jdk.CollectionConverters._
      import org.apache.spark.sql.streaming.Trigger
      // The corpus as ts-ordered chunk files with increasing mtimes (the file
      // source admits its backlog in mtime order), replayed one file per
      // micro-batch: the watermark advances the way it would in production,
      // so the interval join evicts rows older than watermark − 30 min and
      // state holds the trailing window, not the stream.
      val chunks = 16
      val feed = Files.createDirectory(work.resolve("feed"))
      val ev = graft.sources.Tables(spark, TestSpark.sf0001, "events")
      val rowsIn = ev.count()
      ev.repartitionByRange(chunks, col("ts")).sortWithinPartitions(col("ts"))
        .write.parquet(work.resolve("staging").toString)
      val listing = Files.list(work.resolve("staging"))
      val parts = try listing.iterator().asScala
          .filter(_.getFileName.toString.startsWith("part-")).toList
          .sortBy(_.getFileName.toString)
        finally listing.close()
      parts.zipWithIndex.foreach { case (p, i) =>
        val dst = Files.move(p, feed.resolve(f"chunk_$i%05d.parquet"),
          StandardCopyOption.ATOMIC_MOVE)
        Files.setLastModifiedTime(dst, FileTime.fromMillis(1000000000000L + i * 60000L))
      }

      val q = graft.streaming.Events.streamingConversions(spark, feed.toString,
          readerOptions = Map("maxFilesPerTrigger" -> "1"))
        .writeStream.format("noop").outputMode("append")
        .option("checkpointLocation", work.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val progress = q.recentProgress.filter(_.numInputRows > 0)
      assert(progress.length >= parts.length, "one micro-batch per chunk file")

      val watermarks = progress.flatMap(p => Option(p.eventTime.get("watermark"))).distinct
      assert(watermarks.length > 1, s"watermark never advanced: ${watermarks.mkString(", ")}")
      val peak = progress.map(_.stateOperators.map(_.numRowsTotal).sum).max
      assert(peak <= 0.25 * rowsIn,
        s"peak join state $peak rows is not O(watermark window) against $rowsIn rows in")
    }
  }

  test("checkpointed parquet sink recovers exactly-once across query restarts") {
    withTempDir { dir =>
      val src = s"$dir/src"; val sink = s"$dir/sink"; val ckpt = s"$dir/ckpt"

      def start() = spark.readStream
        .schema(graft.sources.Tables.schemas("events"))
        .parquet(src)
        .select(col("event_id"), col("event_type"), col("value"))
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append").start()

      eventsDf(Seq(
        (1L, "2024-01-01 00:00:00", 10L, "click", 1.0, "{}"),
        (2L, "2024-01-01 00:05:00", 11L, "view", 2.0, "{}")))
        .coalesce(1).write.mode("append").parquet(src)
      val q1 = start(); try q1.processAllAvailable() finally q1.stop()

      // restart from the checkpoint; only the new file may be emitted
      eventsDf(Seq((3L, "2024-01-01 00:10:00", 12L, "click", 3.0, "{}")))
        .coalesce(1).write.mode("append").parquet(src)
      val q2 = start(); try q2.processAllAvailable() finally q2.stop()

      val ids = spark.read.parquet(sink).select("event_id").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L)) // no replays, nothing lost
    }
  }

  test("stream dedup emits keep/drop verdicts with keeper ids, and expires state") {
    withTempDir { tmp =>
      import graft.streaming.StreamDedup
      val dir = tmp.toString
      def docsDf(rows: Seq[(Long, String, String)]) =
        rows.toDF("doc_id", "ts_s", "content_hash")
          .select(col("doc_id"), col("ts_s").cast("timestamp").as("ts"), col("content_hash"))

      // batch 1: two distinct contents, one in-batch duplicate
      docsDf(Seq(
        (1L, "2024-01-01 00:00:00", "aaa"),
        (2L, "2024-01-01 00:01:00", "bbb"),
        (3L, "2024-01-01 00:02:00", "aaa")))
        .coalesce(1).write.mode("append").parquet(dir)

      val stream = spark.readStream
        .schema(docsDf(Seq((0L, "2024-01-01 00:00:00", "x")).toSeq).schema)
        .parquet(dir)
        .as[StreamDedup.Doc]
        .transform(StreamDedup.dedupStream(_, ttlMinutes = 30))
      val q = stream.writeStream.format("memory").queryName("sdedup_test")
        .outputMode("append").start()
      try {
        q.processAllAvailable()

        // batch 2: cross-batch duplicate (state hit) + a fresh content
        docsDf(Seq(
          (4L, "2024-01-01 00:05:00", "aaa"),
          (5L, "2024-01-01 00:06:00", "ccc")))
          .coalesce(1).write.mode("append").parquet(dir)
        q.processAllAvailable()

        // batch 3: far-future doc advances the watermark past every TTL, so the
        // earlier hashes expire — a NEW "aaa" after expiry is a keeper again
        docsDf(Seq((6L, "2024-01-01 09:00:00", "zzz")))
          .coalesce(1).write.mode("append").parquet(dir)
        q.processAllAvailable()
        docsDf(Seq((7L, "2024-01-01 09:01:00", "aaa")))
          .coalesce(1).write.mode("append").parquet(dir)
        q.processAllAvailable()
      } finally q.stop()

      val got = spark.table("sdedup_test")
        .collect().map(r => r.getLong(0) ->
          (r.getBoolean(2), Option(r.get(3)).map(_.asInstanceOf[Long]))).toMap
      assert(got(1L) == (true, None))
      assert(got(2L) == (true, None))
      assert(got(3L) == (false, Some(1L)))   // in-batch duplicate of 1
      assert(got(4L) == (false, Some(1L)))   // cross-batch duplicate of 1
      assert(got(5L) == (true, None))
      assert(got(7L) == (true, None), "expired state must not mark 7 as dup")
    }
  }

  test("streamingVerdicts reads the documents table by convention and emits one verdict per doc") {
    import graft.streaming.StreamDedup
    // resolves $dir/documents.parquet like every other (spark, dir) entry
    // point — the full testdata dir must NOT stream other tables' files
    val q = StreamDedup.streamingVerdicts(spark, TestSpark.sf0001)
      .writeStream.format("memory").queryName("sverdicts_test")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()

    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val nDocs = docs.count()
    val nDistinct = docs.select(md5(col("text"))).distinct().count()
    val verdicts = spark.table("sverdicts_test")
    assert(verdicts.count() == nDocs)                      // one verdict per doc
    assert(verdicts.filter(col("keep")).count() == nDistinct)
    // no null-text garbage rows from foreign tables
    assert(verdicts.filter(col("content_hash").isNull).count() == 0)
  }

  test("streaming heavy hitters maintain the Misra-Gries summary per window across batches") {
    withTempDir { tmp =>
      val dir = tmp.toString
      // 3 distinct terms < k=4 → the summary is EXACT and order-independent,
      // so the stream (state-store merges across batches) must equal batch
      eventsDf(Seq(
        (1L, "2024-01-01 00:05:00", 1L, "click", 1.0, "{}"),
        (2L, "2024-01-01 00:15:00", 2L, "click", 1.0, "{}"),
        (3L, "2024-01-01 00:25:00", 3L, "view", 1.0, "{}")))
        .coalesce(1).write.mode("append").parquet(dir)
      val q = graft.streaming.Events.streamingHeavyHitters(spark, dir, k = 4)
        .writeStream.format("memory").queryName("shh_test")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        // second batch lands in the SAME window (exercises the state merge),
        // third event far in the future closes it via the watermark
        eventsDf(Seq(
          (4L, "2024-01-01 00:35:00", 4L, "view", 1.0, "{}"),
          (5L, "2024-01-01 00:45:00", 5L, "purchase", 1.0, "{}"),
          (6L, "2024-01-01 00:55:00", 6L, "click", 1.0, "{}"),
          (7L, "2024-01-02 12:00:00", 9L, "click", 1.0, "{}")))
          .coalesce(1).write.mode("append").parquet(dir)
        q.processAllAvailable()
      } finally q.stop()
      val batch = spark.read.parquet(dir)
        .filter(col("ts") < lit("2024-01-01 01:00:00").cast("timestamp"))
        .agg(graft.expressions.HeavyHitters.of(col("event_type"), 4).as("top_terms"))
        .select(col("top_terms")).collect()(0).getSeq[Any](0)
      val streamed = spark.table("shh_test")
        .filter(col("window_start") === lit("2024-01-01 00:00:00").cast("timestamp"))
        .select(col("top_terms")).collect()
      assert(streamed.length == 1)
      assert(streamed(0).getSeq[Any](0) == batch)
      // exact regime: click=3, view=2, purchase=1, ordered (est desc, term asc)
      val terms = spark.table("shh_test")
        .filter(col("window_start") === lit("2024-01-01 00:00:00").cast("timestamp"))
        .select(explode(col("top_terms")).as("t"))
        .select(col("t.term"), col("t.est")).as[(String, Long)].collect().toSeq
      assert(terms == Seq(("click", 3L), ("view", 2L), ("purchase", 1L)))
    }
  }

  test("dropDuplicatesWithinWatermark dedupes replays across batches") {
    withTempDir { tmp =>
      val dir = tmp.toString
      eventsDf(Seq(
        (1L, "2024-01-01 00:00:00", 10L, "click", 1.0, "{}"),
        (2L, "2024-01-01 00:05:00", 11L, "view", 2.0, "{}")))
        .coalesce(1).write.mode("append").parquet(dir)

      val stream = spark.readStream
        .schema(graft.sources.Tables.schemas("events"))
        .parquet(dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
      val q = stream.writeStream.format("memory").queryName("dedup_test")
        .outputMode("append").start()
      try {
        q.processAllAvailable()

        // batch 2 replays event 1 (within watermark) and adds a new event
        eventsDf(Seq(
          (1L, "2024-01-01 00:00:00", 10L, "click", 1.0, "{}"),
          (3L, "2024-01-01 00:20:00", 12L, "click", 3.0, "{}")))
          .coalesce(1).write.mode("append").parquet(dir)
        q.processAllAvailable()
      } finally q.stop()

      val ids = spark.table("dedup_test").select("event_id").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L)) // replayed id 1 emitted once
    }
  }

  test("context-window chunking runs the same code path under readStream (batch parity)") {
    import graft.operators.TextAnalysis
    import graft.sources.Tables
    // stateless per-row operator → append mode, no watermark, no state store
    val stream = spark.readStream
      .schema(Tables.schemas("documents"))
      .option("pathGlobFilter", "documents.parquet")
      .parquet(TestSpark.sf0001)
    val q = TextAnalysis.chunk(stream)
      .writeStream.format("memory").queryName("chunk_stream_test")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("chunk_stream_test")
      .select("doc_id", "chunk_id", "n_tokens", "chunk_text")
      .collect().map(_.toSeq).sortBy(_.toString)
    val batch = TextAnalysis.q105Chunking.run(spark, TestSpark.sf0001)
      .select("doc_id", "chunk_id", "n_tokens", "chunk_text")
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(streamed.length == batch.length)
    assert(streamed.toSeq == batch.toSeq)
  }
}
