package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TempDirs.withTempDir
import graft.operators.Incremental
import graft.sources.Tables

class IncrementalSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def events = Tables(spark, TestSpark.sf0001, "events")
    .select(col("event_type"), col("value"), col("user_id"))

  test("delta-merged state equals the state computed from the full data") {
    val full = events
    // split the lake into three "arrival batches" by a row-local predicate
    val parts = Seq(
      full.filter(col("user_id") % 3 === 0),
      full.filter(col("user_id") % 3 === 1),
      full.filter(col("user_id") % 3 === 2))
    val fromFull = Incremental.readState(
      Incremental.aggState(full, "event_type", "value", "user_id"), "event_type")
    val incremental = Incremental.readState(
      Incremental.mergeStates(
        parts.map(Incremental.aggState(_, "event_type", "value", "user_id")),
        "event_type"), "event_type")
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0),
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
         r.getDouble(5), r.getLong(6)))).toMap
    assert(snap(incremental) == snap(fromFull))
  }

  test("hierarchical merge (merge of merges) equals flat merge") {
    val full = events
    val p = (0 until 4).map(i => full.filter(col("user_id") % 4 === i))
    val states = p.map(Incremental.aggState(_, "event_type", "value", "user_id"))
    val flat = Incremental.readState(
      Incremental.mergeStates(states, "event_type"), "event_type")
    val hier = Incremental.readState(
      Incremental.mergeStates(Seq(
        Incremental.mergeStates(states.take(2), "event_type"),
        Incremental.mergeStates(states.drop(2), "event_type")), "event_type"),
      "event_type")
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.toSeq.drop(1))).toMap
    assert(snap(hier) == snap(flat))
  }

  test("streaming foreachBatch refresh converges to the batch recompute, skipping replays") {
    withTempDir { dir =>
      val src = s"$dir/src"; val state = s"$dir/state"; val ckpt = s"$dir/ckpt"

      val full = events
      val b1 = full.filter(col("user_id") % 2 === 0)
      val b2 = full.filter(col("user_id") % 2 === 1)
      b1.coalesce(1).write.mode("append").parquet(src)

      def start() = Incremental.streamingRefresh(
        spark.readStream.schema(full.schema).parquet(src),
        "event_type", "value", "user_id", state, ckpt)
      val q1 = start(); try q1.processAllAvailable() finally q1.stop()
      b2.coalesce(1).write.mode("append").parquet(src)
      val q2 = start(); try q2.processAllAvailable() finally q2.stop()

      def snap(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(0), r.toSeq.drop(1))).toMap
      val got = snap(Incremental.readState(spark.read.parquet(state), "event_type"))
      val want = snap(Incremental.readState(
        Incremental.aggState(full, "event_type", "value", "user_id"), "event_type"))
      assert(got == want)

      // a replayed batch id must be a no-op (exactly-once via the marker)
      val before = snap(Incremental.readState(spark.read.parquet(state), "event_type"))
      val q3 = start(); try q3.processAllAvailable() finally q3.stop() // no new data
      assert(snap(Incremental.readState(spark.read.parquet(state), "event_type")) == before)

      // simulate a crash BETWEEN stagedSwap's two renames: live state stranded
      // at state+".old", state itself absent. The next batch must roll the
      // .old copy back instead of merging against empty state.
      val fs = new org.apache.hadoop.fs.Path(state)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.rename(new org.apache.hadoop.fs.Path(state),
        new org.apache.hadoop.fs.Path(state + ".old"))
      val b3 = full.limit(0) // empty delta: recovered state must equal `before`
      b3.coalesce(1).write.mode("append").parquet(src)
      val q4 = start(); try q4.processAllAvailable() finally q4.stop()
      assert(snap(Incremental.readState(spark.read.parquet(state), "event_type")) == before,
        "interrupted swap must recover the stranded .old state, not restart from empty")
    }
  }

  test("kill-and-resume: injected crashes at both refresh failpoints converge exactly-once") {
    withTempDir { dir =>
      // the armed crashpoint matches on this marker appearing in the state path
      val marker = "graft-mv-crash"
      val root = s"$dir/$marker"
      val src = s"$root/src"; val state = s"$root/state"; val ckpt = s"$root/ckpt"

      val full = events
      val b1 = full.filter(col("user_id") % 2 === 0)
      val b2 = full.filter(col("user_id") % 2 === 1)

      def start() = Incremental.streamingRefresh(
        spark.readStream.schema(full.schema).parquet(src),
        "event_type", "value", "user_id", state, ckpt)
      def snap() = spark.read.parquet(state).collect()
        .map(r => (r.getString(0), (r.getLong(1), r.getDecimal(2)))).toMap
      def runToFailure(): Unit = {
        val q = start()
        // the injected throw escapes foreachBatch and kills the query;
        // processAllAvailable surfaces it as the terminal exception
        try intercept[Exception] { q.processAllAvailable() } finally q.stop()
        assert(q.exception.isDefined, "armed crashpoint must terminate the query")
        assert(Incremental.crashpoint.get().isEmpty, "crashpoint is one-shot")
      }

      // crash 1: AFTER the staged state + batch marker are written, BEFORE the
      // swap publishes them — replay must re-merge against the OLD state
      b1.coalesce(1).write.mode("append").parquet(src)
      Incremental.crashpoint.set(Some((marker, "afterMarker")))
      runToFailure()
      val q1 = start(); try q1.processAllAvailable() finally q1.stop()
      val afterB1 = snap()
      val wantB1 = Incremental.aggState(b1, "event_type", "value", "user_id")
        .collect().map(r => (r.getString(0), (r.getLong(1), r.getDecimal(2)))).toMap
      assert(afterB1 == wantB1, "afterMarker crash on the first batch must not lose or double it")

      // crash 2: AFTER the swap commits, BEFORE the checkpoint offset does —
      // the classic replay window; the marker makes the replayed merge a no-op
      b2.coalesce(1).write.mode("append").parquet(src)
      Incremental.crashpoint.set(Some((marker, "afterCommit")))
      runToFailure()
      val q2 = start(); try q2.processAllAvailable() finally q2.stop()
      val got = snap()
      val want = Incremental.aggState(full, "event_type", "value", "user_id")
        .collect().map(r => (r.getString(0), (r.getLong(1), r.getDecimal(2)))).toMap
      assert(got == want, "afterCommit crash + replay must merge each batch exactly once")
    }
  }

  test("approx_distinct from merged sketches tracks the exact distinct count") {
    val state = Incremental.mergeStates(
      (0 until 3).map(i => Incremental.aggState(
        events.filter(col("user_id") % 3 === i), "event_type", "value", "user_id")),
      "event_type")
    val got = Incremental.readState(state, "event_type")
      .select(col("event_type"), col("approx_distinct")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = events.groupBy("event_type")
      .agg(countDistinct("user_id").as("d")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, ex) =>
      assert(math.abs(got(k) - ex).toDouble <= math.max(2.0, ex * 0.05),
        s"$k: approx ${got(k)} vs exact $ex")
    }
  }
}
