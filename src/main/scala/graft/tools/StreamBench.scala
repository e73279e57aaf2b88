package graft.tools

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.TextAnalysis
import graft.streaming.StreamDedup

/** Streaming throughput evidence (VERDICT r7 item 8): drive the two
  * streaming-surface representatives under an overdriven `rate` source and
  * record sustained throughput from `StreamingQueryProgress` —
  *
  *  1. `TextAnalysis.chunk` (stateless map-side explode): rate rows are
  *     expanded to 192-word synthetic documents, chunked with the SAME
  *     code path the batch oracle checks (q105), sunk to `noop`;
  *  2. `StreamDedup.dedupStream` (flatMapGroupsWithState, event-time TTL):
  *     rate rows map to Docs whose content_hash collides 4:1, so the
  *     stateful path exercises both keep and dup verdicts; state-store
  *     rows + memory are read from the progress stateOperators.
  *
  * Methodology: rowsPerSecond is set far above what a local[8] batch
  * interval can absorb, so Spark processes every micro-batch at full tilt
  * and `processedRowsPerSecond` IS the sustained capacity (input rate
  * backlogs, it never throttles processing). First batches are skipped
  * (codegen/JIT warmup).
  *
  * Usage: bash tools/run.sh graft.tools.StreamBench [seconds=30]
  */
object StreamBench {

  def main(args: Array[String]): Unit = {
    val runSecs = args.headOption.map(_.toInt).getOrElse(30)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.SparkPosture.session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // Per-run checkpoint root: reusing a fixed dir makes a second run
    // RESUME the rate source from stale committed offsets — the huge
    // catch-up batches then skew processedRowsPerSecond, so every run must
    // start from a fresh checkpoint.
    val ckptRoot = java.nio.file.Files
      .createTempDirectory("streambench_ckpt_").toString

    // --- 1. stateless chunker -------------------------------------------
    val docsStream = spark.readStream.format("rate")
      .option("rowsPerSecond", 100000).option("numPartitions", cpus.toInt)
      .load()
      .select(col("value").as("doc_id"),
        expr("array_join(transform(sequence(1, 192), " +
          "i -> concat('w', pmod(value * i, 1000))), ' ')").as("text"))
    val chunkQ = TextAnalysis.chunk(docsStream)
      .writeStream.format("noop")
      .trigger(Trigger.ProcessingTime("2 seconds"))
      .option("checkpointLocation", s"$ckptRoot/chunk_ckpt")
      .start()
    Thread.sleep(runSecs * 1000L)
    val chunkProg = chunkQ.recentProgress.drop(1)
      .filter(_.numInputRows > 0)
    chunkQ.stop()
    val chunkRps = chunkProg.map(_.processedRowsPerSecond)
    println(f"[stream-bench] chunk: batches=${chunkRps.length} " +
      f"sustained_docs_per_s=${median(chunkRps)}%.0f " +
      f"(4 chunks / 192 words out per doc in)")

    // --- 2. stateful dedup ----------------------------------------------
    val docDs = spark.readStream.format("rate")
      .option("rowsPerSecond", 500000).option("numPartitions", cpus.toInt)
      .load()
      .select(col("value").as("doc_id"), col("timestamp").as("ts"),
        md5(concat(lit("c"), (col("value") % 125000L).cast("string")))
          .as("content_hash"))
      .as[StreamDedup.Doc]
    val dedupQ = StreamDedup.dedupStream(docDs, ttlMinutes = 10)
      .writeStream.format("noop").outputMode("append")
      .trigger(Trigger.ProcessingTime("2 seconds"))
      .option("checkpointLocation", s"$ckptRoot/dedup_ckpt")
      .start()
    Thread.sleep(runSecs * 1000L)
    val dedupProg = dedupQ.recentProgress.drop(3)
      .filter(_.numInputRows > 0)
    dedupQ.stop()
    val dedupRps = dedupProg.map(_.processedRowsPerSecond)
    val lastState = dedupProg.lastOption.flatMap(_.stateOperators.headOption)
    println(f"[stream-bench] dedup: batches=${dedupRps.length} " +
      f"sustained_docs_per_s=${median(dedupRps)}%.0f " +
      s"state_rows=${lastState.map(_.numRowsTotal).getOrElse(-1L)} " +
      s"state_mem_bytes=${lastState.map(_.memoryUsedBytes).getOrElse(-1L)}")

    spark.stop()
  }

  private def median(xs: Array[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.length / 2)
}
