package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.Ranks

/** Driver-memory ceiling probe for Ranks.withGlobalOrder under
  * adversarially WIDE sort keys (VERDICT r8 item 6): 2M rows (the default
  * below, and what the usage line runs) with 1 KB string keys at
  * shuffle.partitions=1024 → buckets = min(1024·4, 4096) = the cap, sample
  * cap = 64·4096 = 262 144 rows — so the legacy sampler materializes the
  * full 262k-row full-width sample, not the whole corpus.
  *
  *  - mode `legacy` reproduces what the pre-r9 sampler materialized: the
  *    FULL-WIDTH sample through TakeOrderedAndProject — ~0.5 GB of UTF-16
  *    on the driver plus a same-sized top-k heap per local executor
  *    thread. Expected to OOM at the probe's heap (run under -Xmx2g).
  *  - mode `thinned` runs the real operator with the r9 64-char prefix
  *    thinning and verifies exactness (max rank == n, distinct ranks) plus
  *    the post-GC heap watermark.
  *
  * Usage: bash tools/run.sh graft.tools.RanksWidthProbe [legacy|thinned] [parts=1024] [n=2000000]
  * (override heap with JAVA_TOOL_OPTIONS or run java directly with -Xmx2g
  * to demonstrate the legacy ceiling; n must exceed the 64·buckets sample
  * cap — otherwise every per-partition top-k heap is bounded by its own
  * partition's rows and the ceiling never engages)
  */
object RanksWidthProbe {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("thinned")
    val parts = args.lift(1).map(_.toInt).getOrElse(1024)
    val nRows = args.lift(2).map(_.toLong).getOrElse(2000000L)
    val spark = graft.SparkPosture.session("8", parts.toString)
    spark.sparkContext.setLogLevel("WARN")

    val n = nRows
    // 1 KB keys, DIVERSE prefixes (unique first 8 chars): the realistic
    // wide-key regime — every sampled bound is distinct, so the probe
    // measures width cost, not prefix-collapse balance (that adversarial
    // case is the GraftProps property's job)
    val df = spark.range(n).select(col("id"),
      concat(lpad(col("id").cast("string"), 8, "0"), lit("z" * 1000)).as("s"))
    val buckets = math.min(parts * 4, 4096)
    val cap = 64 * buckets

    def heapMb(): Long = {
      System.gc()
      val rt = Runtime.getRuntime
      (rt.totalMemory() - rt.freeMemory()) >> 20
    }

    if (mode == "legacy") {
      // the pre-r9 sampler's exact physical shape, full-width keys
      val sample = df
        .select(xxhash64(lit("graft_rethin"), col("s"), col("id")).as("__h"),
          col("s"), col("id"))
        .orderBy(col("__h").asc, col("s").asc, col("id").asc)
        .limit(cap)
        .select(col("s"), col("id"))
        .collect()
      val bytes = sample.map(r => 56L + 2L * r.getString(0).length).sum
      println(s"[ranks-width] legacy: sample_rows=${sample.length} " +
        s"driver_sample_mb=${bytes >> 20} heap_mb=${heapMb()}")
    } else {
      val t0 = System.nanoTime()
      val ranked = Ranks.withGlobalOrder(df,
        Seq(col("s").asc, col("id").asc), "rank")
      val agg = ranked.agg(count(lit(1)), max(col("rank")),
        count_distinct(col("rank"))).collect()(0)
      val t = (System.nanoTime() - t0) / 1e9
      val bounds = Ranks.splitterBounds(df,
        Seq(col("s").asc, col("id").asc), buckets, 101, None)
      val maxW = if (bounds.isEmpty) 0 else bounds.map(_.getString(0).length).max
      println(f"[ranks-width] thinned: rows=${agg.getLong(0)} " +
        f"max_rank=${agg.getLong(1)} distinct_ranks=${agg.getLong(2)} " +
        f"bounds=${bounds.length} max_bound_chars=$maxW t=$t%.2f s " +
        f"heap_mb=${heapMb()}")
    }
    spark.stop()
  }
}
