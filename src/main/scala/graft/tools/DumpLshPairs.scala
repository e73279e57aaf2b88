package graft.tools

import graft.SparkPosture

/** Dump `SimilaritySearch.lshPairs` at an arbitrary (bands, bits,
  * threshold) setting to parquet — the Spark side of the out-of-gate
  * cross-engine checks at adaptive production settings (the registry's
  * q110 pins (8, 8); the sf100 decade runs the corpus-adaptive rule's
  * 4×15 at the dedup threshold 0.6, checked by
  * tools/check_lsh_adaptive.py).
  *
  * Usage: runMain graft.tools.DumpLshPairs <sfDir> <outDir> <bands> <bits> <threshold>
  */
object DumpLshPairs {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, bands, bits, thr) = args.take(5)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = SparkPosture.session(cpus, shuffle)
    spark.sparkContext.setLogLevel("WARN")
    graft.operators.SimilaritySearch
      .lshPairs(spark, sfDir, bands.toInt, bits.toInt, thr.toDouble)
      // repartition, NOT coalesce: coalesce(8) fuses the bucket self-join
      // into 8 single-threaded tasks (the VerifyOne round-13 lesson — the
      // fusion itself creates partition-grain skew); the round-robin
      // exchange of RESULT rows is cheap next to recomputing any fused
      // stage serially.
      .repartition(16)
      .write.mode("overwrite").parquet(outDir)
    spark.stop()
  }
}
