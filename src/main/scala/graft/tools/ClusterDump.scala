package graft.tools

import graft.SparkPosture

/** Dump the PRODUCTION embedding-cluster form at arbitrary settings in
  * the exact layout tools/check_clusters_scaled.py consumes: the cluster
  * relation as parquet under <out>/q111_embedding_clusters plus an
  * oracle_sql.json carrying q110's stored SQL (the checker extracts the
  * literal Rademacher planes from it — the planes depend only on the
  * (8 bands x 8 bits) setting, never on the corpus or threshold).
  *
  * This closes the r12 VERDICT item-6 gap: the registry pins q111 at the
  * research threshold 0.35 (the driver corpora have no pairs above ~0.6),
  * while the PRODUCTION operating point (>= 0.9) is checked through this
  * tool against tools/gen_planted_embeddings.py corpora, where planted
  * near-dup sets give the threshold real component structure.
  *
  * Usage: run.sh graft.tools.ClusterDump <sfDir> <outDir> [bands=8]
  *        [bitsPerBand=8] [threshold=0.9]
  * (check_clusters_scaled.py's plane/band extraction assumes 8x8; other
  * settings dump fine but need a matching checker configuration.)
  */
object ClusterDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val out = args(1)
    val bands = if (args.length > 2) args(2).toInt else 8
    val bits = if (args.length > 3) args(3).toInt else 8
    val thr = if (args.length > 4) args(4).toDouble else 0.9
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkPosture.session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    graft.operators.SimilaritySearch
      .embeddingClusters(spark, dir, bands, bits, thr)
      .write.mode("overwrite").parquet(s"$out/q111_embedding_clusters")
    // the checker reads only the q110 entry (plane literals); reuse the
    // registry's stored SQL verbatim so the planes can't drift from the
    // ones the engine compiled
    val sql = graft.SparkEntry.oracleSql("q110_ann_lsh_scaled")
    val json = "{\"q110_ann_lsh_scaled\": " + quote(sql) + "}"
    java.nio.file.Files.write(java.nio.file.Paths.get(out, "oracle_sql.json"),
      json.getBytes("UTF-8"))
    println(f"[clusterdump] dir=$dir bands=$bands bits=$bits thr=$thr " +
      f"t=${(System.nanoTime() - t0) / 1e9}%.1f s -> $out")
    graft.operators.Dedup.releaseCaches(spark)
    spark.stop()
  }

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
