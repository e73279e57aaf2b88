package graft.tools

import org.apache.spark.ml.feature.MinHashLSH
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Head-to-head: spark.ml MinHashLSH approxSimilarityJoin vs the custom
  * q32 MinHash+banding pipeline on the same corpus/threshold. Evidence for
  * PLANS.md's "custom sketch matches-or-beats the standard-library path".
  * `mlPairs` is the single definition of the spark.ml baseline — the bench
  * times it, `MlDedupSpec` checks its agreement with the custom sketch.
  * Usage: runMain graft.tools.MlDedupBench [sfDir] */
object MlDedupBench {

  /** Shingle-set sparse vectors + MinHashLSH(8 tables, seed 42) pair join:
    * (a, b) doc pairs with Jaccard DISTANCE below `maxDistance`. */
  def mlPairs(spark: SparkSession, dir: String, maxDistance: Double): DataFrame = {
    import spark.implicits._
    val dim = 1 << 20
    val docs = graft.sources.Tables(spark, dir, "documents")
      .withColumn("w", graft.operators.TextAnalysis.words(col("text")))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"),
        explode(graft.operators.TextAnalysis.shingles(col("w"))).as("shingle"))
      .withColumn("idx", pmod(xxhash64(col("shingle")), lit(dim)).cast("int"))
      .groupBy("doc_id").agg(collect_set("idx").as("idxs"))
      .map { r =>
        val idxs = r.getAs[Seq[Int]]("idxs").distinct.sorted.toArray
        (r.getLong(0), Vectors.sparse(dim, idxs, Array.fill(idxs.length)(1.0)))
      }.toDF("doc_id", "features")
    val model = new MinHashLSH().setNumHashTables(8).setSeed(42L)
      .setInputCol("features").setOutputCol("hashes").fit(docs)
    model.approxSimilarityJoin(docs, docs, maxDistance, "jaccard_dist")
      .select(col("datasetA.doc_id").as("a"), col("datasetB.doc_id").as("b"))
      .filter(col("a") < col("b"))
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.SparkPosture.session(cpus)
    spark.sparkContext.setLogLevel("WARN")

    def timed[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[mlbench] $tag ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    // JVM/codegen warm-up, as graft.Bench does
    graft.Bench.materialize(graft.SparkEntry.entry(spark))

    val ml = timed("spark.ml MinHashLSH (8 tables)") {
      mlPairs(spark, dir, 0.5).count()
    }
    val custom = timed("custom q32 full pipeline") {
      graft.SparkEntry.queries("q32_dedup_minhash_lsh")(spark, dir)
        .filter(col("jaccard") >= 0.5).count()
    }
    graft.operators.Dedup.releaseCaches(spark)
    println(s"[mlbench] custom pairs@>=0.5: $custom, ml pairs@dist<0.5: $ml")
    spark.stop()
  }
}
