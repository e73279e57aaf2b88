package graft

import org.apache.spark.ml.feature.MinHashLSH
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, TextAnalysis}

/** Cross-check: the spark.ml MinHashLSH path (SURVEY.md §2.11's standard-
  * library option) agrees with our custom MinHash+banding pipeline on which
  * documents are near-duplicates. approxSimilarityJoin's Jaccard distance
  * threshold mirrors our 0.5. The timing of the two paths is in PLANS.md
  * "Custom sketch vs spark.ml". */
class MlDedupSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  /** The spark.ml reference: shingle-set sparse vectors + MinHashLSH (8
    * tables, seed 42) pair join — (a, b) doc pairs with Jaccard DISTANCE
    * below `maxDistance`. */
  private def mlPairs(spark: SparkSession, dir: String, maxDistance: Double): DataFrame = {
    import spark.implicits._
    val dim = 1 << 20
    val docs = graft.sources.Tables(spark, dir, "documents")
      .withColumn("w", TextAnalysis.words(col("text")))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(TextAnalysis.shingles(col("w"))).as("shingle"))
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

  test("spark.ml MinHashLSH finds the same high-Jaccard pairs as the custom sketch") {
    val ml = mlPairs(spark, TestSpark.sf0001, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val custom = Dedup.jaccardPairs(spark, TestSpark.sf0001)
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(custom.nonEmpty)
    val recall = custom.count(ml.contains).toDouble / custom.size
    assert(recall >= 0.8, s"ml recall $recall of ${custom.size} ground-truth pairs")
  }
}
