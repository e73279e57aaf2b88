package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.TempDirs.withTempDir

/** Production-threshold embedding dedup, pinned in CI (r12 VERDICT item 6
  * / "What's missing" #3): the driver corpora have no cosine pairs above
  * ~0.6, so q111's registry point pins the research threshold 0.35 and
  * the PRODUCTION regime (>= 0.9) was previously exercised only by
  * out-of-gate tooling (tools/gen_planted_embeddings.py + ClusterDump +
  * check_clusters_scaled.py, PASS at 20k/200k vectors). This spec plants
  * the same two-regime geometry at test scale and checks
  * `embeddingClusters(16, 4, 0.9)` against an exhaustively computed
  * truth, so a regression in the production operating point fails
  * `sbt test`, not a multi-hour probe.
  *
  * Settings: 16 bands x 4 bits (same 64-plane budget as the registered
  * 8x8 point). Per-band collision at cosine 0.9 is (1-0.4510/pi)^4 ~
  * 0.538, so a true 0.9-edge escapes all 16 bands with probability
  * ~4e-6 — at ~250 planted edges the planted seed below has FULL recall
  * (verified: the assertion is exact equality against the all-pairs
  * truth, which only holds when no edge is missed). Everything is
  * deterministic (seeded generator, deterministic planes), so the
  * equality is stable, not probabilistic, once pinned.
  */
class PlantedClusterSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private val dim = 64
  private val n = 400

  /** Mirrors tools/gen_planted_embeddings.py: unit Gaussian background,
    * planted groups c*u + sqrt(1-c^2)*w_i with c alternating 0.98
    * (clique regime, pairs ~0.96) / 0.93 (straddle regime, pairs
    * ~0.81-0.92 — only some edges clear 0.9, so components form through
    * transitivity). */
  private def plantedVectors(seed: Long): Array[Array[Float]] = {
    val rng = new scala.util.Random(seed)
    def gaussian(): Array[Double] = Array.fill(dim)(rng.nextGaussian())
    def normalize(v: Array[Double]): Array[Double] = {
      val nrm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / nrm)
    }
    val vecs = Array.fill(n)(normalize(gaussian()))
    val groupSizes = Seq(3, 2, 5, 4, 2, 3, 4, 5, 2, 3, 4, 2, 5, 3, 2, 4)
    val memberIds = rng.shuffle((0 until n).toList).take(groupSizes.sum)
    var pos = 0
    for ((size, g) <- groupSizes.zipWithIndex) {
      val ids = memberIds.slice(pos, pos + size); pos += size
      val c = if (g % 2 == 0) 0.98 else 0.93
      val u = normalize(gaussian())
      for (i <- ids) {
        val raw = gaussian()
        val rawDotU = raw.zip(u).map { case (x, ux) => x * ux }.sum
        val w = normalize(raw.zip(u).map { case (x, ux) => x - rawDotU * ux })
        vecs(i) = u.zip(w).map { case (ux, wx) => c * ux + math.sqrt(1 - c * c) * wx }
      }
    }
    // float32 round-trip + re-normalize in float, like the stored tables
    vecs.map { v =>
      val f = v.map(_.toFloat)
      val nrm = math.sqrt(f.map(x => x.toDouble * x).sum).toFloat
      f.map(x => x / nrm)
    }
  }

  /** All-pairs >= threshold union-find truth over the float-cast vectors
    * (same double arithmetic the engine runs after toDoubleArray). */
  private def truthClusters(vecs: Array[Array[Float]], threshold: Double)
      : Set[(Long, Long, Long)] = {
    val d = vecs.map(_.map(_.toDouble))
    val nrm = d.map(v => math.sqrt(v.map(x => x * x).sum))
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    def union(a: Int, b: Int): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    for (i <- 0 until n; j <- i + 1 until n) {
      var dot = 0.0
      var k = 0
      while (k < dim) { dot += d(i)(k) * d(j)(k); k += 1 }
      if (dot / (nrm(i) * nrm(j)) >= threshold) union(i, j)
    }
    val byRep = (0 until n).groupBy(find).filter(_._2.size > 1)
    byRep.flatMap { case (rep, members) =>
      members.map(m => (m.toLong, rep.toLong, members.size.toLong))
    }.toSet
  }

  test("embeddingClusters at the production threshold 0.9 matches all-pairs truth on planted dups") {
    withTempDir { tmp =>
      val vecs = plantedVectors(seed = 2026L)
      val dir = tmp.toString
      val schema = StructType(Seq(
        StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
        StructField("label", IntegerType)))
      val rows = vecs.zipWithIndex.map { case (v, i) =>
        Row(i.toLong, v.toSeq, 0)
      }
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq, 2), schema)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

      val expected = truthClusters(vecs, 0.9)
      assert(expected.nonEmpty, "planted corpus produced no >=0.9 components — generator broken")
      // multiple component SIZES must occur or the transitivity claim is vacuous
      assert(expected.map(_._3).size > 1, s"degenerate plant: all components one size")

      val got = graft.operators.SimilaritySearch
        .embeddingClusters(spark, dir, bands = 16, bitsPerBand = 4, threshold = 0.9)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == expected,
        s"production-threshold clusters drifted: extra=${got.diff(expected)} missing=${expected.diff(got)}")
    }
  }
}
