package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

/** Dedup family on the real sf0.001 corpus: the sketch paths must agree with
  * the exact-Jaccard ground truth. */
class DedupSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val spark = TestSpark.spark

  override def afterAll(): Unit = Dedup.releaseCaches(spark)

  private lazy val exact = Dedup.jaccardPairs(spark, TestSpark.sf0001)
    .filter(org.apache.spark.sql.functions.col("jaccard") >= 0.8)
    .select("doc_a", "doc_b")
    .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("MinHash-LSH recovers high-Jaccard pairs (recall ≥ 0.8 at J≥0.8)") {
    val cand = Dedup.q32MinHashLsh.run(spark, TestSpark.sf0001)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "corpus should contain planted near-dups")
    val recall = exact.count(cand.contains).toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall over ${exact.size} true pairs")
  }

  test("SimHash hamming≤10 captures high-Jaccard pairs with low noise") {
    val sh = Dedup.q33SimHash.run(spark, TestSpark.sf0001)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(sh.contains).toDouble / exact.size
    assert(recall >= 0.8, s"simhash recall $recall")
    assert(sh.size <= exact.size * 20 + 50, s"simhash too noisy: ${sh.size} pairs")
  }

  test("winnowing fingerprints are deterministic and dense") {
    import graft.operators.TextAnalysis
    val a = TextAnalysis.q39Winnowing.run(spark, TestSpark.sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3))).sorted.toSeq
    val b = TextAnalysis.q39Winnowing.run(spark, TestSpark.sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3))).sorted.toSeq
    assert(a == b)
    assert(a.forall(_._2 > 0)) // every doc ≥8 chars yields fingerprints
  }

  test("exact dedup clusters cover all docs exactly once") {
    val df = Dedup.q30ExactDedup.run(spark, TestSpark.sf0001)
    val total = df.agg(org.apache.spark.sql.functions.sum("cluster_size")).head().getLong(0)
    val docs = graft.sources.Tables(spark, TestSpark.sf0001, "documents").count()
    assert(total == docs)
  }

  test("survivorship covers every doc and keeps exactly one survivor per cluster") {
    val rows = Dedup.q60DedupSurvivors.run(spark, TestSpark.sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val docs = graft.sources.Tables(spark, TestSpark.sf0001, "documents").count()
    assert(rows.length == docs, "one output row per document")
    rows.groupBy(_._2).foreach { case (rep, members) =>
      assert(members.count(_._4) == 1, s"cluster $rep: exactly one survivor")
      val surv = members.map(_._3).distinct
      assert(surv.length == 1 && members.exists(m => m._1 == surv.head),
        s"cluster $rep: survivor is a member")
    }
    // multi-doc clusters exist at sf0.001 (near-dups are seeded), so
    // survivorship actually removes something
    assert(rows.count(!_._4) > 0, "at least one duplicate is dropped")
  }

  test("production survivorship (q113) is sound vs q60 and keeps the window contract") {
    val prod = Dedup.q113DedupSurvivorsLsh.run(spark, TestSpark.sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val truth = Dedup.q60DedupSurvivors.run(spark, TestSpark.sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val docs = graft.sources.Tables(spark, TestSpark.sf0001, "documents").count()
    assert(prod.length == docs, "one output row per document")
    prod.groupBy(_._2).foreach { case (rep, members) =>
      assert(members.count(_._4) == 1, s"cluster $rep: exactly one survivor")
      assert(members.exists(m => m._1 == members.head._3),
        s"cluster $rep: survivor is a member")
    }
    // SOUNDNESS: q113's edges are the LSH-candidate subset of q60's exact
    // edge set at the same threshold, so any two docs q113 clusters
    // together must share a q60 cluster (sketch recall ≤ 1, precision = 1
    // after exact verification on candidates).
    prod.groupBy(_._2).filter(_._2.length > 1).foreach { case (rep, members) =>
      val trueReps = members.map(m => truth(m._1)).distinct
      assert(trueReps.length == 1,
        s"q113 cluster $rep spans ground-truth clusters $trueReps")
    }
    // 4x4 banding at J>=0.5: P[candidate] = 1-(1-j^4)^4 >= 0.23, and the
    // seeded near-dups sit well above 0.5 — the production form must
    // actually deduplicate on this corpus, not trivially pass empty.
    assert(prod.count(!_._4) > 0, "at least one duplicate is dropped")
  }

  test("contamination detection flags a benchmark doc's near-copy, not unrelated docs") {
    val rows = Dedup.q61Contamination.run(spark, TestSpark.sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    // benchmark docs themselves are excluded from the scored corpus
    assert(rows.forall(_._1 % 100 != 0))
    // fractions well-formed
    assert(rows.forall { case (_, nSh, nHit, f) =>
      nHit <= nSh && f >= 0.0 && f <= 1.0 })
    // near-dup seeding means SOME doc shares most shingles with a
    // benchmark doc only if its near-dup partner landed in the benchmark
    // set; either way the distribution must not be all-zero (common
    // vocabulary guarantees some overlap) and not all-one
    assert(rows.exists(_._4 > 0.0) && rows.exists(_._4 < 1.0))
  }
}
