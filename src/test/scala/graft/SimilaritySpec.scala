package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Similarity
import graft.operators.SimilaritySearch

class SimilaritySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("cosine: identical → 1, orthogonal → 0, opposite → -1") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
      (Array(1.0f, 0.0f), Array(-1.0f, 0.0f))).toDF("a", "b")
    val (a, b) = (Similarity.toDoubleArray(col("a")), Similarity.toDoubleArray(col("b")))
    val out = df.select(Similarity.cosinePre(
        Similarity.dot(a, b), Similarity.norm(a), Similarity.norm(b)).as("c"))
      .as[Double].collect()
    assert(out(0) === 1.0)
    assert(out(1) === 0.0)
    assert(out(2) === -1.0)
  }

  test("dot is a left-to-right sequential fold (deterministic)") {
    val df = Seq((Array(0.1, 0.2, 0.3), Array(1.0, 1.0, 1.0))).toDF("a", "b")
    val out = df.select(Similarity.dot(col("a"), col("b")).as("d")).as[Double].head()
    assert(out == ((0.1 * 1.0) + (0.2 * 1.0)) + (0.3 * 1.0)) // exact bit match
  }

  test("native codegen expressions match the HOF reference bit-for-bit on real vectors") {
    val e = graft.sources.Tables(spark, TestSpark.sf0001, "embeddings")
      .limit(50)
      .select(col("vec_id"), Similarity.toDoubleArray(col("embedding")).as("emb"))
    val a = e.toDF("ia", "va")
    val b = e.toDF("ib", "vb")
    val both = a.join(b, col("ia") < col("ib"))
      .select(
        Similarity.dot(col("va"), col("vb")).as("native"),
        Similarity.dotHof(col("va"), col("vb")).as("hof"),
        Similarity.cosinePre(Similarity.dot(col("va"), col("vb")),
          Similarity.norm(col("va")), Similarity.norm(col("vb"))).as("cos_native"),
        (Similarity.dotHof(col("va"), col("vb")) /
          (sqrt(Similarity.dotHof(col("va"), col("va"))) *
           sqrt(Similarity.dotHof(col("vb"), col("vb"))))).as("cos_hof"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1), "dot mismatch")
      assert(r.getDouble(2) == r.getDouble(3), "cosine mismatch")
    }
  }

  test("IVF ANN recalls a reasonable share of the brute-force top-5") {
    import graft.operators.SimilaritySearch
    val brute = SimilaritySearch.q35BruteForceTopK.run(spark, TestSpark.sf0001)
      .select("q_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = SimilaritySearch.q37IvfTopK.run(spark, TestSpark.sf0001)
      .select("q_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf.size == brute.size)
    val recall = brute.count(ivf.contains).toDouble / brute.size
    // random embeddings = worst case for a coarse quantizer; the operator
    // contract is structural (probe-limited search), recall just sanity-bounded
    assert(recall > 0.0, s"IVF recalled nothing of the brute-force top-5")
  }

  test("LSH pair search finds only true near-dup pairs, with bucket-limited recall") {
    import graft.operators.{Dedup, SimilaritySearch}
    val exact = Dedup.q34EmbeddingDups.run(spark, TestSpark.sf0001)
      .select("vec_a", "vec_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SimilaritySearch.q38LshPairs.run(spark, TestSpark.sf0001)
      .select("vec_a", "vec_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // soundness: every LSH pair passes the same exact-cosine threshold, so
    // it must be a subset of the all-pairs ground truth
    assert(lsh.subsetOf(exact), s"LSH emitted ${(lsh -- exact).size} non-near-dup pairs")
    // recall is bucket-limited by design; with 4 planes it must still find
    // a non-trivial share of the true pairs
    val recall = if (exact.isEmpty) 1.0 else exact.count(lsh.contains).toDouble / exact.size
    assert(recall >= 0.2, s"LSH pair recall $recall over ${exact.size} true pairs")
  }

  test("parameterized lshPairs: anchor parity at (4,4); more bits thin buckets, stay sound") {
    import graft.operators.{Dedup, SimilaritySearch}
    // (4, 4) IS the q38 anchor: same plane family prefix, same plan shape
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_a", "vec_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val anchor = pairsOf(SimilaritySearch.q38LshPairs.run(spark, TestSpark.sf0001))
    assert(pairsOf(SimilaritySearch.lshPairs(spark, TestSpark.sf0001)) == anchor)
    // bits=8: 256 buckets/band instead of 16 — candidate work per vector
    // drops (the N²/2^bits scale fix) while soundness is absolute: every
    // emitted pair is exact-verified, so it's inside the q34 ground truth
    val exact = pairsOf(Dedup.q34EmbeddingDups.run(spark, TestSpark.sf0001))
    val fine = pairsOf(SimilaritySearch.lshPairs(spark, TestSpark.sf0001,
      bands = 4, bitsPerBand = 8))
    assert(fine.subsetOf(exact), s"8-bit lshPairs emitted ${(fine -- exact).size} false pairs")
    // (note: fine ⊄ anchor in general — 8-bit bands 2-3 draw planes 16-31,
    // which the 4-bit anchor never consults, so they can recall pairs the
    // anchor's 16 planes miss; only soundness is invariant across settings)
  }

  test("q110 scaled registry point ≡ lshPairs(8,8): sound vs exact truth, non-trivial recall") {
    import graft.operators.{Dedup, SimilaritySearch}
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_a", "vec_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the registry entry IS the parameterized operator at (8, 8) — no
    // drift possible between the oracle-checked point and the production fn
    val reg = pairsOf(SimilaritySearch.q110LshScaled.run(spark, TestSpark.sf0001))
    assert(reg == pairsOf(SimilaritySearch.lshPairs(spark, TestSpark.sf0001,
      bands = 8, bitsPerBand = 8)))
    val exact = pairsOf(Dedup.q34EmbeddingDups.run(spark, TestSpark.sf0001))
    assert(reg.subsetOf(exact), s"q110 emitted ${(reg -- exact).size} false pairs")
    // honest recall floor: at sf0.001 every true pair sits in the
    // NEAR-THRESHOLD band (cosine 0.35–0.5 — no high-cosine dups at this
    // SF), where per-band collision is (1−θ/π)^8 ≈ 0.02–0.04, so the
    // 8-band OR expects recall ≈ 0.15–0.27 (measured: 0.179). True
    // near-dups (cosine ≳0.8) collide at ≳0.9 — this floor bounds the
    // WORST band of the curve, not the production regime.
    val recall = if (exact.isEmpty) 1.0 else exact.count(reg.contains).toDouble / exact.size
    assert(recall >= 0.1, s"q110 recall $recall over ${exact.size} true pairs")
  }

  test("fused LshBandCodes ≡ composed per-plane when-chain (anchor + scaled settings)") {
    import graft.operators.SimilaritySearch
    import graft.functions.Similarity
    val e = graft.sources.Tables(spark, TestSpark.sf0001, "embeddings")
      .select(col("vec_id"), Similarity.toDoubleArray(col("embedding")).as("emb"))
    for ((bands, bits) <- Seq((4, 4), (8, 8))) {
      val planes = SimilaritySearch.radPlanes(bands * bits)
      // the pre-fusion formulation, verbatim: one when-chain per plane
      def composedCode(b: Int) = (0 until bits).map { i =>
        when(Similarity.dot(col("emb"), typedLit(planes(b * bits + i))) > 0,
          lit(1 << i)).otherwise(lit(0))
      }.reduce(_ + _)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
      val composed = rows(e.select(col("vec_id"),
        posexplode(array((0 until bands).map(composedCode): _*))
          .as(Seq("band_idx", "bucket"))))
      val fused = rows(e.select(col("vec_id"),
        posexplode(Similarity.lshBandCodes(col("emb"), planes, bits))
          .as(Seq("band_idx", "bucket"))))
      assert(fused == composed, s"fused != composed at ($bands, $bits)")
    }
  }

  test("LshBandCodes null/ragged edges match the composed otherwise(0), in codegen AND eval") {
    import graft.functions.Similarity
    val planes = Seq(Array(1.0, 1.0), Array(1.0, -1.0))
    // NULL vector, null element, wrong length, and a valid row: the
    // composed when(dot > 0,...).otherwise(0) gives code 0 for the first
    // three (dot → NULL → otherwise) and 2 for the valid one (plane0 dot
    // is exactly 0.0 — NOT > 0; plane1 dot is 1.0)
    val df = spark.sql(
      """SELECT id, v FROM VALUES
        |  (0L, CAST(NULL AS array<double>)),
        |  (1L, array(CAST(0.5 AS double), CAST(NULL AS double))),
        |  (2L, array(CAST(1.0 AS double))),
        |  (3L, array(CAST(0.5 AS double), CAST(-0.5 AS double))) t(id, v)""".stripMargin)
    def codeOf(df: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.Column) =
      df.select(col("id"), c.as("codes")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    val fused = codeOf(df, Similarity.lshBandCodes(col("v"), planes, 2))
    val composed = codeOf(df, array((0 until 1).map { b =>
      (0 until 2).map { i =>
        when(Similarity.dot(col("v"), typedLit(planes(b * 2 + i))) > 0,
          lit(1 << i)).otherwise(lit(0))
      }.reduce(_ + _)
    }: _*))
    assert(fused == composed && fused == Map(
      0L -> List(0), 1L -> List(0), 2L -> List(0), 3L -> List(2)))
    // interpreted path (eval): same four cases through the expression directly
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    def evalCodes(v: Any): List[Int] =
      graft.expressions.LshBandCodes(
          Literal.create(v, ArrayType(DoubleType)), planes, 2)
        .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toIntArray().toList
    assert(evalCodes(null) == List(0))
    assert(evalCodes(Array[Any](0.5, null)) == List(0))
    assert(evalCodes(Array[Any](1.0)) == List(0))
    assert(evalCodes(Array[Any](0.5, -0.5)) == List(2))
  }

  test("k-means step assigns every vector once and moves centroids toward their members") {
    import graft.operators.SimilaritySearch
    val rows = SimilaritySearch.q62KmeansStep.run(spark, TestSpark.sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val total = graft.sources.Tables(spark, TestSpark.sf0001, "embeddings").count()
    // every populated centroid emits all 64 dims with a consistent count
    val perCid = rows.groupBy(_._1)
    perCid.foreach { case (cid, ds) =>
      assert(ds.length == 64, s"centroid $cid has ${ds.length} dims")
      assert(ds.map(_._3).distinct.length == 1, s"centroid $cid count inconsistent")
    }
    assert(perCid.map(_._2.head._3).sum == total, "assignment partitions the corpus")
    // new centroid components stay inside the data's value range
    assert(rows.forall { case (_, _, _, cx) => cx > -1.5 && cx < 1.5 })
  }

  test("iterated Lloyd training monotonically decreases inertia") {
    import graft.operators.SimilaritySearch
    val (centroids, inertias) = SimilaritySearch.kmeansIterate(spark, TestSpark.sf0001, 4)
    assert(inertias.length == 4)
    assert(inertias.forall(i => i > 0 && java.lang.Double.isFinite(i)))
    inertias.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a * (1 + 1e-9), s"inertia increased: $a -> $b")
    }
    assert(centroids.length == 4 && centroids.forall(_.length == 64))
    assert(centroids.forall(_.forall(java.lang.Double.isFinite)))
    // training moved at least one centroid off its ±0.25 init grid
    assert(centroids.exists(_.exists(v => math.abs(math.abs(v) - 0.25) > 1e-6)))
  }

  test("PQ-ADC codes and distances match a driver-side reimplementation") {
    import graft.operators.SimilaritySearch
    val out = SimilaritySearch.q65PqAdc.run(spark, TestSpark.sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
    val byQuery = out.groupBy(_._1)
    assert(byQuery.size == 8 && byQuery.values.forall(_.length == 5))
    // independent reimplementation: encode + ADC in plain Scala with the
    // same left-to-right fold order as Similarity.dot
    val embs = graft.sources.Tables(spark, TestSpark.sf0001, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    def sub(v: Array[Double], m: Int) =
      v.slice(m * SimilaritySearch.PqSub, (m + 1) * SimilaritySearch.PqSub)
    def encode(v: Array[Double]): IndexedSeq[Int] =
      (0 until SimilaritySearch.PqM).map { m =>
        val s = SimilaritySearch.pqCodebooks(m).map { cb =>
          cb.map(x => x * x).sum - 2.0 * dot(sub(v, m), cb)
        }
        s.indices.minBy(i => (s(i), i)) // ties to lowest index, like argminCols
      }
    def adc(q: Array[Double], codes: IndexedSeq[Int]): Double =
      (0 until SimilaritySearch.PqM).map { m =>
        val cb = SimilaritySearch.pqCodebooks(m)(codes(m))
        val qs = sub(q, m)
        dot(qs, qs) - 2.0 * dot(qs, cb) + cb.map(x => x * x).sum
      }.reduce(_ + _)
    out.foreach { case (qId, nId, pqCode, adcDist, _) =>
      val codes = encode(embs(nId))
      val expectedCode = codes.zipWithIndex
        .map { case (c, m) => c.toLong * math.pow(SimilaritySearch.PqK, m).toLong }.sum
      assert(pqCode == expectedCode, s"code mismatch for neighbor $nId")
      assert(math.abs(adc(embs(qId), codes) - adcDist) < 1e-12,
        s"ADC mismatch for ($qId, $nId)")
    }
  }

  test("trained PQ codebooks strictly cut reconstruction error") {
    import graft.operators.SimilaritySearch
    val e0 = SimilaritySearch.pqReconstructionError(
      spark, TestSpark.sf0001, SimilaritySearch.pqCodebooks)
    val trained = SimilaritySearch.pqTrain(spark, TestSpark.sf0001, 3)
    val e1 = SimilaritySearch.pqReconstructionError(spark, TestSpark.sf0001, trained)
    assert(e0 > 0 && java.lang.Double.isFinite(e0))
    assert(e1 < e0, s"training did not improve reconstruction: $e0 -> $e1")
    assert(trained.length == SimilaritySearch.PqM &&
      trained.forall(_.length == SimilaritySearch.PqK) &&
      trained.forall(_.forall(_.length == SimilaritySearch.PqSub)))
  }

  test("trained SemDeDup end-to-end: survivor set is deterministic at two corpus sizes") {
    // the full composition (k≈√N Lloyd training → prune) must reproduce its
    // survivor set exactly on a re-run — no RNG, no partition-order leaks —
    // at both test corpus sizes (500 and 5000 vectors)
    for (dir <- Seq(TestSpark.sf0001, "/root/testdata/sf0.01")) {
      def survivors() = SimilaritySearch.semdedupTrained(spark, dir, iters = 2)
        .filter(!col("pruned")).select(col("vec_id"))
        .as[Long].collect().sorted.toSeq
      val s1 = survivors()
      val s2 = survivors()
      assert(s1 == s2, s"nondeterministic survivor set at $dir")
      assert(s1.nonEmpty)
      val out = SimilaritySearch.semdedupTrained(spark, dir, iters = 2).cache()
      // lowest vec_id of every cluster has no lower-id partner → survives
      val mins = out.groupBy(col("cid")).agg(min(col("vec_id")).as("vmin"))
      assert(out.join(mins, out("cid") === mins("cid") &&
        col("vec_id") === col("vmin"))
        .filter(col("max_cos_lower").isNotNull || col("pruned")).count() == 0)
      // trained k ≈ √N: the model actually spreads assignments beyond q85's 4
      assert(out.select(countDistinct(col("cid"))).as[Long].head() > 4,
        s"trained model collapsed at $dir")
      out.unpersist()
    }
  }

  test("sample-trained SemDeDup: bounded-sample determinism") {
    import graft.operators.SimilaritySearch
    // bounded sample (cap < N, the production shape): survivor set is
    // deterministic across re-runs, nonempty, and the k≈√N model still
    // spreads assignments (table path: k=45 > literalPathMaxK at sf0.1)
    def survivors() = SimilaritySearch.semdedupTrained(
        spark, TestSpark.sf01, iters = 2, sampleCap = 256)
      .filter(!col("pruned")).select(col("vec_id"))
      .as[Long].collect().sorted.toSeq
    val s1 = survivors()
    val s2 = survivors()
    assert(s1 == s2, "nondeterministic sample-trained survivor set")
    assert(s1.nonEmpty)
    val out = SimilaritySearch.semdedupTrained(
      spark, TestSpark.sf01, iters = 2, sampleCap = 256).cache()
    // keep-first invariant holds regardless of where the model trained:
    // lowest vec_id of every cluster has no lower-id partner → survives
    val mins = out.groupBy(col("cid")).agg(min(col("vec_id")).as("vmin"))
    assert(out.join(mins, out("cid") === mins("cid") &&
      col("vec_id") === col("vmin"))
      .filter(col("max_cos_lower").isNotNull || col("pruned")).count() == 0)
    assert(out.select(countDistinct(col("cid"))).as[Long].head() > 16,
      "sample-trained model collapsed below the literal-path grain")
    out.unpersist()
  }

  test("literal-column and broadcast-table centroid assignment are bit-identical") {
    // trainedAssignment switches physical shapes above literalPathMaxK
    // (16); the answer must not depend on which one ran (same distances in
    // the same operand order, same lowest-cid tie break)
    val e = SimilaritySearch.embWithNorm(spark, TestSpark.sf0001)
    val centroids = {
      val (c, _) = SimilaritySearch.kmeansIterateOn(
        e.select(col("emb")), 1,
        e.orderBy(col("vec_id")).limit(9).select(col("emb"))
          .collect().map(_.getSeq[Double](0).toArray).toSeq)
      c
    }
    val byLiteral = SimilaritySearch.assignLiteral(e, centroids)
      .select(col("vec_id"), col("cid")).as[(Long, Long)].collect().sortBy(_._1)
    val byTable = SimilaritySearch.assignByTable(e, centroids)
      .select(col("vec_id"), col("cid")).as[(Long, Long)].collect().sortBy(_._1)
    assert(byLiteral.toSeq == byTable.toSeq)
    assert(byLiteral.map(_._2).distinct.length > 1)
  }

  test("kmeansIterateOn above the literal cutover matches a driver-side Lloyd") {
    // k = literalPathMaxK + 1 takes the broadcast-table assignment path
    val e = SimilaritySearch.embWithNorm(spark, TestSpark.sf0001)
    val k = SimilaritySearch.literalPathMaxK + 1
    val iters = 3
    val vecs = e.orderBy(col("vec_id")).select(col("emb"))
      .collect().map(_.getSeq[Double](0).toArray)
    val init = vecs.take(k).toSeq
    val (got, gotInertia) = SimilaritySearch.kmeansIterateOn(e.select(col("emb")), iters, init)
    // reference: same score (‖c‖² − 2·x·c, sequential dot), ties to the
    // lowest id, means of the assigned vectors, empty clusters kept
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    var want = init
    val wantInertia = (0 until iters).map { _ =>
      val assigned = vecs.map { x =>
        val sc = want.map(c => c.map(v => v * v).sum - 2.0 * dot(x, c))
        val i = sc.indices.minBy(i => (sc(i), i))
        (i, x, dot(x, x) + sc(i))
      }
      want = want.indices.map { i =>
        val mine = assigned.filter(_._1 == i).map(_._2)
        if (mine.isEmpty) want(i)
        else Array.tabulate(want(i).length)(d => mine.map(_(d)).sum / mine.length)
      }
      assigned.map(_._3).sum
    }
    def rel(a: Array[Double], b: Array[Double]): Double =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum) /
        math.sqrt(dot(b, b))
    assert(gotInertia.length == iters)
    gotInertia.zip(wantInertia).foreach { case (g, w) =>
      assert(math.abs(g - w) <= 1e-9 * math.abs(w), s"inertia $g vs $w")
    }
    assert(got.length == k)
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(rel(g, w) <= 1e-9, s"centroid $i off by ${rel(g, w)} relative")
    }
    // training moved the model off its init
    assert(got.zip(init).exists { case (g, c) => rel(g, c) > 1e-6 })
  }

  test("q109: every cluster gets ≤5 card terms with contiguous ranks and monotone salience") {
    val out = SimilaritySearch.q109ClusterCards.run(spark, TestSpark.sf0001).cache()
    val byCid = out.select(col("cid"), col("rank"), col("salience"))
      .as[(Long, Long, Long)].collect().groupBy(_._1)
    assert(byCid.nonEmpty && byCid.keySet.subsetOf((0L to 3L).toSet))
    byCid.foreach { case (cid, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to rows.length), s"ranks not contiguous in $cid")
      assert(rows.length <= 5)
      assert(sorted.map(_._3).toSeq == sorted.map(_._3).sortBy(-_).toSeq,
        s"salience not monotone in $cid")
    }
    out.unpersist()
  }

  test("topic cards compose over the trained clustering: contiguous ranks, sane terms") {
    val out = SimilaritySearch.clusterCardsTrained(spark, TestSpark.sf0001, iters = 2)
      .cache()
    val cids = SimilaritySearch.trainedAssignment(spark, TestSpark.sf0001, iters = 2)
      .select(col("cid")).distinct().as[Long].collect().toSet
    val byCid = out.select(col("cid"), col("rank"), col("term"), col("salience"))
      .as[(Long, Long, String, Long)].collect().groupBy(_._1)
    // every card belongs to a real trained cluster; clusters holding at
    // least one document produce a card (doc_id = vec_id convention)
    assert(byCid.keySet.subsetOf(cids))
    assert(byCid.size > 4, "trained cards collapsed to the literal-k grain")
    byCid.foreach { case (cid, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to rows.length), s"ranks not contiguous in $cid")
      assert(rows.length <= 5)
      assert(sorted.map(_._4).toSeq == sorted.map(_._4).sortBy(-_).toSeq,
        s"salience not monotone in $cid")
      assert(rows.map(_._3).distinct.length == rows.length,
        s"duplicate card terms in $cid")
    }
    out.unpersist()
  }

  test("DotProduct reproduces HOF NULL semantics on ragged and null-element arrays") {
    val df = Seq(
      (Array[java.lang.Double](1.0, 2.0), Array[java.lang.Double](1.0)),        // ragged
      (Array[java.lang.Double](1.0, null), Array[java.lang.Double](1.0, 2.0)),  // null elem
      (Array[java.lang.Double](1.0, 2.0), Array[java.lang.Double](3.0, 4.0)))   // clean
      .toDF("a", "b")
    val native = df.select(Similarity.dot(col("a"), col("b"))).collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    val hof = df.select(Similarity.dotHof(col("a"), col("b"))).collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(native.toSeq == hof.toSeq)
    assert(native.toSeq == Seq(None, None, Some(11.0)))
  }

  test("CountInArray matches the HOF filter-size formulation on real and edge arrays") {
    import graft.operators.TextAnalysis
    // real corpus: every (doc, term) tf identical to the HOF reference
    val docs = graft.sources.Tables(spark, TestSpark.sf0001, "documents")
      .select(col("doc_id"), TextAnalysis.words(col("text")).as("w"))
    for (t <- Seq("query", "scan", "vector", "absent-term")) {
      val diff = docs.select(
        TextAnalysis.countTerm(col("w"), t).as("native"),
        size(filter(col("w"), x => x === lit(t))).cast("long").as("hof"))
        .filter(col("native") =!= col("hof")).count()
      assert(diff == 0, s"tf mismatch for term '$t'")
    }
    // edges: null array → NULL; null elements skipped; empty array → 0
    val edge = Seq(
      (1L, Seq[String]("a", "b", "a")), (2L, Seq[String]()),
      (3L, Seq[String]("a", null, "a"))).toDF("id", "w")
      .union(Seq((4L, null.asInstanceOf[Seq[String]])).toDF("id", "w"))
    val got = edge.select(col("id"), TextAnalysis.countTerm(col("w"), "a").as("c"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(got == Map(1L -> 2L, 2L -> 0L, 3L -> 2L, 4L -> -1L))
  }
}
