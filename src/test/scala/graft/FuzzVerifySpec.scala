package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.FuzzVerify

/** Pins the fuzz harness's reproducibility contract (VERDICT r14 item 5):
  * a fuzz failure is only actionable if (seed0, n) reproduces the exact
  * instance — template choice, drawn parameters, rendered SQL.
  */
class FuzzVerifySpec extends AnyFunSuite {

  test("instances are deterministic in (seed0, n)") {
    val a = FuzzVerify.instances(42L, 30).map(q => (q.name, q.oracle.get))
    val b = FuzzVerify.instances(42L, 30).map(q => (q.name, q.oracle.get))
    assert(a == b)
  }

  test("different seeds draw different parameters") {
    val a = FuzzVerify.instances(42L, 10).map(_.oracle.get)
    val c = FuzzVerify.instances(43L, 10).map(_.oracle.get)
    assert(a != c, "seed must influence drawn parameters")
  }

  test("a 50-instance run covers all templates near-evenly") {
    val names = FuzzVerify.instances(42L, 50).map(_.name)
    val byTemplate = names.groupBy(_.take(4))
    assert(byTemplate.size == FuzzVerify.templates.length)
    val sizes = byTemplate.values.map(_.size)
    assert(sizes.max - sizes.min <= 1, s"uneven round-robin: $byTemplate")
    // instance names are unique — each is a distinct output dir
    assert(names.distinct.size == names.size)
  }

  test("degenerate-capable templates stay inside non-trivial draw bounds (r17)") {
    // VERDICT r16 item 3: fz11 drew LSH thresholds (0.45/0.50) above the
    // corpus's non-trivial range and produced 0-row instances; qual_gate's
    // maxAvg=4.0 floor admitted 0-5 docs. The re-ranged bounds are pinned
    // here against the rendered SQL so a future range widening that can
    // regenerate empty instances fails CI, not a fuzz batch.
    val insts = FuzzVerify.instances(0L, 600)
    val lshT = "b\\.nrm\\) >= (0\\.[0-9]+)".r
    insts.filter(_.name.contains("lsh_thresh")).foreach { q =>
      val n = q.name
      val ts = lshT.findAllMatchIn(q.oracle.get).map(_.group(1).toDouble).toSeq
      assert(ts.nonEmpty, s"$n: no threshold literal in SQL")
      ts.foreach(t => assert(t >= 0.249 && t <= 0.401, s"$n: threshold $t"))
    }
    val qgT = "avg_word_len <= ([0-9.]+)".r
    insts.filter(_.name.contains("qual_gate")).foreach { q =>
      val n = q.name
      val t = qgT.findFirstMatchIn(q.oracle.get).map(_.group(1).toDouble)
      assert(t.exists(v => v >= 4.49 && v <= 9.01), s"$n: maxAvg $t")
    }
  }

  test("first draws spread over their whole grid (mixed per-instance seeds)") {
    val insts = FuzzVerify.instances(42L, 600)
    val lshT = "b\\.nrm\\) >= (0\\.[0-9]+)".r
    val thresholds = insts.filter(_.name.contains("lsh_thresh"))
      .flatMap(q => lshT.findFirstMatchIn(q.oracle.get).map(t => math.round(t.group(1).toDouble * 20)))
      .toSet
    assert(thresholds == Set(5L, 6L, 7L, 8L), thresholds) // 0.25, 0.30, 0.35, 0.40
    val topK = "brand_rank <= ([0-9]+)".r
    val ks = insts.filter(_.name.contains("brand_topk"))
      .flatMap(q => topK.findFirstMatchIn(q.oracle.get).map(_.group(1).toInt)).toSet
    assert(ks == (1 to 8).toSet, ks)
  }

  test("every template emits SQL that names at least one base table") {
    val tables = Seq("lineitem", "orders", "part", "customer", "documents",
      "embeddings")
    FuzzVerify.instances(42L, 10).foreach { q =>
      assert(tables.exists(q.oracle.get.contains), s"${q.name} sql references no table")
    }
  }

  test("every template's Spark query analyzes and returns rows at sf0.001") {
    // one instance per template: the oracle side runs in tools/fuzz_oracle.py,
    // this pins that each drawn Spark query runs at all
    val insts = FuzzVerify.instances(42L, FuzzVerify.templates.length)
    assert(insts.map(_.name.take(4)).distinct.size == FuzzVerify.templates.length)
    insts.foreach { q =>
      val df = q.run(TestSpark.spark, TestSpark.sf0001)
      df.queryExecution.assertAnalyzed()
      assert(!df.isEmpty, s"${q.name} returned no rows")
    }
  }
}
