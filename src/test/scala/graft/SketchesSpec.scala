package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Sketches

/** The probabilistic guarantees the q80/q81 oracles alone cannot enforce:
  * the oracle hash-compare proves Spark and DuckDB agree on the flag
  * columns, but not that the flags are TRUE — that is the structural
  * invariant asserted here.
  */
class SketchesSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("count-min never undercounts, and some overcount exists at this sizing") {
    // sf0.01: 150 users over w=64 buckets — collisions are certain; at
    // sf0.001 only 15 users exist and the sketch is trivially exact
    val rows = Sketches.q80CountMin.run(spark, "/root/testdata/sf0.01")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(rows.nonEmpty)
    assert(rows.forall(_._3), "estimate < exact would break the CMS guarantee")
    assert(rows.forall { case (exact, est, _) => est >= exact })
    // w=64 over hundreds of users: collisions must actually occur,
    // otherwise the sketch test is vacuous
    assert(rows.exists { case (exact, est, _) => est > exact },
      "no collision at w=64 — sizing no longer exercises overcounts")
  }

  test("bloom filter has no false negatives; false-positive rate stays sane") {
    val rows = Sketches.q81BloomFilter.run(spark, TestSpark.sf0001)
      .collect().map(r => (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3)))
    assert(rows.nonEmpty)
    assert(rows.forall(_._3), "a member hashed to an unset bit: structural bug")
    val nonMembers = rows.count(!_._2)
    val falsePos = rows.count(r => r._1 && !r._2)
    // 1024 bits / k=3 over a few hundred members: FP rate must be well
    // under 100% (a saturated filter would make every probe positive)
    assert(nonMembers == 0 || falsePos < nonMembers,
      s"filter saturated: $falsePos false positives of $nonMembers non-members")
  }

  test("Misra-Gries guarantees hold with vocab >> k under forced partial merges") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // skewed stream: 3 hot terms + 400 singleton tail terms, vocab ≫ k=8,
    // spread over 16 partitions so partial buffers MUST decrement and merge
    val hot = Seq.fill(500)("hot1") ++ Seq.fill(300)("hot2") ++ Seq.fill(200)("hot3")
    val tail = (1 to 400).map(i => s"tail$i")
    val k = 8
    val df = scala.util.Random.shuffle(hot ++ tail).toDF("term").repartition(16)
    val n = (hot ++ tail).size.toLong
    val bound = n / (k + 1)
    val est = df.agg(graft.expressions.HeavyHitters.of(col("term"), k).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.term"), col("e.est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.size <= k, "summary must never exceed k counters")
    val exact = Map("hot1" -> 500L, "hot2" -> 300L, "hot3" -> 200L)
    exact.foreach { case (t, c) =>
      assert(c <= bound || est.contains(t), s"$t (count $c > N/(k+1)=$bound) missing")
      est.get(t).foreach { e =>
        assert(e <= c && e >= c - bound, s"$t estimate $e outside [${c - bound}, $c]")
      }
    }
    // tail terms may appear, but never with an estimate above their count + 0
    tail.foreach(t => est.get(t).foreach(e => assert(e <= 1L)))
  }

  test("heavy-hitters buffers survive serialize/deserialize round-trips") {
    val agg = graft.expressions.HeavyHitters(
      org.apache.spark.sql.catalyst.expressions.Literal("x"), 4)
    val buf = agg.createAggregationBuffer()
    Seq("a", "a", "b", "c", "d", "e").foreach { t =>
      buf.get(t) match {
        case Some(c) => buf.update(t, c + 1)
        case None if buf.size < 4 => buf.update(t, 1L)
        case None => () // not exercising decrement here
      }
    }
    val back = agg.deserialize(agg.serialize(buf))
    assert(back == buf)
  }
}
