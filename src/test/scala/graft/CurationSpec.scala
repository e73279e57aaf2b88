package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TempDirs.withTempDir
import graft.operators.{Curation, Dedup, ScaleLayout}

/** End-to-end: curation verdicts → survivors → token shards → partitioned
  * corpus write. The composition a library user runs as one call. */
class CurationSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("exported training set holds exactly the kept docs, shard-packed and partitioned") {
    withTempDir { dir =>
      val out = s"$dir/corpus"
      Curation.exportTrainingSet(spark, TestSpark.sf0001, out, tokenBudget = 1000L)

      val verdicts = Dedup.q67CurationPipeline.run(spark, TestSpark.sf0001)
        .select(col("doc_id"), col("kept"))
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      val keptIds = verdicts.filter(_._2).keySet

      val exported = spark.read.parquet(out)
      val got = exported.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got == keptIds, "export must contain exactly the kept documents")

      // shard packing: every shard except the last reaches the budget once
      // its first doc's overhang is granted; shard ids are contiguous from 0
      // the Hive partition value comes back type-inferred (Integer)
      val shards = exported.groupBy("shard_id")
        .agg(sum("tokens").as("t"), max("tokens").as("mx"))
        .collect()
        .map(r => (r.getAs[Number]("shard_id").longValue, r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
      assert(shards.map(_._1).toSeq == shards.indices.map(_.toLong))
      shards.dropRight(1).foreach { case (id, total, mx) =>
        assert(total + mx >= 1000L, s"shard $id underfilled: $total tokens (max doc $mx)")
      }

      // physical layout: one Hive partition dir per shard, pruning works
      val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
      assert(dirs.forall(_.startsWith("shard_id=")) && dirs.length == shards.length)
      val pruned = spark.read.parquet(out).filter(col("shard_id") === 0)
      assert(TestPlans.prunesPartitionsOn(pruned, "shard_id"), TestPlans.finalPlan(pruned))
      assert(pruned.count() > 0)
    }
  }

  test("epoch export re-deals survivors per epoch; each epoch packs and reproduces exactly") {
    withTempDir { dir =>
      val base = dir.toString
      val e1 = Curation.exportEpoch(spark, TestSpark.sf0001, s"$base/e1", epoch = 1,
        tokenBudget = 1000L)
      val e2 = Curation.exportEpoch(spark, TestSpark.sf0001, s"$base/e2", epoch = 2,
        tokenBudget = 1000L)

      val keptIds = Dedup.q67CurationPipeline.run(spark, TestSpark.sf0001)
        .filter(col("kept")).select("doc_id").collect().map(_.getLong(0)).toSet
      def posOf(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_id", "train_pos").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val p1 = posOf(e1); val p2 = posOf(e2)
      // both epochs export exactly the survivors, positions 1..n
      assert(p1.keySet == keptIds && p2.keySet == keptIds)
      assert(p1.values.toSeq.sorted == (1L to keptIds.size.toLong))
      // different epochs genuinely re-deal the order
      assert(p1 != p2, "epoch keys must produce different permutations")
      // re-running an epoch reproduces the identical deal (pure function of data+epoch)
      val e1again = Curation.exportEpoch(spark, TestSpark.sf0001, s"$base/e1b", epoch = 1,
        tokenBudget = 1000L)
      assert(posOf(e1again) == p1)
      // packing invariant per epoch: every shard but the last reaches budget
      // once granted its first doc's overhang
      val shards = e1.groupBy("shard_id").agg(sum("tokens").as("t"), max("tokens").as("mx"))
        .collect().map(r => (r.getAs[Number]("shard_id").longValue, r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
      assert(shards.map(_._1).toSeq == shards.indices.map(_.toLong))
      shards.dropRight(1).foreach { case (id, total, mx) =>
        assert(total + mx >= 1000L, s"epoch shard $id underfilled: $total")
      }
    }
  }

  test("kill-and-resume: epoch re-export keeps the OLD epoch until the new one commits") {
    withTempDir { dir =>
      def rootChain(t: Throwable): Seq[String] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
          .map(e => Option(e.getMessage).getOrElse("")).toSeq
      val out = s"$dir/graft-epoch-kill" // the failpoint matches on this name
      Curation.exportEpoch(spark, TestSpark.sf0001, out, epoch = 1, tokenBudget = 1000L)
      val snap = spark.read.parquet(out)
        .orderBy("doc_id").collect().map(_.toString).toSeq
      // re-export for epoch 2 dies mid-write: the overwrite of a live export
      // path must not tear it (the pre-fix direct overwrite deleted the old
      // epoch before the job ran — a reader mid-failure saw NOTHING)
      ScaleLayout.failpoint.set(Some(("graft-epoch-kill", 1)))
      try {
        val ex = intercept[Throwable] {
          Curation.exportEpoch(spark, TestSpark.sf0001, out, epoch = 2,
            tokenBudget = 1000L)
        }
        assert(rootChain(ex).exists(_.contains("graft failpoint")),
          s"unexpected failure chain: ${rootChain(ex)}")
      } finally ScaleLayout.failpoint.set(None)
      assert(spark.read.parquet(out).orderBy("doc_id").collect()
        .map(_.toString).toSeq == snap, "old epoch torn by failed re-export")
      // resume: the retry commits epoch 2 whole
      val e2 = Curation.exportEpoch(spark, TestSpark.sf0001, out, epoch = 2,
        tokenBudget = 1000L)
      val p2 = e2.select("doc_id", "train_pos").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(p2.values.toSeq.sorted == (1L to p2.size.toLong))
      assert(spark.read.parquet(out).count() == p2.size.toLong)
    }
  }
}
