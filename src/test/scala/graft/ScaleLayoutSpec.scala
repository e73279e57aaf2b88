package graft

import java.nio.file.Paths
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite
import graft.TempDirs.withTempDir
import graft.operators.ScaleLayout
import graft.sources.Tables

class ScaleLayoutSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("co-bucketed tables join with zero shuffle exchanges") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // a previous JVM's managed-table dirs survive while the in-memory
    // catalog does not → LOCATION_ALREADY_EXISTS unless cleaned first
    Seq("li_bucketed", "ord_bucketed").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      TempDirs.deleteRecursively(Paths.get(s"spark-warehouse/$t"))
    }
    try {
      ScaleLayout.writeBucketed(
        Tables(spark, TestSpark.sf0001, "lineitem"), "li_bucketed", "l_orderkey", 4)
      ScaleLayout.writeBucketed(
        Tables(spark, TestSpark.sf0001, "orders"), "ord_bucketed", "o_orderkey", 4)
      val joined = spark.table("li_bucketed")
        .join(spark.table("ord_bucketed"), col("l_orderkey") === col("o_orderkey"))
      assert(!TestPlans.nodes(joined).exists(_.isInstanceOf[ShuffleExchangeExec]),
        s"expected shuffle-free co-located join, got:\n${TestPlans.finalPlan(joined)}")
      assert(joined.count() == Tables(spark, TestSpark.sf0001, "lineitem").count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      Seq("li_bucketed", "ord_bucketed").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("runtime bloom-filter injection prunes the fact scan for selective dim joins") {
    // Spark's InjectRuntimeFilter: when a shuffle join's build side is small
    // and selective, a bloom filter of its join keys is computed at runtime
    // and pushed into the probe side's scan — the 100 TB "semi-join
    // reduction" that skips fact rows (and with parquet row-group stats,
    // whole row groups) whose key can't match. Thresholds are lowered so
    // the pattern triggers at fixture scale; the assertion is on the
    // optimized plan's might_contain marker.
    withTempDir { dir =>
      Tables(spark, TestSpark.sf0001, "lineitem").write.parquet(s"$dir/li")
      Tables(spark, TestSpark.sf0001, "orders").write.parquet(s"$dir/ord")
      val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val prevApp = spark.conf.getOption(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      try {
        val li = spark.read.parquet(s"$dir/li")
        val ord = spark.read.parquet(s"$dir/ord")
          .filter(col("o_orderpriority") === "1-URGENT")
        val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        val optimized = joined.queryExecution.optimizedPlan.toString
        assert(optimized.contains("might_contain"),
          s"expected a runtime bloom filter on the fact side, got:\n$optimized")
        // and the filtered result is still exactly the plain join
        val expected = li.join(
          spark.read.parquet(s"$dir/ord").filter(col("o_orderpriority") === "1-URGENT"),
          col("l_orderkey") === col("o_orderkey")).count()
        assert(joined.count() == expected)
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
        prevApp match {
          case Some(v) => spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", v)
          case None => spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
        }
      }
    }
  }

  test("date-partitioned writes prune partitions on range predicates") {
    withTempDir { dir =>
      val path = s"$dir/events"
      ScaleLayout.writeDatePartitioned(Tables(spark, TestSpark.sf0001, "events"), path, "ts")
      val pruned = spark.read.parquet(path).filter(col("part_date") === "2024-01-01")
      assert(pruned.count() > 0)
      // partition filter must reach the scan, not a post-filter
      assert(TestPlans.prunesPartitionsOn(pruned, "part_date"), TestPlans.finalPlan(pruned))
    }
  }

  test("compaction bin-packs a fragmented directory without losing rows") {
    withTempDir { dir =>
      val path = s"$dir/frag"
      val events = Tables(spark, TestSpark.sf0001, "events")
        .select(col("event_id"), col("user_id"), col("value"))
      events.repartition(40).write.mode("overwrite").parquet(path) // fragment
      val rowsBefore = spark.read.parquet(path).count()
      val sumBefore = spark.read.parquet(path).agg(sum("event_id")).head().getLong(0)
      val (before, after) = ScaleLayout.compact(spark, path, targetBytes = 1L << 20)
      assert(before == 40)
      assert(after < before, s"no compaction: $before -> $after")
      assert(spark.read.parquet(path).count() == rowsBefore)
      assert(spark.read.parquet(path).agg(sum("event_id")).head().getLong(0) == sumBefore)
    }
  }

  test("compaction preserves a Hive-partitioned layout and counts recursively") {
    withTempDir { dir =>
      val path = s"$dir/events"
      ScaleLayout.writeDatePartitioned(
        Tables(spark, TestSpark.sf0001, "events").repartition(8), path, "ts")
      val rowsBefore = spark.read.parquet(path).count()
      val datesBefore = spark.read.parquet(path)
        .select("part_date").distinct().collect().map(_.get(0).toString).sorted.toSeq
      val (before, after) = ScaleLayout.compact(spark, path, targetBytes = 1L << 26)
      // files live in part_date=... subdirs: a non-recursive count would see 0
      assert(before > 0, s"recursive inventory saw no files (before=$before)")
      assert(after <= before)
      assert(spark.read.parquet(path).count() == rowsBefore)
      // the partition layout must survive: same partition values, and the
      // partition filter still reaches the scan as a PartitionFilter
      val datesAfter = spark.read.parquet(path)
        .select("part_date").distinct().collect().map(_.get(0).toString).sorted.toSeq
      assert(datesAfter == datesBefore)
      val pruned = spark.read.parquet(path).filter(col("part_date") === datesBefore.head)
      assert(TestPlans.prunesPartitionsOn(pruned, "part_date"), TestPlans.finalPlan(pruned))
      assert(pruned.count() > 0)
    }
  }

  test("merge upsert keeps the latest version per key and inserts new keys") {
    withTempDir { dir =>
      val path = s"$dir/tbl"
      Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 2L))
        .toDF("id", "payload", "version").write.parquet(path)
      val updates = Seq(
        (2L, "b2", 2L),  // newer version wins
        (3L, "c0", 1L),  // older version loses
        (3L, "c2", 2L),  // equal version: update wins
        (4L, "d", 1L))   // new key inserts
        .toDF("id", "payload", "version")
      ScaleLayout.mergeUpsert(spark, path, updates, "id", "version")
      val out = spark.read.parquet(path)
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      assert(out == Map(
        1L -> ("a", 1L), 2L -> ("b2", 2L), 3L -> ("c2", 2L), 4L -> ("d", 1L)))
      // idempotent: replaying the same delta changes nothing
      ScaleLayout.mergeUpsert(spark, path, updates, "id", "version")
      assert(spark.read.parquet(path).count() == 4)
    }
  }

  private def rootChain(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
      .map(e => Option(e.getMessage).getOrElse("")).toSeq

  test("kill-and-resume: a mid-write failure leaves compact's target OLD, never torn") {
    withTempDir { dir =>
      val path = s"$dir/graft-compact-kill" // the failpoint matches on this name
      val events = Tables(spark, TestSpark.sf0001, "events")
        .select(col("event_id"), col("user_id"), col("value"))
      events.repartition(20).write.mode("overwrite").parquet(path)
      val before = spark.read.parquet(path).orderBy("event_id").collect().toSeq
      // inject: task 0 of the staging write dies after 5 rows, mid-job
      ScaleLayout.failpoint.set(Some(("graft-compact-kill", 5)))
      try {
        val ex = intercept[Throwable] {
          ScaleLayout.compact(spark, path, targetBytes = 1L << 20)
        }
        assert(rootChain(ex).exists(_.contains("graft failpoint")),
          s"unexpected failure chain: ${rootChain(ex)}")
      } finally ScaleLayout.failpoint.set(None)
      // the target is byte-identical to the old table — the partial staging
      // output never swapped in
      assert(spark.read.parquet(path).orderBy("event_id").collect().toSeq == before)
      // resume: a plain retry compacts from the intact target (stale staging
      // leftovers are overwritten) and still changes nothing semantically
      val (b2, a2) = ScaleLayout.compact(spark, path, targetBytes = 1L << 20)
      assert(a2 < b2, s"resume did not compact: $b2 -> $a2")
      assert(spark.read.parquet(path).orderBy("event_id").collect().toSeq == before)
    }
  }

  test("kill-and-resume: a mid-write failure leaves mergeUpsert's base intact") {
    withTempDir { dir =>
      val path = s"$dir/graft-merge-kill" // the failpoint matches on this name
      spark.range(200).select(col("id"), concat(lit("v"), col("id")).as("payload"),
        lit(1L).as("version")).write.parquet(path)
      val before = spark.read.parquet(path).orderBy("id").collect().toSeq
      val updates = spark.range(50).select(col("id"),
        concat(lit("u"), col("id")).as("payload"), lit(2L).as("version"))
      ScaleLayout.failpoint.set(Some(("graft-merge-kill", 5)))
      try {
        val ex = intercept[Throwable] {
          ScaleLayout.mergeUpsert(spark, path, updates, "id", "version")
        }
        assert(rootChain(ex).exists(_.contains("graft failpoint")),
          s"unexpected failure chain: ${rootChain(ex)}")
      } finally ScaleLayout.failpoint.set(None)
      assert(spark.read.parquet(path).orderBy("id").collect().toSeq == before)
      // resume: the retry merges cleanly from the intact base
      ScaleLayout.mergeUpsert(spark, path, updates, "id", "version")
      val out = spark.read.parquet(path).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(out.size == 200 && out(7L) == "u7" && out(150L) == "v150")
    }
  }

  test("kill-and-resume: layout rewrites (sorted-range) leave the old layout intact") {
    // writeSortedRange / writeZOrdered / writeDatePartitioned used direct
    // overwrite — rewriting a LIVE lake path deleted the old layout before
    // the job ran, the same tear exportEpoch had. All three now stage+swap;
    // this pins the representative one.
    withTempDir { dir =>
      val path = s"$dir/graft-sort-kill" // the failpoint matches on this name
      val li = Tables(spark, TestSpark.sf0001, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"))
      ScaleLayout.writeSortedRange(li, path, "l_orderkey", 4)
      val before = spark.read.parquet(path).collect().map(_.toString).sorted.toSeq
      ScaleLayout.failpoint.set(Some(("graft-sort-kill", 5)))
      try {
        val ex = intercept[Throwable] {
          ScaleLayout.writeSortedRange(li, path, "l_orderkey", 2) // re-layout
        }
        assert(rootChain(ex).exists(_.contains("graft failpoint")),
          s"unexpected failure chain: ${rootChain(ex)}")
      } finally ScaleLayout.failpoint.set(None)
      assert(spark.read.parquet(path).collect().map(_.toString).sorted.toSeq == before,
        "old layout torn by failed rewrite")
      // resume: the re-layout lands whole
      ScaleLayout.writeSortedRange(li, path, "l_orderkey", 2)
      assert(spark.read.parquet(path).collect().map(_.toString).sorted.toSeq == before)
    }
  }

  test("sorted-range write produces disjoint per-file key ranges") {
    withTempDir { dir =>
      val path = s"$dir/li"
      val li = Tables(spark, TestSpark.sf0001, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"))
      ScaleLayout.writeSortedRange(li, path, "l_orderkey", partitions = 6)
      assert(spark.read.parquet(path).count() == li.count())
      // each parquet file must hold a contiguous range disjoint from the others
      val files = new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
      assert(files.length > 1, "expected multiple range files")
      val ranges = files.map { f =>
        val r = spark.read.parquet(f)
          .agg(min("l_orderkey"), max("l_orderkey")).head()
        (r.getLong(0), r.getLong(1))
      }.sortBy(_._1)
      ranges.sliding(2).foreach { case Array((_, hi), (lo2, _)) =>
        assert(hi <= lo2, s"overlapping file ranges: hi=$hi lo2=$lo2")
      }
    }
  }

  test("z-ordered write clusters files in BOTH dimensions; 1-D sort does not") {
    withTempDir { dir =>
      val base = dir.toString
      val li = Tables(spark, TestSpark.sf0001, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
      ScaleLayout.writeZOrdered(li, base + "/z", Seq("l_partkey", "l_suppkey"), partitions = 8)
      ScaleLayout.writeSortedRange(li, base + "/lin", "l_partkey", partitions = 8)
      assert(spark.read.parquet(base + "/z").count() == li.count())

      def fileBoxes(path: String): Array[(Long, Long, Long, Long)] =
        new java.io.File(path).listFiles()
          .filter(_.getName.endsWith(".parquet")).map { f =>
            val r = spark.read.parquet(f.getAbsolutePath).agg(
              min("l_partkey"), max("l_partkey"),
              min("l_suppkey"), max("l_suppkey")).head()
            (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
          }
      val zBoxes = fileBoxes(base + "/z")
      val linBoxes = fileBoxes(base + "/lin")
      assert(zBoxes.length > 2 && linBoxes.length > 2)

      // a predicate on the NON-sort dimension: bottom quarter of l_suppkey.
      // The 1-D layout's files each span ~the full suppkey range (no pruning);
      // the z-ordered files are boxes, so footer stats skip some files.
      val (sLo, sHi) = {
        val r = li.agg(min("l_suppkey"), max("l_suppkey")).head()
        (r.getLong(0), r.getLong(1))
      }
      val cut = sLo + (sHi - sLo) / 4
      def touching(boxes: Array[(Long, Long, Long, Long)]) =
        boxes.count { case (_, _, lo, hi) => lo <= cut }
      assert(touching(linBoxes) == linBoxes.length,
        "1-D layout unexpectedly clustered the second dimension")
      assert(touching(zBoxes) < zBoxes.length,
        s"z-order produced no second-dimension pruning: ${zBoxes.mkString(", ")}")
    }
  }

  test("mergeSchema reads a mixed-schema lake directory with NULL-filled old files") {
    withTempDir { dir =>
      val path = s"$dir/tbl"
      val orders = Tables(spark, TestSpark.sf0001, "orders")
      // v1 files: three columns; v2 files add o_orderpriority
      orders.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.mode("append").parquet(path)
      orders.filter(col("o_orderkey") % 2 =!= 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
        .write.mode("append").parquet(path)
      val merged = spark.read.option("mergeSchema", "true").parquet(path)
      assert(merged.columns.toSet ==
        Set("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"))
      assert(merged.count() == orders.count())
      // old files surface the evolved column as NULL, new files keep values
      assert(merged.filter(col("o_orderkey") % 2 === 0)
        .filter(col("o_orderpriority").isNotNull).count() == 0)
      assert(merged.filter(col("o_orderkey") % 2 =!= 0)
        .filter(col("o_orderpriority").isNull).count() == 0)
    }
  }

  test("salted join returns exactly the plain join's rows") {
    val events = Tables(spark, TestSpark.sf0001, "events")
      .select(col("user_id"), col("event_id"), col("value"))
    val users = events.select(col("user_id")).distinct()
      .withColumn("tier", pmod(col("user_id"), lit(3)))
    val plain = events.join(users, Seq("user_id"))
      .select("user_id", "event_id", "tier")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val salted = ScaleLayout.saltedJoin(events, users, "user_id", salts = 4)
      .select("user_id", "event_id", "tier")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(salted == plain)
  }
}
