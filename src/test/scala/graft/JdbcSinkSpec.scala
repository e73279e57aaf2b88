package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Tables

/** The batched JDBC serving sink (reference scripts/main.py:55-62) against
  * an EMBEDDED Derby instance — a real JDBC endpoint in-JVM (the Derby jars
  * ship with the Spark distribution), so the spec exercises the actual
  * `df.write.jdbc` path: dialect type mapping, batched inserts, and
  * `overwrite` = drop-and-recreate (`if_exists='replace'`) semantics. */
class JdbcSinkSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  // keep Derby's log chatter out of the repo root
  System.setProperty("derby.stream.error.file", "/tmp/derby.log")
  private val url = "jdbc:derby:memory:graftjdbc;create=true"

  test("jdbcSink round-trips a dimension table through Derby") {
    val nation = Tables(spark, TestSpark.sf0001, "nation")
    Tables.jdbcSink(nation, url, "nation_serving")
    val back = Tables.jdbc(spark, url, "nation_serving")
    assert(back.count() === nation.count())
    val a = nation.orderBy("n_nationkey").collect().map(_.toSeq)
    val b = back.select("n_nationkey", "n_name", "n_regionkey")
      .orderBy("n_nationkey").collect().map(_.toSeq)
    assert(a.toSeq === b.toSeq)
  }

  test("overwrite is idempotent like if_exists='replace'") {
    val region = Tables(spark, TestSpark.sf0001, "region")
    Tables.jdbcSink(region, url, "region_serving")
    Tables.jdbcSink(region, url, "region_serving") // second write must replace
    assert(Tables.jdbc(spark, url, "region_serving").count() === region.count())
  }

  test("batchsize below the row count still lands every row (multi-batch path)") {
    // one partition of 25,000 rows: one connection flushes three 10k batches
    val rows = spark.range(0, 25000, 1, 1)
      .select(col("id").as("o_orderkey"), (col("id") % 97).as("o_custkey"))
    Tables.jdbcSink(rows, url, "orders_serving")
    val back = Tables.jdbc(spark, url, "orders_serving")
    assert(back.count() === 25000L)
    assert(back.agg(sum(col("o_orderkey"))).head.getLong(0) ===
      rows.agg(sum(col("o_orderkey"))).head.getLong(0))
  }
}
