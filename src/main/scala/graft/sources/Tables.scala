package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types._

/** Readers for the driver testdata star schema (TESTDATA.md / FIXTURES.md §1)
  * and generic CSV ingestion mirroring the reference's raw-load step
  * (reference: scripts/main.py:39-64 — CSV → overwrite table).
  *
  * Parquet carries its own schema, so `apply` trusts the file footer (the
  * vectorized reader + Catalyst column pruning make explicit schemas
  * redundant for parquet). Explicit StructTypes are still exposed for the
  * CSV path, where the reference relies on pandas inference
  * (scripts/main.py:49) but we prefer determinism (SURVEY.md §1.3).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The session's DataFrame for table `name` under `dir`, built once per
    * (session, dir, name) and kept in [[graft.operators.SessionLedger]]
    * (optimization r18, guide §6 "file listing"): every
    * `spark.read.parquet(path)` builds a fresh InMemoryFileIndex (file
    * listing) and re-reads the footer for schema inference — driver-side
    * metadata work repeated by every query builder for every table
    * reference (measured: q74's six table reads cost 0.3–0.4 s of build
    * time per bench sample BEFORE any execution). Results are unaffected:
    * the kept plan is what a fresh read would build, and execution still
    * scans parquet every run. The plans live until the session's
    * application ends; `Dedup.releaseCaches` keeps them. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.operators.SessionLedger.table(spark, dir, name)(build(spark, dir, name))

  private def build(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // events.parquet has shipped with two physical layouts for `ts`:
      // TIMESTAMP(NANOS) (unsupported by Spark's vectorized reader — read
      // the raw int64 nanos and truncate to micros, matching DuckDB's
      // ns→us conversion; integer `div`, not double division, because
      // epoch-nanos exceed 2^53) and native TIMESTAMP(MICROS) with
      // isAdjustedToUTC=false (surfaces as TIMESTAMP_NTZ). Normalize both
      // to session-zoned TimestampType (session tz is pinned UTC) so every
      // downstream operator sees one type.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = read(spark, dir, name)
      df.schema("ts").dataType match {
        case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case TimestampType => df
        case _ => df.withColumn("ts", df("ts").cast(TimestampType))
      }
    } else {
      read(spark, dir, name)
    }

  private def read(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** CSV scan with explicit schema (reference S1, main.py:44-49, but with
    * deterministic types instead of inference). header=true matches the
    * reference's header-row handling. */
  def csv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** CSV scan with inference — byte-for-byte fidelity to main.py:49. */
  def csvInferred(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  /** Overwrite parquet sink — the reference's idempotent raw layer
    * (main.py:55-62, `if_exists='replace'`) re-expressed as
    * `mode("overwrite")`; SURVEY.md §7.4 item 5.
    *
    * Deliberately a DIRECT overwrite, not the stage+swap protocol the
    * derived-artifact writers use (ScaleLayout.writeStaged,
    * Curation.exportEpoch): the raw/lake layer's recovery story is
    * re-running the load from the upstream source of truth (the
    * `if_exists='replace'` semantics being mirrored — runPipeline is
    * idempotent, spec-pinned), whereas derived exports are consumed live
    * and must stay readable through a failed rebuild. */
  def overwrite(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** Batched JDBC sink — the reference's ACTUAL serving-layer write
    * (scripts/main.py:55-62: `to_sql(..., if_exists='replace',
    * method='multi', chunksize=10000)`) re-expressed on Spark's parallel
    * JDBC writer: every partition opens its own connection and flushes
    * 10,000-row multi-row batches (`addBatch`/`executeBatch` — the exact
    * analog of pandas' `method='multi'` + `chunksize`), and overwrite
    * drops and recreates the table like `if_exists='replace'`.
    *
    * Scale contrast with the reference: pandas funnels the whole relation
    * through ONE driver-side connection; here write parallelism equals the
    * partition count, so the sink saturates the database, not the driver.
    * Cap concurrent connections for a fragile serving DB by coalescing
    * first (`df.coalesce(n)`), not by shrinking the batch. */
  def jdbcSink(df: DataFrame, url: String, table: String): Unit =
    df.write.mode("overwrite").option("batchsize", 10000)
      .jdbc(url, table, new java.util.Properties())

  /** JDBC readback (serving-layer verification / reverse ETL). */
  def jdbc(spark: SparkSession, url: String, table: String): DataFrame =
    spark.read.jdbc(url, table, new java.util.Properties())

  /** Explicit schemas for the testdata tables (FIXTURES.md §1) — used by
    * unit tests and by any CSV round-trip of the same shapes. */
  val schemas: Map[String, StructType] = Map(
    "lineitem" -> StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampType))),
    "orders" -> StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType))),
    "customer" -> StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType))),
    "supplier" -> StructType(Seq(
      StructField("s_suppkey", LongType), StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType), StructField("s_acctbal", DoubleType))),
    "part" -> StructType(Seq(
      StructField("p_partkey", LongType), StructField("p_name", StringType),
      StructField("p_brand", StringType), StructField("p_type", StringType),
      StructField("p_size", IntegerType), StructField("p_retailprice", DoubleType))),
    "nation" -> StructType(Seq(
      StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType))),
    "region" -> StructType(Seq(
      StructField("r_regionkey", IntegerType), StructField("r_name", StringType))),
    "events" -> StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))),
    "documents" -> StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))),
    "embeddings" -> StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType))))
}
