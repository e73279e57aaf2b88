package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TempDirs.withTempDir
import graft.sources.Tables

/** Source-format breadth beyond the reference's CSV/parquet (SURVEY.md §2.1):
  * JSON-lines and ORC round-trips, malformed-record isolation on the CSV
  * path, and compression-codec round-trips — the ingest surface a lake
  * actually faces.
  */
class SourcesSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def orders = Tables(spark, TestSpark.sf0001, "orders")

  test("JSON-lines round-trip preserves rows and types under an explicit schema") {
    withTempDir { tmp =>
      val dir = s"$tmp/orders"
      orders.write.mode("overwrite").json(dir)
      val schema = StructType(Seq(
        StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
        StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
        StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))
      val back = spark.read.schema(schema).json(dir)
      assert(back.count() == orders.count())
      val a = orders.agg(sum("o_orderkey"), sum("o_totalprice")).head()
      val b = back.agg(sum("o_orderkey"), sum("o_totalprice")).head()
      assert(a.getLong(0) == b.getLong(0))
      assert(math.abs(a.getDouble(1) - b.getDouble(1)) < 1e-6)
    }
  }

  test("ORC round-trip preserves rows and schema") {
    withTempDir { tmp =>
      val dir = s"$tmp/orders"
      orders.write.mode("overwrite").orc(dir)
      val back = spark.read.orc(dir)
      assert(back.schema == orders.schema)
      assert(back.count() == orders.count())
      assert(back.agg(sum("o_orderkey")).head().getLong(0) ==
        orders.agg(sum("o_orderkey")).head().getLong(0))
    }
  }

  test("PERMISSIVE CSV captures malformed rows in _corrupt_record; DROPMALFORMED drops them") {
    withTempDir { tmp =>
      val f = tmp.resolve("data.csv").toFile
      val w = new java.io.PrintWriter(f)
      w.println("id,amount,label")
      w.println("1,10.5,ok")
      w.println("2,not_a_number,bad")   // malformed double
      w.println("3,30.25,ok")
      w.close()
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("amount", DoubleType),
        StructField("label", StringType), StructField("_corrupt_record", StringType)))
      val permissive = spark.read
        .option("header", "true").option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(schema).csv(f.getAbsolutePath)
        .cache() // corrupt-record column requires materializing the full row
      assert(permissive.count() == 3)
      val corrupt = permissive.filter(col("_corrupt_record").isNotNull)
        .select("_corrupt_record").as[String].collect()
      assert(corrupt.toSeq == Seq("2,not_a_number,bad"))
      // clean rows parse fully
      assert(permissive.filter(col("_corrupt_record").isNull)
        .agg(sum("amount")).head().getDouble(0) == 40.75)
      permissive.unpersist()

      val dropped = spark.read
        .option("header", "true").option("mode", "DROPMALFORMED")
        .schema(StructType(schema.fields.dropRight(1)))
        .csv(f.getAbsolutePath)
      // count() takes a no-parse fast path that cannot detect malformation;
      // only fully-materialized rows are dropped — a real pitfall worth pinning
      assert(dropped.collect().length == 2)
    }
  }

  test("parquet compression codecs round-trip (zstd, snappy)") {
    withTempDir { tmp =>
      Seq("zstd", "snappy").foreach { codec =>
        val dir = s"$tmp/$codec"
        orders.write.mode("overwrite")
          .option("compression", codec).parquet(dir)
        assert(spark.read.parquet(dir).count() == orders.count())
        val files = new java.io.File(dir).listFiles().map(_.getName)
        assert(files.exists(_.contains(codec)), s"no $codec-suffixed files: ${files.toSeq}")
      }
    }
  }
}
