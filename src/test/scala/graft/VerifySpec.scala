package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TempDirs.withTempDir

/** `Verify.dump`, the one oracle-dump path (the registry dump, named
  * subsets, the fuzz instances): exactly the queries asked for, a failure
  * counted without stopping the rest, and an `oracle_sql.json` that exists
  * only once the run finished. */
class VerifySpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def dirsIn(out: Path): Set[String] = {
    val ls = Files.list(out)
    try ls.iterator().asScala.filter(Files.isDirectory(_))
      .map(_.getFileName.toString).toSet
    finally ls.close()
  }

  /** oracle_sql.json as a name → SQL map, parsed by Spark's JSON reader. */
  private def manifest(out: Path): Map[String, String] = {
    val df = spark.read.json(out.resolve("oracle_sql.json").toString)
    val row = df.head()
    df.columns.map(c => c -> row.getAs[String](c)).toMap
  }

  test("named queries dump exactly those directories and oracle SQL") {
    val names = Seq("q01_pricing_summary", "q29_asof_join")
    withTempDir { out =>
      val failed = Verify.dump(spark, TestSpark.sf0001, out.toString,
        Verify.selected(names))
      assert(failed == 0)
      assert(dirsIn(out) == names.toSet)
      assert(manifest(out) == names.map(n => n -> SparkEntry.oracleSql(n)).toMap)
      names.foreach(n => assert(Files.exists(out.resolve(s"$n/_SUCCESS")), n))
    }
  }

  test("no names selects the whole registry, with its oracle SQL") {
    val qs = Verify.selected(Nil)
    assert(qs.map(_.name).toSet == SparkEntry.queries.keySet)
    assert(qs.flatMap(q => q.oracle.map(q.name -> _)).toMap == SparkEntry.oracleSql)
  }

  test("an unknown name fails before anything is written, and the error names it") {
    withTempDir { tmp =>
      val out = tmp.resolve("out")
      val e = intercept[IllegalArgumentException] {
        Verify.main(Array(TestSpark.sf0001, out.toString, "q01_pricing_summary", "q_nope"))
      }
      assert(e.getMessage.contains("q_nope"))
      assert(!Files.exists(out))
    }
  }

  test("a failing query gets no directory and is counted; the others still dump") {
    val boom = Q("q_boom",
      (s, _) => s.range(3).select(raise_error(lit("boom")).as("x")), Some("SELECT 1 AS x"))
    val ok = Q("q_ok", (s, _) => s.range(3).toDF(), Some("SELECT range AS id FROM range(3)"))
    withTempDir { out =>
      assert(Verify.dump(spark, "", out.toString, Seq(boom, ok)) == 1)
      assert(dirsIn(out) == Set("q_ok"))
      // the failed query's oracle stays listed: the compare reports it missing
      assert(manifest(out).keySet == Set("q_boom", "q_ok"))
    }
  }

  test("a stale oracle_sql.json is gone while the dump runs and replaced at its end") {
    withTempDir { out =>
      val json = out.resolve("oracle_sql.json")
      Files.writeString(json, """{"q_stale": "SELECT 1"}""")
      val probe = Q("q_probe", (s, _) => {
        assert(!Files.exists(json), "oracle_sql.json present while the dump runs")
        s.range(1).toDF()
      }, Some("SELECT 0 AS id"))
      assert(Verify.dump(spark, "", out.toString, Seq(probe)) == 0)
      assert(manifest(out) == Map("q_probe" -> "SELECT 0 AS id"))
      assert(!Files.exists(out.resolve("oracle_sql.json.tmp")))
    }
  }
}
