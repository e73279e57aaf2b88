package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TempDirs.withTempDir

/** Drives `Bench.select`/`Bench.sweep`/`Bench.report` with a tiny
  * registry: named queries pick the sweep, a query is timed by
  * materializing every column, a failure is a status and an exit code
  * (never a sample), and a clean query gets one sample per pass. */
class BenchSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  // The non-key column throws when evaluated; count() never evaluates it.
  private val poisoned: Bench.Query = (s, _) =>
    s.range(100).select(col("id"),
      when(col("id") >= 0, raise_error(lit("poisoned column evaluated"))).as("payload"))
  private val throwing: Bench.Query = (_, _) =>
    throw new IllegalStateException("query construction failed")
  private val clean: Bench.Query = (s, _) => s.range(10).toDF()

  test("a query whose non-key column throws is failed, although count() passes") {
    assert(poisoned(spark, "").count() == 100)
    val run = Bench.sweep(spark, "", Seq("q_poisoned" -> poisoned), passes = 2)
    assert(run.status("q_poisoned").startsWith("failed: "))
    assert(run.status("q_poisoned").contains("poisoned column evaluated"))
    assert(!run.samples.contains("q_poisoned"))
    assert(run.failed == 1)
  }

  test("a throwing query is failed, contributes no sample and signals a non-zero exit") {
    val run = Bench.sweep(spark, "",
      Seq("q_clean" -> clean, "q_throwing" -> throwing), passes = 2)
    assert(run.status("q_throwing") ==
      "failed: java.lang.IllegalStateException: query construction failed")
    assert(!run.samples.contains("q_throwing"))
    assert(run.exitCode != 0)
    val (line, artifact) = withTempDir { dir =>
      val out = dir.resolve("bench.json")
      (Bench.report(run, "sfX", "4", 2, out.toString), Files.readString(out))
    }
    assert(line.contains("\"failed\":1,"))
    assert(artifact.contains(
      "\"q_throwing\":{\"status\":\"failed: java.lang.IllegalStateException"))
    assert(artifact.contains("\"q_clean\":{\"status\":\"ok\",\"samples\":["))
    // the total is the clean query's median alone
    val total = "\"value\":([0-9.]+)".r.findFirstMatchIn(line).get.group(1).toDouble
    val cleanMed = "\"queries\":\\{\"q_clean\":([0-9.]+)\\}".r
      .findFirstMatchIn(artifact).get.group(1).toDouble
    assert(total == cleanMed)
  }

  test("a clean query gets one sample per pass and status ok") {
    val run = Bench.sweep(spark, "", Seq("q_clean" -> clean), passes = 3)
    assert(run.status("q_clean") == "ok")
    assert(run.samples("q_clean").length == 3)
    assert(run.samples("q_clean").forall(_ > 0))
    assert(run.failed == 0 && run.exitCode == 0)
  }

  test("the median is warm: pass 1 is reported as cold, not sampled into the median") {
    val run = Bench.Sweep(Seq("q_x"), Map("q_x" -> Vector(10.0, 1.0, 2.0)), Map.empty)
    val (line, artifact) = withTempDir { dir =>
      val out = dir.resolve("bench.json")
      (Bench.report(run, "sfX", "4", 3, out.toString), Files.readString(out))
    }
    assert(line.contains("\"value\":1.5,"))
    assert(artifact.contains("\"median\":1.5,\"cold\":10.0"))
    assert(artifact.contains("\"queries\":{\"q_x\":1.5}"))
  }

  private val registry = Map("q_b" -> clean, "q_a" -> clean, "q_c" -> throwing)

  test("no names selects the whole registry in name order") {
    assert(Bench.select(registry, Nil).map(_._1) == Seq("q_a", "q_b", "q_c"))
  }

  test("names select exactly those queries, in the given order") {
    val picked = Bench.select(registry, Seq("q_c", "q_a", "q_c"))
    assert(picked.map(_._1) == Seq("q_c", "q_a"))
    assert(picked.head._2 eq throwing)
  }

  test("an unknown name fails selection and the error names it") {
    val e = intercept[IllegalArgumentException](
      Bench.select(registry, Seq("q_a", "q_nope")))
    assert(e.getMessage.contains("q_nope"))
    assert(!e.getMessage.contains("q_a"))
  }
}
