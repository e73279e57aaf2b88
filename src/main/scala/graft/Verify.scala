package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    * Shared with tools.FuzzVerify, whose oracle_sql.json must stay
    * byte-compatible with the driver-format compare tools. */
  private[graft] def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Partition-count-independence probe: results must be byte-identical
    // at ANY shuffle.partitions (a cluster runs thousands, the gate runs
    // cpus). Default stays cpus — the driver contract is unchanged.
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = SparkPosture.session(cpus, shuffle)
    // ERROR: the registry's bounded global windows WARN once per query and
    // the spam buries the real signal — [verify] failure lines go through
    // System.err directly and are unaffected by the log level.
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    // Scale affordances for the out-of-gate decade sweeps (r17, sf10+).
    // Both default OFF so the driver contract is byte-identical:
    //  - GRAFT_VERIFY_RESUME=1: skip queries whose output dir already has
    //    a _SUCCESS marker — a multi-hour sf10 dump survives a JVM death
    //    without recomputing the finished anchors.
    //  - GRAFT_VERIFY_COALESCE=0: keep the natural output partitioning.
    //    coalesce(1) collapses the FINAL STAGE to one task (it propagates
    //    up to the last shuffle boundary), which serializes a 60M-row
    //    master build at sf10; every checker reads the dump through a
    //    /*.parquet glob, so multi-file output compares identically.
    val resume = sys.env.get("GRAFT_VERIFY_RESUME").contains("1")
    val single = !sys.env.get("GRAFT_VERIFY_COALESCE").contains("0")
    // Resume provenance (ADVICE r17): _SUCCESS alone can't tell WHICH code
    // or corpus produced a dump — a resumed sweep could adjudicate stale
    // dumps from an older binary (or another sfDir pointed at the same
    // outDir) as current evidence. Each dump gets a _GRAFT_STAMP of
    // (code sha from GRAFT_CODE_SHA — the sweep scripts export
    // `git rev-parse HEAD` — plus sfDir); resume skips ONLY on an exact
    // stamp match and recomputes otherwise.
    val stamp = s"${sys.env.getOrElse("GRAFT_CODE_SHA", "unset")} $sfDir"
    def stampPath(name: String) = Paths.get(s"$outDir/$name/_GRAFT_STAMP")
    SparkEntry.queries.foreach { case (name, fn) =>
      try {
        val done = Files.exists(Paths.get(s"$outDir/$name/_SUCCESS")) &&
          Files.exists(stampPath(name)) &&
          Files.readString(stampPath(name)) == stamp
        if (resume && done) {
          println(s"[verify] $name already dumped — resume skip (stamp match)")
        } else {
          val df = fn(spark, sfDir)
          (if (single) df.coalesce(1) else df).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          Files.writeString(stampPath(name), stamp)
        }
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    graft.operators.Dedup.releaseCaches(spark) // free memoized persists
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
