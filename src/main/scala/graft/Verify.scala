package graft
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** Correctness dump: each query's result → parquet, plus oracle_sql.json,
  * for the DuckDB compare (`tools/selfcheck.py`).
  *   `bash tools/run.sh graft.Verify <sfDir> <outDir> [qname ...]`
  * dumps the whole registry, or only the queries named (an unknown name
  * fails before a session is built). `tools.FuzzVerify` dumps its seeded
  * instances through the same `dump`. */
object Verify {
  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  private[graft] def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Write `text` to `path` atomically (temp file beside it, then a move):
    * a kill mid-write never leaves a truncated file at `path`. */
  private[graft] def writeAtomically(path: Path, text: String): Unit = {
    Option(path.getParent).foreach(Files.createDirectories(_))
    val tmp = path.resolveSibling(s"${path.getFileName}.tmp")
    Files.write(tmp, text.getBytes(UTF_8))
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** The registry queries to dump: all of them when `names` is empty, else
    * exactly `names` (`Bench.select`: an unknown name throws). */
  private[graft] def selected(names: Seq[String]): Seq[Q] = {
    val oracle = SparkEntry.oracleSql
    Bench.select(SparkEntry.queries, names).map { case (n, run) => Q(n, run, oracle.get(n)) }
  }

  /** Dump each of `qs` to `outDir/<name>` and return how many failed. A
    * failure is printed and the rest still run. `outDir/oracle_sql.json`
    * (the oracle SQL of every query in `qs`) is deleted before the first
    * query and written atomically after the last, so its presence means
    * this run finished. */
  def dump(spark: SparkSession, sfDir: String, outDir: String, qs: Seq[Q]): Int = {
    // Scale affordances for the decade sweeps (sf10+), both OFF by default:
    //  - GRAFT_VERIFY_RESUME=1: skip queries already dumped (stamp below),
    //    so a multi-hour dump survives a JVM death.
    //  - GRAFT_VERIFY_COALESCE=0: keep the natural output partitioning.
    //    coalesce(1) collapses the FINAL STAGE to one task (up to the last
    //    shuffle boundary); every checker reads the dump through a
    //    /*.parquet glob, so multi-file output compares identically.
    val resume = sys.env.get("GRAFT_VERIFY_RESUME").contains("1")
    val single = !sys.env.get("GRAFT_VERIFY_COALESCE").contains("0")
    // Resume provenance: _SUCCESS alone can't tell WHICH code or corpus made
    // a dump. Each dump gets a _GRAFT_STAMP of (GRAFT_CODE_SHA, which the
    // sweep scripts export, plus sfDir); resume skips only on an exact match.
    val stamp = s"${sys.env.getOrElse("GRAFT_CODE_SHA", "unset")} $sfDir"
    def stampPath(name: String) = Paths.get(s"$outDir/$name/_GRAFT_STAMP")
    // The sweeps read a missing oracle_sql.json as "the dump crashed": a
    // copy left by an earlier run must not outlive this one's death.
    val manifest = Paths.get(s"$outDir/oracle_sql.json")
    Files.createDirectories(manifest.getParent)
    Files.deleteIfExists(manifest)
    var failed = 0
    qs.foreach { q =>
      try {
        val done = Files.exists(Paths.get(s"$outDir/${q.name}/_SUCCESS")) &&
          Files.exists(stampPath(q.name)) &&
          Files.readString(stampPath(q.name)) == stamp
        if (resume && done) {
          println(s"[verify] ${q.name} already dumped — resume skip (stamp match)")
        } else {
          val df = q.run(spark, sfDir)
          (if (single) df.coalesce(1) else df).write.mode("overwrite")
            .parquet(s"$outDir/${q.name}")
          Files.writeString(stampPath(q.name), stamp)
        }
      } catch { case NonFatal(e) =>
        failed += 1
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
        // no partial output, and no earlier run's dump left to compare
        val dir = new org.apache.hadoop.fs.Path(s"$outDir/${q.name}")
        dir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dir, true)
      }
    }
    graft.operators.Dedup.releaseCaches(spark) // free memoized persists
    writeAtomically(manifest, qs.flatMap(q => q.oracle.map(q.name -> _))
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }
      .mkString("{", ",", "}"))
    failed
  }

  /** The dump mains' session: `SPARK_GRAFT_CPUS` cores (default 4) and
    * `SPARK_GRAFT_SHUFFLE` shuffle partitions (default the cores; results
    * must not depend on it). Log level ERROR: the registry's bounded
    * global windows WARN once per query; failure lines go to System.err. */
  private[graft] def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkPosture.session(cpus, sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus))
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Verify <sfDir> <outDir> [qname ...]")
    val qs = selected(args.toSeq.drop(2))
    val spark = session()
    dump(spark, args(0), args(1), qs) // exit 0: the compare reports each missing dump
    spark.stop()
  }
}
