package graft.tools

import java.nio.file.{Files, Paths}
import graft.{SparkEntry, SparkPosture, Verify}

/** Verify-style dump for a SUBSET of registry queries — self-check an
  * oracle against DuckDB without paying for the full 113-query sweep.
  * Usage: runMain graft.tools.VerifyOne <sfDir> <outDir> <qname> [...] */
object VerifyOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names = args.drop(2).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    // sf>=10 dumps want more reduce partitions than cores: at 600M-row
    // shuffles, 32 partitions are ~2 GB each and spill (AQE coalesces
    // small stages back down)
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = SparkPosture.session(cpus, shuffle)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      // repartition(16), NOT coalesce(16): coalesce fuses the query's
      // compute into 16 single-threaded writer tasks — round 13's q110
      // sf100 dump collapsed a 2048-cell bucket join into 16 tasks and
      // the largest ran HOURS behind the other 15 (partition-grain skew
      // created by the fusion itself; the data had no mega-bucket, max
      // cell 0.3% of candidates). The round-robin exchange costs one
      // shuffle of the RESULT rows (cheap relative to recomputing any
      // fused stage serially) and lets the query execute at full
      // parallelism. coalesce(1)'s original sin is the same shape, worse
      // constant (round 12: ~100M rows through one task for hours).
      SparkEntry.queries(name)(spark, sfDir).repartition(16)
        .write.mode("overwrite").parquet(s"$outDir/$name")
      SparkEntry.oracleSql.get(name).foreach(sql =>
        Files.writeString(Paths.get(s"$outDir/$name.sql"), sql))
    }
    // subset oracle_sql.json so tools/selfcheck.py runs directly on outDir
    val subset = SparkEntry.oracleSql.filter(kv => names.contains(kv._1))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      subset.map { case (k, v) => s"${Verify.jsonStr(k)}: ${Verify.jsonStr(v)}" }
        .mkString("{", ",", "}"))
    graft.operators.Dedup.releaseCaches(spark)
    spark.stop()
  }
}
