package graft.tools

import graft.SparkPosture
import graft.SparkEntry

/** Quick `count()` timing of individual registry queries in the harness
  * session (local[N], shuffle.partitions=N); `graft.Bench` times the
  * materialized result. Usage:
  *   runMain graft.tools.TimeQ <sfDir> <qname> [<qname> ...]
  * Repeats the LIST order given — pass a query twice to see warm timings. */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = args.tail.toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Out-of-gate decades (sf10/sf100 probes) need more reduce partitions
    // than cores: at 600M-row shuffles, 32 partitions are ~2 GB each and
    // spill. Set SPARK_GRAFT_SHUFFLE above the core count and let AQE
    // coalesce small stages back down; the driver-gate default stays cpus.
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = SparkPosture.session(cpus, shuffle)
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.entry(spark).count() // untimed JVM/codegen warm-up
    names.foreach { name =>
      System.gc()
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, sfDir).count()
      println(f"[timeq] $name rows=$n t=${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    graft.operators.Dedup.releaseCaches(spark)
    spark.stop()
  }
}
