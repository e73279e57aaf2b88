package graft.pipeline

import org.apache.spark.sql.SparkSession

/** CLI entry point for the reference workload — the `pipeline.py` equivalent
  * (reference: pipeline.py:13-18): run the three steps fail-fast over a CSV
  * source directory into a parquet lake.
  *
  * Usage: OlistMain <csvSrcDir> <lakeDir> [master]
  *   csvSrcDir  directory containing the 9 Olist CSVs (main.py:21-31 names)
  *   lakeDir    output parquet lake (raw tables + dim_locations + master_table)
  *   master     spark master, default local[*]
  */
object OlistMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: OlistMain <csvSrcDir> <lakeDir> [master]")
    val Array(src, lake) = args.take(2)
    // The posture e2ebench measures this pipeline under (SparkPosture).
    val spark = graft.SparkPosture(SparkSession.builder())
      .master(if (args.length > 2) args(2) else "local[*]")
      .appName("olist-pipeline")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      OlistPipeline.runPipeline(spark, src, lake)
      val master = spark.read.parquet(s"$lake/master_table.parquet")
      graft.operators.Checks.assertPrimaryKey(master, Seq("order_id", "order_item_id"))
      println(s"master_table: ${master.count()} rows at $lake/master_table.parquet")
    } finally spark.stop()
  }
}
