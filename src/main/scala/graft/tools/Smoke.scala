package graft.tools

import graft.{SparkEntry, SparkPosture}

/** Flagship smoke for tools/gate.sh: the driver's rows>0 check, runnable
  * locally so a round can never snapshot a build that fails it. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkPosture.session("4")
    spark.sparkContext.setLogLevel("WARN")
    val n = SparkEntry.entry(spark).count()
    spark.stop()
    require(n > 0, s"flagship returned $n rows")
    println(s"[smoke] flagship rows=$n")
  }
}
