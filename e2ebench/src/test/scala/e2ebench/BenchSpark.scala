package e2ebench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** One small local session shared by the harness specs. */
object BenchSpark {
  lazy val work = Files.createTempDirectory(
    Files.createDirectories(Paths.get(System.getProperty("java.io.tmpdir"))), "e2ebench-spec")
  lazy val spark: SparkSession = {
    val s = Main.session(2, work)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
