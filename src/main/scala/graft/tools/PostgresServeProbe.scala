package graft.tools

import java.nio.file.{Files, Paths}

/** Spark side of the real-Postgres serving round-trip (closes the r14
  * "missing #2" carry as far as this sandbox allows). The reference serves
  * Superset from Postgres via pandas `to_sql` (docker-compose.yml:21-47,
  * scripts/main.py:55-62); our `Tables.jdbcSink` mirrors its batched
  * overwrite semantics and is JDBC-proven against embedded Derby
  * (JdbcSinkSpec). The missing half was the POSTGRES DIALECT: does the DDL
  * Spark would emit, and the values the engine computes, survive a real
  * PostgreSQL server byte-exactly? The sandbox has no Postgres JDBC driver
  * (zero egress) but DOES ship PostgreSQL 15 — so the probe splits the
  * path at the wire: this tool emits (a) the CREATE TABLE DDL rendered by
  * Spark's own PostgresDialect (JdbcDialects.get — the exact types
  * `df.write.jdbc` would create), (b) the master table as CSV for COPY,
  * and (c) the same rows as parquet ground truth; tools/pg_serve_probe.sh
  * then drives a real unix-socket Postgres through CREATE/COPY-in/COPY-out
  * and DuckDB multiset-compares the round-tripped rows against (c).
  *
  * Timestamps are written `yyyy-MM-dd HH:mm:ss.SSSSSS` (Postgres's ISO
  * form without the 'T'/zone Spark's CSV default carries — a TIMESTAMP
  * column would reject the 'Z'); NULLs are `\N` so empty strings stay
  * distinct.
  *
  * Usage: tools/run.sh graft.tools.PostgresServeProbe [sfDir] [outDir]
  */
object PostgresServeProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse("/tmp/pg_serve")
    val spark = graft.SparkPosture.session("8")
    spark.sparkContext.setLogLevel("ERROR")

    val m = graft.operators.Master(spark, sfDir)
    val dialect = org.apache.spark.sql.jdbc.JdbcDialects
      .get("jdbc:postgresql://localhost/serve")
    val cols = m.schema.fields.map { f =>
      val t = dialect.getJDBCType(f.dataType)
        .orElse(org.apache.spark.sql.execution.datasources.jdbc.JdbcUtils
          .getCommonJDBCType(f.dataType))
        .getOrElse(sys.error(s"no jdbc type for ${f.name}: ${f.dataType}"))
      s"""  "${f.name}" ${t.databaseTypeDefinition}"""
    }
    val ddl = cols.mkString("CREATE TABLE master_serve (\n", ",\n", "\n);\n")
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(s"$outDir/ddl.sql"), ddl)

    m.coalesce(1).write.mode("overwrite")
      .option("header", "false")
      .option("nullValue", "\\N")
      .option("emptyValue", "\"\"")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
      .csv(s"$outDir/csv")
    m.coalesce(1).write.mode("overwrite").parquet(s"$outDir/parquet")
    println(s"[pg-probe] rows=${m.count()} cols=${m.schema.fields.length}")
    println(s"[pg-probe] dialect=${dialect.getClass.getSimpleName}")
    println(ddl)
    spark.stop()
  }
}
