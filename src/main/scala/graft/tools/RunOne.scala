package graft.tools

/** Dev tool: run ONE registered query and dump it like Verify does. */
object RunOne {
  def main(args: Array[String]): Unit = {
    val (name, sf, out) = (args(0), args(1), args(2))
    val spark = graft.Sessions.local()
    val t0 = System.nanoTime()
    graft.SparkEntry.queries(name)(spark, sf)
      .write.mode("overwrite").parquet(s"$out/$name")
    System.err.println(f"[runone] $name in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    // staged oracles reference anchor dumps under {{GRAFT_OUT}}: bind
    // to this out dir (run the anchor query into the SAME dir first)
    val outAbs = java.nio.file.Paths.get(out).toAbsolutePath.toString
    val json = graft.SparkEntry.oracleSql.get(name).map { sql0 =>
      val sql = sql0.replace(graft.oracle.OracleSql.OutDirToken, outAbs)
      val m = com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
      "{\"" + name + "\": " + new String(m.writeValueAsBytes(sql)) + "}"
    }.getOrElse("{}")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$out/oracle_sql.json"), json.getBytes("UTF-8"))
    spark.stop()
  }
}
