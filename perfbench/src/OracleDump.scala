package perfbench

/** Writes `SparkEntry.oracleSql` as one JSON object (query name -> DuckDB
  * SQL) to the path given, so the expected answers can be computed before
  * the measured JVM starts.  No Spark session is created. */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val json = Bench.toJson(graft.SparkEntry.oracleSql)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(0)), json)
  }
}
