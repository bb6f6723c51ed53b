package perfbench

/** Writes `SparkEntry.oracleSql` for the named queries as one JSON
  * object, for `catalog.py --regenerate`.
  *
  * usage: OracleSql <q1,q2,...> <outFile>
  */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val Array(list, outFile) = args
    val sql = list.split(",").map(n => n -> graft.SparkEntry.oracleSql.getOrElse(n,
      throw new IllegalArgumentException(s"no oracle SQL for $n"))).toMap
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile),
      Harness.json(sql))
    Harness.emit("queries" -> sql.size)
  }
}
