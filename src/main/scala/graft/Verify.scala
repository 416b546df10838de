package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare, and
  * errors.json naming each query that threw (`{}` when none did). */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local(GraftSession.cpus(4))
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.filter(kv => SparkEntry.selected(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        errors(name) = failureHead(e)
        System.err.println(s"[verify] $name failed: ${errors(name)}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      jsonObject(SparkEntry.oracleSql.filter(kv => SparkEntry.selected(kv._1))))
    Files.writeString(Paths.get(s"$outDir/errors.json"), jsonObject(errors))
    SparkEntry.clearCaches(spark)
    spark.stop()
  }

  /** `Class: first message line` (≤ 200 chars): how Verify and Bench
    * name a failed query. */
  def failureHead(e: Throwable): String =
    s"${e.getClass.getName}: " +
      Option(e.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse("").take(200)

  def jsonObject(kvs: Iterable[(String, String)]): String =
    kvs.map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in hand-written oracle SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
