package graft

import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

/** Dev tool: Verify restricted to the named queries — fast inner loop for
  * checking one operator against its DuckDB oracle via
  * `tools/local_verify.py` without running the whole suite.
  *
  * Usage: runMain graft.Probe <sfDir> <outDir> <query...>
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1); val names = args.drop(2).toSet
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => names(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[probe] $name failed: ${e.getMessage}")
      }
      Caches.releaseAll()
      spark.catalog.clearCache()
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
