package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated name prefixes — dump only the
    // matching queries (local iteration on a new operator; the driver
    // passes 2 args and dumps everything)
    val only = args.drop(2).headOption.map(_.split(",").toSeq)
    val spark = Session.local()
    dump(spark, sfDir, outDir, only)
    spark.stop()
  }

  /** Writes every registered query whose name starts with one of `only`'s
    * prefixes (all of them when `only` is None) to `outDir/<name>`, and
    * the full oracle map to `outDir/oracle_sql.json`. Leaves `spark`
    * running: `Session.local()` is `getOrCreate`, so the caller owns it. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           only: Option[Seq[String]]): Unit = {
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // release any frames the query persisted (dedup self-join indexes)
      // so 60+ queries' caches don't accumulate in one JVM
      Caches.releaseAll()
      spark.catalog.clearCache()
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json): Unit
  }

  /** `s` as a quoted JSON string: escapes the quote, the backslash and
    * ALL control chars (< 0x20) — a tab or CR in an oracle's SQL or an
    * error message would otherwise break the JSON reader downstream.
    */
  private[graft] def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
