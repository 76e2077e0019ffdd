package graftbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.expressions.XXH64

/** Result checks: digests of query results and the reference pipeline's
  * expected outputs. Comparisons run after the timer stops.
  */
object Check {

  /** Order-independent digest of a full result: the row count plus the
    * wrapping 64-bit sum of every row's hash.
    */
  final case class Digest(rows: Long, hash: String)

  /** Executes `df` once, the way graft's Bench times a query
    * (`queryExecution.toRdd`, every row materialized), and folds each
    * row's canonical binary form into a [[Digest]] inside the same job.
    * So an op is executed and checked in one go; comparing the digest
    * with the expected one happens after the timer stops.
    */
  def digest(df: DataFrame): Digest = {
    val schema = df.schema
    val (n, h) = df.queryExecution.toRdd.mapPartitions { rows =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L; var h = 0L
      rows.foreach { r =>
        val u = proj(r)
        n += 1
        h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
      }
      Iterator.single((n, h))
    }.fold((0L, 0L)) { case ((n1, h1), (n2, h2)) => (n1 + n2, h1 + h2) }
    Digest(n, java.lang.Long.toUnsignedString(h))
  }

  /** name → expected digest, from the JSON file stored with the benchmark. */
  def readDigests(f: File): Map[String, Digest] = {
    val root = new ObjectMapper().readTree(f)
    root.get("ops").properties().asScala.map { e =>
      e.getKey -> Digest(e.getValue.get("rows").asLong(), e.getValue.get("hash").asText())
    }.toMap
  }

  def writeDigests(f: File, tables: String, ds: Seq[(String, Digest)]): Unit = {
    val ops = ds.sortBy(_._1).map { case (n, d) =>
      s"  ${Json.str(n)}: {\"rows\": ${d.rows}, \"hash\": ${Json.str(d.hash)}}" }
    java.nio.file.Files.writeString(f.toPath,
      s"{\"tables\": ${Json.str(tables)},\n\"ops\": {\n${ops.mkString(",\n")}\n}}\n")
    ()
  }

  /** Problems with a query result, empty when it matches. */
  def query(expected: Map[String, Digest], name: String, got: Digest): Seq[String] =
    expected.get(name) match {
      case None => Seq(s"$name: no expected digest")
      case Some(e) if e != got => Seq(s"$name: expected ${e.rows} rows / ${e.hash}, got ${got.rows} / ${got.hash}")
      case _ => Nil
    }

  def readEtlExpected(f: File): Gen.EtlExpected = {
    val n = new ObjectMapper().readTree(f)
    val groups = n.get("groups").properties().asScala.map { e =>
      e.getKey -> (e.getValue.get(0).asLong(), e.getValue.get(1).asLong())
    }.toMap
    Gen.EtlExpected(n.get("seed").asLong(), n.get("rows").asLong(), n.get("good").asLong(),
      n.get("malformed").asLong(), n.get("bytes").asLong(), groups)
  }

  /** Problems with one pipeline run's per-branch row counts. */
  def etlCounts(e: Gen.EtlExpected, counts: Map[String, Long]): Seq[String] = {
    val want = Map("raw" -> e.good, "agg" -> e.groups.size.toLong, "dead_letter" -> e.malformed)
    want.toSeq.sortBy(_._1).flatMap { case (b, n) =>
      val got = counts.getOrElse(b, -1L)
      if (got == n) None else Some(s"branch $b wrote $got rows, expected $n")
    }
  }

  /** Problems with the aggregate sink's contents: (key, count, sum) rows. */
  def etlGroups(e: Gen.EtlExpected, rows: Seq[(String, Long, Long)]): Seq[String] = {
    val got = rows.map { case (k, n, s) => k -> (n, s) }.toMap
    val missing = e.groups.keySet.diff(got.keySet).toSeq.sorted.map(k => s"group $k missing")
    val extra = got.keySet.diff(e.groups.keySet).toSeq.sorted.map(k => s"unexpected group $k")
    val wrong = e.groups.toSeq.sortBy(_._1).collect {
      case (k, v) if got.get(k).exists(_ != v) => s"group $k: expected $v, got ${got(k)}"
    }
    missing ++ extra ++ wrong ++
      (if (rows.size != got.size) Seq(s"${rows.size - got.size} duplicate group rows") else Nil)
  }
}

/** Operations attempted and failed in one run. An op that errors or
  * returns a wrong result is a failure; `failedFrac` is the share.
  */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val messages = mutable.ArrayBuffer.empty[String]

  def attempt(): Unit = attempted += 1

  def fail(msg: String): Unit = {
    failed += 1
    if (messages.size < 50) messages += msg
  }

  def failedFrac: Double = failed.toDouble / math.max(1L, attempted)
}
