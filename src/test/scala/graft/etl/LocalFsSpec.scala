package graft.etl

import graft.SparkTestSession
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class LocalFsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Commands of the processes the JVM started while `body` ran. */
  private def processesStarted(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally { rec.stop(): Unit }
    val f = Files.createTempFile("graft_fs", ".jfr")
    try {
      rec.dump(f)
      jdk.jfr.consumer.RecordingFile.readAllEvents(f).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally { rec.close(); Files.delete(f) }
  }

  test("the session serves file: with LocalFs and checkpoints through the FileSystem manager") {
    val fs = FileSystem.get(new URI("file:///"), spark.sparkContext.hadoopConfiguration)
    assert(fs.getClass === classOf[LocalFs])
    assert(FileSystem.getLocal(spark.sparkContext.hadoopConfiguration).getClass === classOf[LocalFs])
    assert(spark.conf.get("spark.sql.streaming.checkpointFileManagerClass") ===
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
  }

  test("a stateful checkpointed stream and a parquet sink fork no chmod or readlink") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_localfs")
    val in = root.resolve("in")
    Files.createDirectories(in)
    Seq(0, 1, 2).foreach { i =>
      Files.writeString(in.resolve(s"part-$i.json"),
        (0 until 20).map(j => s"""{"k": ${j % 3}, "v": ${i * 20 + j}}""").mkString("\n"))
    }
    var batches = 0
    val commands = processesStarted {
      val q = spark.readStream.schema("k INT, v INT").option("maxFilesPerTrigger", 1)
        .json(in.toString)
        .groupBy("k").count()
        .writeStream.format("memory").queryName("localfs_counts").outputMode("complete")
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      batches = q.recentProgress.count(_.numInputRows > 0)
      Sinks.parquet(spark.table("localfs_counts"), root.resolve("out").toString)
    }
    assert(batches >= 2)
    assert(spark.read.parquet(root.resolve("out").toString).as[(Int, Long)]
      .collect().toMap === Map(0 -> 21L, 1 -> 21L, 2 -> 18L))
    val forks = commands.filter { c =>
      val exe = c.trim.split("\\s+").head
      Seq("chmod", "readlink").exists(n => exe == n || exe.endsWith(s"/$n"))
    }
    assert(forks.isEmpty, s"${forks.size} chmod/readlink processes, e.g. ${forks.take(3)}")
  }

  test("LocalFs sets the same permissions as Hadoop's own chmod path") {
    val root = Files.createTempDirectory("graft_perm")
    def fs(raw: RawLocalFileSystem) = { raw.initialize(new URI("file:///"), new Configuration()); raw }
    val stock = fs(new RawLocalFileSystem)
    val ours = fs(new LocalFs.Raw)
    for (mode <- Seq("644", "755", "600", "700", "000"); dir <- Seq(false, true)) {
      val perm = new FsPermission(Integer.parseInt(mode, 8).toShort)
      val got = Seq("stock" -> stock, "ours" -> ours).map { case (side, sys) =>
        val p = root.resolve(s"$side-$mode-$dir")
        if (dir) Files.createDirectory(p) else Files.createFile(p)
        sys.setPermission(new Path(p.toUri), perm)
        Files.getPosixFilePermissions(p)
      }
      assert(got(1) === got(0), s"mode $mode dir=$dir")
      assert(got(1) === PosixFilePermissions.fromString(perm.toString), s"mode $mode dir=$dir")
    }
  }
}
