package graft.etl

import org.scalatest.funsuite.AnyFunSuite

class TmpDirsSpec extends AnyFunSuite {
  test("the scratch budget defaults to 8 GiB and takes a positive whole number of GiB") {
    assert(TmpDirs.scratchMinGb(None) === 8L)
    assert(TmpDirs.scratchMinGb(Some("8")) === 8L)
    assert(TmpDirs.scratchMinGb(Some("1000000")) === 1000000L)
  }

  test("a scratch budget that is not a positive integer fails naming the variable") {
    for (v <- Seq("abc", "8g", "0", "-1", "", "8589934592")) {
      val e = intercept[RuntimeException](TmpDirs.scratchMinGb(Some(v)))
      assert(e.getMessage.contains("SPARK_GRAFT_SCRATCH_MIN_GB"), v)
      assert(e.getMessage.contains(s"'$v'"), v)
    }
  }

  test("deleteRecursively removes a whole tree and skips a directory it cannot list") {
    val root = java.nio.file.Files.createTempDirectory("tmpdirsspec").toFile
    val sub = new java.io.File(root, "a/b")
    assert(sub.mkdirs())
    java.nio.file.Files.writeString(new java.io.File(sub, "f.txt").toPath, "x")
    java.nio.file.Files.writeString(new java.io.File(root, "g.txt").toPath, "y")
    // listFiles() returns null for a directory that cannot be read
    val unlistable = new java.io.File(root.getPath) {
      override def listFiles(): Array[java.io.File] = null
    }
    TmpDirs.deleteRecursively(unlistable)
    assert(root.exists(), "an unlistable non-empty directory stays")
    TmpDirs.deleteRecursively(root)
    assert(!root.exists())
  }
}
