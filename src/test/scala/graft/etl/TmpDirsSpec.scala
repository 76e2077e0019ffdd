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
}
