package graft.plans

import graft.SparkTestSession
import graft.similarity.Ivf
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-17 adaptive-quantizer + adaptive-duplicate-collapse pins
  * (VERDICT r16 Next #1/#4): the regime decisions are data-driven
  * physical choices, so the spec proves (a) the decision FLIPS where
  * the contract says it flips, on both sides, and (b) the cheaper
  * path is output-identical to the guarded one exactly where the
  * decision may choose it — the DedupSpec.decideEdgeShape pattern.
  */
class IvfAdaptiveSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  /** A no-duplicate unit-vector fixture (nDup = 0) or one with a
    * planted duplicate group.
    */
  private def fixture(name: String, nUnique: Int, nDup: Int): String = {
    val d = graft.etl.TmpDirs.dir(name)
    val rnd = new scala.util.Random(1717)
    def unit(): Seq[Float] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat).toSeq
    }
    val base = (0 until nUnique).map(i => (i.toLong, unit(), i % 10))
    val dupV = unit()
    val dups = (0 until nDup).map(j => ((nUnique + j).toLong, dupV, 99))
    import spark.implicits._
    (base ++ dups).toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  test("decideQuantizer flips at HierSwitchN: flat below, hier above") {
    // gate corpora sit far below the switch — every consumer oracle
    // keeps riding the five-rounds-proven flat leg there
    assert(Ivf.corpusN(spark, sf) <= Ivf.HierSwitchN)
    assert(Ivf.decideQuantizer(spark, sf) === "flat")
    // a corpus one row past the switch decides hier — count only, the
    // decision probe never touches pair machinery
    val big = graft.etl.TmpDirs.dir("ivfadapt_big")
    spark.range(Ivf.HierSwitchN + 1)
      .select(col("id").as("vec_id"),
        expr("transform(sequence(1, 64), i -> CAST(sin(id * 64 + i) AS FLOAT))")
          .as("embedding"))
      .write.mode("overwrite").parquet(s"$big/embeddings.parquet")
    assert(Ivf.decideQuantizer(spark, big) === "hier")
  }

  test("the adaptive generator IS the flat generator below the switch") {
    val a = Ivf.adaptiveCandidatePairs(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val f = Ivf.candidatePairs(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a.nonEmpty && a === f)
  }

  test("the adaptive probe-query entries serve the hier twin bodies past the switch") {
    // r18 query-regime wiring pin (the in-suite half of the
    // tools/gate5k falsifier): one row past HierSwitchN every adaptive
    // probe-query entry must route to EXACTLY what its standalone
    // forced-hier twin computes — through the PUBLIC registry, so an
    // edit that forks a match arm from its twin body (or breaks the
    // decision probe) fails here without needing a driver round.
    val big = graft.etl.TmpDirs.dir("ivfadapt_query_big")
    spark.range(Ivf.HierSwitchN + 104)
      .select(col("id").as("vec_id"),
        expr("transform(sequence(1, 64), i -> CAST(sin(id * 64 + i) AS FLOAT))")
          .as("embedding"),
        (col("id") % 10).cast("int").as("label"))
      .write.mode("overwrite").parquet(s"$big/embeddings.parquet")
    assert(Ivf.decideQuantizer(spark, big) === "hier")
    def rows(name: String): Set[String] =
      graft.SparkEntry.queries(name)(spark, big).collect().map(_.toString).toSet
    for ((adaptive, twin) <- Seq(
        "ann_ivf_trained" -> "ann_ivf_hier_topk",
        "ann_filtered_topk" -> "ann_filtered_topk_hier",
        "ann_range_search" -> "ann_range_search_hier",
        "ann_reranked" -> "ann_reranked_hier")) {
      val (ra, rt) = (rows(adaptive), rows(twin))
      assert(ra.nonEmpty && ra === rt,
        s"$adaptive must serve $twin's body past the switch")
    }
    graft.Caches.releaseAll()
    spark.catalog.clearCache()
  }

  test("hasDupQv: false on a clean corpus, true on a planted duplicate group") {
    val clean = fixture("ivfadapt_clean", 180, 0)
    val spiked = fixture("ivfadapt_spiked", 180, 12)
    assert(!Ivf.hasDupQv(spark, clean))
    assert(Ivf.hasDupQv(spark, spiked))
  }

  test("collapse-skip is output-identical where the probe may choose it (flat + hier)") {
    // on a NO-dup corpus the collapse window + re-expansion are
    // identity ops — the skip path must emit the exact same pair set
    // under the production caps, for both quantizer legs
    val clean = fixture("ivfadapt_noop", 220, 0)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fOn = pairs(Ivf.candidatePairsImpl(spark, clean, Ivf.CellCap, collapse = true))
    val fOff = pairs(Ivf.candidatePairsImpl(spark, clean, Ivf.CellCap, collapse = false))
    assert(fOn.nonEmpty && fOff === fOn, "flat skip path diverged")
    val hOn = pairs(Ivf.hierCandidatePairsImpl(spark, clean, Ivf.HierCellCap, collapse = true))
    val hOff = pairs(Ivf.hierCandidatePairsImpl(spark, clean, Ivf.HierCellCap, collapse = false))
    assert(hOn.nonEmpty && hOff === hOn, "hier skip path diverged")
  }

  test("the probe keeps the collapse armed on a duplicate-bearing corpus") {
    // the production entry points route through hasDupQv —
    // on a spiked corpus the chosen path must still carry the
    // duplicate group's own clique (the IvfHierSpec spike contract,
    // re-asserted through the PUBLIC generator so the decision wiring
    // itself is under test, not just the impl)
    val spiked = fixture("ivfadapt_armed", 150, 10)
    val full = Ivf.hierCandidatePairs(spark, spiked)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((150L until 160L).toSeq.combinations(2)
        .forall(p => full((p(0), p(1)))),
      "duplicate clique must survive through the adaptive entry point")
  }
}
