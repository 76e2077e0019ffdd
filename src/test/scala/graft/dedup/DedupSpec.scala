package graft.dedup

import graft.SparkTestSession
import graft.functions.{Hashing, TextFunctions}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val docs = "/root/testdata/sf0.001/documents.parquet"

  test("SimHash.relational matches the scalar simHash60 on every doc") {
    val d = spark.read.parquet(docs)
    val scalar = d.select(col("doc_id"),
      Hashing.simHash60(TextFunctions.cleanTokens(col("text"))).as("sim_scalar"))
    val rel = SimHash.relational(d, "doc_id", "text")
    val joined = scalar.join(rel, Seq("doc_id"))
    assert(joined.count() === d.count()) // every doc hashed by both paths
    assert(joined.filter(col("sim_scalar") =!= col("sim")).count() === 0L)
  }

  test("minHashAffine is a min over the affine permutation") {
    val hs = typedlit(Seq(5L, 100L, 7L))
    val (a, b) = Hashing.minHashConsts(3)
    val expected = Seq(5L, 100L, 7L).map(h => (h * a + b) % Hashing.minHashP).min
    val got = spark.range(1)
      .select(Hashing.minHashAffine(3, hs).as("m")).collect()(0).getLong(0)
    assert(got === expected)
  }

  test("dedup_substring finds a planted 12-token run and reports its exact length") {
    // two synthetic docs sharing exactly one verbatim 13-token run,
    // surrounded by disjoint text: the gaps-and-islands chain must
    // recover the EXACT run length (13), one run, flagged once
    import spark.implicits._
    val shared = (1 to 13).map(i => s"run$i").mkString(" ")
    val a = s"alpha beta gamma $shared tail1 tail2 tail3 tail4 tail5 tail6 tail7 tail8"
    val b = s"zeta eta theta iota kappa $shared omega1 omega2 omega3 omega4 omega5 omega6"
    val tmp = java.nio.file.Files.createTempDirectory("subdup").toString
    Seq((1L, a, "en", "s1"), (2L, b, "en", "s2"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.SparkEntry.queries("dedup_substring")(spark, tmp)
      .select(col("da"), col("db"), col("max_run_tokens"), col("n_runs"))
      .collect()
    assert(out.length === 1)
    assert(out(0).getLong(0) === 1L && out(0).getLong(1) === 2L)
    assert(out(0).getLong(2) === 13L, s"run length ${out(0).getLong(2)}")
    assert(out(0).getLong(3) === 1L)
  }

  test("stop-window filter drops boilerplate runs but keeps genuine pairs") {
    // a 13-token boilerplate block shared by MORE than SubstringStopT
    // docs (every one of its 6 windows exceeds the doc-frequency cap)
    // must produce NO flagged pairs — without the filter it would
    // flag all C(66,2) = 2145 of them — while a 13-token run shared by
    // exactly 2 docs survives
    import spark.implicits._
    val nBoiler = (DedupQueries.SubstringStopT + 2).toInt // 66 > T=64
    val boiler = (1 to 13).map(i => s"bp$i").mkString(" ")
    val genuine = (1 to 13).map(i => s"gx$i").mkString(" ")
    val boilerDocs = (1 to nBoiler).map { i =>
      (i.toLong, s"u${i}a u${i}b u${i}c $boiler u${i}d u${i}e", "en", "s")
    }
    val pair = Seq(
      (1000L, s"p1a p1b p1c $genuine p1d p1e", "en", "s"),
      (1001L, s"p2a p2b p2c p2f $genuine p2d p2e", "en", "s"))
    val tmp = java.nio.file.Files.createTempDirectory("stopwin").toString
    (boilerDocs ++ pair).toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.SparkEntry.queries("dedup_substring")(spark, tmp)
      .select(col("da"), col("db"), col("max_run_tokens")).collect()
    assert(out.length === 1, s"expected only the genuine pair, got ${out.length}")
    assert(out(0).getLong(0) === 1000L && out(0).getLong(1) === 1001L)
    assert(out(0).getLong(2) === 13L)
  }

  test("jaccard of a doc with itself is 1 via the shingle-set identity") {
    // identical shingle sets -> |∩| == |∪|; checked through the same
    // arithmetic the query uses
    val sh = TextFunctions.shingleSet(lit("a b c d e f"), 3)
    val n = spark.range(1).select(size(sh).as("n")).collect()(0).getInt(0)
    assert(n === 4) // 6 tokens -> 4 trigrams, all distinct
  }

  /** The sfdx100 regime (gen_decade100.py) in miniature: near-dups are
    * chains of single-token mutations off EARLIER docs, so band buckets
    * deepen with corpus size without any doc being an exact copy. 10
    * base lineages, 300 mutants — the dup-DENSE deep regime (sfdx100
    * has 5% plants over 5M docs, so lineages hold thousands of members;
    * the miniature needs the same members-per-lineage shape, not the
    * same plant rate). Written once per suite.
    */
  private lazy val mutationChainDir: String = {
    val rnd = new scala.util.Random(17)
    val vocab = Vector("spark", "window", "merge", "table", "column",
      "vector", "stream", "value", "data", "small", "join", "filter")
    def doc() = Seq.fill(40)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val texts = scala.collection.mutable.ArrayBuffer[String]()
    for (_ <- 0 until 10) texts += doc()
    for (_ <- 0 until 300) {
      val toks = texts(rnd.nextInt(texts.size)).split(" ")
      toks(rnd.nextInt(toks.length)) = "dup"
      texts += toks.mkString(" ")
    }
    val dir = graft.etl.TmpDirs.dir("edge_chain_spec")
    import spark.implicits._
    texts.toSeq.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, "en", "src0", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("star edges yield EXACTLY the components the pair edges yield (r15 swap safety)") {
    // the star-edge substitution in the three cluster consumers is
    // only sound if connectivity is preserved verbatim — assert label
    // maps are identical on real data, not just "same cluster count".
    // Both inputs: the gate corpus, where the decision picks pairs, and
    // the mutation chains, where it picks star
    val d = "/root/testdata/sf0.001"
    for (dir <- Seq(d, mutationChainDir)) {
      val viaPairs = DedupQueries.connectedComponents(
        DedupQueries.minhashPairs(spark, dir)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaStars = DedupQueries.connectedComponents(
        DedupQueries.minhashStarEdges(spark, dir)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaPairs.nonEmpty, dir)
      assert(viaStars === viaPairs, dir)
      graft.Caches.releaseAll()
    }
  }

  test("edge-shape decision: pairs on shallow buckets, star on deep dup chains (r16)") {
    // the adaptive choice behind componentEdges must flip exactly with
    // the regime the A/B measured (artifacts/r16/bench_adjudication_r16.json):
    // shallow buckets (the gate corpus) → pair join; a deep
    // exact-dup chain (every band bucket depth ≈ corpus) → star edges
    assert(DedupQueries.decideEdgeShape(spark, "/root/testdata/sf0.001") === "pairs")
    graft.Caches.releaseAll()
    val rnd = new scala.util.Random(9)
    def word() = (1 to (3 + rnd.nextInt(6))).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val boiler = Seq.fill(60)(word()).mkString(" ")
    val dir = graft.etl.TmpDirs.dir("edge_shape_spec")
    import spark.implicits._
    (0 until 100).map(i => (i.toLong, boiler, "en", "src0", boiler.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(DedupQueries.decideEdgeShape(spark, dir) === "star")
    graft.Caches.releaseAll()
  }

  test("edge-shape decision: star on MUTATION CHAINS, not just exact-copy spikes (r17)") {
    // the decade corpus the r16 threshold must keep separating
    // (fixture: [[mutationChainDir]]). The candidate-weighted depth
    // ratio must land far above PairDepthThreshold (the r16 measured
    // deep regime was >= 50), not hover at the boundary.
    val dir = mutationChainDir
    assert(DedupQueries.decideEdgeShape(spark, dir) === "star")
    // and the decision is not a squeaker: recompute the ratio the
    // decision reads and require a clear margin over the threshold
    val r = DedupQueries.bandTable(spark, dir)
      .groupBy(col("band_idx"), col("bkey")).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(expr("c * (c - 1) div 2")), lit(0L)).as("p"),
        coalesce(sum(expr("c - 1")), lit(0L)).as("st"))
      .first()
    val ratio = r.getLong(0).toDouble / math.max(1L, r.getLong(1))
    // finding worth pinning: MUTATION chains land measurably closer to
    // the boundary than exact-copy spikes (this deterministic fixture:
    // 12.06; the r16 copy-spike fixture: bucket depth ≈ corpus) — the
    // threshold still separates, but with a 1.5× not 6× margin, which
    // is why the decade corpus (sfdx100) gets its own measured
    // decision in artifacts/r17/growth_edges_r17.json rather than an analogy
    assert(ratio > 1.25 * DedupQueries.PairDepthThreshold,
      f"chain fixture depth ratio $ratio%.1f too close to the threshold")
    graft.Caches.releaseAll()
  }

  test("width-1 ensemble bands recover a planted excerpt the 2-row bands miss") {
    // the excerpt geometry: shingle containment ~1, Jaccard ~ len
    // ratio (0.2 here). 2-row bands agree w.p. J^2 per band (~0.6%
    // across 8); a width-1 band agrees w.p. J (96% across 16). The
    // corpus is fixed, so both outcomes are deterministic.
    val rnd = new scala.util.Random(7)
    def word() = (1 to (3 + rnd.nextInt(6))).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val long = Seq.fill(100)(word())
    val excerpt = long.slice(30, 50)
    val other = Seq.fill(80)(word())
    val dir = graft.etl.TmpDirs.dir("ensemble_spec")
    import spark.implicits._
    Seq(
      (0L, long.mkString(" "), "en", "src0", long.mkString(" ").length.toLong),
      (1L, excerpt.mkString(" "), "en", "src0", excerpt.mkString(" ").length.toLong),
      (2L, other.mkString(" "), "en", "src1", other.mkString(" ").length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val ens = graft.SparkEntry.queries("dedup_containment_ensemble")(spark, dir)
      .select(col("da"), col("db"), col("cont_bp")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(ens.exists { case (da, db, bp) => da == 0L && db == 1L && bp >= 9000 },
      s"excerpt pair (0,1) not recovered: ${ens.mkString(", ")}")
    // and the Jaccard 2-row band index misses it on this geometry
    val mh = DedupQueries.minhashPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(!mh.contains((0L, 1L)),
      "fixture no longer demonstrates the 2-row blind spot — rebuild it")
    graft.Caches.releaseAll()
  }
}
