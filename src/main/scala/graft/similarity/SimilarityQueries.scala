package graft.similarity

import graft.{Query, Tables}
import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search (SURVEY §2.4) over the embeddings table.
  *
  * Brute-force exact top-k is the oracle-checked baseline — it
  * BROADCASTS the (small) query set against the full corpus, so even the
  * exact variant is one scan with no shuffle of the big side. The LSH
  * and IVF variants are the 100 TB scale path: candidate generation is
  * an equi-join on bucket/cell keys, then top-k within candidates.
  */
object SimilarityQueries {

  /** Corpus with the vector norm precomputed per ROW — cosine against
    * any probe is then dot/(nrm*qnrm): same arithmetic (bit-identical
    * vs the oracle's sqrt(sum a^2)*sqrt(sum b^2) form), 1/3 the
    * per-pair flops.
    */
  private def corpus(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).withColumn("nrm", VectorFunctions.norm(col("embedding")))

  /** Query set: 10 probe vectors, broadcast everywhere. */
  private def queriesDf(s: SparkSession, d: String): DataFrame =
    corpus(s, d).filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("nrm").as("qnrm"))

  private def pairCos(qv: Column, qnrm: Column): Column =
    round(VectorFunctions.dot(qv, col("embedding")) / (qnrm * col("nrm")), 4)

  private def topK(df: DataFrame, k: Int): DataFrame =
    df.withColumn("rn",
        row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("cos").desc, col("vec_id"))).cast("long"))
      .filter(col("rn") <= k)

  private val cosSql =
    """ROUND(
      |  list_sum(list_transform(generate_series(1, 64),
      |    i -> CAST(q.qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) /
      |  (sqrt(list_sum(list_transform(generate_series(1, 64),
      |    i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))) *
      |   sqrt(list_sum(list_transform(generate_series(1, 64),
      |    i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))))
      |, 4)""".stripMargin

  /** 63-bit sign signature for binary-quantization ANN: bit (i-1) set
    * iff dim i of the embedding is positive. 63 bits (not 64) keeps
    * every per-bit term `1L << (i-1)` positive in a signed 64-bit int,
    * so the oracle's list_sum never overflows BIGINT. The 64 static
    * WHEN terms fold into one codegen'd OR chain — no loop, no UDF.
    */
  private def binarySig(v: Column): Column =
    (1 to 63).map(i =>
      when(element_at(v, i) > lit(0f), lit(1L << (i - 1))).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))

  /** Matryoshka head width: the first-pass cosine reads only this
    * prefix of the embedding (nested-representation models order
    * information by dim, so the head is a usable coarse scorer).
    */
  private val mrlDims = 16

  /** Multi-table LSH geometry: `lshTables` independent hash tables of
    * `lshPlanes` hyperplanes each (table t uses the disjoint plane family
    * starting at t*lshPlanes). Banding trades precision for recall the
    * same way MinHash bands do: a true neighbor only needs to collide in
    * ONE table. With the weakly-clustered test embeddings (top-5 cos
    * ~0.3-0.5) a single 6-plane table has ~0.1 recall@5; 5x3 banding
    * lifts the collision probability 1-(1-s^3)^5 to ~0.7 at the same
    * O(L*n) index cost.
    */
  private val lshTables = 5
  private val lshPlanes = 3

  /** DuckDB mirror of `hyperplaneLshBucket(_, lshPlanes, 64, off)` —
    * shared with the embedding-dedup oracle (VectorFunctions.lshBucketSql).
    */
  private def lshBucketSql(planeOffset: Int): String =
    VectorFunctions.lshBucketSql(planeOffset, lshPlanes, 64)

  /** Unrounded centroid cosine (assignment ordering only — never output,
    * so no rounding is applied on either side).
    */
  private val centSimSql =
    """(list_sum(list_transform(generate_series(1, 64),
      |    i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE))) /
      |  (sqrt(list_sum(list_transform(generate_series(1, 64),
      |    i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))) *
      |   sqrt(list_sum(list_transform(generate_series(1, 64),
      |    i -> CAST(c.cv[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE))))))""".stripMargin

  /** Full oracle statements for the three reference ANN rankings —
    * shared by their own entries and embedded as subqueries by
    * ann_recall_eval (DuckDB allows WITH inside a parenthesized
    * subquery).
    */
  private lazy val bruteOracleSql: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
       |c AS (SELECT q.qid, e.vec_id, $cosSql AS cos
       |      FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.qid),
       |r AS (SELECT qid, vec_id, cos,
       |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
       |      FROM c)
       |SELECT qid, vec_id, cos, CAST(rn AS BIGINT) AS rn FROM r WHERE rn <= 5""".stripMargin

  private lazy val lshOracleSql: String =
    s"""WITH b AS (${(0 until lshTables).map(t =>
         s"SELECT vec_id, embedding, $t AS tbl, ${lshBucketSql(lshPlanes * t)} AS bucket FROM embeddings")
         .mkString("\n UNION ALL ")}),
       |bq AS (SELECT vec_id AS qid, tbl, bucket FROM b WHERE vec_id < 10),
       |cand AS (SELECT DISTINCT bq.qid, e.vec_id
       |         FROM b e JOIN bq ON e.tbl = bq.tbl AND e.bucket = bq.bucket AND e.vec_id <> bq.qid),
       |c AS (SELECT cand.qid, cand.vec_id, $cosSql AS cos
       |      FROM cand
       |      JOIN embeddings e ON e.vec_id = cand.vec_id
       |      JOIN (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10) q
       |        ON q.qid = cand.qid),
       |r AS (SELECT qid, vec_id, cos,
       |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
       |      FROM c)
       |SELECT qid, vec_id, cos, CAST(rn AS BIGINT) AS rn FROM r WHERE rn <= 5""".stripMargin

  private lazy val ivfOracleSql: String =
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id % 50 = 0),
       |sc AS (SELECT e.vec_id, e.embedding, c.cid, $centSimSql AS csim
       |       FROM embeddings e CROSS JOIN cent c),
       |asg AS (SELECT vec_id, embedding, cid FROM (
       |          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS crn
       |          FROM sc) WHERE crn = 1),
       |q AS (SELECT vec_id AS qid, embedding AS qv, cid FROM (
       |          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS crn
       |          FROM sc WHERE vec_id < 10) WHERE crn <= 3),
       |c AS (SELECT q.qid, e.vec_id, $cosSql AS cos
       |      FROM asg e JOIN q ON e.cid = q.cid AND e.vec_id <> q.qid),
       |r AS (SELECT qid, vec_id, cos,
       |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
       |      FROM c)
       |SELECT qid, vec_id, cos, CAST(rn AS BIGINT) AS rn FROM r WHERE rn <= 5""".stripMargin

  // ---- k-means machinery — moved to graft.similarity.Ivf (round 12:
  // the kNN-graph/embedding-pair family now shares it), thin local
  // aliases keep the many use sites below unchanged.

  private def quantCol: Column = Ivf.quantCol

  private def quantizedVecs(s: SparkSession, d: String): DataFrame =
    Ivf.quantizedVecs(s, d)

  private val kmeansK = Ivf.kmeansK
  private val ivfNprobe = Ivf.ivfNprobe

  /** Probe width for the epsilon-ball search: wider than top-k's
    * ivfNprobe (a ball wants the whole neighborhood). Still a constant
    * cell FRACTION — candidates stay linear in the corpus.
    */
  private val rangeNprobe = 24

  private def centroidRanks(cents: Seq[(Long, Seq[Double])], take: Int): Column =
    Ivf.centroidRanks(cents, take)

  private def memberSums(assigned: DataFrame): DataFrame = Ivf.memberSums(assigned)

  private def trainedCentroids(s: SparkSession, d: String): Seq[(Long, Seq[Double])] =
    Ivf.trainedCentroids(s, d)

  /** Shared oracle CTE chain (fixed k=128) ending in `d1` — the
    * trained centroids the kmeans/IVF oracles replay.
    */
  private val kmeansCteSql = Ivf.kmeansCteSql()

  /** PQ geometry: 8 subspaces x 8 dims, 16 sub-centroids each (4-bit
    * code per subspace, 32-bit code per vector). The codebook is
    * SEEDED FROM DATA — subvectors of 16 fixed corpus rows — because a
    * random codebook quantizes weakly-clustered embeddings to ~0.22
    * recall while data seeds reach ~0.30 (K-means-training it further
    * is kmeans_train's machinery; sampled seeds keep the oracle a pure
    * table lookup instead of a training replay).
    */
  private val pqK = 16
  private val pqSeedIds: Seq[Long] = (0 until pqK).map(j => (j * 31).toLong)

  /** Collect the codebook driver-side (16 rows, like the trained-IVF
    * centroid collect): cents(m)(j) = dims [m*8, m*8+8) of seed row j.
    */
  private def pqCents(s: SparkSession, d: String): Seq[Seq[Seq[Double]]] = {
    val rows = Tables.embeddings(s, d)
      .filter(col("vec_id").isin(pqSeedIds: _*))
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq)
      .toMap
    (0 until 8).map { m =>
      pqSeedIds.map { sid => rows(sid).slice(m * 8, m * 8 + 8) }
    }
  }

  /** Squared L2 between subvector m of `embedding` and a literal
    * sub-centroid — left-to-right fold, bit-identical to list_sum.
    * (Measured: the aggregate/zip_with form beats an explicit 8-term
    * element_at expansion ~2x here — 128 inlined subdists per row blow
    * the expression tree past codegen's method-size limit, while the
    * lambda fold stays compact.)
    */
  private def pqSubDist(m: Int, cv: Seq[Double]): Column =
    aggregate(
      zip_with(slice(transform(col("embedding"), x => x.cast("double")), m * 8 + 1, 8),
        typedlit(cv), (x, c) => (x - c) * (x - c)),
      lit(0.0), (acc, x) => acc + x)

  /** Oracle twin: rebuild the identical codebook from the table. Ends
    * in `cents(m, j, cv)`.
    */
  private val pqCentsCteSql: String =
    s"""seeds(j, sid) AS (VALUES
       |${pqSeedIds.zipWithIndex.map { case (sid, j) => s"  ($j, $sid)" }.mkString(",\n")}),
       |cents AS (SELECT mm.m AS m, s.j AS j,
       |    list_transform(generate_series(1, 8),
       |      i -> CAST(e.embedding[mm.m*8 + i] AS DOUBLE)) AS cv
       |  FROM seeds s JOIN embeddings e ON e.vec_id = s.sid
       |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS m) mm)""".stripMargin

  /** 4dp cosine between two embedding columns given their SQL aliases —
    * the free-alias form of `cosSql` for oracles that score arbitrary
    * embedding pairs (MMR's diversity term).
    */
  private def cosSqlAB(ea: String, eb: String): String =
    s"""ROUND(
       |  list_sum(list_transform(generate_series(1, 64),
       |    i -> CAST($ea[i] AS DOUBLE) * CAST($eb[i] AS DOUBLE))) /
       |  (sqrt(list_sum(list_transform(generate_series(1, 64),
       |    i -> CAST($ea[i] AS DOUBLE) * CAST($ea[i] AS DOUBLE)))) *
       |   sqrt(list_sum(list_transform(generate_series(1, 64),
       |    i -> CAST($eb[i] AS DOUBLE) * CAST($eb[i] AS DOUBLE)))))
       |, 4)""".stripMargin

  /** MMR geometry: greedy k=5 from a 20-candidate shortlist, lambda 0.5. */
  private val mmrK = 5
  private val mmrShortlist = 20

  /** Oracle twin of the greedy MMR loop: step 1 is the plain argmax;
    * each later step r is a (p_r, s_r) CTE pair — candidates outside
    * the selected set score 0.5*cos - 0.5*max(sim to selected), the
    * window argmax picks one. The loop is unrolled to k fixed steps
    * (greedy selection is inherently sequential in its step count; the
    * per-step work is set-parallel in both engines).
    */
  private lazy val mmrOracleSql: String = {
    val head =
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT q.qid, e.vec_id, $cosSql AS cos
         |      FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.qid),
         |short AS (SELECT qid, vec_id, cos FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
         |    FROM c) WHERE rn <= $mmrShortlist),
         |sims AS (SELECT a.qid, a.vec_id AS va, b.vec_id AS vb,
         |    ${cosSqlAB("ea.embedding", "eb.embedding")} AS sim
         |  FROM short a JOIN short b ON a.qid = b.qid AND a.vec_id <> b.vec_id
         |  JOIN embeddings ea ON ea.vec_id = a.vec_id
         |  JOIN embeddings eb ON eb.vec_id = b.vec_id),
         |s1 AS (SELECT qid, vec_id, CAST(1 AS BIGINT) AS step, cos AS mmr FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
         |    FROM short) WHERE rn = 1)""".stripMargin
    val steps = (2 to mmrK).map { r =>
      val selUnion = (1 until r).map(i => s"SELECT qid, vec_id FROM s$i")
        .mkString(" UNION ALL ")
      s"""p$r AS (SELECT c.qid, c.vec_id, c.cos, MAX(s.sim) AS msim
         |    FROM short c JOIN sims s ON s.qid = c.qid AND s.va = c.vec_id
         |    JOIN ($selUnion) sel ON sel.qid = s.qid AND sel.vec_id = s.vb
         |    WHERE NOT EXISTS (SELECT 1 FROM ($selUnion) x
         |                      WHERE x.qid = c.qid AND x.vec_id = c.vec_id)
         |    GROUP BY 1, 2, 3),
         |s$r AS (SELECT qid, vec_id, CAST($r AS BIGINT) AS step, mmr FROM (
         |    SELECT qid, vec_id, ROUND(0.5*cos - 0.5*msim, 4) AS mmr,
         |      ROW_NUMBER() OVER (PARTITION BY qid
         |        ORDER BY ROUND(0.5*cos - 0.5*msim, 4) DESC, vec_id) AS rn
         |    FROM p$r) WHERE rn = 1)""".stripMargin
    }
    val tail = (1 to mmrK).map(i => s"SELECT qid, vec_id, step, mmr FROM s$i")
      .mkString("\nUNION ALL\n")
    (Seq(head) ++ steps).mkString(",\n") + "\n" + tail
  }

  /** Residual-quantizer codebooks, both fixed-size model artifacts
    * (16 + 16 rows collected driver-side, like pqCents): level 1 is 16
    * seed rows of the quantized corpus; level 2 is the ZERO vector
    * (code 0 — guarantees stage 2 never increases error) plus the
    * residuals of 15 OTHER seed rows w.r.t. their own level-1
    * assignment. Everything is integer milli-units, so every distance
    * and both codebooks are engine-exact.
    */
  private val rqSeeds1: Seq[Long] = (0 until 16).map(j => (j * 31).toLong)
  private val rqSeeds2: Seq[Long] = (0 until 15).map(j => (j * 29 + 7).toLong)

  private def rqCodebooks(s: SparkSession, d: String)
      : (Seq[(Long, Seq[Double])], Seq[(Long, Seq[Double])]) = {
    val want = (rqSeeds1 ++ rqSeeds2).distinct
    val rows = quantizedVecs(s, d).filter(col("vec_id").isin(want: _*))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    val cb1 = rqSeeds1.zipWithIndex.map { case (sid, j) => j.toLong -> rows(sid) }
    def l2(a: Seq[Long], b: Seq[Long]): Double =
      a.lazyZip(b).map { case (x, y) => ((x - y) * (x - y)).toDouble }.sum
    val cb2 = (0L -> Seq.fill(64)(0L)) +: rqSeeds2.zipWithIndex.map { case (sid, j) =>
      val v = rows(sid)
      val near = cb1.minBy { case (cid, cv) => (l2(v, cv), cid) }
      (j + 1).toLong -> v.lazyZip(near._2).map { case (a, b) => a - b }.toSeq
    }
    (cb1.map { case (c, v) => c -> v.map(_.toDouble) },
      cb2.map { case (c, v) => c -> v.map(_.toDouble) })
  }

  // ───────────────────────────────────────────────────────────────────
  // ADAPTIVE PROBE-QUERY regime (round 18, VERDICT r17 Next #1): the
  // four probe-based ANN consumers that rode the FIXED k=128 flat
  // quantizer (ann_ivf_trained, ann_filtered_topk, ann_range_search,
  // ann_reranked) now route through Ivf.decideQuantizer — the same
  // count-gated switch the pair regime ships. Why the query regime
  // needs it too: with k fixed, cells grow as n/k, so per-probe
  // candidate volume is nprobe·n/k — LINEAR in the corpus. Past
  // HierSwitchN the two-level (cid, fid) key space grows with the
  // corpus (kc × data-proportional kf), so cells stay ~constant-sized
  // and per-probe candidates stay bounded; below it, flat carries the
  // better measured recall (0.72 trained-topk vs 0.62 hier at the
  // gate) and five rounds of hash-exact lineage. Probe widths on the
  // hier leg are the MEASURED choices from ann_hier_probe_recall_curve
  // (r17): (4, 2) at the knee for top-k shapes; (4, 4) — the widest
  // calibrated point, +200 bp recall — for the epsilon-ball, mirroring
  // flat's wider rangeNprobe. Each leg is oracle-replayed under the
  // same count gate (adaptiveCandCteSql pattern), and each hier leg is
  // ALSO a standalone forced twin so the gate corpora (below the
  // switch) keep it hash-exercised every round: ann_ivf_hier_topk
  // (pre-existing) plus ann_filtered_topk_hier / ann_range_search_hier
  // / ann_reranked_hier (new).
  // ───────────────────────────────────────────────────────────────────

  /** Hier probe-query candidates `(qid, vec_id)`: corpus and probes
    * assigned at (nprobeC × nprobeF) (cid, fid) keys from ONE
    * hierAssignments pass, candidates from the key intersection —
    * |probes|·nprobeC·nprobeF cells touched, never the corpus
    * pairwise, and the corpus never shuffles (see hierAssignments).
    */
  private def hierQueryCands(s: SparkSession, d: String,
                             nprobeC: Int, nprobeF: Int): DataFrame = {
    val h = Ivf.hierAssignments(s, d, nprobeC, nprobeF)
    val qh = h.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("cid"), col("fid"))
    h.join(broadcast(qh), Seq("cid", "fid"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id")).distinct()
  }

  /** Fine probe width for the hier epsilon-ball leg: the widest point
    * ann_hier_probe_recall_curve calibrates (4×4 — a ball wants the
    * whole neighborhood, exactly why flat range search probes
    * rangeNprobe=24 > ivfNprobe=16).
    */
  private val rangeHierNprobeF = 4

  /** Hier leg of ann_ivf_trained — identical body to the standalone
    * forced twin ann_ivf_hier_topk, so the adaptive route and the
    * gate-scale twin can never drift apart.
    */
  private def hierTopkBody(s: SparkSession, d: String): DataFrame = {
    val scored = hierQueryCands(s, d, Ivf.hierNprobe, Ivf.hierFineNprobe)
      .join(corpus(s, d), Seq("vec_id"))
      .join(broadcast(queriesDf(s, d)), Seq("qid"))
      .select(col("qid"), col("vec_id"), pairCos(col("qv"), col("qnrm")).as("cos"))
    topK(scored, 5)
  }

  /** Hier leg of ann_range_search (and the ann_range_search_hier twin):
    * 4×4 key-intersection candidates, exact rounded cosine at the same
    * 0.25 threshold.
    */
  private def hierRangeBody(s: SparkSession, d: String): DataFrame =
    hierQueryCands(s, d, Ivf.hierNprobe, rangeHierNprobeF)
      .join(corpus(s, d), Seq("vec_id"))
      .join(broadcast(queriesDf(s, d)), Seq("qid"))
      .select(col("qid"), col("vec_id"), pairCos(col("qv"), col("qnrm")).as("cos"))
      .filter(col("cos") >= 0.25)

  /** Hier leg of ann_filtered_topk (and its twin): candidates must
    * share BOTH the probe's label and a (cid, fid) probe key — the
    * label predicate applies to the already-bounded candidate set, so
    * per-probe work no longer scales with the label slice.
    */
  private def hierFilteredBody(s: SparkSession, d: String): DataFrame = {
    val probes = corpus(s, d).filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("embedding").as("qv"), col("nrm").as("qnrm"))
    val scored = hierQueryCands(s, d, Ivf.hierNprobe, Ivf.hierFineNprobe)
      .join(corpus(s, d), Seq("vec_id"))
      .join(broadcast(probes), Seq("qid"))
      .filter(col("label") === col("qlabel"))
      .select(col("qid"), col("vec_id"), col("label"),
        pairCos(col("qv"), col("qnrm")).as("cos"))
    topK(scored, 5)
  }

  /** Hier leg of ann_reranked (and its twin) — the full IVF-PQ serving
    * composition: hier key-intersection candidates, ADC table-lookup
    * scores over the candidates only (the flat leg ADC-scans the WHOLE
    * corpus per probe — the linear-in-n pass this leg exists to
    * bound), 32-candidate shortlist, exact cosine rerank.
    */
  private def hierRerankedBody(s: SparkSession, d: String): DataFrame = {
    val cents = pqCents(s, d)
    val coded = Tables.embeddings(s, d)
      .withColumn("enc", graft.plans.PqExpressions.pqEncode(col("embedding"), cents))
      .select(col("vec_id") +: (0 until 8).map(m =>
        shiftright(col("enc.code"), 4 * m).bitwiseAND(15).as(s"c$m")): _*)
    val probeDf = Tables.embeddings(s, d).filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid") +:
        (for (m <- 0 until 8; j <- 0 until pqK)
          yield pqSubDist(m, cents(m)(j)).as(s"d_${m}_$j")): _*)
    val adc = (0 until 8).map { m =>
      (0 until pqK).foldLeft(lit(null).cast("double")) { (acc, j) =>
        when(col(s"c$m") === j, col(s"d_${m}_$j")).otherwise(acc)
      }
    }.reduce(_ + _)
    val wS = Window.partitionBy(col("qid")).orderBy(col("adc"), col("vec_id"))
    val shortlist = hierQueryCands(s, d, Ivf.hierNprobe, Ivf.hierFineNprobe)
      .join(coded, Seq("vec_id"))
      .join(broadcast(probeDf), Seq("qid"))
      .withColumn("adc", adc)
      .withColumn("srn", row_number().over(wS))
      .filter(col("srn") <= 32)
      .select(col("qid"), col("vec_id"))
    val scored = shortlist.join(corpus(s, d), Seq("vec_id"))
      .join(broadcast(queriesDf(s, d)), Seq("qid"))
      .select(col("qid"), col("vec_id"), pairCos(col("qv"), col("qnrm")).as("cos"))
    topK(scored, 5)
  }

  /** The pre-r18 ann_reranked body — the flat leg of the adaptive
    * entry: full-corpus ADC scan per probe, 32-candidate shortlist,
    * exact rerank.
    */
  private def annRerankedFlatBody(s: SparkSession, d: String): DataFrame = {
    val cents = pqCents(s, d)
    val coded = Tables.embeddings(s, d)
      .withColumn("enc", graft.plans.PqExpressions.pqEncode(col("embedding"), cents))
      .select(col("vec_id") +: (0 until 8).map(m =>
        shiftright(col("enc.code"), 4 * m).bitwiseAND(15).as(s"c$m")): _*)
    val probeDf = Tables.embeddings(s, d).filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid") +:
        (for (m <- 0 until 8; j <- 0 until pqK)
          yield pqSubDist(m, cents(m)(j)).as(s"d_${m}_$j")): _*)
    val adc = (0 until 8).map { m =>
      (0 until pqK).foldLeft(lit(null).cast("double")) { (acc, j) =>
        when(col(s"c$m") === j, col(s"d_${m}_$j")).otherwise(acc)
      }
    }.reduce(_ + _)
    val wS = Window.partitionBy(col("qid")).orderBy(col("adc"), col("vec_id"))
    val shortlist = coded.crossJoin(broadcast(probeDf))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("adc", adc)
      .withColumn("srn", row_number().over(wS))
      .filter(col("srn") <= 32)
      .select(col("qid"), col("vec_id"))
    val scored = shortlist.join(corpus(s, d), Seq("vec_id"))
      .join(broadcast(queriesDf(s, d)), Seq("qid"))
      .select(col("qid"), col("vec_id"), pairCos(col("qv"), col("qnrm")).as("cos"))
    topK(scored, 5)
  }

  /** Oracle CTEs for the hier candidate set, ending in `${p}cand(qid,
    * vec_id)` — the SQL twin of [[hierQueryCands]]. `p` prefixes every
    * CTE so the adaptive oracles can compose this chain beside the
    * flat one.
    */
  private def hierCandCtes(p: String, nprobeC: Int, nprobeF: Int,
                           src: String = "embeddings"): String =
    s"""${Ivf.hierAssignCteSql(p, nprobeC, nprobeF, src)},
       |${p}qh AS (SELECT vec_id AS qid, cid, fid FROM ${p}hasg WHERE vec_id < 10),
       |${p}cand AS MATERIALIZED (SELECT DISTINCT qh.qid, h.vec_id
       |         FROM ${p}hasg h JOIN ${p}qh qh ON h.cid = qh.cid AND h.fid = qh.fid
       |           AND h.vec_id <> qh.qid)""".stripMargin

  /** `${p}cand` → exact-cosine scoring → `${p}hr(qid, vec_id, cos, rn)`. */
  private def hierTopkTailCtes(p: String): String =
    s"""${p}hc AS (SELECT cand.qid, cand.vec_id, $cosSql AS cos
       |      FROM ${p}cand cand
       |      JOIN embeddings e ON e.vec_id = cand.vec_id
       |      JOIN (SELECT vec_id AS qid2, embedding AS qv FROM embeddings
       |            WHERE vec_id < 10) q ON q.qid2 = cand.qid),
       |${p}hr AS (SELECT qid, vec_id, cos,
       |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
       |      FROM ${p}hc)""".stripMargin

  /** `${p}cand` → label-filtered scoring → `${p}fr(qid, vec_id, label,
    * cos, rn)`.
    */
  private def hierFilteredTailCtes(p: String): String =
    s"""${p}fc AS (SELECT cand.qid, cand.vec_id, e.label, $cosSql AS cos
       |      FROM ${p}cand cand
       |      JOIN embeddings e ON e.vec_id = cand.vec_id
       |      JOIN (SELECT vec_id AS qid2, label AS qlabel, embedding AS qv
       |            FROM embeddings WHERE vec_id < 10) q ON q.qid2 = cand.qid
       |      WHERE e.label = q.qlabel),
       |${p}fr AS (SELECT qid, vec_id, label, cos,
       |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
       |      FROM ${p}fc)""".stripMargin

  /** `${p}cand` → candidate-only ADC shortlist → exact rerank →
    * `${p}rr(qid, vec_id, cos, rn)`. Reads the UNPREFIXED PQ chain
    * (`bc`, `dt`) — the codebook model is leg-independent.
    */
  private def hierRerankedTailCtes(p: String): String =
    s"""${p}adc AS (SELECT dt.qid, cand.vec_id,
       |    list_sum(list(dt.dist ORDER BY dt.m)) AS adc
       |  FROM ${p}cand cand
       |  JOIN bc ON bc.vec_id = cand.vec_id
       |  JOIN dt ON dt.qid = cand.qid AND dt.m = bc.m AND dt.j = bc.j
       |  GROUP BY 1, 2),
       |${p}sl AS (SELECT qid, vec_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS srn
       |    FROM ${p}adc) WHERE srn <= 32),
       |${p}rc AS (SELECT sl.qid, sl.vec_id, $cosSql AS cos
       |      FROM ${p}sl sl
       |      JOIN embeddings e ON e.vec_id = sl.vec_id
       |      JOIN (SELECT vec_id AS qid2, embedding AS qv FROM embeddings) q
       |        ON q.qid2 = sl.qid),
       |${p}rr AS (SELECT qid, vec_id, cos,
       |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
       |      FROM ${p}rc)""".stripMargin

  /** The count-gate CTE every adaptive probe oracle unions under. */
  private val nselCte: String =
    s"nsel AS (SELECT COUNT(*) > ${Ivf.HierSwitchN} AS hier FROM embeddings)"

  /** Count-gated row sources for the two regime chains (r19, VERDICT
    * r18 Next #1): DuckDB materializes BOTH chains of an adaptive
    * union, so each chain that reads `embf`/`embh` draws its rows from
    * the side of this gate that selected it: the unselected chain's
    * O(n·k) centroid cross joins run over an empty relation and cost
    * ~nothing, and the selected chain's base filter is identically
    * true, leaving the output byte-identical. Only those centroid
    * chains are gated. A chain that reads `embeddings` directly still
    * scans all of it when unselected — `ann_reranked`'s PQ
    * `sub`/`bc`/`dt` chains do, gated only at `adc`, so they cost
    * oracle time on the hier side. Must be the FIRST items in the
    * WITH (the chains reference embf/embh).
    */
  private val gatedBaseCtes: String =
    s"""$nselCte,
       |embf AS (SELECT * FROM embeddings WHERE NOT (SELECT hier FROM nsel)),
       |embh AS (SELECT * FROM embeddings WHERE (SELECT hier FROM nsel))""".stripMargin

  /** Flat kmeans replay chain over the count-gated flat base. */
  private val kmeansCteSqlGated = Ivf.kmeansCteSql(src = "embf")

  val entries: Seq[(String, Query)] = Seq(

    // Product quantization (the PQ of IVF-PQ): each 64-dim vector
    // splits into 8 subvectors of 8 dims, each assigned to the nearest
    // of 4 literal sub-centroids — a 16-bit code replaces 256 bytes of
    // floats (the memory layout billion-scale ANN serves from). The
    // whole encoding is codegen'd literal arithmetic in the scan: no
    // join, no shuffle, no state. The total reconstruction error folds
    // the 8 best sub-distances IN SUBSPACE ORDER (the oracle list_sums
    // a list(ORDER BY m) — plain SUM would be partition-order float
    // addition) and is emitted as floor(err*1e6 + 0.5), engine-exact.
    "vec_pq_code" -> Query(
      (s, d) => {
        val enc = graft.plans.PqExpressions.pqEncode(col("embedding"), pqCents(s, d))
        Tables.embeddings(s, d)
          .withColumn("enc", enc)
          .select(col("vec_id"), col("enc.code").as("pq_code"),
            floor(col("enc.err") * 1e6 + 0.5).cast("long").as("err_q"))
      },
      Some(s"""WITH $pqCentsCteSql,
             |sub AS (SELECT e.vec_id, c.m, c.j,
             |    list_sum(list_transform(generate_series(1, 8),
             |      i -> (CAST(e.embedding[c.m*8 + i] AS DOUBLE) - c.cv[i])
             |         * (CAST(e.embedding[c.m*8 + i] AS DOUBLE) - c.cv[i]))) AS dist
             |  FROM embeddings e CROSS JOIN cents c),
             |best AS (SELECT vec_id, m, j, dist FROM (
             |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
             |                                 ORDER BY dist, j) AS rn FROM sub)
             |  WHERE rn = 1)
             |SELECT vec_id,
             |  CAST(SUM(j * (CAST(1 AS BIGINT) << (4*m))) AS BIGINT) AS pq_code,
             |  CAST(floor(list_sum(list(dist ORDER BY m)) * 1e6 + 0.5) AS BIGINT) AS err_q
             |FROM best GROUP BY vec_id""".stripMargin)
    ),

    // PQ ANN with asymmetric distance computation (ADC) — how
    // billion-scale indexes actually rank: the corpus is its 16-bit PQ
    // codes (encoded in the scan, never shuffled), each probe
    // precomputes a 8x4 distance table to the sub-codebooks, and a
    // candidate's score is eight TABLE LOOKUPS summed in subspace
    // order — no float dot product against raw vectors anywhere. The
    // 10-probe table-of-tables broadcasts; top-5 per probe comes from
    // a rank-pushdown window. Scores stay raw doubles for ranking
    // (identical lookup values + identical fold order cross-engine)
    // and ship as floor(x*1e6 + 0.5) integers.
    "ann_pq_topk" -> Query(
      (s, d) => {
        val cents = pqCents(s, d)
        val coded = Tables.embeddings(s, d)
          .withColumn("enc", graft.plans.PqExpressions.pqEncode(col("embedding"), cents))
          .select(col("vec_id") +: (0 until 8).map(m =>
            shiftright(col("enc.code"), 4 * m).bitwiseAND(15).as(s"c$m")): _*)
        val probeDf = Tables.embeddings(s, d).filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid") +:
            (for (m <- 0 until 8; j <- 0 until pqK)
              yield pqSubDist(m, cents(m)(j)).as(s"d_${m}_$j")): _*)
        val adc = (0 until 8).map { m =>
          (0 until pqK).foldLeft(lit(null).cast("double")) { (acc, j) =>
            when(col(s"c$m") === j, col(s"d_${m}_$j")).otherwise(acc)
          }
        }.reduce(_ + _)
        val w = Window.partitionBy(col("qid")).orderBy(col("adc"), col("vec_id"))
        coded.crossJoin(broadcast(probeDf))
          .withColumn("adc", adc)
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 5)
          .select(col("qid"), col("vec_id"),
            floor(col("adc") * 1e6 + 0.5).cast("long").as("adc_q"), col("rn"))
      },
      Some(s"""WITH $pqCentsCteSql,
             |sub AS (SELECT e.vec_id, c.m, c.j,
             |    list_sum(list_transform(generate_series(1, 8),
             |      i -> (CAST(e.embedding[c.m*8 + i] AS DOUBLE) - c.cv[i])
             |         * (CAST(e.embedding[c.m*8 + i] AS DOUBLE) - c.cv[i]))) AS dist
             |  FROM embeddings e CROSS JOIN cents c),
             |bc AS (SELECT vec_id, m, j FROM (
             |    SELECT vec_id, m, j,
             |      ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist, j) AS rn
             |    FROM sub) WHERE rn = 1),
             |dt AS (SELECT vec_id AS qid, m, j, dist FROM sub WHERE vec_id < 10),
             |adc AS (SELECT dt.qid, bc.vec_id,
             |    list_sum(list(dt.dist ORDER BY dt.m)) AS adc
             |  FROM bc JOIN dt ON bc.m = dt.m AND bc.j = dt.j
             |  GROUP BY 1, 2)
             |SELECT qid, vec_id,
             |  CAST(floor(adc * 1e6 + 0.5) AS BIGINT) AS adc_q,
             |  CAST(rn AS BIGINT) AS rn
             |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
             |                                   ORDER BY adc, vec_id) AS rn FROM adc)
             |WHERE rn <= 5""".stripMargin)
    ),

    // IVF-PQ — the composition billion-scale ANN actually serves
    // (Jégou et al. 2011; the FAISS default): the trained coarse
    // quantizer (kmeans_train's k=128 centroids) partitions the corpus
    // into cells, each corpus vector is stored ONLY as its 32-bit PQ
    // code + cell id (both computed in the scan by codegen'd
    // expressions, zero shuffle), and a probe scores candidates in its
    // nprobe nearest cells by ADC table lookups — raw corpus floats are
    // never touched at query time. The cell equi-join against the
    // broadcast probe table is the only data movement, and its
    // candidate count is corpus·(nprobe/k) regardless of scale: at
    // 100 TB both models stay fixed-size config choices (k and the 8x16
    // codebook), the inverted lists shard by cid, and the per-probe
    // work is bounded. This is ann_pq_topk's scorer behind
    // ann_ivf_trained's candidate generation, sharing both trained
    // models and both oracle CTE chains.
    "ann_ivf_pq" -> Query(
      (s, d) => {
        val cents = trainedCentroids(s, d)
        val pq = pqCents(s, d)
        val coded = Tables.embeddings(s, d).withColumn("qv", quantCol)
          .withColumn("enc", graft.plans.PqExpressions.pqEncode(col("embedding"), pq))
          .select(col("vec_id") +: centroidRanks(cents, 1).getItem(0).as("cid") +:
            (0 until 8).map(m =>
              shiftright(col("enc.code"), 4 * m).bitwiseAND(15).as(s"c$m")): _*)
        val probes = Tables.embeddings(s, d).filter(col("vec_id") < 10)
          .withColumn("qv", quantCol)
          .select(col("vec_id").as("qid") +: col("qv") +:
            (for (m <- 0 until 8; j <- 0 until pqK)
              yield pqSubDist(m, pq(m)(j)).as(s"d_${m}_$j")): _*)
          .select(col("qid") +: explode(centroidRanks(cents, ivfNprobe)).as("cid") +:
            (for (m <- 0 until 8; j <- 0 until pqK) yield col(s"d_${m}_$j")): _*)
        val adc = (0 until 8).map { m =>
          (0 until pqK).foldLeft(lit(null).cast("double")) { (acc, j) =>
            when(col(s"c$m") === j, col(s"d_${m}_$j")).otherwise(acc)
          }
        }.reduce(_ + _)
        val w = Window.partitionBy(col("qid")).orderBy(col("adc"), col("vec_id"))
        coded.join(broadcast(probes), Seq("cid"))
          .filter(col("vec_id") =!= col("qid"))
          .withColumn("adc", adc)
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 5)
          .select(col("qid"), col("vec_id"),
            floor(col("adc") * 1e6 + 0.5).cast("long").as("adc_q"), col("rn"))
      },
      Some(s"""WITH $kmeansCteSql,
             |$pqCentsCteSql,
             |asg AS (SELECT vec_id, cid FROM (
             |          SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) rn
             |          FROM d1) WHERE rn = 1),
             |pr AS (SELECT vec_id AS qid, cid FROM (
             |         SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) rn
             |         FROM d1 WHERE vec_id < 10) WHERE rn <= $ivfNprobe),
             |sub AS (SELECT e.vec_id, c.m, c.j,
             |    list_sum(list_transform(generate_series(1, 8),
             |      i -> (CAST(e.embedding[c.m*8 + i] AS DOUBLE) - c.cv[i])
             |         * (CAST(e.embedding[c.m*8 + i] AS DOUBLE) - c.cv[i]))) AS dist
             |  FROM embeddings e CROSS JOIN cents c),
             |bc AS (SELECT vec_id, m, j FROM (
             |    SELECT vec_id, m, j,
             |      ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist, j) AS rn
             |    FROM sub) WHERE rn = 1),
             |dt AS (SELECT vec_id AS qid, m, j, dist FROM sub WHERE vec_id < 10),
             |adc AS (SELECT dt.qid, bc.vec_id,
             |    list_sum(list(dt.dist ORDER BY dt.m)) AS adc
             |  FROM bc JOIN dt ON bc.m = dt.m AND bc.j = dt.j
             |  JOIN asg ON asg.vec_id = bc.vec_id
             |  JOIN pr ON pr.cid = asg.cid AND pr.qid = dt.qid
             |  WHERE bc.vec_id <> dt.qid
             |  GROUP BY 1, 2)
             |SELECT qid, vec_id,
             |  CAST(floor(adc * 1e6 + 0.5) AS BIGINT) AS adc_q,
             |  CAST(rn AS BIGINT) AS rn
             |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
             |                                   ORDER BY adc, vec_id) AS rn FROM adc)
             |WHERE rn <= 5""".stripMargin)
    ),

    // Symmetric int8 quantization of the embedding column — the 4x
    // storage/bandwidth reduction a 100 TB embedding corpus ships with.
    // Per-vector scale = max|x|; q_i = floor(x_i * 127 / scale + 0.5)
    // (explicit floor(+0.5), NOT round(): banker's-vs-half-up rounding
    // differs between engines, floor(+0.5) is identical). Emits the
    // scale, a digest of the quantized vector, and the saturation count
    // (integer-exact; the float reconstruction-error BOUND is asserted
    // in QualitySpec — engine round() at the 6th decimal of the raw
    // error is the one place the two engines' double rounding diverges).
    // All codegen'd array ops in the scan stage. An all-zero vector has
    // scale=0 — guarded to quantize to all zeros on BOTH sides (x/0 is
    // NaN, and floor(NaN) under ANSI mode throws rather than diverging).
    "vec_quantize_int8" -> Query(
      (s, d) => {
        val xd = transform(col("embedding"), x => x.cast("double"))
        val scale = array_max(transform(xd, x => abs(x)))
        val q = transform(xd, x => floor(
          when(col("scale") === 0, lit(0.0)).otherwise(x * 127.0 / col("scale"))
            + 0.5).cast("long"))
        Tables.embeddings(s, d)
          .withColumn("scale", scale)
          .withColumn("q", q)
          .select(col("vec_id"), round(col("scale"), 6).as("scale"),
            md5(concat_ws(",", col("q"))).as("q_md5"),
            size(filter(col("q"), qi => abs(qi) === 127)).cast("long").as("n_sat"))
      },
      Some("""WITH b AS (
             |  SELECT vec_id,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd,
             |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
             |  FROM embeddings),
             |q AS (SELECT vec_id, scale,
             |        list_transform(xd, x -> CAST(floor(
             |          CASE WHEN scale = 0 THEN 0.0 ELSE x * 127.0 / scale END + 0.5) AS BIGINT)) AS qv
             |      FROM b)
             |SELECT vec_id, ROUND(scale, 6) AS scale,
             |  md5(array_to_string(qv, ',')) AS q_md5,
             |  CAST(len(list_filter(qv, x -> abs(x) = 127)) AS BIGINT) AS n_sat
             |FROM q""".stripMargin)
    ),

    // K-MEANS TRAINING (2 Lloyd iterations) — the step that produces a
    // real IVF coarse quantizer instead of sampled seed centroids.
    // Spark-first shape = MLlib's: centroids live on the DRIVER (k*d
    // doubles — constant-size, never data) and ship into each
    // assignment pass as LITERAL arrays, so assignment is a zero-
    // shuffle codegen'd argmin in the scan (sort_array over k
    // (dist, cid) structs); the update is one map-side-combinable
    // partial agg on (cid, dim) — n*64 exploded rows collapse to k*64
    // before the exchange. Cross-engine exactness: embeddings quantize
    // to integers (floor(x*1000+0.5) — engine-identical), so member
    // sums are exact BIGINTs and iteration-1 centroids are exact
    // integer/integer divisions; the distance fold is left-to-right in
    // both engines, so even unrounded argmin ordering hash-matches.
    "kmeans_train" -> Query(
      (s, d) => {
        val q = quantizedVecs(s, d)
        memberSums(q.withColumn("cid",
            centroidRanks(trainedCentroids(s, d), 1).getItem(0)))
          .select(col("cid"), col("dim"), col("c_sum"), col("n_members"))
      },
      Some(s"""WITH $kmeansCteSql,
             |a1 AS (SELECT vec_id, qv, cid FROM (
             |         SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) rn
             |         FROM d1) WHERE rn = 1),
             |u2 AS (SELECT cid, i AS dim, CAST(SUM(qv[i]) AS BIGINT) AS c_sum,
             |         CAST(COUNT(*) AS BIGINT) AS n_members
             |       FROM a1 CROSS JOIN ii GROUP BY cid, i)
             |SELECT cid, CAST(dim AS BIGINT) AS dim, c_sum, n_members FROM u2""".stripMargin)
    ),

    // IVF ANN over the TRAINED quantizer: corpus assignment and query
    // probe selection both come from `centroidRanks` — literal-centroid
    // arithmetic in the SCAN, so unlike ann_ivf_topk there is no
    // assignment shuffle at all: the corpus's only exchange is the
    // candidate equi-join on cid (broadcast probes), then exact-cosine
    // top-k within candidates. This is the full production IVF shape:
    // train (kmeans_train) -> assign at ingest -> probe nprobe cells
    // (nprobe=16 of k=128: a constant ~12% cell fraction).
    // Round 18 (VERDICT r17 Next #1): QUANTIZER-ADAPTIVE. Fixed-k flat
    // cells grow as n/128, so each probe's candidate volume is
    // nprobe·n/128 — linear in the corpus; past Ivf.HierSwitchN the
    // query routes onto the two-level (cid, fid) index (the
    // ann_ivf_hier_topk body, 4×2 probes at the calibrated knee) whose
    // cell count tracks the corpus. The oracle replays the same
    // count-gated decision, so the SWITCH is gate-checked, not just
    // each leg; the hier leg stays gate-exercised at sub-switch scale
    // by the standalone ann_ivf_hier_topk twin.
    "ann_ivf_trained" -> Query(
      (s, d) => Ivf.decideQuantizer(s, d) match {
        case "hier" => hierTopkBody(s, d)
        case _ =>
          val cents = trainedCentroids(s, d)
          val e = corpus(s, d).withColumn("qv", quantCol)
          val assigned = e.select(col("vec_id"), col("embedding"), col("nrm"),
            centroidRanks(cents, 1).getItem(0).as("cid"))
          val probes = e.filter(col("vec_id") < 10)
            .select(col("vec_id").as("qid"), col("embedding").as("qv2"),
              col("nrm").as("qnrm"),
              explode(centroidRanks(cents, ivfNprobe)).as("cid"))
          val scored = assigned.join(broadcast(probes), Seq("cid"))
            .filter(col("vec_id") =!= col("qid"))
            .select(col("qid"), col("vec_id"),
              pairCos(col("qv2"), col("qnrm")).as("cos"))
          topK(scored, 5)
      },
      Some(s"""WITH $gatedBaseCtes,
             |$kmeansCteSqlGated,
             |asg AS (SELECT vec_id, cid FROM (
             |          SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) rn
             |          FROM d1) WHERE rn = 1),
             |pr AS (SELECT vec_id AS qid, cid FROM (
             |         SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) rn
             |         FROM d1 WHERE vec_id < 10) WHERE rn <= $ivfNprobe),
             |c AS (SELECT pr.qid, a.vec_id, $cosSql AS cos
             |      FROM asg a JOIN pr ON a.cid = pr.cid AND a.vec_id <> pr.qid
             |      JOIN embeddings e ON e.vec_id = a.vec_id
             |      JOIN (SELECT vec_id AS qid2, embedding AS qv FROM embeddings) q
             |        ON q.qid2 = pr.qid),
             |r AS (SELECT qid, vec_id, cos,
             |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
             |      FROM c),
             |${hierCandCtes("h_", Ivf.hierNprobe, Ivf.hierFineNprobe, "embh")},
             |${hierTopkTailCtes("h_")}
             |SELECT qid, vec_id, cos, CAST(rn AS BIGINT) AS rn FROM r
             |WHERE rn <= 5 AND NOT (SELECT hier FROM nsel)
             |UNION ALL
             |SELECT qid, vec_id, cos, CAST(rn AS BIGINT) AS rn FROM h_hr
             |WHERE rn <= 5 AND (SELECT hier FROM nsel)""".stripMargin)
    ),

    // SemDeDup (Abbas et al. 2023): semantic dedup inside quantizer
    // cells — assign every embedding to its trained cell (literal-
    // centroid argmin in the SCAN, zero assignment shuffle), then drop
    // any vector whose cell holds a higher-priority (lower vec_id)
    // vector with cosine >= 0.40 on the 4dp-rounded score. The pair
    // join keys on the cell, so work is O(Σ cellᵢ²) with the CELL as
    // the bounded unit — which is precisely why SemDeDup blocks on
    // quantizer cells instead of labels or nothing.
    // Round 17 (VERDICT r16 #1): the cell key is QUANTIZER-ADAPTIVE.
    // Below Ivf.HierSwitchN it is the fixed-k flat argmin (kmeansK=128
    // — the regime every gate corpus has hash-checked for five
    // rounds); past it, fixed-k cells grow as n/k and the pair join
    // goes quadratic, so the cell becomes the two-level (cid, fid)
    // argmin (top-1 coarse × top-1 fine over coarse residuals) whose
    // fine count tracks the corpus — cells stay ~constant-sized at
    // O((kc+kf)·dim) assignment. Both legs emit (cid, fid) (flat pads
    // fid = -1) and the oracle replays the same count-gated decision.
    // Output is a verdict per vector (kept cells included), so the
    // downstream writer is one anti-join away from the deduped corpus.
    "pipeline_semdedup" -> Query(
      (s, d) => {
        val keyed = Ivf.decideQuantizer(s, d) match {
          case "hier" => Ivf.hierAssignments(s, d, 1, 1)
          case _ =>
            val cents = trainedCentroids(s, d)
            corpus(s, d).withColumn("qv", quantCol)
              .select(col("vec_id"),
                centroidRanks(cents, 1).getItem(0).as("cid"),
                lit(-1L).as("fid"))
        }
        val asg = keyed.join(corpus(s, d), Seq("vec_id"))
          .select(col("vec_id"), col("embedding"), col("nrm"),
            col("cid"), col("fid"))
        val a = asg.select(col("cid"), col("fid"), col("vec_id").as("va"),
          col("embedding").as("ea"), col("nrm").as("na"))
        val b = asg.select(col("cid"), col("fid"), col("vec_id").as("vb"),
          col("embedding").as("eb"), col("nrm").as("nb"))
        val dropped = a.join(b, Seq("cid", "fid"))
          .filter(col("va") < col("vb"))
          .select(col("vb").as("vec_id"),
            round(VectorFunctions.dot(col("ea"), col("eb")) / (col("na") * col("nb")), 4)
              .as("cos"))
          .filter(col("cos") >= 0.4)
          .select(col("vec_id")).distinct()
        asg.join(dropped.withColumn("dropped", lit(1L)), Seq("vec_id"), "left")
          .select(col("vec_id"), col("cid"), col("fid"),
            coalesce(col("dropped"), lit(0L)).as("dropped"))
      },
      Some(s"""WITH $gatedBaseCtes,
             |$kmeansCteSqlGated,
             |${Ivf.hierAssignCteSql("h_", 1, 1, "embh")},
             |a1 AS (SELECT vec_id, cid, CAST(-1 AS BIGINT) AS fid FROM (
             |         SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) rn
             |         FROM d1) WHERE rn = 1 AND NOT (SELECT hier FROM nsel)
             |       UNION ALL
             |       SELECT vec_id, cid, fid FROM h_hasg
             |       WHERE (SELECT hier FROM nsel)),
             |emb AS (SELECT a1.vec_id, a1.cid, a1.fid, e.embedding
             |        FROM a1 JOIN embeddings e USING (vec_id)),
             |pd AS (SELECT DISTINCT y.vec_id
             |       FROM emb x JOIN emb y ON x.cid = y.cid AND x.fid = y.fid AND x.vec_id < y.vec_id
             |       WHERE ROUND(
             |         list_sum(list_transform(generate_series(1, 64),
             |           i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE))) /
             |         (sqrt(list_sum(list_transform(generate_series(1, 64),
             |           i -> CAST(x.embedding[i] AS DOUBLE) * CAST(x.embedding[i] AS DOUBLE)))) *
             |          sqrt(list_sum(list_transform(generate_series(1, 64),
             |           i -> CAST(y.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE))))), 4) >= 0.4)
             |SELECT a1.vec_id, a1.cid, a1.fid, CAST(pd.vec_id IS NOT NULL AS BIGINT) AS dropped
             |FROM a1 LEFT JOIN pd ON a1.vec_id = pd.vec_id""".stripMargin)
    ),

    // FORCED-HIER SEMDEDUP TWIN — pipeline_semdedup's hierarchical leg
    // pinned at GATE scale (the adaptive entry picks flat below
    // HierSwitchN, so without this twin the hier leg of the count-gated
    // union would only ever execute on some future large corpus): the
    // two-level (cid, fid) argmin cell, same drop rule, hash-compared
    // against the standalone hier replay every round. The same
    // falsifier pattern as vec_hier_cellcap_pairs.
    "pipeline_semdedup_hier" -> Query(
      (s, d) => {
        val asg = Ivf.hierAssignments(s, d, 1, 1)
          .join(corpus(s, d), Seq("vec_id"))
          .select(col("vec_id"), col("embedding"), col("nrm"),
            col("cid"), col("fid"))
        val a = asg.select(col("cid"), col("fid"), col("vec_id").as("va"),
          col("embedding").as("ea"), col("nrm").as("na"))
        val b = asg.select(col("cid"), col("fid"), col("vec_id").as("vb"),
          col("embedding").as("eb"), col("nrm").as("nb"))
        val dropped = a.join(b, Seq("cid", "fid"))
          .filter(col("va") < col("vb"))
          .select(col("vb").as("vec_id"),
            round(VectorFunctions.dot(col("ea"), col("eb")) / (col("na") * col("nb")), 4)
              .as("cos"))
          .filter(col("cos") >= 0.4)
          .select(col("vec_id")).distinct()
        asg.join(dropped.withColumn("dropped", lit(1L)), Seq("vec_id"), "left")
          .select(col("vec_id"), col("cid"), col("fid"),
            coalesce(col("dropped"), lit(0L)).as("dropped"))
      },
      Some(s"""WITH ${Ivf.hierAssignCteSql("", 1, 1)},
             |emb AS (SELECT h.vec_id, h.cid, h.fid, e.embedding
             |        FROM hasg h JOIN embeddings e USING (vec_id)),
             |pd AS (SELECT DISTINCT y.vec_id
             |       FROM emb x JOIN emb y ON x.cid = y.cid AND x.fid = y.fid AND x.vec_id < y.vec_id
             |       WHERE ROUND(
             |         list_sum(list_transform(generate_series(1, 64),
             |           i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE))) /
             |         (sqrt(list_sum(list_transform(generate_series(1, 64),
             |           i -> CAST(x.embedding[i] AS DOUBLE) * CAST(x.embedding[i] AS DOUBLE)))) *
             |          sqrt(list_sum(list_transform(generate_series(1, 64),
             |           i -> CAST(y.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE))))), 4) >= 0.4)
             |SELECT h.vec_id, h.cid, h.fid, CAST(pd.vec_id IS NOT NULL AS BIGINT) AS dropped
             |FROM hasg h LEFT JOIN pd ON h.vec_id = pd.vec_id""".stripMargin)
    ),

    // TWO-STAGE retrieval (shortlist + rerank) — how production vector
    // search actually answers: the cheap PQ/ADC pass ranks candidates
    // from 16-bit codes (8 table lookups per candidate, codes never
    // leave the scan) and keeps a 32-candidate shortlist; the exact
    // cosine pass then re-scores only those 32 per probe. The expensive
    // float arithmetic touches 32·|probes| rows — the 100 TB shape
    // where full-precision vectors are only ever fetched for a
    // shortlist. Self-matches are excluded before the shortlist rank so
    // all 32 slots carry real candidates.
    // Round 18: QUANTIZER-ADAPTIVE candidate generation. Below
    // Ivf.HierSwitchN the ADC pass scans the whole corpus per probe
    // (n·|probes| table lookups — cheap arithmetic but linear growth);
    // past it candidates come from the hier (cid, fid) key
    // intersection first and ADC ranks only those — the full IVF-PQ
    // serving composition (coarse index → PQ shortlist → exact
    // rerank). Count-gated oracle union; the hier leg is pinned at
    // gate scale by ann_reranked_hier.
    "ann_reranked" -> Query(
      (s, d) => Ivf.decideQuantizer(s, d) match {
        case "hier" => hierRerankedBody(s, d)
        case _ => annRerankedFlatBody(s, d)
      },
      Some(s"""WITH $gatedBaseCtes,
             |$pqCentsCteSql,
             |sub AS (SELECT e.vec_id, c.m, c.j,
             |    list_sum(list_transform(generate_series(1, 8),
             |      i -> (CAST(e.embedding[c.m*8 + i] AS DOUBLE) - c.cv[i])
             |         * (CAST(e.embedding[c.m*8 + i] AS DOUBLE) - c.cv[i]))) AS dist
             |  FROM embeddings e CROSS JOIN cents c),
             |bc AS (SELECT vec_id, m, j FROM (
             |    SELECT vec_id, m, j,
             |      ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist, j) AS rn
             |    FROM sub) WHERE rn = 1),
             |dt AS (SELECT vec_id AS qid, m, j, dist FROM sub WHERE vec_id < 10),
             |adc AS (SELECT dt.qid, bc.vec_id,
             |    list_sum(list(dt.dist ORDER BY dt.m)) AS adc
             |  FROM bc JOIN dt ON bc.m = dt.m AND bc.j = dt.j AND bc.vec_id <> dt.qid
             |  WHERE NOT (SELECT hier FROM nsel)
             |  GROUP BY 1, 2),
             |sl AS (SELECT qid, vec_id FROM (
             |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS srn
             |    FROM adc) WHERE srn <= 32),
             |c AS (SELECT sl.qid, sl.vec_id, $cosSql AS cos
             |      FROM sl
             |      JOIN embeddings e ON e.vec_id = sl.vec_id
             |      JOIN (SELECT vec_id AS qid2, embedding AS qv FROM embeddings) q
             |        ON q.qid2 = sl.qid),
             |r AS (SELECT qid, vec_id, cos,
             |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
             |      FROM c),
             |${hierCandCtes("h_", Ivf.hierNprobe, Ivf.hierFineNprobe, "embh")},
             |${hierRerankedTailCtes("h_")}
             |SELECT qid, vec_id, cos, CAST(rn AS BIGINT) AS rn FROM r
             |WHERE rn <= 5 AND NOT (SELECT hier FROM nsel)
             |UNION ALL
             |SELECT qid, vec_id, cos, CAST(rn AS BIGINT) AS rn FROM h_rr
             |WHERE rn <= 5 AND (SELECT hier FROM nsel)""".stripMargin)
    ),

    // FORCED-HIER RERANK TWIN — ann_reranked's hierarchical leg pinned
    // at GATE scale (the adaptive entry picks flat below HierSwitchN,
    // so without this twin the hier leg of its count-gated union would
    // only execute on some future large corpus): hier key-intersection
    // candidates → candidate-only ADC shortlist → exact rerank,
    // hash-compared against the standalone hier replay every round.
    // Same falsifier pattern as dedup_embedding_hier.
    "ann_reranked_hier" -> Query(
      (s, d) => hierRerankedBody(s, d),
      Some(s"""WITH $pqCentsCteSql,
             |sub AS (SELECT e.vec_id, c.m, c.j,
             |    list_sum(list_transform(generate_series(1, 8),
             |      i -> (CAST(e.embedding[c.m*8 + i] AS DOUBLE) - c.cv[i])
             |         * (CAST(e.embedding[c.m*8 + i] AS DOUBLE) - c.cv[i]))) AS dist
             |  FROM embeddings e CROSS JOIN cents c),
             |bc AS (SELECT vec_id, m, j FROM (
             |    SELECT vec_id, m, j,
             |      ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist, j) AS rn
             |    FROM sub) WHERE rn = 1),
             |dt AS (SELECT vec_id AS qid, m, j, dist FROM sub WHERE vec_id < 10),
             |${hierCandCtes("", Ivf.hierNprobe, Ivf.hierFineNprobe)},
             |${hierRerankedTailCtes("")}
             |SELECT qid, vec_id, cos, CAST(rn AS BIGINT) AS rn FROM rr
             |WHERE rn <= 5""".stripMargin)
    ),

    // Exact cosine top-5 per query vector (the baseline ANN answers are
    // judged against).
    "ann_bruteforce_topk" -> Query(
      (s, d) => {
        val scored = corpus(s, d).crossJoin(broadcast(queriesDf(s, d)))
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"),
            pairCos(col("qv"), col("qnrm")).as("cos"))
        topK(scored, 5)
      },
      Some(bruteOracleSql)
    ),

    // MATRYOSHKA truncated-dimension recall — the MRL-era serving
    // trade-off audit: rank by the 16-dim PREFIX of the embedding
    // (what a memory-tight first-stage index stores) and measure
    // recall@5 against the full-64-dim brute-force truth. Both passes
    // are the broadcast-probe scan shape; prefix cosine renormalizes
    // over the slice so the score is a true 16-dim cosine. Ties break
    // on vec_id at 4dp both engines; recall ships in integer bp.
    "vec_matryoshka_recall" -> Query(
      (s, d) => {
        val prefCos = round(
          VectorFunctions.dot(slice(col("qv"), 1, 16), slice(col("embedding"), 1, 16)) /
            (VectorFunctions.norm(slice(col("qv"), 1, 16)) *
              VectorFunctions.norm(slice(col("embedding"), 1, 16))), 4)
        val base = corpus(s, d).crossJoin(broadcast(queriesDf(s, d)))
          .filter(col("vec_id") =!= col("qid"))
        val truth = topK(base
            .select(col("qid"), col("vec_id"), pairCos(col("qv"), col("qnrm")).as("cos")), 5)
          .select(col("qid"), col("vec_id"), lit(1L).as("hit"))
        val pref = topK(base
            .select(col("qid"), col("vec_id"), prefCos.as("cos")), 5)
          .select(col("qid"), col("vec_id"))
        pref.join(truth, Seq("qid", "vec_id"), "left")
          .groupBy(col("qid"))
          .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
          .select(col("qid"), col("n_hit"),
            expr("n_hit * 10000 div 5").as("recall_bp"))
      },
      Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
             |cf AS (SELECT q.qid, e.vec_id, $cosSql AS cos
             |       FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.qid),
             |rf AS (SELECT qid, vec_id FROM (
             |         SELECT qid, vec_id,
             |           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
             |         FROM cf) WHERE rn <= 5),
             |cp AS (SELECT q.qid, e.vec_id,
             |         ROUND(
             |           list_sum(list_transform(generate_series(1, 16),
             |             i -> CAST(q.qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) /
             |           (sqrt(list_sum(list_transform(generate_series(1, 16),
             |             i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))) *
             |            sqrt(list_sum(list_transform(generate_series(1, 16),
             |             i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))))
             |         , 4) AS cos
             |       FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.qid),
             |rp AS (SELECT qid, vec_id FROM (
             |         SELECT qid, vec_id,
             |           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
             |         FROM cp) WHERE rn <= 5)
             |SELECT rp.qid,
             |  CAST(SUM(CASE WHEN rf.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
             |  CAST(SUM(CASE WHEN rf.vec_id IS NOT NULL THEN 1 ELSE 0 END) * 10000 // 5
             |    AS BIGINT) AS recall_bp
             |FROM rp LEFT JOIN rf ON rf.qid = rp.qid AND rf.vec_id = rp.vec_id
             |GROUP BY 1""".stripMargin)
    ),

    // METADATA-FILTERED vector search — the retrieval pattern RAG and
    // dedup-by-domain actually run ("nearest neighbors WITHIN label
    // x"): the predicate applies BEFORE scoring, so the scan prunes
    // first and the cross join touches only the filtered slice — a
    // post-filter would instead score everything and then starve top-k
    // below k. Each probe searches its OWN label's slice (the
    // partition-routing shape); ranks follow the probe's label stripe.
    // Round 18: QUANTIZER-ADAPTIVE. A label slice is a constant
    // FRACTION of the corpus, so the exact within-label scan is still
    // linear per probe; past Ivf.HierSwitchN candidates must share
    // both the probe's label AND a hier (cid, fid) probe key — the
    // pre-filter+index intersection a production filtered-ANN serves.
    // Count-gated oracle union; hier leg pinned at gate scale by
    // ann_filtered_topk_hier.
    "ann_filtered_topk" -> Query(
      (s, d) => Ivf.decideQuantizer(s, d) match {
        case "hier" => hierFilteredBody(s, d)
        case _ =>
          val probes = corpus(s, d).filter(col("vec_id") < 10)
            .select(col("vec_id").as("qid"), col("label").as("qlabel"),
              col("embedding").as("qv"), col("nrm").as("qnrm"))
          val scored = corpus(s, d)
            .join(broadcast(probes), col("label") === col("qlabel"))
            .filter(col("vec_id") =!= col("qid"))
            .select(col("qid"), col("vec_id"), col("label"),
              pairCos(col("qv"), col("qnrm")).as("cos"))
          topK(scored, 5)
      },
      Some(s"""WITH $gatedBaseCtes,
             |q AS (SELECT vec_id AS qid, label AS qlabel, embedding AS qv
             |           FROM embeddings WHERE vec_id < 10),
             |c AS (SELECT q.qid, e.vec_id, e.label, $cosSql AS cos
             |      FROM q JOIN embf e ON e.label = q.qlabel
             |      WHERE e.vec_id <> q.qid),
             |r AS (SELECT qid, vec_id, label, cos,
             |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
             |      FROM c),
             |${hierCandCtes("h_", Ivf.hierNprobe, Ivf.hierFineNprobe, "embh")},
             |${hierFilteredTailCtes("h_")}
             |SELECT qid, vec_id, label, cos, CAST(rn AS BIGINT) AS rn FROM r
             |WHERE rn <= 5 AND NOT (SELECT hier FROM nsel)
             |UNION ALL
             |SELECT qid, vec_id, label, cos, CAST(rn AS BIGINT) AS rn FROM h_fr
             |WHERE rn <= 5 AND (SELECT hier FROM nsel)""".stripMargin)
    ),

    // FORCED-HIER FILTERED TWIN — ann_filtered_topk's hierarchical leg
    // pinned at gate scale (same falsifier pattern as
    // ann_reranked_hier): label ∧ (cid, fid) key-intersection
    // candidates, exact cosine top-5 within the survivors.
    "ann_filtered_topk_hier" -> Query(
      (s, d) => hierFilteredBody(s, d),
      Some(s"""WITH ${hierCandCtes("", Ivf.hierNprobe, Ivf.hierFineNprobe)},
             |${hierFilteredTailCtes("")}
             |SELECT qid, vec_id, label, cos, CAST(rn AS BIGINT) AS rn FROM fr
             |WHERE rn <= 5""".stripMargin)
    ),

    // Multi-table random-hyperplane LSH ANN: hash the corpus once into
    // L=5 tables of 3 planes each (literal coefficient arrays — zero
    // per-row hashing), candidates = union of same-(table,bucket)
    // matches, dedup BEFORE scoring, then exact cosine top-k within
    // candidates. Shuffle is O(L*n) equi-join rows, never all-pairs.
    // Approximate RECALL by construction but a fully deterministic
    // computation — the oracle rebuilds identical buckets from the same
    // literal coefficients, so this hash-checks like any exact query.
    // (Recall@5 vs brute force is asserted separately in QualitySpec.)
    "ann_lsh_topk" -> Query(
      (s, d) => {
        val tables = (0 until lshTables).map { t =>
          struct(lit(t).as("tbl"),
            VectorFunctions.hyperplaneLshBucket(col("embedding"), lshPlanes, 64,
              planeOffset = lshPlanes * t).as("bucket"))
        }
        val hashed = corpus(s, d)
          .select(col("vec_id"), explode(array(tables: _*)).as("tb"))
          .select(col("vec_id"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
        val qh = hashed.filter(col("vec_id") < 10).withColumnRenamed("vec_id", "qid")
        val cand = hashed.join(broadcast(qh), Seq("tbl", "bucket"))
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id")).distinct()
        val scored = cand.join(corpus(s, d), Seq("vec_id"))
          .join(broadcast(queriesDf(s, d)), Seq("qid"))
          .select(col("qid"), col("vec_id"), pairCos(col("qv"), col("qnrm")).as("cos"))
        topK(scored, 5)
      },
      Some(lshOracleSql)
    ),

    // IVF-style coarse quantization: deterministic seed centroids
    // (vec_id % 50 == 0), assign every vector to its nearest centroid,
    // probe the query's top-3 cells (nprobe trades scan fraction for
    // recall — 3 of ~C cells keeps the probe sublinear while roughly
    // doubling recall vs nprobe=2 on the weakly-clustered test data).
    // Deterministic end to end — the oracle replays assignment + probe +
    // top-k exactly. (Recall@5 vs brute force asserted in QualitySpec.)
    "ann_ivf_topk" -> Query(
      (s, d) => {
        val e = corpus(s, d)
        val cent = e.filter(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("cid"), col("embedding").as("cv"), col("nrm").as("cnrm"))
        def cellScores(df: DataFrame): DataFrame =
          df.crossJoin(broadcast(cent))
            .select(col("vec_id"), col("embedding"), col("nrm"), col("cid"),
              (VectorFunctions.dot(col("embedding"), col("cv"))
                / (col("nrm") * col("cnrm"))).as("csim"))
        // Assignment = per-vector argmax over the C centroid scores, as a
        // map-side-combinable max_by — NOT a window. The window form
        // shuffles all n*C scored rows just to pick one per vector; the
        // aggregate's partial combine collapses each vector's C rows to
        // one BEFORE the exchange, so only n rows ever move. Tie-break
        // (csim desc, cid asc) is preserved by max_by on (csim, -cid).
        // (Plan shape pinned in PlanSpec.)
        val assigned = cellScores(e)
          .groupBy(col("vec_id"))
          .agg(max_by(struct(col("cid"), col("embedding"), col("nrm")),
            struct(col("csim"), (-col("cid")).as("nc"))).as("best"))
          .select(col("vec_id"), col("best.embedding").as("embedding"),
            col("best.nrm").as("nrm"), col("best.cid").as("cid"))
        // Probe side: top-nprobe cells per QUERY vector — 10 rows, the
        // window is over the broadcast-sized probe set only.
        val probes = cellScores(e.filter(col("vec_id") < 10))
          .withColumn("crn", row_number().over(
            Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("cid"))))
          .filter(col("crn") <= 3)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"),
            col("nrm").as("qnrm"), col("cid"))
        val cand = assigned.join(broadcast(probes), Seq("cid"))
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"),
            pairCos(col("qv"), col("qnrm")).as("cos"))
        topK(cand, 5)
      },
      Some(ivfOracleSql)
    ),

    // Binary (sign-bit) quantization ANN — the 32x-compression scale
    // path: each vector collapses to a 63-bit signature (one BIGINT; 63
    // not 64 keeps every partial term positive in a signed long on BOTH
    // engines), Hamming distance is xor+popcount, and the full-corpus
    // shortlist scan touches 8 BYTES per vector instead of 256. At
    // 100 TB of float32 embeddings the signature table is ~3 TB — the
    // difference between an ANN index that fits hot storage and one
    // that doesn't. Exact cosine reranks only 32 candidates per probe.
    // Deterministic end to end; recall floor asserted in QualitySpec.
    "ann_binary_hamming" -> Query(
      (s, d) => {
        val sg = Tables.embeddings(s, d)
          .select(col("vec_id"), binarySig(col("embedding")).as("sig"))
        val qs = sg.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("sig").as("qsig"))
        val ham = sg.crossJoin(broadcast(qs))
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"),
            bit_count(col("sig").bitwiseXOR(col("qsig"))).cast("long").as("ham"))
        val shortlist = ham.withColumn("hrn",
            row_number().over(Window.partitionBy(col("qid"))
              .orderBy(col("ham"), col("vec_id"))))
          .filter(col("hrn") <= 32)
          .select(col("qid"), col("vec_id"), col("ham"))
        val scored = shortlist.join(corpus(s, d), Seq("vec_id"))
          .join(broadcast(queriesDf(s, d)), Seq("qid"))
          .select(col("qid"), col("vec_id"), col("ham"),
            pairCos(col("qv"), col("qnrm")).as("cos"))
        topK(scored, 5)
      },
      Some(s"""WITH sg AS (SELECT vec_id,
             |      CAST(list_sum(list_transform(generate_series(1, 63),
             |        i -> CASE WHEN e.embedding[i] > 0
             |               THEN CAST(1 AS BIGINT) << (i - 1) ELSE CAST(0 AS BIGINT) END))
             |        AS BIGINT) AS sig
             |    FROM embeddings e),
             |qs AS (SELECT vec_id AS qid, sig AS qsig FROM sg WHERE vec_id < 10),
             |h AS (SELECT qs.qid, sg.vec_id,
             |        CAST(bit_count(xor(sg.sig, qs.qsig)) AS BIGINT) AS ham
             |      FROM sg CROSS JOIN qs WHERE sg.vec_id <> qs.qid),
             |sl AS (SELECT qid, vec_id, ham FROM (
             |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ham, vec_id) AS hrn
             |    FROM h) WHERE hrn <= 32),
             |c AS (SELECT sl.qid, sl.vec_id, sl.ham, $cosSql AS cos
             |      FROM sl
             |      JOIN embeddings e ON e.vec_id = sl.vec_id
             |      JOIN (SELECT vec_id AS qid2, embedding AS qv FROM embeddings) q
             |        ON q.qid2 = sl.qid),
             |r AS (SELECT qid, vec_id, ham, cos,
             |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
             |      FROM c)
             |SELECT qid, vec_id, ham, cos, CAST(rn AS BIGINT) AS rn FROM r WHERE rn <= 5""".stripMargin)
    ),

    // Matryoshka two-stage retrieval: the first pass scores cosine on
    // only the HEAD 16 of 64 dims (nested-prefix embeddings are trained
    // so head-dim similarity approximates full similarity), then the
    // full-dim exact cosine reranks a 32-candidate shortlist. The scan
    // cost of the cheap pass is 1/4 the flops and 1/4 the bytes of the
    // full-dim scan — and on a real deployment the head slice is a
    // separate (cache-resident) column. Head scores order candidates
    // only (never emitted), so no rounding is applied on either side.
    // Recall floor asserted in QualitySpec.
    "vec_matryoshka_rerank" -> Query(
      (s, d) => {
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), slice(col("embedding"), 1, mrlDims).as("hv"))
          .withColumn("hnrm", sqrt(VectorFunctions.dot(col("hv"), col("hv"))))
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("hv").as("qhv"), col("hnrm").as("qhnrm"))
        val head = e.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"),
            (VectorFunctions.dot(col("hv"), col("qhv"))
              / (col("hnrm") * col("qhnrm"))).as("hcos"))
        val shortlist = head.withColumn("hrn",
            row_number().over(Window.partitionBy(col("qid"))
              .orderBy(col("hcos").desc, col("vec_id"))))
          .filter(col("hrn") <= 32)
          .select(col("qid"), col("vec_id"))
        val scored = shortlist.join(corpus(s, d), Seq("vec_id"))
          .join(broadcast(queriesDf(s, d)), Seq("qid"))
          .select(col("qid"), col("vec_id"), pairCos(col("qv"), col("qnrm")).as("cos"))
        topK(scored, 5)
      },
      Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
             |h AS (SELECT q.qid, e.vec_id,
             |        (list_sum(list_transform(generate_series(1, $mrlDims),
             |           i -> CAST(q.qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) /
             |         (sqrt(list_sum(list_transform(generate_series(1, $mrlDims),
             |           i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))) *
             |          sqrt(list_sum(list_transform(generate_series(1, $mrlDims),
             |           i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))))
             |          AS hcos
             |      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid),
             |sl AS (SELECT qid, vec_id FROM (
             |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY hcos DESC, vec_id) AS hrn
             |    FROM h) WHERE hrn <= 32),
             |c AS (SELECT sl.qid, sl.vec_id, $cosSql AS cos
             |      FROM sl
             |      JOIN embeddings e ON e.vec_id = sl.vec_id
             |      JOIN (SELECT vec_id AS qid2, embedding AS qv FROM embeddings) q
             |        ON q.qid2 = sl.qid),
             |r AS (SELECT qid, vec_id, cos,
             |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
             |      FROM c)
             |SELECT qid, vec_id, cos, CAST(rn AS BIGINT) AS rn FROM r WHERE rn <= 5""".stripMargin)
    ),

    // Embedding-health audit — the QA pass before any ANN index build:
    // per label, vector count, mean/std of the L2 norm, and the mean
    // count of near-zero dims (|x| < 0.01). A collapsed embedding run
    // (all-zero vectors, exploded norms, dead dimensions) shows up
    // here before it poisons retrieval. Norm math is row-local; the
    // rollup is one map-side-combinable shuffle on the label. Sums go
    // through DECIMAL(18,12) so the cross-engine stats are exact.
    "vec_norm_stats" -> Query(
      (s, d) => {
        val nrm = VectorFunctions.norm(col("embedding"))
        val nz = size(filter(col("embedding"),
          x => abs(x.cast("double")) < lit(0.01))).cast("long")
        val g = Tables.embeddings(s, d)
          .select(col("label"), nrm.as("nrm"), nz.as("nz"))
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n_vecs"),
            sum(col("nrm").cast("decimal(18,12)")).cast("double").as("s1"),
            sum((col("nrm") * col("nrm")).cast("decimal(18,12)")).cast("double").as("s2"),
            sum(col("nz")).as("snz"))
        g.select(col("label"), col("n_vecs"),
          round(col("s1") / col("n_vecs"), 4).as("avg_norm"),
          round(sqrt(greatest(
            col("s2") / col("n_vecs")
              - (col("s1") / col("n_vecs")) * (col("s1") / col("n_vecs")),
            lit(0.0))), 4).as("std_norm"),
          round(col("snz").cast("double") / col("n_vecs"), 4).as("avg_nearzero_dims"))
      },
      Some("""WITH v AS (SELECT label,
             |    sqrt(list_sum(list_transform(generate_series(1, 64),
             |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))) AS nrm,
             |    CAST(len(list_filter(e.embedding,
             |      x -> abs(CAST(x AS DOUBLE)) < CAST(0.01 AS DOUBLE))) AS BIGINT) AS nz
             |  FROM embeddings e),
             |g AS (SELECT label, COUNT(*) AS n_vecs,
             |    CAST(SUM(CAST(nrm AS DECIMAL(18,12))) AS DOUBLE) AS s1,
             |    CAST(SUM(CAST(nrm * nrm AS DECIMAL(18,12))) AS DOUBLE) AS s2,
             |    CAST(SUM(nz) AS BIGINT) AS snz
             |  FROM v GROUP BY 1)
             |SELECT label, n_vecs,
             |  ROUND(s1 / n_vecs, 4) AS avg_norm,
             |  ROUND(sqrt(GREATEST(s2 / n_vecs - (s1 / n_vecs) * (s1 / n_vecs),
             |    CAST(0 AS DOUBLE))), 4) AS std_norm,
             |  ROUND(CAST(snz AS DOUBLE) / n_vecs, 4) AS avg_nearzero_dims
             |FROM g""".stripMargin)
    ),

    // Top principal direction by POWER ITERATION — distributed linear
    // algebra in vanilla DataFrame ops: two matvec rounds X'(Xv) from
    // the exact seed v0 = 1/8 (1/sqrt(64), exact in binary). Each
    // round is one row-local dot against a literal direction + one
    // map-side-combinable (dim, x_j*s) rollup to 64 rows; sums go
    // through DECIMAL(26,12) so both engines normalize identical
    // vectors. The driver holds only the 64-double direction between
    // rounds (a model artifact, like the k-means centroids) — data
    // never moves, so the plan is identical at any corpus size. The
    // output is the loading vector + Rayleigh eigenvalue estimate:
    // the "principal drift direction" an embedding-health monitor
    // tracks across corpus refreshes.
    "vec_pca_power" -> Query(
      (s, d) => {
        val dims = 64
        def matvec(v: Seq[Double]): (Seq[Double], Double) = {
          val e = Tables.embeddings(s, d)
          val w = e.select(
              posexplode(col("embedding")).as(Seq("pos", "xj")),
              VectorFunctions.dot(col("embedding"), typedlit(v)).as("sc"))
            .groupBy(col("pos"))
            .agg(sum((col("xj").cast("double") * col("sc")).cast("decimal(26,12)"))
              .cast("double").as("w"))
            .collect().map(r => r.getInt(0) -> r.getDouble(1))
            .sortBy(_._1).map(_._2).toSeq
          val nrm = math.sqrt(w.map(x => BigDecimal(x * x).setScale(12,
            BigDecimal.RoundingMode.HALF_UP)).sum.toDouble)
          (w.map(_ / nrm), nrm)
        }
        val v0 = Seq.fill(dims)(0.125)
        val (v1, _) = matvec(v0)
        val (v2, lam) = matvec(v1)
        val out = v2.zipWithIndex.map { case (x, i) => (i.toLong, x) }
        s.createDataFrame(out).toDF("dim", "loading")
          .select(col("dim"), round(col("loading"), 6).as("loading"),
            round(lit(lam), 4).as("eigenvalue"))
      },
      Some("""WITH q AS (SELECT vec_id, embedding FROM embeddings),
             |ii AS (SELECT unnest(generate_series(1, 64)) AS i),
             |s1 AS (SELECT vec_id, embedding,
             |    list_sum(list_transform(generate_series(1, 64),
             |      i -> CAST(embedding[i] AS DOUBLE) * CAST(0.125 AS DOUBLE))) AS sc
             |  FROM q),
             |w1 AS (SELECT i AS dim,
             |    CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) * sc AS DECIMAL(26,12))) AS DOUBLE) AS w
             |  FROM s1 CROSS JOIN ii GROUP BY 1),
             |n1 AS (SELECT sqrt(CAST(SUM(CAST(w*w AS DECIMAL(26,12))) AS DOUBLE)) AS nrm FROM w1),
             |v1l AS (SELECT list(w / nrm ORDER BY dim) AS vl FROM w1 CROSS JOIN n1),
             |s2 AS (SELECT q.vec_id, q.embedding,
             |    list_sum(list_transform(generate_series(1, 64),
             |      i -> CAST(q.embedding[i] AS DOUBLE) * vl[i])) AS sc
             |  FROM q CROSS JOIN v1l),
             |w2 AS (SELECT i AS dim,
             |    CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) * sc AS DECIMAL(26,12))) AS DOUBLE) AS w
             |  FROM s2 CROSS JOIN ii GROUP BY 1),
             |n2 AS (SELECT sqrt(CAST(SUM(CAST(w*w AS DECIMAL(26,12))) AS DOUBLE)) AS nrm FROM w2)
             |SELECT CAST(dim - 1 AS BIGINT) AS dim,
             |  ROUND(w / n2.nrm, 6) AS loading,
             |  ROUND(n2.nrm, 4) AS eigenvalue
             |FROM w2 CROSS JOIN n2""".stripMargin)
    ),

    // MULTI-PROBE LSH (Lv et al., VLDB 2007): instead of adding hash
    // tables to lift recall, each probe ALSO searches the buckets at
    // Hamming distance 1 from its own code (flip each of the 3 planes).
    // Index cost stays O(L*n) — identical to ann_lsh_topk — while the
    // probe side grows by a constant 4x (1 exact + 3 perturbed bucket
    // keys per table), all broadcast-sized. The candidate join is still
    // a (table, bucket) equi-join on the corpus side, so the corpus
    // never shuffles more than the plain-LSH plan; at 100 TB this is
    // the standard way to trade a few broadcast rows for recall without
    // re-indexing. Deterministic end to end; QualitySpec asserts
    // recall@5 >= plain LSH on the same geometry.
    "ann_multiprobe_lsh" -> Query(
      (s, d) => {
        val tables = (0 until lshTables).map { t =>
          struct(lit(t).as("tbl"),
            VectorFunctions.hyperplaneLshBucket(col("embedding"), lshPlanes, 64,
              planeOffset = lshPlanes * t).as("bucket"))
        }
        val hashed = corpus(s, d)
          .select(col("vec_id"), explode(array(tables: _*)).as("tb"))
          .select(col("vec_id"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
        // Probe expansion: the exact bucket plus each 1-plane flip.
        val perturbs = Seq(0L, 1L, 2L, 4L)
        val qh = hashed.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("tbl"),
            explode(array(perturbs.map(m =>
              col("bucket").bitwiseXOR(lit(m))): _*)).as("bucket"))
        val cand = hashed.join(broadcast(qh), Seq("tbl", "bucket"))
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id")).distinct()
        val scored = cand.join(corpus(s, d), Seq("vec_id"))
          .join(broadcast(queriesDf(s, d)), Seq("qid"))
          .select(col("qid"), col("vec_id"), pairCos(col("qv"), col("qnrm")).as("cos"))
        topK(scored, 5)
      },
      Some(s"""WITH b AS (${(0 until lshTables).map(t =>
                 s"SELECT vec_id, embedding, $t AS tbl, ${lshBucketSql(lshPlanes * t)} AS bucket FROM embeddings")
                 .mkString("\n UNION ALL ")}),
             |bq AS (SELECT DISTINCT vec_id AS qid, tbl, xor(CAST(bucket AS BIGINT), pm.m) AS bucket
             |       FROM b CROSS JOIN (SELECT unnest([0, 1, 2, 4]) AS m) pm
             |       WHERE vec_id < 10),
             |cand AS (SELECT DISTINCT bq.qid, e.vec_id
             |         FROM b e JOIN bq ON e.tbl = bq.tbl AND CAST(e.bucket AS BIGINT) = bq.bucket AND e.vec_id <> bq.qid),
             |c AS (SELECT cand.qid, cand.vec_id, $cosSql AS cos
             |      FROM cand
             |      JOIN embeddings e ON e.vec_id = cand.vec_id
             |      JOIN (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10) q
             |        ON q.qid = cand.qid),
             |r AS (SELECT qid, vec_id, cos,
             |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
             |      FROM c)
             |SELECT qid, vec_id, cos, CAST(rn AS BIGINT) AS rn FROM r WHERE rn <= 5""".stripMargin)
    ),

    // k-NN GRAPH construction — the backbone artifact of graph-based
    // semantic dedup, HNSW-style index builds, and label propagation
    // over embeddings: top-3 cosine neighbors for EVERY corpus vector
    // (not just a probe set). Brute force is the one shape that cannot
    // ship (n^2 pairs) — and round 11 flagged the previous hyperplane-
    // LSH blocking as quadratic-with-a-constant-divisor too (5 tables
    // x 3 planes = a FIXED 8-bucket key space, candidates ~5n²/8).
    // Round 12: candidates now block on TRAINED IVF cells from the
    // scaled quantizer (Ivf.graphK: cell count proportional to the
    // corpus, cell size ~constant — the production coarse-quantizer
    // sizing), each vector joining under its 4 nearest cells. The
    // corpus joins ITSELF on cid, so candidate volume is
    // O(n * cell_size * probe²) — LINEAR in n (measured 4.2x
    // candidates for 4x vectors; recall@3 = 0.80 at the gate,
    // QualitySpec floor 0.6). Exact cosine re-scores candidates;
    // per-source top-k is partitioned by src. The edge list is the
    // deliverable: (src, dst, cos, rank).
    "vec_knn_graph" -> Query(
      (s, d) => {
        // round 13: candidates are the symmetric closure of the shared
        // duplicate-collapsed, cap-guarded generator (candidate SET
        // unchanged vs the direct cell self-join; see its doc); the
        // generator repartitions by vec_id internally (the round-11
        // narrow-scan lesson). Round 17: the generator is QUANTIZER-
        // ADAPTIVE (Ivf.adaptiveCandidatePairs — flat proportional-k
        // below Ivf.HierSwitchN, two-level coarse→fine past it; the
        // oracle replays the same count-gated decision).
        val candU = Ivf.adaptiveCandidatePairs(s, d)
        val cand = candU.select(col("va").as("src"), col("vb").as("dst"))
          .unionAll(candU.select(col("vb").as("src"), col("va").as("dst")))
        val scored = cand
          .join(corpus(s, d).select(col("vec_id").as("dst"),
            col("embedding").as("dv"), col("nrm").as("dnrm")), Seq("dst"))
          .join(corpus(s, d).select(col("vec_id").as("src"),
            col("embedding").as("sv"), col("nrm").as("snrm")), Seq("src"))
          .select(col("src"), col("dst"),
            round(VectorFunctions.dot(col("sv"), col("dv"))
              / (col("snrm") * col("dnrm")), 4).as("cos"))
        scored.withColumn("rn",
            row_number().over(Window.partitionBy(col("src"))
              .orderBy(col("cos").desc, col("dst"))).cast("long"))
          .filter(col("rn") <= 3)
      },
      Some(s"""WITH ${Ivf.adaptiveCandCteSql},
             |candd AS (SELECT va AS src, vb AS dst FROM cand
             |          UNION ALL SELECT vb, va FROM cand),
             |c AS (SELECT cand.src, cand.dst,
             |        ROUND(
             |          list_sum(list_transform(generate_series(1, 64),
             |            i -> CAST(s.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) /
             |          (sqrt(list_sum(list_transform(generate_series(1, 64),
             |            i -> CAST(s.embedding[i] AS DOUBLE) * CAST(s.embedding[i] AS DOUBLE)))) *
             |           sqrt(list_sum(list_transform(generate_series(1, 64),
             |            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))))
             |        , 4) AS cos
             |      FROM candd cand
             |      JOIN embeddings s ON s.vec_id = cand.src
             |      JOIN embeddings e ON e.vec_id = cand.dst)
             |SELECT src, dst, cos, CAST(rn AS BIGINT) AS rn FROM (
             |  SELECT *, ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn
             |  FROM c) WHERE rn <= 3""".stripMargin)
    ),

    // CELL-CAP CANDIDATE PAIRS at a cap that BINDS at gate scale
    // (cap=8 vs the production CellCap=256, which is a no-op on every
    // measured gate corpus): the full capped candidate-pair set from
    // the shared generator, hash-compared against the DuckDB mirror's
    // hotc/pasg capped branch. This is the round-13-ADVICE falsifier
    // made permanent — the oracle's hot-cell-drop CTE (previously dead
    // code on every oracle-checked corpus, validated only against a
    // Scala reimplementation in IvfCellCapSpec) now executes through
    // the gate every round, so a drift between `candidatePairs`' cap
    // semantics (distinct-qv count, rep collapse, clique re-expansion)
    // and the SQL mirror surfaces HERE, not as an unexplained failure
    // on some future hot-celled corpus. Same O(cells·cap² + output)
    // volume bound as every candidatePairs consumer.
    "vec_cellcap_pairs" -> Query(
      (s, d) => Ivf.candidatePairs(s, d, cap = 8L),
      Some(s"""WITH ${Ivf.pairAssignCteSqlWithCap(8L)}
             |SELECT DISTINCT l.vec_id AS va, r.vec_id AS vb
             |FROM pasg l JOIN pasg r ON l.cid = r.cid AND l.vec_id < r.vec_id""".stripMargin)
    ),

    // HIERARCHICAL IVF ANN top-k — the probe-based twin of
    // ann_ivf_hierarchical (same two-level index, the ANN-query regime
    // instead of the all-pairs regime): probes search their own
    // 4-coarse × 2-fine (cid, fid) keys against the corpus assignment,
    // exact cosine reranks the candidates, top-5 per probe. At query
    // time the corpus side pays O((kc+kf)·dim) assignment in the scan
    // — flat proportional-k pays O(k·dim), 43× more at 512k vectors —
    // and the candidate join touches |probes|·cell-size rows, never
    // the corpus pairwise. Recall floor vs brute force in QualitySpec.
    // (Since r18 this body — hierQueryCands + exact-cosine topK — IS
    // the hier leg of the adaptive ann_ivf_trained, so the twin pins
    // exactly what the adaptive route runs past the switch.)
    "ann_ivf_hier_topk" -> Query(
      (s, d) => hierTopkBody(s, d),
      Some(s"""WITH ${Ivf.hierAssignCteSql()},
             |qh AS (SELECT vec_id AS qid, cid, fid FROM hasg WHERE vec_id < 10),
             |cand AS (SELECT DISTINCT qh.qid, h.vec_id
             |         FROM hasg h JOIN qh ON h.cid = qh.cid AND h.fid = qh.fid AND h.vec_id <> qh.qid),
             |c AS (SELECT cand.qid, cand.vec_id, $cosSql AS cos
             |      FROM cand
             |      JOIN embeddings e ON e.vec_id = cand.vec_id
             |      JOIN (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10) q
             |        ON q.qid = cand.qid)
             |SELECT qid, vec_id, cos, CAST(rn AS BIGINT) AS rn FROM (
             |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
             |  FROM c) WHERE rn <= 5""".stripMargin)
    ),

    // HIERARCHICAL IVF kNN — the past-the-flat-ceiling scale path the
    // r15 growth probe called for (see the Ivf hierarchical block doc):
    // two-level coarse→fine assignment (fixed kc=256 coarse cells +
    // data-proportional fine cells over exactly-quantized coarse
    // residuals — the IVFADC coarse-fine composition), candidates from
    // the (cid, fid) equi-join, exact cosine re-score, top-3 per
    // source. Same deliverable shape as vec_knn_graph so the two
    // regimes are directly comparable; recall floor vs the flat graph
    // asserted in QualitySpec. Assignment stays O((kc+kf)·dim) per row
    // no matter how large the corpus — flat proportional-k is O(k·dim)
    // with k tracking n — and never shuffles the corpus (coarse probes
    // and fine probes are codegen'd literal-model expressions; the
    // residual join broadcasts the kc-row centroid MODEL).
    "ann_ivf_hierarchical" -> Query(
      (s, d) => {
        // r16 review fix: candidates come from the GUARDED generator
        // (duplicate collapse + HierCellCap, same contract as the flat
        // regime's Ivf.candidatePairs) — the raw (cid,fid) self-join
        // was O(cell²) on a boilerplate spike. Symmetric closure for
        // the per-source ranking, as vec_knn_graph does.
        val candU = Ivf.hierCandidatePairs(s, d)
        val cand = candU.select(col("va").as("src"), col("vb").as("dst"))
          .unionAll(candU.select(col("vb").as("src"), col("va").as("dst")))
        val scored = cand
          .join(corpus(s, d).select(col("vec_id").as("dst"),
            col("embedding").as("dv"), col("nrm").as("dnrm")), Seq("dst"))
          .join(corpus(s, d).select(col("vec_id").as("src"),
            col("embedding").as("sv"), col("nrm").as("snrm")), Seq("src"))
          .select(col("src"), col("dst"),
            round(VectorFunctions.dot(col("sv"), col("dv"))
              / (col("snrm") * col("dnrm")), 4).as("cos"))
        scored.withColumn("rn",
            row_number().over(Window.partitionBy(col("src"))
              .orderBy(col("cos").desc, col("dst"))).cast("long"))
          .filter(col("rn") <= 3)
      },
      Some(s"""WITH ${Ivf.hierPairCteSqlWithCap(Ivf.HierCellCap)},
             |cand AS (SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
             |         FROM hk a JOIN hk b ON a.cid = b.cid AND a.fid = b.fid AND a.vec_id <> b.vec_id),
             |c AS (SELECT cand.src, cand.dst,
             |        ROUND(
             |          list_sum(list_transform(generate_series(1, 64),
             |            i -> CAST(s.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) /
             |          (sqrt(list_sum(list_transform(generate_series(1, 64),
             |            i -> CAST(s.embedding[i] AS DOUBLE) * CAST(s.embedding[i] AS DOUBLE)))) *
             |           sqrt(list_sum(list_transform(generate_series(1, 64),
             |            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))))
             |        , 4) AS cos
             |      FROM cand
             |      JOIN embeddings s ON s.vec_id = cand.src
             |      JOIN embeddings e ON e.vec_id = cand.dst)
             |SELECT src, dst, cos, CAST(rn AS BIGINT) AS rn FROM (
             |  SELECT *, ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn
             |  FROM c) WHERE rn <= 3""".stripMargin)
    ),

    // HIERARCHICAL CELL-CAP PAIRS at a cap that BINDS at gate scale —
    // the vec_cellcap_pairs falsifier applied to the (cid, fid)
    // regime: the full capped candidate-pair set from
    // Ivf.hierCandidatePairs at cap=8, hash-compared against the
    // oracle's hotcf/hk capped branch (a no-op under the production
    // HierCellCap on every gate corpus), so drift between the guard's
    // semantics (distinct-rep counting, duplicate collapse, clique
    // re-expansion) and the SQL mirror surfaces at the gate every
    // round instead of on some future boilerplate-heavy corpus.
    "vec_hier_cellcap_pairs" -> Query(
      (s, d) => Ivf.hierCandidatePairs(s, d, cap = 8L),
      Some(s"""WITH ${Ivf.hierPairCteSqlWithCap(8L)}
             |SELECT DISTINCT l.vec_id AS va, r.vec_id AS vb
             |FROM hk l JOIN hk r ON l.cid = r.cid AND l.fid = r.fid AND l.vec_id < r.vec_id""".stripMargin)
    ),

    // ANN RECALL EVALUATION — the index-quality report as a QUERY, not
    // just a test: per probe, how many of the exact top-5 each
    // approximate index (LSH, IVF) recovered, with recall in integer
    // basis points. This is the artifact an index-tuning loop reads
    // (recall@k vs index params) — QualitySpec asserts floors on the
    // same numbers, but production monitoring needs them AS DATA. Each
    // ranking runs its own already-pinned plan; the eval join touches
    // 3×5 rows per probe.
    "ann_recall_eval" -> Query(
      (s, d) => {
        val m = entries.toMap
        def ids(name: String) =
          m(name).fn(s, d).select(col("qid"), col("vec_id"))
        val ex = ids("ann_bruteforce_topk")
        val lsh = ids("ann_lsh_topk")
        val ivf = ids("ann_ivf_topk")
        val nEx = ex.groupBy(col("qid")).agg(count(lit(1)).as("n_exact"))
        val lh = ex.join(lsh, Seq("qid", "vec_id"), "left_semi")
          .groupBy(col("qid")).agg(count(lit(1)).as("lsh_hits"))
        val ih = ex.join(ivf, Seq("qid", "vec_id"), "left_semi")
          .groupBy(col("qid")).agg(count(lit(1)).as("ivf_hits"))
        nEx.join(lh, Seq("qid"), "left").join(ih, Seq("qid"), "left")
          .select(col("qid"), col("n_exact"),
            coalesce(col("lsh_hits"), lit(0L)).as("lsh_hits"),
            coalesce(col("ivf_hits"), lit(0L)).as("ivf_hits"))
          .select(col("qid"), col("n_exact"), col("lsh_hits"), col("ivf_hits"),
            expr("lsh_hits * 10000 div n_exact").as("lsh_recall_bp"),
            expr("ivf_hits * 10000 div n_exact").as("ivf_recall_bp"))
      },
      Some(s"""WITH ex AS (SELECT qid, vec_id FROM ($bruteOracleSql)),
             |ls AS (SELECT qid, vec_id FROM ($lshOracleSql)),
             |iv AS (SELECT qid, vec_id FROM ($ivfOracleSql)),
             |ne AS (SELECT qid, COUNT(*) AS n_exact FROM ex GROUP BY 1),
             |lh AS (SELECT ex.qid, COUNT(*) AS lsh_hits FROM ex
             |       WHERE EXISTS (SELECT 1 FROM ls WHERE ls.qid = ex.qid AND ls.vec_id = ex.vec_id)
             |       GROUP BY 1),
             |ih AS (SELECT ex.qid, COUNT(*) AS ivf_hits FROM ex
             |       WHERE EXISTS (SELECT 1 FROM iv WHERE iv.qid = ex.qid AND iv.vec_id = ex.vec_id)
             |       GROUP BY 1)
             |SELECT ne.qid, ne.n_exact,
             |  COALESCE(lh.lsh_hits, 0) AS lsh_hits,
             |  COALESCE(ih.ivf_hits, 0) AS ivf_hits,
             |  CAST(COALESCE(lh.lsh_hits, 0) * 10000 // ne.n_exact AS BIGINT) AS lsh_recall_bp,
             |  CAST(COALESCE(ih.ivf_hits, 0) * 10000 // ne.n_exact AS BIGINT) AS ivf_recall_bp
             |FROM ne LEFT JOIN lh USING (qid) LEFT JOIN ih USING (qid)""".stripMargin)
    ),

    // IVF INDEX-BALANCE audit — the health check an IVF deployment
    // runs after (re)training: cell-size distribution of the trained
    // quantizer's assignment. A skewed index (hot cells) turns nprobe
    // into a full scan; empty cells waste probe budget. One assignment
    // scan (literal centroids, zero shuffle) + one k-row agg; every
    // output is integer arithmetic (avg and imbalance in x100 fixed
    // point) so the audit hash-checks exactly.
    "vec_ivf_balance" -> Query(
      (s, d) => {
        val cents = trainedCentroids(s, d)
        val sizes = quantizedVecs(s, d)
          .select(centroidRanks(cents, 1).getItem(0).as("cid"))
          .groupBy(col("cid")).agg(count(lit(1)).as("sz"))
        sizes.agg(
            count(lit(1)).as("n_cells_used"),
            min(col("sz")).as("min_sz"),
            max(col("sz")).as("max_sz"),
            sum(col("sz")).as("n_vecs"))
          .select(col("n_cells_used"),
            (lit(kmeansK.toLong) - col("n_cells_used")).as("n_empty"),
            col("min_sz"), col("max_sz"), col("n_vecs"),
            expr("n_vecs * 100 div n_cells_used").as("avg_sz_x100"),
            expr("max_sz * 100 * n_cells_used div n_vecs").as("imbalance_x100"))
      },
      Some(s"""WITH $kmeansCteSql,
             |asg AS (SELECT vec_id, cid FROM (
             |          SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) rn
             |          FROM d1) WHERE rn = 1),
             |szs AS (SELECT cid, COUNT(*) AS sz FROM asg GROUP BY 1)
             |SELECT COUNT(*) AS n_cells_used,
             |  CAST($kmeansK - COUNT(*) AS BIGINT) AS n_empty,
             |  MIN(sz) AS min_sz, MAX(sz) AS max_sz,
             |  CAST(SUM(sz) AS BIGINT) AS n_vecs,
             |  CAST(SUM(sz) * 100 // COUNT(*) AS BIGINT) AS avg_sz_x100,
             |  CAST(MAX(sz) * 100 * COUNT(*) // SUM(sz) AS BIGINT) AS imbalance_x100
             |FROM szs""".stripMargin)
    ),

    // EMBEDDING DRIFT monitor — the refresh-vs-refresh comparison an
    // embedding pipeline runs before swapping in a new model or
    // corpus snapshot: per-dimension mean shift between two halves
    // (here the deterministic vec_id parity split standing in for
    // old/new). Means derive from exact DECIMAL(18,12) sums, the
    // drift flag compares a scaled INTEGER (|delta|*1e6, floor+0.5)
    // so no float threshold crosses the engine boundary. One
    // posexplode + one 64-row dim rollup.
    "vec_drift_stats" -> Query(
      (s, d) =>
        Tables.embeddings(s, d)
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
          .groupBy((col("pos") + 1).cast("long").as("dim"))
          .agg(
            sum(when(col("vec_id") % 2 === 0, col("x").cast("double"))
              .otherwise(lit(0.0)).cast("decimal(18,12)")).as("so"),
            sum((col("vec_id") % 2 === 0).cast("long")).as("no"),
            sum(when(col("vec_id") % 2 =!= 0, col("x").cast("double"))
              .otherwise(lit(0.0)).cast("decimal(18,12)")).as("sn"),
            sum((col("vec_id") % 2 =!= 0).cast("long")).as("nn"))
          .select(col("dim"),
            round(col("so").cast("double") / col("no"), 6).as("mean_old"),
            round(col("sn").cast("double") / col("nn"), 6).as("mean_new"),
            round(col("sn").cast("double") / col("nn")
              - col("so").cast("double") / col("no"), 6).as("delta"),
            floor(abs(col("sn").cast("double") / col("nn")
              - col("so").cast("double") / col("no")) * 1000000 + 0.5)
              .cast("long").as("abs_delta_e6"))
          .withColumn("drifted", (col("abs_delta_e6") >= 10000).cast("long")),
      Some("""WITH x AS (SELECT vec_id, i AS dim, CAST(embedding[i] AS DOUBLE) AS v
             |          FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) ii),
             |g AS (SELECT dim,
             |        CAST(SUM(CAST(CASE WHEN vec_id % 2 = 0 THEN v ELSE 0.0 END AS DECIMAL(18,12))) AS DOUBLE) AS so,
             |        SUM(CAST(vec_id % 2 = 0 AS BIGINT)) AS no,
             |        CAST(SUM(CAST(CASE WHEN vec_id % 2 <> 0 THEN v ELSE 0.0 END AS DECIMAL(18,12))) AS DOUBLE) AS sn,
             |        SUM(CAST(vec_id % 2 <> 0 AS BIGINT)) AS nn
             |      FROM x GROUP BY 1)
             |SELECT CAST(dim AS BIGINT) AS dim,
             |  ROUND(so / no, 6) AS mean_old,
             |  ROUND(sn / nn, 6) AS mean_new,
             |  ROUND(sn / nn - so / no, 6) AS delta,
             |  CAST(floor(abs(sn / nn - so / no) * 1000000 + 0.5) AS BIGINT) AS abs_delta_e6,
             |  CAST(CAST(floor(abs(sn / nn - so / no) * 1000000 + 0.5) AS BIGINT) >= 10000 AS BIGINT) AS drifted
             |FROM g""".stripMargin)
    ),

    // JOHNSON-LINDENSTRAUSS random projection 64 -> 16 with a +/-1 sign
    // matrix, audited by the norm-distortion histogram: for a +/-1
    // matrix R (16 x 64), E[|Rx|^2] = 16 * |x|^2, so ratio_bp =
    // |Rx|^2 * 10000 / (16 * |x|^2) concentrates around 10000 — the
    // distortion spread is exactly what decides whether a 4x-cheaper
    // projected index (ANN prefilter, dedup blocking) is safe. Signs
    // come from md5 hex-digit parity (sign(j,i) = -1 iff the 8th hex
    // char of md5("rp_j_i") is odd) — computed at plan-build time here
    // and replayed literally by the oracle, so the whole projection is
    // exact integer arithmetic on the 1e3-quantized vectors. The
    // projection itself is ROW-LOCAL (a 1024-term codegen'd affine
    // map, no shuffle); only the <=20-bucket histogram aggregates.
    "vec_rp_project" -> Query(
      (s, d) => {
        def sg(j: Int, i: Int): Long = {
          val hex = java.security.MessageDigest.getInstance("MD5")
            .digest(s"rp_${j}_${i}".getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
          if ("13579bdf".contains(hex.charAt(7))) -1L else 1L
        }
        val projCols = (1 to 16).map { j =>
          (1 to 64).map(i => element_at(col("qv"), i) * lit(sg(j, i)))
            .reduce(_ + _).as(s"p$j")
        }
        val vn = (1 to 64)
          .map(i => element_at(col("qv"), i) * element_at(col("qv"), i))
          .reduce(_ + _).as("vn")
        quantizedVecs(s, d)
          .select(projCols :+ vn: _*)
          .select((1 to 16).map(j => col(s"p$j") * col(s"p$j"))
            .reduce(_ + _).as("pn"), col("vn"))
          .select(expr("pn * 10000 div nullif(16 * vn, 0)").as("ratio_bp"))
          .groupBy(expr("ratio_bp div 1000").as("bucket"))
          .agg(count(lit(1)).as("n_vecs"),
            min(col("ratio_bp")).as("min_bp"), max(col("ratio_bp")).as("max_bp"))
      },
      Some("""WITH q AS (SELECT vec_id, list_transform(embedding,
             |        x -> CAST(floor(CAST(x AS DOUBLE)*1000 + 0.5) AS BIGINT)) AS qv
             |      FROM embeddings),
             |sgn AS (SELECT j, i,
             |         CASE WHEN strpos('13579bdf',
             |           substr(md5('rp_' || CAST(j AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 8, 1)) > 0
             |           THEN -1 ELSE 1 END AS sg
             |        FROM (SELECT unnest(generate_series(1, 16)) AS j)
             |        CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i)),
             |p AS (SELECT q.vec_id, s.j, SUM(q.qv[s.i] * s.sg) AS pj
             |      FROM q CROSS JOIN sgn s GROUP BY 1, 2),
             |n2 AS (SELECT vec_id, SUM(pj * pj) AS pn FROM p GROUP BY 1),
             |v2 AS (SELECT vec_id, list_sum(list_transform(qv, x -> x * x)) AS vn FROM q),
             |r AS (SELECT CAST(pn * 10000 // nullif(16 * vn, 0) AS BIGINT) AS ratio_bp
             |      FROM n2 JOIN v2 USING (vec_id))
             |SELECT CAST(ratio_bp // 1000 AS BIGINT) AS bucket, COUNT(*) AS n_vecs,
             |  MIN(ratio_bp) AS min_bp, MAX(ratio_bp) AS max_bp
             |FROM r GROUP BY 1""".stripMargin)
    ),

    // COLBERT-STYLE LATE INTERACTION (MaxSim) top-k: each vector is
    // treated as 8 sub-vectors of 8 dims (the multi-vector document
    // representation), and a pair scores sum over query sub-vectors of
    // the MAX dot product against any doc sub-vector — the retrieval
    // scorer that beats single-vector cosine on fine-grained matches.
    // Declared exact rerank baseline over the broadcast probe set (the
    // ann_bruteforce convention: the corpus never shuffles for the
    // probe pairing; the partial-agg chain max-per-qsub then sum is
    // map-side combinable). All dots are exact integers on the
    // 1e3-quantized vectors, so the ranking is float-free.
    "ann_maxsim_topk" -> Query(
      (s, d) => {
        val subs = quantizedVecs(s, d)
          .select(col("vec_id"), explode(array((0 until 8).map(j =>
            struct(lit(j.toLong).as("m"), slice(col("qv"), j * 8 + 1, 8).as("sv"))): _*)).as("e"))
          .select(col("vec_id"), col("e.m").as("m"), col("e.sv").as("sv"))
        val qs = subs.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("m").as("qj"), col("sv").as("qsv"))
        val scored = subs.join(broadcast(qs), col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"), col("qj"),
            // native dot runs in double, but on 1e3-quantized 8-dim
            // sub-vectors |dot| <= 8e6 << 2^53, so every value is an
            // exactly-represented integer and the long cast is lossless
            graft.functions.VectorFunctions.dot(col("qsv"), col("sv"))
              .cast("long").as("dot"))
          .groupBy(col("qid"), col("vec_id"), col("qj"))
          .agg(max(col("dot")).as("mx"))
          .groupBy(col("qid"), col("vec_id"))
          .agg(sum(col("mx")).as("maxsim"))
        scored.withColumn("rn", row_number().over(
            Window.partitionBy(col("qid"))
              .orderBy(col("maxsim").desc, col("vec_id"))).cast("long"))
          .filter(col("rn") <= 5)
      },
      Some("""WITH q AS (SELECT vec_id, list_transform(embedding,
             |        x -> CAST(floor(CAST(x AS DOUBLE)*1000 + 0.5) AS BIGINT)) AS qv
             |      FROM embeddings),
             |sub AS (SELECT vec_id, j, list_slice(qv, 8*j + 1, 8*j + 8) AS sv
             |        FROM q CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j)),
             |qs AS (SELECT vec_id AS qid, j AS qj, sv AS qsv FROM sub WHERE vec_id < 10),
             |dots AS (SELECT qs.qid, sub.vec_id, qs.qj,
             |           MAX(list_sum(list_transform(generate_series(1, 8),
             |             i -> qsv[i] * sv[i]))) AS mx
             |         FROM sub JOIN qs ON sub.vec_id <> qs.qid
             |         GROUP BY 1, 2, 3),
             |sc AS (SELECT qid, vec_id, CAST(SUM(mx) AS BIGINT) AS maxsim
             |       FROM dots GROUP BY 1, 2),
             |r AS (SELECT qid, vec_id, maxsim,
             |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY maxsim DESC, vec_id) AS rn
             |      FROM sc)
             |SELECT qid, vec_id, maxsim, CAST(rn AS BIGINT) AS rn FROM r WHERE rn <= 5""".stripMargin)
    ),

    // RADIUS (epsilon-ball) SEARCH — "everything within cosine >= tau
    // of each probe", the dedup/recall-sweep primitive where top-k's
    // fixed k is wrong: result size follows true neighborhood density.
    // Round 12: candidates come from the TRAINED IVF quantizer (the
    // ann_ivf_trained geometry — corpus assigned to its cell in the
    // scan, zero corpus shuffle) with a WIDER probe list than top-k
    // needs (nprobe=24 of k=128: a ball wants the whole neighborhood,
    // not just the nearest cells; measured epsilon-ball recall 0.77 at
    // the gate vs the 0.5 QualitySpec floor). Candidate volume is
    // n * nprobe/k * |probes| — a constant fraction of one scan,
    // LINEAR in n, vs the old 8-bucket hyperplane index whose bucket
    // density made each probe's candidate set ~60% of the corpus.
    // Exact rounded cosine filters at the threshold; the oracle
    // replays training, assignment, and the 4dp compare bit-for-bit.
    // Round 18: QUANTIZER-ADAPTIVE (same ceiling as ann_ivf_trained —
    // fixed-k cells grow with the corpus, so the flat ball's candidate
    // volume is n·nprobe/k per probe). Past Ivf.HierSwitchN the ball
    // probes the hier index at 4×4 — the widest calibrated point of
    // ann_hier_probe_recall_curve, mirroring flat's wider
    // rangeNprobe=24. Count-gated oracle union; hier leg pinned at
    // gate scale by ann_range_search_hier.
    "ann_range_search" -> Query(
      (s, d) => Ivf.decideQuantizer(s, d) match {
        case "hier" => hierRangeBody(s, d)
        case _ =>
          val cents = trainedCentroids(s, d)
          val e = corpus(s, d).withColumn("qv", quantCol)
          val assigned = e.select(col("vec_id"), col("embedding"), col("nrm"),
            centroidRanks(cents, 1).getItem(0).as("cid"))
          val probes = e.filter(col("vec_id") < 10)
            .select(col("vec_id").as("qid"), col("embedding").as("qv2"),
              col("nrm").as("qnrm"),
              explode(centroidRanks(cents, rangeNprobe)).as("cid"))
          assigned.join(broadcast(probes), Seq("cid"))
            .filter(col("vec_id") =!= col("qid"))
            .select(col("qid"), col("vec_id"),
              pairCos(col("qv2"), col("qnrm")).as("cos"))
            .filter(col("cos") >= 0.25)
      },
      Some(s"""WITH $gatedBaseCtes,
             |$kmeansCteSqlGated,
             |asg AS (SELECT vec_id, cid FROM (
             |          SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) rn
             |          FROM d1) WHERE rn = 1),
             |pr AS (SELECT vec_id AS qid, cid FROM (
             |         SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) rn
             |         FROM d1 WHERE vec_id < 10) WHERE rn <= $rangeNprobe),
             |c AS (SELECT pr.qid, a.vec_id, $cosSql AS cos
             |      FROM asg a JOIN pr ON a.cid = pr.cid AND a.vec_id <> pr.qid
             |      JOIN embeddings e ON e.vec_id = a.vec_id
             |      JOIN (SELECT vec_id AS qid2, embedding AS qv FROM embeddings) q
             |        ON q.qid2 = pr.qid),
             |${hierCandCtes("h_", Ivf.hierNprobe, rangeHierNprobeF, "embh")},
             |${hierTopkTailCtes("h_")}
             |SELECT qid, vec_id, cos FROM c
             |WHERE cos >= 0.25 AND NOT (SELECT hier FROM nsel)
             |UNION ALL
             |SELECT qid, vec_id, cos FROM h_hc
             |WHERE cos >= 0.25 AND (SELECT hier FROM nsel)""".stripMargin)
    ),

    // FORCED-HIER RANGE TWIN — ann_range_search's hierarchical leg
    // pinned at gate scale: 4×4 key-intersection candidates, exact
    // rounded cosine at the same 0.25 threshold.
    "ann_range_search_hier" -> Query(
      (s, d) => hierRangeBody(s, d),
      Some(s"""WITH ${hierCandCtes("", Ivf.hierNprobe, rangeHierNprobeF)},
             |${hierTopkTailCtes("")}
             |SELECT qid, vec_id, cos FROM hc WHERE cos >= 0.25""".stripMargin)
    ),

    // PER-DIMENSION EMBEDDING AUDIT — mean / std / dead-share for each
    // of the 64 dims: the check that catches collapsed or dead
    // dimensions (training bug, bad normalization) BEFORE they poison
    // quantizers and LSH planes downstream. One posexplode + one
    // 64-group map-side-combinable agg; sums are exact DECIMAL so the
    // only floats are the final mean/std (identical-operand division
    // and sqrt, rounded 6dp). No driver state, no second pass.
    "vec_dim_stats" -> Query(
      (s, d) => {
        val t = Tables.embeddings(s, d)
          .select(posexplode(col("embedding")).as(Seq("pos", "xf")))
          .select((col("pos") + 1).cast("long").as("dim"),
            col("xf").cast("double").as("x"))
        t.groupBy(col("dim"))
          .agg(count(lit(1)).as("n"),
            sum(col("x").cast("decimal(18,9)")).as("sx"),
            sum((col("x") * col("x")).cast("decimal(26,9)")).as("sxx"),
            sum((abs(col("x")) < 0.001).cast("long")).as("n_dead"))
          .select(col("dim"), col("n"),
            round(col("sx").cast("double") / col("n"), 6).as("mean"),
            round(sqrt((col("sxx").cast("double")
              - col("sx").cast("double") * col("sx").cast("double") / col("n"))
              / col("n")), 6).as("std"),
            expr("n_dead * 10000 div n").as("dead_bp"))
      },
      Some("""WITH u AS (SELECT embedding, unnest(generate_series(1, 64)) AS dim FROM embeddings),
             |t AS (SELECT dim, CAST(embedding[dim] AS DOUBLE) AS x FROM u)
             |SELECT CAST(dim AS BIGINT) AS dim, COUNT(*) AS n,
             |  ROUND(CAST(SUM(CAST(x AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6) AS mean,
             |  ROUND(sqrt((CAST(SUM(CAST(x * x AS DECIMAL(26,9))) AS DOUBLE)
             |    - CAST(SUM(CAST(x AS DECIMAL(18,9))) AS DOUBLE)
             |      * CAST(SUM(CAST(x AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*))
             |    / COUNT(*)), 6) AS std,
             |  CAST(SUM(CAST(abs(x) < 0.001 AS BIGINT)) * 10000 // COUNT(*) AS BIGINT) AS dead_bp
             |FROM t GROUP BY dim""".stripMargin)
    ),

    // PAIRWISE-COSINE HISTOGRAM over deterministic stride samples — the
    // embedding-space anisotropy audit (Ethayarajh 2019): if random-pair
    // cosines cluster far from 0, the space is anisotropic and cosine
    // thresholds (dedup_embedding, semdedup) need recalibration. Strides
    // 1 and 97 give two independent O(n) pair samples via pure equi-joins
    // on vec_id + stride — never an all-pairs product, so the audit stays
    // linear at any corpus size. 40 bins over [-1, 1]; per-stride mean
    // from an exact DECIMAL sum.
    "vec_cosine_hist" -> Query(
      (s, d) => {
        val e = corpus(s, d)
        val a = e
          .select(col("vec_id"), col("embedding").as("qv"), col("nrm").as("qnrm"),
            explode(array(lit(1L), lit(97L))).as("stride"))
          .withColumn("pid", col("vec_id") + col("stride"))
        val b = e.select(col("vec_id").as("pid"), col("embedding"), col("nrm"))
        a.join(b, Seq("pid"))
          .select(col("stride"), pairCos(col("qv"), col("qnrm")).as("cos"))
          .withColumn("bin", floor((col("cos") + 1) * 20).cast("long"))
          .groupBy(col("stride"), col("bin"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("cos").cast("decimal(18,6)")).cast("double")
              / count(lit(1)), 4).as("mean_cos"))
      },
      Some(s"""WITH st AS (SELECT unnest([1, 97]) AS stride),
             |q AS (SELECT vec_id, embedding AS qv, stride
             |      FROM embeddings CROSS JOIN st),
             |c AS (SELECT q.stride, $cosSql AS cos
             |      FROM q JOIN embeddings e ON e.vec_id = q.vec_id + q.stride)
             |SELECT CAST(stride AS BIGINT) AS stride,
             |  CAST(floor((cos + 1) * 20) AS BIGINT) AS bin, COUNT(*) AS n,
             |  ROUND(CAST(SUM(CAST(cos AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 4)
             |    AS mean_cos
             |FROM c GROUP BY 1, 2""".stripMargin)
    ),

    // LABEL PRECISION@5 — the two-tower-style retrieval eval when true
    // neighbors are unknown but class labels exist: for each probe, the
    // share of its exact top-5 sharing the probe's label, against the
    // label's base rate in the rest of the corpus (lift > 1 means the
    // embedding geometry encodes the label). All integers in basis
    // points; label counts broadcast; the scoring pass is the same
    // broadcast-probe shape as the brute-force reference.
    "ann_label_precision" -> Query(
      (s, d) => {
        val e = corpus(s, d)
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"),
            col("nrm").as("qnrm"), col("label").cast("long").as("qlabel"))
        val top5 = topK(e.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("qlabel"), col("vec_id"),
            col("label").cast("long").as("nlabel"),
            pairCos(col("qv"), col("qnrm")).as("cos")), 5)
        val per = top5.groupBy(col("qid"), col("qlabel"))
          .agg(sum((col("nlabel") === col("qlabel")).cast("long")).as("hits5"))
        val lc = e.groupBy(col("label").cast("long").as("qlabel"))
          .agg(count(lit(1)).as("cnt"))
        val n = e.agg(count(lit(1)).as("ntot"))
        per.join(broadcast(lc), Seq("qlabel")).crossJoin(broadcast(n))
          .select(col("qid"), col("qlabel").as("label"), col("hits5"),
            (col("hits5") * 2000).as("p_bp"),
            expr("(cnt - 1) * 10000 div (ntot - 1)").as("base_bp"))
      },
      Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv,
             |        CAST(label AS BIGINT) AS qlabel
             |      FROM embeddings WHERE vec_id < 10),
             |c AS (SELECT q.qid, q.qlabel, e.vec_id,
             |        CAST(e.label AS BIGINT) AS nlabel, $cosSql AS cos
             |      FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.qid),
             |r AS (SELECT qid, qlabel, nlabel,
             |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
             |      FROM c),
             |per AS (SELECT qid, qlabel,
             |          CAST(SUM(CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END) AS BIGINT)
             |            AS hits5
             |        FROM r WHERE rn <= 5 GROUP BY 1, 2),
             |lc AS (SELECT CAST(label AS BIGINT) AS qlabel, COUNT(*) AS cnt
             |       FROM embeddings GROUP BY 1),
             |n AS (SELECT COUNT(*) AS ntot FROM embeddings)
             |SELECT per.qid, per.qlabel AS label, per.hits5,
             |  CAST(per.hits5 * 2000 AS BIGINT) AS p_bp,
             |  CAST((lc.cnt - 1) * 10000 // (n.ntot - 1) AS BIGINT) AS base_bp
             |FROM per JOIN lc USING (qlabel) CROSS JOIN n""".stripMargin)
    ),

    // OOD SCORE via quantizer distance — the embedding-drift gate a
    // retrieval deployment runs on incoming vectors: distance to the
    // assigned trained-quantizer centroid, flagged when above the
    // corpus's own p99 (the "far from every prototype" definition of
    // out-of-distribution). Assignment is the zero-shuffle literal-
    // centroid argmin; the distance re-fold joins a BROADCAST (cid ->
    // centroid) table; the p99 threshold comes from GroupedPercentile
    // (no value buffer) and broadcasts back onto the scores. Scores
    // ship as floor(dist + 0.5) integers; the flag compares the raw
    // double against the identically-derived threshold both engines.
    "vec_ood_centroid_dist" -> Query(
      (s, d) => {
        val cents = trainedCentroids(s, d)
        val centDf = broadcast(s.createDataFrame(cents.map { case (cid, cv) =>
          (cid, cv) }).toDF("cid", "cv"))
        val asg = quantizedVecs(s, d)
          .withColumn("cid", centroidRanks(cents, 1).getItem(0))
          .join(centDf, Seq("cid"))
          .withColumn("dist", aggregate(
            zip_with(col("qv"), col("cv"),
              (a, b) => (a.cast("double") - b) * (a.cast("double") - b)),
            lit(0.0), (acc, x) => acc + x))
          .select(col("vec_id"), col("cid"), col("dist"))
        val thr = graft.operators.GroupedPercentile.exact(
            asg.select(lit(1L).as("g"), col("dist")), "g", "dist",
            Seq(("p99", 0.99)), floor(col("dist") / 1e6), c => c)
          .select(col("res").as("thr"))
        asg.crossJoin(broadcast(thr))
          .select(col("vec_id"), col("cid"),
            floor(col("dist") + 0.5).cast("long").as("dist_i"),
            (col("dist") > col("thr")).cast("long").as("ood"))
      },
      Some(s"""WITH $kmeansCteSql,
             |asg AS (SELECT vec_id, cid, dist FROM (
             |          SELECT vec_id, cid, dist,
             |            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) rn
             |          FROM d1) WHERE rn = 1),
             |thr AS (SELECT quantile_cont(dist, 0.99) AS thr FROM asg)
             |SELECT vec_id, CAST(cid AS BIGINT) AS cid,
             |  CAST(floor(dist + 0.5) AS BIGINT) AS dist_i,
             |  CAST(dist > thr AS BIGINT) AS ood
             |FROM asg CROSS JOIN thr""".stripMargin)
    ),

    // MMR (maximal marginal relevance) diversified top-k — what a RAG
    // retriever runs when the plain top-5 is five near-duplicates:
    // greedily pick k=5 from a 20-candidate shortlist, each step
    // maximizing 0.5*relevance - 0.5*max-similarity-to-already-picked.
    // Greedy selection is sequential in k BY DEFINITION — but once the
    // shortlist exists it is PER-PROBE LOCAL, so the recurrence runs
    // over in-row arrays: the shortlist and its 20x20 pair-sim table
    // fold to ONE row per qid (sorted candidate array + sims array),
    // and the k picks unroll as higher-order-function rounds
    // (filter/transform/aggregate) inside a single projection — no
    // per-round join stages, no per-round caches, ~4 stages total
    // regardless of k. The corpus is scanned once, by the shortlist
    // pass; everything after it touches |queries| rows. Scores compare
    // at 4dp with vec_id tie-breaks, so the greedy path is
    // engine-deterministic.
    "ann_mmr_diversify" -> Query(
      (s, d) => {
        val scored = corpus(s, d).crossJoin(broadcast(queriesDf(s, d)))
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"), col("embedding"), col("nrm"),
            pairCos(col("qv"), col("qnrm")).as("cos"))
        val short = graft.Caches.scoped(scored
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))))
          .filter(col("rn") <= mmrShortlist)
          .select(col("qid"), col("vec_id"), col("embedding"), col("nrm"), col("cos")))
        val simsArr = short
          .select(col("qid"), col("vec_id").as("va"),
            col("embedding").as("ea"), col("nrm").as("na"))
          .join(short.select(col("qid"), col("vec_id").as("vb"),
            col("embedding").as("eb"), col("nrm").as("nb")), Seq("qid"))
          .filter(col("va") =!= col("vb"))
          .select(col("qid"), col("va"), col("vb"),
            round(VectorFunctions.dot(col("ea"), col("eb")) / (col("na") * col("nb")), 4)
              .as("sim"))
          .groupBy(col("qid"))
          .agg(collect_list(struct(col("va"), col("vb"), col("sim"))).as("sims"))
        // candidate array sorted by (cos desc, vec_id): ascending
        // struct sort on (-cos, vec_id) — Double.compare semantics
        // match the window's desc ordering
        val candArr = short.groupBy(col("qid"))
          .agg(transform(
            sort_array(collect_list(struct((-col("cos")).as("nc"),
              col("vec_id").as("v"), col("cos").as("c")))),
            x => struct(x.getField("v").as("v"), x.getField("c").as("m")))
            .as("cands"))
        // greedy fold over the in-row arrays: pick 1 is the top
        // candidate (mmr = its cos); each later round filters the
        // already-picked ids, scores the rest against the sims array,
        // and appends the (mmr desc, vec_id) argmax. The k-1 rounds
        // run as ONE `aggregate` over a dummy step sequence, so the
        // round expression exists exactly once with the accumulator as
        // a lambda variable — an unrolled k-deep nest overflows the
        // analyzer fixpoint, and per-round withColumns get re-inlined
        // by CollapseProject into the same pathological tree.
        val picked = aggregate(
          sequence(lit(2), lit(mmrK)),
          slice(col("cands"), 1, 1),
          (sel, _) => {
            val ids = transform(sel, p => p.getField("v"))
            val rest = filter(col("cands"),
              x => !array_contains(ids, x.getField("v")))
            val scoredRest = transform(rest, x => {
              val msim = aggregate(
                filter(col("sims"), sm => sm.getField("va") === x.getField("v") &&
                  array_contains(ids, sm.getField("vb"))),
                lit(-1e9), (acc, sm) => greatest(acc, sm.getField("sim")))
              struct(x.getField("v").as("v"),
                round(lit(0.5) * x.getField("m") - lit(0.5) * msim, 4).as("m"))
            })
            val best = aggregate(scoredRest,
              struct(lit(Long.MaxValue).as("v"), lit(-1e9).as("m")),
              (acc, x) => when(x.getField("m") > acc.getField("m") ||
                (x.getField("m") === acc.getField("m") &&
                  x.getField("v") < acc.getField("v")), x).otherwise(acc))
            concat(sel, array(best))
          })
        candArr.join(simsArr, Seq("qid"))
          .select(col("qid"), posexplode(picked).as(Seq("p0", "pk")))
          .select(col("qid"), col("pk.v").as("vec_id"),
            (col("p0") + 1).cast("long").as("step"), col("pk.m").as("mmr"))
      },
      Some(mmrOracleSql)
    ),

    // IVF RECALL-vs-NPROBE curve — the tuning table every IVF
    // deployment publishes: recall@5 against the brute-force truth at
    // probe widths 1/2/4/8 over the trained quantizer. Each corpus
    // vector's candidacy rank is the MIN probe rank that reaches its
    // cell, computed ONCE; the four widths then re-rank the same
    // candidate set via one (width, qid)-partitioned window (widths
    // ride an exploded literal — no extra scans). Hits are exact
    // integers; recall ships as basis points.
    "ann_nprobe_recall_curve" -> Query(
      (s, d) => {
        val cents = trainedCentroids(s, d)
        val e = corpus(s, d).withColumn("qv", quantCol)
        val assigned = e.select(col("vec_id"), col("embedding"), col("nrm"),
          centroidRanks(cents, 1).getItem(0).as("cid"))
        val probes = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qv2"),
            col("nrm").as("qnrm"),
            posexplode(centroidRanks(cents, 8)).as(Seq("pr0", "cid")))
          .select(col("qid"), col("qv2"), col("qnrm"),
            (col("pr0") + 1).cast("long").as("prank"), col("cid"))
        val cand = assigned.join(broadcast(probes), Seq("cid"))
          .filter(col("vec_id") =!= col("qid"))
          .groupBy(col("qid"), col("vec_id"))
          .agg(min(col("prank")).as("pr"),
            max(pairCos(col("qv2"), col("qnrm"))).as("cos"))
        val truth = topK(corpus(s, d).crossJoin(broadcast(queriesDf(s, d)))
            .filter(col("vec_id") =!= col("qid"))
            .select(col("qid"), col("vec_id"), pairCos(col("qv"), col("qnrm")).as("cos")), 5)
          .select(col("qid"), col("vec_id"), lit(1L).as("hit"))
        cand
          .select(col("qid"), col("vec_id"), col("pr"), col("cos"),
            explode(array(lit(1L), lit(2L), lit(4L), lit(8L))).as("np"))
          .filter(col("pr") <= col("np"))
          .withColumn("rnk", row_number().over(
            Window.partitionBy(col("np"), col("qid"))
              .orderBy(col("cos").desc, col("vec_id"))))
          .filter(col("rnk") <= 5)
          .join(truth, Seq("qid", "vec_id"), "left")
          .groupBy(col("np").as("nprobe"))
          .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"))
          .withColumn("recall_bp", expr("hits * 10000 div 50"))
      },
      Some(s"""WITH $kmeansCteSql,
             |asg AS (SELECT vec_id, cid FROM (
             |          SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) rn
             |          FROM d1) WHERE rn = 1),
             |pr AS (SELECT vec_id AS qid, cid, CAST(rn AS BIGINT) AS prank FROM (
             |         SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) rn
             |         FROM d1 WHERE vec_id < 10) WHERE rn <= 8),
             |cand AS (SELECT pr.qid, a.vec_id, MIN(pr.prank) AS p, MAX($cosSql) AS cos
             |      FROM asg a JOIN pr ON a.cid = pr.cid AND a.vec_id <> pr.qid
             |      JOIN embeddings e ON e.vec_id = a.vec_id
             |      JOIN (SELECT vec_id AS qid2, embedding AS qv FROM embeddings) q
             |        ON q.qid2 = pr.qid
             |      GROUP BY 1, 2),
             |np AS (SELECT unnest([1, 2, 4, 8]) AS np),
             |rk AS (SELECT np.np, c.qid, c.vec_id,
             |        ROW_NUMBER() OVER (PARTITION BY np.np, c.qid
             |                           ORDER BY c.cos DESC, c.vec_id) AS rnk
             |      FROM cand c JOIN np ON c.p <= np.np),
             |tr AS (SELECT qid, vec_id FROM (
             |        SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid
             |            ORDER BY cos DESC, vec_id) AS rn
             |        FROM (SELECT q.vec_id AS qid, e.vec_id,
             |                ${cosSqlAB("q.embedding", "e.embedding")} AS cos
             |              FROM embeddings q CROSS JOIN embeddings e
             |              WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id))
             |      WHERE rn <= 5)
             |SELECT CAST(rk.np AS BIGINT) AS nprobe,
             |  CAST(SUM(CASE WHEN tr.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
             |  CAST(SUM(CASE WHEN tr.vec_id IS NOT NULL THEN 1 ELSE 0 END) * 10000 // 50
             |    AS BIGINT) AS recall_bp
             |FROM rk LEFT JOIN tr ON tr.qid = rk.qid AND tr.vec_id = rk.vec_id
             |WHERE rk.rnk <= 5
             |GROUP BY 1""".stripMargin)
    ),

    // HIERARCHICAL RECALL-vs-(nprobe_coarse × nprobe_fine) curve —
    // the two-level twin of ann_nprobe_recall_curve (r17, VERDICT r16
    // Next #6): before consumers route onto the hierarchical index,
    // its 4×2 default probe widths get the same measured-choice
    // treatment as flat's nprobe. ONE ranked assignment pass at the
    // widest widths (hierAssignmentsRanked 4×4 — coarse/fine ranks as
    // columns) serves every combination as a FILTER: a (qid, vec)
    // pair is a candidate at combo (a, b) iff some shared (cid, fid)
    // key satisfies max(crn) <= a and max(frn) <= b on both sides.
    // Exact cosine reranks per combo; hits vs the brute-force truth
    // ship in integer basis points. The model is read once — no
    // per-combo re-assignment, no corpus shuffle.
    "ann_hier_probe_recall_curve" -> Query(
      (s, d) => {
        val h = Ivf.hierAssignmentsRanked(s, d, 4, 4)
        val qh = h.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("cid"), col("fid"),
            col("crn").as("pcrn"), col("frn").as("pfrn"))
        val keys = h.join(broadcast(qh), Seq("cid", "fid"))
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"),
            greatest(col("crn"), col("pcrn")).as("ka"),
            greatest(col("frn"), col("pfrn")).as("kb"))
          .distinct()
        val combos = Seq((1, 1), (2, 1), (2, 2), (4, 1), (4, 2), (4, 4))
        val cmb = explode(array(combos.map { case (a, b) =>
          struct(lit(a.toLong).as("ca"), lit(b.toLong).as("cf"))
        }: _*))
        val cc = keys.select(col("qid"), col("vec_id"), col("ka"), col("kb"),
            cmb.as("cmb"))
          .filter(col("ka") <= col("cmb.ca") && col("kb") <= col("cmb.cf"))
          .select(col("cmb.ca").as("ca"), col("cmb.cf").as("cf"),
            col("qid"), col("vec_id"))
          .distinct()
        val scored = cc.join(corpus(s, d), Seq("vec_id"))
          .join(broadcast(queriesDf(s, d)), Seq("qid"))
          .select(col("ca"), col("cf"), col("qid"), col("vec_id"),
            pairCos(col("qv"), col("qnrm")).as("cos"))
          .withColumn("rnk", row_number().over(
            Window.partitionBy(col("ca"), col("cf"), col("qid"))
              .orderBy(col("cos").desc, col("vec_id"))))
          .filter(col("rnk") <= 5)
        val truth = topK(corpus(s, d).crossJoin(broadcast(queriesDf(s, d)))
            .filter(col("vec_id") =!= col("qid"))
            .select(col("qid"), col("vec_id"),
              pairCos(col("qv"), col("qnrm")).as("cos")), 5)
          .select(col("qid"), col("vec_id"), lit(1L).as("hit"))
        scored.join(truth, Seq("qid", "vec_id"), "left")
          .groupBy(col("ca").as("nprobe_coarse"), col("cf").as("nprobe_fine"))
          .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"))
          .withColumn("recall_bp", expr("hits * 10000 div 50"))
      },
      Some(s"""WITH ${Ivf.hierRankedCteSql("", 4, 4)},
             |qh AS (SELECT vec_id AS qid, cid, fid, crn AS pcrn, frn AS pfrn
             |       FROM hasgr WHERE vec_id < 10),
             |ks AS (SELECT DISTINCT qh.qid, h.vec_id,
             |         GREATEST(h.crn, qh.pcrn) AS ka, GREATEST(h.frn, qh.pfrn) AS kb
             |       FROM hasgr h JOIN qh ON h.cid = qh.cid AND h.fid = qh.fid
             |         AND h.vec_id <> qh.qid),
             |cmb(ca, cf) AS (VALUES (1, 1), (2, 1), (2, 2), (4, 1), (4, 2), (4, 4)),
             |cc AS (SELECT DISTINCT cmb.ca, cmb.cf, ks.qid, ks.vec_id
             |       FROM ks JOIN cmb ON ks.ka <= cmb.ca AND ks.kb <= cmb.cf),
             |sc AS (SELECT cc.ca, cc.cf, cc.qid, cc.vec_id, $cosSql AS cos
             |       FROM cc JOIN embeddings e ON e.vec_id = cc.vec_id
             |       JOIN (SELECT vec_id AS qid2, embedding AS qv FROM embeddings
             |             WHERE vec_id < 10) q ON q.qid2 = cc.qid),
             |rk AS (SELECT ca, cf, qid, vec_id,
             |         ROW_NUMBER() OVER (PARTITION BY ca, cf, qid
             |                            ORDER BY cos DESC, vec_id) AS rnk
             |       FROM sc),
             |tr AS (SELECT qid, vec_id FROM (
             |        SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid
             |            ORDER BY cos DESC, vec_id) AS rn
             |        FROM (SELECT q.vec_id AS qid, e.vec_id,
             |                ${cosSqlAB("q.embedding", "e.embedding")} AS cos
             |              FROM embeddings q CROSS JOIN embeddings e
             |              WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id))
             |      WHERE rn <= 5)
             |SELECT CAST(rk.ca AS BIGINT) AS nprobe_coarse,
             |  CAST(rk.cf AS BIGINT) AS nprobe_fine,
             |  CAST(SUM(CASE WHEN tr.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
             |  CAST(SUM(CASE WHEN tr.vec_id IS NOT NULL THEN 1 ELSE 0 END) * 10000 // 50
             |    AS BIGINT) AS recall_bp
             |FROM rk LEFT JOIN tr ON tr.qid = rk.qid AND tr.vec_id = rk.vec_id
             |WHERE rk.rnk <= 5
             |GROUP BY 1, 2""".stripMargin)
    ),

    // TWO-LEVEL RESIDUAL QUANTIZATION (RQ) — the additive-codebook
    // compression family (RQ/LSQ) next to PQ's subspace family: stage 1
    // snaps the vector to its nearest of 16 full-dim codewords, stage 2
    // quantizes the RESIDUAL against a second 16-codeword book whose
    // code 0 is the zero vector (so stage 2 can only reduce error).
    // Both codebooks are fixed-size driver-side model artifacts; the
    // whole encode is literal-codebook arithmetic in the scan — no
    // join, no shuffle. Integer milli-units end to end: assignments,
    // residuals, and both error terms are EXACT, down to the bp gain.
    "vec_residual_quantize" -> Query(
      (s, d) => {
        val (cb1, cb2) = rqCodebooks(s, d)
        val cb1Arr = cb1.map(_._2.map(_.toLong))
        val cb2Arr = cb2.map(_._2.map(_.toLong))
        val sq = quantizedVecs(s, d)
          .withColumn("c1", centroidRanks(cb1, 1).getItem(0))
          .withColumn("rv", zip_with(col("qv"),
            element_at(typedlit(cb1Arr), col("c1").cast("int") + 1),
            (a, b) => a - b))
          .withColumn("c2",
            graft.plans.PqExpressions.centroidRanks(col("rv"), cb2, 1).getItem(0))
          .withColumn("rv2", zip_with(col("rv"),
            element_at(typedlit(cb2Arr), col("c2").cast("int") + 1),
            (a, b) => a - b))
          .withColumn("err1", aggregate(col("rv"), lit(0L), (acc, x) => acc + x * x))
          .withColumn("err2", aggregate(col("rv2"), lit(0L), (acc, x) => acc + x * x))
        sq.select(col("vec_id"), col("c1"), col("c2"), col("err1"), col("err2"),
          expr("(err1 - err2) * 10000 div greatest(err1, 1)").as("gain_bp"))
      },
      Some(s"""WITH q AS (SELECT vec_id, list_transform(embedding,
             |        x -> CAST(floor(CAST(x AS DOUBLE)*1000 + 0.5) AS BIGINT)) AS qv
             |      FROM embeddings),
             |s1(j, sid) AS (VALUES
             |${rqSeeds1.zipWithIndex.map { case (sid, j) => s"  ($j, $sid)" }.mkString(",\n")}),
             |cb1 AS (SELECT s1.j AS cid, q.qv AS cv FROM s1 JOIN q ON q.vec_id = s1.sid),
             |d1 AS (SELECT q.vec_id, q.qv, c.cid,
             |         list_sum(list_transform(generate_series(1,64),
             |           i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]))) AS dist
             |       FROM q CROSS JOIN cb1 c),
             |a1 AS (SELECT vec_id, qv, cid AS c1 FROM (
             |         SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) rn
             |         FROM d1) WHERE rn = 1),
             |r1 AS (SELECT a1.vec_id, a1.c1,
             |         list_transform(generate_series(1,64), i -> a1.qv[i] - c.cv[i]) AS rv
             |       FROM a1 JOIN cb1 c ON c.cid = a1.c1),
             |s2(j, sid) AS (VALUES
             |${rqSeeds2.zipWithIndex.map { case (sid, j) => s"  (${j + 1}, $sid)" }.mkString(",\n")}),
             |sd AS (SELECT s2.j, q.qv FROM s2 JOIN q ON q.vec_id = s2.sid),
             |sdd AS (SELECT sd.j, sd.qv, c.cid,
             |          list_sum(list_transform(generate_series(1,64),
             |            i -> (sd.qv[i] - c.cv[i]) * (sd.qv[i] - c.cv[i]))) AS dist
             |        FROM sd CROSS JOIN cb1 c),
             |sda AS (SELECT j, qv, cid FROM (
             |          SELECT *, ROW_NUMBER() OVER (PARTITION BY j ORDER BY dist, cid) rn
             |          FROM sdd) WHERE rn = 1),
             |cb2 AS (SELECT CAST(0 AS BIGINT) AS cid,
             |          list_transform(generate_series(1,64), i -> CAST(0 AS BIGINT)) AS cv
             |        UNION ALL
             |        SELECT CAST(sda.j AS BIGINT),
             |          list_transform(generate_series(1,64), i -> sda.qv[i] - c.cv[i])
             |        FROM sda JOIN cb1 c ON c.cid = sda.cid),
             |d2 AS (SELECT r1.vec_id, r1.c1, r1.rv, c.cid,
             |         list_sum(list_transform(generate_series(1,64),
             |           i -> (r1.rv[i] - c.cv[i]) * (r1.rv[i] - c.cv[i]))) AS dist
             |       FROM r1 CROSS JOIN cb2 c),
             |a2 AS (SELECT vec_id, c1, rv, cid AS c2, dist AS err2 FROM (
             |         SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) rn
             |         FROM d2) WHERE rn = 1)
             |SELECT vec_id, CAST(c1 AS BIGINT) AS c1, CAST(c2 AS BIGINT) AS c2,
             |  CAST(list_sum(list_transform(generate_series(1,64),
             |    i -> rv[i] * rv[i])) AS BIGINT) AS err1,
             |  CAST(err2 AS BIGINT) AS err2,
             |  CAST((CAST(list_sum(list_transform(generate_series(1,64),
             |      i -> rv[i] * rv[i])) AS BIGINT) - err2) * 10000
             |    // GREATEST(CAST(list_sum(list_transform(generate_series(1,64),
             |      i -> rv[i] * rv[i])) AS BIGINT), 1) AS BIGINT) AS gain_bp
             |FROM a2""".stripMargin)
    )
  )
}
