package graft.similarity

import graft.{Derived, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Shared trained-quantizer (k-means / IVF) machinery.
  *
  * One home for the training loop, the literal-centroid assignment
  * column, and the DuckDB replay CTE — consumed by the §2.4 quantizer
  * stack (kmeans_train, ann_ivf_trained, pipeline_semdedup via
  * SimilarityQueries) AND, since round 12, by the kNN-graph /
  * embedding-pair family (vec_knn_graph, vec_knn_hubness,
  * dedup_embedding, text_bitext_mine, vec_cluster_components), whose
  * candidate generation now blocks on trained cells instead of the
  * fixed-8-bucket hyperplane-LSH key space round 11 flagged as the
  * one remaining quadratic.
  *
  * Embeddings quantize to exact integers (floor(x*1000+0.5) is
  * engine-identical where round() is not) — every k-means sum is then
  * an exact BIGINT and every derived centroid an exact int/int
  * division, so the whole training loop hash-matches DuckDB.
  *
  * TWO cell-count regimes, deliberately distinct:
  *  - `kmeansK` (=128, FIXED): the ANN-index regime. Probe-based
  *    queries touch |probes|*nprobe cells, so the model is a pure
  *    config constant — bigger corpora raise it as a deployment
  *    choice, nothing in the plan depends on data volume.
  *  - `graphK(s, d)` (cells PROPORTIONAL to the corpus, ~4 vectors
  *    per cell, clamped to [128, 32768] in this test env — ceiling
  *    raised a decade in r15 after the GrowthProbe ladder caught the
  *    old 4096 bound binding at 80k vectors): the
  *    pair-generating regime. An all-corpus family (kNN graph,
  *    near-dup pairs) pays O(sum cell_i^2) for candidates, so the
  *    only way candidates stay LINEAR in n is constant cell SIZE —
  *    i.e. cell count grows with the corpus, exactly how a
  *    production IVF sizes its coarse quantizer (cells ~ n /
  *    target_cell_size). The clamp ceiling is the local test bound;
  *    a deployment raises it with the cluster. Measured: candidates
  *    4.2x for 4x vectors at probe=4 (sf0.01 -> sf0.1), vs 16x under
  *    any fixed key space.
  */
object Ivf {

  /** Exact integer quantization of the embedding column (reads
    * `embedding`, emits the long-array `qv` the assignment reads).
    */
  def quantCol: Column =
    transform(col("embedding"), x => floor(x.cast("double") * 1000 + 0.5).cast("long"))

  def quantizedVecs(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(col("vec_id"), quantCol.as("qv"))

  /** FIXED model size for the probe-based ANN index regime: k never
    * scales with the corpus (see class doc).
    */
  val kmeansK = 128

  /** IVF probe width over the trained quantizer. nprobe scales with k
    * (probe a roughly constant FRACTION of cells for a target recall),
    * never with the corpus: the probe side stays |queries|*nprobe rows.
    */
  val ivfNprobe = 16

  /** Probe width for the pair-generating regime: each vector joins the
    * pair self-join under its `graphNprobe` nearest cells, so a true
    * neighbor pair only needs ONE shared cell among 4x4 assignments.
    * Measured recall at the gate corpus: 0.80 for both kNN@3 edges and
    * cos>=0.3 pairs (QualitySpec floors 0.6 / 0.5).
    */
  val graphNprobe = 4

  /** The row's `take` nearest centroids by (dist, cid) over the `qv`
    * column: element 0 is the k-means assignment, the first nprobe are
    * the IVF probe cells. No join, no shuffle — a native codegen'd
    * expression (plans/PqExpressions.CentroidRanks) holding the k*64
    * model as one flat reference object, O(k*dim) per row.
    */
  def centroidRanks(cents: Seq[(Long, Seq[Double])], take: Int): Column =
    graft.plans.PqExpressions.centroidRanks(col("qv"), cents, take)

  /** Exact per-(cid, dim) member sums of the assigned quantized vectors
    * — one map-side-combinable shuffle of k*64 combined rows.
    */
  def memberSums(assigned: DataFrame): DataFrame = assigned
    .select(col("cid"), posexplode(col("qv")).as(Seq("pos", "v")))
    .groupBy(col("cid"), (col("pos") + 1).cast("long").as("dim"))
    .agg(sum(col("v")).as("c_sum"), count(lit(1)).as("n_members"))

  /** Pair-regime cell count: ~4 vectors per cell, cells proportional
    * to the corpus (see class doc). Deterministic in the data (count
    * only), mirrored by `graphKSql` in every consuming oracle.
    * Memoized per dir — the count is one metadata-only parquet job.
    *
    * Ceiling raised 4096 → 32768 in r15: the GrowthProbe decade ladder
    * (80k vectors, target/sfdx10) showed the old ceiling binding at
    * n ≥ 16k — avg cell size grew 15.6 → 78 and cell-candidate volume
    * went superlinear (31× for 10× vectors), exactly the quadratic
    * regime the proportional-k design exists to prevent. The new
    * ceiling keeps cells ~4 vectors out to n ≈ 128k; the trade is
    * assignment cost (centroidRanks is O(k·dim) per row — flat IVF
    * assignment; past this ceiling a production deployment goes
    * hierarchical/two-level, not bigger-flat-k). No gate corpus comes
    * near the ceiling (n=500 → k=128, n=2000 → k=512), so every
    * oracle value is unchanged.
    */
  def graphK(s: SparkSession, d: String): Int = {
    val n = corpusN(s, d)
    math.max(128, math.min(32768, 128 * math.round(n / 500.0).toInt))
  }

  /** Memoized embedding-corpus row count per dir — ONE metadata-only
    * parquet count feeding every data-proportional model-size and
    * regime decision (graphK, hierKf, decideQuantizer).
    */
  def corpusN(s: SparkSession, d: String): Long =
    Derived("emb_count", d)(Tables.embeddings(s, d).count())

  /** DuckDB mirror of `graphK`: one row, column `k`. */
  val graphKSql: String =
    "SELECT GREATEST(128, LEAST(32768, 128 * CAST(round(COUNT(*) / 500.0) AS BIGINT))) AS k FROM embeddings"

  /** One Lloyd update from the deterministic seed sample: the MLlib
    * broadcast-centroids loop — the driver holds k*64 exact (sum, n)
    * pairs between iterations, never data.
    *
    * Memoized per (data dir, k): the trained quantizer is a REUSABLE
    * model artifact (production IVF trains once and assigns forever),
    * so a session that runs the whole §2.4 family pays for each
    * regime's training exactly once. Deterministic input => identical
    * result, the memo cannot change any output.
    */
  def trainedCentroids(s: SparkSession, d: String,
                       k: Int = kmeansK): Seq[(Long, Seq[Double])] =
    Derived("centroids", d, k.toString)(trainCentroids(s, d, k))

  /** Seed sample: deterministic bottom-k by md5(vec_id) — a fixed-size
    * uniform draw whose cost is one TakeOrdered over the corpus; the
    * collect is k rows (the MODEL size) at any corpus size.
    */
  private def trainCentroids(s: SparkSession, d: String,
                             k: Int): Seq[(Long, Seq[Double])] = {
    val q = quantizedVecs(s, d)
    val c0 = q.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(k).collect().map { r =>
      r.getLong(0) -> r.getSeq[Long](1).map(_.toDouble).toSeq
    }.toSeq.sortBy(_._1)
    memberSums(q.withColumn("cid", centroidRanks(c0, 1).getItem(0)))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (cid, rows) =>
        cid -> rows.sortBy(_._2).map(t => t._3.toDouble / t._4).toSeq
      }
  }

  /** Shared oracle CTE chain ending in `d1(vec_id, qv, cid, dist)` —
    * the trained centroids replayed in SQL. `kLimitSql` bounds the
    * seed draw: the FIXED regime passes the literal (`"128"`), the
    * pair regime passes a scalar subquery on `graphKSql` so the
    * oracle derives the same data-proportional k as `graphK`.
    * `p` prefixes every CTE name (r17): the adaptive-quantizer
    * oracles compose the FLAT and HIERARCHICAL chains — which both
    * bottom out in this kmeans replay — inside one WITH, so the
    * second instance must not shadow the first.
    * `src` names the relation the chain's rows come from (default the
    * raw `embeddings` view). The adaptive count-gated oracles (r19)
    * pass a count-gated base CTE here so the NON-selected regime's
    * chain evaluates over an EMPTY relation: DuckDB materializes every
    * CTE chain in the union regardless of the gate predicates, and the
    * unselected chain's O(n·k) centroid cross joins were the dominant
    * cost of the whole correctness gate (driver r18 verify blew its
    * wall on exactly this). The SELECTED chain's base filter is
    * identically true, so its rows — and the oracle output — are
    * byte-identical. Model-size scalars (graphKSql / hierKfSql) keep
    * reading the full corpus count: they are cheap COUNT(*) subqueries
    * and must match the engine's corpusN-derived sizes either way.
    *
    * Multi-referenced CTEs (`q`, `c1`, `d1`) are AS MATERIALIZED
    * (r19): DuckDB inlines plain CTEs into EVERY reference, so the
    * probe oracles' asg+pr pattern and the pair chains re-ran the
    * O(n·k) distance cross join per reference (gate5k vec_knn_graph
    * 360 s → 13 s across this and the consumer-side marks, identical
    * rows — the same inlining pathology as the recursive walks).
    */
  def kmeansCteSql(kLimitSql: String = kmeansK.toString,
                   p: String = "", src: String = "embeddings"): String =
    s"""${p}kk AS (SELECT CAST(($kLimitSql) AS BIGINT) AS k),
      |${p}q AS MATERIALIZED (SELECT vec_id, list_transform(embedding,
      |        x -> CAST(floor(CAST(x AS DOUBLE)*1000 + 0.5) AS BIGINT)) AS qv
      |      FROM $src),
      |${p}c0 AS (SELECT cid, cv FROM (
      |         SELECT vec_id AS cid, list_transform(qv, x -> CAST(x AS DOUBLE)) AS cv,
      |           ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS srn
      |         FROM ${p}q), ${p}kk WHERE srn <= ${p}kk.k),
      |${p}d0 AS (SELECT q.vec_id, q.qv, c.cid,
      |         list_sum(list_transform(generate_series(1,64),
      |           i -> (CAST(q.qv[i] AS DOUBLE) - c.cv[i]) * (CAST(q.qv[i] AS DOUBLE) - c.cv[i]))) AS dist
      |       FROM ${p}q q CROSS JOIN ${p}c0 c),
      |${p}a0 AS (SELECT vec_id, qv, cid FROM (
      |         SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) rn
      |         FROM ${p}d0) WHERE rn = 1),
      |${p}ii AS (SELECT unnest(generate_series(1,64)) AS i),
      |${p}u1 AS (SELECT cid, i AS dim, SUM(qv[i]) AS s, COUNT(*) AS n
      |       FROM ${p}a0 CROSS JOIN ${p}ii GROUP BY cid, i),
      |${p}c1 AS MATERIALIZED (SELECT cid, list(CAST(s AS DOUBLE)/n ORDER BY dim) AS cv FROM ${p}u1 GROUP BY cid),
      |${p}d1 AS MATERIALIZED (SELECT q.vec_id, q.qv, c.cid,
      |         list_sum(list_transform(generate_series(1,64),
      |           i -> (CAST(q.qv[i] AS DOUBLE) - c.cv[i]) * (CAST(q.qv[i] AS DOUBLE) - c.cv[i]))) AS dist
      |       FROM ${p}q q CROSS JOIN ${p}c1 c)""".stripMargin

  /** Hot-cell cap for the pair regime (round 13 — the IVF member of
    * the frequency-guard family beside SimhashBandCap / EditBlockCap /
    * SubstringStopT): a trained cell holding more than this many
    * DISTINCT quantized vectors is a region the scaled quantizer
    * under-resolved (clustered real corpora produce them; the
    * near-uniform gate corpus cannot), and its pair join is O(cell²)
    * locally. Cells above the cap drop from candidate generation —
    * bounding per-cell join work at cap² — and a true pair survives
    * unless ALL of its shared probe cells (4 per vector) are hot.
    * Counting DISTINCT qv, not rows, matters: exact-duplicate spikes
    * (boilerplate docs embed identically) inflate raw membership but
    * collapse to one slot in the join (see `candidatePairs`), so they
    * must not evict their own cell. No-op at every measured corpus
    * (max distinct-qv cell: 87 gate sf0.1, 161 clustered stress 4x —
    * tools/gen_clustered.py); mirrored in every consuming oracle.
    */
  val CellCap = 256L

  /** Pair-regime assignment CTE: the scaled-k chain plus
    * `pasg(vec_id, cid)` = each vector's `graphNprobe` nearest trained
    * cells, hot cells (> CellCap distinct qv) removed — the oracle
    * twin of the capped cell exchange inside `candidatePairs`.
    */
  def pairAssignCteSql: String = pairAssignCteSqlWithCap(CellCap)

  /** [[pairAssignCteSql]] with an explicit cap — `vec_cellcap_pairs`
    * runs this at cap=8 so the hotc/pasg branch (a no-op under the
    * production CellCap on every gate corpus so far) is exercised
    * against DuckDB every round instead of lying dormant until a
    * hot-celled corpus arrives (round-13 ADVICE).
    */
  def pairAssignCteSqlWithCap(cap: Long, p: String = "",
                              src: String = "embeddings"): String =
    s"""${kmeansCteSql(s"($graphKSql)", p, src)},
      |${p}pasg0 AS MATERIALIZED (SELECT vec_id, cid FROM (
      |          SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) rn
      |          FROM ${p}d1) WHERE rn <= $graphNprobe),
      |${p}qg AS MATERIALIZED (SELECT vec_id, MIN(vec_id) OVER (PARTITION BY qv) AS gid FROM ${p}q),
      |${p}hotc AS (SELECT p.cid FROM ${p}pasg0 p JOIN ${p}qg g USING (vec_id)
      |         GROUP BY p.cid HAVING COUNT(DISTINCT g.gid) > $cap),
      |${p}pasg AS MATERIALIZED (SELECT * FROM ${p}pasg0 WHERE cid NOT IN (SELECT cid FROM ${p}hotc))""".stripMargin

  /** Pair-regime cell assignments `(vec_id, cid)` — each vector under
    * its `graphNprobe` nearest scaled-k cells, REPARTITIONED by vec_id
    * first: the O(k*dim)-per-row assignment plus the downstream pair
    * join + exact cosines are CPU-bound pair work, and a compact
    * parquet input is ~1 scan split, so without the exchange the whole
    * stretch runs on one core (the round-11 narrow-scan lesson; the
    * probe-based IVF queries deliberately do NOT repartition — their
    * no-corpus-shuffle plan is the design).
    */
  def pairAssignments(s: SparkSession, d: String): DataFrame = {
    val cents = trainedCentroids(s, d, graphK(s, d))
    Tables.embeddings(s, d)
      .repartition(col("vec_id"))
      .withColumn("qv", quantCol)
      .select(col("vec_id"), explode(centroidRanks(cents, graphNprobe)).as("cid"))
  }

  /** Distinct undirected candidate pairs (va < vb) from trained-cell
    * co-membership — the ONE pair generator behind the embedding-pair
    * family (dedup_embedding / text_bitext_mine /
    * vec_cluster_components via embeddingPairs, vec_knn_graph /
    * vec_knn_hubness via its symmetric closure). Round 13 adds two
    * scale guards, both measured on the clustered stress corpora
    * (tools/gen_clustered.py):
    *
    *  1. EXACT-DUPLICATE COLLAPSE (output-preserving — no oracle
    *     change): vectors with identical quantized `qv` have identical
    *     probe cells, so the cell self-join runs over one
    *     REPRESENTATIVE per qv group and member pairs are re-expanded
    *     afterwards. The candidate SET is provably unchanged (equal qv
    *     ⇒ equal cells), but an m-copy boilerplate spike costs m slots
    *     → 1 slot in the join; the remaining m-proportional work is
    *     expansion, which is output-shaped (every expanded pair IS a
    *     candidate the semantics require scoring). Measured: the 10%
    *     duplicate-spike corpus at 4x drops join slots 989k → 501k and
    *     max cell 360 → 161.
    *  2. CellCap (oracle-mirrored, see val doc): cells with more than
    *     CellCap distinct qv drop before the rep self-join.
    *
    * Volume: O(cells · min(cell, cap)² + |output|) — linear in n under
    * ~constant cell size, bounded per cell under the cap, and never
    * worse than output-shaped for duplicates.
    */
  def candidatePairs(s: SparkSession, d: String,
                     cap: Long = CellCap): DataFrame =
    candidatePairsImpl(s, d, cap, hasDupQv(s, d))

  /** [[candidatePairs]] with the duplicate-collapse choice explicit —
    * the spec pins skip ≡ collapse on the same corpus (the two paths
    * are provably output-identical; see [[hasDupQv]]).
    */
  private[graft] def candidatePairsImpl(s: SparkSession, d: String,
                                        cap: Long,
                                        collapse: Boolean): DataFrame = {
    val cents = trainedCentroids(s, d, graphK(s, d))
    val q = Tables.embeddings(s, d)
      .repartition(col("vec_id"))
      .select(col("vec_id"), quantCol.as("qv"))
    if (!collapse) {
      // NO duplicate qv anywhere (memoized probe) ⇒ every vector is its
      // own rep: the qv-keyed collapse window (a full-corpus sort) and
      // the two member re-expansion joins are identity ops — skip them.
      // The cap agg stays: hot cells can exist without duplicates, and
      // with all gids distinct "distinct reps per cell" IS the row
      // count this agg sees. Strict < in the self-join: within-group
      // pairs cannot exist without groups.
      val reps = q.select(col("vec_id").as("gid"),
        explode(centroidRanks(cents, graphNprobe)).as("cid"))
      val keep = reps.groupBy(col("cid"))
        .agg(count(lit(1)).as("m")).filter(col("m") <= cap)
        .select(col("cid"))
      val rk = reps.join(keep, Seq("cid"), "left_semi")
      rk.as("a")
        .join(rk.as("b"),
          col("a.cid") === col("b.cid") && col("a.gid") < col("b.gid"))
        .select(col("a.gid").as("va"), col("b.gid").as("vb"))
        .distinct()
    } else {
      // gid = min vec_id per identical-qv group; one qv-keyed window
      val grouped = q.withColumn("gid",
        min(col("vec_id")).over(Window.partitionBy(col("qv"))))
      val members = grouped.select(col("vec_id"), col("gid"))
      val reps = grouped.filter(col("vec_id") === col("gid"))
        .select(col("gid"), explode(centroidRanks(cents, graphNprobe)).as("cid"))
      val keep = reps.groupBy(col("cid"))
        .agg(count(lit(1)).as("m")).filter(col("m") <= cap)
        .select(col("cid"))
      val rk = reps.join(keep, Seq("cid"), "left_semi")
      // rep-level co-membership: ga <= gb keeps within-group (ga = gb)
      // pairs, whose expansion is the duplicate group's own clique
      val repPairs = rk.as("a")
        .join(rk.as("b"),
          col("a.cid") === col("b.cid") && col("a.gid") <= col("b.gid"))
        .select(col("a.gid").as("ga"), col("b.gid").as("gb"))
        .distinct()
      repPairs
        .join(members.select(col("gid").as("ga"), col("vec_id").as("va")), Seq("ga"))
        .join(members.select(col("gid").as("gb"), col("vec_id").as("vb")), Seq("gb"))
        .filter(col("va") =!= col("vb"))
        .select(least(col("va"), col("vb")).as("va"),
          greatest(col("va"), col("vb")).as("vb"))
        .distinct()
    }
  }

  /** Memoized: does the dir's corpus contain ANY duplicate quantized
    * vector? One map-side-combinable aggregate (count vs distinct-qv
    * count). It decides whether [[candidatePairs]] and
    * [[hierCandidatePairs]] run the duplicate-collapse machinery (r17,
    * VERDICT r16 #3: the guarded pair path paid ~2× on corpora with no
    * duplicates to collapse — the window is a full-corpus sort on a
    * 64-long array key and the re-expansion is two joins + a wider
    * distinct, all identity work when every qv is unique). Any
    * duplicate qv anywhere ⇒ collapse, so the spike protection stays
    * armed exactly when it can bind. Zero duplicates ⇒ skip, which is
    * output-identical: with every qv unique each group is one vector,
    * the collapse window maps each vec_id to itself and the
    * re-expansion joins are identities, so both paths emit the same
    * pair set (pinned in IvfAdaptiveSpec for both quantizers).
    */
  def hasDupQv(s: SparkSession, d: String): Boolean =
    Derived("dup_qv", d) {
      val r = quantizedVecs(s, d)
        .agg(count(lit(1)).as("n"), countDistinct(col("qv")).as("nd")).first()
      r.getLong(0) != r.getLong(1)
    }

  // ───────────────────────────────────────────────────────────────────
  // HIERARCHICAL (two-level coarse→fine) pair regime — round 16.
  //
  // The r15 growth probe's own conclusion: past the flat-k ceiling
  // (32768 cells binding at n ≈ 128k) the production answer is
  // hierarchical assignment, not bigger flat k. Flat assignment costs
  // O(k·dim) PER ROW, so growing k with the corpus makes the scan
  // itself superlinear in n. Two levels split the key space into
  // kc (fixed coarse model) × kf (fine cells over coarse RESIDUALS,
  // data-proportional) effective cells at O((kc+kf)·dim) per-row cost:
  // at n = 512k that is kc+kf = 256+496 = 752 centroid distances per
  // row where flat proportional-k would need 32768 (43× — and flat is
  // CLAMPED there, so its cells are 4× oversized and its pair join
  // superlinear). The effective-cell ceiling moves from n ≈ 128k to
  // n ≈ 1M (kc·kfMax = 256·1024 cells of ~4).
  //
  // Assignment never shuffles the corpus: coarse probes via the
  // codegen'd centroidRanks literal model, residual via a broadcast
  // join against the kc-row centroid table (a MODEL artifact, bounded
  // by construction — NOT corpus-proportional), fine probes via a
  // second centroidRanks over the exactly-quantized residual.
  // Candidates come from the (cid, fid) equi-join. This is the
  // IVFADC/residual coarse-fine composition (Jégou et al., TPAMI'11)
  // applied to the pair regime.
  // ───────────────────────────────────────────────────────────────────

  /** Coarse cells for the hierarchical regime — fixed model constant
    * (the coarse level never tracks the corpus; resolution growth is
    * the FINE level's job).
    */
  val hierKc = 256

  /** Coarse probe width (matches the flat pair regime's graphNprobe). */
  val hierNprobe = 4

  /** Fine probe width within EACH coarse probe cell: a true neighbor
    * pair needs one shared (coarse, fine) key among 4×2 assignments.
    */
  val hierFineNprobe = 2

  /** Data-proportional fine-cell count: kc·kf ≈ n/4 effective cells
    * (~4 vectors per (coarse, fine) cell) in steps of 16, clamped to
    * [16, 1024]. Deterministic in the data; mirrored by `hierKfSql`.
    */
  def hierKf(s: SparkSession, d: String): Int = {
    val n = corpusN(s, d)
    math.max(16, math.min(1024, 16 * math.round(n / 16384.0).toInt))
  }

  /** DuckDB mirror of `hierKf`: one row, column `k`. */
  val hierKfSql: String =
    "SELECT GREATEST(16, LEAST(1024, 16 * CAST(round(COUNT(*) / 16384.0) AS BIGINT))) AS k FROM embeddings"

  /** Coarse centroid table as a broadcastable (cid, cv) frame — kc rows
    * of 64 doubles, a model artifact.
    */
  private def centsDf(s: SparkSession,
                      cents: Seq[(Long, Seq[Double])]): DataFrame = {
    import s.implicits._
    cents.toDF("cid", "cv")
  }

  /** Exactly-quantized residual of `qv` (array<long>) w.r.t. the joined
    * centroid vector `cv` (array<double>, exact s/n values):
    * floor(qv[i] − cv[i] + 0.5) — deterministic IEEE ops on exact
    * operands, so the residual is engine-identical (the same trick as
    * the ×1000 embedding quantization).
    */
  private def residCol: Column =
    zip_with(col("qv"), col("cv"),
      (a, b) => floor(a.cast("double") - b + lit(0.5)).cast("long"))

  /** Fine codebook: kf centroids trained on the coarse TOP-1 residuals
    * with the same deterministic seed-then-one-Lloyd-update recipe as
    * `trainedCentroids` (md5 bottom-kf seeds, exact BIGINT member sums,
    * exact s/n centroids). Memoized per dir — a reusable model trained
    * once, like the coarse quantizer.
    */
  def hierFineCentroids(s: SparkSession, d: String): Seq[(Long, Seq[Double])] =
    Derived("fine_centroids", d)(trainFineCentroids(s, d))

  private def trainFineCentroids(s: SparkSession, d: String): Seq[(Long, Seq[Double])] = {
      val kf = hierKf(s, d)
      val cents = trainedCentroids(s, d, hierKc)
      val r = quantizedVecs(s, d)
        .withColumn("cid", centroidRanks(cents, 1).getItem(0))
        .join(broadcast(centsDf(s, cents)), Seq("cid"))
        .select(col("vec_id"), residCol.as("rq"))
      val f0 = r.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        .limit(kf).collect()
        .map(row => row.getLong(0) -> row.getSeq[Long](1).map(_.toDouble).toSeq)
        .toSeq.sortBy(_._1)
      r.withColumn("fid",
          graft.plans.PqExpressions.centroidRanks(col("rq"), f0, 1).getItem(0))
        .select(col("fid"), posexplode(col("rq")).as(Seq("pos", "v")))
        .groupBy(col("fid"), (col("pos") + 1).cast("long").as("dim"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .collect()
        .map(row => (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3)))
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (fid, rows) =>
          fid -> rows.sortBy(_._2).map(t => t._3.toDouble / t._4).toSeq
        }
  }

  /** Hierarchical cell assignments `(vec_id, cid, fid)`: each vector
    * under its `hierNprobe` nearest coarse cells × `hierFineNprobe`
    * nearest fine cells of the per-cell residual — 8 keys per vector,
    * zero corpus shuffle before the pair join (the repartition is the
    * round-11 narrow-scan parallelism exchange, same as the flat
    * regime's `pairAssignments`).
    */
  def hierAssignments(s: SparkSession, d: String,
                      nprobeC: Int = hierNprobe,
                      nprobeF: Int = hierFineNprobe): DataFrame = {
    val cents = trainedCentroids(s, d, hierKc)
    val fine = hierFineCentroids(s, d)
    // probe widths clamp to the surviving model sizes: on a degenerate
    // corpus (singleton coarse cells => all-zero residuals) the fine
    // codebook can collapse below hierFineNprobe, where the oracle's
    // `rn <= nprobe` silently yields fewer rows — the clamp is the
    // exact Spark mirror of that semantics (r16 spike-fixture find)
    Tables.embeddings(s, d)
      .repartition(col("vec_id"))
      .withColumn("qv", quantCol)
      .select(col("vec_id"), col("qv"),
        explode(centroidRanks(cents, math.min(nprobeC, cents.size))).as("cid"))
      .join(broadcast(centsDf(s, cents)), Seq("cid"))
      .select(col("vec_id"), col("cid"), residCol.as("rq"))
      .select(col("vec_id"), col("cid"),
        explode(graft.plans.PqExpressions.centroidRanks(
          col("rq"), fine, math.min(nprobeF, fine.size))).as("fid"))
  }

  /** [[hierAssignments]] with BOTH probe ranks exposed —
    * `(vec_id, cid, crn, fid, frn)` at the widest widths the caller
    * sweeps. One assignment pass serves every (nprobeC, nprobeF)
    * combination as a FILTER (`crn <= a AND frn <= b`): the
    * calibration query reads the same trained model once instead of
    * re-assigning per combination. `posexplode` emits the 0-based
    * probe position; ranks are 1-based to match the oracle's
    * ROW_NUMBER.
    */
  def hierAssignmentsRanked(s: SparkSession, d: String,
                            maxC: Int, maxF: Int): DataFrame = {
    val cents = trainedCentroids(s, d, hierKc)
    val fine = hierFineCentroids(s, d)
    Tables.embeddings(s, d)
      .repartition(col("vec_id"))
      .withColumn("qv", quantCol)
      .select(col("vec_id"), col("qv"),
        posexplode(centroidRanks(cents, math.min(maxC, cents.size)))
          .as(Seq("cpos", "cid")))
      .join(broadcast(centsDf(s, cents)), Seq("cid"))
      .select(col("vec_id"), col("cid"),
        (col("cpos") + 1).cast("long").as("crn"), residCol.as("rq"))
      .select(col("vec_id"), col("cid"), col("crn"),
        posexplode(graft.plans.PqExpressions.centroidRanks(
          col("rq"), fine, math.min(maxF, fine.size))).as(Seq("fpos", "fid")))
      .select(col("vec_id"), col("cid"), col("crn"), col("fid"),
        (col("fpos") + 1).cast("long").as("frn"))
  }

  /** Hot-cell cap for the hierarchical pair regime — the (cid, fid)
    * member of the frequency-guard family beside CellCap /
    * SimhashBandCap / EnsembleBandCap (r16 review fix: the first cut
    * of the hier pair join had NEITHER the cap nor the duplicate
    * collapse its flat ancestor ships, so an m-copy boilerplate spike
    * was O(m²) in ONE cell). Buckets with more than this many
    * DISTINCT quantized reps drop from candidate generation; a true
    * pair survives unless all 8 of its shared probe keys are hot.
    * No-op at every gate corpus; mirrored in every consuming oracle
    * and exercised at a binding cap by vec_hier_cellcap_pairs.
    */
  val HierCellCap = 256L

  /** Distinct undirected hierarchical candidate pairs (va < vb) —
    * the (cid, fid) equi-join with the SAME two scale guards as the
    * flat `candidatePairs`: exact-duplicate collapse (equal qv ⇒
    * equal residuals ⇒ equal keys, so the join runs over one rep per
    * qv group and member pairs re-expand afterwards —
    * output-preserving, spec-pinned) and the HierCellCap hot-bucket
    * drop (oracle-mirrored).
    */
  def hierCandidatePairs(s: SparkSession, d: String,
                         cap: Long = HierCellCap): DataFrame =
    hierCandidatePairsImpl(s, d, cap, hasDupQv(s, d))

  /** [[hierCandidatePairs]] with the duplicate-collapse choice
    * explicit — see `candidatePairsImpl`.
    */
  private[graft] def hierCandidatePairsImpl(s: SparkSession, d: String,
                                            cap: Long,
                                            collapse: Boolean): DataFrame = {
    val cents = trainedCentroids(s, d, hierKc)
    val fine = hierFineCentroids(s, d)
    val q = Tables.embeddings(s, d)
      .repartition(col("vec_id"))
      .select(col("vec_id"), quantCol.as("qv"))
    def assignKeys(df: DataFrame): DataFrame = df
      .join(broadcast(centsDf(s, cents)), Seq("cid"))
      .select(col("gid"), col("cid"), residCol.as("rq"))
      // fine width clamps to the surviving codebook (see hierAssignments)
      .select(col("gid"), col("cid"),
        explode(graft.plans.PqExpressions.centroidRanks(
          col("rq"), fine, math.min(hierFineNprobe, fine.size))).as("fid"))
    if (!collapse) {
      // no duplicate qv (memoized probe) ⇒ skip the collapse window and
      // re-expansion — see candidatePairsImpl; the (cid, fid) cap agg
      // stays armed
      val reps = assignKeys(q.select(col("vec_id").as("gid"), col("qv"),
        explode(centroidRanks(cents, math.min(hierNprobe, cents.size))).as("cid")))
      val keep = reps.groupBy(col("cid"), col("fid"))
        .agg(count(lit(1)).as("m")).filter(col("m") <= cap)
        .select(col("cid"), col("fid"))
      val rk = reps.join(keep, Seq("cid", "fid"), "left_semi")
      rk.as("a")
        .join(rk.as("b"),
          col("a.cid") === col("b.cid") && col("a.fid") === col("b.fid") &&
            col("a.gid") < col("b.gid"))
        .select(col("a.gid").as("va"), col("b.gid").as("vb"))
        .distinct()
    } else {
      val grouped = q.withColumn("gid",
        min(col("vec_id")).over(Window.partitionBy(col("qv"))))
      val members = grouped.select(col("vec_id"), col("gid"))
      val reps = assignKeys(grouped.filter(col("vec_id") === col("gid"))
        .select(col("gid"), col("qv"),
          explode(centroidRanks(cents, math.min(hierNprobe, cents.size))).as("cid")))
      val keep = reps.groupBy(col("cid"), col("fid"))
        .agg(count(lit(1)).as("m")).filter(col("m") <= cap)
        .select(col("cid"), col("fid"))
      val rk = reps.join(keep, Seq("cid", "fid"), "left_semi")
      val repPairs = rk.as("a")
        .join(rk.as("b"),
          col("a.cid") === col("b.cid") && col("a.fid") === col("b.fid") &&
            col("a.gid") <= col("b.gid"))
        .select(col("a.gid").as("ga"), col("b.gid").as("gb"))
        .distinct()
      repPairs
        .join(members.select(col("gid").as("ga"), col("vec_id").as("va")), Seq("ga"))
        .join(members.select(col("gid").as("gb"), col("vec_id").as("vb")), Seq("gb"))
        .filter(col("va") =!= col("vb"))
        .select(least(col("va"), col("vb")).as("va"),
          greatest(col("va"), col("vb")).as("vb"))
        .distinct()
    }
  }

  /** [[hierAssignCteSql]] extended with the capped-key chain: `qg`
    * (qv-duplicate groups), `hotcf` (buckets with > cap distinct
    * reps), `hk` (the surviving assignment keys) — the oracle twin of
    * `hierCandidatePairs`' guards. Members carry their rep's exact
    * keys (equal qv ⇒ equal residuals), so the all-vector `hk` join
    * is provably the rep join re-expanded.
    */
  def hierPairCteSqlWithCap(cap: Long, p: String = "",
                            src: String = "embeddings"): String =
    s"""${hierAssignCteSql(p, src = src)},
      |${p}qg AS MATERIALIZED (SELECT vec_id, MIN(vec_id) OVER (PARTITION BY qv) AS gid FROM ${p}q),
      |${p}hotcf AS (SELECT h.cid, h.fid FROM ${p}hasg h JOIN ${p}qg g USING (vec_id)
      |          GROUP BY h.cid, h.fid HAVING COUNT(DISTINCT g.gid) > $cap),
      |${p}hk AS MATERIALIZED (SELECT h.* FROM ${p}hasg h ANTI JOIN ${p}hotcf USING (cid, fid))""".stripMargin

  /** Oracle CTE chain ending in `hasg(vec_id, cid, fid)` — the full
    * hierarchical replay: coarse train/assign (shared kmeans chain at
    * k = hierKc), top-1 residuals, fine seed + one Lloyd update, then
    * per-probe-cell residual fine assignment. `p` prefixes every CTE
    * name (adaptive oracles compose this chain beside the flat one);
    * `nprobeC`/`nprobeF` are the probe widths — the pair regime's
    * 4×2 default, the semdedup cell regime's 1×1, the recall-curve
    * calibration's wider sweeps. The fine CODEBOOK is width-
    * independent (trained on top-1 residuals), so every width
    * combination reads the same trained model, exactly like
    * `hierAssignments`.
    */
  def hierAssignCteSql(p: String = "", nprobeC: Int = hierNprobe,
                       nprobeF: Int = hierFineNprobe,
                       src: String = "embeddings"): String =
    s"""${kmeansCteSql(hierKc.toString, p, src)},
      |${p}casg AS MATERIALIZED (SELECT vec_id, qv, cid FROM (
      |          SELECT vec_id, qv, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) rn
      |          FROM ${p}d1) WHERE rn <= $nprobeC),
      |${p}ca1 AS (SELECT vec_id, qv, cid FROM (
      |          SELECT vec_id, qv, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) rn
      |          FROM ${p}d1) WHERE rn = 1),
      |${p}rt AS MATERIALIZED (SELECT a.vec_id, list_transform(generate_series(1,64),
      |          i -> CAST(floor(CAST(a.qv[i] AS DOUBLE) - c.cv[i] + 0.5) AS BIGINT)) AS rq
      |       FROM ${p}ca1 a JOIN ${p}c1 c ON a.cid = c.cid),
      |${p}fkk AS (SELECT CAST(($hierKfSql) AS BIGINT) AS k),
      |${p}f0 AS (SELECT fid, fv FROM (
      |         SELECT vec_id AS fid, list_transform(rq, x -> CAST(x AS DOUBLE)) AS fv,
      |           ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS srn
      |         FROM ${p}rt), ${p}fkk WHERE srn <= ${p}fkk.k),
      |${p}fd0 AS (SELECT rt.vec_id, rt.rq, f.fid,
      |          list_sum(list_transform(generate_series(1,64),
      |            i -> (CAST(rt.rq[i] AS DOUBLE) - f.fv[i]) * (CAST(rt.rq[i] AS DOUBLE) - f.fv[i]))) AS dist
      |        FROM ${p}rt rt CROSS JOIN ${p}f0 f),
      |${p}fa0 AS (SELECT vec_id, rq, fid FROM (
      |          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, fid) rn
      |          FROM ${p}fd0) WHERE rn = 1),
      |${p}fu1 AS (SELECT fid, i AS dim, SUM(rq[i]) AS s, COUNT(*) AS n
      |        FROM ${p}fa0 CROSS JOIN ${p}ii GROUP BY fid, i),
      |${p}fc1 AS MATERIALIZED (SELECT fid, list(CAST(s AS DOUBLE)/n ORDER BY dim) AS fv FROM ${p}fu1 GROUP BY fid),
      |${p}rp AS (SELECT p.vec_id, p.cid, list_transform(generate_series(1,64),
      |          i -> CAST(floor(CAST(p.qv[i] AS DOUBLE) - c.cv[i] + 0.5) AS BIGINT)) AS rq
      |       FROM ${p}casg p JOIN ${p}c1 c ON p.cid = c.cid),
      |${p}fd1 AS (SELECT r.vec_id, r.cid, f.fid,
      |          list_sum(list_transform(generate_series(1,64),
      |            i -> (CAST(r.rq[i] AS DOUBLE) - f.fv[i]) * (CAST(r.rq[i] AS DOUBLE) - f.fv[i]))) AS dist
      |        FROM ${p}rp r CROSS JOIN ${p}fc1 f),
      |${p}hasg AS MATERIALIZED (SELECT vec_id, cid, fid FROM (
      |          SELECT vec_id, cid, fid, ROW_NUMBER() OVER (PARTITION BY vec_id, cid ORDER BY dist, fid) rn
      |          FROM ${p}fd1) WHERE rn <= $nprobeF)""".stripMargin

  /** [[hierAssignCteSql]] with BOTH probe ranks exposed — ends in
    * `hasgr(vec_id, cid, crn, fid, frn)` at widths (maxC, maxF), the
    * oracle twin of [[hierAssignmentsRanked]]: one assignment replay
    * serves every (nprobeC <= maxC, nprobeF <= maxF) combination as a
    * rank filter. Shares every training CTE with the unranked chain
    * (same seeds, same one-Lloyd-update fine codebook).
    */
  def hierRankedCteSql(p: String = "", maxC: Int = hierNprobe,
                       maxF: Int = hierFineNprobe): String =
    s"""${kmeansCteSql(hierKc.toString, p)},
      |${p}casg AS MATERIALIZED (SELECT vec_id, qv, cid, CAST(rn AS BIGINT) AS crn FROM (
      |          SELECT vec_id, qv, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) rn
      |          FROM ${p}d1) WHERE rn <= $maxC),
      |${p}ca1 AS (SELECT vec_id, qv, cid FROM ${p}casg WHERE crn = 1),
      |${p}rt AS MATERIALIZED (SELECT a.vec_id, list_transform(generate_series(1,64),
      |          i -> CAST(floor(CAST(a.qv[i] AS DOUBLE) - c.cv[i] + 0.5) AS BIGINT)) AS rq
      |       FROM ${p}ca1 a JOIN ${p}c1 c ON a.cid = c.cid),
      |${p}fkk AS (SELECT CAST(($hierKfSql) AS BIGINT) AS k),
      |${p}f0 AS (SELECT fid, fv FROM (
      |         SELECT vec_id AS fid, list_transform(rq, x -> CAST(x AS DOUBLE)) AS fv,
      |           ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS srn
      |         FROM ${p}rt), ${p}fkk WHERE srn <= ${p}fkk.k),
      |${p}fd0 AS (SELECT rt.vec_id, rt.rq, f.fid,
      |          list_sum(list_transform(generate_series(1,64),
      |            i -> (CAST(rt.rq[i] AS DOUBLE) - f.fv[i]) * (CAST(rt.rq[i] AS DOUBLE) - f.fv[i]))) AS dist
      |        FROM ${p}rt rt CROSS JOIN ${p}f0 f),
      |${p}fa0 AS (SELECT vec_id, rq, fid FROM (
      |          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, fid) rn
      |          FROM ${p}fd0) WHERE rn = 1),
      |${p}fu1 AS (SELECT fid, i AS dim, SUM(rq[i]) AS s, COUNT(*) AS n
      |        FROM ${p}fa0 CROSS JOIN ${p}ii GROUP BY fid, i),
      |${p}fc1 AS MATERIALIZED (SELECT fid, list(CAST(s AS DOUBLE)/n ORDER BY dim) AS fv FROM ${p}fu1 GROUP BY fid),
      |${p}rp AS (SELECT p.vec_id, p.cid, p.crn, list_transform(generate_series(1,64),
      |          i -> CAST(floor(CAST(p.qv[i] AS DOUBLE) - c.cv[i] + 0.5) AS BIGINT)) AS rq
      |       FROM ${p}casg p JOIN ${p}c1 c ON p.cid = c.cid),
      |${p}fd1 AS (SELECT r.vec_id, r.cid, r.crn, f.fid,
      |          list_sum(list_transform(generate_series(1,64),
      |            i -> (CAST(r.rq[i] AS DOUBLE) - f.fv[i]) * (CAST(r.rq[i] AS DOUBLE) - f.fv[i]))) AS dist
      |        FROM ${p}rp r CROSS JOIN ${p}fc1 f),
      |${p}hasgr AS MATERIALIZED (SELECT vec_id, cid, crn, fid, CAST(rn AS BIGINT) AS frn FROM (
      |          SELECT vec_id, cid, crn, fid, ROW_NUMBER() OVER (PARTITION BY vec_id, cid ORDER BY dist, fid) rn
      |          FROM ${p}fd1) WHERE rn <= $maxF)""".stripMargin

  // ───────────────────────────────────────────────────────────────────
  // ADAPTIVE QUANTIZER (round 17, VERDICT r16 Next #1): route the
  // pair-generating consumers (vec_knn_graph / vec_knn_hubness,
  // dedup_embedding / text_bitext_mine / vec_cluster_components via
  // embeddingPairs) through FLAT or HIERARCHICAL assignment from one
  // memoized corpus statistic — the DedupQueries.decideEdgeShape
  // pattern applied to the quantizer choice.
  //
  // Why a switch instead of hier-always: flat proportional-k has
  // measurably better recall at small n (0.80 vs 0.77 @3 at the gate)
  // and no two-level training/residual machinery, so below the flat
  // assignment wall it is the better plan; past it, flat's O(k·dim)
  // per-row assignment cost (k tracking n) goes superlinear in total
  // and the clamped-k fallback re-creates the oversized-cell quadratic
  // the proportional design exists to prevent.
  //
  // The switch point is MEASURED, not guessed — the r17 consumer-level
  // ladder (artifacts/r17/growth_consumer_r17.json, vec_knn_graph warm
  // min-of-runs, forced legs):
  //     n        flat      hier
  //     500      1.12 s    1.36 s   (flat wins; training overhead)
  //     2,000    1.37      1.36     (tie)
  //     8,000    5.42      2.42     (hier 2.2×)
  //     24,576   8.50      4.43     (hier 1.9×)
  //     49,152   16.08     6.82     (hier 2.4×)
  //     80,000   16.35     11.84    (hier 1.4×)
  //     256,000  129.9¹    44.7     (hier 2.9×; ¹cold single run)
  // The crossover sits between 2k and 8k; 4096 puts the DuckDB gate
  // corpora (n = 500 / 2,000 — where flat also carries the better
  // recall and five rounds of hash-exact lineage) on flat, and every
  // larger corpus on the hierarchical path that is measured faster
  // from 8k up. The forced-hier gate twins (dedup_embedding_hier,
  // pipeline_semdedup_hier, ann_ivf_hierarchical) keep the hier leg
  // oracle-exercised at gate scale; the flat leg IS the gate default.
  // ───────────────────────────────────────────────────────────────────

  /** Corpus size above which the pair regime assigns hierarchically. */
  val HierSwitchN = 4096L

  /** The pair-regime quantizer for a data dir: `"flat"` (one-level
    * proportional-k) or `"hier"` (two-level coarse→fine), decided
    * from the memoized corpus count. The candidate sets differ between
    * quantizers; the oracle replays this same decision.
    */
  def decideQuantizer(s: SparkSession, d: String): String =
    if (corpusN(s, d) > HierSwitchN) "hier" else "flat"

  /** The ONE adaptive pair generator every embedding-pair consumer
    * calls: flat or hierarchical candidates per [[decideQuantizer]].
    * Both legs carry the same two scale guards (duplicate collapse +
    * hot-cell cap) and both are oracle-mirrored via
    * [[adaptiveCandCteSql]]'s count-gated union.
    */
  def adaptiveCandidatePairs(s: SparkSession, d: String): DataFrame =
    decideQuantizer(s, d) match {
      case "hier" => hierCandidatePairs(s, d)
      case _      => candidatePairs(s, d)
    }

  /** DuckDB twin of [[adaptiveCandidatePairs]], ending in
    * `cand(va, vb)`: BOTH regime chains (flat prefixed `""`, hier
    * prefixed `h_`) composed in one WITH, unioned under mutually
    * exclusive count-gate predicates that replay [[decideQuantizer]]
    * exactly — the oracle picks the same side as the engine at ANY
    * corpus size, so the decision itself is gate-checked, not just
    * each leg. (The flat leg mirrors candidatePairs' raw pasg
    * self-join — duplicate collapse is output-preserving and the cap
    * lives inside pasg; the hier leg mirrors hierCandidatePairs via
    * h_hk the same way.)
    *
    * ORACLE COST (r17 ADVICE; fixed r19 per VERDICT r18 Next #1): the
    * count-gate predicates pick one leg LOGICALLY, but DuckDB
    * materializes both CTE training chains — a verify run used to pay
    * the unselected chain's O(n·k) centroid cross joins on top of the
    * selected one (the gate5k falsifier lost three vec_* entries to a
    * ~40-min DuckDB cutoff on the replayed flat chain at 5,120
    * vectors, and the r18 driver verify produced nothing). Each
    * chain's ROW SOURCE is therefore count-gated too (`embf`/`embh`):
    * the unselected chain evaluates over an empty relation and costs
    * ~nothing, while the selected chain's base filter is identically
    * true — the union output is byte-identical and the decision
    * replay (nsel) is unchanged. Model-size scalars still read the
    * full corpus count, matching the engine's corpusN.
    */
  def adaptiveCandCteSql: String =
    s"""nsel AS (SELECT COUNT(*) > $HierSwitchN AS hier FROM embeddings),
      |embf AS (SELECT * FROM embeddings WHERE NOT (SELECT hier FROM nsel)),
      |embh AS (SELECT * FROM embeddings WHERE (SELECT hier FROM nsel)),
      |${pairAssignCteSqlWithCap(CellCap, src = "embf")},
      |${hierPairCteSqlWithCap(HierCellCap, "h_", src = "embh")},
      |cand AS MATERIALIZED (
      |  SELECT l.vec_id AS va, r.vec_id AS vb
      |  FROM pasg l JOIN pasg r ON l.cid = r.cid AND l.vec_id < r.vec_id
      |  WHERE NOT (SELECT hier FROM nsel)
      |  UNION
      |  SELECT l.vec_id AS va, r.vec_id AS vb
      |  FROM h_hk l JOIN h_hk r ON l.cid = r.cid AND l.fid = r.fid AND l.vec_id < r.vec_id
      |  WHERE (SELECT hier FROM nsel))""".stripMargin
}
