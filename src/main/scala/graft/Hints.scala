package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, coalesce, lit, sum}

/** Corpus-size-conditional broadcast hints (r16, closing the r15
  * "documented, not guarded" caveat).
  *
  * A few queries broadcast frames that are small at every gate corpus
  * but CORPUS-PROPORTIONAL by construction — the decontamination eval
  * index (a fixed 1-in-20 fraction of corpus shingles) and the
  * approx-dedup audit-doc lists (1-in-8 of selected near-dup pairs).
  * An unconditional `broadcast()` hint on such a frame is a latent
  * OOM at some future corpus size: the hint FORCES the build side
  * regardless of actual bytes. This helper keeps the hint only while
  * the corpus's total TEXT VOLUME (sum of `n_chars`, one memoized
  * cheap aggregate per dir — chars bound tokens bound shingles, so it
  * tracks the eval index's actual bytes where a doc COUNT would be
  * off by the unbounded shingles-per-doc factor) is under a budget,
  * and otherwise returns the frame unhinted, letting Catalyst/AQE
  * pick the join strategy from real sizes — the pruning joins are
  * plain equi-/semi-joins, so they stay correct as shuffle joins.
  *
  * Why a threshold rather than no hint at all: the r14 measurement
  * behind the audit prune (DedupQueries, 14.8 s → 2 s) showed the win
  * comes from never shuffling the corpus shingle table. Without the
  * hint the initial plan is a shuffle join, and AQE's broadcast
  * conversion still pays the big side's shuffle WRITE before runtime
  * stats arrive — so dropping the hint everywhere would re-introduce
  * most of the measured cost at gate scales. The 1e9-char budget
  * bounds the largest derived frame (the 1-in-20 shingle index) near
  * ~60 MB — comfortably broadcastable — and sits ~5× above every
  * corpus this repo measures, incl. the 500k-doc decade stress
  * corpora (~2e8 chars). PlanSpec pins both sides: broadcast chosen
  * at gate scale, hint absent under a forced-zero threshold.
  */
object Hints {

  /** Total-corpus-chars ceiling for keeping corpus-derived broadcast
    * hints (chars ≈ 6× tokens ≈ 6× shingles; 1e9 chars ≈ a ~60 MB
    * 1-in-20 distinct-hash index).
    */
  val BroadcastCharLimit: Long = 1000000000L

  /** Memoized total `n_chars` of `documents` for a data dir. */
  def charCount(s: SparkSession, d: String): Long =
    Derived("doc_chars", d) {
      Tables.documents(s, d)
        .agg(coalesce(sum("n_chars"), lit(0L))).head().getLong(0)
    }

  /** `broadcast(df)` while the dir's corpus text volume is within
    * `limit` chars; `df` unhinted past it.
    */
  def broadcastIfBounded(s: SparkSession, d: String, df: DataFrame,
                         limit: Long = BroadcastCharLimit): DataFrame =
    if (charCount(s, d) <= limit) broadcast(df) else df

  /** Document-count ceiling for keeping DOC-ID-LIST broadcast hints
    * (r17, closing the r16 ADVICE gap): the dedup audit-doc frames
    * are one-column doc_id lists whose worst case is the DISTINCT DOC
    * COUNT of the corpus, not its text volume — a char-small,
    * duplicate-dense corpus (millions of tiny near-identical docs)
    * stays under `BroadcastCharLimit` while its audit list grows with
    * the doc population. Sizing, stated explicitly so a recalibration
    * doesn't inherit a 2× ambiguity (r17 ADVICE): the RAW payload at
    * the limit is 4e6 × 8 B ≈ 32 MB of doc_id longs; what the
    * executor actually holds is the broadcast HASHED RELATION
    * (LongHashedRelation key table + pages), roughly 2× raw ≈ 64 MB —
    * the same calibration point as the chars budget's ~60 MB index,
    * measured against the in-memory form the hint actually forces.
    */
  val BroadcastDocLimit: Long = 4000000L

  /** Memoized row count of `documents` for a data dir. */
  def docCount(s: SparkSession, d: String): Long =
    Derived("doc_count", d)(Tables.documents(s, d).count())

  /** `broadcast(df)` while the dir's DOCUMENT COUNT is within `limit`
    * rows; `df` unhinted past it (AQE decides from real sizes). The
    * gate for frames that scale with the doc POPULATION (audit doc-id
    * lists) rather than text volume — see [[BroadcastDocLimit]].
    */
  def broadcastIfDocsBounded(s: SparkSession, d: String, df: DataFrame,
                             limit: Long = BroadcastDocLimit): DataFrame =
    if (docCount(s, d) <= limit) broadcast(df) else df
}
