package graft.operators

import java.io.ByteArrayInputStream

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.CountMinSketch

import graft.Pinned.PinSyntax
import graft.functions.SketchProbes

/** Sketch-accelerated exact operators — the 100 TB pattern where a
  * fixed-size probabilistic summary (CountMinSketch / BloomFilter, both
  * from Spark's public `org.apache.spark.util.sketch`) PREFILTERS the
  * shuffle and an exact pass over the survivors repairs the sketch's
  * one-sided error. The output is therefore EXACT (oracle-checkable
  * against plain SQL); only the intermediate volume is approximate.
  *
  * Why this beats the naive plan at scale: a global heavy-hitters
  * `groupBy(term)` shuffles EVERY distinct term of the corpus — at 100 TB
  * that exchange is corpus-vocabulary-sized (billions of keys, the long
  * Zipf tail all shuffling to lose). The sketch pass costs one scan with
  * a `width×depth`-long fixed-size merge to the driver (the same
  * aggregate-to-driver shape as a broadcast-join build), after which the
  * tail is dropped BEFORE the exchange: only plausible-heavy tokens —
  * sketch guarantees a superset of the true heavy set — are shuffled and
  * exactly counted. Shuffle payload goes from |vocabulary| to
  * ~|heavy| + ε·|tokens| rows.
  *
  * REGIME DISPATCH (round 12): a-priori, by the caller's `expectedVocab`
  * hint — the prefilter only pays when the vocabulary dwarfs what
  * map-side partial aggregation absorbs, and MEASURING the vocabulary
  * costs a full pass over the (typically derived — tokenize + explode)
  * input, i.e. as much as the aggregation the measurement would try to
  * avoid. Default (no hint / small hint) is the plain one-pass groupBy +
  * HAVING; a hint above `SmallVocabMax` (the 100 TB corpus-vocabulary
  * case the caller knows a priori) switches to the CMS build + probe
  * plan that drops the Zipf tail at the scan. Output is identical either
  * way (both branches end in the exact `HAVING count >= threshold`).
  *
  * The reference has no sketch surface (its corpus fits in STM memory —
  * cdsmith/edgy Operations.hs holds whole node sets in maps); this is
  * part of the mandated beyond-the-reference scale extension.
  */
object Sketch {

  /** Vocabulary floor for the probe regime: below this many distinct
    * keys, map-side partial aggregation keeps the exchange at
    * ~|vocab|·partitions rows (a few MB) and spills nothing, so the
    * sketch pass cannot pay for itself whatever the heavy bound says.
    * 2^21 ≈ 2M short string keys is ~100-200 MB of partial-agg hash map
    * per task worst case — comfortably inside executor memory at local
    * and cluster defaults; beyond it dropping the Zipf tail AT THE SCAN
    * (the probe) beats aggregating it. [[graft.Regime]] decides on the
    * caller's `expectedVocab` hint.
    */
  private[graft] val SmallVocabMax = 1L << 21

  /** Exact heavy hitters over an exploded key column: every key whose
    * exact count is >= `threshold`.
    *
    * REGIME DISPATCH is a-priori, by the `expectedVocab` hint (round 12):
    * round-11's measured dispatch spent a full pass computing the
    * vocabulary before deciding — but on a derived input (t30 feeds a
    * tokenize+shingle explode) EVERY pass re-runs that pipeline, so the
    * measurement pass cost as much as the aggregation it was trying to
    * avoid (profiled at sf1: explode 2.6s of each 3.4s pass). Knowing
    * the vocabulary is as expensive as aggregating it; only PRIOR
    * knowledge can pick the sketch plan for free. Hence:
    *
    *   - default (no hint, or hint <= SmallVocabMax): ONE pass — plain
    *     groupBy + HAVING, the same plan the oracle runs. Map-side
    *     partial aggregation absorbs any vocabulary below the floor.
    *   - `expectedVocab` above `SmallVocabMax` (the 100 TB corpus-vocab
    *     case — billions of keys, which the caller knows a priori): CMS
    *     build pass + codegen'd probe-filtered exact pass, so the Zipf
    *     tail is dropped at the scan and never reaches the exchange.
    *   A wrong hint never changes the answer — only which exact plan
    *   runs (both end in `HAVING count >= threshold`).
    *
    * Correctness argument for the probe branch (the law SketchSpec pins):
    *   1. CMS estimates NEVER undercount (one-sided error: collisions
    *      only add), so `estimate(k) >= count(k)` — every true heavy
    *      hitter passes the prefilter. No false negatives.
    *   2. False positives (tail keys whose estimate collided upward) are
    *      removed by the exact `HAVING count >= threshold` after the
    *      exact aggregation of survivors.
    *   Hence output ≡ the naive global groupBy + filter, exactly.
    *
    * `eps` bounds the over-estimate (≤ eps·N with prob. `confidence`,
    * N = total key instances): the expected false-positive volume — the
    * wasted shuffle — is the mass of keys within eps·N of the threshold.
    * Sketch memory is `ceil(e/eps) × ceil(ln(1/(1-confidence)))` longs
    * (~54 KB at the defaults), independent of corpus size.
    */
  def heavyHitters(keyed: DataFrame, keyCol: String, threshold: Long,
      eps: Double = 1e-4, confidence: Double = 0.99,
      seed: Int = 42, expectedVocab: Option[Long] = None): DataFrame = {
    require(threshold >= 1, s"threshold must be >= 1, got $threshold")
    requireStringKey(keyed, keyCol, "heavyHitters")
    aggExact(
      probeBase(keyed, keyCol, threshold, eps, confidence, seed, expectedVocab),
      keyCol, threshold)
  }

  /** The probe-or-naive base frame: the probe branch builds the CMS (one
    * pass) and filters the input at the scan; the naive branch just
    * drops nulls (matching the probe branch, where a null key never
    * passes the prefilter) and lets the exact aggregation do everything.
    */
  private def probeBase(keyed: DataFrame, keyCol: String, threshold: Long,
      eps: Double, confidence: Double, seed: Int,
      expectedVocab: Option[Long]): DataFrame =
    if (probeRegime(expectedVocab))
      probeFiltered(keyed, keyCol, threshold,
        buildCms(keyed, keyCol, eps, confidence, seed))
    else keyed.where(col(keyCol).isNotNull)

  // production dispatch is by the a-priori `expectedVocab` hint alone (no
  // hint = a small vocabulary); specs force the probe with Regime.atScale
  private def probeRegime(expectedVocab: Option[Long]): Boolean =
    !graft.Regime.fits(expectedVocab.getOrElse(0L), SmallVocabMax)

  /** The sketch pass — one scan, fixed-size executor→driver merge. */
  private def buildCms(keyed: DataFrame, keyCol: String,
      eps: Double, confidence: Double, seed: Int): CountMinSketch = {
    val row = keyed.select(
      count_min_sketch(col(keyCol), lit(eps), lit(confidence), lit(seed))
        .as("cms")).head()
    CountMinSketch.readFrom(
      new ByteArrayInputStream(row.getAs[Array[Byte]](0)))
  }

  private def probeFiltered(keyed: DataFrame, keyCol: String,
      threshold: Long, cms: CountMinSketch): DataFrame = {
    val bc = keyed.sparkSession.sparkContext.broadcast(cms)
    keyed.where(SketchProbes.cmsAtLeast(col(keyCol), bc, threshold))
  }

  private def aggExact(base: DataFrame, keyCol: String,
      threshold: Long): DataFrame =
    base.groupBy(col(keyCol))
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= threshold)

  /** [[heavyHitters]] with the threshold given as a SHARE of total key
    * instances (e.g. 0.002 = "at least 0.2% of all tokens") — the
    * scale-free form: the same call means the same thing at sf0.01 and at
    * 100 TB. N is exact in both regimes without an extra input pass: the
    * probe regime reads it off the sketch (`totalCount` counts every
    * non-null add — not an estimate) and the naive regime sums the pinned
    * per-key counts. Returns (key, cnt, share).
    */
  def heavyHittersByShare(keyed: DataFrame, keyCol: String, minShare: Double,
      eps: Double = 1e-4, confidence: Double = 0.99,
      seed: Int = 42, expectedVocab: Option[Long] = None): DataFrame = {
    require(minShare > 0.0 && minShare < 1.0,
      s"minShare must be in (0, 1), got $minShare")
    requireStringKey(keyed, keyCol, "heavyHittersByShare")
    val (agged, total) =
      if (probeRegime(expectedVocab)) {
        // probe regime: the CMS pass doubles as the exact-N pass
        // (totalCount counts every non-null add — not an estimate), so
        // the share threshold costs no extra scan before the probe pass
        val cms = buildCms(keyed, keyCol, eps, confidence, seed)
        val total = cms.totalCount()
        val threshold = shareThreshold(total, minShare)
        (aggExact(probeFiltered(keyed, keyCol, threshold, cms),
          keyCol, threshold), total)
      } else {
        // naive regime: ONE pass over the input — exact per-key counts,
        // pinned at VOCABULARY size (bounded by the regime's own
        // premise); N, the threshold and the final cut then run over the
        // pinned counts, never re-running the input pipeline
        val counts = keyed.where(col(keyCol).isNotNull)
          .groupBy(col(keyCol)).agg(count(lit(1)).as("cnt"))
          .pin(true)
        val total = counts.agg(coalesce(sum(col("cnt")), lit(0L)))
          .head().getLong(0)
        (counts.where(col("cnt") >= shareThreshold(total, minShare)), total)
      }
    agged.withColumn("share",
      round(col("cnt").cast("double") / lit(total.toDouble) + lit(1e-9), 6))
  }

  private def shareThreshold(total: Long, minShare: Double): Long =
    math.max(1L, math.ceil(total * minShare).toLong)

  /** Exact anti-join / semi-join with a BloomFilter prefilter on the big
    * side — the decontamination shape at 100 TB: `big` (the training
    * corpus) never shuffles its misses; a fixed-size Bloom filter of the
    * small side's keys drops the non-matching majority AT THE SCAN, and
    * the exact join over the survivors repairs the Bloom false positives.
    *
    * One-sided error does all the work, mirrored per join type:
    *   - `semi`: Bloom has NO false negatives, so every true match
    *     survives the prefilter; the exact semi join removes the FPs.
    *     Output ≡ plain LEFT SEMI.
    *   - `anti`: a Bloom MISS proves non-membership, so prefilter misses
    *     are emitted directly without ever reaching the join; only the
    *     Bloom HITS (true matches + FPs) go through the exact anti join,
    *     which re-admits the FPs. Output ≡ plain LEFT ANTI.
    *
    * The anti path evaluates `big` and its probe verdict EXACTLY ONCE
    * (lazy localCheckpoint of the flagged rows): the miss branch and the
    * hit branch both read the materialized blocks, so an expensive
    * upstream pipeline (t31 feeds a full corpus shingle explode here) is
    * not paid twice — and a non-deterministic `big` (e.g. sampled) still
    * satisfies the semi ∪ anti partition law, because both branches see
    * the same frozen rows. The storage cost is one pass of `big` at
    * MEMORY_AND_DISK; at petabyte scale, stage the flagged frame to a
    * table instead — the split shape is identical.
    *
    * `expectedKeys`/`fpp` size the filter (n·ln(1/fpp)/ln²2 bits —
    * ~1.2 MB per 1M keys at 1%); the filter rides a broadcast, the same
    * cost class as the broadcast hash join it guards. At gate scale
    * Catalyst would broadcast the small side anyway — the Bloom pass
    * earns its keep when the small side exceeds broadcast limits but its
    * KEY SET still fits a filter, the regime where the naive plan
    * degrades to a full shuffle of the big side.
    */
  def bloomJoin(big: DataFrame, small: DataFrame, keyCol: String,
      joinType: String, expectedKeys: Long = 1000000L, fpp: Double = 0.01,
      seed: Int = 42): DataFrame = {
    requireStringKey(big, keyCol, "bloomJoin")
    requireStringKey(small, keyCol, "bloomJoin")
    val spark = big.sparkSession
    val bf = small.stat.bloomFilter(keyCol, expectedKeys, fpp)
    val bc = spark.sparkContext.broadcast(bf)
    // codegen'd probe: runs inside the scan's codegen span; nulls never
    // pass (null-intolerant), so null keys land in the anti output via
    // the miss branch — matching plain LEFT ANTI, which keeps them too
    def probe = SketchProbes.bloomMightContain(col(keyCol), bc) <=> lit(true)
    val smallKeys = small.select(col(keyCol)).distinct()
    joinType.toLowerCase match {
      case "semi" =>
        big.where(probe).join(smallKeys, Seq(keyCol), "left_semi")
      case "anti" =>
        // ONE pass of big: verdict projected once, then split from the
        // pinned blocks (see scaladoc — two filters over an unpinned
        // frame would be two full pipeline scans)
        val flagged = big.withColumn("__bloom_hit", probe)
          .pin(false)
        val hits = flagged.where(col("__bloom_hit")).drop("__bloom_hit")
          .join(smallKeys, Seq(keyCol), "left_anti")
        flagged.where(!col("__bloom_hit")).drop("__bloom_hit")
          .unionByName(hits)
      case other => throw new IllegalArgumentException(
        s"bloomJoin supports 'semi' or 'anti', got '$other'")
    }
  }

  // the sketch probes hash UTF-8 bytes; a numeric key would hash
  // differently sketch-side vs probe-side and silently break the
  // no-false-negative guarantee — fail at plan time instead
  private def requireStringKey(df: DataFrame, keyCol: String,
      op: String): Unit = {
    val dt = df.schema(keyCol).dataType
    require(dt == org.apache.spark.sql.types.StringType,
      s"$op requires a STRING key column, got $keyCol: ${dt.simpleString} — " +
        "cast explicitly so sketch and probe agree on the hashed bytes")
  }
}
