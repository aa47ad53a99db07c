package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Pinned
import graft.Pinned.PinSyntax
import graft.dedup.Dedup
import graft.functions.TextFunctions.tokens

/** Ranked lexical retrieval (Okapi BM25) and rank fusion — the text half
  * of the hybrid-retrieval shape every production training-data pipeline
  * carries next to its vector index (contamination lookup, hard-negative
  * mining, more-like-this corpus expansion). Formula is the standard
  * public Robertson/Zaragoza BM25 with the non-negative Lucene idf
  * `ln(1 + (N - df + 0.5)/(df + 0.5))`; fusion is plain reciprocal-rank
  * fusion (Cormack et al. 2009), `Σ 1/(c + rank)`.
  *
  * Scale shape (the reason this is an operator and not a query): the
  * corpus text is scanned twice, both times narrowly — once exploding to
  * the `(doc, term)` tf aggregate (the only full-postings shuffle,
  * map-side combined), once for the per-doc length (no shuffle at all:
  * `size(tokens)` is the dl, so avgdl never touches the postings). The
  * query side is small by contract (the v02/v08 broadcast-queries
  * convention), so postings are PRUNED to query terms through a broadcast
  * join before anything else happens — df, the doc-length join, and the
  * scoring aggregate all run over query-vocabulary posting lists, never
  * the corpus vocabulary. The pruned frame is localCheckpointed because
  * two consumers (df and scoring) would otherwise re-tokenize the corpus
  * under divergent column pruning.
  *
  * Determinism contract (the oracle replays everything): scores are
  * ranked ROUNDED (5dp + epsilon) with id tiebreaks, so a 1-ulp
  * cross-engine sum difference cannot reorder the top-k; avgdl is an
  * exact-integer mean (token counts < 2^53) and therefore bit-identical
  * across engines.
  *
  * Reference: cdsmith/edgy has no retrieval surface (its query language
  * is graph traversal, Operations.hs); this is part of the mandated
  * beyond-the-reference LLM-pipeline extension.
  */
object Retrieval {

  /** BM25 top-k: for each query row, the k highest-scoring corpus rows.
    *
    * @param corpus      (idCol, textCol) rows; arbitrarily large
    * @param queries     (idCol, textCol) rows; SMALL — broadcast twice
    * @param excludeSelf drop corpus_id == query_id pairs (more-like-this
    *                    retrieval over a shared id domain)
    * @return (query_id, rank, corpus_id, score) — score rounded to 5dp,
    *         rank dense from 1 by (score desc, corpus_id)
    */
  def bm25TopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, textCol: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      excludeSelf: Boolean = true,
      maxDfFraction: Double = 1.0): DataFrame = Pinned.scope {
    // materialize the (queries×k)-row result, so the scope frees the
    // scratch pins: a corpus-row-sized (docLen) + query-vocab-sized
    // (pruned) block set that bench reps would otherwise accumulate. Only
    // the one small result frame stays pinned (the graph algos'
    // one-result contract).
    bm25TopKLazy(corpus, queries, idCol, textCol, k, k1, b, excludeSelf,
      maxDfFraction).pin(true)
  }

  /** [[bm25TopK]] before result materialization: the lazy top-k frame over
    * the scratch pins, which belong to the caller's scope. Exists so plan
    * assertions can inspect the executed plan the public operator hides
    * behind its checkpoint.
    */
  private[graft] def bm25TopKLazy(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, textCol: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      excludeSelf: Boolean = true,
      maxDfFraction: Double = 1.0): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(k1 > 0 && b >= 0 && b <= 1, s"BM25 params out of range: k1=$k1 b=$b")
    require(maxDfFraction > 0 && maxDfFraction <= 1,
      s"maxDfFraction must be in (0, 1], got $maxDfFraction")

    // TWO token passes and only SMALL materializations. dl ==
    // size(tokens(text)) == sum of tf per doc (the [""] empty-doc edge
    // agrees: one empty-string token ⇒ tf=1 ⇒ dl=1 = size(tokens(''))),
    // so the doc-length table is a MAP-ONLY tokenize scan — zero
    // exchanges (round 17; it previously re-derived dl from tf, paying a
    // second explode + two aggregation exchanges per call for the same
    // numbers — the DuckDB oracle has always computed dl this way, so
    // the equivalence is oracle-pinned). stats derives from docLen's
    // checkpoint instead of a third pass. Checkpointing tf ITSELF would
    // cut the passes to one but was measured a net loss in a full bench
    // run: the vocab×docs blocks are GB-scale at sf1 and three reps'
    // worth thrash the block manager (isolated 7.2s, in-run 11.3s) —
    // the two frames pinned here are corpus-row-sized (docLen) and
    // query-vocab-sized (pruned), a few MB each at any corpus size with
    // bounded query batches, and both are released before returning.
    // NULL text coalesces to '' so a null-text corpus row still counts
    // in n_docs/avgdl (explode(tokens(null)) would silently drop the doc
    // from the stats, shifting every score): it lands as the [''] edge
    // above, dl=1.
    val tf = corpus
      .select(col(idCol).as("corpus_id"),
        explode(tokens(coalesce(col(textCol), lit("")))).as("term"))
      .groupBy(col("corpus_id"), col("term"))
      .agg(count(lit(1)).as("tf"))

    val docLen = corpus
      .select(col(idCol).as("corpus_id"),
        size(tokens(coalesce(col(textCol), lit("")))).cast("long").as("dl"))
      .pin(true)
    val stats = docLen.agg(
      count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))

    val qTerms = queries.select(
      col(idCol).as("query_id"),
      explode(array_distinct(tokens(col(textCol)))).as("term"))

    // prune postings to query vocabulary BEFORE df/scoring; checkpointed
    // because the df branch and the scoring branch prune columns
    // divergently and would defeat exchange reuse (re-tokenizing the
    // corpus twice more) — the frame is query-vocabulary-sized
    val pruned = tf
      .join(broadcast(qTerms.select(col("term")).distinct()), Seq("term"))
      .pin(true)

    // df restricted to query terms — identical to the full-vocabulary df
    // on those terms (tf is distinct per (doc, term) by construction)
    val dfq = pruned.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // the production scale knob (the t07 df-cap precedent): drop terms in
    // more than maxDfFraction of the corpus BEFORE the query fan-out join,
    // so a stopword-heavy query's scoring volume is bounded by selective
    // posting lists, not corpus size. Changes the ranking (documented
    // approximate scale path); 1.0 = exact BM25
    val dfqC =
      if (maxDfFraction >= 1.0) dfq
      else dfq.crossJoin(broadcast(stats))
        .where(col("df") <= ceil(lit(maxDfFraction) * col("n_docs")))
        .select(col("term"), col("df"))

    val contrib =
      log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
        col("tf") * lit(k1 + 1.0) /
        (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))

    val scored = pruned
      .join(broadcast(dfqC), Seq("term"))
      .join(broadcast(qTerms), Seq("term"))
      .join(docLen, Seq("corpus_id"))
      .crossJoin(broadcast(stats))
      .where(if (excludeSelf) col("corpus_id") =!= col("query_id") else lit(true))
      .groupBy(col("query_id"), col("corpus_id"))
      .agg(round(sum(contrib) + lit(1e-9), 5).as("score"))

    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("corpus_id"))))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("corpus_id"), col("score"))
  }

  /** The persisted ingest artifacts of a BM25 corpus index — the search
    * half of the staged-retrieval story ([[Dedup.StagedPostings]] is the
    * dedup half, `VectorQueries.stagedV19Dir` the vector half). All three
    * tables are APPEND-ONLY generations (the LSM shape), which is what
    * makes [[foldIntoBm25Index]] batch-proportional — folding new docs
    * never rewrites an existing row:
    *
    *   - `postings` (term, corpus_id, tf, dl): the inverted index, each
    *     row carrying its document's token count — so the query path
    *     never joins a corpus-sized doc-length table (the
    *     StagedPostings `sz` rationale: one RLE-friendly long per row).
    *   - `termDf` (term, df): document-frequency DELTAS, one row per
    *     (generation, term). The reader takes `sum(df)` over the rows
    *     that survive query-vocabulary pruning — summing deltas instead
    *     of storing totals is what lets a fold append df rows for the
    *     batch's terms only, instead of rewriting every affected term.
    *   - `stats` (n_docs, sum_dl): corpus-count/total-length deltas,
    *     one row per generation; the reader sums both (and
    *     `sum_dl / n_docs` is exactly `avg(dl)`: integer-valued partial
    *     sums < 2^53 are associative in doubles, so the mean is
    *     bit-identical across engines and generation layouts).
    *   - `meta` (tokenizer_version, layout_version): the query path and
    *     every fold check both, so a tokenizer drift between ingest and
    *     serving — or a pre-gen flat-layout directory — is a loud error,
    *     not a silently empty result (the StagedPostings rule).
    *
    * At 100 TB, write `postings`/`termDf` bucketed AND sorted by term
    * ([[Dedup.StagedPostings.writeBucketed]] is the pattern) so the
    * pushed term-range filter skips row groups; the query path below is
    * identical either way.
    */
  final case class StagedBm25Index(postings: DataFrame, termDf: DataFrame,
      stats: DataFrame, meta: DataFrame) {
    /** Lay the index out gen-partitioned (the base corpus is generation
      * 0): every later [[foldIntoBm25Index]] lands in its own `gen=N`
      * partition directory, which is what makes folds replay-IDEMPOTENT —
      * re-writing a generation dynamically overwrites exactly that
      * partition instead of appending a duplicate.
      */
    def write(dir: String): Unit = {
      StagedBm25Index.writeGen(postings, s"$dir/postings", 0L)
      StagedBm25Index.writeGen(termDf, s"$dir/term_df", 0L)
      StagedBm25Index.writeGen(stats, s"$dir/stats", 0L)
      meta.write.mode("overwrite").parquet(s"$dir/meta")
    }
  }

  object StagedBm25Index {
    def read(spark: SparkSession, dir: String): StagedBm25Index =
      StagedBm25Index(
        readGens(spark, s"$dir/postings"),
        readGens(spark, s"$dir/term_df"),
        readGens(spark, s"$dir/stats"),
        spark.read.parquet(s"$dir/meta"))

    /** One generation of one index table, written DIRECTLY to its own
      * Hive-style partition directory (`gen=<gen>` — readers' partition
      * discovery supplies the column): a plain per-directory overwrite
      * replaces exactly this generation on a replayed delivery and never
      * touches any other, without the list-and-commit pass a dynamic
      * partition overwrite of the parent table would run per write.
      */
    private[graft] def writeGen(df: DataFrame, dir: String, gen: Long): Unit =
      df.write.mode("overwrite").parquet(s"$dir/gen=$gen")

    /** All generations of one index table; the physical partition column
      * is dropped so readers see the logical schema.
      */
    private[graft] def readGens(spark: SparkSession, dir: String): DataFrame =
      spark.read.parquet(dir).drop("gen")

    /** Physical layout generation this build writes and reads: 2 = the
      * round-12 `gen=N/` partition-directory layout. 1 was the flat
      * single-parquet layout — a pre-gen index directory has no
      * `layout_version` column in meta, and folding gen files into it
      * would leave a mixed flat+partitioned tree that
      * `spark.read.parquet` either rejects or reads without the
      * partition column; refuse it loudly instead.
      */
    val LayoutVersion = 2

    /** Tokenizer + layout compatibility in ONE one-row job (the meta
      * table is consulted on every serve/fold — don't pay two).
      */
    private[operators] def checkCompat(meta: DataFrame, action: String): Unit = {
      val hasLayout = meta.columns.contains("layout_version")
      val row = meta.select(col("tokenizer_version") +:
        (if (hasLayout) Seq(col("layout_version")) else Nil): _*).head()
      val stored = row.getInt(0)
      require(stored == Dedup.TokenizerVersion,
        s"stored BM25 index was tokenized with v$stored, this build " +
          s"$action with v${Dedup.TokenizerVersion} — re-run stageBm25Index")
      val lv = if (hasLayout) row.getInt(1) else 1
      require(lv == LayoutVersion,
        s"stored BM25 index uses layout v$lv, this build reads/folds " +
          s"layout v$LayoutVersion — re-run stageBm25Index and write() a " +
          "fresh index directory")
    }
  }

  /** Build the single-generation [[StagedBm25Index]] tables for a corpus
    * snapshot (ingest-time cost, paid once): ONE postings shuffle keyed
    * (corpus_id, dl, term) — dl is functionally dependent on corpus_id,
    * so widening the key denormalizes it for free — one map-combined df
    * aggregation over the postings, and one narrow corpus scan for the
    * stats row (count + sum of token counts; no shuffle).
    */
  def stageBm25Index(corpus: DataFrame, idCol: String, textCol: String,
      pin: Boolean = true): StagedBm25Index = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // materialize the token array through a projection before fanning out
    // (size + explode would otherwise each re-run the tokenizer)
    val toked = corpus.select(col(idCol).as("corpus_id"),
      tokens(col(textCol)).as("toks"))
    val postingsPlan = toked
      .select(col("corpus_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
      .groupBy(col("corpus_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .select(col("term"), col("corpus_id"), col("tf"), col("dl"))
    // consumed twice (the df agg and the write): pin for a corpus-scale
    // snapshot stage; pin=false for the per-tick fold regime, where a
    // tick's recompute is cheaper than the checkpoint job + block free
    // it would add to EVERY tick of a drain
    val postings =
      if (pin) postingsPlan.pin(true) else postingsPlan
    val termDf = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = toked
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("toks")).cast("long")).as("sum_dl"))
    val meta = Seq((Dedup.TokenizerVersion, StagedBm25Index.LayoutVersion))
      .toDF("tokenizer_version", "layout_version")
    StagedBm25Index(postings, termDf, stats, meta)
  }

  /** Fold a batch of new documents into a persisted index directory —
    * batch-proportional by the append-only design: batch postings, batch
    * df DELTAS (rows only for terms the batch contains), and one stats
    * delta row are appended; nothing existing is read back or rewritten
    * except the one-row meta check. Folded index ≡ re-staging the union
    * corpus (the RetrievalSpec law) because every reader aggregates
    * across generations.
    *
    * Folds are replay-IDEMPOTENT (round 12): each fold writes generation
    * `gen`'s partition directory with dynamic partition overwrite, so an
    * at-least-once driver (foreachBatch keyed by batchId, a retried job)
    * re-delivering the same (gen, batch) replaces its own previous write
    * instead of double-appending. Distinct folds must use distinct gens
    * (gen 0 is the base corpus — reserved).
    */
  def foldIntoBm25Index(spark: SparkSession, dir: String, batch: DataFrame,
      idCol: String, textCol: String, gen: Long): Unit = {
    require(gen > 0, s"gen must be > 0 (0 is the base corpus), got $gen")
    StagedBm25Index.checkCompat(spark.read.parquet(s"$dir/meta"), "folds")
    // pin=false: the fold regime is batch-proportional by design, and a
    // batch's postings recompute (df agg + write each re-tokenize the
    // batch) costs less than the checkpoint job + block release it would
    // add per fold
    val delta = stageBm25Index(batch, idCol, textCol, pin = false)
    StagedBm25Index.writeGen(delta.postings, s"$dir/postings", gen)
    StagedBm25Index.writeGen(delta.termDf, s"$dir/term_df", gen)
    StagedBm25Index.writeGen(delta.stats, s"$dir/stats", gen)
  }

  /** Compact an append-only [[StagedBm25Index]] directory into a fresh
    * single-generation directory at `dstDir` — the LSM merge the fold
    * design defers. A year of nightly [[foldIntoBm25Index]] runs is 365
    * `gen=N` partition directories whose footers every serve must list
    * and read; compaction rewrites them as ONE generation with:
    *
    *   - `postings` range-partitioned AND sorted by term, so the serving
    *     path's pushed term-range filter actually skips row groups (the
    *     "at 100 TB write term-sorted" note on [[StagedBm25Index]], now
    *     a produced layout rather than advice);
    *   - `termDf` delta rows SUMMED to one row per term;
    *   - `stats` delta rows summed to one row.
    *
    * Readers aggregate across generations, so a compacted index is
    * indistinguishable by construction: compact(stage + folds) ≡
    * stage(union corpus) is the RetrievalSpec law, and t42 serves its
    * CORRECTNESS row from a compacted two-generation index. Writes land
    * in a NEW directory (never in place): the source stays serveable
    * until the caller swaps directories, which also makes a killed
    * compaction a no-op instead of a half-merged store.
    */
  def compactBm25Index(spark: SparkSession, srcDir: String, dstDir: String)
      : Unit = {
    // enforce the never-in-place contract: writeGen into srcDir would
    // overwrite postings/gen=0 while readGens is still lazily scanning it
    require(
      new java.io.File(srcDir).getCanonicalPath !=
        new java.io.File(dstDir).getCanonicalPath,
      s"compactBm25Index is never in-place: srcDir and dstDir resolve to " +
        s"the same path ($srcDir)")
    val meta = spark.read.parquet(s"$srcDir/meta")
    StagedBm25Index.checkCompat(meta, "compacts")
    val postings = StagedBm25Index.readGens(spark, s"$srcDir/postings")
      .repartitionByRange(col("term"))
      .sortWithinPartitions(col("term"), col("corpus_id"))
    val termDf = StagedBm25Index.readGens(spark, s"$srcDir/term_df")
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
    val stats = StagedBm25Index.readGens(spark, s"$srcDir/stats")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
    StagedBm25Index.writeGen(postings, s"$dstDir/postings", 0L)
    StagedBm25Index.writeGen(termDf, s"$dstDir/term_df", 0L)
    StagedBm25Index.writeGen(stats, s"$dstDir/stats", 0L)
    meta.write.mode("overwrite").parquet(s"$dstDir/meta")
  }

  /** BM25 top-k over a persisted [[StagedBm25Index]] — the serving path.
    * Identical scores to [[bm25TopK]] over the same corpus (the
    * RetrievalSpec parity law; df restricted to query terms equals
    * full-vocabulary df on those terms either way). What staging buys is
    * the plan: NO corpus-sized work at query time — the stored postings
    * and df tables are reached ONLY through [[Dedup.pruneToBatch]]'s
    * pushed term-range filter + broadcast LEFT SEMI join (row-group
    * skipping on a term-sorted store; both prunes share one driver-side
    * range aggregation), the df deltas are summed over the pruned rows
    * (query-vocabulary-sized), and the stats sum is generation-counted.
    * Corpus text is never re-tokenized; per-query cost tracks the query
    * terms' posting lists, not the corpus.
    *
    * A query vocabulary within [[graft.Regime.MaxInListLiterals]] turns
    * both stored-table prunes into ONE pushed `BETWEEN + IN(terms…)` data
    * filter derived from a single bounded collect — no range-agg job, no
    * broadcast-semi builds (the v12 bounded cell-prune rule). Above it,
    * the range + broadcast-semi plan takes over; [[graft.Regime]] makes
    * the choice.
    */
  def bm25TopKStaged(
      index: StagedBm25Index, queries: DataFrame,
      idCol: String, textCol: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      excludeSelf: Boolean = true,
      maxDfFraction: Double = 1.0): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(k1 > 0 && b >= 0 && b <= 1, s"BM25 params out of range: k1=$k1 b=$b")
    require(maxDfFraction > 0 && maxDfFraction <= 1,
      s"maxDfFraction must be in (0, 1], got $maxDfFraction")
    StagedBm25Index.checkCompat(index.meta, "queries")

    // NOT checkpointed (round 14): queries are small by contract, so the
    // consumers below re-derive this tiny frame for less than a
    // checkpoint job + a lifetime block pin per serve call (s14 serves
    // per drain; pins accumulated)
    val qTerms = queries.select(
      col(idCol).as("query_id"),
      explode(array_distinct(tokens(col(textCol)))).as("term"))

    // ONE bounded collect supplies the prune for both stored tables:
    // min/max range AND the literal IN list (pushed to the parquet scans
    // as data filters — row-group skipping on a term-sorted store, zero
    // join machinery). In the same regime, the df sum and the stats sum
    // COLLAPSE TO DRIVER LOCAL RELATIONS (≤ vocab rows + one row): the
    // final scoring job then builds its broadcast sides from local
    // tables instead of re-scanning the stored parquet per broadcast —
    // profiled at sf0.1, those re-scans were ~1s of s14's per-drain
    // serve. Query vocabularies beyond the literal bound fall back to
    // the shared range + broadcast-semi plan with lazy df/stats.
    val spark = queries.sparkSession
    import spark.implicits._
    val vocab = qTerms.select(col("term")).distinct()
      .limit(graft.Regime.MaxInListLiterals + 1).collect().map(_.getString(0))
    val (pruned, dfq, stats) =
      if (vocab.isEmpty)
        (index.postings.where(lit(false)),
          Seq.empty[(String, Long)].toDF("term", "df"),
          Seq((0L, 0.0)).toDF("n_docs", "avgdl"))
      else if (graft.Regime.fits(vocab.length, graft.Regime.MaxInListLiterals)) {
        // min/max under UTF8String BINARY order — the order the pushed
        // BETWEEN compares in. Java String ordering (UTF-16 code units)
        // disagrees for supplementary-plane characters (a surrogate pair
        // sorts below U+E000..U+FFFF in UTF-16 but above in UTF-8), and a
        // Java-ordered range could exclude a term the IN list includes —
        // silently dropping its postings.
        implicit val binary: Ordering[String] =
          Ordering.comparatorToOrdering(
            (a: String, b: String) =>
              org.apache.spark.unsafe.types.UTF8String.fromString(a)
                .compareTo(
                  org.apache.spark.unsafe.types.UTF8String.fromString(b)))
        val (lo, hi) = (vocab.min(binary), vocab.max(binary))
        def prune(t: DataFrame): DataFrame =
          t.where(col("term").between(lo, hi) &&
            col("term").isin(vocab.toSeq: _*))
        // ONE collect supplies BOTH driver locals: the pruned-df
        // aggregation and the generation-summed stats ride a single job
        // as a tagged union (their two scan stages schedule concurrently)
        // instead of the two sequential driver jobs the round-17 serve
        // decomposition measured. Terms are non-null by construction
        // (tokens() output), so a null term tags the stats row
        // unambiguously.
        val rows = prune(index.termDf)
          .groupBy(col("term")).agg(sum(col("df")).as("a"))
          .select(col("term"), col("a"), lit(null).cast("long").as("b"))
          .unionAll(index.stats
            .agg(sum(col("n_docs")).as("a"), sum(col("sum_dl")).as("b"))
            .select(lit(null).cast("string").as("term"), col("a"), col("b")))
          .collect()
        val dfLocal = rows.iterator.filter(!_.isNullAt(0))
          .map(r => (r.getString(0), r.getLong(1))).toSeq
          .toDF("term", "df")
        val st = rows.find(_.isNullAt(0)).get // the stats agg always emits one row
        val statsLocal = // an empty index serves an empty result below
          if (st.isNullAt(1) || st.getLong(1) == 0L) Seq((0L, 0.0))
          else Seq((st.getLong(1), st.getLong(2).toDouble / st.getLong(1)))
        (prune(index.postings), dfLocal,
          statsLocal.toDF("n_docs", "avgdl"))
      } else {
        val qVocab = qTerms.select(col("term")).distinct()
        // one driver-side range agg shared by both prunes (the t35 rule)
        val range = Some(Dedup.batchShingleRange(qVocab, keyCol = "term"))
        (Dedup.pruneToBatch(index.postings, qVocab, range, keyCol = "term"),
          Dedup.pruneToBatch(index.termDf, qVocab, range, keyCol = "term")
            .groupBy(col("term")).agg(sum(col("df")).as("df")),
          index.stats
            .agg(sum(col("n_docs")).as("n_docs"),
              sum(col("sum_dl")).as("sum_dl"))
            .select(col("n_docs"),
              (col("sum_dl").cast("double") / col("n_docs")).as("avgdl")))
      }
    // the df-cap scale knob (see bm25TopK): applied to the summed
    // cross-generation df, and FIRST in the join order, so hot-term
    // posting rows drop before the query fan-out
    val dfqC =
      if (maxDfFraction >= 1.0) dfq
      else dfq.crossJoin(broadcast(stats))
        .where(col("df") <= ceil(lit(maxDfFraction) * col("n_docs")))
        .select(col("term"), col("df"))

    val contrib =
      log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
        col("tf") * lit(k1 + 1.0) /
        (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))

    val scored = pruned
      .join(broadcast(dfqC), Seq("term"))
      .join(broadcast(qTerms), Seq("term"))
      .crossJoin(broadcast(stats))
      .where(if (excludeSelf) col("corpus_id") =!= col("query_id") else lit(true))
      .groupBy(col("query_id"), col("corpus_id"))
      .agg(round(sum(contrib) + lit(1e-9), 5).as("score"))

    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("corpus_id"))))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("corpus_id"), col("score"))
  }

  /** Reciprocal-rank fusion of two ranked lists sharing
    * (query_id, corpus_id, rank) columns: `Σ 1/(c + rank)` over the lists
    * a candidate appears in (full outer — appearing in one list still
    * scores). Ranks are small integers, so the fused score is
    * bit-identical across engines; rounding to 6dp is the ranking
    * convention, not a tolerance.
    *
    * @return (query_id, rank, corpus_id, rrf, rank_a, rank_b); rank_a/b
    *         null when the candidate missed that list
    */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int, c: Int = 60): DataFrame = {
    require(k >= 1 && c >= 0, s"rrfFuse params out of range: k=$k c=$c")
    val left = a.select(col("query_id"), col("corpus_id"), col("rank").as("rank_a"))
    val right = b.select(col("query_id"), col("corpus_id"), col("rank").as("rank_b"))
    left.join(right, Seq("query_id", "corpus_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(c) + col("rank_a")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c) + col("rank_b")), lit(0.0)), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("rrf").desc, col("corpus_id"))))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("corpus_id"), col("rrf"),
        col("rank_a").cast("int").as("rank_a"),
        col("rank_b").cast("int").as("rank_b"))
  }
}
