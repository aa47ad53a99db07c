package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.functions.TextFunctions._
import graft.multimodal.Multimodal
import graft.operators.Retrieval
import Tables.t

/** LLM-pipeline text surface over `documents` (SURVEY.md §2.4): exact +
  * near-duplicate detection and clustering, token statistics, term
  * frequencies, quality scoring, language ID, fingerprinting, content-hash
  * corpus splitting, multimodal plumbing. Computed DuckDB oracles
  * everywhere — including the sketches: since round 11 the MinHash (t08)
  * and SimHash (t09) hashes are GF(2^61-1) [[graft.functions.Mod61]]
  * polynomial hashes the oracle REPLAYS in SQL arithmetic at any scale
  * factor (no golden VALUES pins), with semantic bounds in ScalaTest on
  * top (candidates ⊇ exact pairs, estimate error caps).
  */
object TextQueries {

  type Q = (SparkSession, String) => DataFrame

  /** DuckDB-side mirror of TextFunctions.tokens. */
  private val sqlToks = """string_split_regex(trim(lower(text)), '\s+')"""

  // ------------------------------------------------------------ exact dedup
  private val t01: Q = (s, dir) =>
    Dedup.exact(t(s, dir, "documents"), "doc_id", Seq("text"))
      .select(col("survivor_id"), col("n_copies"), md5(col("text")).as("text_md5"))

  private val t01Sql =
    """SELECT min(doc_id) AS survivor_id, count(*) AS n_copies,
       md5(text) AS text_md5
       FROM documents GROUP BY text"""

  // ------------------------------------------------------- token statistics
  private val t02: Q = (s, dir) => {
    val d = t(s, dir, "documents")
    d.select(
      col("doc_id"),
      size(tokens(col("text"))).as("n_tokens_ws"),
      bpeishTokenCount(col("text")).cast("long").as("n_tokens_bpeish"),
      length(col("text")).as("n_chars_measured"),
      col("n_chars"))
  }

  private val t02Sql =
    s"""SELECT doc_id,
       CAST(len($sqlToks) AS INT) AS n_tokens_ws,
       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT)
         AS n_tokens_bpeish,
       CAST(length(text) AS INT) AS n_chars_measured,
       n_chars
       FROM documents"""

  // ------------------------------------------------------- term frequencies
  private val t03: Q = (s, dir) =>
    t(s, dir, "documents")
      .select(explode(tokens(col("text"))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("term"))
      .limit(25)

  private val t03Sql =
    s"""SELECT term, count(*) AS tf
       FROM (SELECT unnest($sqlToks) AS term FROM documents)
       GROUP BY term ORDER BY tf DESC, term LIMIT 25"""

  // --------------------------------------------------------- quality score
  private val t04: Q = (s, dir) => {
    val d = t(s, dir, "documents")
    val tk = tokens(col("text"))
    d.select(
      col("doc_id"),
      size(tk).as("n_tokens"),
      round(distinctRatio(tk) + 1e-9, 4).as("distinct_ratio"),
      round(stopwordRatio(tk, stopwordProfiles("en")) + 1e-9, 4).as("stopword_ratio"),
      qualityScore(col("text")).as("quality"))
  }

  private val t04Sql = {
    val en = stopwordProfiles("en").map(w => s"'$w'").mkString(", ")
    s"""SELECT doc_id,
       CAST(len(toks) AS INT) AS n_tokens,
       round(len(list_distinct(toks))*1.0 / greatest(len(toks),1) + 1e-9, 4) AS distinct_ratio,
       round(len(list_filter(toks, x -> x IN ($en)))*1.0 / greatest(len(toks),1) + 1e-9, 4)
         AS stopword_ratio,
       round(least(len(toks)*1.0/100.0, 1.0) * 0.3
             + len(list_distinct(toks))*1.0 / greatest(len(toks),1) * 0.5
             + (1.0 - len(list_filter(toks, x -> x IN ($en)))*1.0 / greatest(len(toks),1)) * 0.2
             + 1e-9, 4) AS quality
       FROM (SELECT doc_id, $sqlToks AS toks FROM documents)"""
  }

  // ------------------------------------------------------------ language ID
  private val t05: Q = (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang").as("labeled_lang"),
        langId(tokens(col("text"))).as("predicted_lang"))

  private val t05Sql = {
    val structs = stopwordProfiles.toSeq.sortBy(_._1).map { case (lang, words) =>
      val set = words.map(w => s"'$w'").mkString(", ")
      s"{'score': len(list_filter(toks, x -> x IN ($set)))*1.0 / greatest(len(toks),1), 'lang': '$lang'}"
    }.mkString(", ")
    s"""SELECT doc_id, lang AS labeled_lang,
       CASE WHEN best.score > 0 THEN best.lang ELSE 'und' END AS predicted_lang
       FROM (SELECT doc_id, lang, list_max([$structs]) AS best
             FROM (SELECT doc_id, lang, $sqlToks AS toks FROM documents))"""
  }

  // ------------------------------------------------------------ fingerprint
  private val t06: Q = (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"), rollingFingerprint(tokens(col("text"))).as("fingerprint"))

  /** DuckDB-side mirror of TextFunctions.rollingFingerprint — shared by the
    * t06 fingerprint query and the t13 content-hash split.
    */
  private val sqlFingerprint =
    s"""list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform($sqlToks, x -> CAST(len(x)*131 + ascii(substr(x,1,1)) AS BIGINT))),
         (a, b) -> (a*31 + b) % 1000000007)"""

  private val t06Sql =
    s"""SELECT doc_id, $sqlFingerprint AS fingerprint
       FROM documents"""

  // ----------------------------------------------- exact n-gram Jaccard dedup
  // maxDf caps the document frequency of a shingle (the quadratic-skew guard
  // in Dedup.ngramJaccardPairs); the oracle mirrors the cap: Jaccard over
  // the df-capped shingle space, sizes re-counted post-cap.
  private val t07MaxDf = 100
  private val t07: Q = (s, dir) =>
    Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
      threshold = 0.1, shingleN = 3, maxDf = t07MaxDf,
      // testdata is one parquet file = one input split; spread the shingle
      // compute across the local cores
      inputPartitions = s.sparkContext.defaultParallelism)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard") + 1e-9, 4).as("jaccard"))

  /** The df-capped postings → intersection-count CTE chain shared by the
    * t07 pair oracle and the t12 clustering oracle (ends with `sizes` and
    * `inter`; a consumer joins them and applies the threshold).
    */
  private val t07PairCtes =
    s"""sets AS (
         SELECT doc_id, list_distinct(list_transform(
           generate_series(1, greatest(len(toks) - 2, 1)),
           i -> array_to_string(toks[i:i+2], ' '))) AS sh
         FROM (SELECT doc_id, $sqlToks AS toks FROM documents)),
       posts AS (SELECT doc_id, unnest(sh) AS shingle FROM sets),
       rare AS (SELECT shingle FROM posts GROUP BY shingle
                HAVING count(*) <= $t07MaxDf),
       cposts AS (SELECT p.doc_id, p.shingle FROM posts p
                  JOIN rare r ON p.shingle = r.shingle),
       sizes AS (SELECT doc_id, count(*) AS sz FROM cposts GROUP BY doc_id),
       inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
                 FROM cposts a JOIN cposts b ON a.shingle = b.shingle
                 WHERE a.doc_id < b.doc_id
                 GROUP BY a.doc_id, b.doc_id)"""

  private val t07Sql =
    s"""WITH $t07PairCtes
       SELECT doc_a, doc_b,
         round(c*1.0 / (sa.sz + sb.sz - c) + 1e-9, 4) AS jaccard
       FROM inter
       JOIN sizes sa ON sa.doc_id = doc_a
       JOIN sizes sb ON sb.doc_id = doc_b
       WHERE c*1.0 / (sa.sz + sb.sz - c) >= 0.1"""

  // -------------------------------------------------- MinHash LSH near-dup
  // COMPUTED oracle (round 11 — previously a golden VALUES pin): the
  // signatures live in GF(2^61-1) (graft.functions.Mod61) precisely so
  // DuckDB can replay them — products of sub-2^61 values fit HUGEINT, so
  // the base-131 byte hash, the Carter-Wegman slot hashes, the banding
  // and the agreeing-slot estimate below re-derive the t08 output
  // independently, slot for slot. The only non-replayed detail is the
  // Spark side's band-key COMPRESSION (xxhash64 of the band slice vs the
  // slice itself here) — a difference only on a 2^-64 xxhash collision.
  private val t08: Q = (s, dir) =>
    Dedup.minhashPairs(t(s, dir, "documents"), "doc_id", "text",
      threshold = 0.5, k = 64, bands = 16)
      .select(col("doc_a"), col("doc_b"), round(col("est_jaccard"), 4).as("est_jaccard"))

  // the Mod61 field constants, inlined so Spark and DuckDB literally agree
  private val P61 = graft.functions.Mod61.P.toString
  // Replays Spark's Mod61 base-131 hash over the string's UTF-8 BYTES
  // (hex(encode(e)) sliced two digits at a time) — not code points, so it
  // agrees with graft.functions.Mod61 on arbitrary Unicode, not just the
  // ASCII corpora the drivers generate. ascii(substr(...)) would iterate
  // code points and diverge on any multi-byte character.
  private def hash61Sql(e: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS HUGEINT),
          list_transform(generate_series(1, octet_length(encode($e))),
            i -> CAST(CAST(('0x' || substr(hex(encode($e)), i*2-1, 2)) AS INT)
                   AS HUGEINT))),
          (a, b) -> (a*131 + b) % $P61)"""

  private val t08Sql = {
    import graft.functions.Mod61.{A1, C1, A2, C2}
    s"""WITH sets AS (
         SELECT doc_id, list_distinct(list_transform(
           generate_series(1, greatest(len(toks) - 2, 1)),
           i -> array_to_string(toks[i:i+2], ' '))) AS sh
         FROM (SELECT doc_id, $sqlToks AS toks FROM documents)),
       posts AS (SELECT doc_id, unnest(sh) AS shingle FROM sets),
       hx AS (SELECT doc_id, ${hash61Sql("shingle")} AS x FROM posts),
       uv AS (SELECT doc_id, ($A1*x + $C1) % $P61 AS u,
                             ($A2*x + $C2) % $P61 AS v FROM hx),
       slots AS (SELECT doc_id, i, min((u + i*v) % $P61) AS slot
                 FROM uv, generate_series(0, 63) AS g(i)
                 GROUP BY doc_id, i),
       sigs AS (SELECT doc_id, list(slot ORDER BY i) AS sig
                FROM slots GROUP BY doc_id),
       bands AS (SELECT doc_id, j, array_to_string(sig[j*4+1:j*4+4], ',') AS bkey
                 FROM sigs, generate_series(0, 15) AS g(j)),
       cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM bands a JOIN bands b
                  ON a.j = b.j AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       scored AS (SELECT doc_a, doc_b,
                    len(list_filter(generate_series(1, 64),
                      i -> sa.sig[i] = sb.sig[i])) AS m
                  FROM cand
                  JOIN sigs sa ON sa.doc_id = doc_a
                  JOIN sigs sb ON sb.doc_id = doc_b)
       SELECT doc_a, doc_b, round(m / 64.0 + 1e-9, 4) AS est_jaccard
       FROM scored WHERE m / 64.0 >= 0.5"""
  }

  // ------------------------------------------------------ SimHash near-dup
  // Computed oracle, same Mod61 replay argument as t08: h64(token) is two
  // Carter-Wegman hashes (61 low bits + 3 high bits), each sign-counted
  // bit re-derived below as a '0'/'1' string, bands = 16-char substrings,
  // hamming = differing positions.
  private val t09: Q = (s, dir) =>
    Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text", maxHamming = 3)

  private val t09Sql = {
    import graft.functions.Mod61.{A3, C3, A4, C4}
    s"""WITH posts AS (
         SELECT doc_id, unnest(toks) AS tok
         FROM (SELECT doc_id, $sqlToks AS toks FROM documents)),
       hx AS (SELECT doc_id, ${hash61Sql("tok")} AS x FROM posts),
       gg AS (SELECT doc_id, ($A3*x + $C3) % $P61 AS g1,
                             ($A4*x + $C4) % $P61 AS g2 FROM hx),
       bits AS (SELECT doc_id, j,
                  sum(CASE WHEN (CASE WHEN j < 61
                         THEN (g1 // (CAST(1 AS BIGINT) << j)) % 2
                         ELSE (g2 // (CAST(1 AS BIGINT) << (j - 61))) % 2 END) = 1
                       THEN 1 ELSE -1 END) AS cnt
                FROM gg, generate_series(0, 63) AS g(j)
                GROUP BY doc_id, j),
       rawsigs AS (SELECT doc_id,
                     string_agg(CASE WHEN cnt > 0 THEN '1' ELSE '0' END,
                                '' ORDER BY j) AS sig
                   FROM bits GROUP BY doc_id),
       sigs AS (SELECT d.doc_id, coalesce(r.sig, repeat('0', 64)) AS sig
                FROM documents d LEFT JOIN rawsigs r USING (doc_id)),
       bands AS (SELECT doc_id, j, substr(sig, j*16 + 1, 16) AS bkey
                 FROM sigs, generate_series(0, 3) AS g(j)),
       cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM bands a JOIN bands b
                  ON a.j = b.j AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       ham AS (SELECT doc_a, doc_b,
                 len(list_filter(generate_series(1, 64),
                   i -> substr(sa.sig, i, 1) <> substr(sb.sig, i, 1))) AS hamming
               FROM cand
               JOIN sigs sa ON sa.doc_id = doc_a
               JOIN sigs sb ON sb.doc_id = doc_b)
       SELECT doc_a, doc_b, CAST(hamming AS INT) AS hamming
       FROM ham WHERE hamming <= 3"""
  }

  // ------------------------------------------------- multimodal feature stub
  private val t10: Q = (s, dir) =>
    Multimodal.extractFeatures(
      Multimodal.documentsAsMedia(t(s, dir, "documents"))).toDF()

  // The documents text is pure ASCII, so per-character code points equal
  // the UTF-8 payload bytes the Spark side checksums.
  private val t10Sql =
    """WITH payloads AS (
         SELECT doc_id AS media_id, 'application/octet-stream' AS mime,
                CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(generate_series(1, length(text)),
                    i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
                  (a, b) -> (a*131 + b) % 1000000007) AS checksum
         FROM documents)
       SELECT media_id, mime, n_bytes,
              CAST(64 + checksum % 577 AS INT) AS width,
              CAST(64 + (checksum // 577) % 433 AS INT) AS height,
              checksum,
              CAST(0 AS INT) AS sample_rate, CAST(0 AS INT) AS channels,
              CAST(0 AS BIGINT) AS duration_ms, CAST(0 AS INT) AS n_tracks
       FROM payloads"""

  // --------------------------------------------------- multimodal frame sample
  // Video-style frame sampling over the media payload (every 4th 256-byte
  // "frame"; text payloads take the byte-slice fallback — AVI payloads get
  // a real movi demux, exercised in LlmOpsSpec); the oracle recomputes
  // chunk geometry from byte lengths and replays each frame's rolling
  // byte hash, so the emitted frame BYTES are verified, not just counts.
  private val t11: Q = (s, dir) =>
    Multimodal.sampleFrames(
      Multimodal.documentsAsMedia(t(s, dir, "documents")),
      frameBytes = 256, stride = 4)
      .toDF()
      .select(col("media_id"), col("frame_idx"),
        length(col("frame_bytes")).cast("long").as("n_frame_bytes"),
        col("checksum"))

  private val t11Sql =
    """WITH d AS (SELECT doc_id, text, octet_length(encode(text)) AS len FROM documents),
       f AS (SELECT doc_id, text, len,
               unnest(generate_series(0, CAST(ceil(len / 256.0) AS BIGINT) - 1)) AS k
             FROM d)
       SELECT doc_id AS media_id, CAST(k AS INT) AS frame_idx,
              CAST(least(256, len - k * 256) AS BIGINT) AS n_frame_bytes,
              list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(generate_series(1, CAST(least(256, len - k * 256) AS INT)),
                  i -> CAST(ascii(substr(text, CAST(k * 256 AS INT) + i, 1)) AS BIGINT))),
                (a, b) -> (a*131 + b) % 1000000007) AS checksum
       FROM f WHERE k % 4 = 0"""

  // --------------------------------------------------- MP4 sample demux
  // The REAL container demux path under oracle verification (t11 covers
  // the byte-slice fallback; the AVI demux is spec-verified in
  // LlmOpsSpec): each document's text bytes are packed as the video
  // samples of a synthetic-but-valid ISO-BMFF file (real stsz/stsc/stco
  // tables, multi-run stsc, a QuickTime minf-level hdlr decoy), and
  // sampleFrames must reconstruct every 4th SAMPLE — not byte slice —
  // via demuxMp4Frames. The oracle replays the sample geometry
  // (64-byte samples of the ASCII text) and each frame's rolling byte
  // hash; `demuxed` must be TRUE for every row, so a silent fallback to
  // slicing (e.g. a mis-walked sample table) hash-mismatches instead of
  // passing quietly.
  private val t29: Q = (s, dir) =>
    Multimodal.sampleFrames(
      Multimodal.documentsAsMp4Media(
        t(s, dir, "documents").where(length(encode(col("text"), "UTF-8")) > 0)),
      frameBytes = 256, stride = 4)
      .toDF()
      .select(col("media_id"), col("frame_idx"),
        length(col("frame_bytes")).cast("long").as("n_frame_bytes"),
        col("checksum"), col("demuxed"))

  private val t29Sql =
    """WITH d AS (SELECT doc_id, text, octet_length(encode(text)) AS len
                  FROM documents WHERE octet_length(encode(text)) > 0),
       f AS (SELECT doc_id, text, len,
               unnest(generate_series(0, CAST(ceil(len / 64.0) AS BIGINT) - 1)) AS k
             FROM d)
       SELECT doc_id AS media_id, CAST(k AS INT) AS frame_idx,
              CAST(least(64, len - k * 64) AS BIGINT) AS n_frame_bytes,
              list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(generate_series(1, CAST(least(64, len - k * 64) AS INT)),
                  i -> CAST(ascii(substr(text, CAST(k * 64 AS INT) + i, 1)) AS BIGINT))),
                (a, b) -> (a*131 + b) % 1000000007) AS checksum,
              TRUE AS demuxed
       FROM f WHERE k % 4 = 0"""

  // --------------------------------------------------- frame-luma decode
  // REAL pixel decode under oracle verification (round 14): each
  // document's text bytes become the pixels of 16×4 8-bit frames over an
  // identity GRAYSCALE palette (entry i = (i,i,i) ⇒ pixel luma exactly
  // 1000·i), packed as a demuxable AVI — even doc_ids BI_RLE8-encoded,
  // odd raw BI_RGB, so ONE corpus exercises both pure-JVM DIB decoders.
  // frameLuma must demux, palette-decode (or RLE-walk), and integer-mean
  // each frame; the oracle replays every value as
  // (1000 · Σ frame bytes) / 64 in plain SQL. A codec mislabel, a wrong
  // palette read, a stride slip, or an RLE coverage bug all hash-mismatch.
  private val t41: Q = (s, dir) =>
    Multimodal.frameLuma(
      Multimodal.documentsAsDibVideo(
        t(s, dir, "documents").where(length(encode(col("text"), "UTF-8")) > 0)))
      .toDF()

  private val t41Sql =
    """WITH d AS (SELECT doc_id, text, octet_length(encode(text)) AS len
                  FROM documents WHERE octet_length(encode(text)) > 0),
       f AS (SELECT doc_id, text, len,
               unnest(generate_series(0, CAST(ceil(len / 64.0) AS BIGINT) - 1)) AS k
             FROM d)
       SELECT doc_id AS media_id, CAST(k AS INT) AS frame_idx,
              CAST(16 AS INT) AS width, CAST(4 AS INT) AS height,
              CASE WHEN doc_id % 2 = 0 THEN 'rle8' ELSE 'rawvideo' END AS codec,
              1000 * list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(generate_series(1, CAST(least(64, len - k * 64) AS INT)),
                  i -> CAST(ascii(substr(text, CAST(k * 64 AS INT) + i, 1)) AS BIGINT))),
                (a, b) -> a + b) // 64 AS mean_luma_milli
       FROM f"""

  // ------------------------------------------------- near-dup clustering
  // The retention step after pair generation: transitive clusters over the
  // t07 exact-Jaccard pairs (Dedup.clusters: the shared CC kernel —
  // union-find on the driver at this pair count, GraphX past its cap) with
  // the min-id member as canonical survivor. The oracle replays the
  // clustering with a recursive-CTE transitive closure over the same pair
  // set — tractable because the pair graph is dup-mass-sized, not
  // corpus-sized.
  private val t12: Q = (s, dir) =>
    Dedup.clusters(Dedup.ngramJaccardPairs(t(s, dir, "documents"),
      "doc_id", "text", threshold = 0.1, shingleN = 3, maxDf = t07MaxDf,
      inputPartitions = s.sparkContext.defaultParallelism))

  private val t12Sql =
    s"""WITH RECURSIVE $t07PairCtes,
       pairs AS (
         SELECT doc_a, doc_b FROM inter
         JOIN sizes sa ON sa.doc_id = doc_a
         JOIN sizes sb ON sb.doc_id = doc_b
         WHERE c*1.0 / (sa.sz + sb.sz - c) >= 0.1),
       edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
                 UNION SELECT doc_b, doc_a FROM pairs),
       walk(a, b) AS (
         SELECT a, b FROM edges
         UNION
         SELECT w.a, e.b FROM walk w JOIN edges e ON w.b = e.a),
       labels AS (SELECT a AS doc_id, least(min(b), a) AS cluster_id
                  FROM walk GROUP BY a)
       SELECT cluster_id, doc_id,
              CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
              doc_id = cluster_id AS is_survivor
       FROM labels"""

  // --------------------------------------- content-hash train/val/test split
  // Deterministic corpus splitting keyed on CONTENT (the rolling token
  // fingerprint), not on doc_id: the assignment survives re-ingestion and
  // re-identification — the standard curation practice for training
  // corpora. 80/10/10; fully replayed by the oracle since the fingerprint
  // is engine-portable.
  private val t13: Q = (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"),
        (rollingFingerprint(tokens(col("text"))) % 100).as("bucket"))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "validation")
          .otherwise("test"))

  private val t13Sql =
    s"""SELECT doc_id, fp % 100 AS bucket,
       CASE WHEN fp % 100 < 80 THEN 'train'
            WHEN fp % 100 < 90 THEN 'validation'
            ELSE 'test' END AS split
       FROM (SELECT doc_id, $sqlFingerprint AS fp FROM documents)"""

  // --------------------------------------------------------------- TF-IDF
  // The canonical term-weighting op: tf(doc, term) × ln(N / df(term)),
  // top-3 terms per document ranked by the ROUNDED weight with a term
  // tiebreak (so 5dp ties order identically cross-engine). Scale shape:
  // tf and df are two shuffles over (term[, doc]) count keys; N broadcast.
  //
  // Round 14: the operators/TfIdf dispatch. Natural-language vocabularies
  // are tiny next to their corpora (sf1: 310 terms over 2.7M tokens), so
  // the df table collapses into a broadcast idf hash map and the whole
  // scoring + per-doc top-k runs as ONE codegen'd row-local kernel over a
  // narrow corpus scan — no token-stream exchange, no corpus-sized window
  // sort (the round-13 profile blamed exactly those: the token
  // materialization pass + per-exchange floors). The relational plan
  // (round 13's shape) survives as the in-operator fallback for
  // vocabularies beyond the driver cap, and TfIdfSpec pins the two plans'
  // equivalence.
  private val t14: Q = (s, dir) =>
    graft.operators.TfIdf.topTerms(t(s, dir, "documents"),
      "doc_id", "text", k = 3)

  private val t14Sql =
    s"""WITH toks AS (SELECT doc_id, unnest($sqlToks) AS term FROM documents),
       tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
       dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
       n AS (SELECT count(*) AS n_docs FROM documents),
       scored AS (
         SELECT tf.doc_id, tf.term,
                round(tf.tf * ln(n.n_docs * 1.0 / dfreq.df) + 1e-9, 5) AS tfidf
         FROM tf JOIN dfreq USING (term), n),
       ranked AS (
         SELECT *, row_number() OVER (PARTITION BY doc_id
                     ORDER BY tfidf DESC, term) AS rnk
         FROM scored)
       SELECT doc_id, CAST(rnk AS INT) AS rnk, term, tfidf
       FROM ranked WHERE rnk <= 3"""

  // --------------------------------------------------------- PII redaction
  // The minimum-viable scrub before any training run. The synthetic corpus
  // carries no PII, so the query PLANTS deterministic emails/phones derived
  // from doc_id and both engines replay the construction + redaction —
  // regexes restricted to the Java-regex ∩ RE2 common subset (no
  // lookaround/backrefs), so Spark and DuckDB match identically.
  private val t15: Q = (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@mail.example.com or ("),
          lit("555) 010-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
          .as("aug"))
      .select(col("doc_id"),
        regexp_count(col("aug"), lit(graft.functions.TextFunctions.EmailRe))
          .cast("long").as("n_emails"),
        regexp_count(col("aug"), lit(graft.functions.TextFunctions.PhoneRe))
          .cast("long").as("n_phones"),
        graft.functions.TextFunctions.redactPii(col("aug")).as("redacted"))

  private val t15Sql =
    """WITH aug AS (
         SELECT doc_id,
                text || ' contact user' || doc_id || '@mail.example.com or (' ||
                '555) 010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS aug
         FROM documents)
       SELECT doc_id,
              CAST(len(regexp_extract_all(aug,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
                AS n_emails,
              CAST(len(regexp_extract_all(aug,
                '\(\d{3}\) \d{3}-\d{4}')) AS BIGINT) AS n_phones,
              regexp_replace(
                regexp_replace(aug,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                '\(\d{3}\) \d{3}-\d{4}', '[PHONE]', 'g') AS redacted
       FROM aug"""

  // ------------------------------------------------ benchmark contamination
  // Deterministic "eval set" = doc_id ≡ 5 (mod 20) — chosen so the
  // corpus's planted near-dups straddle the train/eval boundary and the
  // query provably FINDS contamination (non-empty at sf0.01). A training
  // doc is contaminated if it shares any word 8-gram with an eval doc.
  // Oracle replays the cross-set inverted-index join with the t07 list
  // machinery.
  private val t16: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    Dedup.contamination(
      docs.where(col("doc_id") % 20 =!= 5),
      docs.where(col("doc_id") % 20 === 5),
      "doc_id", "text", shingleN = 8)
  }

  private val t16Sql =
    s"""WITH sets AS (
         SELECT doc_id, list_distinct(list_transform(
           generate_series(1, greatest(len(toks) - 7, 1)),
           i -> array_to_string(toks[i:i+7], ' '))) AS sh
         FROM (SELECT doc_id, $sqlToks AS toks FROM documents)),
       posts AS (SELECT doc_id, unnest(sh) AS shingle FROM sets)
       SELECT tr.doc_id AS train_doc, be.doc_id AS bench_doc,
              count(*) AS n_shared
       FROM posts tr JOIN posts be ON tr.shingle = be.shingle
       WHERE tr.doc_id % 20 <> 5 AND be.doc_id % 20 = 5
       GROUP BY 1, 2"""

  // ------------------------------------------------- repetition filtering
  // Gopher-style within-document repetition signal: the fraction of word
  // 3-gram occurrences that are duplicates of an earlier occurrence in
  // the SAME document (0 = no internal repetition, →1 = the document
  // loops). Pure per-row array math — zero shuffle, row-parallel; the
  // filter verdict at the standard 0.3 cutoff rides along.
  private val t17: Q = (s, dir) => {
    // tokens materialized through a projection before shingling — the
    // shingle lambda captures its token-array argument (see
    // Dedup.jaccardPostings)
    val sh = shingles(col("__toks"), 3)
    t(s, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("__toks"))
      .select(col("doc_id"),
        size(sh).cast("long").as("n_grams"),
        size(array_distinct(sh)).cast("long").as("n_distinct"))
      .select(col("doc_id"), col("n_grams"),
        round((col("n_grams") - col("n_distinct")).cast("double") /
          greatest(col("n_grams"), lit(1L)).cast("double") + 1e-9, 4)
          .as("dup_gram_ratio"))
      .withColumn("keep", col("dup_gram_ratio") < 0.3)
  }

  private val t17Sql =
    s"""WITH sets AS (
         SELECT doc_id, list_transform(
           generate_series(1, greatest(len(toks) - 2, 1)),
           i -> array_to_string(toks[i:i+2], ' ')) AS sh
         FROM (SELECT doc_id, $sqlToks AS toks FROM documents))
       SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_grams,
              round((len(sh) - len(list_distinct(sh)))*1.0 /
                greatest(len(sh), 1) + 1e-9, 4) AS dup_gram_ratio,
              round((len(sh) - len(list_distinct(sh)))*1.0 /
                greatest(len(sh), 1) + 1e-9, 4) < 0.3 AS keep
       FROM sets"""

  // ---------------------------------------------- sequence packing (t18)
  // Concat-and-chop packing of the corpus into 2048-token training
  // sequences (operators.Packing): shard = first md5 hex char of the id
  // (16 shards, portable), order = doc_id, running token sum chopped at
  // the budget. The oracle replays the identical placement in DuckDB —
  // packing is a pure function of (shard, order, token counts).
  private val t18: Q = (s, dir) =>
    graft.operators.Packing.pack(
      t(s, dir, "documents").select(col("doc_id"), col("text")),
      "doc_id",
      size(tokens(col("text"))),
      budget = 2048,
      shard = substring(md5(col("doc_id").cast("string")), 1, 1))

  private val t18Sql =
    s"""WITH toks AS (
         SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
                CAST(len($sqlToks) AS INT) AS n_tokens
         FROM documents),
       cum AS (
         SELECT doc_id, shard, n_tokens,
                CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
                  AS BIGINT) AS end_off
         FROM toks)
       SELECT doc_id, shard, n_tokens,
              end_off - n_tokens AS start_off,
              (end_off - n_tokens) // 2048 AS first_seq,
              (end_off - 1) // 2048 AS last_seq,
              ((end_off - 1) // 2048) - ((end_off - n_tokens) // 2048) + 1
                AS n_seqs
       FROM cum"""

  // ----------------------------------------- stratified sampling (t19)
  // Exactly 30 docs per language, chosen by md5-of-id rank
  // (operators.Sampling): seedless, partitioning-independent, replayable —
  // the reproducible-eval-split sampler. The scale path (hash-prefix
  // prefilter before the per-stratum window) is exercised in LlmOpsSpec;
  // the gate query takes the naive path so the oracle stays one window.
  private val t19: Q = (s, dir) =>
    graft.operators.Sampling.stratified(
      t(s, dir, "documents").select(col("doc_id"), col("lang")),
      Seq("lang"), k = 30, idCol = "doc_id")
      .select(col("lang"), col("rnk"), col("doc_id"))

  private val t19Sql =
    """SELECT lang, CAST(rnk AS INT) AS rnk, doc_id FROM (
         SELECT lang, doc_id,
                row_number() OVER (PARTITION BY lang
                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
         FROM documents) WHERE rnk <= 30"""

  // ------------------------------------------ global corpus shuffle (t20)
  // Deterministic training-order permutation (operators.CorpusShuffle):
  // position = rank in (md5(doc_id), doc_id) order, computed with sharded
  // ranks + broadcast offsets instead of a global window. The oracle IS
  // the naive global window — proving the distributed scheme equals it.
  private val t20: Q = (s, dir) =>
    graft.operators.CorpusShuffle.permutation(
      t(s, dir, "documents").select(col("doc_id"), col("lang")), "doc_id")

  private val t20Sql =
    """SELECT doc_id, lang,
              row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                AS pos
       FROM documents"""

  // --------------------------------------------- document chunking (t21)
  // Sliding 64-token windows advancing by 48 (16-token overlap) — the
  // RAG/embedding-index chunker (operators.Chunking). Zero-shuffle per-row
  // fan-out; the oracle replays boundaries with generate_series + list
  // slicing.
  private val t21: Q = (s, dir) =>
    graft.operators.Chunking.chunk(
      t(s, dir, "documents").select(col("doc_id"), col("text")),
      "doc_id", "text", chunkTokens = 64, stride = 48)

  private val t21Sql =
    s"""WITH toks AS (SELECT doc_id, $sqlToks AS toks FROM documents),
       base AS (
         SELECT doc_id, toks,
                (greatest(len(toks) - 64, 0) + 47) // 48 + 1 AS n_chunks
         FROM toks),
       idx AS (
         SELECT doc_id, toks,
                unnest(generate_series(0, n_chunks - 1)) AS ci
         FROM base)
       SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
              CAST(len(toks[ci*48 + 1 : ci*48 + 64]) AS INT) AS n_chunk_tokens,
              array_to_string(toks[ci*48 + 1 : ci*48 + 64], ' ') AS chunk_text
       FROM idx"""

  // ---------------------------------- sub-document block dedup (t22)
  // C4-style paragraph-level exact dedup on a 20-token block grid
  // (Dedup.blockDedup): first global occurrence of a block survives, every
  // later occurrence counts against its document's boilerplate profile.
  private val t22: Q = (s, dir) =>
    Dedup.blockDedup(t(s, dir, "documents"), "doc_id", "text", blockTokens = 20)

  private val t22Sql =
    s"""WITH toks AS (SELECT doc_id, $sqlToks AS toks FROM documents),
       base AS (
         SELECT doc_id, toks,
                (greatest(len(toks) - 20, 0) + 19) // 20 + 1 AS n_chunks
         FROM toks),
       idx AS (
         SELECT doc_id, toks,
                unnest(generate_series(0, n_chunks - 1)) AS bi
         FROM base),
       blocks AS (
         SELECT doc_id, bi,
                len(toks[bi*20 + 1 : bi*20 + 20]) AS n_tokens,
                md5(array_to_string(toks[bi*20 + 1 : bi*20 + 20], ' ')) AS h
         FROM idx),
       marked AS (
         SELECT doc_id, n_tokens,
                row_number() OVER (PARTITION BY h ORDER BY doc_id, bi) > 1
                  AS is_dup
         FROM blocks)
       SELECT doc_id, count(*) AS n_blocks,
              CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
                AS n_dup_blocks,
              round(sum(CASE WHEN is_dup THEN n_tokens ELSE 0 END) * 1.0
                / sum(n_tokens) + 1e-9, 4) AS dup_token_ratio
       FROM marked GROUP BY doc_id"""

  // ------------------------------------- domain-mixture sampling (t23)
  // Token-budget data mixing (operators.Mixture): English capped at 4000
  // tokens, every other language at 1500 — the pretraining mixture step.
  // Selection order is md5-of-id, so the pick replays in DuckDB.
  private val t23: Q = (s, dir) =>
    graft.operators.Mixture.byTokenBudget(
      t(s, dir, "documents"), Seq("lang"), "doc_id",
      size(tokens(col("text"))).cast("long"),
      when(col("lang") === "en", 4000L).otherwise(1500L))

  private val t23Sql =
    s"""WITH toks AS (
         SELECT doc_id, lang, CAST(len($sqlToks) AS BIGINT) AS n_tokens
         FROM documents),
       cum AS (
         SELECT lang, doc_id, n_tokens,
                sum(n_tokens) OVER (PARTITION BY lang
                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS end_off
         FROM toks)
       SELECT lang, doc_id, n_tokens,
              CAST(end_off - n_tokens AS BIGINT) AS start_off
       FROM cum
       WHERE end_off - n_tokens <
             CASE WHEN lang = 'en' THEN 4000 ELSE 1500 END"""

  // ------------------------------------ heuristic filter rules (t24)
  // Gopher/C4-style hard-filter bundle, distinct from t04's weighted
  // score: four named rules → a bitmask + keep verdict. All per-row array
  // math, zero shuffle. The rule definitions live ONCE in
  // TextFunctions.ruleMetrics/ruleMask (shared with t25's stage 1); the
  // SQL preds below are their one-to-one oracle mirror (shared with
  // t25Sql the same way).
  private val t24: Q = (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"), ruleMetrics(col("text")).as("m"))
      .select(col("doc_id"),
        col("m.n_tokens").as("n_tokens"),
        round(col("m.mwl") + 1e-9, 4).as("mean_word_len"),
        round(col("m.uniq") + 1e-9, 4).as("uniq_ratio"),
        col("m.n_stopwords").as("n_stopwords"),
        ruleMask(col("m")).as("rule_mask"))
      .withColumn("keep", col("rule_mask") === 15)

  /** The four rule predicates over a `toks`/`text` relation — the DuckDB
    * mirror of TextFunctions.ruleMask, string-shared by t24Sql and t25Sql.
    */
  private val rp1 = "CAST(len(toks) AS BIGINT) BETWEEN 30 AND 5000"
  private val rp2 =
    """length(regexp_replace(text, '\s+', '', 'g')) * 1.0 / len(toks)
       BETWEEN 2.5 AND 8.0"""
  private val rp3 = "len(list_filter(toks, x -> x IN ('the', 'a'))) >= 2"
  private val rp4 = "len(list_distinct(toks)) * 1.0 / len(toks) >= 0.3"

  private val t24Sql =
    s"""WITH toks AS (SELECT doc_id, text, $sqlToks AS toks FROM documents)
       SELECT doc_id,
              CAST(len(toks) AS BIGINT) AS n_tokens,
              round(length(regexp_replace(text, '\\s+', '', 'g')) * 1.0
                / len(toks) + 1e-9, 4) AS mean_word_len,
              round(len(list_distinct(toks)) * 1.0 / len(toks) + 1e-9, 4)
                AS uniq_ratio,
              CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS BIGINT)
                AS n_stopwords,
              CAST((CASE WHEN $rp1 THEN 1 ELSE 0 END)
                 + (CASE WHEN $rp2 THEN 2 ELSE 0 END)
                 + (CASE WHEN $rp3 THEN 4 ELSE 0 END)
                 + (CASE WHEN $rp4 THEN 8 ELSE 0 END) AS INT) AS rule_mask,
              ($rp1 AND $rp2 AND $rp3 AND $rp4) AS keep
       FROM toks"""

  // --------------------------- end-to-end curation pipeline (t25)
  // The whole point of the t-family, composed: heuristic filter rules
  // (t24) → exact dedup survivors (t01) → boilerplate drop via block
  // dedup profile (t22, ratio ≤ 0.2) → domain mixture to token budgets
  // (t23, en 3000 / others 1000) → sequence packing (t18). One query a
  // user runs to turn a raw corpus into packed training sequences; every
  // stage is the already-oracle-proven operator, and the oracle replays
  // the full chain as one CTE pipeline. Stage shuffles are the components'
  // own (documented per-stage in §8); nothing is recomputed — each stage
  // feeds the next as a plain DataFrame.
  private val t25: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    // stage 1: hard filter rules — the SAME TextFunctions bundle t24
    // reports on; n_tokens is computed here once and reused by every
    // later stage (the text is never re-tokenized)
    val kept = docs
      .withColumn("m", ruleMetrics(col("text")))
      .where(ruleMask(col("m")) === 15)
      .withColumn("n_tokens", col("m.n_tokens"))
      .drop("m")
    // stage 2: exact dedup — keep the min-id copy of identical texts
    val exactSurvivors = kept
      .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      .join(kept, Seq("doc_id", "text"))
    // stage 3: drop boilerplate-heavy docs (block-dedup profile; the
    // ratio compared is blockDedup's ROUNDED output — the oracle rounds
    // identically, so the 0.2 boundary cannot diverge cross-engine)
    val profiled = Dedup
      .blockDedup(exactSurvivors, "doc_id", "text", blockTokens = 20)
      .where(col("dup_token_ratio") <= 0.2)
      .select(col("doc_id"))
      .join(exactSurvivors, Seq("doc_id"))
    // stage 4: realize the target language mixture
    val mixed = graft.operators.Mixture.byTokenBudget(
      profiled, Seq("lang"), "doc_id", col("n_tokens"),
      when(col("lang") === "en", 3000L).otherwise(1000L))
    // stage 5: pack into 2048-token training sequences (placement needs
    // only ids + token counts — the text stays behind)
    graft.operators.Packing.pack(
      mixed.select(col("doc_id"), col("n_tokens")), "doc_id",
      col("n_tokens"), budget = 2048,
      shard = substring(md5(col("doc_id").cast("string")), 1, 1))
  }

  private val t25Sql =
    s"""WITH toks AS (
         SELECT doc_id, lang, text, $sqlToks AS toks FROM documents),
       kept AS (
         SELECT doc_id, lang, text, toks,
                CAST(len(toks) AS BIGINT) AS n_tokens
         FROM toks
         WHERE $rp1 AND $rp2 AND $rp3 AND $rp4),
       exact_surv AS (
         SELECT * FROM kept
         WHERE doc_id IN (SELECT min(doc_id) FROM kept GROUP BY text)),
       base AS (
         SELECT doc_id, lang, text, toks, n_tokens,
                (greatest(len(toks) - 20, 0) + 19) // 20 + 1 AS n_chunks
         FROM exact_surv),
       idx AS (
         SELECT doc_id, toks,
                unnest(generate_series(0, n_chunks - 1)) AS bi
         FROM base),
       blocks AS (
         SELECT doc_id, bi, len(toks[bi*20 + 1 : bi*20 + 20]) AS bt,
                md5(array_to_string(toks[bi*20 + 1 : bi*20 + 20], ' ')) AS h
         FROM idx),
       marked AS (
         SELECT doc_id, bt,
                row_number() OVER (PARTITION BY h ORDER BY doc_id, bi) > 1
                  AS is_dup
         FROM blocks),
       prof AS (
         SELECT doc_id FROM marked GROUP BY doc_id
         HAVING round(sum(CASE WHEN is_dup THEN bt ELSE 0 END) * 1.0
                  / sum(bt) + 1e-9, 4) <= 0.2),
       profiled AS (
         SELECT b.* FROM base b JOIN prof USING (doc_id)),
       cum AS (
         SELECT doc_id, lang, n_tokens,
                sum(n_tokens) OVER (PARTITION BY lang
                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS end_off
         FROM profiled),
       mixed AS (
         SELECT doc_id, n_tokens FROM cum
         WHERE end_off - n_tokens <
               CASE WHEN lang = 'en' THEN 3000 ELSE 1000 END),
       sharded AS (
         SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
                CAST(n_tokens AS BIGINT) AS n_tokens,
                CAST(sum(n_tokens) OVER (PARTITION BY
                    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                  ORDER BY doc_id) AS BIGINT) AS end_off
         FROM mixed)
       SELECT doc_id, shard, n_tokens,
              end_off - n_tokens AS start_off,
              (end_off - n_tokens) // 2048 AS first_seq,
              (end_off - 1) // 2048 AS last_seq,
              ((end_off - 1) // 2048) - ((end_off - n_tokens) // 2048) + 1
                AS n_seqs
       FROM sharded"""

  // --------------------- unigram-LM perplexity filtering (t26)
  // The CCNet-style statistical language-model filter: fit a unigram LM
  // on the corpus itself (one term aggregation), score each document by
  // its mean negative log-likelihood, flag the high-perplexity tail.
  // Scale shape: one shuffle builds the term table (at gate scale it
  // broadcasts back; at 100 TB the explode→term join shuffles on the
  // term key with count-only payload), one doc-keyed aggregation scores.
  // The keep verdict compares the ROUNDED score on both engines (the
  // t25 boundary rule); ln() is libm-backed in both engines and the 4dp
  // round + 1e-9 nudge dwarfs any 1-ulp divergence (the v03 argument).
  private val t26: Q = (s, dir) => {
    val toksL = t(s, dir, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val tf = toksL.groupBy(col("term")).agg(count(lit(1)).as("tf"))
    val total = tf.agg(sum(col("tf")).as("total"))
    toksL
      .join(broadcast(tf), Seq("term"))
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(-log(col("tf").cast("double") / col("total"))) + 1e-9, 4)
          .as("nll"))
      .withColumn("keep", col("nll") <= 3.45)
  }

  private val t26Sql =
    s"""WITH toksl AS (
         SELECT doc_id, unnest($sqlToks) AS term FROM documents),
       tf AS (SELECT term, count(*) AS tf FROM toksl GROUP BY term),
       tot AS (SELECT sum(tf) AS total FROM tf),
       sc AS (
         SELECT doc_id, count(*) AS n_tokens,
                round(avg(-ln(tf * 1.0 / total)) + 1e-9, 4) AS nll
         FROM toksl JOIN tf USING (term) CROSS JOIN tot
         GROUP BY doc_id)
       SELECT doc_id, n_tokens, nll, nll <= 3.45 AS keep FROM sc"""

  // --------------------- incremental near-dup vs an existing corpus (t27)
  // The nightly-ingest dedup shape: docs 0-249 are the "existing" corpus,
  // 250+ the incoming batch; a batch doc is flagged if it near-dups the
  // corpus or a lower-id batch doc. The engine never self-pairs the
  // corpus (batch-side postings join the combined index); the oracle
  // replays the t07 pair CTEs and simply EXCLUDES corpus-internal pairs —
  // valid because the fixture's corpus ids all precede the batch ids, so
  // pair orientation (doc_a < doc_b) always puts the source first.
  private val t27: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    Dedup.incrementalJaccard(
      docs.where(col("doc_id") < 250), docs.where(col("doc_id") >= 250),
      "doc_id", "text", threshold = 0.1, shingleN = 3, maxDf = t07MaxDf)
  }

  private val t27Sql =
    s"""WITH $t07PairCtes,
       pairs AS (
         SELECT doc_a, doc_b FROM inter
         JOIN sizes sa ON sa.doc_id = doc_a
         JOIN sizes sb ON sb.doc_id = doc_b
         WHERE c*1.0 / (sa.sz + sb.sz - c) >= 0.1
           AND doc_b >= 250)
       SELECT b.doc_id,
              count(p.doc_a) AS n_dup_sources,
              min(p.doc_a) AS dup_of,
              count(p.doc_a) > 0 AS is_dup
       FROM (SELECT doc_id FROM documents WHERE doc_id >= 250) b
       LEFT JOIN pairs p ON p.doc_b = b.doc_id
       GROUP BY b.doc_id"""

  // ------------------- STAGED incremental near-dup from persisted tables (t28)
  // The production nightly shape — LARGE existing corpus, small incoming
  // batch (the last 250 doc_ids; t27's half/half split inverts that ratio
  // at sf>0.01 and would mostly measure batch-side work). The corpus's
  // postings/df/meta tables are staged to disk ONCE (per sf dir — cached,
  // so bench reps and the warm pass amortize it exactly like a real
  // ingest would) and the timed query is only the batch-proportional
  // nightly path. Verdict-identical to the unstaged operator on the same
  // split by the staged equivalence law (LlmOpsSpec); at sf0.01 the
  // documents table has exactly 500 docs, so the split is 250 and the
  // computed oracle mirrors t27's CTEs with the split taken from the data.
  private val t28: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    // scalar driver read (parquet-stats-cheap): the batch is the last 250
    // ids regardless of corpus scale
    val split = docs.agg(max(col("doc_id"))).head().getLong(0) - 249L
    val stagedDir = graft.Staged.once(("t28", dir)) {
      val out = graft.Staged.dir("graft_staged_")
      Dedup.stageJaccardPostings(docs.where(col("doc_id") < split),
        "doc_id", "text", shingleN = 3, maxDf = t07MaxDf).write(out)
      out
    }
    Dedup.incrementalJaccardStaged(Dedup.StagedPostings.read(s, stagedDir),
      docs.where(col("doc_id") >= split), "doc_id", "text", threshold = 0.1)
  }

  // t27Sql with the split computed from the data instead of the constant
  // 250 (same CTEs: the combined df-cap over corpus ∪ batch is the cap
  // over the full table, whatever the split)
  private val t28Sql =
    s"""WITH $t07PairCtes,
       split AS (SELECT max(doc_id) - 249 AS s FROM documents),
       pairs AS (
         SELECT doc_a, doc_b FROM inter
         JOIN sizes sa ON sa.doc_id = doc_a
         JOIN sizes sb ON sb.doc_id = doc_b
         WHERE c*1.0 / (sa.sz + sb.sz - c) >= 0.1
           AND doc_b >= (SELECT s FROM split))
       SELECT b.doc_id,
              count(p.doc_a) AS n_dup_sources,
              min(p.doc_a) AS dup_of,
              count(p.doc_a) > 0 AS is_dup
       FROM (SELECT doc_id FROM documents
             WHERE doc_id >= (SELECT max(doc_id) - 249 FROM documents)) b
       LEFT JOIN pairs p ON p.doc_b = b.doc_id
       GROUP BY b.doc_id"""

  // ------------------------- sketch-prefiltered exact heavy hitters (t30)
  // The corpus-stats shape at 100 TB: which word bigrams carry >= 0.1% of
  // all bigram mass? The naive plan shuffles the whole vocabulary; the
  // operator builds a fixed-size CountMinSketch in one pass (no false
  // negatives — estimates only overcount) and shuffles ONLY plausibly-
  // heavy keys, with the exact post-aggregation filter removing the
  // sketch's false positives. The output is exact, so the oracle is the
  // plain GROUP BY + HAVING it replaces.
  private val t30: Q = (s, dir) =>
    graft.operators.Sketch.heavyHittersByShare(
      t(s, dir, "documents")
        .select(tokens(col("text")).as("__toks"))
        .select(explode(shingles(col("__toks"), 2)).as("shingle")),
      "shingle", minShare = 0.001)

  private val t30Sql =
    s"""WITH sets AS (
         SELECT list_transform(
           generate_series(1, greatest(len(toks) - 1, 1)),
           i -> array_to_string(toks[i:i+1], ' ')) AS sh
         FROM (SELECT $sqlToks AS toks FROM documents)),
       toksl AS (SELECT unnest(sh) AS shingle FROM sets),
       tot AS (SELECT count(*) AS n FROM toksl),
       cnt AS (SELECT shingle, count(*) AS cnt FROM toksl GROUP BY shingle)
       SELECT shingle, cnt,
              round(cnt * 1.0 / (SELECT n FROM tot) + 1e-9, 6) AS share
       FROM cnt
       WHERE cnt >= ceil((SELECT n FROM tot) * 0.001)"""

  // --------------------- Bloom-prefiltered exact decontamination (t31)
  // t16's contamination semantics, restated as the TRAINING-SIDE verdict a
  // pipeline acts on (keep/drop per train doc) and executed with the 100 TB
  // access pattern: the benchmark shingle set compresses to a fixed-size
  // Bloom filter, the train corpus's postings are prefiltered AT THE SCAN
  // (a Bloom miss PROVES the shingle is clean — no false negatives), and
  // only the surviving sliver reaches the exact semi join that removes
  // Bloom false positives. Train docs never shuffle on their misses.
  private val t31: Q = (s, dir) => {
    val posts = t(s, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("__toks"))
      .select(col("doc_id"), explode(shingles(col("__toks"), 8)).as("shingle"))
    val trainPosts = posts.where(col("doc_id") % 20 =!= 5)
    val benchShingles = posts.where(col("doc_id") % 20 === 5)
      .select(col("shingle")).distinct()
    val hitDocs = graft.operators.Sketch
      .bloomJoin(trainPosts, benchShingles, "shingle", "semi",
        expectedKeys = 100000L)
      .select(col("doc_id")).distinct()
      .withColumn("contaminated", lit(true))
    t(s, dir, "documents").where(col("doc_id") % 20 =!= 5)
      .select(col("doc_id"))
      .join(hitDocs, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("contaminated"), lit(false)).as("contaminated"))
  }

  private val t31Sql =
    s"""WITH sets AS (
         SELECT doc_id, list_distinct(list_transform(
           generate_series(1, greatest(len(toks) - 7, 1)),
           i -> array_to_string(toks[i:i+7], ' '))) AS sh
         FROM (SELECT doc_id, $sqlToks AS toks FROM documents)),
       posts AS (SELECT doc_id, unnest(sh) AS shingle FROM sets),
       bsh AS (SELECT DISTINCT shingle FROM posts WHERE doc_id % 20 = 5),
       hits AS (SELECT DISTINCT p.doc_id FROM posts p
                JOIN bsh USING (shingle) WHERE p.doc_id % 20 <> 5)
       SELECT d.doc_id, (h.doc_id IS NOT NULL) AS contaminated
       FROM (SELECT doc_id FROM documents WHERE doc_id % 20 <> 5) d
       LEFT JOIN hits h USING (doc_id)"""

  // ------------------------- content-defined chunk dedup (t32)
  // Substring-granularity exact dedup (Dedup.cdcDedup): rolling-hash
  // chunk boundaries (Mod61 field, divisor 20 ≈ expected chunk length)
  // re-synchronize on shared spans regardless of preceding content, so
  // boilerplate shifted by a few tokens dedups where t22's fixed grid
  // misses it (the law lives in LlmOpsSpec). The oracle replays every
  // boundary: per-token hash61, the 3-token window hash via lag(), chunk
  // ids as a boundary prefix-sum, then t22's first-occurrence profile.
  private val t32: Q = (s, dir) =>
    Dedup.cdcDedup(t(s, dir, "documents"), "doc_id", "text",
      avgChunkTokens = 20)

  /** The chunk-boundary replay CTE chain shared by the t32 whole-corpus
    * oracle and the t35/s13 incremental oracles (ends with `marked`: one
    * row per chunk occurrence with its global first-occurrence `is_dup`
    * flag; a consumer rolls up per doc, optionally filtered to a batch).
    */
  private val t32MarkedCtes =
    s"""toks AS (SELECT doc_id, $sqlToks AS toks FROM documents),
       idx AS (SELECT doc_id, unnest(generate_series(1, len(toks))) AS i,
                      toks FROM toks),
       tokc AS (SELECT doc_id, i, toks[i] AS tok FROM idx),
       xs AS (SELECT doc_id, i, tok, ${hash61Sql("tok")} AS x FROM tokc),
       hs AS (SELECT doc_id, i, tok,
                (coalesce(lag(x, 2) OVER w, 0)*17161
                 + coalesce(lag(x, 1) OVER w, 0)*131 + x) % $P61 AS h
              FROM xs WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
       cid AS (SELECT doc_id, i, tok,
                 coalesce(sum(CASE WHEN h % 20 = 0 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY i
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS ci
               FROM hs),
       chunks AS (SELECT doc_id, ci, count(*) AS n_tokens,
                    md5(string_agg(tok, ' ' ORDER BY i)) AS h
                  FROM cid GROUP BY doc_id, ci),
       marked AS (SELECT doc_id, n_tokens,
                    row_number() OVER (PARTITION BY h ORDER BY doc_id, ci) > 1
                      AS is_dup
                  FROM chunks)"""

  /** Per-doc rollup over `marked` — the shared tail of the three CDC
    * oracles (`where` filters the profiled docs, not the dup ranking:
    * first-occurrence survivors stay global).
    */
  private def t32ProfileSql(where: String): String =
    s"""SELECT doc_id, count(*) AS n_chunks,
              CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
                AS n_dup_chunks,
              round(sum(CASE WHEN is_dup THEN n_tokens ELSE 0 END) * 1.0
                / sum(n_tokens) + 1e-9, 4) AS dup_token_ratio
       FROM marked $where GROUP BY doc_id"""

  private val t32Sql = s"WITH $t32MarkedCtes ${t32ProfileSql("")}"

  // --------------------- prefix-filtered exact Jaccard, uncapped (t33)
  // PPJoin/AllPairs prefix filtering (Dedup.ppjoinPairs): the FULL
  // uncapped Jaccard — no maxDf semantic change — with hot shingles kept
  // out of the join by the rarest-first prefix ordering instead of being
  // dropped. The oracle is deliberately the INDEPENDENT naive all-pairs
  // join (not a prefix replay): a hash match proves the prefix filter
  // lost nothing.
  private val t33: Q = (s, dir) =>
    Dedup.ppjoinPairs(t(s, dir, "documents"), "doc_id", "text",
      threshold = 0.5, shingleN = 3,
      inputPartitions = s.sparkContext.defaultParallelism)
      .select(col("doc_a"), col("doc_b"),
        round(col("jaccard") + 1e-9, 4).as("jaccard"))

  private val t33Sql =
    s"""WITH sets AS (
         SELECT doc_id, list_distinct(list_transform(
           generate_series(1, greatest(len(toks) - 2, 1)),
           i -> array_to_string(toks[i:i+2], ' '))) AS sh
         FROM (SELECT doc_id, $sqlToks AS toks FROM documents)),
       posts AS (SELECT doc_id, unnest(sh) AS shingle FROM sets),
       sizes AS (SELECT doc_id, count(*) AS sz FROM posts GROUP BY doc_id),
       inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
                 FROM posts a JOIN posts b ON a.shingle = b.shingle
                 WHERE a.doc_id < b.doc_id
                 GROUP BY a.doc_id, b.doc_id)
       SELECT doc_a, doc_b,
              round(c*1.0 / (sa.sz + sb.sz - c) + 1e-9, 4) AS jaccard
       FROM inter
       JOIN sizes sa ON sa.doc_id = doc_a
       JOIN sizes sb ON sb.doc_id = doc_b
       WHERE c*1.0 / (sa.sz + sb.sz - c) >= 0.5"""

  // ---------------------- DSIR importance resampling (t34)
  // Data Selection via Importance Resampling (Xie et al. 2023): pick the
  // raw-pool docs whose hashed unigram+bigram distribution is most
  // target-like. Target = the French documents (a small, distributionally
  // distinct slice); raw = the whole corpus; k = top 20%. Every stage is
  // replayed below: Mod61 bucket hashing, Laplace-smoothed log-ratios,
  // per-doc weight, the hash61-derived Gumbel key, the rank and the
  // selection boundary (ties at equal 4dp key break by doc_id in both
  // engines).
  private val t34Buckets = 8192
  private val t34: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val k = docs.count() / 5
    graft.operators.Dsir.select(
      docs.where(col("lang") === "fr"), docs, "doc_id", "text",
      k = k, buckets = t34Buckets)
  }

  private val t34Sql =
    s"""WITH tk AS (SELECT doc_id, $sqlToks AS toks FROM documents),
       grams AS (
         SELECT doc_id, unnest(list_concat(toks,
           list_transform(generate_series(1, len(toks) - 1),
             i -> toks[i] || ' ' || toks[i+1]))) AS g
         FROM tk),
       hb AS (SELECT doc_id,
                CAST(${hash61Sql("g")} % $t34Buckets AS BIGINT) AS b
              FROM grams),
       tt AS (SELECT count(*) AS n FROM hb JOIN documents USING (doc_id)
              WHERE lang = 'fr'),
       rt AS (SELECT count(*) AS n FROM hb),
       tc AS (SELECT b, count(*) AS c FROM hb JOIN documents USING (doc_id)
              WHERE lang = 'fr' GROUP BY b),
       rc AS (SELECT b, count(*) AS c FROM hb GROUP BY b),
       ratio AS (
         SELECT rc.b,
           ln((coalesce(tc.c, 0) + 1) * 1.0 / (tt.n + $t34Buckets)) -
           ln((rc.c + 1) * 1.0 / (rt.n + $t34Buckets)) AS lr
         FROM rc LEFT JOIN tc USING (b) CROSS JOIN tt CROSS JOIN rt),
       sc AS (SELECT doc_id, count(*) AS n_grams, sum(lr) AS raw
              FROM hb JOIN ratio USING (b) GROUP BY doc_id),
       ky AS (SELECT doc_id, n_grams,
                round(raw + 1e-9, 4) AS logw,
                round(raw - ln(-ln(
                  (CAST(${hash61Sql("CAST(doc_id AS VARCHAR)")} AS DOUBLE) + 0.5)
                    / $P61)) + 1e-9, 4) AS sel_key
              FROM sc),
       rk AS (SELECT *, row_number() OVER (ORDER BY sel_key DESC, doc_id)
                AS sel_rank FROM ky)
       SELECT doc_id, n_grams, logw, sel_key, sel_rank,
              sel_rank <= (SELECT count(*) // 5 FROM documents) AS selected
       FROM rk"""

  // ------------------ incremental CDC substring dedup (t35)
  // The nightly-ingest form of t32 (Dedup.cdcDedupIncremental): the corpus
  // (all but the last 250 doc_ids) is chunked ONCE into a persisted
  // distinct chunk-hash store; the timed query flags only the batch
  // against it. Because corpus ids precede batch ids, the verdicts equal
  // the whole-corpus t32 restricted to batch docs — so the oracle is the
  // t32 boundary replay with the profile filtered to the batch (the dup
  // ranking stays global).

  /** t35's persisted corpus chunk store for `dir` (idempotent): the
    * distinct chunk hashes of every doc below max(doc_id) - 249.
    */
  private[graft] def stagedCdcDir(s: SparkSession, dir: String): String =
    graft.Staged.once(("t35", dir)) {
      val docs = t(s, dir, "documents")
      val split = docs.agg(max(col("doc_id"))).head().getLong(0) - 249L
      val out = graft.Staged.dir("graft_cdc_store_")
      Dedup.stageCdcChunks(docs.where(col("doc_id") < split),
        "doc_id", "text", avgChunkTokens = 20).write(out)
      out
    }

  private val t35: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val split = docs.agg(max(col("doc_id"))).head().getLong(0) - 249L
    Dedup.cdcDedupIncremental(
      Dedup.StagedChunkStore.read(s, stagedCdcDir(s, dir)),
      docs.where(col("doc_id") >= split), "doc_id", "text")
  }

  private val t35Sql = s"WITH $t32MarkedCtes " + t32ProfileSql(
    "WHERE doc_id >= (SELECT max(doc_id) - 249 FROM documents)")

  // ----------------------------------------- BM25 ranked retrieval (t36)
  // More-like-this lexical retrieval: every 100th document is a query and
  // the operator returns its top-10 BM25 neighbours (self excluded) — the
  // text-side lookup behind contamination checks and corpus expansion.
  // Scale shape in operators/Retrieval.scala: one map-combined postings
  // shuffle, dl/avgdl computed WITHOUT touching the postings, postings
  // pruned to the broadcast query vocabulary before df/scoring. Oracle
  // replays the full Robertson idf + length-normalized tf chain; both
  // engines rank by the 5dp-rounded score with id tiebreaks.
  private val t36: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    graft.operators.Retrieval.bm25TopK(
      docs, docs.where(col("doc_id") % 100 === 0),
      "doc_id", "text", k = 10)
  }

  private[queries] val bm25Ctes =
    s"""toks AS (SELECT doc_id, unnest($sqlToks) AS term FROM corpus),
       tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
       dl AS (SELECT doc_id, CAST(len($sqlToks) AS BIGINT) AS dl FROM corpus),
       stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
       qt AS (SELECT DISTINCT doc_id AS query_id, term FROM toks
              WHERE doc_id % 100 = 0),
       dfq AS (SELECT term, count(*) AS df FROM tf
               WHERE term IN (SELECT term FROM qt) GROUP BY 1),
       bm25_scored AS (
         SELECT qt.query_id, tf.doc_id AS corpus_id,
                round(sum(
                  ln(1.0 + (stats.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
                  * tf.tf * (1.2 + 1.0)
                  / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl))
                ) + 1e-9, 5) AS score
         FROM tf JOIN qt USING (term) JOIN dfq USING (term)
              JOIN dl ON dl.doc_id = tf.doc_id, stats
         WHERE tf.doc_id <> qt.query_id
         GROUP BY 1, 2),
       bm25_ranked AS (
         SELECT query_id, corpus_id, score,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, corpus_id) AS rank
         FROM bm25_scored)"""

  private val t36Sql =
    s"""WITH corpus AS (SELECT doc_id, text FROM documents), $bm25Ctes
       SELECT query_id, CAST(rank AS INT) AS rank, corpus_id, score
       FROM bm25_ranked WHERE rank <= 10"""

  // ------------------------------------ staged BM25 search index (t37)
  // The production serving shape for t36: the inverted index (postings +
  // df deltas + stats, operators/Retrieval.StagedBm25Index) is built ONCE
  // per sf dir at ingest; the timed query reaches the stored tables only
  // through the pushed term-range + broadcast-semi prune, so per-query
  // cost tracks the query terms' posting lists, not the corpus. Staged ≡
  // inline by the RetrievalSpec parity law, so the oracle is t36's full
  // first-principles replay — the staging itself is oracle-proven.

  /** The BM25 index `build` writes, staged once per (`key`, `dir`). */
  private[queries] def bm25StagedDir(dir: String, key: String)
      (build: String => Unit): String =
    graft.Staged.once((key, dir)) {
      val out = graft.Staged.dir("graft_bm25_index_")
      build(out)
      out
    }

  private def t37Index(s: SparkSession, dir: String): String =
    bm25StagedDir(dir, "t37") { out =>
      Retrieval.stageBm25Index(t(s, dir, "documents"), "doc_id", "text")
        .write(out)
    }

  private val t37: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    Retrieval.bm25TopKStaged(
      Retrieval.StagedBm25Index.read(s, t37Index(s, dir)),
      docs.where(col("doc_id") % 100 === 0), "doc_id", "text", k = 10)
  }

  // ---------------------------- incremental BM25 index fold (t38)
  // The continuous-ingest form: the corpus index is staged WITHOUT the
  // last 250 docs, then the batch is FOLDED in (append-only generations —
  // batch postings, df deltas for the batch's terms only, one stats row;
  // nothing rewritten, operators/Retrieval.foldIntoBm25Index). The timed
  // query serves the same ranking as t36 over the union corpus, reading
  // across both generations — df sums deltas, avgdl sums stats rows — so
  // the oracle is again t36's whole-corpus replay: a fold that dropped,
  // doubled, or mis-merged a generation hash-mismatches immediately.
  private def t38Index(s: SparkSession, dir: String): String =
    bm25StagedDir(dir, "t38") { out =>
      val docs = t(s, dir, "documents")
      val split = docs.agg(max(col("doc_id"))).head().getLong(0) - 249L
      Retrieval.stageBm25Index(docs.where(col("doc_id") < split),
        "doc_id", "text").write(out)
      Retrieval.foldIntoBm25Index(s, out,
        docs.where(col("doc_id") >= split), "doc_id", "text", gen = 1L)
    }

  private val t38: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    Retrieval.bm25TopKStaged(
      Retrieval.StagedBm25Index.read(s, t38Index(s, dir)),
      docs.where(col("doc_id") % 100 === 0), "doc_id", "text", k = 10)
  }

  // -------------------------- compacted BM25 index serve (t42, round 15)
  // The missing third of the index lifecycle: stage → fold (t38) →
  // COMPACT (operators/Retrieval.compactBm25Index). t42 serves the same
  // ranking as t36/t38, but from the compacted single-generation,
  // term-sorted layout — so the oracle (t36's whole-corpus replay)
  // certifies that compaction dropped, doubled, or re-summed nothing,
  // and the spec law (compact(stage+folds) ≡ stage(union)) pins it
  // row-identical at the index level.
  /** t42's compacted index, built from t38's two-generation one
    * (compaction is ingest-time cost, off the timed path).
    */
  private def t42Index(s: SparkSession, dir: String): String =
    bm25StagedDir(dir, "t42") { out =>
      Retrieval.compactBm25Index(s, t38Index(s, dir), out)
    }

  private val t42: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    Retrieval.bm25TopKStaged(
      Retrieval.StagedBm25Index.read(s, t42Index(s, dir)),
      docs.where(col("doc_id") % 100 === 0), "doc_id", "text", k = 10)
  }

  // ----------------------- compacted CDC chunk store serve (t43, round 16)
  // The remaining LSM level of the CDC family, closed the t42 way: t35's
  // corpus store (docs below max-249) plus one ingest delta (the fold of
  // [max-249, max-124)'s NOVEL hashes — what s13 writes per tick) is
  // COMPACTED (Dedup.compactChunkStore) into one distinct hash-sorted
  // store, and t43 serves the LAST 125 docs from it. Because corpus and
  // fold ids all precede batch ids, verdicts equal the whole-corpus t32
  // replay restricted to the batch — the same oracle shape as t35 at the
  // later boundary, so the oracle proves compaction changed NOTHING.
  private def t43CompactedDir(s: SparkSession, dir: String): String =
    graft.Staged.once(("t43", dir)) {
      val docs = t(s, dir, "documents")
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      val srcDir = stagedCdcDir(s, dir) // corpus < max-249
      val store = Dedup.StagedChunkStore.read(s, srcDir)
      // the fold tick: the window's novel hashes only, exactly what the
      // streaming drain persists (cdcDedupIncrementalWithHashes._2)
      val fold = docs.where(col("doc_id") >= maxId - 249L &&
        col("doc_id") < maxId - 124L)
      val newHashes = Dedup.cdcDedupIncrementalWithHashes(
        store.hashes, fold, "doc_id", "text", avgChunkTokens = 20)._2
      val overlay = graft.Staged.dir("graft_cdc_overlay_")
      graft.streaming.Streams.writeTick(newHashes, overlay, 0L)
      val out = graft.Staged.dir("graft_cdc_compacted_")
      Dedup.compactChunkStore(s, srcDir, out, Seq(overlay))
      out
    }

  private val t43: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val split = docs.agg(max(col("doc_id"))).head().getLong(0) - 124L
    Dedup.cdcDedupIncremental(
      Dedup.StagedChunkStore.read(s, t43CompactedDir(s, dir)),
      docs.where(col("doc_id") >= split), "doc_id", "text")
  }

  private val t43Sql = s"WITH $t32MarkedCtes " + t32ProfileSql(
    "WHERE doc_id >= (SELECT max(doc_id) - 124 FROM documents)")

  // ----------------------------- trained BPE tokenizer (t39, round 12)
  // The real subword-tokenizer lifecycle (operators/Bpe): train merges on
  // the top-128 words by frequency (driver-bounded — the codebook cost
  // class), segment the DISTINCT vocabulary with the merge list (nMerges
  // interpreted-HOF folds over vocab rows, never corpus rows), broadcast
  // the word→subword-count map back onto the token stream. The oracle
  // re-trains from first principles: 10 merge rounds unrolled as CTEs
  // (the pqRefinedCtes pattern), each = weighted pair stats over the
  // training words' CURRENT segmentation → deterministic argmax (count
  // desc, pair asc) → greedy left-fold application via list_reduce.
  // Per-character init is code-point-based on both engines (equal on the
  // ASCII corpus, the documented t10 assumption).
  private val BpeMerges = 10
  private val BpeTrainTop = 128

  private val t39: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("word"))
    val wcnt = toks.groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    val top = wcnt.orderBy(col("cnt").desc, col("word")).limit(BpeTrainTop)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val merges = graft.operators.Bpe.trainMerges(top, BpeMerges)
    val segs = graft.operators.Bpe
      .segment(wcnt.select(col("word")), "word", merges)
      .select(col("word"), size(col("syms")).as("n_bpe_word"))
    toks.join(broadcast(segs), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("n_bpe_word")).cast("long").as("n_bpe"))
      .withColumn("compression",
        round(col("n_bpe").cast("double") / col("n_tokens") + 1e-9, 4))
  }

  /** The unrolled BPE training replay: seg0 = per-character symbols of
    * every distinct word (train flag on the top-N), then per round r:
    * weighted adjacent-pair stats over training rows → the argmax merge
    * (a never-matching chr(1) sentinel when pairs are exhausted, which is
    * how the fixed unrolling stays aligned with Spark's early stop) →
    * greedy left-fold application to ALL rows.
    */
  private def bpeCtes(nMerges: Int, trainTop: Int): String = {
    val head =
      s"""wtoks AS (SELECT doc_id, unnest($sqlToks) AS word FROM documents),
       wcnt AS (SELECT word, count(*) AS cnt FROM wtoks GROUP BY word),
       btrain AS (SELECT word FROM wcnt ORDER BY cnt DESC, word LIMIT $trainTop),
       seg0 AS MATERIALIZED (
                SELECT word, cnt, word IN (SELECT word FROM btrain) AS tr,
                  list_transform(generate_series(1, length(word)),
                    i -> substr(word, i, 1)) AS syms
                FROM wcnt)"""
    val rounds = (1 to nMerges).map { r =>
      val p = s"seg${r - 1}"
      s"""bst$r AS (SELECT a, b, sum(cnt) AS c FROM (
                  SELECT unnest(syms[1:len(syms)-1]) AS a,
                         unnest(syms[2:len(syms)]) AS b, cnt
                  FROM $p WHERE tr) GROUP BY 1, 2),
       bmg$r AS (SELECT coalesce(max(a), chr(1)) AS a,
                        coalesce(max(b), chr(1)) AS b
                 FROM (SELECT a, b FROM bst$r ORDER BY c DESC, a, b LIMIT 1)),
       seg$r AS MATERIALIZED (
                 -- MATERIALIZED: each round is referenced twice (stats +
                 -- next seg); inlined, the chain re-evaluates 2^rounds
                 -- times (measured 101s -> 0.9s at sf0.1)
                 SELECT word, cnt, tr,
                 list_reduce(
                   list_prepend(CAST([] AS VARCHAR[]),
                     list_transform(syms, s -> [s])),
                   (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = m.a
                                     AND x[1] = m.b
                               THEN acc[1:len(acc)-1] || [m.a || m.b]
                               ELSE acc || x END) AS syms
                 FROM $p, bmg$r m)"""
    }.mkString(",\n       ")
    s"$head,\n       $rounds"
  }

  private val t39Sql =
    s"""WITH ${bpeCtes(BpeMerges, BpeTrainTop)}
       SELECT doc_id, count(*) AS n_tokens,
              CAST(sum(len(syms)) AS BIGINT) AS n_bpe,
              round(sum(len(syms)) * 1.0 / count(*) + 1e-9, 4) AS compression
       FROM wtoks JOIN seg$BpeMerges USING (word)
       GROUP BY doc_id"""

  // ------------------- trained NB quality classifier (t40, round 12)
  // The supervised curation stage t26's untrained perplexity filter
  // approximates (operators/QualityClassifier): hashed-unigram Naive
  // Bayes — train = ONE bucket aggregation, score = broadcast lookup +
  // exact BIGINT sum (order-free, stricter than a float mean). The gate's
  // labels use the even/odd doc_id split as a stand-in for the
  // curated-vs-crawl corpus pair the production pipelines train on; the
  // operator takes any labeled frame. Scoring the training corpus means
  // every bucket is in-vocabulary, so the oracle needn't replay the
  // unseen-bucket default (the operator still handles it via coalesce).
  private val t40: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val labeled = docs.withColumn("pos", pmod(col("doc_id"), lit(2L)) === 0L)
    val model = graft.operators.QualityClassifier
      .train(labeled, "text", "pos", buckets = 4096)
    graft.operators.QualityClassifier.score(model, docs, "doc_id", "text")
  }

  private val t40Sql =
    s"""WITH toksl AS (SELECT doc_id, unnest($sqlToks) AS term FROM documents),
       feats AS (SELECT doc_id,
                   CAST(${hash61Sql("term")} % 4096 AS BIGINT) AS bucket
                 FROM toksl),
       lab AS (SELECT doc_id, doc_id % 2 = 0 AS pos FROM documents),
       cls AS (SELECT bucket,
                 sum(CASE WHEN pos THEN 1 ELSE 0 END) AS pc,
                 sum(CASE WHEN pos THEN 0 ELSE 1 END) AS nc
               FROM feats JOIN lab USING (doc_id) GROUP BY bucket),
       tot AS (SELECT sum(pc) AS pt, sum(nc) AS nt FROM cls),
       w AS (SELECT bucket,
               CAST(floor((ln((pc + 1.0) / (pt + 4096)) -
                           ln((nc + 1.0) / (nt + 4096)) + 1e-9) * 1000000
                          + 0.5) AS BIGINT) AS llr_ppm
             FROM cls CROSS JOIN tot),
       sc AS (SELECT doc_id, count(*) AS n_tokens,
                CAST(sum(llr_ppm) AS BIGINT) AS score_ppm
              FROM feats JOIN w USING (bucket) GROUP BY doc_id)
       SELECT doc_id, n_tokens, score_ppm,
              round(score_ppm / 1000000.0 / n_tokens + 1e-9, 4) AS mean_llr,
              score_ppm > 0 AS keep
       FROM sc"""

  val queries: Map[String, Q] = Map(
    "t01_exact_dedup" -> t01,
    "t02_token_stats" -> t02,
    "t03_term_frequency_topk" -> t03,
    "t04_quality_score" -> t04,
    "t05_language_id" -> t05,
    "t06_fingerprint" -> t06,
    "t07_ngram_jaccard_dedup" -> t07,
    "t08_minhash_lsh_dedup" -> t08,
    "t09_simhash_dedup" -> t09,
    "t10_multimodal_features" -> t10,
    "t11_frame_sample" -> t11,
    "t29_mp4_demux" -> t29,
    "t41_frame_luma" -> t41,
    "t12_dedup_clusters" -> t12,
    "t13_content_split" -> t13,
    "t14_tfidf_topk" -> t14,
    "t15_pii_redaction" -> t15,
    "t16_contamination" -> t16,
    "t17_repetition_filter" -> t17,
    "t18_sequence_packing" -> t18,
    "t19_stratified_sample" -> t19,
    "t20_corpus_shuffle" -> t20,
    "t21_chunking" -> t21,
    "t22_block_dedup" -> t22,
    "t23_mixture_sample" -> t23,
    "t24_filter_rules" -> t24,
    "t25_curation_pipeline" -> t25,
    "t26_lm_perplexity_filter" -> t26,
    "t27_incremental_dedup" -> t27,
    "t28_staged_incremental_dedup" -> t28,
    "t30_heavy_hitters" -> t30,
    "t31_bloom_decontamination" -> t31,
    "t32_cdc_dedup" -> t32,
    "t33_ppjoin_dedup" -> t33,
    "t34_dsir_selection" -> t34,
    "t35_incremental_cdc_dedup" -> t35,
    "t36_bm25_retrieval" -> t36,
    "t37_staged_bm25_retrieval" -> t37,
    "t38_incremental_bm25_index" -> t38,
    "t39_bpe_tokenize" -> t39,
    "t40_quality_classifier" -> t40,
    "t42_compacted_bm25_index" -> t42,
    "t43_compacted_cdc_store" -> t43)

  val oracles: Map[String, String] = Map(
    "t01_exact_dedup" -> t01Sql,
    "t02_token_stats" -> t02Sql,
    "t03_term_frequency_topk" -> t03Sql,
    "t04_quality_score" -> t04Sql,
    "t05_language_id" -> t05Sql,
    "t06_fingerprint" -> t06Sql,
    "t07_ngram_jaccard_dedup" -> t07Sql,
    "t08_minhash_lsh_dedup" -> t08Sql,
    "t09_simhash_dedup" -> t09Sql,
    "t10_multimodal_features" -> t10Sql,
    "t11_frame_sample" -> t11Sql,
    "t29_mp4_demux" -> t29Sql,
    "t41_frame_luma" -> t41Sql,
    "t12_dedup_clusters" -> t12Sql,
    "t13_content_split" -> t13Sql,
    "t14_tfidf_topk" -> t14Sql,
    "t15_pii_redaction" -> t15Sql,
    "t16_contamination" -> t16Sql,
    "t17_repetition_filter" -> t17Sql,
    "t18_sequence_packing" -> t18Sql,
    "t19_stratified_sample" -> t19Sql,
    "t20_corpus_shuffle" -> t20Sql,
    "t21_chunking" -> t21Sql,
    "t22_block_dedup" -> t22Sql,
    "t23_mixture_sample" -> t23Sql,
    "t24_filter_rules" -> t24Sql,
    "t25_curation_pipeline" -> t25Sql,
    "t26_lm_perplexity_filter" -> t26Sql,
    "t27_incremental_dedup" -> t27Sql,
    "t28_staged_incremental_dedup" -> t28Sql,
    "t30_heavy_hitters" -> t30Sql,
    "t31_bloom_decontamination" -> t31Sql,
    "t32_cdc_dedup" -> t32Sql,
    "t33_ppjoin_dedup" -> t33Sql,
    "t34_dsir_selection" -> t34Sql,
    "t35_incremental_cdc_dedup" -> t35Sql,
    "t36_bm25_retrieval" -> t36Sql,
    // staged/folded serving paths are oracle-proven equivalent to the
    // inline operator: same first-principles replay as t36
    "t37_staged_bm25_retrieval" -> t36Sql,
    "t38_incremental_bm25_index" -> t36Sql,
    "t42_compacted_bm25_index" -> t36Sql,
    "t39_bpe_tokenize" -> t39Sql,
    "t40_quality_classifier" -> t40Sql,
    "t43_compacted_cdc_store" -> t43Sql)
}
