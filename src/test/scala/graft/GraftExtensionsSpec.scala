package graft

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{MinHashSignature, SignBucketHash}
import graft.functions.VectorFunctions._

/** The SQL-surface contract: every custom Catalyst expression is callable
  * from pure SQL, through BOTH installation paths —
  * `spark.sql.extensions=graft.GraftExtensions` at session construction and
  * `GraftExtensions.register` on a live session — and is bit-identical to
  * its Column facade (same expression class, so anything else would be a
  * registration bug, which is exactly what this guards).
  */
class GraftExtensionsSpec extends SparkSpec {

  /** A second session on the shared context, built THROUGH the extensions
    * installer — `withExtensions(new GraftExtensions)`, the same
    * `SparkSessionExtensions => Unit` contract `spark.sql.extensions=
    * graft.GraftExtensions` invokes reflectively at spark-submit (that
    * conf is STATIC: it only applies when the SparkContext itself is
    * built with it, which a test JVM sharing one context cannot redo —
    * so the class-as-installer is what's exercisable, and is the whole
    * surface the conf adds). `create()` (not getOrCreate) forces a fresh
    * session so the injection actually runs.
    */
  private lazy val extSession: SparkSession = {
    // force the SHARED session into existence first: if this extensions
    // session is the JVM's first, getOrCreate elsewhere would silently
    // adopt it as the default — and the no-extensions control sessions
    // below would resolve the catalog they must not see
    locally(spark)
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-ext-test")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .create()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  test("the SparkSessionExtensions installer provides the full SQL catalog") {
    val row = extSession.sql(
      """SELECT vec_dot(CAST(array(1.0, 2.0) AS ARRAY<DOUBLE>),
                        CAST(array(3.0, 4.0) AS ARRAY<DOUBLE>)) AS d,
                vec_cosine(CAST(array(1.0, 0.0) AS ARRAY<DOUBLE>),
                           CAST(array(1.0, 0.0) AS ARRAY<DOUBLE>)) AS c,
                vec_norm(CAST(array(3.0, 4.0) AS ARRAY<DOUBLE>)) AS n,
                length(vec_quantize_int8(CAST(array(3.0, 4.0) AS ARRAY<DOUBLE>))) AS qlen,
                simhash64(array('a', 'b')) AS sh,
                size(minhash_signature(array('a', 'b', 'c'), 4, 2)) AS mh,
                sign_bucket(CAST(array(1.0, -1.0) AS ARRAY<DOUBLE>), 8, 42L, 2) AS sb,
                size(cdc_chunks(array('a', 'b', 'c', 'd'), 2)) AS cc
      """).collect()(0)
    assert(row.getDouble(0) == 11.0)
    assert(row.getDouble(1) == 1.0)
    assert(row.getDouble(2) == 5.0)
    assert(row.getInt(3) == 2)
    assert(row.getInt(5) == 4)
    assert(row.getInt(7) >= 1) // cdc_chunks: every non-empty input chunks
    // catalog metadata is queryable too (DESCRIBE names the impl class)
    val desc = extSession.sql("DESCRIBE FUNCTION vec_cosine")
      .collect().map(_.getString(0)).mkString("\n")
    assert(desc.contains("CosineSimilarity"), desc)
  }

  test("SQL calls are bit-identical to the Column facade on fixture data") {
    val emb = extSession.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    emb.createOrReplaceTempView("ext_emb")
    val viaSql = extSession.sql(
      """SELECT vec_id, vec_norm(embedding) AS n,
                vec_dot(embedding, embedding) AS d,
                vec_quantize_int8(embedding) AS q,
                sign_bucket(embedding, 8, 42L, 64) AS sb
         FROM ext_emb""").collect()
    val viaCol = emb.select(col("vec_id"), vec_norm(col("embedding")).as("n"),
        vec_dot(col("embedding"), col("embedding")).as("d"),
        vec_quantize_int8(col("embedding")).as("q"),
        SignBucketHash.signBucket(col("embedding"), 8, 42L, 64).as("sb"))
      .collect()
    val sqlById = viaSql.map(r => r.getLong(0) -> r).toMap
    assert(viaCol.nonEmpty && viaCol.length == viaSql.length)
    viaCol.foreach { r =>
      val s = sqlById(r.getLong(0))
      // == on doubles: bit-identical, not approximately-equal — same
      // expression class must produce the same bits
      assert(r.getDouble(1) == s.getDouble(1) && r.getDouble(2) == s.getDouble(2))
      assert(r.getAs[Array[Byte]](3).sameElements(s.getAs[Array[Byte]](3)))
      assert(r.getLong(4) == s.getLong(4))
    }

    val docs = extSession.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
      .limit(50).select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
    docs.createOrReplaceTempView("ext_docs")
    val mhSql = extSession.sql(
      """SELECT doc_id, minhash_signature(toks, 16, 3) AS mh,
                simhash64(toks) AS sh
         FROM ext_docs""").collect()
      .map(r => r.getLong(0) -> (r.getSeq[Long](1), r.getLong(2))).toMap
    docs.select(col("doc_id"),
        MinHashSignature.minhashSig(col("toks"), 16, 3).as("mh"),
        graft.functions.VectorFunctions.simhash64(col("toks")).as("sh"))
      .collect().foreach { r =>
        val (mh, sh) = mhSql(r.getLong(0))
        assert(r.getSeq[Long](1) == mh && r.getLong(2) == sh)
      }
  }

  test("register() installs into a live session; sibling sessions are untouched") {
    val live = spark.newSession()
    // not registered yet → unresolved function at analysis
    intercept[AnalysisException] {
      live.sql("SELECT vec_norm(CAST(array(3.0, 4.0) AS ARRAY<DOUBLE>))").collect()
    }
    GraftExtensions.register(live)
    assert(live.sql("SELECT vec_norm(CAST(array(3.0, 4.0) AS ARRAY<DOUBLE>)) AS n")
      .collect()(0).getDouble(0) == 5.0)
    // registration is SESSION state: a sibling built afterwards has no catalog
    val sibling = spark.newSession()
    intercept[AnalysisException] {
      sibling.sql("SELECT vec_norm(CAST(array(3.0, 4.0) AS ARRAY<DOUBLE>))").collect()
    }
  }

  test("round-11 catalog: hash61 / DSIR / PQ functions from pure SQL, parity") {
    // point checks at a hand-computable PQ geometry (m=2, ksub=2, subDim=2;
    // codeword (s,j) at flat index (s*ksub+j)*subDim): the vector's two
    // subvectors each match codeword j=0 exactly, so codes=[0,0] and the
    // ADC score is table[0] + table[2] = 1.0 + 1.0
    val row = extSession.sql(
      """SELECT graft_hash61('abc') AS h,
                size(hashed_ngram_buckets(array('a', 'b', 'c'), 16)) AS nb,
                bucket_table_sum(CAST(array(0, 2) AS ARRAY<BIGINT>),
                                 array(0.5, 1.0, 2.0)) AS bts,
                pq_encode(CAST(array(1.0, 0.0, 0.0, 1.0) AS ARRAY<DOUBLE>),
                          array(1.0, 0.0, 0.0, 1.0, 0.0, 1.0, 1.0, 0.0),
                          2, 2) AS codes,
                pq_adc_score(
                  pq_encode_bytes(CAST(array(1.0, 0.0, 0.0, 1.0) AS ARRAY<DOUBLE>),
                                  array(1.0, 0.0, 0.0, 1.0, 0.0, 1.0, 1.0, 0.0),
                                  2, 2),
                  pq_adc_table(CAST(array(1.0, 0.0, 0.0, 1.0) AS ARRAY<DOUBLE>),
                               array(1.0, 0.0, 0.0, 1.0, 0.0, 1.0, 1.0, 0.0),
                               2, 2),
                  2) AS adc
      """).collect()(0)
    assert(row.getLong(0) >= 0L) // in GF(2^61-1) by construction
    assert(row.getInt(1) == 5)   // 3 unigrams + 2 bigrams
    assert(row.getDouble(2) == 2.5)
    assert(row.getSeq[Int](3) == Seq(0, 0))
    assert(row.getDouble(4) == 2.0)

    // parity on fixture data: the SQL surface (codebook inlined as a
    // constant array literal) is bit-identical to the Column facade
    import graft.functions.{DsirExpressions, PqExpressions}
    val emb = extSession.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    emb.createOrReplaceTempView("ext_emb_r11")
    val cb = graft.similarity.Ann.pqSeedCodebook(emb, "vec_id", "embedding", 8, 16)
    val cbSql = "array(" + cb.mkString(", ") + ")"
    val viaSql = extSession.sql(
      s"""SELECT vec_id,
                 graft_hash61(CAST(vec_id AS STRING)) AS h,
                 pq_encode(embedding, $cbSql, 8, 16) AS codes,
                 pq_adc_table(embedding, $cbSql, 8, 16) AS adc
          FROM ext_emb_r11""").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getSeq[Int](2), r.getSeq[Double](3)))
      .toMap
    emb.select(col("vec_id"),
        DsirExpressions.hash61(col("vec_id").cast("string")).as("h"),
        PqExpressions.pqEncode(col("embedding"), cb, 8, 16, 8).as("codes"),
        PqExpressions.pqAdcTable(col("embedding"), cb, 8, 16, 8).as("adc"))
      .collect().foreach { r =>
        val (h, codes, adc) = viaSql(r.getLong(0))
        assert(r.getLong(1) == h)
        assert(r.getSeq[Int](2) == codes)
        assert(r.getSeq[Double](3) == adc) // == on doubles: bit-identical
      }

    // DSIR parity: the SQL bucket ids + table sum reproduce the facade
    val docs = extSession.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
      .limit(50).select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
    docs.createOrReplaceTempView("ext_docs_r11")
    val table = Array.tabulate(16)(i => (i - 8) * 0.125)
    val tableSql = "array(" + table.mkString(", ") + ")"
    val dsirSql = extSession.sql(
      s"""SELECT doc_id,
                 bucket_table_sum(hashed_ngram_buckets(toks, 16), $tableSql) AS w
          FROM ext_docs_r11""").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    docs.select(col("doc_id"),
        DsirExpressions.bucketTableSum(
          DsirExpressions.ngramBuckets(col("toks"), 16), table).as("w"))
      .collect().foreach(r => assert(r.getDouble(1) == dsirSql(r.getLong(0))))
  }

  test("constant-array hyper-parameters reject per-row columns") {
    val e = intercept[Exception] {
      extSession.sql(
        """SELECT bucket_table_sum(CAST(array(0) AS ARRAY<BIGINT>),
                                   array(CAST(id AS DOUBLE)))
           FROM range(1)""").collect()
    }
    assert(e.getMessage.contains("must be a constant ARRAY"), e.getMessage)
    val e2 = intercept[Exception] {
      extSession.sql(
        """SELECT pq_encode(CAST(array(1.0, 0.0) AS ARRAY<DOUBLE>),
                            array(1.0, 0.0, 0.0), 2, 2)""").collect()
    }
    assert(e2.getMessage.contains("does not divide"), e2.getMessage)
  }

  test("wrong arity and non-literal hyper-parameters fail with the signature") {
    val e1 = intercept[Exception] {
      extSession.sql("SELECT vec_dot(CAST(array(1.0) AS ARRAY<DOUBLE>))").collect()
    }
    assert(e1.getMessage.contains("vec_dot expects 2 arguments"), e1.getMessage)
    val e2 = intercept[Exception] {
      extSession.sql(
        """SELECT minhash_signature(array('a'), CAST(id AS INT), 2)
           FROM range(1)""").collect()
    }
    assert(e2.getMessage.contains("must be an integer literal"), e2.getMessage)
  }

  test("extraOptimizations, injectOptimizerRule and extraStrategies in src/main only in GraftExtensions.scala") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"no source tree at ${root.getAbsolutePath}")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val hits = for {
      f <- files(root) if f.getName.endsWith(".scala") && f.getName != "GraftExtensions.scala"
      (line, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq.zipWithIndex
      if Seq("extraOptimizations", "injectOptimizerRule", "extraStrategies").exists(line.contains)
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, s"a rule installed outside GraftExtensions:\n${hits.mkString("\n")}")
  }
}
