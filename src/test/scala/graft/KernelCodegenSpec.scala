package graft

import java.io.File
import java.lang.reflect.Modifier
import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.{BloomFilter, CountMinSketch}

import graft.functions._

/** The evaluation-mode law for graft's Catalyst kernels: every expression
  * class in `graft.functions` answers identical rows, or raises the same
  * error, with whole-stage codegen, with expression codegen alone and
  * interpreted ([[SparkSpec.inEvalModes]]), and in the first mode it runs
  * inside a whole-stage codegen stage. Plus the source check that keeps
  * one codegen path and every expression class in the law.
  */
class KernelCodegenSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("toks", ArrayType(StringType)),
    StructField("a", ArrayType(DoubleType)),
    StructField("f", ArrayType(FloatType)),
    StructField("ids", ArrayType(LongType)),
    StructField("ids2", ArrayType(LongType)),
    StructField("codes", BinaryType),
    StructField("tbl", ArrayType(DoubleType))))

  // an all-null row, empty and one-token inputs, a zero vector, non-ASCII
  // text and a PQ subvector equidistant from two codewords (row 4)
  private val rows = Seq(
    Row(1L, "  Hello  World\tfoo ", Seq("the", "cat", "sat", "on", "the", "mat"),
      Seq(0.5, -1.0, 2.0, 0.25), Seq(1.5f, 0f, -2f, 3f), Seq(1L, 3L, 5L, 7L),
      Seq(3L, 4L, 5L), Array[Byte](0, 1), Seq(0.5, -1.25, 2.0, 0.125)),
    Row(2L, "", Seq("solo"), Seq(0.0, 0.0, 0.0, 0.0), Seq(0f, 0f, 0f, 0f), Seq(),
      Seq(1L), Array[Byte](1, 1), Seq(1.0, 2.0, 3.0, 4.0)),
    Row(3L, null, null, null, null, null, null, null, null),
    Row(4L, "Ünïcode  ÉTÉ x y", Seq(), Seq(0.5, 0.5, 1.0, 1.0),
      Seq(0.5f, 0.5f, 1f, 1f), Seq(2L), Seq(2L), Array[Byte](1, 0),
      Seq(-0.5, 0.5, 1.5, -2.5)),
    Row(5L, "a b a b a", Seq("a", "b", "a", "b", "a"), Seq(-3.0, 1.0, 0.0, 2.0),
      Seq(-1f, 2f, 2f, -1f), Seq(1L, 2L, 3L, 4L), Seq(1L, 2L, 4L),
      Array[Byte](0, 0), Seq(2.0, 2.0, 2.0, 2.0)))

  private def withA(a: Seq[Any]): Row =
    Row.fromSeq(rows.head.toSeq.updated(3, a))

  // m = 2 subspaces of 2 dims, ksub = 2 codewords each
  private val codebook = "array(0, 0, 1, 1, 0, 0, 2, 2)"

  /** One law case: `out` over `input`; each `raising` row must make every
    * mode raise the same error.
    */
  private case class Law(cls: Class[_ <: Expression], out: Column,
      input: Seq[Row] = rows, raising: Seq[Row] = Nil)

  private lazy val laws: Seq[Law] = {
    GraftExtensions.register(spark)
    val texts = rows.map(_.getString(1)).filter(_ != null)
    val idf = new java.util.HashMap[UTF8String, java.lang.Double]
    texts.flatMap { t =>
      val a = WsTokens.tokensOf(UTF8String.fromString(t))
      (0 until a.numElements()).map(a.getUTF8String).distinct
    }.groupBy(identity).foreach { case (t, d) =>
      idf.put(t, math.log(texts.size.toDouble / d.size))
    }
    val cms = CountMinSketch.create(0.01, 0.99, 7)
    Seq(texts.head, texts.last).foreach(cms.addString)
    val bloom = BloomFilter.create(100)
    bloom.putString(texts.head)
    val sc = spark.sparkContext
    Seq(
      Law(classOf[DotProduct], expr("vec_dot(a, f)")),
      Law(classOf[CosineSimilarity], expr("vec_cosine(f, a)")),
      Law(classOf[L2Norm], expr("vec_norm(f)")),
      Law(classOf[QuantizeInt8], expr("vec_quantize_int8(a)")),
      Law(classOf[SimHash64], expr("simhash64(toks)"),
        input = rows :+ Row(6L, null, Seq("a", null, "b"), null, null, null,
          null, null, null)),
      Law(classOf[MinHashSignature], expr("minhash_signature(toks, 4, 2)")),
      Law(classOf[SignBucketHash], expr("sign_bucket(a, 3, 7, 4)"),
        input = rows.filter(!_.isNullAt(3)),
        raising = Seq(withA(null), withA(Seq(1.0, null, 2.0, 3.0)))),
      Law(classOf[CdcChunks], expr("cdc_chunks(toks, 2)")),
      Law(classOf[Hash61], expr("graft_hash61(text)")),
      Law(classOf[WhitespaceTokens], expr("ws_tokens(text)")),
      Law(classOf[HashedNgramBuckets], expr("hashed_ngram_buckets(toks, 16)")),
      Law(classOf[BucketTableSum], expr(
        "bucket_table_sum(hashed_ngram_buckets(toks, 4), array(0.5, 1.25, -2.0, 3.0))")),
      Law(classOf[PqEncode], expr(s"pq_encode(a, $codebook, 2, 2)")),
      Law(classOf[PqEncodeBytes], expr(s"pq_encode_bytes(f, $codebook, 2, 2)")),
      Law(classOf[PqAdcTable], expr(s"pq_adc_table(a, $codebook, 2, 2)")),
      Law(classOf[PqAdcScoreBytes], expr("pq_adc_score(codes, tbl, 2)")),
      Law(classOf[TriangleContribs], TriangleContribs.triangleContribs(
        col("id"), col("id") + 100L, col("ids"), col("ids2"))),
      Law(classOf[AscendingPairs], AscendingPairs.pairs(col("ids"))),
      Law(classOf[TfIdfTopTerms], TfIdfTopTerms(col("text"),
        sc.broadcast(new IdfModel(idf)), 3)),
      Law(classOf[CmsAtLeast], SketchProbes.cmsAtLeast(col("text"),
        sc.broadcast(cms), 1L)),
      Law(classOf[BloomMightContain], SketchProbes.bloomMightContain(col("text"),
        sc.broadcast(bloom))))
  }

  // RDD-backed, so no optimizer rule evaluates the projection ahead of the
  // plan being compiled (a local relation would be folded interpreted)
  private def frame(input: Seq[Row], out: Column): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(input, 2), schema)
      .select(col("id"), out.as("out"))

  private def norm(v: Any): Any = v match {
    case b: Array[Byte]                => b.toSeq
    case r: Row                        => r.toSeq.map(norm)
    case s: scala.collection.Seq[_]    => s.map(norm)
    case other                         => other
  }

  /** Rows sorted by id, or the root cause of the failure. */
  private def outcome(df: DataFrame): Either[String, Seq[Seq[Any]]] =
    Try(df.collect().toSeq.sortBy(_.getLong(0)).map(r => r.toSeq.map(norm)))
      .toEither.left.map { e =>
        val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
        s"${root.getClass.getName}: ${root.getMessage}"
      }

  private def isGraft(e: Expression): Boolean =
    e.getClass.getName.startsWith("graft.functions.")

  /** Graft expressions in `p` by whether they sit in a whole-stage stage. */
  private def placement(p: SparkPlan, inStage: Boolean = false): Seq[(Boolean, Expression)] =
    p match {
      case a: AdaptiveSparkPlanExec  => placement(a.executedPlan, inStage)
      case q: QueryStageExec         => placement(q.plan, inStage)
      case w: WholeStageCodegenExec  => placement(w.child, inStage = true)
      case i: InputAdapter           => placement(i.child, inStage = false)
      case n =>
        n.expressions.flatMap(_.collect { case e if isGraft(e) => inStage -> e }) ++
          n.children.flatMap(placement(_, inStage))
    }

  test("evaluation-mode law: every graft expression answers alike in all three modes") {
    laws.foreach { law =>
      val name = law.cls.getSimpleName
      val byMode = inEvalModes {
        val df = frame(law.input, law.out)
        val got = outcome(df)
        got -> placement(df.queryExecution.executedPlan)
      }
      val (_, (first, _)) = byMode.head
      assert(first.exists(_.exists(_(1) != null)), s"$name: ${first.left.getOrElse("all null")}")
      byMode.foreach { case (mode, (got, _)) =>
        assert(got === first, s"$name: $mode answers differ from ${byMode.head._1}")
      }
      val (_, (_, placed)) = byMode.head
      assert(placed.exists { case (in, e) => in && e.getClass == law.cls },
        s"$name: not inside a whole-stage codegen stage: $placed")
      assert(placed.forall(_._1), s"$name: graft expressions outside whole-stage codegen: " +
        placed.filterNot(_._1).map(_._2))
      law.raising.foreach { row =>
        val errs = inEvalModes(outcome(frame(Seq(row), law.out)))
        errs.foreach { case (mode, err) =>
          assert(err.isLeft, s"$name: $mode did not raise on $row")
          assert(err === errs.head._2, s"$name: $mode raised differently")
        }
      }
    }
  }

  test("every SQL-registered graft function is in the law") {
    val inLaw = laws.map(_.cls.getName).toSet
    val missing = GraftExtensions.functions.collect {
      case (id, info, _) if !inLaw(info.getClassName) => id.funcName
    }
    assert(missing.isEmpty, s"registered but not in the law: $missing")
  }

  test("one codegen path: no CodegenFallback, no per-class doGenCode, every expression in the law") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"no source tree at ${root.getAbsolutePath}")
    def files(d: File): Seq[File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    def lines(f: File): Seq[(String, Int)] =
      Files.readAllLines(f.toPath).asScala.toSeq.zipWithIndex
    val sources = files(root).filter(_.getName.endsWith(".scala"))
    val fallback = for {
      f <- sources
      (line, i) <- lines(f) if line.contains("CodegenFallback")
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(fallback.isEmpty, s"CodegenFallback in src/main:\n${fallback.mkString("\n")}")

    val fnDir = new File(root, "graft/functions")
    val decl = """^(?:private\[\w+\] |final |abstract |sealed )*(?:case class|class|trait|object) (\w+)""".r
    val inlineLoops = Set("DotProduct", "CosineSimilarity", "L2Norm", "QuantizeInt8")
    val genCode = for {
      f <- files(fnDir) if f.getName.endsWith(".scala")
      owners = lines(f).scanLeft(("", "", 0)) {
        case ((owner, _, _), (line, i)) =>
          (decl.findFirstMatchIn(line).map(_.group(1)).getOrElse(owner), line, i)
      }
      (owner, line, i) <- owners.drop(1)
      if line.contains("def doGenCode") && owner != "KernelCodegen" && !inlineLoops(owner)
    } yield s"${f.getPath}:${i + 1}: $owner overrides doGenCode"
    assert(genCode.isEmpty,
      s"doGenCode outside KernelCodegen and the vector kernels:\n${genCode.mkString("\n")}")

    val classDir = new File(classOf[DotProduct].getProtectionDomain.getCodeSource.getLocation.toURI)
    val exprClasses = new File(classDir, "graft/functions").listFiles().toSeq
      .map(_.getName).filter(_.endsWith(".class"))
      .map(n => Class.forName(s"graft.functions.${n.stripSuffix(".class")}", false,
        getClass.getClassLoader))
      .filter(c => classOf[Expression].isAssignableFrom(c) && !c.isInterface &&
        !Modifier.isAbstract(c.getModifiers))
    assert(exprClasses.size >= laws.size)
    val inLaw: Set[Class[_]] = laws.map(_.cls).toSet
    val missing = exprClasses.filterNot(inLaw).map { c =>
      val at = for {
        f <- files(fnDir)
        (line, i) <- lines(f) if line.contains(s"class ${c.getSimpleName}(")
      } yield s"${f.getPath}:${i + 1}"
      s"${at.headOption.getOrElse(c.getName)}: ${c.getSimpleName} is not in the law"
    }
    assert(missing.isEmpty, missing.mkString("\n"))
  }
}
