package graft

import graft.operators.{Dedup, Text}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Twins of the chains the `graft.functions.TextKernels` expressions
  * replaced: higher-order `aggregate` MinHash folds, the `zip_with` /
  * `concat_ws` n-gram chain and the `regexp_replace`/`trim`
  * normalization. Test-only: they pin the kernels' output and type. */
object ChainTwins {
  private val P = 1000000007L

  def minhash(h: Column, numHashes: Int): Column =
    array((1 to numHashes).map { k =>
      val a = 1000003L * k + 12345L
      val b = 998244353L % P * k + 7L
      aggregate(h, lit(Long.MaxValue),
        (acc, s) => least(acc, ((s % P) * a + b) % P))
    }: _*)

  def ngrams(toks: Column, n: Int): Column = {
    val nTok = size(toks)
    val joined = (2 to n).foldLeft(toks) { (acc, k) =>
      zip_with(acc, slice(toks, lit(k), greatest(nTok - (k - 1), lit(0))),
        (a, b) => concat_ws(" ", a, b))
    }
    slice(joined, lit(1), greatest(nTok - (n - 1), lit(0)))
  }

  def trigrams(text: Column): Column = {
    val toks = split(text, " ")
    val n = size(toks)
    val g2 = zip_with(toks, slice(toks, lit(2), greatest(n - 1, lit(0))),
      (a, b) => concat_ws(" ", a, b))
    val g3 = zip_with(g2, slice(toks, lit(3), greatest(n - 2, lit(0))),
      (ab, c) => concat_ws(" ", ab, c))
    when(n < 3, array(text)).otherwise(slice(g3, lit(1), greatest(n - 2, lit(1))))
  }

  def normalize(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))
}

/** Each kernel against its chain twin, row for row and type for type,
  * with generated code forced and with it switched off. */
class TextKernelsSpec extends SparkSpec {

  private val modes = Seq(
    "codegen" -> Map("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.wholeStage" -> "true"),
    "interpreted" -> Map("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false"))

  private def inMode[A](conf: Map[String, String])(body: => A): A = {
    val old = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Rows of `df` through a shuffle, so no optimizer rule folds the
    * projection into a local relation and evaluates it on the driver. */
  private def spread(df: DataFrame): DataFrame = df.repartition(2)

  /** `kernel` ≡ `twin` over every row of `df`, in both modes, with the
    * same result type and nullability. */
  private def same(df: DataFrame, kernel: Column, twin: Column, what: String): Unit =
    modes.foreach { case (mode, conf) =>
      inMode(conf) {
        val both = spread(df).select(kernel.as("k"), twin.as("t"))
        val Seq(k, t) = both.schema.fields.toSeq
        assert(k.dataType == t.dataType && k.nullable == t.nullable,
          s"$what ($mode): kernel $k, chain $t")
        val rows = both.collect()
        assert(rows.nonEmpty)
        rows.foreach(r => assert(r.get(0) == r.get(1), s"$what ($mode): $r"))
      }
    }

  private val edgeTexts: Seq[String] = Seq(null, "", " ", "  ", "a", "a b",
    " a b", "a b ", "a  b c", "a b c", " a  b  c d ", "a b c d e",
    "a b c d e f g h", "x\ty z", "x\ny  z\r\n", "Café déjà vu", "İstanbul KELVİN K",
    "𝔘𝔫𝔦 😀 ok", "Mixed-Case, punct!! 42x",
    "...", "a.b.c", "ünïcödé ÄÖÜ 中文 混合 text 123")

  private def texts(xs: Seq[String]): DataFrame = {
    import spark.implicits._
    xs.toDF("text")
  }

  /** Seeded random documents over an alphabet of ASCII letters and
    * digits, punctuation, whitespace, accented and supplementary-plane
    * characters: runs of spaces make empty tokens. */
  private lazy val randomTexts: Seq[String] = {
    val rnd = new scala.util.Random(42)
    val pieces = Array("a", "b", "Z", "q", "7", "0", " ", " ", " ", "  ", "\t",
      "\n", ",", "-", "é", "Ä", "ß", "中", "😀", "𝔘", "K")
    (1 to 300).map(_ => Seq.fill(rnd.nextInt(40))(pieces(rnd.nextInt(pieces.length))).mkString)
  }

  test("normalizeText ≡ lower + two regexp_replace + trim") {
    Seq(edgeTexts, randomTexts).foreach { xs =>
      same(texts(xs), Dedup.normalizeText(col("text")),
        ChainTwins.normalize(col("text")), "normalizeText")
    }
  }

  test("ngrams ≡ the zip_with chain for n = 2..5, short docs and empty tokens") {
    val df = texts(edgeTexts ++ randomTexts)
    (2 to 5).foreach { n =>
      val toks = split(col("text"), " ")
      same(df, Text.ngrams(toks, n), ChainTwins.ngrams(toks, n), s"ngrams($n)")
    }
  }

  test("ngrams skips null tokens as concat_ws does; a null array stays null") {
    val schema = StructType(Seq(StructField("toks", ArrayType(StringType, containsNull = true))))
    val rows = Seq(Row(null), Row(Seq.empty[String]), Row(Seq[String](null)),
      Row(Seq("a", null, "c", "d")), Row(Seq[String](null, null, null)),
      Row(Seq("a", "b", null)), Row(Seq(null, "b", "c", null, "e", "f")))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    (2 to 5).foreach { n =>
      same(df, Text.ngrams(col("toks"), n), ChainTwins.ngrams(col("toks"), n),
        s"ngrams($n) with nulls")
    }
  }

  test("trigrams ≡ the zip_with chain with its whole-text fallback") {
    same(texts(edgeTexts ++ randomTexts), Text.trigrams(col("text")),
      ChainTwins.trigrams(col("text")), "trigrams")
  }

  test("minhash ≡ the aggregate/least folds: null array, empty, null elements") {
    val schema = StructType(Seq(StructField("h", ArrayType(LongType, containsNull = true))))
    val rnd = new scala.util.Random(7)
    val rows = Seq(Row(null), Row(Seq.empty[Long]), Row(Seq[Any](null)),
      Row(Seq[Any](null, 5L, null)), Row(Seq(0L, 1L, 1000000007L, Long.MaxValue)),
      Row(Seq(-1L, -1000000008L, Long.MinValue + 1))) ++
      (1 to 200).map(_ => Row(Seq.fill(rnd.nextInt(30))(rnd.nextLong())))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    Seq(1, 16).foreach { k =>
      same(df, Dedup.minhashFromHashes(col("h"), k), ChainTwins.minhash(col("h"), k),
        s"minhash($k)")
    }
  }

  test("minhash signatures of random documents ≡ the chain end to end") {
    val df = texts(edgeTexts ++ randomTexts)
    same(df, Dedup.minhashSignature(col("text"), 16),
      ChainTwins.minhash(transform(ChainTwins.trigrams(col("text")), g => abs(xxhash64(g))), 16),
      "minhashSignature")
  }
}
