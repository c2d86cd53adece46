package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BinaryType, DoubleType, IntegerType,
  LongType, StringType, StructField, StructType}

import graft.SparkTestBase

/** Differential locks for the native text kernels (r18 optimization):
  * [[graft.functions.CollapseNonAlnum]], [[graft.functions.WordNGrams]],
  * [[graft.functions.WinnowGrams]] and [[graft.functions.GramRepetition]]
  * must be bit-identical to the Column-algebra forms they replaced — the
  * regex normalize, the split+transform n-gram assembly, the interpreted
  * closed-form winnow selection and the filter-inside-transform gram
  * counts (reconstructed here verbatim from the replaced
  * implementations). */
class TextKernelsSpec extends SparkTestBase {
  import spark.implicits._

  // adversarial corpus: empties, whitespace runs, non-alnum, non-ASCII
  // (including a codepoint that lowercases into ASCII range), long
  // repetitive text (hash-tie heavy), and short docs below one window
  private val texts = Seq(
    "",
    " ",
    "   ",
    "a",
    "ab",
    "Hello, World!",
    "The   quick  brown FOX --- jumps!! over 42 lazy dogs 42 42",
    "aaaa aaaa aaaa aaaa aaaa aaaa",
    "abab ababab abababab ababab abab",
    "ÉCLAIR über straße ĲSSELMEER KK kelvin", // K = U+212A
    "tab\tseparated\nnewline\r\nmixed",
    "1234567890 0987654321",
    "a b c d e f g h i j k l m n o p",
    "xyxyxyxyxyxyxyxyxyxyxyxyxyxyxyxyxyxyxyxy",
    "the the the the the the the the",
    "mixed CASE With Numb3rs and $ymb0ls %%% ___",
    ("lorem ipsum dolor sit amet consectetur adipiscing elit sed do " * 8),
    "ends with spaces   ",
    "   starts with spaces",
    "日本語テキスト with ascii islands 123"
  )

  private def df: DataFrame =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")

  private val oldNormalize: Column => Column = c =>
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", ""), " +", " "))

  test("CollapseNonAlnum matches the regex normalize bit-for-bit") {
    val got = df.select(col("id"), Dedup.normalizeText(col("text")).alias("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = df.select(col("id"), oldNormalize(col("text")).alias("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == want)
  }

  test("WordNGrams matches split+transform n-gram assembly for n=2 and n=3") {
    for (n <- Seq(2, 3)) {
      val toks = split(oldNormalize(col("text")), " ")
      val oldGrams = df
        .select(col("id"), toks.alias("__toks"))
        .filter(size(col("__toks")) >= n)
        .select(col("id"),
          explode(transform(sequence(lit(1), size(col("__toks")) - (n - 1)),
            i => struct((0 until n).map(o =>
              element_at(col("__toks"), i + o).alias(s"w${o + 1}")): _*)))
            .alias("__t"))
        .filter((1 to n).map(j => col(s"__t.w$j") =!= "").reduce(_ && _))
        .select(col("id") +: (1 to n).map(j => col(s"__t.w$j")): _*)
        .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
      val newGrams = df
        .select(col("id"),
          explode(org.apache.spark.sql.GraftColumns.column(
            graft.functions.WordNGrams(
              org.apache.spark.sql.GraftColumns.expression(
                Dedup.normalizeText(col("text"))), n))).alias("__t"))
        .select(col("id") +: (1 to n).map(j => col(s"__t.w$j")): _*)
        .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
      // multiset equality, not set: repeated grams within a document carry
      // LM counts, so a kernel bug that duplicated or dropped a repeated
      // gram must fail here
      assert(newGrams == oldGrams, s"n=$n")
    }
  }

  test("WordShingles matches the HOF shingle assembly for w=1,2,3,5") {
    for (w <- Seq(1, 2, 3, 5)) {
      val tokens = split(oldNormalize(col("text")), " ")
      val oldSh =
        if (w == 1) array_distinct(tokens)
        else
          array_distinct(flatten(transform(array(tokens), ts =>
            when(size(ts) >= w,
              transform(sequence(lit(1), size(ts) - (w - 1)),
                i => concat_ws(" ", slice(ts, i, lit(w)))))
              .otherwise(array(concat_ws(" ", ts))))))
      val got = df.select(col("id"), Dedup.shingles(col("text"), w).alias("s"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val want = df.select(col("id"), oldSh.alias("s"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      assert(got == want, s"w=$w") // including element ORDER
    }
  }

  /** The pre-r18 interpreted winnow selection, verbatim. */
  private def oldWinnow(df: DataFrame, k: Int, w: Int): DataFrame = {
    val sels = flatten(transform(
      array(oldNormalize(col("text"))), nt =>
        flatten(transform(
          array(when(length(nt) >= k,
            transform(sequence(lit(1), length(nt) - (k - 1)),
              i => Hashing.polyHash(nt.substr(i, lit(k)))))
            .otherwise(array().cast(ArrayType(LongType)))), hs => {
          val m = size(hs)
          def h(i: Column): Column = element_at(hs, i.cast(IntegerType))
          def sel(j: Column): Column = {
            val minv = least((0 until w).map(t => h(j + t + 1)): _*)
            val hiFirst = when(h(j + w) === minv, j + w)
            (w - 1 to 2 by -1).foldLeft(hiFirst)((acc, t) =>
              acc.when(h(j + t) === minv, j + t)).otherwise(j + 1)
          }
          val longSel = filter(
            transform(sequence(lit(0), m - w),
              j => when(j === 0 ||
                  sel(j) =!= sel(greatest(j - 1, lit(0))), sel(j))
                .otherwise(-1)),
            x => x >= 0)
          val shortSel = array(aggregate(
            sequence(lit(1), m),
            struct(lit(Long.MaxValue).alias("h"), lit(0).alias("p")),
            (acc, i) => when(h(i) <= acc.getField("h"),
                struct(h(i).alias("h"), i.alias("p")))
              .otherwise(acc)).getField("p"))
          val positions = when(m >= w, longSel)
            .when(m >= 1, shortSel)
            .otherwise(array().cast(ArrayType(IntegerType)))
          transform(positions, p =>
            struct(p.cast(LongType).alias("pos"), h(p).alias("fp")))
        }))))
    df.select(col("id"), explode(sels).alias("__s"))
      .select(col("id"), col("__s.pos").alias("pos"), col("__s.fp").alias("fp"))
  }

  test("WinnowGrams matches the interpreted winnow selection bit-for-bit") {
    for ((k, w) <- Seq((5, 4), (16, 4), (2, 2), (3, 7))) {
      val got = TextAnalysis.winnowFingerprints(df, "text", "id", k, w)
        .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
      val want = oldWinnow(df, k, w)
        .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
      assert(got == want, s"k=$k w=$w")
    }
  }

  test("HashedGramBuckets matches the grams+bucketOf Column chain " +
      "bit-for-bit, including order and multiplicity") {
    // the pre-r19 DSIR gram/bucket chain, verbatim
    def oldGrams(textCol: Column): Column = {
      val toks = split(oldNormalize(textCol), " ")
      flatten(transform(array(toks), ts =>
        concat(ts,
          when(size(ts) >= 2,
            transform(sequence(lit(1), size(ts) - 1),
              i => concat_ws(" ", slice(ts, i, lit(2)))))
            .otherwise(array().cast(ArrayType(StringType))))))
    }
    def oldBucketOf(g: Column, buckets: Int, seed: Int): Column =
      pmod(Hashing.mix(Hashing.polyHash(g), seed), lit(buckets.toLong))
    for ((buckets, seed) <- Seq((4096, 23), (7, 23), (1, 5), (256, 0))) {
      val want = df.select(col("id"),
        transform(oldGrams(col("text")),
          g => oldBucketOf(g, buckets, seed)).alias("bs"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val got = df.select(col("id"),
        org.apache.spark.sql.GraftColumns.column(
          graft.functions.HashedGramBuckets(
            org.apache.spark.sql.GraftColumns.expression(
              Dedup.normalizeText(col("text"))), buckets, seed)).alias("bs"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(got == want, s"buckets=$buckets seed=$seed") // incl. ORDER
    }
  }

  // the HOF repetition forms GramRepetition replaced, verbatim
  private def bindArr(a: Column)(f: Column => Column): Column =
    element_at(transform(array(a), f), 1)
  private def joinLines(text: Column): Column = regexp_replace(text, "\n", " ")
  private def roundDet(c: Column, d: Int): Column = TextAnalysis.roundDet(c, d)

  private def oldTopNgramFraction(text: Column, w: Int): Column = roundDet(
    bindArr(split(Dedup.normalizeText(joinLines(text)), " ")) { toks =>
      bindArr(when(size(toks) >= w,
        transform(sequence(lit(1), size(toks) - (w - 1)),
          i => concat_ws(" ", slice(toks, i, lit(w)))))
        .otherwise(typedLit(Seq.empty[String]))) { grams =>
        when(size(grams) >= 1,
          array_max(transform(array_distinct(grams), g =>
            size(filter(grams, x => x === g)))).cast(DoubleType) / size(grams))
          .otherwise(lit(0.0))
      }
    }, 6)

  private def oldCharRepetitionSignals(text: Column): Seq[Column] = {
    val dupLine = bindArr(split(text, "\n")) { lines =>
      val tot = aggregate(lines, lit(0L), (a, l) => a + length(l).cast(LongType))
      val dup = aggregate(lines, lit(0L), (a, l) =>
        a + when(size(filter(lines, x => x === l)) >= 2,
          length(l).cast(LongType)).otherwise(lit(0L)))
      when(tot > 0, dup.cast(DoubleType) / tot.cast(DoubleType))
        .otherwise(lit(0.0))
    }
    val toksCol = split(Dedup.normalizeText(joinLines(text)), " ")
    def withToks(f: (Column, Column) => Column): Column = bindArr(toksCol) {
      toks =>
        val tot = aggregate(toks, lit(0L), (a, t) => a + length(t).cast(LongType))
        when(tot > 0, f(toks, tot)).otherwise(lit(0.0))
    }
    def grams(toks: Column, n: Int): Column =
      when(size(toks) >= n,
        transform(sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", slice(toks, i, lit(n)))))
        .otherwise(typedLit(Seq.empty[String]))
    def topChar(n: Int): Column = withToks { (toks, tot) =>
      bindArr(grams(toks, n)) { gs =>
        val cnt = (g: Column) => size(filter(gs, x => x === g))
        val maxCnt = array_max(transform(array_distinct(gs), g => cnt(g)))
        val maxLen = array_max(transform(
          filter(array_distinct(gs), g => cnt(g) === maxCnt),
          g => length(g) - (n - 1)))
        when(size(gs) >= 1,
          (maxCnt.cast(LongType) * maxLen.cast(LongType)).cast(DoubleType) /
            tot.cast(DoubleType))
          .otherwise(lit(0.0))
      }
    }
    def dupCover(n: Int): Column = withToks { (toks, tot) =>
      bindArr(grams(toks, n)) { gs =>
        bindArr(transform(gs, g => size(filter(gs, x => x === g)) >= 2)) {
          flags =>
            val nG = size(gs)
            when(nG >= 1,
              aggregate(sequence(lit(1), size(toks)), lit(0L), (acc, i) =>
                acc + when(
                  exists(
                    sequence(greatest(lit(1), i - (n - 1)), least(i, nG)),
                    s => element_at(flags, s)),
                  length(element_at(toks, i)).cast(LongType))
                  .otherwise(lit(0L)))
                .cast(DoubleType) / tot.cast(DoubleType))
              .otherwise(lit(0.0))
        }
      }
    }
    Seq(
      roundDet(dupLine, 6).alias("dup_line_char_frac"),
      roundDet(topChar(2), 6).alias("top2gram_char_frac"),
      roundDet(topChar(3), 6).alias("top3gram_char_frac"),
      roundDet(topChar(4), 6).alias("top4gram_char_frac"),
      roundDet(dupCover(5), 6).alias("dup5gram_char_frac"),
      roundDet(dupCover(10), 6).alias("dup10gram_char_frac"))
  }

  /** Repetition edge cases on top of the adversarial corpus: CRLF and
    * trailing/empty lines, non-ASCII lines (char vs byte length), "",
    * one token, documents shorter than the 10-gram, count ties whose
    * grams differ in char length, and whole-line repeats. */
  private val repetitionTexts: Seq[String] = texts ++ Seq(
    "one\r\ntwo\r\none\r\ntwo",
    "one\ntwo\none\n",
    "\n\n",
    "\nlead\n\nlead\n\n",
    "über straße\nüber straße\nuber strasse",
    "日本\n日本\nab\nab",
    "word",
    "x y z x y z",
    "a bbbb a bbbb cc d cc d",
    "aa b aa b aaaa b aaaa b",
    "ab cd ab cd ab cd ef gh ef gh ef gh",
    "- bullet\n- bullet\n* star ...\nplain line",
    "same line\nsame line\nsame line",
    "a b c d e f g h i j a b c d e f g h i j")

  /** Raw UTF-8 bytes per document; `None` is a null text. The extra
    * documents are not valid UTF-8, which `split` decodes to U+FFFD. */
  private def repetitionDocs(docs: Seq[Option[Array[Byte]]]): DataFrame = {
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("raw", BinaryType, nullable = true)))
    val rows = docs.zipWithIndex.map { case (d, i) => Row(i.toLong, d.orNull) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
      .select(col("id"), col("raw").cast(StringType).alias("text"))
  }

  private val hostileUtf8: Seq[Array[Byte]] = Seq(
    Array(0x61, 0xff, 0x0a, 0x61, 0xff, 0x0a, 0x62),
    Array(0xc3, 0x0a, 0xc3, 0x20, 0x61, 0x20, 0x61),
    // distinct byte lines that decode to the same U+FFFD line
    Array(0xe2, 0x82, 0x0a, 0xe2, 0x83, 0x0a, 0x78),
    // a truncated 4-byte lead: 1 char as raw bytes, 4 once decoded
    Array(0xf0, 0x61, 0x61, 0x61, 0x0a, 0xf0, 0x61, 0x61, 0x61, 0x0a, 0x62)
  ).map(_.map(_.toByte))

  /** Run `f` with every projection JIT-compiled (no fallback), or with
    * whole-stage codegen off and every projection interpreted. */
  private def inCodegenMode[T](codegen: Boolean)(f: => T): T = {
    val settings = Seq(
      "spark.sql.codegen.factoryMode" -> (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"),
      "spark.sql.codegen.wholeStage" -> codegen.toString)
    val saved = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** id → the raw bits of every output double (so -0.0 vs 0.0 and NaN
    * payloads count as differences). */
  private def bitsById(df: DataFrame, cols: Seq[Column]): Map[Long, Seq[Long]] =
    df.select(col("id") +: cols: _*).collect().map { r =>
      r.getLong(0) -> (1 until r.size).map(i =>
        if (r.isNullAt(i)) Long.MinValue
        else java.lang.Double.doubleToRawLongBits(r.getDouble(i)))
    }.toMap

  /** New vs verbatim-old repetition signals, under both codegen modes. */
  private def assertRepetitionParity(df: DataFrame): Unit =
    for (codegen <- Seq(true, false)) inCodegenMode(codegen) {
      val got = bitsById(df,
        TextAnalysis.charRepetitionSignals(col("text")) ++
          Seq(TextAnalysis.topNgramFraction(col("text"), 2),
            TextAnalysis.topNgramFraction(col("text"), 3)) ++
          TextAnalysis.repetitionSignals(col("text")).takeRight(2))
      val want = bitsById(df,
        oldCharRepetitionSignals(col("text")) ++
          Seq(oldTopNgramFraction(col("text"), 2),
            oldTopNgramFraction(col("text"), 3),
            oldTopNgramFraction(col("text"), 2),
            oldTopNgramFraction(col("text"), 3)))
      assert(got.size == df.count())
      val diffs = got.keySet.filter(k => got(k) != want(k)).toSeq.sorted
      assert(diffs.isEmpty, s"codegen=$codegen: rows differ at ids ${diffs.take(5)}: " +
        diffs.take(3).map(k => s"$k got ${got(k)} want ${want(k)}").mkString("; "))
    }

  test("GramRepetition matches the HOF charRepetitionSignals and " +
      "topNgramFraction bit-for-bit on the adversarial corpus, " +
      "codegen and interpreted") {
    val docs = repetitionTexts.map(t => Some(t.getBytes(UTF_8))) ++
      Seq(None) ++ hostileUtf8.map(Some(_))
    val df = repetitionDocs(docs)
    assertRepetitionParity(df)
    // null and "" are all-zero in every column, never null
    val blank = Set(repetitionTexts.indexOf("").toLong, repetitionTexts.size.toLong)
    val zero = java.lang.Double.doubleToRawLongBits(0.0)
    inCodegenMode(codegen = true) {
      bitsById(df.filter(col("id").isin(blank.toSeq: _*)),
        TextAnalysis.charRepetitionSignals(col("text")) ++
          TextAnalysis.repetitionSignals(col("text")).takeRight(2))
        .foreach { case (id, bits) => assert(bits.forall(_ == zero), s"id $id: $bits") }
    }
  }

  test("GramRepetition matches the HOF forms on generated documents from " +
      "3-6 word vocabularies (many repeats and count ties)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val pool = Seq("a", "bb", "ccc", "Dddd", "ee!", "ü", "a.b", "x", "yy")
    val doc = for {
      k <- Gen.choose(3, 6)
      vocab <- Gen.pick(k, pool)
      nLines <- Gen.choose(1, 5)
      lines <- Gen.listOfN(nLines,
        Gen.choose(0, 14).flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab.toSeq))))
      eol <- Gen.oneOf("\n", "\r\n", " \n")
      trailing <- Gen.oneOf("", "\n")
    } yield lines.map(_.mkString(" ")).mkString(eol) + trailing
    val prop = Prop.forAll(Gen.listOfN(60, doc)) { ds =>
      assertRepetitionParity(repetitionDocs(ds.map(d => Some(d.getBytes(UTF_8)))))
      true
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }

  test("WinnowGrams guarantees: shared fingerprint for long-enough matches") {
    // two docs sharing a >= w+k-1 substring must share a fingerprint
    val k = 5; val w = 4
    val d = Seq(
      (1L, "prefix common shared substring here suffix one"),
      (2L, "other text with common shared substring here trailing")
    ).toDF("id", "text")
    val fps = TextAnalysis.winnowFingerprints(d, "text", "id", k, w)
      .select(col("id"), col("fp")).collect()
      .groupBy(_.getLong(0)).map { case (id, rs) => id -> rs.map(_.getLong(1)).toSet }
    assert(fps(1L).intersect(fps(2L)).nonEmpty)
  }
}
