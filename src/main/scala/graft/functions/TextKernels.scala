package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression,
  GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.pipeline.Hashing

/** Native codegen'd kernels for the normalized-text hot paths.
  *
  * Every text pipeline (dedup, winnowing, n-gram LMs, PMI, BM25) starts
  * from [[graft.pipeline.Dedup.normalizeText]] — previously
  * `trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", ""), " +",
  * " "))`, i.e. two full Java-regex passes per document per evaluation —
  * and then builds per-token/per-gram structures with interpreted
  * higher-order lambdas (`transform(sequence(...), i => element_at(...))`
  * runs as a per-element interpreted closure with no CSE; measured as the
  * dominant per-task cost of the winnow and LM families).
  *
  * These expressions compute the SAME values in one tight JVM pass:
  *
  *  - [[CollapseNonAlnum]]: the character-class filter + space collapse +
  *    trim in one byte scan (composed under the unchanged `lower()`, so
  *    lowercasing semantics stay Spark's own).
  *  - [[WordNGrams]]: consecutive word n-grams of an already-normalized
  *    text — replaces split + sequence/transform/element_at struct
  *    assembly.
  *  - [[WordShingles]]: distinct word w-shingles as byte slices of the
  *    normalized text.
  *  - [[WinnowGrams]]: the full Schleimer–Wilkerson–Aiken winnowing
  *    selection (k-gram rolling [[Hashing.polyHash]] + rightmost-min
  *    window selection + consecutive dedup) in O(m) per document —
  *    replaces the interpreted closed-form `least`/`when`-chain cascade
  *    (O(m·w²) with the lambda re-evaluation constant).
  *  - [[HashedGramBuckets]]: DSIR's hashed unigram+bigram buckets.
  *  - [[GramRepetition]]: the exact per-order gram counts behind the
  *    Gopher repetition filters (top-gram count and chars, duplicated-gram
  *    coverage, duplicate-line char mass) in O(tokens × max order) per
  *    document — replaces `size(filter(gs, x => x === g))` nested in
  *    `transform(array_distinct(gs), …)`, O(G²) interpreted per order.
  *
  * Value parity is bit-for-bit and locked by the existing unit suites and
  * the DuckDB oracle replays (which compute the same definitions
  * independently, SQL-side). The byte-level fast paths are exact because
  * normalized text is pure ASCII by construction (only [a-z0-9 ]
  * survives the filter); [[WinnowGrams]] keeps a codepoint fallback for
  * non-ASCII inputs (parity with `substr`/`length` character counting),
  * and [[GramRepetition]] splits with the same `UTF8String.split` call
  * as Spark's `split`.
  */
object TextKernels {

  /** One-pass twin of `trim(regexp_replace(regexp_replace(s,
    * "[^a-z0-9 ]", ""), " +", " "))` over an ALREADY-LOWERCASED input:
    * drop every byte outside [a-z0-9 ] (multi-byte UTF-8 units are all
    * ≥ 0x80, so byte filtering equals character filtering), collapse
    * space runs, trim. */
  def collapse(s: UTF8String): UTF8String = {
    val bytes = s.getBytes
    val out = new Array[Byte](bytes.length)
    var n = 0
    var pendingSpace = false
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      if ((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')) {
        if (pendingSpace && n > 0) { out(n) = ' '; n += 1 }
        pendingSpace = false
        out(n) = b
        n += 1
      } else if (b == ' ') {
        pendingSpace = true
      }
      i += 1
    }
    UTF8String.fromBytes(out, 0, n)
  }

  /** Consecutive word n-grams of a normalized (single-spaced, trimmed)
    * text: the rows `explode(transform(sequence(1, size(toks)-(n-1)),
    * i => struct(element_at(toks, i), ...)))` produces after the
    * `w_i != ""` filters. Tokens split on single spaces byte-wise
    * (space never occurs inside a multi-byte UTF-8 sequence). */
  def wordNGrams(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes
    // token boundaries
    var nTok = 0
    var i = 0
    val len = bytes.length
    if (len > 0) {
      nTok = 1
      while (i < len) { if (bytes(i) == ' ') nTok += 1; i += 1 }
    }
    if (nTok < n) return new GenericArrayData(Array.empty[Any])
    val starts = new Array[Int](nTok + 1)
    var t = 1
    i = 0
    while (i < len) {
      if (bytes(i) == ' ') { starts(t) = i + 1; t += 1 }
      i += 1
    }
    starts(nTok) = len + 1
    def tok(j: Int): UTF8String =
      UTF8String.fromBytes(bytes, starts(j), starts(j + 1) - 1 - starts(j))
    val out = new Array[Any](nTok - n + 1)
    var g = 0
    while (g < nTok - n + 1) {
      val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(n)
      var f = 0
      while (f < n) { row.update(f, tok(g + f)); f += 1 }
      out(g) = row
      g += 1
    }
    new GenericArrayData(out)
  }

  /** Distinct word w-shingles of a normalized text, first-occurrence
    * order — the rows `array_distinct` of the HOF assembly
    * (`transform(sequence(...), i => concat_ws(" ", slice(toks, i, w)))`,
    * whole-text fallback below w tokens, plain distinct tokens at w = 1)
    * produced. Each shingle is a byte-slice of the normalized text
    * (tokens joined by single spaces reconstitute it exactly), so no
    * per-shingle string assembly happens at all. */
  def wordShingles(s: UTF8String, w: Int): ArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    // token boundaries; split(" ") on "" yields [""] — one empty token
    var nTok = 1
    var i = 0
    while (i < len) { if (bytes(i) == ' ') nTok += 1; i += 1 }
    val starts = new Array[Int](nTok + 1)
    var t = 1
    i = 0
    while (i < len) {
      if (bytes(i) == ' ') { starts(t) = i + 1; t += 1 }
      i += 1
    }
    starts(nTok) = len + 1
    val seen = new java.util.LinkedHashSet[UTF8String]()
    if (w == 1) {
      var j = 0
      while (j < nTok) {
        seen.add(UTF8String.fromBytes(bytes, starts(j),
          starts(j + 1) - 1 - starts(j)))
        j += 1
      }
    } else if (nTok >= w) {
      var j = 0
      while (j <= nTok - w) {
        seen.add(UTF8String.fromBytes(bytes, starts(j),
          starts(j + w) - 1 - starts(j)))
        j += 1
      }
    } else {
      seen.add(UTF8String.fromBytes(bytes, 0, len))
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var oi = 0
    while (it.hasNext) { out(oi) = it.next(); oi += 1 }
    new GenericArrayData(out)
  }

  /** The winnowing fingerprint selection of
    * [[graft.pipeline.TextAnalysis.winnowFingerprints]] in one pass:
    * rolling mod-P polynomial hash of every k-gram, rightmost-min
    * selection per window of w consecutive hashes (monotonic deque),
    * consecutive-window dedup; documents with 1 ≤ m < w grams winnow
    * their single partial window (rightmost min of all grams). Output
    * rows (pos, fp), pos = 1-based gram start. */
  def winnowGrams(s: UTF8String, k: Int, w: Int): ArrayData = {
    val bytes = s.getBytes
    // fast path: pure ASCII (always true for normalized text)
    var ascii = true
    var i = 0
    while (i < bytes.length && ascii) { if (bytes(i) < 0) ascii = false; i += 1 }
    val cps: Array[Int] =
      if (ascii) null
      else {
        val str = s.toString
        val buf = new Array[Int](str.length)
        var ci = 0
        var si = 0
        while (si < str.length) {
          val cp = str.codePointAt(si)
          buf(ci) = cp
          ci += 1
          si += Character.charCount(cp)
        }
        java.util.Arrays.copyOf(buf, ci)
      }
    val n = if (ascii) bytes.length else cps.length
    @inline def cpAt(j: Int): Long =
      if (ascii) (bytes(j) & 0xffL) else cps(j).toLong
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val m = n - k + 1
    val P = Hashing.P
    val B = Hashing.B
    val hs = new Array[Long](m)
    var h = 0L
    var j = 0
    while (j < k) { h = (h * B + cpAt(j)) % P; j += 1 }
    hs(0) = h
    var bk1 = 1L
    j = 0
    while (j < k - 1) { bk1 = bk1 * B % P; j += 1 }
    var t = 1
    while (t < m) {
      h = ((h + P - cpAt(t - 1) * bk1 % P) % P * B + cpAt(t + k - 1)) % P
      hs(t) = h
      t += 1
    }
    val outBuf = new Array[Any](if (m >= w) m - w + 1 else 1)
    var nOut = 0
    @inline def emit(pos0: Int): Unit = {
      val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
      row.setLong(0, (pos0 + 1).toLong)
      row.setLong(1, hs(pos0))
      outBuf(nOut) = row
      nOut += 1
    }
    if (m >= w) {
      // monotonic deque of gram indices; popping `>=` on insert keeps the
      // RIGHTMOST occurrence of the window minimum at the front
      val dq = new Array[Int](m)
      var head = 0
      var tail = 0 // exclusive
      var prevSel = -1
      var g = 0
      while (g < m) {
        while (tail > head && hs(dq(tail - 1)) >= hs(g)) tail -= 1
        dq(tail) = g
        tail += 1
        val lo = g - w + 1 // window start (gram index)
        if (lo >= 0) {
          while (dq(head) < lo) head += 1
          val sel = dq(head)
          if (sel != prevSel) { emit(sel); prevSel = sel }
        }
        g += 1
      }
    } else {
      // single partial window: rightmost min (<= keeps the later index)
      var best = 0
      var g = 1
      while (g < m) { if (hs(g) <= hs(best)) best = g; g += 1 }
      emit(best)
    }
    new GenericArrayData(java.util.Arrays.copyOf(
      outBuf.asInstanceOf[Array[AnyRef]], nOut).asInstanceOf[Array[Any]])
  }

  /** Hashed DSIR gram buckets of a normalized text in ONE pass: the exact
    * values of `transform(tokens ++ bigrams, g => pmod(mix(polyHash(g),
    * seed), buckets))` where tokens = split(s, " ") (so "" yields the one
    * empty token, hash 0 — split semantics) and each bigram is the
    * contiguous "tokᵢ tokᵢ₊₁" slice of the normalized text. Replaces the
    * interpreted grams-HOF + per-gram string materialization + per-gram
    * hash lambda (measured: ~2/3 of the DSIR scoring pass above the scan
    * floor). Unigrams first, then bigrams — the `concat(tokens, bigrams)`
    * order of the Column form. ASCII byte fast path (normalized text is
    * pure [a-z0-9 ] by construction) with a codepoint fallback for parity
    * on any non-ASCII input. */
  def hashedGramBuckets(s: UTF8String, buckets: Int, seed: Int): ArrayData = {
    val a = Hashing.aCoef(seed)
    val b = Hashing.bCoef(seed)
    val P = Hashing.P
    val B = Hashing.B
    def bucketOf(h: Long): Long = ((h * a + b) % P) % buckets
    val bytes = s.getBytes
    val len = bytes.length
    var ascii = true
    var i = 0
    while (i < len) { if (bytes(i) < 0) { ascii = false; i = len }; i += 1 }
    if (!ascii) {
      // codepoint fallback: same fold as PolyHash.hash over each gram
      val str = s.toString
      val toks = str.split(" ", -1)
      val out = new Array[Long](toks.length +
        (if (toks.length >= 2) toks.length - 1 else 0))
      def hashStr(t: String): Long = {
        var h = 0L
        var j = 0
        while (j < t.length) {
          val cp = t.codePointAt(j)
          h = (h * B + cp) % P
          j += Character.charCount(cp)
        }
        h
      }
      var k = 0
      while (k < toks.length) { out(k) = bucketOf(hashStr(toks(k))); k += 1 }
      k = 0
      while (k < toks.length - 1) {
        out(toks.length + k) = bucketOf(hashStr(toks(k) + " " + toks(k + 1)))
        k += 1
      }
      return new GenericArrayData(out)
    }
    // token boundaries; split(" ") on "" yields [""] — one empty token
    var nTok = 1
    i = 0
    while (i < len) { if (bytes(i) == ' ') nTok += 1; i += 1 }
    val starts = new Array[Int](nTok + 1)
    var t = 1
    i = 0
    while (i < len) {
      if (bytes(i) == ' ') { starts(t) = i + 1; t += 1 }
      i += 1
    }
    starts(nTok) = len + 1
    def hashRange(from: Int, until: Int): Long = {
      var h = 0L
      var j = from
      while (j < until) { h = (h * B + (bytes(j) & 0xffL)) % P; j += 1 }
      h
    }
    val out = new Array[Long](nTok + (if (nTok >= 2) nTok - 1 else 0))
    var g = 0
    while (g < nTok) {
      out(g) = bucketOf(hashRange(starts(g), starts(g + 1) - 1))
      g += 1
    }
    g = 0
    while (g < nTok - 1) {
      // the bigram "tokᵍ tokᵍ⁺¹" is the byte slice spanning both tokens
      out(nTok + g) = bucketOf(hashRange(starts(g), starts(g + 2) - 1))
      g += 1
    }
    new GenericArrayData(out)
  }

  private val NewLine = UTF8String.fromString("\n")
  private val Space = UTF8String.fromString(" ")

  /** Dense first-occurrence ids of `key(0 until n)`: equal keys, equal
    * ids (hash map on the keys themselves, so equality is exact). */
  private def denseIds[K](n: Int)(key: Int => K): Array[Int] = {
    val seen = new java.util.HashMap[K, Integer](2 * n)
    val ids = new Array[Int](n)
    var i = 0
    while (i < n) {
      val prev = seen.putIfAbsent(key(i), seen.size)
      ids(i) = if (prev == null) seen.size - 1 else prev
      i += 1
    }
    ids
  }

  /** Occurrence count of each position's id; ids from [[denseIds]], so
    * every id is below `ids.length`. */
  private def countsAt(ids: Array[Int]): Array[Int] = {
    val byId = new Array[Int](ids.length)
    ids.foreach(id => byId(id) += 1)
    ids.map(byId)
  }

  /** The Gopher repetition counts of one document, all exact integers
    * (the row layout of [[GramRepetition.schema]]):
    *
    *  - `tok_chars`: chars of the tokens of `split(normalized, " ")`;
    *  - `line_chars` / `dup_line_chars`: chars of the lines of
    *    `split(text, "\n")`, all of them / those of every line occurring
    *    ≥ 2 times (each occurrence counted);
    *  - per order n in `orders`: the gram count G = max(0, T − n + 1),
    *    the top count (most frequent gram's occurrences, 0 when G = 0),
    *    the largest char length (token chars, no joining spaces) among the
    *    grams reaching it, and the chars of every token spanned by a gram
    *    occurring ≥ 2 times (each token once).
    *
    * Lines and tokens come from `UTF8String.split(_, -1)`, the call
    * Spark's `split` makes (empty pieces kept, so "" is one empty token;
    * undecodable bytes become U+FFFD), and char lengths are `numChars`,
    * the `length()` of the Column form. Grams are identified by chaining
    * ids: the order-n gram at i is the pair (order-(n−1) gram at i, token
    * at i+n−1), so one exact hash-map pass per order counts them. */
  def gramRepetition(text: UTF8String, normalized: UTF8String,
      orders: Array[Int]): InternalRow = {
    val out = Array.fill[Any](3 + 4 * orders.length)(0L)
    val lines = text.split(NewLine, -1)
    val lineCnt = countsAt(denseIds(lines.length)(lines(_)))
    var lineChars = 0L
    var dupLineChars = 0L
    for (i <- lines.indices) {
      val c = lines(i).numChars
      lineChars += c
      if (lineCnt(i) >= 2) dupLineChars += c
    }
    val toks = normalized.split(Space, -1)
    val t = toks.length
    val tokLen = toks.map(_.numChars)
    val cum = tokLen.scanLeft(0L)(_ + _)
    out(0) = cum(t)
    out(1) = lineChars
    out(2) = dupLineChars
    val tokIds = denseIds(t)(toks(_))
    var ids = tokIds
    var n = 1
    while (n <= orders.max && n <= t) {
      if (n > 1) {
        val prev = ids
        val last = n - 1
        ids = denseIds(t - last)(g => (prev(g).toLong << 32) | tokIds(g + last))
      }
      val k = orders.indexOf(n)
      if (k >= 0) {
        val g = ids.length
        val cnt = countsAt(ids)
        val top = cnt.max
        var topChars = 0L
        var dupChars = 0L
        var reach = -1 // last token spanned by a duplicated gram so far
        var j = 0
        while (j < t) {
          if (j < g) {
            if (cnt(j) == top) topChars = math.max(topChars, cum(j + n) - cum(j))
            if (cnt(j) >= 2) reach = j + n - 1
          }
          if (j <= reach) dupChars += tokLen(j)
          j += 1
        }
        out(3 + 4 * k) = g.toLong
        out(4 + 4 * k) = top.toLong
        out(5 + 4 * k) = topChars
        out(6 + 4 * k) = dupChars
      }
      n += 1
    }
    new GenericInternalRow(out)
  }
}

/** Expression form of [[TextKernels.gramRepetition]]: the raw `text`
  * (for its lines) and its `normalized` tokenization (for its grams) in,
  * one struct of exact counts out. Two children rather than one because
  * lowercasing stays Spark's own `lower()` under
  * [[graft.pipeline.Dedup.normalizeText]]. */
case class GramRepetition(text: Expression, normalized: Expression,
    orders: Seq[Int]) extends BinaryExpression {
  require(orders.nonEmpty && orders.forall(_ >= 1) &&
    orders.distinct.size == orders.size,
    s"gram orders must be distinct and >= 1, got $orders")

  @transient private lazy val orderArray = orders.toArray

  override def left: Expression = text
  override def right: Expression = normalized
  override def dataType: DataType = GramRepetition.schema(orders)
  override def prettyName: String = "graft_gram_repetition"

  override protected def nullSafeEval(t: Any, n: Any): Any =
    TextKernels.gramRepetition(t.asInstanceOf[UTF8String],
      n.asInstanceOf[UTF8String], orderArray)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ords = ctx.addReferenceObj("orders", orderArray, "int[]")
    defineCodeGen(ctx, ev,
      (t, n) => s"graft.functions.TextKernels.gramRepetition($t, $n, $ords)")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): GramRepetition =
    copy(text = newLeft, normalized = newRight)
}

object GramRepetition {
  /** `tok_chars`, `line_chars`, `dup_line_chars`, then per order n:
    * `g{n}_count`, `g{n}_top_count`, `g{n}_top_chars`, `g{n}_dup_chars`. */
  def schema(orders: Seq[Int]): StructType = StructType(
    (Seq("tok_chars", "line_chars", "dup_line_chars") ++ orders.flatMap(n =>
      Seq("count", "top_count", "top_chars", "dup_chars").map(f => s"g${n}_$f")))
      .map(StructField(_, LongType, nullable = false)))
}

/** Expression form of [[TextKernels.hashedGramBuckets]]. Input must
  * already be normalized (single-spaced, trimmed) text. */
case class HashedGramBuckets(child: Expression, buckets: Int, seed: Int)
    extends UnaryExpression {
  require(buckets >= 1, s"buckets must be >= 1, got $buckets")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_hashed_gram_buckets"

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.hashedGramBuckets(input.asInstanceOf[UTF8String], buckets, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextKernels.hashedGramBuckets($c, $buckets, $seed)")

  override protected def withNewChildInternal(
      newChild: Expression): HashedGramBuckets = copy(child = newChild)
}

/** Expression form of [[TextKernels.collapse]] — compose under `lower()`. */
case class CollapseNonAlnum(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_collapse_nonalnum"

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.collapse(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.collapse($c)")

  override protected def withNewChildInternal(
      newChild: Expression): CollapseNonAlnum = copy(child = newChild)
}

/** Expression form of [[TextKernels.wordNGrams]]. Input must already be
  * normalized (single-spaced, trimmed). */
case class WordNGrams(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1 && n <= 8, s"n-gram order must be in [1, 8], got $n")

  override def dataType: DataType = ArrayType(
    StructType((1 to n).map(i => StructField(s"w$i", StringType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_word_ngrams"

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.wordNGrams(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.wordNGrams($c, $n)")

  override protected def withNewChildInternal(
      newChild: Expression): WordNGrams = copy(child = newChild)
}

/** Expression form of [[TextKernels.wordShingles]]. Input must already
  * be normalized (single-spaced, trimmed) text. */
case class WordShingles(child: Expression, w: Int) extends UnaryExpression {
  require(w >= 1, s"shingle width must be >= 1, got $w")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_word_shingles"

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.wordShingles(input.asInstanceOf[UTF8String], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.wordShingles($c, $w)")

  override protected def withNewChildInternal(
      newChild: Expression): WordShingles = copy(child = newChild)
}

/** Expression form of [[TextKernels.winnowGrams]]. Input must already be
  * normalized text. */
case class WinnowGrams(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  require(k >= 2, s"k-gram length must be >= 2, got $k")
  require(w >= 2, s"winnowing window must be >= 2, got $w")

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("pos", LongType, nullable = false),
      StructField("fp", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_winnow_grams"

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.winnowGrams(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.winnowGrams($c, $k, $w)")

  override protected def withNewChildInternal(
      newChild: Expression): WinnowGrams = copy(child = newChild)
}
