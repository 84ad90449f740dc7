package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom scalar Catalyst expressions (SURVEY §7): only the operators
  * whose semantics built-ins genuinely can't express — multi-keyword
  * automaton matching, regex split keeping delimiters, Unicode
  * normalization forms, and linear-time n-gram repetition scores.
  * All are deterministic, null-safe via UnaryExpression, and codegen'd
  * via a plan-reference call into the JIT-compiled `compute` body (see
  * [[FloatDot.compute]]): the surrounding projection stays INSIDE
  * whole-stage codegen (CodegenFallback would break the stage), while
  * the loop itself runs as ordinary JVM code, not Janino source.
  */

/** F13/F14: keyword hit distribution via a shared Aho-Corasick
  * automaton. Returns map<keyword, count> with only hit keywords, in
  * keyword-list order (deterministic). */
case class KeywordMatches(child: Expression, keywords: Seq[String])
    extends UnaryExpression {
  override def dataType: DataType =
    MapType(StringType, IntegerType, valueContainsNull = false)
  override def nullable: Boolean = child.nullable
  @transient private lazy val trie = AhoCorasick.shared(keywords.toIndexedSeq)
  override def nullSafeEval(input: Any): Any = compute(input)

  def compute(input: Any): org.apache.spark.sql.catalyst.util.MapData = {
    val counts = trie.countMatchesUtf8(input.asInstanceOf[UTF8String])
    val keys: Array[Any] = keywords.iterator.zipWithIndex.collect {
      case (k, i) if counts(i) > 0 => UTF8String.fromString(k): Any
    }.toArray
    val vals: Array[Any] = counts.iterator.filter(_ > 0).map(v => v: Any).toArray
    new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("keywordMatches", this,
      classOf[KeywordMatches].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = $ref.compute($c);
    """)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "graft_keyword_matches"
}

/** Total keyword hits (F14 fused over the same automaton). */
case class KeywordCount(child: Expression, keywords: Seq[String])
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  @transient private lazy val trie = AhoCorasick.shared(keywords.toIndexedSeq)
  override def nullSafeEval(input: Any): Any = compute(input)

  def compute(input: Any): Int =
    trie.countTotal(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("keywordCount", this,
      classOf[KeywordCount].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = $ref.compute($c);
    """)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "graft_keyword_count"
}

/** F15: keyword match spans as array<array<int>> of [start, end) char
  * offsets (the code_spans / nsfw_words_pos shape). */
case class KeywordSpans(child: Expression, keywords: Seq[String])
    extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(ArrayType(IntegerType, containsNull = false), containsNull = false)
  @transient private lazy val trie = AhoCorasick.shared(keywords.toIndexedSeq)
  override def nullSafeEval(input: Any): Any = compute(input)

  def compute(input: Any): ArrayData = {
    val text = input.asInstanceOf[UTF8String].toString
    val spans = trie.findSpans(text)
    // Offsets are CODE POINT positions (Python-reference semantics).
    // Fast path: BMP-only text ⇒ UTF-16 index = codepoint index.
    val bmpOnly = text.length == text.codePointCount(0, text.length)
    def cp(utf16: Int): Int =
      if (bmpOnly) utf16 else text.codePointCount(0, utf16)
    new GenericArrayData(spans.map { case (a, b) =>
      new GenericArrayData(Array[Any](cp(a), cp(b))): Any
    }.toArray)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("keywordSpans", this,
      classOf[KeywordSpans].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = $ref.compute($c);
    """)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "graft_keyword_spans"
}

/** Keyword REDACTION over the same shared automaton: every boundary-
  * valid hit is replaced by `mask` — the removal tail of the
  * detect→count→locate family (flashtext replace_keywords semantics).
  * Spans are selected leftmost-greedy; with space-free word-char
  * keywords boundary-valid spans cannot overlap (an overlapping start
  * would sit on a word char and fail the left boundary), so the greedy
  * pass is exhaustive, and on space-tokenized text the result equals
  * per-token membership replacement — which is what the SQL oracle
  * replays. One linear pass + rebuild; no regex alternation (a
  * 1 500-branch regex is quadratic-ish and unreadable). */
case class KeywordRedact(child: Expression, keywords: Seq[String], mask: String)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  @transient private lazy val trie = AhoCorasick.shared(keywords.toIndexedSeq)
  override def nullSafeEval(input: Any): Any = compute(input)

  def compute(input: Any): UTF8String = {
    val text = input.asInstanceOf[UTF8String].toString
    val spans = trie.findSpans(text).sortBy(s => (s._1, -(s._2 - s._1)))
    val sb = new java.lang.StringBuilder(text.length)
    var pos = 0
    spans.foreach { case (a, b) =>
      if (a >= pos) { // skip spans swallowed by an earlier replacement
        sb.append(text, pos, a).append(mask)
        pos = b
      }
    }
    sb.append(text, pos, text.length)
    UTF8String.fromString(sb.toString)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("keywordRedact", this,
      classOf[KeywordRedact].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = $ref.compute($c);
    """)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "graft_keyword_redact"
}

/** Whitespace-collapse normalization, fused: exactly
  * `regexp_replace(trim(x), "\s+", " ")` — trim strips ASCII spaces
  * only, then every Java-`\s` run ([ \t\n\x0B\f\r]) collapses to one
  * space — but as a single byte-level pass with no regex engine and no
  * char decode (all `\s` chars are single-byte in UTF-8; multi-byte
  * sequences have the high bit set and can never match). The clean
  * stage runs this over every document, so the 2-pass regex form was
  * measurable pipeline cost. Equivalence to the regex composition is
  * property-pinned in PropertiesSpec. */
case class CollapseWs(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any = compute(input)

  def compute(input: Any): UTF8String = {
    val b = input.asInstanceOf[UTF8String].getBytes
    @inline def isWs(x: Byte): Boolean =
      x == ' ' || x == '\t' || x == '\n' || x == 0x0b || x == '\f' || x == '\r'
    var i = 0
    var j = b.length
    while (i < j && b(i) == ' ') i += 1
    while (j > i && b(j - 1) == ' ') j -= 1
    val out = new Array[Byte](j - i)
    var o = 0
    var inWs = false
    while (i < j) {
      val x = b(i)
      if (isWs(x)) inWs = true
      else {
        if (inWs) { out(o) = ' '; o += 1; inWs = false }
        out(o) = x; o += 1
      }
      i += 1
    }
    if (inWs) { out(o) = ' '; o += 1 } // a trailing non-space \s run
    UTF8String.fromBytes(out, 0, o)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("collapseWs", this,
      classOf[CollapseWs].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = $ref.compute($c);
    """)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "graft_collapse_ws"
}

/** IndicNLP trivial_tokenize (setu/filters.py:584; the public
  * indic-nlp-library rule), fused: equivalent to tab→space, space-pad
  * every mark in `marks`, collapse space runs, trim, split on single
  * space — but as ONE char pass that emits tokens directly (separators
  * are space/tab; each mark is its own token; anything else, newlines
  * included, accretes onto the current token). An input with no tokens
  * yields [""], matching `split` on the trimmed empty string.
  * Equivalence to the 3-regex composition is property-pinned in
  * PropertiesSpec; reference quirks (backslash never splits, newline
  * not a separator) are pinned in TextSemanticsSpec. */
case class TrivialTokenize(child: Expression, marks: String)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  @transient private lazy val isMark: java.util.BitSet = {
    val s = new java.util.BitSet()
    marks.foreach(ch => s.set(ch.toInt))
    s
  }
  override def nullSafeEval(input: Any): Any = compute(input)

  /** Byte-level pass over the raw UTF-8 (r15, guide §4 per-row
    * allocation): tokens are contiguous byte ranges between separators/
    * marks, emitted as zero-copy `UTF8String.fromBytes(b, start, len)`
    * slices of the (already-copied) getBytes array — no
    * UTF8String→String decode, no StringBuilder, no per-token
    * re-encode. Separators (space/tab) and ASCII marks are single
    * bytes; a non-ASCII mark (danda family, Urdu set — all BMP) is
    * found by decoding just that one codepoint when a lead byte
    * appears. Equivalence to the old char-level pass is pinned by the
    * PropertiesSpec regex-composition property. */
  def compute(input: Any): ArrayData = {
    val b = input.asInstanceOf[UTF8String].getBytes
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    var tokStart = -1
    @inline def flush(end: Int): Unit =
      if (tokStart >= 0) {
        out += UTF8String.fromBytes(b, tokStart, end - tokStart); tokStart = -1
      }
    var i = 0
    while (i < b.length) {
      val x = b(i)
      if (x == ' ' || x == '\t') { flush(i); i += 1 }
      else if (x >= 0) { // ASCII
        if (isMark.get(x.toInt)) {
          flush(i); out += UTF8String.fromBytes(b, i, 1)
        } else if (tokStart < 0) tokStart = i
        i += 1
      } else {
        // UTF-8 lead byte: sequence length from the high bits; decode
        // only to test mark-ness (marks are BMP; astral cps can't be)
        val len =
          if ((x & 0xE0) == 0xC0) 2
          else if ((x & 0xF0) == 0xE0) 3
          else if ((x & 0xF8) == 0xF0) 4
          else 1 // invalid lead/stray continuation: token byte
        if (len > 1 && i + len <= b.length) {
          val cp = len match {
            case 2 => ((x & 0x1F) << 6) | (b(i + 1) & 0x3F)
            case 3 => ((x & 0x0F) << 12) | ((b(i + 1) & 0x3F) << 6) |
              (b(i + 2) & 0x3F)
            case _ => ((x & 0x07) << 18) | ((b(i + 1) & 0x3F) << 12) |
              ((b(i + 2) & 0x3F) << 6) | (b(i + 3) & 0x3F)
          }
          if (cp < 0x10000 && isMark.get(cp)) {
            flush(i); out += UTF8String.fromBytes(b, i, len)
          } else if (tokStart < 0) tokStart = i
          i += len
        } else {
          if (tokStart < 0) tokStart = i
          i += 1
        }
      }
    }
    flush(b.length)
    if (out.isEmpty) out += UTF8String.EMPTY_UTF8
    new GenericArrayData(out.toArray)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("trivialTokenize", this,
      classOf[TrivialTokenize].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = $ref.compute($c);
    """)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "graft_trivial_tokenize"
}

/** F1 split_with_delimiter (setu/filters.py:309-330): regex split that
  * keeps each delimiter match attached to the preceding piece. */
case class SplitKeepDelimiter(child: Expression, pattern: String)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  @transient private lazy val regex = java.util.regex.Pattern.compile(pattern)
  override def nullSafeEval(input: Any): Any = compute(input)

  def compute(input: Any): ArrayData = {
    val text = input.asInstanceOf[UTF8String].toString
    val m = regex.matcher(text)
    val pieces = scala.collection.mutable.ArrayBuffer[Any]()
    var last = 0
    while (m.find()) {
      if (m.end() > last) {
        pieces += UTF8String.fromString(text.substring(last, m.end()))
        last = m.end()
      }
    }
    if (last < text.length) pieces += UTF8String.fromString(text.substring(last))
    new GenericArrayData(pieces.toArray)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("splitKeepDelimiter", this,
      classOf[SplitKeepDelimiter].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = $ref.compute($c);
    """)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "graft_split_keep_delim"
}

/** F11-lite: Unicode normalization (NFC/NFD/NFKC/NFKD) — the portable
  * core of the reference's IndicNLP normalize-then-NFKC chain. */
case class NormalizeUnicode(child: Expression, form: String)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  @transient private lazy val nf = java.text.Normalizer.Form.valueOf(form)
  override def nullSafeEval(input: Any): Any = compute(input)

  /** ASCII is invariant under all four normalization forms (no ASCII
    * codepoint has a (de)composition), so a full-ASCII input returns
    * UNCHANGED — one vectorized byte scan instead of decode + normalize
    * + re-encode. Real corpora are heavily ASCII even when
    * multilingual; at 100 TB this removes the normalizer from the hot
    * path for every such row (r15, guide §4). */
  def compute(input: Any): UTF8String = {
    val u = input.asInstanceOf[UTF8String]
    if (u.isFullAscii) u
    else UTF8String.fromString(java.text.Normalizer.normalize(u.toString, nf))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("normalizeUnicode", this,
      classOf[NormalizeUnicode].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = $ref.compute($c);
    """)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "graft_normalize"
}

/** F17 char n-gram repetition: (sum of top-⌊√distinct⌋ frequencies) /
  * total n-grams (setu/filters.py:545-572), linear-time hashmap. */
case class CharNgramRepScore(child: Expression, n: Int)
    extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(input: Any): Any = compute(input)

  def compute(input: Any): Double = {
    val text = input.asInstanceOf[UTF8String].toString
    // n-grams over CODE POINTS, not UTF-16 units — the Python reference
    // and the DuckDB oracle (substr/length) both count codepoints, and
    // UTF-16 indexing would split astral chars through surrogates.
    val cps = text.codePoints().toArray
    if (cps.length < n) return 0.0d
    val counts = new java.util.HashMap[String, Int]()
    var i = 0
    val total = cps.length - n + 1
    while (i < total) {
      counts.merge(new String(cps, i, n), 1, _ + _)
      i += 1
    }
    val k = math.floor(math.sqrt(counts.size.toDouble)).toInt
    if (k == 0) return 0.0d
    val freqs = new Array[Int](counts.size)
    var j = 0
    val it = counts.values().iterator()
    while (it.hasNext) { freqs(j) = it.next(); j += 1 }
    java.util.Arrays.sort(freqs)
    var top = 0L
    var t = freqs.length - 1
    while (t >= freqs.length - k) { top += freqs(t); t -= 1 }
    top.toDouble / total
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("charNgramRepScore", this,
      classOf[CharNgramRepScore].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = $ref.compute($c);
    """)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "graft_char_ngram_rep"
}

/** F18 word n-gram repetition over a token array: (sum of frequencies
  * ≥ 2) / total n-grams (setu/filters.py:574-602), linear-time. */
case class WordNgramRepScore(child: Expression, n: Int)
    extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(input: Any): Any = compute(input)

  /** r15 (guide §4 per-row allocation): the old path decoded every
    * token to String and built one StringBuilder+String PER WINDOW just
    * to key a HashMap. Instead, intern tokens to dense ids (UTF8String
    * equality IS content equality, no decode), then count windows in an
    * open-addressed table keyed by window start with elementwise id
    * compare — two equal id sequences join to the same n-gram string
    * and vice versa (both tokenizers split on space, so tokens are
    * space-free and ' '-join is injective). Zero allocation per window. */
  def compute(input: Any): Double = {
    val arr = input.asInstanceOf[ArrayData]
    val sz = arr.numElements()
    if (sz < n) return 0.0d
    val ids = new Array[Int](sz)
    val intern = new java.util.HashMap[UTF8String, Integer](sz * 2)
    var i = 0
    while (i < sz) {
      val t = arr.getUTF8String(i)
      var id = intern.get(t)
      if (id == null) { id = Integer.valueOf(intern.size); intern.put(t, id) }
      ids(i) = id.intValue
      i += 1
    }
    val total = sz - n + 1
    var cap = 8
    while (cap < total * 2) cap <<= 1
    val slotPos = new Array[Int](cap)
    java.util.Arrays.fill(slotPos, -1)
    val slotCnt = new Array[Int](cap)
    val mask = cap - 1
    var rep = 0L // Σ of final counts that reach ≥2: +2 when a window's
    i = 0        // count hits 2, +1 for every further repeat
    while (i < total) {
      var h = 1
      var k = 0
      while (k < n) { h = h * 31 + ids(i + k); k += 1 }
      var p = h & mask
      var done = false
      while (!done) {
        val q = slotPos(p)
        if (q < 0) { slotPos(p) = i; slotCnt(p) = 1; done = true }
        else {
          var same = true
          var k2 = 0
          while (same && k2 < n) { same = ids(q + k2) == ids(i + k2); k2 += 1 }
          if (same) {
            slotCnt(p) += 1
            rep += (if (slotCnt(p) == 2) 2 else 1)
            done = true
          } else p = (p + 1) & mask
        }
      }
      i += 1
    }
    rep.toDouble / total
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordNgramRepScore", this,
      classOf[WordNgramRepScore].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = $ref.compute($c);
    """)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "graft_word_ngram_rep"
}

/** F20 remove_non_terminal_punc_span (setu/filters.py:250-281): for a
  * chunk with invalid terminal punctuation, truncate at the LAST
  * terminal-punctuation occurrence and keep the prefix only if it still
  * has more than `chunkLenThreshold` single-space words; exception-
  * suffixed chunks ("..."/"####") are removed outright. Returns null
  * for removed chunks (the reference's None). */
case class NonTerminalPuncSpanRemove(child: Expression, chunkLenThreshold: Double)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any = compute(input)

  def compute(input: Any): UTF8String = {
    val chunk = input.asInstanceOf[UTF8String].toString
    NonTerminalPuncSpanRemove.eval(chunk, chunkLenThreshold) match {
      case null => null
      case s    => UTF8String.fromString(s)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nonTerminalPuncSpanRemove", this,
      classOf[NonTerminalPuncSpanRemove].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = $ref.compute($c);
      ${ev.isNull} = ${ev.value} == null;
    """)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "graft_remove_non_terminal_punc_span"
}

object NonTerminalPuncSpanRemove {
  /** setu/constants.py:125-134 — the reference tuple, plus '॥' (double
    * danda) so this predicate stays consistent with Text.isTerminalValid
    * and the F22 delimiter set (the reference writes '।।' as two single
    * dandas; real text uses U+0965). */
  val TerminalPunctuations: Seq[String] =
    Seq(".", "!", "?", "।", "।।", "॥", ":", ",", ";", ")", "\"", "'", "؟", "۔")
  val TerminalExceptions: Seq[String] = Seq("...", "####")

  def isTerminalValid(chunk: String): Boolean =
    TerminalPunctuations.exists(chunk.endsWith) &&
      !TerminalExceptions.exists(chunk.endsWith)

  /** The reference's exact flow (valid chunks pass through unchanged). */
  def eval(chunk: String, chunkLenThreshold: Double): String = {
    if (isTerminalValid(chunk)) return chunk
    if (TerminalExceptions.exists(chunk.endsWith)) return null
    var latestIdx = -1
    for (p <- TerminalPunctuations) {
      val i = chunk.lastIndexOf(p)
      if (latestIdx < i) latestIdx = i
    }
    val cut = chunk.substring(0, latestIdx + 1)
    if (cut.split(" ", -1).length > chunkLenThreshold) cut else null
  }
}

/** Fused out-of-class character ratio for LITERAL-ASCII regex classes
  * (r15, guide §4): exactly
  * `when(length(c)=0, 0.0).otherwise(length(regexp_replace(c, re, "")) / length(c))`
  * — the count of codepoints NOT matching the class over all codepoints
  * — but as one byte scan with no regex engine and no rebuilt string.
  * In-class chars are single-byte ASCII, so a byte < 0x80 tests against
  * a 128-entry table; a well-formed multi-byte UTF-8 sequence is one
  * non-ASCII codepoint (in-class only for a negated class). The same
  * scan checks each sequence's well-formedness (Unicode Table 3-7); on
  * the first malformed one (a stray continuation, an overlong, a
  * surrogate, a truncated sequence) the row takes the regex form's
  * value instead, since `length` then counts raw lead bytes while the
  * regex sees U+FFFD replacements. Only classes
  * [[AsciiClassOutRatio.parse]] accepts route here — anything with
  * escapes/Unicode stays on the regex form. */
case class AsciiClassOutRatio(child: Expression, classRegex: String)
    extends UnaryExpression {
  override def dataType: DataType = DoubleType
  @transient private lazy val (allowedAscii, nonAsciiAllowed) =
    AsciiClassOutRatio.parse(classRegex).get
  @transient private lazy val pattern = java.util.regex.Pattern.compile(classRegex)
  override def nullSafeEval(input: Any): Any = compute(input)

  def compute(input: Any): Double = {
    val u = input.asInstanceOf[UTF8String]
    val n = u.numBytes
    if (n == 0) return 0.0d
    var chars = 0
    var outC = 0
    var i = 0
    while (i < n) {
      val x = u.getByte(i)
      if (x >= 0) {
        chars += 1
        if (!allowedAscii(x)) outC += 1
        i += 1
      } else {
        val len = AsciiClassOutRatio.sequenceLength(u, i, n)
        if (len == 0) return regexForm(u)
        chars += 1
        if (!nonAsciiAllowed) outC += 1
        i += len
      }
    }
    outC.toDouble / chars
  }

  /** The regex composition's value, for malformed input only: Spark's
    * `regexp_replace` matches over the decoded Java String and
    * re-encodes, `length` counts chars over the bytes it is given. */
  private def regexForm(u: UTF8String): Double =
    UTF8String.fromString(pattern.matcher(u.toString).replaceAll("")).numChars.toDouble /
      u.numChars

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("asciiClassOutRatio", this,
      classOf[AsciiClassOutRatio].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = $ref.compute($c);
    """)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "graft_ascii_class_out_ratio"
}

object AsciiClassOutRatio {
  /** Length of the well-formed UTF-8 sequence whose lead byte (>= 0x80)
    * is at `i` (Unicode Table 3-7: no overlongs, no surrogates, nothing
    * past U+10FFFF), or 0 when it is malformed or cut off at `n`. */
  def sequenceLength(u: UTF8String, i: Int, n: Int): Int = {
    @inline def cont(j: Int, lo: Int, hi: Int): Boolean =
      j < n && { val b = u.getByte(j) & 0xff; b >= lo && b <= hi }
    val b0 = u.getByte(i) & 0xff
    if (b0 >= 0xc2 && b0 <= 0xdf) { if (cont(i + 1, 0x80, 0xbf)) 2 else 0 }
    else if (b0 >= 0xe0 && b0 <= 0xef) {
      val lo = if (b0 == 0xe0) 0xa0 else 0x80
      val hi = if (b0 == 0xed) 0x9f else 0xbf
      if (cont(i + 1, lo, hi) && cont(i + 2, 0x80, 0xbf)) 3 else 0
    } else if (b0 >= 0xf0 && b0 <= 0xf4) {
      val lo = if (b0 == 0xf0) 0x90 else 0x80
      val hi = if (b0 == 0xf4) 0x8f else 0xbf
      if (cont(i + 1, lo, hi) && cont(i + 2, 0x80, 0xbf) && cont(i + 3, 0x80, 0xbf)) 4 else 0
    } else 0
  }

  /** Parse `[...]` / `[^...]` of literal ASCII chars and simple ranges
    * into (allowed-ASCII table, non-ASCII-allowed). None for anything
    * with escapes, nested classes, `&` (a `&&` intersection such as
    * `[a-z&&[^aeiou]]`), or non-ASCII — those callers keep the regex
    * path. */
  def parse(re: String): Option[(Array[Boolean], Boolean)] = {
    if (re.length < 3 || re.charAt(0) != '[' || re.last != ']') return None
    var body = re.substring(1, re.length - 1)
    val neg = body.startsWith("^")
    if (neg) body = body.substring(1)
    if (body.isEmpty) return None
    val set = new Array[Boolean](128)
    var i = 0
    while (i < body.length) {
      val c = body.charAt(i)
      if (c >= 128 || c == '\\' || c == '[' || c == ']' || c == '&') return None
      if (i + 2 < body.length && body.charAt(i + 1) == '-') {
        val d = body.charAt(i + 2)
        if (d >= 128 || d == '\\' || d < c) return None
        var x = c.toInt
        while (x <= d.toInt) { set(x) = true; x += 1 }
        i += 3
      } else { set(c.toInt) = true; i += 1 }
    }
    if (neg) Some((set.map(!_), true)) else Some((set, false))
  }
}

/** Rolling polynomial fingerprint (base 257 mod 2^61-1) — order-
  * sensitive content hash for document fingerprinting. */
case class RollingHash(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  private val Mod = (1L << 61) - 1
  private val Base = 257L
  override def nullSafeEval(input: Any): Any = compute(input)

  def compute(input: Any): Long = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      // (h * Base + b) mod 2^61-1 via 128-bit-safe split multiply
      val hi = Math.multiplyHigh(h, Base)
      val lo = h * Base
      val folded = (lo & Mod) + ((hi << 3) | (lo >>> 61))
      h = (folded + (bytes(i) & 0xffL)) % Mod
      i += 1
    }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("rollingHash", this,
      classOf[RollingHash].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = $ref.compute($c);
    """)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "graft_rolling_hash"
}
