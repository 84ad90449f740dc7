package graft.functions

import scala.collection.mutable

import org.apache.spark.unsafe.types.UTF8String

/** Aho-Corasick multi-pattern automaton (public algorithm, Aho &
  * Corasick '75) — the JVM replacement for the reference's flashtext
  * keyword processors (setu/constants.py:212-233, setu/filters.py:742-748).
  *
  * Matches are word-boundary-valid occurrences (flashtext semantics:
  * a hit must not touch a letter/digit/underscore on either side);
  * overlapping hits of *different* keywords are all counted, and the
  * automaton is built once and shared per executor via the expression's
  * transient lazy val — no driver-side state rides the plan.
  *
  * Hot-path layout (optimization guide §4/codegen — the r14 profile
  * showed the funnel allocation-bound, and the r15 stack samples put
  * this traversal's per-char `mutable.HashMap[Char,Int]` lookups —
  * boxing every input char — at the top): after the BFS build, the
  * goto/fail graph is flattened into a dense ASCII DFA
  * (`asciiNext(state * 128 + char)` with fail links pre-resolved, the
  * classic AC→DFA conversion restricted to the ASCII plane), so the
  * per-char step on ASCII input is one array load. Non-ASCII chars
  * take the original fail-walk over the HashMaps. Full-ASCII inputs
  * additionally traverse the UTF8String BYTES directly — no
  * UTF8String→String copy at all.
  */
object AhoCorasick {
  // Executor-JVM-wide build cache (optimization guide §4.5: heavyweight
  // state once per executor, not per row/batch/task). Every task
  // deserializes its own copy of the expression tree, so a per-instance
  // `@transient lazy val trie` rebuilds the automaton ONCE PER TASK —
  // invisible on a 1-task scan stage, but profiled r14 at ~240 ms/task
  // of pure rebuild when the same funnel ran 32 tasks wide. Keyed by
  // the keyword list (content equality).
  //
  // Bounded by what the automata hold, not by how many there are: the
  // dense ASCII table is states × 128 ints, so one large lexicon can
  // outweigh many small ones. 2^23 cells (32 MB of tables) holds every
  // shipped lexicon at once with room to spare.
  private[graft] val MaxCells = 1L << 23
  private val cache = new Cache(MaxCells)
  def shared(keywords: IndexedSeq[String]): AhoCorasick = cache.get(keywords)

  /** Automaton cache bounded by total dense-table cells. A build runs
    * once per key (`computeIfAbsent`); admitting it evicts the oldest
    * admitted entries until the total fits `maxCells` (r14 ADVICE: one
    * overflow must not clear every hot lexicon at once). An automaton
    * larger than the whole budget is returned but not kept. */
  private[graft] final class Cache(maxCells: Long) {
    private val map =
      new java.util.concurrent.ConcurrentHashMap[IndexedSeq[String], AhoCorasick]()
    // admitted entries in admission order, and their cell total; only
    // touched under this cache's lock
    private val admitted = new java.util.LinkedHashMap[IndexedSeq[String], Long]()
    private var cells = 0L

    def get(keywords: IndexedSeq[String]): AhoCorasick = {
      val hit = map.get(keywords)
      if (hit != null) return hit
      var built: AhoCorasick = null
      val ac = map.computeIfAbsent(keywords, kw => { built = new AhoCorasick(kw); built })
      if (built != null) admit(keywords, built.denseCells)
      ac
    }

    private def admit(keywords: IndexedSeq[String], need: Long): Unit = synchronized {
      if (need > maxCells) map.remove(keywords)
      else {
        val it = admitted.entrySet.iterator
        while (cells + need > maxCells && it.hasNext) {
          val e = it.next()
          it.remove()
          map.remove(e.getKey)
          cells -= e.getValue
        }
        admitted.put(keywords, need)
        cells += need
      }
    }

    def totalCells: Long = synchronized(cells)
    def size: Int = map.size
  }
}

final class AhoCorasick(val keywords: IndexedSeq[String]) extends Serializable {

  // Flat automaton arrays built eagerly; ~O(total pattern chars) states.
  private val gotoMaps = mutable.ArrayBuffer[mutable.HashMap[Char, Int]]()
  private val fail = mutable.ArrayBuffer[Int]()
  private val out = mutable.ArrayBuffer[List[Int]]()

  private def newState(): Int = {
    gotoMaps += mutable.HashMap.empty
    fail += 0
    out += Nil
    gotoMaps.size - 1
  }

  {
    newState() // root
    keywords.zipWithIndex.foreach { case (kw, idx) =>
      var s = 0
      kw.foreach { ch =>
        s = gotoMaps(s).getOrElseUpdate(ch, newState())
      }
      out(s) = idx :: out(s)
    }
    // BFS fail links
    val queue = mutable.Queue[Int]()
    gotoMaps(0).values.foreach { s => fail(s) = 0; queue += s }
    while (queue.nonEmpty) {
      val r = queue.dequeue()
      gotoMaps(r).foreach { case (ch, s) =>
        queue += s
        var f = fail(r)
        while (f != 0 && !gotoMaps(f).contains(ch)) f = fail(f)
        fail(s) = if (f != r && gotoMaps(f).contains(ch)) gotoMaps(f)(ch) else 0
        out(s) = out(s) ::: out(fail(s))
      }
    }
  }

  /** Dense ASCII-plane DFA: asciiNext(s * 128 + c) is the fail-resolved
    * next state for char c < 128 — δ(s,c) = goto(s,c) if present else
    * δ(fail(s),c), computed in BFS order so parents resolve first (the
    * textbook AC→DFA conversion, restricted to ASCII). One array load
    * replaces the per-char HashMap probe (+ Char boxing) on the hot
    * path; chars ≥ 128 still take the fail-walk. */
  private val asciiNext: Array[Int] = {
    val n = gotoMaps.size
    val t = new Array[Int](n * 128)
    // root row first: goto or stay at root
    var c = 0
    while (c < 128) {
      t(c) = gotoMaps(0).getOrElse(c.toChar, 0)
      c += 1
    }
    // BFS over the trie so t(fail(s)) is complete before t(s)
    val queue = mutable.Queue[Int]()
    gotoMaps(0).values.foreach(queue += _)
    while (queue.nonEmpty) {
      val s = queue.dequeue()
      val base = s * 128
      val failBase = fail(s) * 128
      var ch = 0
      while (ch < 128) {
        t(base + ch) = gotoMaps(s).getOrElse(ch.toChar, t(failBase + ch))
        ch += 1
      }
      gotoMaps(s).values.foreach(queue += _)
    }
    t
  }

  /** Cells of the dense ASCII table (states × 128): the cache's unit. */
  def denseCells: Long = asciiNext.length.toLong

  /** out(s) as arrays for an allocation-free hit loop. */
  private val outArr: Array[Array[Int]] = out.map(_.toArray).toArray
  private val kwLens: Array[Int] = keywords.map(_.length).toArray

  // Combining marks count as word chars: in Brahmic scripts a vowel
  // sign / nukta / virama continues the word, so "चूत" must NOT match
  // inside "चूतिया" (the following char is U+093F, category Mc).
  @inline private def isWordChar(c: Char): Boolean =
    Character.isLetterOrDigit(c) || c == '_' || {
      val t = Character.getType(c)
      t == Character.NON_SPACING_MARK || t == Character.COMBINING_SPACING_MARK ||
        t == Character.ENCLOSING_MARK
    }

  /** One automaton step (fail-resolved): dense table for ASCII, fail-walk
    * for the rest. */
  @inline private def step(state: Int, ch: Char): Int =
    if (ch < 128) asciiNext(state * 128 + ch)
    else {
      var s = state
      while (s != 0 && !gotoMaps(s).contains(ch)) s = fail(s)
      gotoMaps(s).getOrElse(ch, 0)
    }

  /** Boundary-valid match spans as (start, end) codepoint-naive char
    * offsets, in match-end order (F15 shape, setu/filters.py:733-740). */
  def findSpans(text: String): Seq[(Int, Int)] = {
    val spans = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
    var s = 0
    var i = 0
    while (i < text.length) {
      s = step(s, text.charAt(i))
      val hits = outArr(s)
      var h = 0
      while (h < hits.length) {
        val start = i - kwLens(hits(h)) + 1
        val leftOk = start == 0 || !isWordChar(text.charAt(start - 1))
        val rightOk = i == text.length - 1 || !isWordChar(text.charAt(i + 1))
        if (leftOk && rightOk) spans += ((start, i + 1))
        h += 1
      }
      i += 1
    }
    spans.toSeq
  }

  /** Count boundary-valid occurrences per keyword index. */
  def countMatches(text: String): Array[Int] = {
    val counts = new Array[Int](keywords.size)
    var s = 0
    var i = 0
    while (i < text.length) {
      s = step(s, text.charAt(i))
      val hits = outArr(s)
      var h = 0
      while (h < hits.length) {
        val start = i - kwLens(hits(h)) + 1
        val leftOk = start == 0 || !isWordChar(text.charAt(start - 1))
        val rightOk = i == text.length - 1 || !isWordChar(text.charAt(i + 1))
        if (leftOk && rightOk) counts(hits(h)) += 1
        h += 1
      }
      i += 1
    }
    counts
  }

  @inline private def isAsciiWordByte(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') ||
      (b >= '0' && b <= '9') || b == '_'

  /** TOTAL boundary-valid hit count straight off the UTF8String. For
    * full-ASCII input (one vectorizable byte scan to check) this never
    * materializes a java.lang.String or a per-row counts array — byte ==
    * char, boundary test is the ASCII word-char test, every automaton
    * step is one dense-table load. Non-ASCII inputs fall back to the
    * exact String path. */
  def countTotal(u: UTF8String): Int = {
    if (!u.isFullAscii) return countMatches(u.toString).sum
    val b = u.getBytes
    var total = 0
    var s = 0
    var i = 0
    while (i < b.length) {
      s = asciiNext(s * 128 + b(i))
      val hits = outArr(s)
      var h = 0
      while (h < hits.length) {
        val start = i - kwLens(hits(h)) + 1
        val leftOk = start == 0 || !isAsciiWordByte(b(start - 1))
        val rightOk = i == b.length - 1 || !isAsciiWordByte(b(i + 1))
        if (leftOk && rightOk) total += 1
        h += 1
      }
      i += 1
    }
    total
  }

  /** Per-keyword counts straight off the UTF8String (the
    * [[countTotal]] fast path with the per-index array kept). */
  def countMatchesUtf8(u: UTF8String): Array[Int] = {
    if (!u.isFullAscii) return countMatches(u.toString)
    val b = u.getBytes
    val counts = new Array[Int](keywords.size)
    var s = 0
    var i = 0
    while (i < b.length) {
      s = asciiNext(s * 128 + b(i))
      val hits = outArr(s)
      var h = 0
      while (h < hits.length) {
        val start = i - kwLens(hits(h)) + 1
        val leftOk = start == 0 || !isAsciiWordByte(b(start - 1))
        val rightOk = i == b.length - 1 || !isAsciiWordByte(b(i + 1))
        if (leftOk && rightOk) counts(hits(h)) += 1
        h += 1
      }
      i += 1
    }
    counts
  }
}
