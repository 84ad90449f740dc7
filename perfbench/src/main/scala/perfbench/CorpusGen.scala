package perfbench

import java.util.SplittableRandom

import graft.sources.{LangData, Lexicons}

/** A generated document. `cluster` is the id of the first document of
  * its planted near-duplicate cluster (its own id when unplanted). */
final case class GenDoc(id: Long, text: String, lang: String, source: String,
    url: String, cluster: Long)

/** Word source for one language: the shipped stopword and NSFW lexicons
  * plus synthetic words spelled from the letters and vowel signs of the
  * language's script block (script named in `lang_data.tsv`). Synthetic
  * words follow a Zipf-like rank frequency, like running text. */
final class Vocab(val lang: String, seed: Long) {
  private val rnd = new SplittableRandom(seed)
  val script: String = LangData.byName(lang).script
  private val stop = Lexicons.stopwords(lang).filter(!_.contains(' ')).toArray
  private val nsfw = Lexicons.nsfw(lang).filter(!_.contains(' ')).toArray

  private val (letters, marks) = Vocab.BlockStart.get(script) match {
    case Some(base) =>
      val cps = (base until base + 0x80).filter(cp => Character.isDefined(cp))
      val ls = cps.filter(cp => Character.getType(cp) == Character.OTHER_LETTER)
      val ms = cps.filter { cp =>
        val t = Character.getType(cp)
        (t == Character.NON_SPACING_MARK || t == Character.COMBINING_SPACING_MARK) &&
          Character.getName(cp).contains("VOWEL SIGN")
      }
      (ls.map(cp => new String(Character.toChars(cp))).toArray,
        ms.map(cp => new String(Character.toChars(cp))).toArray)
    case None =>
      ("bcdfghjklmnprstvwy".map(_.toString).toArray, "aeiou".map(_.toString).toArray)
  }
  require(letters.nonEmpty && marks.nonEmpty, s"no letters for script $script")

  private def syllable(): String =
    letters(rnd.nextInt(letters.length)) +
      (if (Vocab.BlockStart.contains(script) && rnd.nextInt(3) == 0) ""
       else marks(rnd.nextInt(marks.length)))

  private val words: Array[String] = {
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    while (seen.size < Vocab.Size)
      seen += Seq.fill(1 + rnd.nextInt(3) + rnd.nextInt(2))(syllable()).mkString
    seen.toArray
  }

  private val cdf: Array[Double] = {
    val w = words.indices.map(r => 1.0 / (r + 8))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }

  def word(r: SplittableRandom, nsfwRate: Double): String = {
    val u = r.nextDouble()
    if (u < nsfwRate) nsfw(r.nextInt(nsfw.length))
    else if (u < nsfwRate + Vocab.StopRate) stop(r.nextInt(stop.length))
    else {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      words(math.min(if (i >= 0) i else -i - 1, words.length - 1))
    }
  }

  def sentenceEnd: String = script match {
    case "devanagari" | "bengali" => "।"
    case _ => "."
  }
}

object Vocab {
  val BlockStart: Map[String, Int] =
    Map("devanagari" -> 0x0900, "bengali" -> 0x0980, "tamil" -> 0x0B80)
  val Size = 4000
  val StopRate = 0.3
}

/** Seeded, single-threaded generators for the two pipeline corpora.
  * The same seed always yields the same documents, ids and clusters. */
object CorpusGen {

  /** Tokens of one document: words, sentence-final tokens carrying the
    * terminal mark, and "\n" paragraph breaks. */
  final case class Body(tokens: Array[String])

  sealed trait Kind
  case object Normal extends Kind
  case object Short extends Kind
  case object NsfwHeavy extends Kind
  case object Repetitive extends Kind

  private def kind(r: SplittableRandom): Kind = {
    val u = r.nextDouble()
    if (u < 0.04) Short else if (u < 0.07) NsfwHeavy else if (u < 0.10) Repetitive else Normal
  }

  def body(v: Vocab, r: SplittableRandom, minWords: Int, maxWords: Int, k: Kind): Body = {
    val n = k match {
      case Short => 20 + r.nextInt(31)
      case _ => minWords + r.nextInt(maxWords - minWords + 1)
    }
    val nsfwRate = if (k == NsfwHeavy) 0.08 else 0.003
    val out = scala.collection.mutable.ArrayBuffer[String]()
    if (k == Repetitive) {
      val sentence = Array.fill(12)(v.word(r, nsfwRate))
      while (out.length < n) { out ++= sentence.init; out += sentence.last + v.sentenceEnd }
    } else {
      var inSentence = 0
      var sentenceLen = 8 + r.nextInt(13)
      var sentences = 0
      while (out.length < n) {
        inSentence += 1
        if (inSentence == sentenceLen) {
          out += v.word(r, nsfwRate) + v.sentenceEnd
          inSentence = 0
          sentenceLen = 8 + r.nextInt(13)
          sentences += 1
          if (sentences % 5 == 0) out += "\n"
        } else out += v.word(r, nsfwRate)
      }
    }
    Body(out.toArray)
  }

  /** A near-duplicate: `edits` plain-word tokens replaced. */
  def variant(b: Body, v: Vocab, r: SplittableRandom, edits: Int): Body = {
    val t = b.tokens.clone()
    var done = 0
    var tries = 0
    while (done < edits && tries < edits * 20) {
      val i = r.nextInt(t.length)
      val w = t(i)
      if (w != "\n" && !w.endsWith(v.sentenceEnd)) { t(i) = v.word(r, 0.0); done += 1 }
      tries += 1
    }
    Body(t)
  }

  def text(b: Body): String = b.tokens.mkString(" ").replace(" \n ", "\n")

  /** Random permutation of 0 until n (Fisher-Yates). */
  def permutation(n: Int, r: SplittableRandom): Array[Long] = {
    val a = Array.tabulate(n)(_.toLong)
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val x = a(i); a(i) = a(j); a(j) = x
      i -= 1
    }
    a
  }

  /** Majority-Indic plain-text corpus: hi/bn/ta plus an English
    * minority, multi-KB documents, about 7% of documents in planted
    * near-duplicate clusters of 2-4 members. */
  val IndicMix: Seq[(String, Double)] =
    Seq("hindi" -> 0.38, "bengali" -> 0.30, "tamil" -> 0.24, "english" -> 0.08)

  def indic(seed: Long, docs: Int): Seq[GenDoc] = {
    val r = new SplittableRandom(seed)
    val vocabs = IndicMix.map { case (l, _) => l -> new Vocab(l, seed * 31 + l.hashCode) }.toMap
    val ids = permutation(docs, r)
    val out = scala.collection.mutable.ArrayBuffer[GenDoc]()
    def lang(): String = {
      val u = r.nextDouble()
      IndicMix.scanLeft(("", 0.0)) { case ((_, acc), (l, p)) => (l, acc + p) }
        .tail.find(_._2 > u).map(_._1).getOrElse(IndicMix.last._1)
    }
    def add(b: Body, l: String, cluster: Option[Long]): Long = {
      val id = ids(out.length)
      val code = LangData.shortCode(LangData.byName(l))
      val src = s"site${r.nextInt(40)}"
      out += GenDoc(id, text(b), code, src, s"https://$src.example/$code/$id",
        cluster.getOrElse(id))
      id
    }
    while (out.length < docs) {
      val l = lang()
      val v = vocabs(l)
      val b = body(v, r, 450, 1100, kind(r))
      val id = add(b, l, None)
      // one base in 40 gets 1-3 variants (2-6 words replaced)
      if (r.nextInt(40) == 0) {
        val copies = 1 + r.nextInt(3)
        var c = 0
        while (c < copies && out.length < docs) {
          add(variant(b, v, r, 2 + r.nextInt(6)), l, Some(id)); c += 1
        }
      }
    }
    out.toSeq
  }

  private val Sections = Seq("news", "sports", "business", "world", "tech", "life")

  private def page(site: String, siteIdx: Int, title: String, b: Body, v: Vocab,
      r: SplittableRandom): String = {
    val sb = new StringBuilder
    def w(n: Int) = Seq.fill(n)(v.word(r, 0.0)).mkString(" ")
    sb ++= s"<html><head><title>$title | $site</title></head><body>"
    sb ++= s"""<header><div class="logo">$site</div><nav><ul>"""
    Sections.foreach(s => sb ++= s"""<li><a href="/$s">$s</a></li>""")
    sb ++= "</ul></nav></header><main><article>"
    sb ++= s"<h1>$title</h1>"
    text(b).split("\n").foreach(p => sb ++= s"<p>$p</p>")
    sb ++= """</article><aside><h3>more from """ + site + "</h3><ul>"
    (0 until 3 + siteIdx % 3).foreach(_ =>
      sb ++= s"""<li><div class="teaser"><a href="/t/${r.nextInt(100000)}">${w(8)}</a> ${w(6)}</div></li>""")
    sb ++= "</ul></aside>"
    sb ++= s"""<div class="related">related: <a href="/r1">${w(5)}</a> <a href="/r2">${w(5)}</a></div>"""
    sb ++= s"</main><footer><p>copyright $site all rights reserved</p>"
    sb ++= s"""<p><a href="/privacy">privacy</a> <a href="/terms">terms</a></p></footer></body></html>"""
    sb.toString
  }

  /** Size of each of the crawl's two clusters above the LSH bucket cap
    * (`MinHash`'s default `maxBucket`, 1000), with room for every band
    * key to stay shared by more than the cap. */
  val GiantCluster = 1250
  /** Size of the largest cluster of the crawl's rank-size tail; the k-th
    * has `TailTop / k` members. */
  val TailTop = 120

  /** English HTML crawl from site templates (nav, teaser and footer
    * chrome) with near-duplicate clusters of Zipf-distributed size: two
    * clusters larger than the LSH bucket cap, a rank-size tail, and
    * singletons filling the rest. Variants differ from their cluster's
    * first page by a few words, as syndicated copies do; members of the
    * large clusters by one word, so that well over `maxBucket` of them
    * share each LSH band key with the first page and every band's
    * bucket trips the cap (a bucket just under the cap would expand to
    * ~cap²/2 pairs instead). */
  def crawl(seed: Long, docs: Int): Seq[GenDoc] = {
    val r = new SplittableRandom(seed)
    val v = new Vocab("english", seed * 31 + 7)
    val sites = Array.fill(24)(v.word(r, 0.0) + "-" + v.word(r, 0.0) + ".example")
    val tail = Iterator.from(1).map(k => TailTop / k).takeWhile(_ >= 2).toSeq
    val sizes = Seq(GiantCluster, GiantCluster) ++ tail
    require(sizes.sum < docs, s"planted clusters (${sizes.sum} docs) exceed corpus size $docs")
    val ids = permutation(docs, r)
    val out = scala.collection.mutable.ArrayBuffer[GenDoc]()
    def add(b: Body, title: String, cluster: Option[Long]): Long = {
      val si = r.nextInt(sites.length)
      val id = ids(out.length)
      out += GenDoc(id, page(sites(si), si, title, b, v, r), "en", sites(si),
        s"https://${sites(si)}/${Sections(si % Sections.size)}/$id", cluster.getOrElse(id))
      id
    }
    def title(): String = Seq.fill(6)(v.word(r, 0.0)).mkString(" ")
    // planted bodies have one fixed length: a cluster's size multiplies
    // its body, and corpus size should not swing with the seed
    sizes.foreach { n =>
      val b = body(v, r, 375, 375, Normal)
      val t = title()
      val base = add(b, t, None)
      val maxEdits = if (n >= GiantCluster) 1 else 2
      (1 until n).foreach(_ => add(variant(b, v, r, 1 + r.nextInt(maxEdits)), t, Some(base)))
    }
    while (out.length < docs) add(body(v, r, 250, 500, kind(r)), title(), None)
    out.toSeq
  }
}
