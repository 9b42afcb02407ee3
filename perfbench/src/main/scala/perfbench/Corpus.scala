package perfbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import graft.sources.{LangData, Lexicons}

/** One raw crawl row, the shape a setu run reads from parquet. */
final case class Doc(doc_id: Long, url: String, source: String, lang: String,
    text: String)

/** What the generator planted, written beside the corpus so the checks
  * and the recall metric know the right answer.
  *
  * @param families   near-dup families, head = the base document
  * @param exactGroups exact-copy groups (identical text), head = original
  * @param flags      flag column -> documents planted to trip it
  * @param underCap   index into `families` of the family sized just under
  *                   the LSH bucket cap, -1 if none
  * @param overCap    index of the family sized above the cap, -1 if none
  */
final case class Truth(
    families: Vector[Vector[Long]],
    exactGroups: Vector[Vector[Long]],
    flags: Map[String, Vector[Long]],
    underCap: Int,
    overCap: Int)

final case class Corpus(docs: Vector[Doc], truth: Truth) {
  lazy val textBytes: Long =
    docs.iterator.map(_.text.getBytes("UTF-8").length.toLong).sum
}

/** Seeded corpus generator. Vocabulary comes only from the engine's
  * classpath resources (stopword and NSFW lexicons, `lang_data.tsv` for
  * the language codes, `dedup_thresholds.tsv` for a language's normal
  * document length) plus syllable-built pseudo-words, so the same seed
  * gives the same bytes on any machine.
  */
object Corpus {

  /** Words per giant-family document: just over the shipped configs'
    * `min_word_count` of 60 once the member tag word is added. */
  private val GiantWords = 62

  /** Size of the family whose LSH buckets stay under the cap: large enough
    * that expanding its buckets into all pairs dominates a unit. */
  val UnderCapFamily = 300

  /** Multiples of the base document mix (below) each workload runs at:
    * the largest whose run, ten measured seconds included, ends in about
    * a minute on 4 cores. `indic_crawl` at 1x spent 43% of a unit outside
    * any Spark stage; at 4x it spends 29%. `web_neardup`'s units are
    * mostly the fixed giant families' pairs, so size moves them little. */
  val IndicScale = 4
  val WebScale = 2

  /** Share of `web_neardup` documents that belong to near-dup families. */
  val FamilyShare = 0.3

  /** `m` family sizes at the quantiles of a Pareto(2, 1.3), at most 120. */
  private def tailSizes(m: Int): IndexedSeq[Int] = (1 to m).map(k =>
    math.min(120, (2 / math.pow(1 - (k - 0.5) / m, 1 / 1.3)).toInt))

  def generate(workload: String, seed: Long): Corpus = workload match {
    case "indic_crawl" => new Gen(seed, 1L, IndicScale).indic()
    case "web_neardup" => new Gen(seed, 2L, WebScale).web()
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private val Flag = (
    "has_less_words", "is_short_words_heavy", "is_nsfw_heavy",
    "is_non_li_heavy", "has_word_repetition")

  private def langCode(name: String): String =
    LangData.shortCode(LangData.byName(name))

  private def typicalChars(name: String): Int =
    LangData.dedupThresholds.toMap.apply(name)

  private final class Gen(seed: Long, stream: Long, scale: Int) {
    private val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

    /** A planted count at this workload's size. */
    private def n(count: Int): Int = count * scale

    private def pick[T](xs: IndexedSeq[T]): T = xs(rng.nextInt(xs.size))

    /** Zipf-like skew: low indices (common words) are drawn most. */
    private def pickSkewed[T](xs: IndexedSeq[T]): T = {
      val u = rng.nextDouble()
      xs(math.min(xs.size - 1, (xs.size * u * u * u).toInt))
    }

    private def chance(p: Double): Boolean = rng.nextDouble() < p

    private def singleTokens(ws: Seq[String]): Vector[String] =
      ws.filter(w => w.nonEmpty && !w.exists(_.isWhitespace)).distinct.toVector

    /** `n` distinct pseudo-words from syllables, none equal to a word in
      * `avoid` (so no unplanted lexicon hit). */
    private def pseudoWords(n: Int, syllable: () => String, minSyl: Int,
        maxSyl: Int, avoid: Set[String]): Vector[String] = {
      val out = scala.collection.mutable.LinkedHashSet[String]()
      while (out.size < n) {
        val k = minSyl + rng.nextInt(maxSyl - minSyl + 1)
        val w = Iterator.fill(k)(syllable()).mkString
        if (!avoid(w)) out += w
      }
      out.toVector
    }

    // --- scripts -------------------------------------------------------
    private val devaConsonants = (0x0915 to 0x0939).map(_.toChar.toString)
    private val devaMatras = ((0x093E to 0x094C) :+ 0x0902).map(_.toChar.toString)
    private val devaDigits = (0x0966 to 0x096F).map(_.toChar)
    private val Danda = "।"
    private val latinOnset = "b c d f g h j k l m n p r s t v w y ch sh th bh dh kh".split(" ").toVector
    private val latinVowel = "a e i o u a e i o aa ee ai".split(" ").toVector

    private def devaSyllable(): String =
      pick(devaConsonants) + (if (chance(0.7)) pick(devaMatras) else "")
    private def latinSyllable(): String = pick(latinOnset) + pick(latinVowel)

    private def number(deva: Boolean): String = {
      val s = (1 + rng.nextInt(2100)).toString
      if (deva) s.map(c => devaDigits(c - '0')) else s
    }

    // --- document bodies -------------------------------------------------

    /** Running text of `words` tokens drawn from `stop` (share `stopShare`)
      * and `content`, split into sentences ended by `end`. */
    private def prose(words: Int, stop: IndexedSeq[String],
        content: IndexedSeq[String], stopShare: Double, end: String,
        capitalize: Boolean, numberP: Double, deva: Boolean): String = {
      val sb = new StringBuilder
      var left = words
      while (left > 0) {
        val len = math.min(left, 6 + rng.nextInt(13))
        var i = 0
        while (i < len) {
          var w =
            if (numberP > 0 && chance(numberP)) number(deva)
            else if (chance(stopShare)) pickSkewed(stop)
            else pickSkewed(content)
          if (i == 0 && capitalize) w = w.capitalize
          if (sb.nonEmpty) sb += ' '
          sb ++= w
          i += 1
        }
        sb ++= end
        left -= len
      }
      sb.toString
    }

    /** A phrase repeated until `words` tokens: trips word repetition. */
    private def repetitive(words: Int, vocab: IndexedSeq[String]): String = {
      val phrase = Vector.fill(7)(pick(vocab))
      Iterator.continually(phrase).flatten.take(words).mkString(" ")
    }

    /** Every 8th word replaced by a lexicon word: an NSFW ratio of at
      * least 1/8, three times the shipped configs' threshold. */
    private def lace(text: String, lexicon: IndexedSeq[String]): String =
      text.split(" ").zipWithIndex
        .map { case (w, i) => if (i % 8 == 7) pick(lexicon) else w }.mkString(" ")

    /** Near-dup member: `subs` word substitutions plus one unique tag word
      * (so members never collapse as exact copies). */
    private def mutate(base: String, subs: Int, vocab: IndexedSeq[String],
        tag: String): String = {
      val ws = base.split(" ")
      var i = 0
      while (i < subs) { ws(rng.nextInt(ws.length)) = pick(vocab); i += 1 }
      ws.mkString(" ") + " " + tag
    }

    /** Unique lowercase tag word for member `i` of family `f`. */
    private def tag(f: Int, i: Int): String = {
      def b26(n0: Int): String = {
        val sb = new StringBuilder; var n = n0
        while ({ sb += ('a' + n % 26).toChar; n /= 26; n > 0 }) ()
        sb.toString
      }
      "q" + b26(f) + "x" + b26(i)
    }

    /** Length in words around a language's typical document size. */
    private def normalWords(chars: Int, charsPerWord: Double): Int = {
      val base = chars / charsPerWord
      (base * (1.1 + 2.5 * rng.nextDouble() * rng.nextDouble())).toInt
    }

    // --- assembly --------------------------------------------------------

    private final class Builder(lang: () => String, sites: Int) {
      val texts = ArrayBuffer[String]()
      val langs = ArrayBuffer[String]()
      val families = ArrayBuffer[Vector[Int]]()
      val exact = ArrayBuffer[Vector[Int]]()
      val flags = scala.collection.mutable.LinkedHashMap[String, ArrayBuffer[Int]]()

      def add(text: String, l: String = lang()): Int = {
        texts += text; langs += l; texts.size - 1
      }
      def plant(flag: String, text: String): Unit =
        flags.getOrElseUpdate(flag, ArrayBuffer()) += add(text)
      /** A near-dup family; `member(i)` makes member `i` (0 = the base,
        * which member `i` finds `i` rows back). Returns its index. */
      def family(size: Int, member: Int => String): Int = {
        families += (0 until size).map(i => add(member(i))).toVector
        families.size - 1
      }
      def copyOf(i: Int): Unit = {
        val j = add(texts(i), langs(i))
        exact.indexWhere(_.head == i) match {
          case -1 => exact += Vector(i, j)
          case g => exact(g) = exact(g) :+ j
        }
      }

      /** Shuffle, assign doc ids, translate planted indices to ids. */
      def finish(underCap: Int, overCap: Int): Corpus = {
        val n = texts.size
        val perm = (0 until n).toArray
        var k = n - 1
        while (k > 0) {
          val r = rng.nextInt(k + 1); val t = perm(k); perm(k) = perm(r); perm(r) = t; k -= 1
        }
        // perm(position) = planted index; id = position + 1
        val idOf = new Array[Long](n)
        perm.zipWithIndex.foreach { case (ix, pos) => idOf(ix) = pos + 1L }
        val docs = perm.iterator.zipWithIndex.map { case (ix, pos) =>
          val site = ix % sites
          Doc(pos + 1L, s"https://site$site.example/p/${pos + 1}", s"crawl-$site",
            langs(ix), texts(ix))
        }.toVector
        Corpus(docs, Truth(
          families.map(_.map(idOf)).toVector,
          exact.map(_.map(idOf)).toVector,
          flags.map { case (f, ixs) => f -> ixs.map(idOf).toVector }.toMap,
          underCap, overCap))
      }
    }

    /** `n` documents from `make`, returning their indices. */
    private def many[T](n: Int)(make: => T): IndexedSeq[T] = (0 until n).map(_ => make)

    /** Mostly-Devanagari crawl under the Hindi config: mixed scripts,
      * danda and Devanagari digits, planted NSFW-dense, short, short-word
      * and repetitive documents, exact copies and a few small near-dup
      * families (among the Latin-script rows, the only ones the shipped
      * config keeps). Every kind of document has a fixed count, so seeds
      * change the text, not the mix. */
    def indic(): Corpus = {
      val nsfw = singleTokens(Lexicons.nsfw("hindi"))
      val stop = singleTokens(Lexicons.stopwords("hindi"))
      val avoid = (nsfw ++ stop).toSet
      val deva = pseudoWords(6000, () => devaSyllable(), 1, 3, avoid)
      val latin = pseudoWords(3000, () => latinSyllable(), 2, 4, Set.empty)
      val latinStop = latin.take(60)
      val shortStop = stop.filter(_.length <= 2)
      val langs = Vector("hindi" -> 0.85, "marathi" -> 0.10, "nepali" -> 0.05)
        .map { case (l, p) => langCode(l) -> p }
      def lang(): String = {
        val u = rng.nextDouble(); var acc = 0.0
        langs.find { case (_, p) => acc += p; u < acc }.getOrElse(langs.head)._1
      }
      val chars = typicalChars("hindi")
      val b = new Builder(() => lang(), 40)
      def devaDoc(words: Int) =
        prose(words, stop, deva, 0.35, Danda, capitalize = false, 0.01, deva = true)
      def latinDoc(words: Int) =
        prose(words, latinStop, latin, 0.3, "", capitalize = false, 0.0, deva = false)
      def normal = normalWords(chars, 5.5)

      val devaRows = many(n(3600))(b.add(devaDoc(normal)))
      // code-mixed: Devanagari running text with Latin-script words
      many(n(440))(b.add(devaDoc(normal).split(" ")
        .map(w => if (chance(0.2)) pickSkewed(latin) else w).mkString(" ")))
      val latinRows = many(n(500))(b.add(latinDoc(normal)))
      many(n(160))(b.plant(Flag._3, lace(devaDoc(normal), nsfw)))
      many(n(220))(b.plant(Flag._1, devaDoc(12 + rng.nextInt(40))))
      many(n(110))(b.plant(Flag._2, prose(80 + rng.nextInt(80), shortStop, shortStop, 1.0,
        Danda, capitalize = false, 0.0, deva = true)))
      many(n(160))(b.plant(Flag._5, repetitive(90 + rng.nextInt(120), deva)))
      many(n(60))(b.plant(Flag._4, prose(normal, latinStop, latin, 0.3, ".",
        capitalize = true, 0.25, deva = false)))
      // exact copies, half of them of rows the config keeps
      many(n(70))(b.copyOf(pick(latinRows)))
      many(n(70))(b.copyOf(pick(devaRows)))
      (0 until n(30)).foreach(f => b.family(2 + f % 3, i =>
        if (i == 0) latinDoc(normal) else mutate(b.texts(b.texts.size - i), 3, latin,
          tag(f, i))))
      b.finish(-1, -1)
    }

    /** English web crawl where 30% of documents belong to planted near-dup
      * families with heavy-tailed sizes, one family under the LSH bucket
      * cap and one above it. */
    def web(): Corpus = {
      val nsfw = singleTokens(Lexicons.nsfw("english"))
      val stop = singleTokens(Lexicons.stopwords("english"))
        .filter(_.forall(c => c >= 'a' && c <= 'z'))
      val avoid = (nsfw ++ stop).toSet
      val words = pseudoWords(5000, () => latinSyllable(), 2, 4, avoid)
      val en = langCode("english")
      val chars = typicalChars("english")
      val b = new Builder(() => en, 60)
      def doc(n: Int) =
        prose(n, stop, words, 0.45, ".", capitalize = true, 0.0, deva = false)
      def normal = normalWords(chars, 4.0)
      // Giant families of short documents: a member differs from the base
      // by one tag word, i.e. one new shingle out of about 60, so it keeps
      // the base's key in a band with probability (60/61)^4 = 0.94. The
      // under-cap family's buckets (~280) are expanded into all pairs; the
      // over-cap family's (~1120, many deviations above the cap) fall back
      // to star pairs.
      def giant(size: Int, f: Int): Int = b.family(size, i =>
        if (i == 0) doc(GiantWords) else b.texts(b.texts.size - i) + " " + tag(f, i))
      val underCap = giant(UnderCapFamily, 0)
      val overCap = giant(Bench.MaxBucket * 6 / 5, 1)
      val (nSingles, nFlagged, nShort, nCopies) = (n(4460), n(80), n(250), n(250))
      // heavy tail: family sizes at the quantiles of a Pareto(2, 1.3), as
      // many families as bring all families to FamilyShare of the corpus
      val unrelated = nSingles + nShort + 4 * nFlagged + nCopies
      val tailDocs = (unrelated * FamilyShare / (1 - FamilyShare)).toInt -
        b.families.map(_.size).sum
      val tail = Iterator.from(1).map(tailSizes).find(_.sum >= tailDocs).get
      tail.zipWithIndex.foreach { case (size, k) =>
        b.family(size, i =>
          if (i == 0) doc(70 + rng.nextInt(60)) else mutate(b.texts(b.texts.size - i), 3, words,
            tag(k + 2, i)))
      }
      val singles = many(nSingles)(b.add(doc(normal)))
      many(nShort)(b.plant(Flag._1, doc(10 + rng.nextInt(45))))
      many(nFlagged)(b.plant(Flag._3, lace(doc(normal), nsfw)))
      many(nFlagged)(b.plant(Flag._5, repetitive(90 + rng.nextInt(120), words)))
      val shortStop = stop.filter(_.length <= 2)
      many(nFlagged)(b.plant(Flag._2, prose(80 + rng.nextInt(60), shortStop, shortStop, 1.0,
        ".", capitalize = false, 0.0, deva = false)))
      many(nFlagged)(b.plant(Flag._4, prose(normal, stop, words, 0.45, ".",
        capitalize = true, 0.25, deva = false)))
      many(nCopies)(b.copyOf(pick(singles)))
      b.finish(underCap, overCap)
    }
  }

  /** The truth sidecar as JSON. */
  def truthJson(c: Corpus, workload: String, seed: Long): String = {
    val t = c.truth
    Json.write(Json.obj(
      "workload" -> workload, "seed" -> seed, "docs" -> c.docs.size,
      "text_bytes" -> c.textBytes,
      "families" -> t.families, "exact_groups" -> t.exactGroups,
      "flags" -> t.flags, "under_cap_family" -> t.underCap,
      "over_cap_family" -> t.overCap))
  }
}
