package newsbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** One generated news page. `id` is the article's key and grows with
  * arrival order; `dupOf` names the earlier article this one
  * near-duplicates (a syndicated copy with edit noise).
  */
final case class Article(id: Long, url: String, topic: String,
                         published: String, tsSec: Long, html: String,
                         text: String, dupOf: Option[Long],
                         lowQuality: Boolean) {
  def bytes: Long = html.getBytes(UTF_8).length.toLong
}

/** A backfill corpus with its ground truth. */
final case class Corpus(articles: IndexedSeq[Article]) {
  /** Planted near-duplicate pairs (original id, copy id). */
  def plantedPairs: Seq[(Long, Long)] =
    articles.flatMap(a => a.dupOf.map(o => (o, a.id)))
  /** Ids a correct near-dup pass keeps: every cluster keeps its
    * smallest id, and a copy's original always has the smaller id.
    */
  def survivors: Set[Long] =
    articles.filter(_.dupOf.isEmpty).map(_.id).toSet
  def inputBytes: Long = articles.map(_.bytes).sum
  def byId: Map[Long, Article] = articles.map(a => a.id -> a).toMap
}

/** The stream backlog: slice `i` is the `i`-th file the stream reads.
  * A slice may re-deliver articles of the slices just before it (same
  * row, same url), which url admission must drop.
  */
final case class Backlog(slices: IndexedSeq[IndexedSeq[Article]]) {
  def inputBytes(upTo: Int): Long =
    slices.take(upTo).map(_.map(_.bytes).sum).sum
}

/** Seeded generator of Vietnamese news HTML. Everything is a pure
  * function of the seed and the size arguments.
  *
  * Input properties (README.md gives each one's source, or marks it
  * an assumption):
  *  - 8 sites and 12 sections, the reference's feed configuration;
  *  - words are Vietnamese syllables with diacritics, so the cleaning
  *    regexes, `lower()` and the Unicode-aware tokenizers see the text
  *    the pipeline was built for;
  *  - article lengths are log-normal (a long right tail) and rescaled
  *    to a fixed word budget, so the tail varies with the seed while
  *    the total work per pass does not;
  *  - a planted share of near-duplicates differ from their original in
  *    page chrome, photo credit and one body word per 200, so every
  *    planted pair is a near-certain MinHash/LSH candidate and no other
  *    pair is;
  *  - sections follow a skewed share, so per-topic index shards differ
  *    in size.
  *
  * Each article also carries `text`, the article text a correct
  * extract-and-clean step recovers from its page, built from the words
  * the generator put there rather than from the page.
  */
object Gen {

  val Topics: IndexedSeq[String] = IndexedSeq("thoi-su", "the-gioi",
    "kinh-doanh", "cong-nghe", "the-thao", "giai-tri", "suc-khoe",
    "giao-duc", "phap-luat", "du-lich", "khoa-hoc", "doi-song")
  private val TopicNames = IndexedSeq("Thời sự", "Thế giới", "Kinh doanh",
    "Công nghệ", "Thể thao", "Giải trí", "Sức khỏe", "Giáo dục",
    "Pháp luật", "Du lịch", "Khoa học", "Đời sống")
  /** Section shares ∝ 1/(rank+2): the largest section is ~4.7× the
    * smallest.
    */
  private val TopicCdf = cdf(Topics.indices.map(r => 1.0 / (r + 2)))

  private val Sites = IndexedSeq("vnexpress.net", "tuoitre.vn",
    "thanhnien.vn", "dantri.com.vn", "vietnamnet.vn", "znews.vn",
    "laodong.vn", "nld.com.vn")
  private val Names = IndexedSeq("Nguyễn Văn An", "Trần Thị Bình",
    "Lê Hoàng Cường", "Phạm Minh Đức", "Hoàng Thu Hà", "Võ Quốc Hùng")

  /** Syllable vocabulary: onset × toned rhyme, ~8k entries. Loanwords
    * feed the summarize stand-in's rule-based classifier.
    */
  val Vocab: IndexedSeq[String] = {
    val onsets = Seq("b", "c", "ch", "d", "đ", "g", "gi", "h", "kh", "l",
      "m", "n", "ng", "nh", "ph", "qu", "s", "t", "th", "tr", "v", "x")
    val rhymes = Seq("a", "á", "à", "ả", "ã", "ạ", "ăn", "ắc", "ằng", "ân",
      "ấy", "ầu", "e", "é", "è", "ẻ", "ê", "ế", "ề", "ệ", "i", "í", "ì",
      "o", "ó", "ò", "ỏ", "ô", "ố", "ồ", "ộ", "ơ", "ớ", "ờ", "ợ", "u", "ú",
      "ù", "ư", "ứ", "ừ", "ựa", "uy", "oa", "oan", "ương", "ước", "iêu")
    val codas = Seq("", "c", "m", "n", "ng", "nh", "p", "t")
    for (o <- onsets; r <- rhymes; c <- codas) yield o + r + c
  }.distinct.toIndexedSeq
  private val Loanwords = IndexedSeq("livestream", "window", "dupont")
  /** Word ranks ∝ 1/(r+10)^0.8: natural-looking repetition without
    * the frequent trigrams that would make unrelated pages collide.
    */
  private val VocabCdf = cdf(Vocab.indices.map(r => math.pow(r + 10.0, -0.8)))

  private def cdf(w: Seq[Double]): Array[Double] = {
    val s = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / s).toArray
  }
  private def draw(c: Array[Double], r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(c, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, c.length - 1)
  }

  private def word(r: SplittableRandom): String =
    if (r.nextInt(400) == 0) Loanwords(r.nextInt(Loanwords.length))
    else Vocab(draw(VocabCdf, r))

  /** Words cut into sentences of 8–18 words. */
  private def sentences(words: IndexedSeq[String], r: SplittableRandom)
      : IndexedSeq[IndexedSeq[String]] = {
    val out = IndexedSeq.newBuilder[IndexedSeq[String]]
    var i = 0
    while (i < words.length) {
      val n = math.min(8 + r.nextInt(11), words.length - i)
      out += words.slice(i, i + n)
      i += n
    }
    out.result()
  }

  private def sentence(s: IndexedSeq[String]): String =
    (s.head.capitalize +: s.tail).mkString(" ")
  private def render(s: IndexedSeq[String]): String = sentence(s) + "."

  /** The page's article text after extraction and cleaning: the
    * `<title>` and `<h1>` run into the first body sentence (no period
    * between them), the credit line is gone, and each sentence is kept
    * once, in order, ending in ". ".
    */
  def articleText(title: String, body: IndexedSeq[IndexedSeq[String]]): String = {
    val ss = body.map(sentence)
    (s"$title $title ${ss.head}" +: ss.tail).distinct.mkString("", ". ", ". ")
  }

  private def page(id: Long, site: String, topicIx: Int, title: String,
                   body: IndexedSeq[IndexedSeq[String]],
                   r: SplittableRandom): String = {
    val paras = body.map(render).grouped(3 + r.nextInt(3)).map(p =>
      s"<p>${p.mkString(" ")}</p>").mkString("\n")
    val nav = TopicNames.indices.map(j =>
      s"""<a href="/${Topics(j)}">${TopicNames(j)}</a>""")
    s"""<!doctype html><html lang="vi"><head><meta charset="utf-8">
       |<title>$title</title>
       |<script>window.dataLayer=[{"pid":$id,"r":${r.nextInt(1 << 30)}}];</script>
       |<style>.nav a{color:#${Integer.toHexString(r.nextInt(1 << 24))}}</style>
       |</head><body><nav>${nav.drop(r.nextInt(3)).mkString(" | ")}</nav>
       |<header><div class="logo">$site</div></header>
       |<article><h1>$title</h1>
       |$paras
       |<p>Ảnh: ${Names(r.nextInt(Names.length))}.</p></article>
       |<footer>© $site ${2020 + r.nextInt(5)}. Liên hệ quảng cáo.</footer>
       |</body></html>""".stripMargin
  }

  private val Epoch = 1727740800L // 2024-10-01T00:00:00Z
  private val Dow = IndexedSeq("Thu", "Fri", "Sat", "Sun", "Mon", "Tue", "Wed")
  private val Mon = IndexedSeq("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul",
    "Aug", "Sep", "Oct", "Nov", "Dec")

  /** RSS date in one of the two spellings feeds use: RFC-822 with a
    * day name, or ISO-8601 with an offset (both local +07:00).
    */
  def rssDate(tsSec: Long, rfc: Boolean): String = {
    val t = java.time.LocalDateTime.ofEpochSecond(tsSec + 7 * 3600, 0,
      java.time.ZoneOffset.UTC)
    if (rfc)
      f"${Dow((t.toLocalDate.toEpochDay % 7).toInt)}, ${t.getDayOfMonth}%02d " +
        f"${Mon(t.getMonthValue - 1)} ${t.getYear} ${t.getHour}%02d:" +
        f"${t.getMinute}%02d:${t.getSecond}%02d +0700"
    else
      f"${t.getYear}-${t.getMonthValue}%02d-${t.getDayOfMonth}%02dT" +
        f"${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d+07:00"
  }

  /** Body sentences kept per article, so a copy can re-use its
    * original's (a copy keeps the sentence breaks: moving a period
    * changes the tokens around it).
    */
  private final case class Draft(a: Article, topicIx: Int, title: String,
                                 body: IndexedSeq[IndexedSeq[String]])

  private def original(id: Long, topicIx: Int, nWords: Int, tsSec: Long,
                       r: SplittableRandom): Draft = {
    val site = Sites(r.nextInt(Sites.length))
    val title = (0 until 6 + r.nextInt(5)).map(_ => word(r)).mkString(" ")
      .capitalize
    val body = sentences(IndexedSeq.fill(nWords)(word(r)), r)
    val html = page(id, site, topicIx, title, body, r)
    Draft(Article(id, s"https://$site/${Topics(topicIx)}/bai-$id.html",
      Topics(topicIx), rssDate(tsSec, r.nextBoolean()), tsSec, html,
      articleText(title, body), None, lowQuality = false), topicIx, title, body)
  }

  /** A syndicated copy: another site's chrome and photo credit, and one
    * body word in 200 (at least one) replaced.
    */
  private def copyOf(o: Draft, id: Long, tsSec: Long,
                     r: SplittableRandom): Draft = {
    val body = o.body.map(_.toArray).toArray
    (0 until math.max(1, body.map(_.length).sum / 200)).foreach { _ =>
      val s = body(r.nextInt(body.length))
      s(r.nextInt(s.length)) = word(r)
    }
    val site = Sites(r.nextInt(Sites.length))
    val copied = body.map(_.toIndexedSeq).toIndexedSeq
    val html = page(id, site, o.topicIx, o.title, copied, r)
    Draft(Article(id, s"https://$site/${o.a.topic}/bai-$id.html",
      o.a.topic, rssDate(tsSec, r.nextBoolean()), tsSec, html,
      articleText(o.title, copied), Some(o.a.id), lowQuality = false),
      o.topicIx, o.title, copied)
  }

  /** A short, repetitive page: fails the quality gate. */
  private def lowQuality(id: Long, tsSec: Long,
                         r: SplittableRandom): Article = {
    val topicIx = draw(TopicCdf, r)
    val few = IndexedSeq.fill(3)(word(r))
    val body = IndexedSeq.fill(20 + r.nextInt(15))(few(r.nextInt(3)))
    val site = Sites(r.nextInt(Sites.length))
    val title = few.mkString(" ").capitalize
    val ss = sentences(body, r)
    val html = page(id, site, topicIx, title, ss, r)
    Article(id, s"https://$site/${Topics(topicIx)}/bai-$id.html",
      Topics(topicIx), rssDate(tsSec, rfc = true), tsSec, html,
      articleText(title, ss), None, lowQuality = true)
  }

  /** Log-normal lengths (σ = 0.9) rescaled to `totalWords`, each at
    * least `minWords`: the seed moves the tail, not the total.
    */
  def lengths(n: Int, totalWords: Int, minWords: Int,
              r: SplittableRandom): IndexedSeq[Int] = {
    val raw = IndexedSeq.fill(n)(math.exp(0.9 * gaussian(r)))
    val spare = totalWords - n * minWords
    require(spare > 0, s"$totalWords words cannot give $n articles $minWords each")
    val s = raw.sum
    raw.map(x => minWords + (x / s * spare).toInt)
  }

  private def gaussian(r: SplittableRandom): Double =
    math.sqrt(-2.0 * math.log(1.0 - r.nextDouble())) *
      math.cos(2.0 * math.Pi * r.nextDouble())

  /** A backfill corpus of `n` pages with `dupShare` planted copies. */
  def corpus(seed: Long, n: Int, totalWords: Int,
             dupShare: Double): Corpus = {
    val r = new SplittableRandom(seed)
    val lens = lengths(n, totalWords, 120, r.split())
    val drafts = scala.collection.mutable.ArrayBuffer.empty[Draft]
    val originals = scala.collection.mutable.ArrayBuffer.empty[Draft]
    (0 until n).foreach { i =>
      val ts = Epoch + i * 97L
      val d =
        if (originals.size >= 10 && r.nextDouble() < dupShare)
          copyOf(originals(r.nextInt(originals.size)), i.toLong, ts, r)
        else {
          val o = original(i.toLong, draw(TopicCdf, r), lens(i), ts, r)
          originals += o
          o
        }
      drafts += d
    }
    Corpus(drafts.map(_.a).toIndexedSeq)
  }

  /** The stream backlog: `slices` files of `perSlice` new pages each
    * (ids grow with arrival, ~220 words a page), of which a `dupShare` are copies of an
    * earlier page and a `lowShare` fail the quality gate; about one
    * slice in two also re-delivers one or two rows of the previous
    * three slices. Event time advances 10 minutes per slice, so a
    * re-delivery is at most 40 minutes old.
    */
  def backlog(seed: Long, slices: Int, perSlice: Int, dupShare: Double,
              lowShare: Double): Backlog = {
    val r = new SplittableRandom(seed ^ 0x5157L)
    // a fixed word budget per slice: every batch does the same work
    val lens = (0 until slices).flatMap(_ =>
      lengths(perSlice, perSlice * 220, 120, r.split()))
    val originals = scala.collection.mutable.ArrayBuffer.empty[Draft]
    val out = scala.collection.mutable.ArrayBuffer.empty[IndexedSeq[Article]]
    val firsts = scala.collection.mutable.ArrayBuffer.empty[IndexedSeq[Article]]
    var id = 0L
    (0 until slices).foreach { s =>
      val fresh = (0 until perSlice).map { j =>
        val ts = Epoch + s * 600L + j
        val u = r.nextDouble()
        val a =
          if (originals.size >= 5 && u < dupShare)
            copyOf(originals(r.nextInt(originals.size)), id, ts, r).a
          else if (u < dupShare + lowShare) lowQuality(id, ts, r)
          else {
            val o = original(id, draw(TopicCdf, r), lens(id.toInt), ts, r)
            originals += o
            o.a
          }
        id += 1
        a
      }
      val replays =
        if (s == 0 || !r.nextBoolean()) Seq.empty[Article]
        else {
          val from = firsts.takeRight(3).flatten
          Seq.fill(1 + r.nextInt(2))(from(r.nextInt(from.size)))
        }
      firsts += fresh
      out += (fresh ++ replays)
    }
    Backlog(out.toIndexedSeq)
  }
}
