package perfbench

import scala.collection.mutable

/** One row of the 7-column metadata CSV a user uploads. */
final case class MetaRow(url: String, title: String, content: String,
    category: String, keyword: String, categoryExplanation: String,
    keywordExplanation: String) {
  /** Size of the row as CSV text: the input bytes the store is charged with. */
  def bytes: Long =
    Seq(url, title, content, category, keyword, categoryExplanation, keywordExplanation)
      .map(_.getBytes("UTF-8").length.toLong).sum + 7
}

/** A page the `addLink` path "fetches" and "classifies" — the stub
  * enrichers serve these, so the program sees only generated inputs. */
final case class Page(url: String, title: String, content: String,
    category: String, keywords: Seq[String]) {
  def bytes: Long = Seq(url, title, content, category)
    .map(_.getBytes("UTF-8").length.toLong).sum + keywords.map(_.length + 2).sum
}

/** Seeded input generator. The same seed yields the same rows; all
  * randomness flows from the one `seed`. */
final class Gen(seed: Long) {
  private val rnd = new scala.util.Random(seed)
  /** Part of every url, so different seeds name different pages. */
  private val runTag = Integer.toString(new scala.util.Random(~seed).nextInt(36 * 36 * 36 * 36), 36)

  import Gen._

  private val kwCdf: Array[Double] = {
    val w = Array.tabulate(KeywordVocab)(k => 1.0 / math.pow(k + 1 + ZipfQ, ZipfS))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  private def zipfKeyword(): String = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(kwCdf, u)
    keywordName(math.min(if (i >= 0) i else -i - 1, KeywordVocab - 1))
  }
  private def keywords3(): Seq[String] = {
    val out = mutable.LinkedHashSet.empty[String]
    while (out.size < 3) out += zipfKeyword()
    out.toSeq
  }
  private def category(): String = Categories(rnd.nextInt(Categories.length))
  private def words(n: Int): Vector[String] = Vector.fill(n)(ContentWords(rnd.nextInt(ContentWords.length)))
  private def body(): Vector[String] = words(70 + rnd.nextInt(41))

  private var nextId = 0
  private def freshUrl(): String = {
    nextId += 1
    s"https://site${rnd.nextInt(300)}.example.org/p/$runTag-$nextId"
  }

  /** Valid rows already handed out in batches: canonical url → content tokens. */
  private val landed = mutable.ArrayBuffer.empty[(String, Vector[String])]
  private val stats = new GenStats

  private def row(url: String, content: String, cat: String, kws: Seq[String]): MetaRow =
    MetaRow(url, s"Notes on ${kws.head} ${url.takeRight(6)}", content, cat, kws.mkString(", "),
      s"about $cat", kws.map(k => s"mentions $k").mkString("; "))

  /** One upload batch of `n` rows with the configured shares of
    * invalid, re-uploaded and near-duplicate rows. Re-uploads and
    * near-duplicates only refer to rows of EARLIER batches, so no
    * batch carries the same url twice. */
  def batch(n: Int, allowReupload: Boolean = true): Vector[MetaRow] = {
    val before = landed.size
    val reused = mutable.HashSet.empty[Int]
    Vector.fill(n) {
      val u = rnd.nextDouble()
      val reupload = u >= InvalidShare && u < InvalidShare + ReuploadShare
      if (u < InvalidShare) {
        stats.invalid += 1
        val url = freshUrl()
        rnd.nextInt(3) match {
          case 0 => row(url, words(8).mkString(" "), category(), keywords3()) // short content
          case 1 => row(url, body().mkString(" "), "Uncategorized", keywords3())
          case _ => row(url, body().mkString(" "), category(), Seq("none"))
        }
      } else if (reupload && allowReupload && before > reused.size) {
        var i = rnd.nextInt(before)
        while (reused(i)) i = rnd.nextInt(before)
        reused += i
        stats.reupload += 1
        row(unnormalized(landed(i)._1), body().mkString(" "), category(), keywords3())
      } else if (!reupload && u < InvalidShare + ReuploadShare + NearDupShare && landed.nonEmpty) {
        val (origUrl, toks) = landed(rnd.nextInt(landed.size))
        val pos = rnd.nextInt(toks.length)
        var w = ContentWords(rnd.nextInt(ContentWords.length))
        while (w == toks(pos)) w = ContentWords(rnd.nextInt(ContentWords.length))
        val dupToks = toks.updated(pos, w)
        val url = freshUrl()
        stats.nearDup += 1
        planted += ((origUrl, url))
        landed += ((url, dupToks))
        row(url, dupToks.mkString(" "), category(), keywords3())
      } else {
        stats.fresh += 1
        val url = freshUrl()
        val toks = body()
        landed += ((url, toks))
        row(url, toks.mkString(" "), category(), keywords3())
      }
    }
  }

  /** Fresh pages for `addLink` to fetch. */
  def pages(n: Int): Vector[Page] = Vector.fill(n) {
    val url = freshUrl()
    val toks = body()
    Page(url, s"Page ${url.takeRight(6)}", toks.mkString(" "), category(), keywords3())
  }

  /** The form a re-submitted url arrives in: mixed-case host,
    * trailing slash, sometimes a tracking query — `normalizeUrl`
    * maps it back to the stored key. */
  def unnormalized(url: String): String = {
    val m = HostRe.findFirstMatchIn(url).get
    val host = m.group(2).map(c => if (rnd.nextBoolean()) c.toUpper else c)
    val tail = rnd.nextInt(3) match {
      case 0 => "/"
      case 1 => "/?ref=feed"
      case _ => "//#top"
    }
    m.group(1).toUpperCase + host + m.group(3) + tail
  }

  def pick(n: Int): Int = rnd.nextInt(n)
  def shuffle[T](xs: Seq[T]): Seq[T] = rnd.shuffle(xs)

  /** Planted (original, near-duplicate) url pairs, canonical form. */
  val planted = mutable.ArrayBuffer.empty[(String, String)]
  def realised: GenStats = stats
}

final class GenStats {
  var fresh = 0L
  var invalid = 0L
  var reupload = 0L
  var nearDup = 0L
  def total: Long = fresh + invalid + reupload + nearDup
  def share(x: Long): Double = if (total == 0) 0.0 else x.toDouble / total
}

object Gen {
  /** Keyword popularity p(k) ∝ 1/(k+q)^s over the vocabulary: `q`
    * flattens the head so the hottest keyword stays on ~2 % of links,
    * because the flagship self-join costs Σ deg². */
  val KeywordVocab = 800
  val ZipfS = 1.0
  val ZipfQ = 50.0
  /** Shares of generated rows: invalid (dropped by the validity
    * filter), re-uploads of an earlier batch's url in un-normalized
    * form, and near-duplicates of an earlier row's content. */
  val InvalidShare = 0.06
  val ReuploadShare = 0.10
  val NearDupShare = 0.03

  val Categories: Vector[String] = Vector("Technology", "Science", "Business",
    "Health", "Politics", "Entertainment", "Sports", "Education", "Travel", "Lifestyle")

  private val Syllables = Vector("ka", "lo", "mi", "ner", "tas", "vel", "ro", "sun",
    "dar", "pe", "qui", "zo", "ban", "tre", "gol", "fi", "mur", "sa", "ten", "wy")

  private def syllableWord(i: Int, n: Int): String = {
    val sb = new StringBuilder
    var x = i
    for (_ <- 0 until n) { sb ++= Syllables(x % Syllables.length); x /= Syllables.length }
    sb.toString
  }

  /** 8000 distinct content words of 3 syllables. */
  val ContentWords: Vector[String] = Vector.tabulate(8000)(syllableWord(_, 3))

  def keywordName(i: Int): String = "kw" + syllableWord(i, 2) + i

  private val HostRe = "^(https://)([^/]+)(.*)$".r
}
