package perfbench

import scala.collection.mutable

/** Plain-Scala model of the graph store, updated alongside every
  * upload, add and delete, and used to check the program's answers.
  * It restates the facade's documented semantics independently:
  * url normalization, the `novel` pre-check, the validity filter,
  * keyword splitting, detach-delete with orphan cleanup, and the
  * flagship interconnection query with its reference ordering. */
final class Model {
  import Model._

  val links = mutable.HashMap.empty[String, Link]

  def categories: Set[String] = links.valuesIterator.map(_.category).toSet
  def keywords: Set[String] = links.valuesIterator.flatMap(_.keywords).toSet

  /** `uploadMetadataCsv`: rows whose normalized url is new and that
    * pass the validity filter land; returns how many. */
  def upload(rows: Seq[MetaRow]): Long = {
    val fresh = rows.map(r => r.copy(url = normalize(r.url))).filterNot(r => links.contains(r.url))
    val valid = fresh.filter(r => isValid(r.content, r.category, r.keyword))
    valid.foreach(r => links(r.url) = Link(r.category, splitKeywords(r.keyword), r.content))
    valid.size.toLong
  }

  /** `addLink`: the page is fetched and classified only if its url is new. */
  def add(rawUrl: String, page: Option[Page]): Long = {
    val url = normalize(rawUrl)
    page match {
      case Some(p) if !links.contains(url) && isValid(p.content, p.category, p.keywords.mkString(", ")) =>
        links(url) = Link(p.category, splitKeywords(p.keywords.take(3).mkString(", ")), p.content)
        1L
      case _ => 0L
    }
  }

  def delete(rawUrl: String): Unit = links.remove(normalize(rawUrl))

  def keywordDegrees: Map[String, Int] =
    links.valuesIterator.flatMap(_.keywords).toSeq.groupBy(identity).view.mapValues(_.size).toMap

  /** Σ over keywords of deg(k)²: the pairs the flagship self-join examines. */
  def sumDegSq: Long = keywordDegrees.valuesIterator.map(d => d.toLong * d).sum

  /** The flagship query: pairs of links sharing a keyword in different
    * categories, ordered by (keyword, category1, category2, url1, url2),
    * first `limit` rows. */
  def interconnections(canonical: Boolean, limit: Int): Seq[InterRow] = {
    val byKw = mutable.HashMap.empty[String, mutable.ArrayBuffer[String]]
    links.foreach { case (u, l) => l.keywords.foreach(k => byKw.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += u) }
    val out = mutable.ArrayBuffer.empty[InterRow]
    val kwIt = byKw.keys.toSeq.sorted.iterator
    while (out.size < limit && kwIt.hasNext) {
      val k = kwIt.next()
      val us = byKw(k)
      val rows = for {
        u1 <- us; u2 <- us
        if (if (canonical) u1 < u2 else u1 != u2)
        c1 = links(u1).category; c2 = links(u2).category
        if c1 != c2
      } yield InterRow(u1, c1, u2, c2, k)
      out ++= rows.sortBy(r => (r.category1, r.category2, r.url1, r.url2))
    }
    out.take(limit).toSeq
  }

  /** Keyword frequency in the reference order: count desc, keyword asc. */
  def keywordDistribution: Seq[(String, Long)] =
    keywordDegrees.toSeq.map { case (k, n) => (k, n.toLong) }.sortBy { case (k, n) => (-n, k) }

  /** Vertices (links, categories, keywords) and connected components
    * of the Link–Category / Link–Keyword graph. */
  def vertexCount: Long = links.size.toLong + categories.size + keywords.size
  def edgeCount: Long = links.valuesIterator.map(1L + _.keywords.size).sum

  def componentCount: Int = {
    val parent = mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      r
    }
    def union(a: String, b: String): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    links.foreach { case (u, l) =>
      union("L:" + u, "C:" + l.category)
      l.keywords.foreach(k => union("L:" + u, "K:" + k))
    }
    val vs = links.keys.map("L:" + _) ++ categories.map("C:" + _) ++ keywords.map("K:" + _)
    vs.map(find).toSet.size
  }
}

final case class InterRow(url1: String, category1: String, url2: String,
    category2: String, keyword: String)

object Model {
  final case class Link(category: String, keywords: Seq[String], content: String)

  private val SchemeRe = "^[A-Za-z][A-Za-z0-9+.-]*://".r
  private val AuthorityRe = "^([^:]*://[^/]*)(.*)$".r

  /** Url normalization: default scheme, no query or fragment,
    * lower-case scheme and host, no trailing slash. */
  def normalize(raw: String): String = {
    val t = raw.trim
    val withScheme = if (SchemeRe.findFirstIn(t).isDefined) t else "https://" + t
    val noQuery = withScheme.replaceAll("[?#].*$", "")
    val canon = noQuery match {
      case AuthorityRe(auth, rest) => auth.toLowerCase + rest
      case other => other
    }
    canon.replaceAll("/+$", "")
  }

  def isValid(content: String, category: String, keyword: String): Boolean =
    content != null && content.trim.length >= 100 &&
      category != null && category.toLowerCase != "uncategorized" &&
      keyword != null && keyword.toLowerCase != "none"

  def splitKeywords(keyword: String): Seq[String] =
    keyword.split(",", -1).toSeq.map(_.trim).filter(_.nonEmpty).take(3)

  /** Exact Jaccard of the token 3-shingle sets, rounded to 4 places. */
  def shingleJaccard(a: String, b: String, n: Int = 3): Double = {
    def shingles(s: String): Set[String] =
      s.trim.split("\\s+").filter(_.nonEmpty).sliding(n).filter(_.length == n).map(_.mkString(" ")).toSet
    val (sa, sb) = (shingles(a), shingles(b))
    val union = (sa | sb).size
    if (union == 0) 0.0 else math.round((sa & sb).size.toDouble / union * 10000) / 10000.0
  }
}
