package perfbench

import java.util.SplittableRandom
import scala.collection.mutable

/** One crawled page. `text` is exactly the text the crawl gate extracts
  * from `html` for pages whose markup is well formed (title words, then
  * body words, single-spaced).
  */
final case class Page(id: Long, html: String, text: String, canonical: String,
                      quarantined: Boolean, chrome: Boolean, noindex: Boolean)

/** Seeded crawl-page generator with planted duplicate classes: canonical
  * copies (of indexed canonicals and of earlier claimers in the same
  * batch), text copies (of indexed texts and inside the batch), noindex
  * pages, link farms, pages with unbalanced script tags and too-short
  * pages. Every generated text is unique unless it is a planted copy.
  */
final class PageGenerator(seed: Long) {
  private val rnd = new SplittableRandom(seed)
  private val vocab: Vector[String] = {
    val r = new SplittableRandom(seed ^ 0x70a6e5L)
    val seen = mutable.LinkedHashSet[String]()
    while (seen.size < 6000)
      seen += Iterator.fill(3 + r.nextInt(7))(('a' + r.nextInt(26)).toChar).mkString
    seen.toVector
  }
  private val texts = mutable.HashSet[String]()
  private var canonSerial = 0
  private var nextId = 1L
  /** Pages whose text and canonical can be planted as copies later. */
  val copySources = mutable.ArrayBuffer[Page]()
  val canonicals = mutable.ArrayBuffer[String]()

  private def words(n: Int): Vector[String] = Vector.fill(n)(vocab(rnd.nextInt(vocab.size)))

  private def uniqueText(nTitle: Int, nBody: Int): (Vector[String], Vector[String]) = {
    var t = words(nTitle); var b = words(nBody)
    while (!texts.add((t ++ b).mkString(" "))) { t = words(nTitle); b = words(nBody) }
    (t, b)
  }

  private def freshCanonical(): String = {
    canonSerial += 1
    s"https://site${canonSerial % 97}.example/c/$canonSerial"
  }

  private def html(title: Seq[String], body: String, canonical: String,
                   noindex: Boolean): String = {
    val canon = if (canonical == null) "" else s"""<link rel="canonical" href="$canonical">"""
    val robots = if (noindex) """<meta name="robots" content="noindex">""" else ""
    s"<html><head><title>${title.mkString(" ")}</title>$canon$robots</head>" +
      s"<body>$body</body></html>"
  }

  private def content(title: Vector[String], body: Vector[String], canonical: String,
                      noindex: Boolean): Page = {
    val p = Page(nextId, html(title, s"<p>${body.mkString(" ")}</p>", canonical, noindex),
      (title ++ body).mkString(" "), canonical, quarantined = false, chrome = false,
      noindex = noindex)
    nextId += 1
    p
  }

  private def kept(withCanonical: Boolean): Page = {
    val (t, b) = uniqueText(3, 30 + rnd.nextInt(40))
    val c = if (withCanonical) freshCanonical() else null
    val p = content(t, b, c, noindex = false)
    copySources += p
    if (c != null) canonicals += c
    p
  }

  private def copyOf(src: Page, canonical: String): Page = {
    val title = src.text.split(" ").take(3).toVector
    val body = src.text.split(" ").drop(3).toVector
    content(title, body, canonical, noindex = false)
  }

  private def linkFarm(): Page = {
    val (t, b) = uniqueText(3, 3)
    val links = (0 until 20).map(i => s"""<li><a href="/l/$i">${words(2).mkString(" ")}</a></li>""")
    val body = s"<p>${b.mkString(" ")}</p><ul>${links.mkString}</ul>"
    val p = Page(nextId, html(t, body, null, noindex = false), (t ++ b).mkString(" "),
      null, quarantined = false, chrome = true, noindex = false)
    nextId += 1
    p
  }

  private def brokenScript(): Page = {
    val (t, b) = uniqueText(3, 20)
    val body = s"<p>${b.mkString(" ")}</p><script>var x = ${rnd.nextInt(1000)};"
    val p = Page(nextId, html(t, body, null, noindex = false), (t ++ b).mkString(" "),
      null, quarantined = true, chrome = false, noindex = false)
    nextId += 1
    p
  }

  /** The standing corpus: kept pages (a tenth with a canonical) and noindex pages. */
  def standing(n: Int): Vector[Page] = Vector.fill(n) {
    val r = rnd.nextDouble()
    if (r < 0.05) { val (t, b) = uniqueText(3, 30); content(t, b, null, noindex = true) }
    else kept(withCanonical = r < 0.15)
  }

  /** One nightly batch; ids continue above every earlier page. */
  def batch(n: Int): Vector[Page] = {
    val out = mutable.ArrayBuffer[Page]()
    val batchCanonicals = mutable.ArrayBuffer[String]()
    val batchKept = mutable.ArrayBuffer[Page]()
    for (_ <- 0 until n) {
      val r = rnd.nextDouble()
      val p =
        if (r < 0.40) { val k = kept(false); batchKept += k; k }
        else if (r < 0.52) { val k = kept(true); batchKept += k; batchCanonicals += k.canonical; k }
        else if (r < 0.59 && canonicals.nonEmpty) {
          val (t, b) = uniqueText(3, 40)
          content(t, b, canonicals(rnd.nextInt(canonicals.size)), noindex = false)
        } else if (r < 0.64 && batchCanonicals.nonEmpty) {
          val (t, b) = uniqueText(3, 40)
          content(t, b, batchCanonicals(rnd.nextInt(batchCanonicals.size)), noindex = false)
        } else if (r < 0.72 && copySources.nonEmpty)
          copyOf(copySources(rnd.nextInt(copySources.size)), null)
        else if (r < 0.76 && batchKept.nonEmpty)
          copyOf(batchKept(rnd.nextInt(batchKept.size)), null)
        else if (r < 0.82) { val (t, b) = uniqueText(3, 35); content(t, b, null, noindex = true) }
        else if (r < 0.88) linkFarm()
        else if (r < 0.94) brokenScript()
        else { val (t, b) = uniqueText(2, 3); content(t, b, null, noindex = false) }
      out += p
    }
    out.toVector
  }
}

/** Plain-Scala model of one nightly corpus cycle: the gate verdicts, the
  * canonical race and the text race against the standing indexes, the
  * Gopher rule, the index delta, and the exact-text dedup against the
  * standing document store.
  */
final class CorpusOracle {
  val canonIndex = mutable.HashSet[String]()
  val textIndex = mutable.HashSet[String]()
  val docTexts = mutable.HashSet[String]()

  /** Gopher quality rule on the extracted text. */
  def gopherOk(text: String): Boolean = {
    val toks = text.split(" ").filter(_.nonEmpty)
    val n = toks.length
    val meanLen = if (n == 0) 0.0 else round4(toks.map(_.length).sum.toDouble / n)
    val bigrams = toks.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toVector
    val dupFrac = if (bigrams.isEmpty) 0.0 else round4(1.0 - bigrams.distinct.size.toDouble / bigrams.size)
    n >= 10 && n <= 100000 && meanLen >= 2.0 && meanLen <= 12.0 && dupFrac < 0.3
  }

  private def round4(x: Double): Double = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The index build over the standing corpus. */
  def buildIndexes(standing: Seq[Page]): Unit = {
    val claimed = mutable.HashSet[String]()
    for (p <- standing.sortBy(_.id)) {
      val passes = !p.quarantined && !p.chrome && !p.noindex
      if (passes) {
        if (p.canonical != null) {
          if (claimed.add(p.canonical)) { canonIndex += p.canonical; textIndex += p.text }
        } else textIndex += p.text
      }
    }
    docTexts ++= standing.map(_.text)
  }

  final case class Cycle(stage: Map[Long, String], canonDelta: Set[String],
                         textDelta: Set[String])

  def nightly(batch: Seq[Page]): Cycle = {
    val pages = batch.sortBy(_.id)
    val claimers = mutable.HashSet[String]()
    val texts = mutable.HashSet[String]()
    val stage = mutable.HashMap[Long, String]()
    val canonDelta = mutable.HashSet[String]()
    val textDelta = mutable.HashSet[String]()
    for (p <- pages) {
      val passes = !p.quarantined && !p.chrome && !p.noindex
      val canonDup = passes && p.canonical != null &&
        (canonIndex(p.canonical) || !claimers.add(p.canonical))
      if (passes && p.canonical != null && !canonIndex(p.canonical) && !canonDelta(p.canonical)
          && !canonDup) canonDelta += p.canonical
      val alive1 = passes && !canonDup
      val textDup = alive1 && (textIndex(p.text) || !texts.add(p.text))
      if (alive1 && !textIndex(p.text)) textDelta += p.text
      stage(p.id) =
        if (p.quarantined) "quarantined"
        else if (p.chrome) "chrome"
        else if (p.noindex) "noindex"
        else if (canonDup) "canonical_dup"
        else if (textDup) "text_dup"
        else if (!gopherOk(p.text)) "low_quality"
        else "kept"
    }
    canonIndex ++= canonDelta
    textIndex ++= textDelta
    Cycle(stage.toMap, canonDelta.toSet, textDelta.toSet)
  }

  /** Per page (dup_of_corpus, dup_in_batch, keep) of the exact-text dedup;
    * the kept texts join the document store.
    */
  def newDocs(batch: Seq[Page]): Map[Long, (Long, Long, Long)] = {
    val seen = mutable.HashSet[String]()
    val out = batch.sortBy(_.id).map { p =>
      val inCorpus = docTexts(p.text)
      val inBatch = !seen.add(p.text)
      p.id -> ((if (inCorpus) 1L else 0L), (if (inBatch) 1L else 0L),
        (if (!inCorpus && !inBatch) 1L else 0L))
    }.toMap
    batch.foreach(p => if (out(p.id)._3 == 1L) docTexts += p.text)
    out
  }
}

/** Seeded clustered embeddings with planted exact copies. A fresh vector
  * is redrawn until its cosine to every existing vector is below 0.85, so
  * only planted copies reach the dedup threshold.
  */
final class VectorGenerator(seed: Long, val dim: Int, clusters: Int) {
  private val rnd = new SplittableRandom(seed)
  private val centers: Vector[Array[Double]] = Vector.fill(clusters)(unit(gauss(dim, 1.0)))
  /** Every vector in the store or landed so far, by id. */
  val all = mutable.LinkedHashMap[Long, Array[Double]]()
  private val normed = mutable.ArrayBuffer[Array[Double]]()

  private def gauss(n: Int, sigma: Double): Array[Double] = Array.fill(n) {
    // Box-Muller on the seeded stream
    val u = 1.0 - rnd.nextDouble(); val v = rnd.nextDouble()
    sigma * math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * v)
  }
  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
  }
  private def fresh(): Array[Double] = {
    var v: Array[Double] = null
    var u: Array[Double] = null
    var ok = false
    while (!ok) {
      val c = centers(rnd.nextInt(centers.size))
      val noise = gauss(dim, 0.3)
      v = Array.tabulate(dim)(i => math.rint((c(i) + noise(i)) * 1e6) / 1e6)
      u = unit(v)
      ok = normed.forall { w => var s = 0.0; var i = 0; while (i < dim) { s += u(i) * w(i); i += 1 }; s < 0.85 }
    }
    normed += u
    v
  }

  def standing(n: Int): Vector[(Long, Array[Double])] =
    (0 until n).map { i => val v = fresh(); all(i.toLong) = v; (i.toLong, v) }.toVector

  /** One batch: fresh vectors, exact copies of stored vectors (two of
    * them copies of search queries), and in-batch copies.
    */
  def batch(firstId: Long, n: Int, nQueries: Int): Vector[(Long, Array[Double])] = {
    val stored = all.keys.toVector
    val out = mutable.ArrayBuffer[(Long, Array[Double])]()
    for (j <- 0 until n) {
      val id = firstId + j
      val r = rnd.nextDouble()
      val v =
        if (j < 2) all(rnd.nextInt(nQueries).toLong).clone()
        else if (r < 0.10) all(stored(rnd.nextInt(stored.size))).clone()
        else if (r < 0.15 && out.nonEmpty) out(rnd.nextInt(out.size))._2.clone()
        else fresh()
      out += ((id, v))
    }
    out.foreach { case (id, v) => all(id) = v }
    out.toVector
  }

  /** Smallest id holding exactly the same vector, including `id` itself. */
  def keeper(id: Long): Long = {
    val v = all(id)
    all.iterator.filter { case (_, w) => java.util.Arrays.equals(v, w) }.map(_._1).min
  }

  def copiesOf(id: Long): Seq[Long] = {
    val v = all(id)
    all.iterator.filter { case (k, w) => k != id && java.util.Arrays.equals(v, w) }.map(_._1).toSeq
  }
}
