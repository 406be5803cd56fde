package kgbench

import java.sql.Timestamp
import java.util.SplittableRandom

import graft.fixtures.PageGen
import graft.model.Page
import graft.nlp.TextExtractor

/** The generated crawls. Every page is a pure function of (settings, seed,
 *  page index), so one seed always gives the same inputs. Facts come from
 *  PageGen, whose facts are functions of the entity index: any mix of its
 *  pages is globally consistent, and its planted gold is the answer key. */
object Crawls {

  type Fact = (String, String, String)

  final case class Crawl(pages: Vector[Page], gold: Set[Fact])

  private def gold(g: Seq[PageGen.Gold]): Seq[Fact] = g.map(x => (x.subj, x.pred, x.obj))

  /** A crawl depends on the seed only modulo this, so the P/R the program
   *  scores can be recorded for every crawl the benchmark generates. */
  val Residues = 97

  private def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(math.floorMod(seed, Residues.toLong) * 0x9E3779B97F4A7C15L ^
      stream * 0xBF58476D1CE4E5B9L ^ i)

  /** First PageGen index of a crawl: a seed-derived offset, so different
   *  seeds crawl different entities of the same generator. */
  def base(seed: Long, stride: Int): Int =
    100000 + math.floorMod(seed, Residues.toLong).toInt * stride

  /** A fresh, uniform crawl: PageGen pages [base, base + n). */
  def uniform(seed: Long, n: Int): Crawl = {
    val b = base(seed, 40 * n)
    val gen = (b until b + n).map(PageGen.page).toVector
    Crawl(gen.map(_._1), gen.flatMap(p => gold(p._2)).toSet)
  }

  /** Settings of a recrawl of an n-page uniform crawl. */
  final case class Recrawl(n: Int, pDeleted: Double, pChanged: Double, newFraction: Double)

  /** The next snapshot of `uniform(seed, rc.n)`: a seeded choice of exactly
   *  round(n * pDeleted) urls is deleted and of round(n * pChanged) others
   *  changed (same url, the text of a page from a disjoint index range),
   *  and round(n * newFraction) pages are added. Returns the snapshot and
   *  how many pages were planted as changed or new. */
  def recrawl(seed: Long, rc: Recrawl): (Crawl, Long) = {
    val n = rc.n
    val b = base(seed, 40 * n)
    val order = Array.range(0, n)
    val r = rng(seed, 1, 0)
    for (i <- n - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val t = order(i); order(i) = order(j); order(j) = t
    }
    val (nDel, nChg) = (math.round(n * rc.pDeleted).toInt, math.round(n * rc.pChanged).toInt)
    val deleted = order.take(nDel).toSet
    val changed = order.slice(nDel, nDel + nChg).toSet
    val kept = (0 until n).filterNot(deleted).map { k =>
      val i = b + k
      if (!changed(k)) PageGen.page(i)
      else {
        val (donor, g) = PageGen.page(i + 20 * n)
        (donor.copy(url = PageGen.page(i)._1.url), g)
      }
    }
    val nNew = math.round(n * rc.newFraction).toInt
    val added = (b + n until b + n + nNew).map(PageGen.page)
    val all = (kept ++ added).toVector
    (Crawl(all.map(_._1), all.flatMap(p => gold(p._2)).toSet), (nChg + nNew).toLong)
  }

  /** Settings of the syndicated, skewed crawl. */
  final case class Hot(n: Int, stories: Int, zipfS: Double, hotShare: Double,
                       variantShare: Double)

  private val legalSuffix = Seq(" Inc.", " Corp.", " Ltd.")

  /** A short legal-suffix variant the linker folds back: "X Inc." and
   *  "X Co." normalize to the same name, and the longer surface form is
   *  the canonical one, so the gold stays in the original names. */
  def variant(org: String): Option[String] =
    legalSuffix.find(org.endsWith).map(s => org.dropRight(s.length) + " Co.")

  /** A syndicated crawl with Zipf skew. A share `hotShare` of pages carries
   *  one of `stories` hot PageGen stories, whose ranks follow a Zipf law
   *  with exponent zipfS; the rest are ordinary PageGen pages. Each hot
   *  page has its own url and a unique dateline sentence (no entity, so no
   *  facts). Pages [0, stories) carry story j verbatim, so every story is
   *  seen under its original names; on later pages a share `variantShare`
   *  of hot copies writes each org of the story with a shorter legal
   *  suffix. The draws are seeded low-discrepancy sequences, so every seed
   *  gets the shares and the Zipf law almost exactly, and seeds differ in
   *  which pages and entities they hit. */
  def hot(seed: Long, h: Hot): Crawl = {
    val b = base(seed, 40 * h.n)
    // story k sits at index s0 + 60k with s0 = 0 mod 2340 (= lcm(60, 39 *
    // 3)): every story is an English page (PageGen marks i % 20 == 19 as
    // non-English) whose main org ends in " Inc." and that carries two
    // template sentences (2 + i % 3), and the templates of rank k are the
    // same for every seed (they cycle with i % 39), so seeds differ in the
    // entities of the hot stories, not in how much work they are
    val first = b + 20 * h.n
    val s0 = first + math.floorMod(-first, 2340)
    val storyIdx = (0 until h.stories).map(k => s0 + 60 * k)
    val weights = (1 to h.stories).map(r => 1.0 / math.pow(r, h.zipfS))
    val cdf = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum).toArray
    def draw(u: Double) = {
      val k = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (k >= 0) k else -k - 1, h.stories - 1)
    }
    // additive recurrences on three rationally independent irrationals
    val r = rng(seed, 2, 0)
    val (u0, v0, w0) = (r.nextDouble(), r.nextDouble(), r.nextDouble())
    def seq(start: Double, step: Double, j: Int) = {
      val x = start + j * step
      x - math.floor(x)
    }
    val gen = (0 until h.n).map { j =>
      if (j < h.stories || seq(u0, math.sqrt(2.0) - 1, j) < h.hotShare) {
        val story = storyIdx(if (j < h.stories) j else draw(seq(v0, (math.sqrt(5.0) - 1) / 2, j)))
        val (p, g) = PageGen.page(story)
        val text0 =
          if (j < h.stories || seq(w0, math.sqrt(3.0) - 1, j) >= h.variantShare) p.text
          else (story to story + 6).map(PageGen.org).distinct
            .foldLeft(p.text)((t, o) => variant(o).fold(t)(t.replace(o, _)))
        val text = text0 + s" Wire copy $j was filed overnight."
        val html = ("<html><body><p>" + TextExtractor.escapeHtml(text) +
          "</p></body></html>").getBytes("UTF-8")
        (Page(s"https://wire-${j % 53}.example/story-$j",
          new Timestamp(1700000000000L + j * 37000L), html, text, "en"), gold(g))
      } else {
        val (p, g) = PageGen.page(b + j)
        (p, gold(g))
      }
    }.toVector
    Crawl(gen.map(_._1), gen.flatMap(_._2).toSet)
  }
}
