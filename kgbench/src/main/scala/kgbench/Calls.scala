package kgbench

import graft.consistency.Consistency
import graft.extract.{Candidates, Scorer}
import graft.model.Page
import graft.nlp.Annotator

/** Single-thread, call-by-call timing of the per-document chain
 *  Annotator.annotate → Candidates.fromSentence → Scorer.toFills →
 *  Consistency.unaryOne over a fixed page sample. */
object Calls {

  final case class Pass(pages: Int, sentences: Long, candidates: Long,
                        fills: Long, kept: Long, annotateNs: Long,
                        candidateNs: Long, scoreNs: Long, unaryNs: Long)

  def pass(sample: Seq[Page]): Pass = {
    var sentences, candidates, fills, kept = 0L
    var annotateNs, candidateNs, scoreNs, unaryNs = 0L
    val admitted = sample.filter(p => Annotator.admits(p.lang, p.text))
    admitted.foreach { p =>
      var t = System.nanoTime()
      val sents = Annotator.annotate(p)
      var u = System.nanoTime(); annotateNs += u - t
      sentences += sents.size
      sents.foreach { s =>
        t = System.nanoTime()
        val cands = Candidates.fromSentence(s)
        u = System.nanoTime(); candidateNs += u - t
        candidates += cands.size
        cands.foreach { cand =>
          t = System.nanoTime()
          val fs = Scorer.toFills(cand)
          u = System.nanoTime(); scoreNs += u - t
          fills += fs.size
          fs.foreach { f =>
            t = System.nanoTime()
            val k = Consistency.unaryOne(f)
            u = System.nanoTime(); unaryNs += u - t
            if (k.isDefined) kept += 1
          }
        }
      }
    }
    Pass(admitted.size, sentences, candidates, fills, kept, annotateNs,
      candidateNs, scoreNs, unaryNs)
  }

  /** Per-call metrics, each the median over `passes` passes. */
  def metrics(sample: Seq[Page], passes: Int): Seq[(String, Double)] = {
    val ps = (1 to passes).map(_ => pass(sample))
    def med(f: Pass => Double) = Stats.median(ps.map(f))
    def per(num: Long, den: Long) = if (den == 0L) 0.0 else num.toDouble / den
    Seq(
      "nlp.us_per_page" -> med(p => per(p.annotateNs, p.pages) / 1e3),
      "extract.us_per_sentence" -> med(p => per(p.candidateNs, p.sentences) / 1e3),
      "extract.us_per_candidate" -> med(p => per(p.scoreNs, p.candidates) / 1e3),
      "extract.fills_per_candidate" -> med(p => per(p.fills, p.candidates)),
      "consistency.unary_kept_ratio" -> med(p => per(p.kept, p.fills)),
      "consistency.ns_per_fill" -> med(p => per(p.unaryNs, p.fills)))
  }
}
