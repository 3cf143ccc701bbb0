package kgbench

import java.nio.charset.StandardCharsets

import graft.extract.{HtmlText, Segmenter}
import graft.frames.FrameDetect
import graft.link.{AliasDict, EntityLink}
import graft.model.PageRow
import graft.pipeline.Pipeline
import graft.rdf.TripleEmitter

/** Single-thread cost of each per-document layer, measured from outside by
  * calling the layers' public functions in the order `Pipeline.convertPage`
  * does, next to a loop over `convertPage` itself on the same pages.
  * Passes alternate between the two loops and each figure is the best pass,
  * so the layer times should add up to the whole-page time.
  */
object Layers {

  val Passes = 3

  def measure(pages: Seq[PageRow], res: Result): Unit = {
    val cfg = Pipeline.Config()
    val c = cfg.copy(dict = cfg.dictionary)
    val dict: AliasDict = c.dict
    val dis = c.disambiguator
    val names = Seq("extract", "segment", "frames", "link", "rdf")
    val best = Array.fill(names.length)(Long.MaxValue)
    var bestWhole = Long.MaxValue
    val counts = new Array[Long](4)
    (1 to Passes).foreach { _ =>
      val ns = new Array[Long](names.length)
      java.util.Arrays.fill(counts, 0L)
      pages.foreach { p =>
        val t0 = System.nanoTime()
        val text =
          if (p.text != null && p.text.nonEmpty) p.text
          else HtmlText.extract(new String(p.html, StandardCharsets.UTF_8))
        val t1 = System.nanoTime()
        val sentences = Segmenter.sentences(text)
        val t2 = System.nanoTime()
        val frames = FrameDetect.detectDoc(sentences)
        val t3 = System.nanoTime()
        val entities = EntityLink.link(p.url, text, dict, c.relThreshold, disambiguator = dis)
        val t4 = System.nanoTime()
        val triples = TripleEmitter.convert(p.url, frames.toVector, entities)
        val t5 = System.nanoTime()
        ns(0) += t1 - t0; ns(1) += t2 - t1; ns(2) += t3 - t2; ns(3) += t4 - t3; ns(4) += t5 - t4
        counts(0) += sentences.length
        counts(1) += frames.map(_.frames.length).sum
        counts(2) += entities.length
        counts(3) += triples.length
      }
      ns.indices.foreach(i => best(i) = math.min(best(i), ns(i)))
      val w0 = System.nanoTime()
      var sink = 0L
      pages.foreach(p => sink += Pipeline.convertPage(p, c).length)
      bestWhole = math.min(bestWhole, System.nanoTime() - w0)
      require(sink == counts(3), s"convertPage emitted $sink triples, the layer calls ${counts(3)}")
    }
    val n = math.max(1, pages.length).toDouble
    names.indices.foreach(i => res.layer(s"${names(i)}.us_per_doc") = (best(i) / 1000.0 / n, "us"))
    res.layer("pipeline.us_per_doc") = (bestWhole / 1000.0 / n, "us")
    res.layer("pipeline.layer_sum_frac") = (best.sum.toDouble / math.max(1L, bestWhole), "frac")
    res.layer("segment.sentences_per_doc") = (counts(0) / n, "count")
    res.layer("frames.frames_per_doc") = (counts(1) / n, "count")
    res.layer("link.mentions_per_doc") = (counts(2) / n, "count")
    res.layer("rdf.triples_per_doc") = (counts(3) / n, "count")
  }
}
