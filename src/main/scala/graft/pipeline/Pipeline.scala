package graft.pipeline

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions.col

import graft.extract.{HtmlText, Segmenter}
import graft.frames.FrameDetect
import graft.link.{AliasDict, EntityLink}
import graft.model.{PageRow, Triple}
import graft.rdf.TripleEmitter

/** The KG-construction DAG: pages → text → sentences → frames → entities →
  * triples.
  *
  * Every stage is url-local (SURVEY.md §3.1), so the whole transform is ONE
  * `mapPartitions` — shuffle-free map-side execution. The reference runs the
  * same stages as per-author subprocesses with files between them
  * (batch_pipeline.py:73-202); here the stage boundaries disappear and task
  * parallelism over input partitions replaces its 4-process pool. At
  * cluster scale this is embarrassingly parallel: no groupBy, no join — the
  * alias dictionary and frame lexicon ship on the classpath (equivalent to
  * broadcast; loaded once per executor JVM). The only shuffles in the full
  * job are the ones we *choose* downstream: bucket-by-subject at write time
  * (TripleStore) and canonicalization/stats aggregations.
  */
object Pipeline {

  final case class Config(
      relThreshold: Double = EntityLink.BatchThreshold,
      dict: AliasDict = null, // null → AliasDict.default (classpath singleton)
      disambiguate: Boolean = true) {
    def dictionary: AliasDict = if (dict == null) AliasDict.default else dict
    def disambiguator: graft.link.Disambiguator =
      if (disambiguate) graft.link.Disambiguator.default else null
  }

  /** Per-page pure conversion — the unit of work. A page with neither
    * text nor html has nothing to convert and yields no triples.
    */
  def convertPage(p: PageRow, cfg: Config): Vector[Triple] = {
    val text =
      if (p.text != null && p.text.nonEmpty) p.text
      else if (p.html == null) return Vector.empty
      else HtmlText.extract(new String(p.html, StandardCharsets.UTF_8))
    val sentences = Segmenter.sentences(text)
    val frames = FrameDetect.detectDoc(sentences)
    val entities = EntityLink.link(p.url, text, cfg.dictionary, cfg.relThreshold,
      disambiguator = cfg.disambiguator)
    TripleEmitter.convert(p.url, frames.toVector, entities)
  }

  def triples(pages: Dataset[PageRow]): Dataset[Triple] = {
    import pages.sparkSession.implicits._
    convertPartitions(pages)((_, ts) => ts)
  }

  /** `triples` with each page's `warc_ts` kept next to its triples.
    * Output columns: warc_ts + the Triple fields.
    */
  def timestampedTriples(pages: Dataset[PageRow]): DataFrame = {
    import pages.sparkSession.implicits._
    convertPartitions(pages)((p, ts) => ts.map(t => (p.warc_ts, t)))
      .select(col("_1").as("warc_ts"), col("_2.*"))
  }

  /** The one partition loop over `convertPage`: `out` shapes each page's
    * triples into rows. The Config is resolved once per partition.
    */
  private def convertPartitions[A: Encoder](pages: Dataset[PageRow])(
      out: (PageRow, Vector[Triple]) => IterableOnce[A]): Dataset[A] =
    pages.mapPartitions { it =>
      val cfg = Config(dict = AliasDict.default)
      it.flatMap(p => out(p, convertPage(p, cfg)))
    }
}
