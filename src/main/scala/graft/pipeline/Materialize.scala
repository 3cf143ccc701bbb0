package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Triple

/** One-shot materialization of the deterministic synthetic-corpus KG to
  * parquet under a FIXED path, so the driver's DuckDB oracle can read the
  * very same rows the Spark queries transform (VERDICT r1 task #1: turn
  * the rows-only KG queries into hard rows+schema+hash checks).
  *
  * Everything here is a pure function of the corpus seed — independent of
  * the sf dir — so concurrent/successive runs write value-identical data.
  * Written once per JVM (overwrite, never reuse a stale on-disk copy from
  * an older code version).
  */
object Materialize {

  /** Fixed root; oracle SQL hard-codes read_parquet paths under it. */
  val Root = "/tmp/graft_kg_mat"

  val Docs = 200
  val StreamDocs = 50
  val StreamSeed = 9L

  @volatile private var materialized = false

  def ensure(spark: SparkSession): Unit = synchronized {
    if (materialized) return
    import spark.implicits._

    val pages = SynthCorpus.pages(spark, Docs)
    val triples = Pipeline.triples(pages).cache()

    // the same corpus in the JSON-lines interchange format, for the
    // source-adapter round-trip query (q63)
    graft.sources.PageSources.writeJsonl(pages.coalesce(1), s"$Root/pages_jsonl")

    def put(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$Root/$name")

    put(triples.toDF(), "triples")

    val entities = pages.flatMap { p =>
      graft.link.EntityLink.link(p.url, p.text, graft.link.AliasDict.default)
    }.toDF()
    put(entities, "entities")

    val frames = pages.flatMap { p =>
      val sents = graft.extract.Segmenter.sentences(p.text)
      graft.frames.FrameDetect.detectDoc(sents).flatMap(sen =>
        sen.frames.map(f => (p.url, sen.index, f.name, f.elements.size)))
    }.toDF("url", "sent_idx", "frame", "n_elements")
    put(frames, "frames")

    // deterministic pseudo-confidence per triple (no LLM judge available)
    val enriched = triples.toDF()
      .withColumn("confidence",
        round(pmod(xxhash64(col("subj"), col("pred"), col("obj")), lit(1000)) / 1000.0, 3))
      .withColumn("extractable", col("confidence") >= 0.3)
    put(enriched, "enriched")

    // synthetic evaluation rows for the J3 fuzzy join: a deterministic mix
    // of exact-line matches, lowercased-substring matches (eval ⊂ line),
    // padded supersets (line ⊂ eval), and non-matching noise
    val lines = triples.map(t => (t.docId, t.ttlLine)).toDF("docId", "line")
      .withColumn("h", xxhash64(col("line")))
    val evalTriple =
      when(pmod(col("h"), lit(9)) < 3, col("line"))
        .when(pmod(col("h"), lit(9)) < 6,
          lower(substring(col("line"), 5, 1 << 20)))
        .otherwise(concat(lit("pad "), lower(col("line")), lit(" pad")))
    val matching = lines.filter(pmod(col("h"), lit(3)) === 0)
      .withColumn("eval_triple", evalTriple)
    val noise = lines.filter(pmod(col("h"), lit(3)) === 1)
      .withColumn("eval_triple",
        concat(lit("zz_nomatch_"), abs(col("h")).cast("string")))
    val w = Window.partitionBy("docId").orderBy(col("eval_triple"), col("h"))
    val evals = matching.union(noise)
      .withColumn("idx", row_number().over(w).cast("long"))
      .select(
        col("docId"),
        col("idx"),
        col("eval_triple"),
        round(pmod(col("h"), lit(1000)) / 1000.0, 3).as("confidence"),
        concat(lit("sent_"), col("idx")).as("source_sentence"),
        (pmod(col("h"), lit(7)) =!= 0).as("extractable"))
    put(evals, "evals")

    put(graft.canon.Canonicalize.defaultAmbiguousSurfaces.toSeq.sorted
      .toDF("surface"), "ambiguous")

    // batch-computed expected output of the streaming KG query (q45):
    // same per-doc transform + the same dedup keys the stream uses
    val streamTriples = Pipeline.timestampedTriples(
      SynthCorpus.pages(spark, StreamDocs, seed = StreamSeed))
      .dropDuplicates("docId", "subj", "frame", "pred", "obj")
    put(streamTriples, "stream_expected")

    triples.unpersist()
    materialized = true
  }

  def triples(spark: SparkSession): Dataset[Triple] = {
    ensure(spark)
    import spark.implicits._
    spark.read.parquet(s"$Root/triples").as[Triple]
  }

  def entities(spark: SparkSession): DataFrame = {
    ensure(spark)
    spark.read.parquet(s"$Root/entities")
  }

  def enriched(spark: SparkSession): DataFrame = {
    ensure(spark)
    spark.read.parquet(s"$Root/enriched")
  }

  def evals(spark: SparkSession): Dataset[graft.io.Exports.EvalRow] = {
    ensure(spark)
    import spark.implicits._
    spark.read.parquet(s"$Root/evals").as[graft.io.Exports.EvalRow]
  }
}
