package kgbench

import org.apache.spark.sql.functions._

import graft.io.TripleStore
import graft.model.PageRow
import graft.pipeline.{Pipeline, SynthCorpus}

/** Recrawl leg of the build workload: batches re-generate a scattered
  * slice of the store's urls under a new seed and merge their triples with
  * `TripleStore.upsertDocs`, the copy-on-write MERGE the streaming store
  * path uses. Recrawled pages arrive with text and without head-entity
  * skew, so html extraction and skew are bypassed here.
  */
object Recrawl {

  val Warmup = 1
  val Batches = 5

  /** splitmix64: batch seeds and url picks as pure functions of the seed. */
  def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** @param store   unit store built from `docs` pages of `baseRow`
    * @param baseRow page i as the store was built from it
    */
  def run(ctx: Ctx, res: Result, store: String, docs: Int, units: Int,
      baseRow: Long => PageRow): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val batchDocs = if (ctx.tiny) 20 else 200
    val tr = ctx.tracer

    // latest crawl seed per url; 0 = still the base crawl
    val version = new Array[Long](docs)
    def batch(b: Int): (Long, Vector[Int]) = {
      val seed = mix(ctx.seed * 1000003L + b) | 1L
      (seed, Iterator.iterate(mix(seed))(mix)
        .map(h => ((h >>> 1) % docs).toInt).distinct.take(batchDocs).toVector.sorted)
    }
    def upsert(seed: Long, picks: Vector[Int], pages: Vector[PageRow]): Seq[Int] = {
      // a local batch is split over all cores (LocalTableScan parallelism)
      val affected = tr.span("io.upsertDocs") {
        TripleStore.upsertDocs(Pipeline.triples(spark.createDataset(pages)), store, units)
      }
      picks.foreach(i => version(i) = seed)
      affected
    }

    final case class Batch(seconds: Double, units: Int)
    var batches = Vector.empty[Batch]
    tr.active = tr.enabled
    (0 until Warmup + Batches).foreach { b =>
      val (seed, picks) = batch(b)
      val pages = picks.map(i => SynthCorpus.row(seed, i, 0.0))
      val t0 = System.nanoTime()
      if (b < Warmup) upsert(seed, picks, pages)
      else {
        res.attempted += 1
        try {
          val affected = upsert(seed, picks, pages)
          batches :+= Batch((System.nanoTime() - t0) / 1e9, affected.size)
        } catch {
          case e: Throwable =>
            res.failed += 1
            res.error(s"recrawl-$b", e)
        }
      }
    }
    tr.active = false

    // output check: the store equals a fresh build of each url's latest crawl
    val latest = spark.range(docs).as[Long].map(i =>
      if (version(i.toInt) == 0L) baseRow(i) else SynthCorpus.row(version(i.toInt), i, 0.0))
    val refDigest = Stats.digest(
      ctx.observed(Pipeline.triples(latest).toDF().select(KgBuild.TripleCols.map(col): _*)))
    val storeSet = {
      val df = ctx.observed(KgBuild.storeTriples(ctx, s"$store/data"))
      if (ctx.perturbOutput) df.exceptAll(df.limit(1)) else df
    }
    val storeDigest = Stats.digest(storeSet)
    res.check("recrawl_store", storeDigest == refDigest,
      s"store=$storeDigest fresh_build=$refDigest")
    ctx.pin(s"kg_build/${if (ctx.tiny) "tiny" else "full"}/seed${ctx.seed}/recrawl_store")
      .foreach(p => res.check("pinned_recrawl_store", storeDigest == p, s"expected=$p"))

    val secs = batches.map(_.seconds)
    val p50 = Stats.median(secs)
    val (tailPct, tailS) = Stats.tail(secs)
    res.notes += f"recrawl: batches=${secs.size} batch_docs=$batchDocs p50=$p50%.3f s " +
      f"tail=$tailS%.3f s (p$tailPct of ${secs.size})"
    res.layer("recrawl_batch_p50_s") = (p50, "s")
    res.layer("recrawl_batch_tail_s") = (tailS, "s")
    res.layer("recrawl_docs_per_s") = (batchDocs * secs.size / math.max(1e-9, secs.sum), "1/s")
    if (tr.enabled) {
      val ups = tr.callSpans("io.upsertDocs").drop(Warmup)
      val stages = tr.stagesOf(ups)
      val storeBytes = KgBuild.parquetFiles(s"$store/data").map(_.length).sum.toDouble
      // bytes the batch's own triples take at the store's bytes per doc
      val newBytes = batchDocs * ups.size * storeBytes / docs
      res.layer("io.upsert_s") = (Stats.median(ups.map(_.seconds)), "s")
      res.layer("io.upsert_units_rewritten_frac") =
        (batches.map(_.units).sum.toDouble / (units * math.max(1, batches.size)), "frac")
      res.layer("io.upsert_bytes_written_per_new_byte") =
        (stages.map(_.outputBytes).sum / math.max(1.0, newBytes), "ratio")
    }
  }
}
