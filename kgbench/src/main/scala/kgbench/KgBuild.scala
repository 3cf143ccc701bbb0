package kgbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.canon.Canonicalize
import graft.io.TripleStore
import graft.model.{PageRow, Triple}
import graft.pipeline.{Pipeline, SynthCorpus}

/** Full ingest of generated web pages: html → triples → unit store with
  * lineage → canonicalized, subject-bucketed store, timed per build. After
  * the builds the recrawl leg merges re-crawled pages into the last unit
  * store. Traced runs add a leg that converts a fixed slice of the same
  * pages on one task and on all cores (single-core throughput and scaling
  * efficiency) and the single-thread per-layer loop.
  *
  * The warm-up builds in set-up use a fixed corpus, the seed-42 input,
  * whatever the run seed. The first one's stores are compared with pinned
  * digests: the other checks compare the stores with references the same
  * program computes, so only this one sees a change in what the conversion
  * emits. And the JIT forms its profiles on the same pages in every run.
  */
object KgBuild extends Workload {

  val TripleCols: Seq[String] =
    Seq("docId", "subj", "subjIsUri", "frame", "role", "pred", "obj", "objIsUri")
  val Skew = 0.3
  val Units = 16
  val WarmupBuilds = 3
  val TimedBuilds = 4
  val FixedSeed = 42L

  def storeTriples(ctx: Ctx, dataDir: String): DataFrame =
    ctx.spark.read.parquet(dataDir).select(TripleCols.map(col): _*)

  /** Parquet bytes and files under a directory. */
  def parquetFiles(dir: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new File(dir))
  }

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(delete)
    f.delete()
  }

  def run(ctx: Ctx, res: Result): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val docs = if (ctx.tiny) 400 else 6000
    // the conversion legs (traced runs only) need enough pages per task
    // that job start-up does not dominate the all-cores time
    val sliceDocs = if (ctx.tiny) 100 else 8000
    val tr = ctx.tracer

    // set-up: inputs held in memory so the timed part starts at the pages
    def cached(n: Int, partitions: Int, seed: Long = ctx.seed): Dataset[PageRow] = {
      val ds = SynthCorpus.pages(spark, n, seed, Skew, partitions, blankText = true)
        .persist(StorageLevel.MEMORY_ONLY)
      ds.count()
      ds
    }
    val fixedPages = cached(docs, ctx.cores * 4, FixedSeed)
    val pages = cached(docs, ctx.cores * 4)
    val slice = if (tr.enabled) cached(sliceDocs, 1) else null
    val sliceWide = if (tr.enabled) cached(sliceDocs, ctx.cores * 4) else null
    val mentionUri = graft.link.AliasDict.default.entries.values.toSeq
      .map(e => (e.mention, e.uri)).toDF("mention", "uri")
    val ambiguous = Canonicalize.defaultAmbiguousSurfaces

    final case class Iter(build: Double, one: Double, wide: Double, traced: Boolean)
    final case class Built(store: String, canon: String, lineage: Seq[TripleStore.UnitLineage])
    var iters = Vector.empty[Iter]
    var last: Option[Built] = None
    var heapPeak = 0.0

    /** One build: unit store with lineage, then the canonical store. */
    def build(input: Dataset[PageRow], tag: String): Built = {
      val store = ctx.dir(s"build/store-$tag")
      val canonDir = ctx.dir(s"build/canon-$tag")
      val lineage = tr.span("io.runCheckpointed") {
        TripleStore.runCheckpointed(input, store, Units)
      }
      val triples = storeTriples(ctx, s"$store/data").as[Triple]
      val canon = tr.span("canon.canonicalize") {
        Canonicalize.canonicalize(triples, mentionUri, ambiguous,
          Some(ctx.dir(s"build/cc-$tag")), hintBroadcastMapping = true)
      }
      tr.span("io.write") { TripleStore.write(canon, s"$canonDir/data") }
      Built(store, canonDir, lineage)
    }
    def drop(b: Built): Unit = { delete(new File(b.store)); delete(new File(b.canon)) }

    def iteration(i: Int): Iter = {
      val t0 = System.nanoTime()
      val built = build(pages, i.toString)
      val t1 = System.nanoTime()
      var (one, wide) = (0.0, 0.0)
      if (slice != null) {
        val n1 = tr.span("pipeline.triples.one_task") { Pipeline.triples(slice).count() }
        val t2 = System.nanoTime()
        val n4 = tr.span("pipeline.triples.all_cores") { Pipeline.triples(sliceWide).count() }
        require(n1 == n4, s"slice converted to $n1 triples on one task, $n4 on all cores")
        one = (t2 - t1) / 1e9
        wide = (System.nanoTime() - t2) / 1e9
      }
      last.foreach(drop)
      last = Some(built)
      Iter((t1 - t0) / 1e9, one, wide, tr.active)
    }

    /** Digest of a store's triples as the checks see them. */
    def digestOf(dir: String): String = Stats.digest(ctx.observed(storeTriples(ctx, s"$dir/data")))

    val size = if (ctx.tiny) "tiny" else "full"
    // warm-up builds of the fixed corpus: JIT, codegen and the first-build
    // penalty land in set-up; the first build is checked against its pins
    ctx.phase("inputs cached")
    (1 to WarmupBuilds).foreach { i =>
      val fixed = build(fixedPages, s"fixed-$i")
      if (i == 1) for ((k, dir) <- Seq("unit_store" -> fixed.store, "canonical_store" -> fixed.canon)) {
        val got = digestOf(dir)
        val want = ctx.pin(s"kg_build/$size/seed$FixedSeed/$k")
        res.check(s"pinned_fixed_$k", want.contains(got),
          s"digest=$got expected=${want.getOrElse("(no pin)")}")
      }
      drop(fixed)
    }
    fixedPages.unpersist()

    // reference outputs for the checks: the plain conversion of the run's
    // pages, and canonicalizing that
    ctx.phase("fixed corpus built")
    val refTriples = Pipeline.triples(pages)
    val refDigest = Stats.digest(ctx.observed(refTriples.toDF().select(TripleCols.map(col): _*)))
    val refCanonDigest = Stats.digest(ctx.observed(
      Canonicalize.canonicalize(refTriples, mentionUri, ambiguous).toDF().select(TripleCols.map(col): _*)))
    ctx.phase("reference computed")
    heapPeak = Stats.heapAfterGcMb()
    ctx.setupDone()

    var gcMs = 0L
    // builds keep getting faster for a few builds as the JIT catches up;
    // the median of four is past the slow first one
    ctx.iterate(TimedBuilds) { (i, _) =>
      res.attempted += docs
      val g0 = Stats.gcMillis()
      try iters :+= iteration(i)
      catch {
        case e: Throwable =>
          res.failed += docs
          res.error(s"build-$i", e)
      }
      gcMs += Stats.gcMillis() - g0
    }
    // sampled after the builds, not between them: a forced collection
    // before a build (and the cleanup it triggers) slowed some runs' builds
    heapPeak = math.max(heapPeak, Stats.heapAfterGcMb())

    val plain = iters.filterNot(_.traced)
    val timed = if (plain.nonEmpty) plain else iters
    val buildS = Stats.median(timed.map(_.build))
    res.e2e("setup_s") = (ctx.setupSeconds, "s")
    res.e2e("iter_p50_s") = (buildS, "s")
    res.e2e("heap_after_gc_peak_mb") = (heapPeak, "MB")
    res.notes += f"builds=${iters.size} docs_per_build=$docs skew=$Skew units=$Units slice_docs=$sliceDocs"
    res.notes += iters.map(it => f"${it.build}%.3f/${it.one}%.3f/${it.wide}%.3f${if (it.traced) "T" else ""}")
      .mkString("build/one_task/all_cores seconds: ", " ", "")

    val Built(store, canonDir, lineage) = last.getOrElse {
      res.check("build", ok = false, "no build finished")
      return
    }
    // tasks of the traced builds, before the recrawl leg adds its own
    val buildTasks = tr.listener.tasks
    val storeTriplesN = lineage.map(_.triples).sum
    val canonBytes = parquetFiles(s"$canonDir/data").map(_.length).sum

    val tCheck = System.nanoTime()
    val unitSet = {
      val df = ctx.observed(storeTriples(ctx, s"$store/data"))
      if (ctx.perturbOutput) df.exceptAll(df.limit(1)) else df
    }
    val unitDigest = Stats.digest(unitSet)
    val canonDigest = digestOf(canonDir)
    val storedN = storeTriples(ctx, s"$store/data").count()
    res.check("lineage", lineage.map(_.docs).sum == docs && storeTriplesN == storedN,
      s"docs=${lineage.map(_.docs).sum} lineage_triples=$storeTriplesN stored=$storedN")
    res.check("unit_store", unitDigest == refDigest, s"store=$unitDigest reference=$refDigest")
    res.check("canonical_store", canonDigest == refCanonDigest,
      s"store=$canonDigest reference=$refCanonDigest")
    for ((k, v) <- Seq("unit_store" -> unitDigest, "canonical_store" -> canonDigest);
         p <- ctx.pin(s"kg_build/$size/seed${ctx.seed}/$k"))
      res.check(s"pinned_$k", v == p, s"expected=$p")

    res.notes += f"checks took ${(System.nanoTime() - tCheck) / 1e9}%.2f s"
    val seed = ctx.seed
    Recrawl.run(ctx, res, store, docs, Units,
      i => SynthCorpus.row(seed, i, Skew, blankText = true))
    val canonN = Stats.rows(canonDigest)
    res.layer("build_docs_per_s") = (docs / buildS, "1/s")
    res.layer("build_triples_per_s") = (storeTriplesN / buildS, "1/s")
    res.layer("store_bytes_per_triple") = (canonBytes.toDouble / math.max(1L, canonN), "B")
    res.notes += s"unit_store triples=$storeTriplesN canonical_store triples=$canonN"

    if (tr.enabled) {
      val conv1 = sliceDocs / Stats.median(iters.map(_.one))
      val convAll = sliceDocs / Stats.median(iters.map(_.wide))
      res.layer("convert_docs_per_s_1core") = (conv1, "1/s")
      res.layer("pipeline.scaling_eff") = (convAll / conv1 / ctx.cores, "frac")
      res.notes += f"pipeline.scaling_eff=${convAll / conv1 / ctx.cores}%.3f (north-rule gate 0.8; " +
        f"one task $conv1%.0f docs/s vs ${ctx.cores} cores $convAll%.0f docs/s)"
      val build = tr.callSpans("io.runCheckpointed")
      val stages = tr.stagesOf(build)
      val writes = tr.writeStagesOf(build)
      val taskMs = stages.flatMap(_.taskMs).sum.toDouble
      val wallMs = build.map(_.seconds).sum * 1000
      val perBuild = math.max(1, build.size).toDouble
      res.layer("pipeline.task_busy_frac") = (taskMs / math.max(1.0, wallMs * ctx.cores), "frac")
      res.layer("io.store_write_s") = (writes.map(_.wallSeconds).sum / perBuild, "s")
      res.layer("io.write_task_max_over_median") = (Tracer.taskSkew(writes), "ratio")
      res.layer("io.shuffle_write_mb") = (Tracer.mb(stages.map(_.shuffleWriteBytes).sum) / perBuild, "MB")
      res.layer("io.spill_mb") = (Tracer.mb(stages.map(_.spillBytes).sum) / perBuild, "MB")
      res.layer("io.files_written") =
        ((parquetFiles(s"$store/data") ++ parquetFiles(s"$canonDir/data")).size.toDouble, "count")
      val cc = tr.callSpans("canon.canonicalize")
      val rewrite = tr.callSpans("io.write")
      res.layer("canon.sameas_edges") =
        (Canonicalize.sameAsEdges(mentionUri, ambiguous).count().toDouble, "count")
      res.layer("canon.cc_s") = (Stats.median(cc.map(_.seconds)), "s")
      res.layer("canon.rewrite_s") = (Stats.median(rewrite.map(_.seconds)), "s")
      res.layer("canon.rewrite_shuffle_mb") =
        (Tracer.mb(tr.stagesOf(rewrite).map(_.shuffleWriteBytes).sum) / math.max(1, rewrite.size), "MB")
      res.layer("canon.bucket_write_task_max_over_median") = (Tracer.taskSkew(tr.writeStagesOf(rewrite)), "ratio")
      res.layer("spark.tasks") = (buildTasks.toDouble / math.max(1, iters.count(_.traced)), "count")
      res.layer("trace.overhead_pct") =
        (ctx.overheadPct(iters.filter(_.traced).map(_.build), plain.map(_.build)), "%")
      Layers.measure(slice.limit(2000).collect().toSeq, res)
      res.layer("gc_s") = (gcMs / 1000.0 / math.max(1, iters.size), "s")
    }
  }
}
