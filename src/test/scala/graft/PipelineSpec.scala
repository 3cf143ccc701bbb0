package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}

import graft.extract.HtmlText
import graft.io.{NoForkLocalFileSystem, TripleStore}
import graft.link.AliasDict
import graft.model.PageRow
import graft.pipeline.{Pipeline, SynthCorpus}
import graft.util.Utf8Order

/** End-to-end over the synthetic Common-Crawl-style corpus (FIXTURES.md §4):
  * byte-identical HTML extraction, full DAG to triples, bucketed store, and
  * exact resume from per-unit lineage.
  */
class PipelineSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("html -> text extraction is byte-identical on synthetic pages") {
    (0L until 200L).foreach { i =>
      val r = SynthCorpus.row(42L, i, skewFraction = 0.1)
      val extracted = HtmlText.extract(new String(r.html, StandardCharsets.UTF_8))
      assert(extracted == r.text, s"doc $i extraction mismatch:\n$extracted\nvs\n${r.text}")
    }
  }

  test("driver entry point returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("full DAG: every synthetic doc yields triples with linked subjects") {
    import spark.implicits._
    val pages = SynthCorpus.pages(spark, 48, seed = 42L)
    val triples = Pipeline.triples(pages).collect()
    val byDoc = triples.groupBy(_.docId)
    assert(byDoc.size == 48, s"docs with triples: ${byDoc.size}")
    // each doc: a born-year triple on a wikipedia URI subject
    byDoc.foreach { case (doc, ts) =>
      assert(ts.exists(t => t.pred == "has_time" && t.frame == "Being_born"),
        s"$doc missing Being_born:has_time, has: ${ts.map(_.predShort).distinct.mkString(",")}")
      assert(ts.exists(_.subjIsUri), s"$doc has no URI subject")
    }
    // protagonist linking: known alias resolves to its dictionary URI
    val doc0Text = SynthCorpus.text(42L, 0L, 0.0)
    val name = doc0Text.split(" was born").head
    val expectedUri = AliasDict.default.lookup(name.toLowerCase).get.uri
    val doc0 = triples.filter(_.docId == "https://example.org/wiki/doc_00000000")
    assert(doc0.exists(_.subj == expectedUri),
      s"doc0 subjects ${doc0.map(_.subj).distinct.mkString(",")} lack $expectedUri")
  }

  test("bucketed store round-trips and buckets by subject hash") {
    import spark.implicits._
    val dir = Files.createTempDirectory("triples_store").toString
    val pages = SynthCorpus.pages(spark, 24, seed = 7L)
    val triples = Pipeline.triples(pages)
    TripleStore.write(triples, dir, buckets = 8)
    val back = TripleStore.read(spark, dir)
    assert(back.count() == triples.count())
    // same subj → same bucket
    val conflicting = back.groupBy("subj").agg(
      org.apache.spark.sql.functions.countDistinct("bucket").as("nb"))
      .filter($"nb" > 1).count()
    assert(conflicting == 0)
  }

  test("checkpointed run resumes exactly after losing a unit") {
    import spark.implicits._
    val dir = Files.createTempDirectory("triples_ckpt").toString
    val pages = SynthCorpus.pages(spark, 40, seed = 11L)

    val first = TripleStore.runCheckpointed(pages, dir, units = 8)
    assert(first.nonEmpty)
    val full = spark.read.parquet(s"$dir/data")
      .select("subj", "pred", "obj").as[(String, String, String)]
      .collect().toSet

    // simulate a lost unit: drop its data partition and lineage line
    val victim = first.head.unit
    val unitDir = Paths.get(dir, "data", s"unit=$victim")
    Files.walk(unitDir).iterator.asScala.toVector.reverse.foreach(Files.delete(_))
    val lineageFiles = Files.list(Paths.get(dir, "lineage")).iterator.asScala.toVector
    lineageFiles.foreach { f =>
      val kept = Files.readAllLines(f, StandardCharsets.UTF_8).asScala
        .filterNot(_.startsWith(s"$victim\t"))
      Files.write(f, kept.mkString("\n").getBytes(StandardCharsets.UTF_8))
    }

    val second = TripleStore.runCheckpointed(pages, dir, units = 8)
    assert(second.map(_.unit) == Vector(victim), s"resumed units: $second")
    val resumed = spark.read.parquet(s"$dir/data")
      .select("subj", "pred", "obj").as[(String, String, String)]
      .collect().toSet
    assert(resumed == full, "resumed triple set differs from original")
    // every row sits in its page's unit, and the store holds exactly the
    // pipeline's triples
    val stored = spark.read.parquet(s"$dir/data")
    assert(stored.filter(col("unit") =!= pmod(xxhash64(col("docId")), lit(8))).isEmpty)
    val tripleCols = Seq("docId", "subj", "frame", "role", "pred", "obj").map(col)
    def rows(df: org.apache.spark.sql.DataFrame) = df.select(tripleCols: _*)
      .as[(String, String, String, String, String, String)].collect().sorted.toSeq
    assert(rows(stored) == rows(Pipeline.triples(pages).toDF()))

    // third run: nothing pending, and nothing under the store changes
    def snapshot() = Files.walk(Paths.get(dir)).iterator.asScala
      .map(p => (p.toString, Files.getLastModifiedTime(p).toMillis, Files.size(p))).toSet
    val before = snapshot()
    assert(TripleStore.runCheckpointed(pages, dir, units = 8).isEmpty)
    assert(snapshot() == before, "a fully-done resume wrote to the store")
  }

  /** Number of tasks of each stage that wrote output during `body`. */
  private def writeStageTasks(body: => Unit): Seq[Int] = {
    val sc = spark.sparkContext
    val tasks = scala.collection.mutable.ArrayBuffer.empty[Int]
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.taskMetrics.outputMetrics.bytesWritten > 0)
          tasks.synchronized(tasks += e.stageInfo.numTasks)
    }
    TestBus.drain(sc)
    sc.addSparkListener(listener)
    try { body; TestBus.drain(sc) } finally sc.removeSparkListener(listener)
    tasks.toSeq
  }

  /** Parquet files per partition directory (`bucket=N` / `unit=N`). */
  private def filesPerPartition(dir: String): Map[String, Int] =
    Files.list(Paths.get(dir)).iterator.asScala.filter(Files.isDirectory(_)).map { d =>
      d.getFileName.toString ->
        Files.list(d).iterator.asScala.count(_.getFileName.toString.endsWith(".parquet"))
    }.toMap

  test("store writes run min(keys, cores) tasks, each key written by one task") {
    val cores = spark.sparkContext.defaultParallelism
    val triples = Pipeline.triples(SynthCorpus.pages(spark, 40, seed = 3L))
    for (buckets <- Seq(2, 8)) {
      val dir = Files.createTempDirectory("store_tasks").toString
      val tasks = writeStageTasks(TripleStore.write(triples, dir, buckets))
      assert(tasks == Seq(math.min(buckets, cores)), s"buckets=$buckets write stages: $tasks")
      assert(filesPerPartition(dir) == (0 until buckets).map(b => s"bucket=$b" -> 1).toMap)
    }
    val store = Files.createTempDirectory("ckpt_tasks").toString
    val tasks = writeStageTasks(
      TripleStore.runCheckpointed(SynthCorpus.pages(spark, 40, seed = 3L), store, units = 8))
    assert(tasks == Seq(math.min(8, cores)), s"runCheckpointed write stages: $tasks")
    assert(filesPerPartition(s"$store/data") == (0 until 8).map(u => s"unit=$u" -> 1).toMap)
  }

  test("store files keep (subj, pred, obj) order: write, runCheckpointed, upsertDocs") {
    import spark.implicits._
    val pages = SynthCorpus.pages(spark, 60, seed = 5L, skewFraction = 0.3)
    val written = Files.createTempDirectory("sorted_write").toString
    TripleStore.write(Pipeline.triples(pages), written, buckets = 8)
    val ckpt = Files.createTempDirectory("sorted_ckpt").toString
    TripleStore.runCheckpointed(pages, ckpt, units = 8)
    // an upsert over an existing store: the second hop rewrites its units
    val upserted = Files.createTempDirectory("sorted_upsert").toString
    TripleStore.upsertDocs(Pipeline.triples(pages), upserted, units = 8)
    TripleStore.upsertDocs(Pipeline.triples(pages.limit(20)), upserted, units = 8)

    def cmp(a: (String, String, String), b: (String, String, String)): Int = {
      val s = Utf8Order.compare(a._1, b._1)
      if (s != 0) s else {
        val p = Utf8Order.compare(a._2, b._2)
        if (p != 0) p else Utf8Order.compare(a._3, b._3)
      }
    }
    for (root <- Seq(written, s"$ckpt/data", s"$upserted/data")) {
      val files = Files.walk(Paths.get(root)).iterator.asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toVector
      assert(files.size >= 8, s"$root: ${files.size} files")
      files.foreach { f =>
        val rows = spark.read.parquet(f.toString)
          .select("subj", "pred", "obj").as[(String, String, String)].collect()
        val firstBad = rows.indices.drop(1).find(i => cmp(rows(i - 1), rows(i)) > 0)
        assert(firstBad.isEmpty, s"$f out of (subj, pred, obj) order at row $firstBad")
      }
    }
  }

  test("store writes keep POSIX permissions and set them without forking") {
    import spark.implicits._
    val pages = SynthCorpus.pages(spark, 24, seed = 9L)
    val triples = Pipeline.triples(pages)
    /** Permissions by kind of entry (directory, part file, checksum,
      * marker) under `root`, itself included. */
    def perms(root: String): Map[String, Set[String]] =
      Files.walk(Paths.get(root)).iterator.asScala
        .map { p =>
          val name = p.getFileName.toString
          val kind =
            if (Files.isDirectory(p)) "dir"
            else if (name.endsWith(".crc")) "crc"
            else if (name.startsWith("part-")) "part"
            else name
          kind -> java.nio.file.attribute.PosixFilePermissions.toString(
            Files.getPosixFilePermissions(p))
        }.toVector.groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
    // the same kinds of entries written through the session's file system
    val plain = Files.createTempDirectory("perm_plain").resolve("out").toString
    triples.toDF().withColumn("unit", TripleStore.bucketOf(col("docId"), 4))
      .write.partitionBy("unit").parquet(plain)
    val want = perms(plain)
    assert(Set("dir", "crc", "part", "_SUCCESS").subsetOf(want.keySet), want)
    assert(want.values.forall(_.size == 1), want)

    def viaNoFork(body: => Unit): Unit = {
      val before = NoForkLocalFileSystem.setPermissionCalls.get
      body
      assert(NoForkLocalFileSystem.setPermissionCalls.get > before)
    }
    val written = Files.createTempDirectory("perm_write").toString
    viaNoFork(TripleStore.write(triples, s"$written/data", buckets = 4))
    val ckpt = Files.createTempDirectory("perm_ckpt").toString
    viaNoFork(TripleStore.runCheckpointed(pages, ckpt, units = 4))
    val upserted = Files.createTempDirectory("perm_upsert").toString
    viaNoFork(TripleStore.upsertDocs(triples, upserted, units = 4))
    viaNoFork(TripleStore.upsertDocs(Pipeline.triples(pages.limit(5)), upserted, units = 4))
    for (root <- Seq(s"$written/data", s"$ckpt/data", s"$upserted/data", s"$upserted/staging")) {
      // dynamic partition overwrites leave no _SUCCESS marker
      val got = perms(root)
      assert(Set("dir", "crc", "part").subsetOf(got.keySet), s"$root: $got")
      assert(got == want.view.filterKeys(got.keySet).toMap, s"$root: $got vs $want")
    }
  }

  test("a page with null html and empty text yields no triples and fails no run") {
    import spark.implicits._
    val empty = PageRow("https://example.org/wiki/empty_page", null, null, "", "en")
    assert(Pipeline.convertPage(empty, Pipeline.Config()).isEmpty)

    val pages = SynthCorpus.pages(spark, 24, seed = 13L)
    val units = 16
    def unitOf(url: String): Int = spark.range(1)
      .select(pmod(xxhash64(lit(url)), lit(units)).cast("int")).as[Int].head()
    // the empty page lands in a unit no other page uses, so that unit
    // emits no triples at all
    val used = pages.collect().map(p => unitOf(p.url)).toSet
    val lonely = Iterator.from(0).map(i => empty.copy(url = s"https://example.org/wiki/empty_$i"))
      .find(p => !used(unitOf(p.url))).get
    val clean = Files.createTempDirectory("empty_page_clean").toString
    val mixed = Files.createTempDirectory("empty_page_mixed").toString
    val cleanLineage = TripleStore.runCheckpointed(pages, clean, units)
    val mixedLineage = TripleStore.runCheckpointed(
      pages.union(Seq(empty, lonely).toDS()).repartition(3), mixed, units)

    def stored(d: String) = spark.read.parquet(s"$d/data")
      .select("docId", "subj", "frame", "role", "pred", "obj").as[(String, String, String, String, String, String)]
      .collect().sorted.toSeq
    assert(stored(mixed) == stored(clean), "the empty pages changed the other pages' triples")
    // every page is counted once; the lonely unit gets its docs row with 0 triples
    val lonelyUnit = unitOf(lonely.url)
    val emptyUnit = unitOf(empty.url)
    val expected = (cleanLineage.map(l => l.unit -> l).toMap
      + (lonelyUnit -> TripleStore.UnitLineage(lonelyUnit, 1, 0))
      + (emptyUnit -> cleanLineage.find(_.unit == emptyUnit).fold(
          TripleStore.UnitLineage(emptyUnit, 1, 0))(l => l.copy(docs = l.docs + 1))))
    assert(mixedLineage == expected.values.toVector.sortBy(_.unit))
    assert(TripleStore.lineage(mixed) == mixedLineage)
  }
}
