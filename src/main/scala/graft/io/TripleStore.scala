package graft.io

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{PageRow, Triple}
import graft.pipeline.Pipeline

/** Iceberg-style materialization of the triples table (no Iceberg jars ship
  * in this environment, so the same contract is built on parquet):
  *
  *  - **bucketing on subject hash**: output partitioned by
  *    `bucket = pmod(xxhash64(subj), N)`, rows sorted by (subj, pred, obj)
  *    within every file — downstream subject joins/aggregations prune by
  *    bucket and co-locate equal subjects (north_star: "explicit bucketing
  *    on subject-hash").
  *  - **per-partition lineage + metrics checkpoints enabling exact resume**:
  *    work is split into `unit = pmod(xxhash64(url), units)` slices; each
  *    completed unit gets a lineage record (doc/triple counts) written
  *    *after* its data commit. Resume filters pages to units without
  *    lineage and rewrites only those partitions (dynamic partition
  *    overwrite → idempotent). A kill between data and lineage writes
  *    re-processes that unit; the final triple set is identical.
  */
object TripleStore {

  final case class UnitLineage(unit: Int, docs: Long, triples: Long)

  def bucketOf(c: org.apache.spark.sql.Column, n: Int) =
    pmod(xxhash64(c), lit(n)).cast("int")

  /** The one exchange of a store write partitioned on the int column `key`,
    * whose values are `keys` (ascending, distinct, non-empty). Rows go to
    * min(|keys|, defaultParallelism) tasks, each taking a contiguous run of
    * the keys, so every key (one partition directory, one file) is written
    * by exactly one task. AQE never coalesces a fixed partition count;
    * under `repartition(col(key))` it merged a small build's 32-bucket
    * write into one task. The count follows the cores, not the keys: each
    * write task pays a fixed cost (deserializing the writer's Hadoop conf),
    * and one task per bucket measured slower than one per core.
    *
    * Rows sort by (key, subj, pred, obj) within each task. The planned
    * write requires `key` order; a sort that does not lead with it is
    * replaced by Spark's own `Sort [key]`, losing the subject order.
    */
  private def clustered(df: DataFrame, key: String, keys: Seq[Int]): DataFrame = {
    val n = math.min(keys.size, df.sparkSession.sparkContext.defaultParallelism)
    val slot = new Array[Int](keys.last + 1)
    keys.zipWithIndex.foreach { case (k, i) => slot(k) = i * n / keys.size }
    df.repartitionById(n, element_at(typedLit(slot), col(key) + 1))
      .sortWithinPartitions(key, "subj", "pred", "obj")
  }

  /** Plain bucketed write of a triple Dataset (no resume bookkeeping). */
  def write(triples: Dataset[Triple], path: String, buckets: Int = 32): Unit = {
    clustered(triples.toDF().withColumn("bucket", bucketOf(col("subj"), buckets)),
      "bucket", 0 until buckets)
      .write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(path)
  }

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Iceberg-MERGE-style copy-on-write upsert: replace ALL existing
    * triples of the given documents with `newTriples`, rewriting only the
    * unit partitions those documents hash into. Two-hop commit (staging
    * parquet, then dynamic partition overwrite of the main store) so the
    * store is never read and overwritten in the same job; replays of the
    * same batch (streaming checkpoint recovery) converge to the same
    * bytes. Returns the affected units.
    */
  def upsertDocs(
      newTriples: Dataset[Triple],
      outDir: String,
      units: Int = 16): Seq[Int] = {
    val spark = newTriples.sparkSession
    import spark.implicits._
    val withUnit = newTriples.toDF().withColumn("unit", bucketOf(col("docId"), units))
    val affected = withUnit.select("unit").distinct().as[Int].collect().toSeq.sorted
    if (affected.isEmpty) return Seq.empty
    val main = dataDir(outDir)
    val staging = s"$outDir/_staging"
    // staging is per-batch scratch: clear it first, so unit partitions from
    // EARLIER batches can't leak into this batch's second hop (they would
    // both grow each write toward a full-store rewrite and silently revert
    // units another writer touched in between)
    val stagingPath = new org.apache.hadoop.fs.Path(staging)
    val fs = stagingPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(stagingPath)) fs.delete(stagingPath, true)
    val docs = newTriples.toDF().select("docId").distinct()
    val combined =
      if (Files.exists(Paths.get(main)))
        spark.read.parquet(main)
          .filter(col("unit").isin(affected: _*))
          .join(broadcast(docs), Seq("docId"), "left_anti")
          .unionByName(withUnit)
      else withUnit
    // overwrite mode scoped to the writer, not the session conf — mutating
    // the session would silently flip TripleStore.write's later
    // SaveMode.Overwrite from truncate to dynamic semantics
    clustered(combined, "unit", affected)
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("unit").parquet(staging)
    // no exchange: each staged unit file is read whole by one task; the
    // sort keeps the subject order the planned write's Sort [unit] drops
    spark.read.parquet(staging)
      .filter(col("unit").isin(affected: _*))
      .sortWithinPartitions("unit", "subj", "pred", "obj")
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("unit").parquet(main)
    affected
  }

  // ------------------------------------------------------------------
  // Checkpointed (exact-resume) run
  // ------------------------------------------------------------------

  private def lineageDir(outDir: String) = Paths.get(outDir, "lineage")
  private def dataDir(outDir: String) = s"$outDir/data"

  def completedUnits(outDir: String): Set[Int] = {
    val dir = lineageDir(outDir)
    if (!Files.exists(dir)) Set.empty
    else
      Files.list(dir).iterator.asScala
        .filter(_.getFileName.toString.endsWith(".tsv"))
        .flatMap(p => Files.readAllLines(p, StandardCharsets.UTF_8).asScala)
        .flatMap(_.split("\t").headOption)
        .map(_.toInt)
        .toSet
  }

  def lineage(outDir: String): Vector[UnitLineage] = {
    val dir = lineageDir(outDir)
    if (!Files.exists(dir)) Vector.empty
    else
      Files.list(dir).iterator.asScala
        .filter(_.getFileName.toString.endsWith(".tsv"))
        .flatMap(p => Files.readAllLines(p, StandardCharsets.UTF_8).asScala)
        .map { l =>
          val a = l.split("\t"); UnitLineage(a(0).toInt, a(1).toLong, a(2).toLong)
        }
        .toVector
        .sortBy(_.unit)
  }

  /** Run (or resume) the pipeline over `pages`, materializing
    * `outDir/data/unit=N` parquet partitions plus lineage. Returns units processed
    * in this invocation.
    *
    * Lineage counts are exactly-once: docs come from the input pages and
    * triples from the committed parquet, both read by one query after the
    * data commit. A unit whose pages emit no triples still gets its row.
    */
  def runCheckpointed(
      pages: Dataset[PageRow],
      outDir: String,
      units: Int = 16,
      cfg: Pipeline.Config = Pipeline.Config()): Vector[UnitLineage] = {
    val spark = pages.sparkSession
    import spark.implicits._

    // resume is only valid against the same unit partitioning
    val unitsFile = Paths.get(outDir, "lineage", "_units")
    if (Files.exists(unitsFile)) {
      val prev = new String(Files.readAllBytes(unitsFile), StandardCharsets.UTF_8).trim.toInt
      require(prev == units,
        s"store at $outDir was built with --units $prev; resume must use the same value")
    }

    val done = completedUnits(outDir)
    val pendingUnits = (0 until units).filterNot(done)
    val withUnit = pages.withColumn("unit", bucketOf(col("url"), units))
    val pending =
      if (done.isEmpty) withUnit
      else withUnit.filter(!col("unit").isin(done.toSeq: _*))
    // a resume with nothing left writes nothing; a fresh run skips the probe
    if (pendingUnits.isEmpty || (done.nonEmpty && pending.isEmpty)) return Vector.empty

    val triples = pending
      .select("url", "warc_ts", "html", "text", "lang", "unit")
      .as[(String, java.sql.Timestamp, Array[Byte], String, String, Int)]
      .mapPartitions { it =>
        val c = cfg.copy(dict = cfg.dictionary)
        it.flatMap { case (url, ts, html, text, lang, unit) =>
          Pipeline.convertPage(PageRow(url, ts, html, text, lang), c)
            .map(t => (unit, t))
        }
      }.toDF("unit", "t").select(col("unit"), col("t.*"))

    clustered(triples, "unit", pendingUnits)
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("unit").parquet(dataDir(outDir))

    // metrics from the input and what was actually committed, then
    // lineage (commit point); units without pages get no row. The schema
    // is given: a store whose input had no pages holds no files to infer it
    val committed = spark.read.schema(triples.schema).parquet(dataDir(outDir))
      .filter(col("unit").isin(pendingUnits: _*))
    val results = pending.select(col("unit"), lit(1L).as("doc"), lit(0L).as("triple"))
      .unionByName(committed.select(col("unit"), lit(0L).as("doc"), lit(1L).as("triple")))
      .groupBy("unit").agg(sum("doc").as("docs"), sum("triple").as("triples"))
      .filter(col("docs") > 0)
      .as[UnitLineage].collect().toVector.sortBy(_.unit)
    if (results.nonEmpty) {
      Files.createDirectories(lineageDir(outDir))
      if (!Files.exists(unitsFile))
        Files.write(unitsFile, units.toString.getBytes(StandardCharsets.UTF_8))
      val attempt = Files.list(lineageDir(outDir)).iterator.asScala
        .count(_.getFileName.toString.endsWith(".tsv"))
      val body = results.map(r => s"${r.unit}\t${r.docs}\t${r.triples}").mkString("\n")
      Files.write(
        lineageDir(outDir).resolve(f"attempt-$attempt%04d.tsv"),
        body.getBytes(StandardCharsets.UTF_8))
    }
    results
  }
}
