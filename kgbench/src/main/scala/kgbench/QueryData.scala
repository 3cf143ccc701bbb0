package kgbench

import java.io.File
import java.sql.Timestamp

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Input tables for the query workload, in the layout `SparkEntry.queries`
  * reads (`<dir>/<table>.parquet`, one file each). The shapes follow the
  * repo's sf0.1 test tables, measured once (figures in kgbench/README.md):
  *  - documents: 10–100 words drawn uniformly from a 30-word vocabulary;
  *    5% are near-duplicates (another document's text plus the word
  *    "dup"), 0.16% exact clones of another document;
  *  - embeddings: isotropic random unit vectors in 64 dimensions (no
  *    cluster structure), labels uniform over 10;
  *  - events: a Poisson stream over 30 days, 1,500 users, five event types,
  *    values exponential with mean 50;
  *  - lineitem: independent uniform columns, four lines per order on
  *    average (order keys range over a quarter of the line count), 20,000
  *    part keys with no hot key.
  * A pure function of the data seed and the sizes.
  */
object QueryData {

  private val vocab = Vector("a", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")
  private val langs = Vector("en", "en", "en", "en", "en", "en", "zh", "zh", "de", "de",
    "fr", "fr", "es", "es")
  private val eventTypes = Vector("view", "click", "purchase", "signup", "error")
  val NearDupShare = 0.05
  val CloneShare = 0.0016

  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
  final case class Emb(vec_id: Long, embedding: Array[Float], label: Int)
  final case class Event(event_id: Long, ts: Timestamp, user_id: Long, event_type: String,
      value: Double, props: String)
  final case class Line(l_orderkey: Long, l_partkey: Long, l_suppkey: Long, l_linenumber: Int,
      l_quantity: Double, l_extendedprice: Double, l_discount: Double, l_tax: Double,
      l_returnflag: String, l_linestatus: String, l_shipdate: Timestamp)

  /** Row counts. The sf0.1 tables hold 5,000 documents, 2,000 vectors,
    * 100,000 events and 600,000 lines; `Half` keeps their shapes at half
    * their row counts, so a run fits the benchmark's time budget.
    */
  final case class Sizes(docs: Int, vecs: Int, events: Int, lines: Int)
  val Half = Sizes(docs = 2500, vecs = 1000, events = 50000, lines = 300000)

  /** Random source of row `i` of a table: rows are independent of the
    * partitioning, so a parallel generator gives the same table every run.
    */
  private def rng(seed: Long, i: Long): Random = new Random(Recrawl.mix(seed * 1000003L + i))

  private def baseText(seed: Long, i: Long): String = {
    val r = rng(seed ^ 0x5eedL, i)
    Seq.fill(10 + r.nextInt(91))(vocab(r.nextInt(vocab.size))).mkString(" ")
  }

  def document(seed: Long, n: Int, i: Long): Doc = {
    val r = rng(seed, i)
    val u = r.nextDouble()
    def other: Long = { val j = r.nextInt(n - 1).toLong; if (j >= i) j + 1 else j }
    val text =
      if (u < CloneShare) baseText(seed, other)
      else if (u < CloneShare + NearDupShare) baseText(seed, other) + " dup"
      else baseText(seed, i)
    Doc(i, text, langs(r.nextInt(langs.size)), s"src${i % 20}", text.length)
  }

  def embedding(seed: Long, i: Long): Emb = {
    val r = rng(seed, i)
    val v = Array.fill(64)(r.nextGaussian())
    val norm = math.sqrt(v.map(x => x * x).sum)
    Emb(i, v.map(x => (x / norm).toFloat), r.nextInt(10))
  }

  /** Arrival times of a Poisson stream are sequential, so events are made on
    * the driver.
    */
  def events(r: Random, n: Int): Seq[Event] = {
    val start = Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000L
    val meanGapUs = 30.0 * 86400e6 / n
    var t = start.toDouble
    (0 until n).map { i =>
      t += -math.log(1 - r.nextDouble()) * meanGapUs
      val ts = new Timestamp(t.toLong / 1000)
      ts.setNanos(((t.toLong % 1000000) * 1000).toInt)
      Event(i, ts, r.nextInt(1500), eventTypes(r.nextInt(5)),
        math.round(-math.log(1 - r.nextDouble()) * 5000) / 100.0, s"""{"k": ${r.nextInt(100)}}""")
    }
  }

  def line(seed: Long, n: Int, i: Long): Line = {
    val r = rng(seed, i)
    val day = 86400000L
    val t0 = Timestamp.valueOf("1995-01-02 00:00:00").getTime
    Line(r.nextInt(n / 4).toLong, r.nextInt(20000).toLong, r.nextInt(1000).toLong,
      1 + r.nextInt(7), 1.0 + r.nextInt(50),
      math.round((900 + r.nextDouble() * 104100) * 100) / 100.0,
      r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
      Vector("A", "N", "R")(r.nextInt(3)), if (r.nextBoolean()) "F" else "O",
      new Timestamp(t0 + r.nextInt(2500) * day))
  }

  /** Writes `<dir>/<name>.parquet` as a single file. */
  private def writeSingle(df: DataFrame, dir: File, name: String): Unit = {
    val tmp = new File(dir, s"_$name")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val part = tmp.listFiles.find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no parquet part written for $name"))
    require(part.renameTo(new File(dir, s"$name.parquet")), s"cannot place $name.parquet")
    KgBuild.delete(tmp)
    Main.phase(s"$name written")
  }

  def write(spark: SparkSession, dir: File, dataSeed: Long, s: Sizes): Unit = {
    import spark.implicits._
    dir.mkdirs()
    val parts = spark.sparkContext.defaultParallelism
    writeSingle(spark.range(0, s.docs, 1, parts).as[Long]
      .map(i => document(dataSeed, s.docs, i)).toDF(), dir, "documents")
    writeSingle(spark.range(0, s.vecs, 1, parts).as[Long]
      .map(i => embedding(dataSeed + 1, i)).toDF(), dir, "embeddings")
    writeSingle(events(new Random(dataSeed + 2), s.events).toDF(), dir, "events")
    writeSingle(spark.range(0, s.lines, 1, parts).as[Long]
      .map(i => line(dataSeed + 3, s.lines, i)).toDF(), dir, "lineitem")
  }
}
