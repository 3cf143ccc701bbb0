package kgbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}

/** What one run knows: its session, tracer, scratch directory and options. */
final class Ctx(
    val spark: SparkSession,
    val tracer: Tracer,
    val work: File,
    val seed: Long,
    val seconds: Int,
    val tiny: Boolean,
    perturb: String,
    pins: Map[String, String]) {

  val cores: Int = spark.sparkContext.defaultParallelism
  // set-up counts from JVM start: session start-up is part of it
  private val t0 = System.nanoTime() - 1000000L *
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime)
  private var setupEnd = 0L

  def dir(name: String): String = new File(work, name).getAbsolutePath

  /** Ends set-up (input generation and warm-up) and starts the clock. */
  def setupDone(): Unit = setupEnd = System.nanoTime()

  def phase(what: String): Unit = Main.phase(what)
  def setupSeconds: Double = (setupEnd - t0) / 1e9
  def deadline: Long = setupEnd + seconds * 1000000000L

  /** Runs iterations while the next one is expected to end within the
    * measuring time (the median iteration so far predicts it), and at least
    * `min`. In a traced run iterations alternate traced and untraced,
    * starting traced, so the run can compare the two.
    */
  def iterate(min: Int)(body: (Int, Boolean) => Unit): Unit = {
    val took = mutable.ArrayBuffer.empty[Double]
    var i = 0
    while (i < min || System.nanoTime() + Stats.median(took.toSeq) * 1e9 <= deadline) {
      val traced = tracer.enabled && i % 2 == 0
      tracer.active = traced
      val t0 = System.nanoTime()
      body(i, traced)
      took += (System.nanoTime() - t0) / 1e9
      i += 1
    }
    tracer.active = false
  }

  /** Tracing overhead: traced over untraced median iteration time, in %. */
  def overheadPct(traced: Seq[Double], untraced: Seq[Double]): Double =
    if (traced.isEmpty || untraced.isEmpty) 0.0
    else (Stats.median(traced) / Stats.median(untraced) - 1) * 100

  /** A pinned value is checked only where one is recorded for this key. */
  def pin(key: String): Option[String] = pins.get(key)

  /** `--perturb output`: one row goes missing from each checked output. */
  def perturbOutput: Boolean = perturb == "output"

  /** A triple set as the checks see it. Under `--perturb program` every set
    * loses the same seventh of its rows, as if the conversion dropped
    * triples: the run's references lose them too, so only the pins can
    * tell.
    */
  def observed(df: DataFrame): DataFrame =
    if (perturb != "program") df
    else df.filter(pmod(xxhash64(df.columns.toSeq.map(c => col(s"`$c`")): _*), lit(7L)) =!= 0L)
}

/** Everything a run reports. Metrics keep their insertion order. */
final class Result {
  var correct = true
  var attempted = 0L
  var failed = 0L
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val errors = mutable.LinkedHashMap.empty[String, String]
  val notes = mutable.ArrayBuffer.empty[String]

  def check(name: String, ok: Boolean, detail: => String): Unit = {
    if (!ok) correct = false
    notes += s"check $name: ${if (ok) "ok" else "FAILED"} $detail"
  }

  /** Records why an op failed; callers count the failed ops. */
  def error(op: String, e: Throwable): Unit =
    errors(op) = Option(e.getMessage).getOrElse(e.getClass.getName)
      .linesIterator.take(1).mkString.take(200)
}

trait Workload {
  def run(ctx: Ctx, res: Result): Unit
}

/** Entry point. Usage:
  * kgbench.Main --workload <kg_build|query_heavy> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> --pins <file> [--size tiny]
  *   [--perturb output|program]
  * The last stdout line is the JSON result; a failed output check exits 1.
  */
object Main {

  val workloads: Map[String, Workload] = Map("kg_build" -> KgBuild, "query_heavy" -> QueryHeavy)

  def main(args: Array[String]): Unit = {
    val opts = mutable.HashMap.empty[String, String]
    var i = 0
    while (i < args.length) {
      opts(args(i)) = args.lift(i + 1).getOrElse("")
      i += 2
    }
    val name = opts.getOrElse("--workload", "")
    val workload = workloads.getOrElse(name, {
      System.err.println(s"unknown workload '$name'; expected one of ${workloads.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    })
    val seed = opts.getOrElse("--seed", "42").toLong
    val seconds = opts.getOrElse("--seconds", "10").toInt
    val trace = opts.getOrElse("--trace", "0") == "1"
    val work = new File(opts.getOrElse("--work", "work")).getAbsoluteFile
    val outDir = new File(opts.getOrElse("--out", "out")).getAbsoluteFile
    val pins = opts.get("--pins").map(new File(_)).filter(_.exists).map(readPins)
      .getOrElse(Map.empty)
    val tiny = opts.get("--size").contains("tiny")

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"kgbench-$name")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    phase("session ready")
    val tracer = new Tracer(spark, trace)
    val ctx = new Ctx(spark, tracer, work, seed, seconds, tiny,
      opts.getOrElse("--perturb", ""), pins)
    val res = new Result
    try workload.run(ctx, res)
    catch {
      case e: Throwable =>
        res.correct = false
        res.error("run", e)
        e.printStackTrace()
    }
    phase("workload done")
    tracer.active = false
    if (trace) tracer.write(new File(outDir, s"trace-$name-seed$seed.jsonl"))
    spark.stop()
    if (!res.e2e.contains("setup_s")) res.e2e("setup_s") = (ctx.setupSeconds, "s")
    if (trace)
      res.layer("ops_failed_frac") = (res.failed.toDouble / math.max(1L, res.attempted), "frac")
    phase("session stopped")
    printResult(name, seed, trace, res)
    if (!res.correct) sys.exit(1)
  }

  /** Logs a phase on stderr with the seconds since JVM start. */
  def phase(what: String): Unit = System.err.println(f"kgbench: $what at " +
    f"${(System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0}%.2f s")

  private def readPins(f: File): Map[String, String] =
    Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t", 2)).collect { case Array(k, v) => k -> v.trim }.toMap

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def printResult(name: String, seed: Long, trace: Boolean, res: Result): Unit = {
    println(s"kgbench workload=$name seed=$seed trace=${if (trace) 1 else 0}")
    res.notes.foreach(n => println(s"  $n"))
    def show(tag: String, m: mutable.LinkedHashMap[String, (Double, String)]): Unit =
      m.foreach { case (k, (v, u)) => println(f"  $tag $k = ${num(v)} $u") }
    show("e2e", res.e2e)
    show("layer", res.layer)
    println(f"  ops attempted=${res.attempted} failed=${res.failed} " +
      f"ops_failed_frac=${res.failed.toDouble / math.max(1L, res.attempted)}%.4f")
    res.errors.foreach { case (k, v) => println(s"  error $k: $v") }
    val metrics = (if (trace) res.layer else res.e2e).map { case (k, (v, u)) =>
      s"${jstr(k)}:{\"value\":${num(v)},\"unit\":${jstr(u)}}"
    }.mkString("{", ",", "}")
    println(s"""{"correct":${res.correct},"attempted":${math.max(1L, res.attempted)},""" +
      s""""failed":${res.failed},"metrics":$metrics}""")
  }
}
