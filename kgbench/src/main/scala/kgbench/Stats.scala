package kgbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Order statistics, JVM counters and the output digest the checks use. */
object Stats {

  /** Median (0 for an empty sample). */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it, as
    * (percentile, value). Below eleven samples no percentile qualifies and
    * this is the maximum, labelled 100; callers print the sample count.
    */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val s = xs.sorted
    if (s.isEmpty) (100, 0.0)
    else if (s.length < 11) (100, s.last)
    else {
      val idx = s.length - 11
      ((100 * (idx + 1)) / s.length, s(idx))
    }
  }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap in use after a full collection, in MB. The pause between two
    * collections lets Spark's cleaner drop blocks whose owners the first one
    * found unreachable (broadcasts, shuffles), so the figure is live data.
    * Cleanup that outlasts one pause left up to 10% more on some readings
    * after the query rounds, so this is the least of three.
    */
  def heapAfterGcMb(): Double =
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

  /** Order-insensitive digest of a result: row count plus the sum and the
    * xor of a 64-bit hash of every row. Equal multisets of rows give equal
    * digests whatever the partitioning or row order.
    */
  def digest(df: DataFrame): String = {
    val cols = df.columns.toSeq.map(c => col(s"`$c`"))
    val h = xxhash64(cols: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")), bit_xor(col("h")))
      .head()
    val n = r.getLong(0)
    val s = if (r.isNullAt(1)) "0" else r.getDecimal(1).toBigInteger.toString
    val x = if (r.isNullAt(2)) 0L else r.getLong(2)
    f"$n:$s:$x%016x"
  }

  def rows(digestValue: String): Long = digestValue.takeWhile(_ != ':').toLong
}
