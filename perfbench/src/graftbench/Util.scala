package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Minimal JSON rendering for the result line and the span file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail sample: the highest order statistic with min(10, n / 10)
    * samples above it. From 100 samples on that is the highest percentile
    * with at least ten samples beyond it; smaller runs get a p90-like tail
    * with fewer samples beyond, and `beyond` reports how many.
    */
  def tail(xs: Seq[Double]): (Double, Int) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val beyond = math.min(10, s.size / 10)
    (s(s.size - 1 - beyond), beyond)
  }

  def percentileRank(n: Int, beyond: Int): Double =
    if (n == 0) 0.0 else 100.0 * (n - beyond) / n
}

/** Order-insensitive fingerprint of a query result: row count plus two
  * 32-bit lane sums of a per-row xxhash64. Floating columns are rendered to
  * ten significant digits first, so last-bit differences from summation
  * order across partitions do not change the fingerprint.
  */
object Fingerprint {
  def of(df: DataFrame): String = {
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => format_string("%.9e", col(f.name))
        case _: ArrayType | _: MapType | _: StructType => col(f.name).cast("string")
        case _ => col(f.name)
      }
    }
    val h = xxhash64((lit(df.columns.mkString(",")) +: cols): _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(0xffffffffL)),
        sum(shiftrightunsigned(col("h"), 32)))
      .head()
    def l(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    s"${l(0)}:${l(1)}:${l(2)}"
  }
}

/** Heap still in use after forced full collections: the working set the
  * workload leaves held (caches, materialized state). Read once at the end
  * of the timed section; unlike a sampled peak it does not depend on when
  * collections happened to run. The second collection runs after Spark's
  * ContextCleaner has had time to drop the broadcast and shuffle blocks the
  * first one released, which otherwise made the reading vary by about 50%.
  */
object RetainedHeap {
  def mb(): Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      (1024.0 * 1024.0)
  }
}
