package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Session set-up, clocks, order statistics and the JSON the benchmark
  * prints. Nothing here touches the engine beyond registering its SQL
  * functions. */
object Harness {

  val Cores: Int = Runtime.getRuntime.availableProcessors()
  def master: String = s"local[$Cores]"

  /** A fresh local session shaped like the repo's own bench session:
    * `local[nproc]`, one shuffle partition per core, no UI. Scratch and
    * warehouse stay under `work`. The engine's SQL functions are
    * registered explicitly: `AnnIndexes.lopqSlim` and `annJoin` register
    * them on their own, a bare `LopqSearcher.searchSlim` on a fresh
    * session does not. */
  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    spark
  }

  def now(): Long = System.nanoTime()
  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def msSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def timed[A](body: => A): (A, Double) = {
    val t0 = now()
    val a = body
    (a, secondsSince(t0))
  }

  /** Percentile `p` in [0, 100], interpolated linearly between order
    * statistics. Infinite values (failed operations) sort last, so a
    * failure counts as a miss. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val h = (s.size - 1) * p / 100.0
      val lo = math.floor(h).toInt
      val hi = math.min(s.size - 1, lo + 1)
      if (lo == hi || s(lo) == s(hi)) s(lo) else s(lo) + (h - lo) * (s(hi) - s(lo))
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Heap in use after full collections, in MB: what the run leaves
    * resident. The pauses let Spark's context cleaner drop the blocks of
    * broadcasts the first collection found unreachable. */
  def heapLiveMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(250) }
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  // ------------------------------------------------------------- JSON

  def jsonString(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => jsonString(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${jsonString(k.toString)}: ${json(x)}" }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ", ", "]")
    case other => jsonString(other.toString)
  }
}

/** One run's outcome, printed as the benchmark's last stdout line. */
final case class Metric(value: Double, unit: String)

final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
    metrics: scala.collection.immutable.ListMap[String, Metric]) {
  def toJson: String = {
    val ms = metrics.map { case (k, m) =>
      k -> scala.collection.immutable.ListMap("value" -> m.value, "unit" -> m.unit)
    }
    Harness.json(scala.collection.immutable.ListMap(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> ms))
  }
}
