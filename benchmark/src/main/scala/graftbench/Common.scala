package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Order statistics over timed samples. Medians only: a mean lets one
  * stalled sample move the figure. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)))
  }

  /** The highest whole percentile with at least ten samples beyond it, or
    * None below 20 samples. */
  def tailPercentile(n: Int): Option[Int] =
    if (n < 20) None else Some(math.floor(100.0 * (n - 10) / n).toInt)
}

/** A metric value with its unit and, for timings, the samples behind it. */
final case class Metric(value: Double, unit: String, samples: Seq[Double] = Nil) {
  def json: String = {
    val base = s""""value":${Json.num(value)},"unit":${Json.str(unit)}"""
    if (samples.isEmpty) s"{$base}"
    else {
      val tail = Stats.tailPercentile(samples.length).map { p =>
        s""","p$p":${Json.num(Stats.percentile(samples, p))}"""
      }.getOrElse("")
      val all = if (samples.length <= 12)
        samples.map(Json.num).mkString(""","samples":[""", ",", "]") else ""
      s"""{$base,"n":${samples.length}$tail$all}"""
    }
  }
}

object Metric {
  def p50(samples: Seq[Double], unit: String): Metric =
    Metric(Stats.median(samples), unit, samples)
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Host weather from `/proc/stat`: the share of CPU time the hypervisor
  * stole and the share spent in the kernel over an interval. Recorded next
  * to each timed sample so a noisy host shows beside the numbers; never
  * used to drop samples. */
object Weather {
  final case class Jiffies(total: Long, steal: Long, sys: Long)
  final case class Sample(steal: Double, sys: Double)

  def now(): Jiffies = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val cols = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      Jiffies(cols.sum, if (cols.length > 7) cols(7) else 0L, cols(2))
    } finally src.close()
  }

  def between(a: Jiffies, b: Jiffies): Sample = {
    val d = math.max(1L, b.total - a.total).toDouble
    Sample((b.steal - a.steal) / d, (b.sys - a.sys) / d)
  }
}

/** Memory the program holds. The heap has a fixed size and the collector
  * comes to touch all of it, so the process's resident set (VmHWM) reads
  * about the heap size whatever the engine does, and the heap in use at
  * any moment follows the collector's timing. What the engine keeps shows
  * once the heap is fully collected: `settle()` does that between phases,
  * outside every timed region, and notes the heap and non-heap memory
  * still in use; the highest such reading is `peak_live_mb`. */
object Memory {
  @volatile private var peakLive = 0L

  /** Returns the memory in use, in MiB. Two collections run: Spark's
    * context cleaner frees shuffle and broadcast blocks only once the first
    * has cleared the objects that referenced them. */
  def settle(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    val m = ManagementFactory.getMemoryMXBean
    val used = m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed
    peakLive = math.max(peakLive, used)
    used / (1024.0 * 1024.0)
  }

  def peakLiveMb: Double = peakLive / (1024.0 * 1024.0)

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}

/** Timed samples with the host weather of each. */
final class Samples {
  private val all = mutable.ArrayBuffer.empty[(String, Double, Weather.Sample)]

  /** Runs `body`, records its wall time in ms under `name`, returns its result. */
  def time[T](name: String)(body: => T): T = {
    val (r, _) = timed(name)(body)
    r
  }

  def timed[T](name: String)(body: => T): (T, Double) = {
    val j0 = Weather.now()
    val t0 = System.nanoTime()
    val r = body
    val ms = (System.nanoTime() - t0) / 1e6
    all += ((name, ms, Weather.between(j0, Weather.now())))
    (r, ms)
  }

  def of(name: String): Seq[Double] = all.collect { case (`name`, ms, _) => ms }.toSeq

  /** Median steal and system share over every sample, and the worst. */
  def weatherJson: String = {
    val ws = all.map(_._3).toSeq
    if (ws.isEmpty) "{}"
    else Json.obj(Seq(
      "samples" -> ws.length.toString,
      "steal_p50" -> Json.num(Stats.median(ws.map(_.steal))),
      "steal_max" -> Json.num(ws.map(_.steal).max),
      "sys_p50" -> Json.num(Stats.median(ws.map(_.sys))),
      "sys_max" -> Json.num(ws.map(_.sys).max)))
  }

  def perSampleJson: String =
    all.map { case (n, ms, w) =>
      s"""[${Json.str(n)},${Json.num(ms)},${Json.num(w.steal)},${Json.num(w.sys)}]"""
    }.mkString("[", ",", "]")
}

/** Counts operations attempted and those that failed their check. */
final class Checks {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val passed = try ok catch {
      case scala.util.control.NonFatal(e) =>
        failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"; false
    }
    if (!passed) {
      failed += 1
      if (!failures.exists(_.startsWith(what))) failures += what
    }
  }
}

object Sessions {
  /** A local session of `cores` threads. The shuffle-partition count is
    * fixed, so the plan is the same at every core count. Spark's own
    * scratch goes under the work directory. */
  def open(cores: Int, work: Path): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-benchmark-$cores")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.default.parallelism", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def highCores: Int = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()))
}

object Files2 {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      scala.util.Using.resource(Files.walk(p)) { w =>
        w.iterator().asScala.toVector.sortBy(-_.getNameCount).foreach(Files.deleteIfExists)
      }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else scala.util.Using.resource(Files.walk(p)) { w =>
      w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    }
}

/** Order-free content fingerprint of a frame: row count plus the sum of a
  * 64-bit hash of every row. Equal states give equal fingerprints; a state
  * that differs in any row differs with overwhelming probability. */
object Fingerprint {
  def of(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val r = df.select(cols.map(col): _*)
      .agg(count(lit(1)), sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)")))
      .collect()(0)
    (r.getLong(0), Option(r.getDecimal(1)).map(_.longValue).getOrElse(0L))
  }
}
