package graftbench

import java.nio.file.Path

import scala.collection.mutable

/** What one run of a workload measured. */
final class Result {
  /** Metrics every workload reports (the benchmark's end-to-end set). */
  val endToEnd = mutable.LinkedHashMap.empty[String, Metric]
  /** The workload's own end-to-end figures, under their descriptive names. */
  val detail = mutable.LinkedHashMap.empty[String, Metric]
  /** Per-layer figures of a traced run. */
  val layers = mutable.LinkedHashMap.empty[String, Metric]
  val checks = new Checks
  val samples = new Samples
  /** Extra JSON fields handed to the runner (e.g. oracle queries to check). */
  val extra = mutable.LinkedHashMap.empty[String, String]

  def layer(name: String, value: Double, unit: String): Unit =
    layers(name) = Metric(value, unit)

  /** Records `setup_s`: from the start of this JVM to the first timed
    * operation, which is now. Only the first call counts. */
  def setupDone(): Unit = if (!endToEnd.contains("setup_s")) {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    endToEnd("setup_s") = Metric((System.currentTimeMillis() - jvmStartMs) / 1e3, "s")
  }

  /** Collects the heap fully after the phase `name` (see [[Memory]]),
    * recording the memory still in use as the detail figure
    * `live.<name>_mb`. */
  def settle(name: String): Unit = detail(s"live.${name}_mb") = Metric(Memory.settle(), "MB")

  /** Runs `body`, recording its wall as the detail figure `time.<name>_s`,
    * so each run shows where its time went. */
  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    detail(s"time.${name}_s") = Metric((System.nanoTime() - t0) / 1e9, "s")
    r
  }
}

/** Arguments of one run: the input seed, the length of the measured phase,
  * whether this is the traced run, and the run's work directory. */
final case class RunArgs(seed: Long, seconds: Int, trace: Boolean, work: Path) {
  def measureNs: Long = seconds * 1000000000L
}

trait Workload {
  def name: String

  /** Runs the workload. A traced run measures once without listeners, then
    * attaches `tracer` and measures again: it fills `Result.layers`, and the
    * ratio of the two phases' unit walls is `trace.overhead_ratio`. */
  def run(args: RunArgs, tracer: Tracer, out: Result): Unit
}
