package graftbench

import java.nio.file.{Files, Paths}

/** One benchmark run in this JVM:
  * {{{
  *   Main --workload ingest|curate --seed N --seconds S --trace 0|1
  *        --work DIR --out FILE
  * }}}
  * Writes the run's figures as one JSON object to FILE; `run.py` checks the
  * curation queries against DuckDB and prints the benchmark's result line. */
object Main {
  val workloads: Map[String, Workload] = Seq(Ingest, Curate).map(w => w.name -> w).toMap

  def main(argv: Array[String]): Unit = {
    val startNs = System.nanoTime()
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = workloads.getOrElse(opt("workload"),
      sys.error(s"unknown workload ${opt("workload")}; one of ${workloads.keys.mkString(", ")}"))
    val args = RunArgs(opt("seed").toLong, opt("seconds").toInt, opt("trace") == "1",
      Paths.get(opt("work")).toAbsolutePath)
    Files.createDirectories(args.work)

    val out = new Result
    val tracer = new Tracer
    val status = try {
      workload.run(args, tracer, out)
      0
    } catch {
      case scala.util.control.NonFatal(e) =>
        e.printStackTrace()
        1
    }
    out.endToEnd("peak_live_mb") = Metric(Memory.peakLiveMb, "MB")
    out.detail("peak_rss_mb") = Metric(Memory.peakRssMb(), "MB")
    val metrics = (m: Iterable[(String, Metric)]) =>
      Json.obj(m.map { case (k, v) => k -> v.json })
    val json = Json.obj(Seq(
      "workload" -> Json.str(workload.name),
      "status" -> status.toString,
      "attempted" -> out.checks.attempted.toString,
      "failed" -> out.checks.failed.toString,
      "failures" -> out.checks.failures.map(Json.str).mkString("[", ",", "]"),
      "end_to_end" -> metrics(out.endToEnd),
      "detail" -> metrics(out.detail),
      "per_layer" -> metrics(out.layers),
      "weather" -> out.samples.weatherJson,
      "samples" -> out.samples.perSampleJson,
      "wall_s" -> Json.num((System.nanoTime() - startNs) / 1e9)) ++ out.extra)
    Files.writeString(Paths.get(opt("out")), json)
    sys.exit(status)
  }
}
