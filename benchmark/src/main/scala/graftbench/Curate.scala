package graftbench

import graft.SparkEntry

/** `curate`: a fixed set of `SparkEntry.queries`, each forced with
  * `count()`, over tables generated from the seed. One unrecorded pass
  * warms the JIT and code generation; measured passes follow until the
  * run's time is spent, at least three. The set is the
  * three queries that take the largest share of the suite's wall
  * (q_near_dup_lsh, q_dup_clusters, q_ann_ivf: 32% of the 55 queries that
  * read only their input tables, measured at scale 0.01 on local[4]) plus
  * one query for each other operator family and query surface. The
  * lake-building queries keep scratch tables outside the run's directory;
  * `ingest` measures the lake itself. */
object Curate extends Workload {
  val name = "curate"

  /** Measured passes in an untraced run. The JIT is still compiling after
    * the warm pass, so the first measured pass often runs slow; the median
    * of three stands on another pass. */
  val minPasses = 3

  /** Query → the layer it exercises most. */
  val families: Seq[(String, String)] = Seq(
    "q_near_dup_lsh" -> "ops.dedup_s",
    "q_dup_clusters" -> "ops.dedup_s",
    "q_ann_ivf" -> "ops.similarity_s",
    "q_cdc_sanitize" -> "ops.cdc_s",
    "q_langid" -> "ops.text_s",
    "q_media_features" -> "ops.multimodal_s",
    "q_export_text" -> "sink.export_s",
    "q1_agg" -> "entry.sql_s")

  /** Queries whose plan shape is reported: exchanges and shuffle bytes. */
  val planned = Seq("q_near_dup_lsh", "q_dup_clusters", "q_ann_ivf")

  def run(args: RunArgs, tracer: Tracer, out: Result): Unit = {
    val spark = Sessions.open(Sessions.highCores, args.work)
    val queries = families.map(_._1).map(q => q -> SparkEntry.queries(q))
    val dir = args.work.resolve("tables").toString
    out.phase("input_gen")(CurateData.write(spark, dir, args.seed))

    val oracle = SparkEntry.oracleSql
    out.extra("oracle") = Json.obj(queries.collect {
      case (q, _) if oracle.contains(q) => q -> Json.str(oracle(q))
    })
    out.extra("tables") = Json.str(dir)

    // Warm pass: unrecorded; its counts are each query's reference.
    val firstCount = out.phase("warmup") {
      queries.map { case (q, f) =>
        val (n, ms) = out.samples.timed("warmup")(f(spark, dir).count())
        out.detail(s"$q.warmup_ms") = Metric(ms, "ms")
        q -> n
      }.toMap
    }
    out.extra("spark_counts") = Json.obj(firstCount.map { case (q, n) => q -> n.toString })

    out.setupDone()
    def measure(traced: Boolean): Double = {
      if (traced) tracer.attach(spark)
      val tag = if (traced) "traced:" else ""
      val start = System.nanoTime()
      var passes = 0
      // Whole passes; one traced pass against the untraced median gives the
      // overhead ratio.
      while (passes < (if (traced) 1 else minPasses) ||
        (!traced && System.nanoTime() - start < args.measureNs)) {
        queries.foreach { case (q, f) =>
          val n = tracer.span(spark, s"$tag$q") {
            out.samples.time(s"$tag$q")(f(spark, dir).count())
          }
          if (!traced)
            out.checks.check(s"$q count matches its first pass")(n == firstCount(q))
        }
        passes += 1
      }
      val perQuery = queries.map { case (q, _) => q -> Stats.median(out.samples.of(s"$tag$q")) }
      val passWalls = (0 until passes).map(p =>
        queries.map { case (q, _) => out.samples.of(s"$tag$q")(p) }.sum)
      if (!traced) {
        out.endToEnd("throughput_per_s") =
          Metric(queries.length / (Stats.median(passWalls) / 1000.0), "1/s")
        // The latency of one curation pass, the eight queries back to back:
        // the heavy queries carry it, so the sub-second queries' jitter does
        // not decide it.
        out.endToEnd("latency_p50_ms") = Metric.p50(passWalls, "ms")
        out.detail("suite_s") = Metric.p50(passWalls.map(_ / 1000.0), "s")
        perQuery.foreach { case (q, ms) => out.detail(s"$q.p50_ms") = Metric(ms, "ms") }
      } else {
        tracer.drain(spark)
        perQuery.foreach { case (q, ms) => out.layer(s"ops.${q}_ms", ms, "ms") }
        families.groupBy(_._2).foreach { case (fam, qs) =>
          out.layer(fam, qs.map(q => perQuery.toMap.apply(q._1)).sum / 1000.0, "s")
        }
        planned.foreach { q =>
          val spans = tracer.spansNamed(s"$tag$q")
          val exch = spans.map(s => tracer.plansIn(s).map(_.exchanges).sum.toDouble)
          val shuffle = spans.map(s => tracer.tasks(tracer.jobsIn(s, stream = false))
            .shuffleWrite.toDouble)
          out.layer(s"$q.exchanges", Stats.median(exch), "count")
          out.layer(s"$q.shuffle_bytes", Stats.median(shuffle), "bytes")
          out.layer(s"$q.planning_ms", Stats.median(spans.map(tracer.planningMsIn)), "ms")
        }
      }
      Stats.median(passWalls)
    }
    val plain = out.phase("measure")(measure(traced = false))
    out.settle("measure")
    if (args.trace) {
      out.layer("trace.overhead_ratio", measure(traced = true) / plain, "ratio")
      out.settle("traced")
    }
    spark.stop()
  }
}
