package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.LakeTable
import graft.model.IngestConfig
import graft.ops.CdcOps
import graft.stream.CdcIngestJob
import graft.wal.TranscriptWal

/** `ingest`: the life of a CDC table, in three measured phases. Untraced
  * runs measure the catch-up alone; traced runs measure all three, each
  * first with no listener and then traced.
  *
  *  1. Catch-up: one seeded WAL replayed in bulk through
  *     `CdcIngestJob.replayBatch` into a fresh table, at the high core count
  *     and at one core, in interleaved pairs inside this JVM (the order
  *     alternates per pair). Both levels share the shuffle-partition count,
  *     so they run the same plan; scaling efficiency is computed per pair.
  *  2. Tail: the follow-mode streaming query of
  *     `CdcIngestJob.startWithMetrics` (a `0 seconds` trigger) over the
  *     caught-up table, placed under a `GraftCatalog` root, driven as a
  *     closed loop by one writer: one pre-staged WAL file is moved into the
  *     WAL directory only after the previous epoch is visible. Visibility is
  *     seen by polling the latest snapshot and confirmed with a `readConv`
  *     of a key the epoch wrote. Epochs that compacted inline form their
  *     own population. The stream does not sanitize: its epochs are small,
  *     and their cost is the per-epoch fixed cost.
  *  3. Reads over the settled table: point reads, full scans, time travel
  *     to versions of one delta depth, the change feed between consecutive
  *     versions, and point-predicate SQL UPDATE, DELETE and MERGE through
  *     the catalog.
  */
object Ingest extends Workload {
  val name = "ingest"

  val events = 80000L
  val convs = 2000
  val turns = 40
  val buckets = 16
  val epochEvents = 10000L
  private val stateCols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts")

  /** The key an epoch wrote last, with the payload it must read back. */
  final case class Probe(conv: String, turn: Int, text: String, maxLsn: Long)

  final case class Epoch(index: Int, freshMs: Double, visibleMs: Double, confirmMs: Double,
                         version: Long, compactedBuckets: Int, newFiles: Seq[String],
                         walBytes: Long) {
    def compacted: Boolean = compactedBuckets > 0
  }

  def run(args: RunArgs, tracer: Tracer, out: Result): Unit = {
    val high = Sessions.highCores
    var spark = Sessions.open(high, args.work)
    var cores = high
    def newSession(c: Int, traced: Boolean): SparkSession = {
      spark = Sessions.open(c, args.work)
      cores = c
      if (traced) tracer.attach(spark)
      spark
    }
    def useCores(c: Int, traced: Boolean): SparkSession =
      if (c == cores) spark else newSession(c, traced)
    // The tail runs in traced runs only: an untraced tail phase, then a
    // traced one.
    val stagedEpochs = 22
    val walDir = args.work.resolve("wal")
    out.phase("input_gen") {
      TranscriptWal.synthetic(spark, events, convs, seed = args.seed, hotConvShare = 0.05,
        dupFraction = 0.02, deleteFraction = 0.05, turnsPerConv = turns)
        .write.parquet(walDir.toString)
    }
    def wal(s: SparkSession) = s.read.parquet(walDir.toString)

    val stageDir = args.work.resolve("stage")
    val probes = if (!args.trace) IndexedSeq.empty[Probe] else out.phase("stage") {
      epochWal(spark, args.seed, stagedEpochs).repartition(stagedEpochs, col("epoch"))
        .write.partitionBy("epoch").parquet(stageDir.toString)
      probesOf(epochWal(spark, args.seed, stagedEpochs), stagedEpochs)
    }
    // The replay sanitizes every event before arbitration; sanitizing is a
    // per-row rewrite, so the expected state is that of the sanitized WAL,
    // kept on disk for the checks.
    val walRows = wal(spark).count()
    val sanitizedDir = args.work.resolve("wal-sanitized")
    def sanitizedWal(s: SparkSession) = s.read.parquet(sanitizedDir.toString)
    val expected = out.phase("expected") {
      CdcOps.sanitize(wal(spark)).write.parquet(sanitizedDir.toString)
      Fingerprint.of(TranscriptWal.expectedState(sanitizedWal(spark)), stateCols)
    }
    out.detail("wal_events") = Metric(walRows.toDouble, "count")

    def replay(s: SparkSession, table: Path, label: String): Double = {
      val conf = config(table, args.work.resolve(s"cp-${table.getFileName}"))
      val w = wal(s)
      out.samples.timed(label)(tracer.span(s, label)(CdcIngestJob.replayBatch(s, w, conf)))._2
    }
    def verify(s: SparkSession, t: Path, what: String): Unit =
      out.checks.check(s"$what equals expectedState")(
        Fingerprint.of(new LakeTable(s, t.toString, buckets).read(), stateCols) == expected)

    // Warm-up at the high core count; its table is the tail phase's base,
    // placed under the catalog root.
    val lakeRoot = args.work.resolve("lake")
    val tablePath = lakeRoot.resolve("ns").resolve("t")
    out.phase("catchup_warmup") {
      replay(spark, tablePath, "warmup")
      verify(spark, tablePath, "warm-up replay")
    }

    // ---- catch-up: interleaved pairs ------------------------------------
    // Every timed replay runs on a session of its own whose one-off costs
    // (first jobs, the lake's write session) a small untimed replay took.
    def freshSession(c: Int, traced: Boolean): SparkSession = {
      val s = newSession(c, traced)
      val t = args.work.resolve("replay-warm")
      CdcIngestJob.replayBatch(s, wal(s).limit(1000), config(t, args.work.resolve("cp-warm")))
      Files2.deleteTree(t)
      Files2.deleteTree(args.work.resolve("cp-warm"))
      s
    }
    final case class Pair(highMs: Double, lowMs: Double)
    def catchup(traced: Boolean): Vector[Pair] = {
      val tag = if (traced) "traced:" else ""
      val start = System.nanoTime()
      var pairs = Vector.empty[Pair]
      while (pairs.length < (if (traced) 1 else 2) ||
        (!traced && System.nanoTime() - start < args.measureNs / 2)) {
        val order = if (pairs.length % 2 == 0) Seq(high, 1) else Seq(1, high)
        val ms = order.map { c =>
          val t = args.work.resolve(s"replay-${pairs.length}-$c")
          c -> (replay(freshSession(c, traced), t, s"${tag}replay$c"), t)
        }.toMap
        pairs :+= Pair(ms(high)._1, ms(1)._1)
        // Outside the timed region: one replay of each pair is checked,
        // alternating core counts, and both are dropped.
        val s = useCores(high, traced)
        val (c, (_, t)) = ms.toSeq.sortBy(_._1).apply(pairs.length % 2)
        verify(s, t, s"replay at local[$c]")
        ms.values.foreach(x => Files2.deleteTree(x._2))
      }
      pairs
    }
    out.setupDone()
    val plainPairs = out.phase("catchup")(catchup(traced = false))
    out.settle("catchup")
    val rateHigh = plainPairs.map(p => walRows / (p.highMs / 1000.0))
    out.endToEnd("throughput_per_s") = Metric.p50(rateHigh, "1/s")
    // The latency a catch-up costs its user: the wall of one bulk replay.
    // The tail's freshness stays a detail figure: whole-run slowdowns of a
    // shared host move it by half, far beyond what a bound can hold.
    out.endToEnd("latency_p50_ms") = Metric.p50(plainPairs.map(_.highMs), "ms")
    out.detail("replay_ms") = Metric.p50(plainPairs.map(_.highMs), "ms")
    out.detail("replay_1core_ms") = Metric.p50(plainPairs.map(_.lowMs), "ms")
    out.detail("events_per_s") = Metric.p50(rateHigh, "1/s")
    out.detail("events_per_s_1core") =
      Metric.p50(plainPairs.map(p => walRows / (p.lowMs / 1000.0)), "1/s")
    out.detail("scaling_efficiency") =
      Metric.p50(plainPairs.map(p => p.lowMs / p.highMs / high), "ratio")
    // Untraced runs end here. The tail and the reads report detail and
    // per-layer figures only, so they run in traced runs, which keeps an
    // untraced run inside the benchmark's time budget.
    if (!args.trace) {
      spark.stop()
      return
    }
    val tracedPairs = catchup(traced = true)
    tracer.drain(useCores(high, traced = true))
    replayLayers(spark, tracer, high, walDir, walRows, out)

    // ---- tail: closed-loop streaming epochs ------------------------------
    // On a session of its own, so that the run first measures the
    // tail with no listener registered.
    def tableSession(): LakeTable = {
      val s = newSession(high, traced = false)
      s.conf.set("spark.sql.catalog.graft", "graft.lake.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft.root", lakeRoot.toString)
      new LakeTable(s, tablePath.toString, buckets)
    }
    val table = tableSession()
    val streamDir = args.work.resolve("stream-wal")
    Files.createDirectories(streamDir)
    // Started outside any span: the query's thread inherits this thread's
    // local properties, and its jobs must carry no span label.
    val query = CdcIngestJob.startWithMetrics(spark, streamDir.toString,
      config(tablePath, args.work.resolve("stream-cp"))
        .copy(sanitize = false, followInterval = Some("0 seconds")))._1
    var next = 0

    def epoch(traced: Boolean): Epoch = {
      require(next < stagedEpochs, s"all $stagedEpochs staged epochs used")
      val e = next
      next += 1
      val probe = probes(e)
      val prev = table.currentSnapshot.get
      val src = scala.util.Using.resource(Files.list(stageDir.resolve(s"epoch=$e"))) { s =>
        s.iterator().asScala.find(_.toString.endsWith(".parquet")).get
      }
      val walBytes = Files.size(src)
      val t0 = System.nanoTime()
      var visible = 0L
      val rows = tracer.span(spark, (if (traced) "traced:" else "") + s"epoch$e") {
        Files.move(src, streamDir.resolve(f"e$e%05d.parquet"), StandardCopyOption.ATOMIC_MOVE)
        var seen = prev.version
        var done = false
        while (!done) {
          if (System.nanoTime() - t0 > 120000000000L)
            throw new IllegalStateException(s"epoch $e not visible after 120 s")
          val v = table.latestVersion.get
          if (v != seen) {
            seen = v
            done = table.currentSnapshot.get.metrics.getOrElse("max_lsn", -1L) >= probe.maxLsn
          }
          if (!done) Thread.sleep(2)
        }
        visible = System.nanoTime()
        table.readConv(probe.conv).where(col("turn_idx") === probe.turn).select("text").collect()
      }
      val t1 = System.nanoTime()
      out.checks.check(s"epoch $e probe reads back its payload")(
        rows.length == 1 && rows(0).getString(0) == probe.text)
      val snap = table.currentSnapshot.get
      val compacted = snap.buckets.count { case (b, st) => prev.buckets.get(b).forall(_.base != st.base) }
      val before = prev.buckets.values.flatMap(_.allFiles).toSet
      Epoch(e, (t1 - t0) / 1e6, (visible - t0) / 1e6, (t1 - visible) / 1e6, snap.version,
        compacted, snap.buckets.values.flatMap(_.allFiles).filterNot(before).toSeq, walBytes)
    }
    // Whole compaction cycles, then one more epoch so reads see deltas.
    def tail(traced: Boolean): Vector[Epoch] = {
      val start = System.nanoTime()
      var eps = Vector.empty[Epoch]
      while (!eps.lastOption.exists(_.compacted) ||
        (!traced && System.nanoTime() - start < args.measureNs / 4))
        eps :+= epoch(traced)
      eps :+ epoch(traced)
    }
    // Warm-up: at least three epochs and one full compaction cycle.
    out.phase("tail_warmup") {
      var warm = Vector(epoch(false))
      while (warm.length < 3 || !warm.last.compacted) warm :+= epoch(false)
    }
    val plain = out.phase("tail")(tail(traced = false))
    val cycles = plain.take(plain.lastIndexWhere(_.compacted) + 1)
    val fresh = plain.filterNot(_.compacted).map(_.freshMs)
    out.detail("tail_events_per_s") =
      Metric(epochEvents * cycles.length / (cycles.map(_.freshMs).sum / 1000.0), "1/s")
    out.detail("freshness_p50_ms") = Metric.p50(fresh, "ms")
    out.detail("compact_freshness_p50_ms") = Metric.p50(plain.filter(_.compacted).map(_.freshMs), "ms")
    out.detail("visible_p50_ms") = Metric.p50(plain.filterNot(_.compacted).map(_.visibleMs), "ms")
    tracer.attach(spark)
    val tracedEpochs = tail(traced = true)
    query.stop()

    // Outside any timed region: the table equals the expected state of the
    // caught-up (sanitized) WAL plus every applied epoch.
    out.phase("check") {
      val applied = epochWal(spark, args.seed, stagedEpochs).where(col("epoch") < next)
        .drop("epoch").unionByName(sanitizedWal(spark))
      out.checks.check("final state equals expectedState of the WAL and its epochs")(
        Fingerprint.of(table.read(), stateCols) ==
          Fingerprint.of(TranscriptWal.expectedState(applied), stateCols))
    }

    // ---- reads over the settled table -------------------------------------
    val depthOne = plain.zip(plain.drop(1)).collect { case (a, b) if a.compacted => b.version }
    val convIds = probes.map(_.conv).distinct
    // First on a session with no listener, then traced.
    val readTable = tableSession()
    val reads = new Reads(spark, readTable, tracer, out, depthOne, plain.map(_.version), convIds)
    out.phase("reads")(reads.run(traced = false))
    tracer.attach(spark)
    reads.run(traced = true)
    tracer.drain(spark)
    epochLayers(tracer, tracedEpochs, tablePath, out)
    Storage.layers(readTable, Files2.treeBytes(walDir) + Files2.treeBytes(streamDir), out)
    out.layer("lake.space_amp", spaceAmp(readTable, args.work), "ratio")
    out.layer("trace.overhead_ratio",
      (tracedPairs.map(p => p.highMs + p.lowMs).sum / tracedPairs.length +
        Stats.median(tracedEpochs.filterNot(_.compacted).map(_.freshMs))) /
        (Stats.median(plainPairs.map(p => p.highMs + p.lowMs)) + Stats.median(fresh)),
      "ratio")
    out.settle("end")
    spark.stop()
  }

  private def config(table: Path, cp: Path): IngestConfig =
    IngestConfig(tablePath = table.toString, checkpointPath = cp.toString,
      numBuckets = buckets, enforceWatermark = false, sanitize = true)

  /** Every staged epoch's events, tagged with the epoch: seeded apart from
    * the WAL over the same keys, so most events update live keys. */
  private def epochWal(spark: SparkSession, seed: Long, epochs: Int): DataFrame =
    TranscriptWal.synthetic(spark, epochEvents * epochs, convs, seed = seed + 1,
      deleteFraction = 0.05, lsnOffset = events, turnsPerConv = turns)
      .withColumn("epoch", ((col("lsn") - events) / epochEvents).cast("int"))

  /** Per epoch, the last upsert of the key written last: the epoch's
    * events are read newest first, and the first upsert whose key no newer
    * event of the epoch touched wins. The newest few events suffice. */
  private def probesOf(wal: DataFrame, epochs: Int): IndexedSeq[Probe] = {
    val tail = 64L
    val rows = wal.where(pmod(col("lsn") - events, lit(epochEvents)) >= epochEvents - tail)
      .select("epoch", "lsn", "op", "conv_id", "turn_idx", "text").collect()
    rows.groupBy(_.getInt(0)).map { case (e, rs) =>
      val newestFirst = rs.sortBy(-_.getLong(1))
      val probe = newestFirst.indices.collectFirst {
        case i if newestFirst(i).getString(2) == "U" && !newestFirst.take(i).exists(r =>
          r.getString(3) == newestFirst(i).getString(3) && r.getInt(4) == newestFirst(i).getInt(4)) =>
          val r = newestFirst(i)
          Probe(r.getString(3), r.getInt(4), r.getString(5), r.getLong(1))
      }
      e -> probe.getOrElse(sys.error(s"epoch $e has no upsert among its newest $tail events"))
    }.toSeq.sortBy(_._1).map(_._2).toIndexedSeq.ensuring(_.length == epochs)
  }

  /** Bytes under the table directory ÷ bytes of its live state written once
    * as zstd parquet. */
  private def spaceAmp(table: LakeTable, work: Path): Double = {
    val once = work.resolve("live-once")
    table.read().write.option("compression", "zstd").parquet(once.toString)
    val r = Files2.treeBytes(java.nio.file.Paths.get(table.path)).toDouble /
      Files2.treeBytes(once)
    Files2.deleteTree(once)
    r
  }

  /** `stream.replay<N>.*` per core count (medians over replays), the WAL
    * scanned per replay, and sanitize alone over the WAL. */
  private def replayLayers(spark: SparkSession, tracer: Tracer, high: Int, walDir: Path,
                           walRows: Long, out: Result): Unit = {
    Seq(high, 1).foreach { c =>
      val spans = tracer.spansNamed(s"traced:replay$c")
      def med(f: Tracer.Span => Double) = Stats.median(spans.map(f))
      def jobs(s: Tracer.Span) = tracer.jobsIn(s, stream = false)
      def sums(s: Tracer.Span) = tracer.tasks(jobs(s))
      val p = s"stream.replay$c"
      out.layer(s"$p.task_cpu_ms", med(s => sums(s).cpuMs), "ms")
      out.layer(s"$p.task_run_ms", med(s => sums(s).runMs), "ms")
      out.layer(s"$p.gc_ms", med(s => sums(s).gcMs), "ms")
      out.layer(s"$p.driver_ms", med(s => (s.endMs - s.startMs) - tracer.jobUnionMs(s, jobs(s))), "ms")
      out.layer(s"$p.jobs", med(s => jobs(s).length.toDouble), "count")
      out.layer(s"$p.shuffle_write_bytes", med(s => sums(s).shuffleWrite.toDouble), "bytes")
      out.layer(s"$p.spill_bytes", med(s => sums(s).spill.toDouble), "bytes")
    }
    out.layer("wal.replay.input_bytes", Files2.treeBytes(walDir).toDouble, "bytes")
    out.layer("wal.replay.input_records", walRows.toDouble, "count")
    val sanitize = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      // The noop writer forces every column, so pruning cannot skip the rewrite.
      CdcOps.sanitize(spark.read.parquet(walDir.toString))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e6
    }
    out.layer("ops.sanitize_ms", Stats.median(sanitize), "ms")
  }

  /** Streaming phases from the progress reports and the merge's jobs per
    * traced epoch: medians over the epochs that did not compact, and over
    * those that did for `lake.compact.*`. */
  private def epochLayers(tracer: Tracer, eps: Vector[Epoch], table: Path, out: Result): Unit = {
    val withProgress = eps.zip(tracer.progresses)
    val plain = withProgress.filterNot(_._1.compacted)
    val compacting = withProgress.filter(_._1.compacted)
    def dur(p: Tracer.Progress, k: String) = p.durations.getOrElse(k, 0L).toDouble
    def med(xs: Seq[(Epoch, Tracer.Progress)])(f: (Epoch, Tracer.Progress) => Double) =
      if (xs.isEmpty) 0.0 else Stats.median(xs.map { case (e, p) => f(e, p) })
    def span(e: Epoch) = tracer.spansNamed(s"traced:epoch${e.index}").head
    def jobs(e: Epoch) = tracer.jobsIn(span(e), stream = true)
    def jobMs(e: Epoch) = tracer.jobUnionMs(span(e), jobs(e))
    def fileBytes(e: Epoch) = e.newFiles.map { f =>
      val p = table.resolve(f.stripPrefix("file:"))
      if (Files.exists(p)) Files.size(p) else 0L
    }.sum.toDouble

    out.layer("wal.list_ms", med(plain)((_, p) => dur(p, "latestOffset")), "ms")
    out.layer("wal.epoch.input_bytes", med(plain)((e, _) => e.walBytes.toDouble), "bytes")
    out.layer("wal.epoch.input_records", med(plain)((_, p) => p.rows.toDouble), "count")
    out.layer("stream.add_batch_ms", med(plain)((_, p) => dur(p, "addBatch")), "ms")
    out.layer("stream.offset_log_ms", med(plain)((_, p) => dur(p, "walCommit")), "ms")
    out.layer("stream.commit_log_ms", med(plain)((_, p) => dur(p, "commitOffsets")), "ms")
    out.layer("stream.planning_ms", med(plain)((_, p) => dur(p, "queryPlanning")), "ms")
    out.layer("stream.trigger_ms", med(plain)((_, p) => dur(p, "triggerExecution")), "ms")
    out.layer("stream.confirm_ms", med(plain)((e, _) => e.confirmMs), "ms")
    out.layer("stream.freshness_covered_ratio", med(plain)((e, p) =>
      (dur(p, "triggerExecution") + e.confirmMs) / e.freshMs), "ratio")
    out.layer("lake.merge.jobs", med(plain)((e, _) => jobs(e).length.toDouble), "count")
    out.layer("lake.merge.job_ms", med(plain)((e, _) => jobMs(e)), "ms")
    out.layer("lake.merge.driver_ms", med(plain)((e, p) => dur(p, "addBatch") - jobMs(e)), "ms")
    out.layer("lake.merge.task_cpu_ms", med(plain)((e, _) => tracer.tasks(jobs(e)).cpuMs), "ms")
    out.layer("lake.merge.files_written", med(plain)((e, _) => e.newFiles.length.toDouble), "count")
    out.layer("lake.merge.bytes_written", med(plain)((e, _) => fileBytes(e)), "bytes")
    out.layer("lake.compact.buckets", med(compacting)((e, _) => e.compactedBuckets.toDouble), "count")
    out.layer("lake.compact.bytes_rewritten", med(compacting)((e, _) => fileBytes(e)), "bytes")
    out.layer("lake.compact.task_cpu_ms", med(compacting)((e, _) => tracer.tasks(jobs(e)).cpuMs), "ms")
  }
}

/** The read phase over the settled table. Each kind of read runs a fixed
  * number of times; a traced pass records each as a span. */
final class Reads(spark: SparkSession, table: LakeTable, tracer: Tracer, out: Result,
                  depthOne: Seq[Long], versions: Seq[Long], convs: Seq[String]) {
  private val kinds = Seq("point_read", "scan", "time_travel", "change_feed")

  private def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def run(traced: Boolean): Unit = {
    val tag = if (traced) "traced:" else ""
    def timed(kind: String, n: Int, warm: Int = 0)(body: Int => Unit): Unit = {
      (0 until warm).foreach(body)
      (0 until n).foreach(i =>
        tracer.span(spark, s"$tag$kind")(out.samples.time(s"$tag$kind")(body(i))))
    }
    timed("point_read", 4)(i => force(table.readConv(convs(i % convs.length))))
    timed("scan", 1, warm = 1)(_ => force(table.read()))
    timed("time_travel", 2)(i => force(table.readAsOf(depthOne(i % depthOne.length))))
    timed("change_feed", 2)(i => force(table.changesBetween(versions(i) - 1, versions(i))))
    (0 until 10).foreach(_ => out.samples.time(s"${tag}snapshot")(table.currentSnapshot))
    // One statement of each kind, each on a key no earlier statement touched.
    val base = if (traced) 3 else 0
    def key(i: Int) = convs.reverse(base + i)
    timed("dml_update", 1) { _ =>
      spark.sql(s"UPDATE graft.ns.t SET text = 'updated' WHERE conv_id = '${key(0)}' AND turn_idx = 1")
    }
    timed("dml_delete", 1) { _ =>
      spark.sql(s"DELETE FROM graft.ns.t WHERE conv_id = '${key(1)}' AND turn_idx = 2")
    }
    timed("dml_merge", 1) { _ =>
      spark.sql(s"SELECT '${key(2)}' AS conv_id, 3 AS turn_idx, 'merged' AS text")
        .createOrReplaceTempView("merge_src")
      spark.sql("MERGE INTO graft.ns.t t USING merge_src s " +
        "ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx " +
        "WHEN MATCHED THEN UPDATE SET text = s.text " +
        "WHEN NOT MATCHED THEN INSERT (conv_id, turn_idx, role, text, tool, ts) " +
        "VALUES (s.conv_id, s.turn_idx, 'user', s.text, NULL, TIMESTAMP'2024-06-01 00:00:00')")
    }
    def textAt(conv: String, turn: Int) = table.readConv(conv)
      .where(org.apache.spark.sql.functions.col("turn_idx") === turn)
      .select("text").collect().map(_.getString(0)).toSeq
    out.checks.check(s"${tag}UPDATE applied")(textAt(key(0), 1).forall(_ == "updated"))
    out.checks.check(s"${tag}DELETE applied")(textAt(key(1), 2).isEmpty)
    out.checks.check(s"${tag}MERGE applied")(textAt(key(2), 3) == Seq("merged"))

    val m = (k: String) => Metric.p50(out.samples.of(s"$tag$k"), "ms")
    val dml = Seq("update", "delete", "merge").map(k => k -> m(s"dml_$k").value)
    if (!traced) {
      kinds.foreach(k => out.detail(s"${k}_p50_ms") = m(k))
      out.detail("dml_p50_ms") = Metric(Stats.median(dml.map(_._2)), "ms")
    } else {
      tracer.drain(spark)
      kinds.foreach { k =>
        val spans = tracer.spansNamed(s"$tag$k")
        def med(f: Tracer.Span => Double) = Stats.median(spans.map(f))
        def jobs(s: Tracer.Span) = tracer.jobsIn(s, stream = false)
        out.layer(s"lake.$k.driver_ms", med(s => (s.endMs - s.startMs) - tracer.jobUnionMs(s, jobs(s))), "ms")
        out.layer(s"lake.$k.task_cpu_ms", med(s => tracer.tasks(jobs(s)).cpuMs), "ms")
        out.layer(s"lake.$k.files_read", med(s => tracer.plansIn(s).map(_.filesRead).sum.toDouble), "count")
        out.layer(s"lake.$k.bytes_read", med(s => tracer.tasks(jobs(s)).inBytes.toDouble), "bytes")
        out.layer(s"lake.$k.exchanges", med(s => tracer.plansIn(s).map(_.exchanges).sum.toDouble), "count")
        out.layer(s"lake.$k.planning_ms", med(tracer.planningMsIn), "ms")
      }
      out.layer("lake.snapshot_resolve_ms", m("snapshot").value, "ms")
      dml.foreach { case (k, v) => out.layer(s"lake.dml.${k}_ms", v, "ms") }
      out.layer("lake.dml.jobs", Stats.median(Seq("update", "delete", "merge").flatMap(k =>
        tracer.spansNamed(s"${tag}dml_$k")).map(s => tracer.jobsIn(s, stream = false).length.toDouble)),
        "count")
      out.layer("lake.sql_s", dml.map(_._2).sum / 1000.0, "s")
    }
  }
}

/** Storage counts of a table, read from its latest snapshot. */
object Storage {
  def layers(table: LakeTable, inputBytes: Long, out: Result): Unit = {
    val snap = table.currentSnapshot.get
    val root = java.nio.file.Paths.get(table.path)
    out.layer("lake.write_amp", Files2.treeBytes(root).toDouble / inputBytes, "ratio")
    out.layer("lake.delta_depth_max",
      (0.0 +: snap.buckets.values.map(_.deltas.length.toDouble).toSeq).max, "count")
    out.layer("lake.files_live", snap.buckets.values.map(_.allFiles.length).sum.toDouble, "count")
    val snapFile = root.resolve("snapshots").resolve(f"v${snap.version}%010d.json")
    // Manifest-list entries are relative to the table directory.
    val manifests = snap.manifestList.map(root.resolve)
    out.layer("lake.snapshot_bytes",
      (Files.size(snapFile) + manifests.map(Files.size).sum).toDouble, "bytes")
  }
}
