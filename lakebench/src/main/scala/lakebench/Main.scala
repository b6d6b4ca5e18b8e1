package lakebench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Benchmark entry point:
  *
  *   lakebench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --src <graft source root>
  *                  --bench-src <benchmark source root>
  *                  --data <benchmark data dir> --out <result.json>
  *
  * Builds the workload's tables (several times; set-up reports the median),
  * warms up, runs rounds for `seconds`, checks every answer against the
  * model, and writes one JSON object with the metrics of the run. */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, src: String, benchSrc: String, data: String,
      out: String)

  val SetupRepeats = 3

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("src"), need("bench-src"),
      need("data"), need("out"))
  }

  def session(o: Opts, nproc: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"lakebench-${o.workload}")
      .config("spark.sql.shuffle.partitions", nproc.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.retainedJobs", "200")
      .config("spark.ui.retainedStages", "200")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/spark-warehouse")
      .withExtensions(new graft.GraftExtensions)
    if (o.trace)
      b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val nproc = Runtime.getRuntime.availableProcessors()
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(o, nproc)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val listener = if (o.trace) Some(new JobListener) else None
    val tracer = new Tracer(o.trace)
    val ctx = new Ctx(spark, tracer, listener, o.seed, nproc)
    val wl = Workloads(o.workload, ctx, o.data)

    // A traced run traces every other timed round. The listener, the FS
    // call counters and the spans are on only in those rounds, so the
    // other rounds are a baseline without them for the tracing overhead.
    var listening = false
    def traceRound(on: Boolean): Unit = {
      ctx.roundTraced = on
      tracer.on = on
      CountingLocalFileSystem.counting = on && o.trace
      listener.foreach { l =>
        if (on && !listening) spark.sparkContext.addSparkListener(l)
        if (!on && listening) {
          // deliver the traced round's events before detaching
          org.apache.spark.LakebenchBus.drain(spark.sparkContext)
          spark.sparkContext.removeSparkListener(l)
        }
        listening = on
      }
    }

    // set-up: build the initial tables several times, keep the last
    val builds = (0 until SetupRepeats).map { i =>
      val d = s"${o.work}/tables-$i"
      val t0 = System.nanoTime()
      wl.prebuild(d)
      val s = (System.nanoTime() - t0) / 1e9
      if (i > 0) deleteTree(new File(s"${o.work}/tables-${i - 1}"))
      s
    }
    val w0 = System.nanoTime()
    (0 until wl.warmupRounds).foreach(_ => wl.round())
    val warmS = (System.nanoTime() - w0) / 1e9
    // space after a fixed amount of work (set-up plus warm-up), so a faster
    // program running more timed rounds does not read as more space
    val spaceAmp = wl.tableDirs.map(d => Stats.dirBytes(new File(d))).sum.toDouble /
      wl.userBytesIngested
    val setupS = sessionS + Stats.median(builds) + warmS
    val liveSetup = liveHeapMb()

    // timed phase
    val before = Counters.now()
    val t0 = System.nanoTime()
    ctx.timing = true
    var rounds = 0
    def cycles = ctx.ops.count(o => o.timed && o.kind == "cycle")
    def reads = ctx.ops.count(o => o.timed && o.kind == "read")
    // start another round only if it should end within the budget (the
    // mean round so far is the estimate), so every run measures about
    // `seconds`; at least three cycles and three reads are always measured
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (cycles < 3 || reads < 3 || elapsed + elapsed / rounds <= o.seconds) {
      traceRound(rounds % 2 == 0)
      wl.round()
      rounds += 1
    }
    traceRound(true)
    wl.endReads()
    val timedS = (System.nanoTime() - t0) / 1e9
    ctx.timing = false
    val written = (Counters.now() - before).bytesWritten
    val liveEnd = liveHeapMb()
    wl.finalChecks()

    val timed = ctx.ops.filter(_.timed).toSeq
    val cyc = timed.filter(_.kind == "cycle")
    val rd = timed.filter(_.kind == "read")
    val cycleBytes = cyc.map(_.userBytes).sum
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("cycle_p50_s", Stats.median(cyc.map(_.seconds)), "s"),
      ("rows_per_s", cyc.map(_.rows).sum / cyc.map(_.seconds).sum, "1/s"),
      ("read_p50_gm_s", Stats.kindMedianGm(rd), "s"),
      ("write_amp", written.toDouble / cycleBytes, "ratio"),
      ("space_amp", spaceAmp, "ratio"),
      ("heap_live_mb", math.max(liveSetup, liveEnd), "MB"))

    val metrics =
      if (!o.trace) e2e
      else {
        listener.foreach(_ => org.apache.spark.LakebenchBus.drain(spark.sparkContext))
        val modules = new ModuleMap(new File(o.src), new File(o.benchSrc))
        writeTrace(o, ctx, modules)
        Layers(ctx, wl, modules, timed, timedS) :+ (("jvm.rss_peak_mb", rssPeakMb(), "MB"))
      }
    System.err.println(s"[lakebench] ${o.workload} seed=${o.seed} rounds=$rounds " +
      s"cycles=${cyc.size} reads=${rd.size} setup builds=${builds.map(x => f"$x%.2f").mkString(",")} " +
      f"session=$sessionS%.2f warmup=$warmS%.2f timed=$timedS%.2f")
    System.err.println("[lakebench] timed cycles s: " +
      cyc.map(c => f"${c.seconds}%.2f").mkString(" "))
    ctx.failures.foreach(f => System.err.println(s"[lakebench] FAILED $f"))

    val body = metrics.map { case (k, v, u) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$k": {"value": $x, "unit": "$u"}"""
    }.mkString(", ")
    val json = s"""{"correct": ${ctx.failed == 0}, "attempted": ${ctx.attempted}, """ +
      s""""failed": ${ctx.failed}, "metrics": {$body}}"""
    Files.write(Paths.get(o.out), json.getBytes(UTF_8))
    spark.stop()
  }

  /** Heap in use right after a full collection: the live heap at a fixed
    * point of the run. Unlike the resident set, it does not depend on how
    * far the collector chose to grow the heap. */
  def liveHeapMb(): Double = {
    // the first collection lets Spark's ContextCleaner see the shuffles,
    // broadcasts and checkpoints no longer referenced and drop their
    // blocks; the second collects what that released
    System.gc()
    Thread.sleep(1000)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** peak resident set of this JVM (VmHWM) */
  def rssPeakMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** spans and jobs of a traced run, for offline attribution */
  def writeTrace(o: Opts, ctx: Ctx, modules: ModuleMap): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "'") + "\""
    val sb = new StringBuilder("{\"spans\": [")
    sb ++= ctx.tracer.spans.map(s =>
      s"""{"id": ${s.id}, "name": ${q(s.name)}, "parent": ${s.parent}, "op": ${s.op}, "start_ms": ${s.startMs}, "end_ms": ${s.endMs}}""")
      .mkString(",\n")
    sb ++= "],\n\"jobs\": ["
    val jobs = ctx.listener.toSeq.flatMap(_.snapshot)
    val module = modules.assign(jobs, ctx.tracer.spans.toSeq)
    sb ++= jobs.map(j =>
      s"""{"id": ${j.id}, "call_site": ${q(j.callSite)}, "module": ${q(module(j.id))}, "start_ms": ${j.startMs}, "end_ms": ${j.endMs}, "tasks": ${j.tasks}, "run_ms": ${j.runMs}}""")
      .mkString(",\n")
    sb ++= "]}\n"
    Files.write(Paths.get(s"${o.out}.trace.json"), sb.toString.getBytes(UTF_8))
  }
}

/** Per-layer metrics of a traced run. Span figures are medians over the
  * spans of that name; job, task and FS figures are means per traced op;
  * a layer a workload does not exercise reports 0. */
object Layers {
  def apply(ctx: Ctx, wl: Workload, modules: ModuleMap, timed: Seq[OpRec],
      timedS: Double): Seq[(String, Double, String)] = {
    val traced = timed.filter(_.traced)
    val tracedCycles = traced.filter(_.kind == "cycle")
    val spans = ctx.tracer.spans.toSeq.filter(_.op >= 0)
    val jobs = ctx.listener.toSeq.flatMap(_.snapshot).filter(_.endMs >= 0)
    def inside(j: JobListener#Job, s0: Long, s1: Long) = j.startMs >= s0 && j.startMs <= s1
    def jobsIn(ops: Seq[OpRec]) = jobs.filter(j => ops.exists(o => inside(j, o.startMs, o.endMs)))
    def spanMed(name: String) = Stats.median(spans.filter(_.name == name)
      .map(s => (s.endMs - s.startMs) / 1000.0))
    def jobsInSpans(name: String) = {
      val ss = spans.filter(_.name == name)
      (ss.size, jobs.filter(j => ss.exists(s => inside(j, s.startMs, s.endMs))))
    }
    def per(x: Double, n: Int) = if (n == 0) 0.0 else x / n
    val nOps = traced.size
    val nCyc = tracedCycles.size
    val opJobs = jobsIn(traced)
    val opSeconds = traced.map(_.seconds).sum
    def sumJ(f: JobListener#Job => Double) = opJobs.map(f).sum
    def counter(f: Counters => Long) = per(traced.flatMap(_.counters).map(f(_).toDouble).sum, nOps)
    val cycJobs = jobsIn(tracedCycles)
    val module = modules.assign(jobs, ctx.tracer.spans.toSeq)
    def moduleJobs(m: String) = cycJobs.filter(j => module(j.id) == m)

    // driver time of the pipeline spans: span time not covered by a job
    val pipeSpans = spans.filter(s => s.name.startsWith("pipeline.") && s.name != "pipeline.cycle")
    val driverMs = pipeSpans.map { s =>
      val iv = jobs.filter(j => inside(j, s.startMs, s.endMs))
        .map(j => (j.startMs, math.min(j.endMs, s.endMs))).sortBy(_._1)
      var covered = 0L; var end = s.startMs
      iv.foreach { case (a, b) =>
        val lo = math.max(a, end)
        if (b > lo) { covered += b - lo; end = b }
      }
      (s.endMs - s.startMs) - covered
    }.sum

    val (countSpans, countJobs) = jobsInSpans("sql.count")
    val (pointSpans, pointJobs) = jobsInSpans("sql.point")
    val (dedupSpans, dedupJobs) = jobsInSpans("operators.dedup_append")

    // tracing overhead: per op name, median traced op / median untraced op
    // of the same run, geometric mean over the names timed both ways
    val ratios = timed.groupBy(_.name).values.toSeq.flatMap { k =>
      val t = k.filter(_.traced).map(_.seconds)
      val u = k.filterNot(_.traced).map(_.seconds)
      if (t.isEmpty || u.isEmpty) None else Some(Stats.median(t) / Stats.median(u))
    }
    val overhead =
      if (ratios.isEmpty) 0.0 else math.exp(ratios.map(math.log).sum / ratios.size) - 1.0
    val cycT = Stats.tail(timed.filter(_.kind == "cycle").map(_.seconds))
    val readT = Stats.tail(timed.filter(_.kind == "read").map(_.seconds))

    val base = Seq(
      ("pipeline.bronze_run_s", spanMed("pipeline.bronze_run"), "s"),
      ("pipeline.silver_run_s", spanMed("pipeline.silver_run"), "s"),
      ("pipeline.driver_s", per(driverMs / 1000.0, nCyc), "s"),
      ("ingest.jobs", per(moduleJobs("ingest").size, nCyc), "count"),
      ("ingest.job_s", per(moduleJobs("ingest").map(j => (j.endMs - j.startMs) / 1000.0).sum, nCyc), "s"),
      ("table.job_s", per(moduleJobs("table").map(j => (j.endMs - j.startMs) / 1000.0).sum, nCyc), "s"),
      ("table.manifest_parses", counter(_.manifestParses), "count"),
      ("table.stats_data_scans", counter(_.statsDataScans), "count"),
      ("sql.count_s", spanMed("sql.count"), "s"),
      ("sql.count_jobs", per(countJobs.size, countSpans), "count"),
      ("sql.point_s", spanMed("sql.point"), "s"),
      ("sql.point_input_bytes", per(pointJobs.map(_.inputBytes.toDouble).sum, pointSpans), "B"),
      ("sql.partition_scan_s", spanMed("sql.partition_scan"), "s"),
      ("sql.time_travel_s", spanMed("sql.time_travel"), "s"),
      ("sql.merge_s", spanMed("sql.merge"), "s"),
      ("catalog.resolve_s", spanMed("catalog.resolve"), "s"),
      ("iceberg.export_s", spanMed("iceberg.export"), "s"),
      ("iceberg.scan_s", spanMed("iceberg.scan"), "s"),
      ("operators.dedup_append_s", spanMed("operators.dedup_append"), "s"),
      ("operators.probe_input_bytes", per(dedupJobs.map(_.inputBytes.toDouble).sum, dedupSpans), "B"),
      ("operators.minhash_s", spanMed("operators.minhash"), "s"),
      ("spark.jobs", per(opJobs.size, nOps), "count"),
      ("spark.stages", per(sumJ(_.stages), nOps), "count"),
      ("spark.tasks", per(sumJ(_.tasks), nOps), "count"),
      ("spark.executor_run_s", per(sumJ(_.runMs) / 1000.0, nOps), "s"),
      ("spark.executor_cpu_s", per(sumJ(_.cpuNs) / 1e9, nOps), "s"),
      ("spark.task_wait_s", per(sumJ(_.waitMs) / 1000.0, nOps), "s"),
      ("spark.slot_idle_ratio",
        if (opSeconds > 0) 1.0 - sumJ(_.runMs) / 1000.0 / (ctx.nproc * opSeconds) else 0.0, "ratio"),
      ("spark.shuffle_bytes", per(sumJ(_.shuffleBytes), nOps), "B"),
      ("spark.input_bytes", per(sumJ(_.inputBytes), nOps), "B"),
      ("spark.output_bytes", per(sumJ(_.outputBytes), nOps), "B"),
      ("spark.spill_bytes", per(sumJ(_.spillBytes), nOps), "B"),
      ("spark.gc_s", per(sumJ(_.gcMs) / 1000.0, nOps), "s"),
      ("spark.task_failures", sumJ(_.taskFailures), "count"),
      ("fs.read_ops", counter(_.opens), "count"),
      ("fs.list_ops", counter(_.lists), "count"),
      ("fs.write_ops", counter(_.creates), "count"),
      ("fs.stat_ops", counter(_.stats), "count"),
      ("fs.bytes_written", counter(_.bytesWritten), "B"),
      ("fs.bytes_read", counter(_.bytesRead), "B"),
      ("trace.overhead_ratio", overhead, "ratio"),
      ("tail.cycle_s", cycT.map(_._2).getOrElse(0.0), "s"),
      ("tail.cycle_pct", cycT.map(_._1.toDouble).getOrElse(0.0), "%"),
      ("tail.read_s", readT.map(_._2).getOrElse(0.0), "s"),
      ("tail.read_pct", readT.map(_._1.toDouble).getOrElse(0.0), "%"),
      ("tail.read_n", timed.count(_.kind == "read").toDouble, "count"),
      ("tail.cycle_n", timed.count(_.kind == "cycle").toDouble, "count"),
      ("reads_per_s", timed.count(_.kind == "read") / timedS, "1/s"),
      ("failed_ratio", ctx.failed.toDouble / math.max(ctx.attempted, 1L), "ratio"))
    val extras = Map("ingest.discover_s" -> 0.0, "ingest.files_listed" -> 0.0,
      "ingest.files_new" -> 0.0, "table.commits" -> 0.0, "table.files_added" -> 0.0,
      "table.files_removed" -> 0.0, "table.rewrite_ratio" -> 0.0,
      "table.live_files" -> 0.0, "table.live_delete_files" -> 0.0,
      "operators.kept_ratio" -> 0.0, "operators.minhash_recall" -> 0.0) ++
      wl.layerExtras(traced)
    val units = Map("ingest.discover_s" -> "s", "table.rewrite_ratio" -> "ratio",
      "operators.kept_ratio" -> "ratio", "operators.minhash_recall" -> "ratio")
    base ++ extras.toSeq.sortBy(_._1).map { case (k, v) => (k, v, units.getOrElse(k, "count")) }
  }
}
