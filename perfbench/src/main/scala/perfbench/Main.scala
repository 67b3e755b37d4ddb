package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange

/** One timed operation. */
final case class Sample(name: String, layer: String, kind: String, secs: Double,
                        rows: Long, traced: Boolean)

/** Runs operations for a workload: times them, checks their outputs
  * against the oracle digests, counts failures and, in traced passes,
  * records a span per call and per forced stage. */
final class Runner(val spark: SparkSession, val dir: String, val work: String,
                   val seed: Long, expect: Map[String, String],
                   val tracer: Tracer, log: String => Unit) {
  var traced = false
  var recording = false
  /** The traced run replays the pipeline row stage by stage in every pass. */
  var replay = false
  /** Wall clock (ms since the epoch) when the first timed operation began. */
  var firstOpMs = 0L
  var attempted = 0L
  var failed = 0L
  val samples = mutable.ArrayBuffer.empty[Sample]
  val failures = mutable.ArrayBuffer.empty[String]
  val notes = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val stageRows = mutable.Map.empty[String, Long]
  var planNs = 0L
  var physicalOps = 0L
  var exchanges = 0L
  var passOpSecs = 0.0

  def span[T](name: String, layer: String)(body: => T): T =
    if (traced) tracer.span(name, layer)(body) else body

  def note(key: String, v: Double): Unit = if (traced) notes(key) += v
  def rowsOf(stage: String): Long = stageRows.getOrElse(stage, 0L)

  /** A layer boundary inside a replay: in traced passes the frame is
    * materialized (eager local checkpoint) in its own span, so the span
    * holds this stage's work and later stages read the result. Untraced,
    * only the stages the replayed row itself checkpoints are materialized. */
  def stage(name: String, layer: String, checkpoint: Boolean = false)
           (df: => DataFrame): DataFrame =
    if (!traced) { if (checkpoint) df.localCheckpoint() else df }
    else tracer.span(name, layer) {
      val c = df.localCheckpoint(true)
      stageRows(name) = c.count()
      c
    }

  private def fail(name: String, why: String): Unit = {
    failed += 1
    failures += s"$name: $why"
    log(s"FAILED $name: $why")
  }

  private def countPlan(df: DataFrame): Unit = {
    val t0 = System.nanoTime()
    val plan = df.queryExecution.executedPlan
    planNs += System.nanoTime() - t0
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.inputPlan)
      case other =>
        physicalOps += 1
        if (other.isInstanceOf[Exchange]) exchanges += 1
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(plan)
  }

  private def execute(name: String, layer: String, df: => DataFrame)
      : Option[(Seq[String], Array[Row])] =
    span(name, layer) {
      val d = df
      if (d == null) None
      else {
        if (traced) span("plan", "plans")(countPlan(d))
        Some((d.columns.toSeq, d.collect()))
      }
    }

  private def verify(name: String, key: String,
                     out: Option[(Seq[String], Array[Row])]): Unit = out match {
    case None => fail(name, "no output to check")
    case Some((cols, rows)) =>
      val got = Digest.of(cols, rows.iterator)
      expect.get(key) match {
        case Some(want) if want == got =>
        case Some(want) => fail(name, s"digest $got != expected $want")
        case None => fail(name, s"no expectation for $key")
      }
  }

  /** One timed operation of the closed loop: the next one is submitted
    * only after this one's output is fully materialized. */
  def op(name: String, layer: String, kind: String, expectKey: Option[String])
        (body: => DataFrame): Unit = {
    if (kind == "row") {
      // isolate each row from the blocks the previous one left behind
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    attempted += 1
    if (recording && firstOpMs == 0L) firstOpMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = try Right(execute(name, layer, body)) catch {
      case e: Throwable => Left(e)
    }
    val secs = (System.nanoTime() - t0) / 1e9
    out match {
      case Left(e) => fail(name, s"${e.getClass.getName}: ${e.getMessage}")
      case Right(res) =>
        if (recording) {
          samples += Sample(name, layer, kind, secs,
            res.map(_._2.length.toLong).getOrElse(0L), traced)
          if (kind != "compact") passOpSecs += secs
        }
        expectKey.foreach(k => verify(name, k, res))
    }
  }

  /** An untimed check of a final state against an oracle digest. */
  def check(name: String, key: String)(body: => DataFrame): Unit = {
    attempted += 1
    try verify(name, key, execute(name, "check", body))
    catch { case e: Throwable => fail(name, s"${e.getClass.getName}: ${e.getMessage}") }
  }
}

object Main {
  private def arg(args: Array[String], k: String): Option[String] = {
    val i = args.indexOf(k)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest of p50/p75/p90/p95/p99 with at least ten samples beyond,
    * or the maximum (p100) when there are too few samples for any. */
  def tail(xs: Seq[Double]): (Double, Int) = {
    val s = xs.sorted
    val n = s.size
    Seq(99, 95, 90, 75, 50).find(q => n - math.ceil(n * q / 100.0) >= 10) match {
      case Some(p) => (s(math.ceil(n * p / 100.0).toInt - 1), p)
      case None => (if (n == 0) 0.0 else s.last, 100)
    }
  }

  /** (steal, total) jiffies of all CPUs since boot, from /proc/stat. */
  private def cpuJiffies(): (Long, Long) =
    try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/stat")))
        .linesIterator.next().split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }

  /** Seconds the JVM's collectors have spent in collections so far. */
  private def jvmGcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case o: com.sun.management.OperatingSystemMXBean => o.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  /** Seconds for a fixed single-threaded kernel loop: a reading of how fast
    * the box ran at that moment, recorded beside the results. */
  private def calibrate(): Double = {
    var sink = 0.0
    val t0 = System.nanoTime()
    var i = 0
    while (i < 100000) {
      sink += graft.functions.TextFunctions.levRatio(
        s"calibration string $i", s"calibrated strung ${i % 977}")
      i += 1
    }
    if (sink == Double.MinValue) println(sink)
    (System.nanoTime() - t0) / 1e9
  }

  private def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim
    catch { case _: Exception => "unknown" }

  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def session(cores: Int, work: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      .getOrCreate()

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val mode = arg(args, "--mode").getOrElse("run")
    if (mode == "oracle-sql") { dumpOracleSql(arg(args, "--out").get); return }

    val wlName = arg(args, "--workload").get
    val dir = arg(args, "--input").get
    val work = arg(args, "--work").get
    val seconds = arg(args, "--seconds").get.toDouble
    val trace = arg(args, "--trace").contains("1")
    val seed = arg(args, "--seed").get.toLong
    val artifact = arg(args, "--artifact").get
    val expect: Map[String, String] = {
      val txt = new String(Files.readAllBytes(Paths.get(arg(args, "--expect").get)))
      "\"([^\"]+)\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2)).toMap
    }
    val cores = Runtime.getRuntime.availableProcessors()
    val log: String => Unit = m => System.err.println(s"[perfbench] $m")
    val loadStart = loadavg()
    val jiffiesStart = cpuJiffies()

    // the live heap after the timed passes and at the end of the run: the
    // heap in use after full collections, repeated until Spark's
    // ContextCleaner has released what the last collection made
    // unreachable (broadcast blocks, shuffles, RDDs). One collection alone
    // leaves that release to the cleaner thread's timing: the same pass
    // read 161 MB after one collection and 83 MB after three. With a fixed
    // 3 GiB heap the rare young collections would show mostly garbage not
    // yet collected.
    var heapPeak = 0L
    val heapReadings = mutable.ArrayBuffer.empty[String]
    def liveHeap(): Unit = {
      def used(): Long = {
        System.gc()
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      }
      val t0 = System.nanoTime()
      val first = used()
      var last = first
      var steady, rounds = 0
      while (steady < 2 && rounds < 12) {
        Thread.sleep(100)
        val now = used()
        steady = if (last - now < 512 * 1024) steady + 1 else 0
        last = now
        rounds += 1
      }
      heapReadings += f"[${first / 1048576.0}%.2f, ${last / 1048576.0}%.2f, $rounds, " +
        f"${(System.nanoTime() - t0) / 1e9}%.3f]"
      heapPeak = math.max(heapPeak, last)
    }

    // set-up: one session over the generated tables; setup_s runs from
    // the JVM's start to the first timed operation, so it also holds the
    // workload's own set-up (standing structures, warm-up pass)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val tables = graft.Tables.names.filter(n =>
      Files.exists(Paths.get(s"$dir/$n.parquet")))
    val spark = session(cores, work)
    spark.sparkContext.setLogLevel("WARN")
    tables.foreach(n => graft.Tables.load(spark, dir, n).schema)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val sc = spark.sparkContext
    val meter = new Meter
    sc.addSparkListener(meter)
    val tracer = new Tracer(sc)
    val wl = Workloads(wlName)
    val r = new Runner(spark, dir, work, seed, expect, tracer, log)

    val fnMetrics = if (trace) functionKernels(spark, dir) else Map.empty[String, Double]

    r.traced = trace
    val initT0 = System.nanoTime()
    tracer.beginOp(-1)
    wl.init(r)
    val initSecs = (System.nanoTime() - initT0) / 1e9
    r.traced = false

    // An untraced run measures one cold pass of a batch workload (a batch
    // job runs once per input) and repeats passes of the standing workload
    // until time is up. The traced run starts with the same untraced pass,
    // then alternates traced (T) and untraced (U) passes that do the same
    // work in T U U T blocks (one block for a batch workload, blocks
    // while time remains for the standing one); the difference of their
    // medians is the tracing overhead.
    val batch = wl.batch
    val untracedPasses = mutable.ArrayBuffer.empty[Double]
    val warmUntraced = mutable.ArrayBuffer.empty[Double]
    val tracedPasses = mutable.ArrayBuffer.empty[Double]
    val tracedOps = mutable.Set.empty[Int]
    val passCpu = mutable.ArrayBuffer.empty[Double]
    val passGc = mutable.ArrayBuffer.empty[Double]
    val calibration = mutable.ArrayBuffer.empty[Double]
    // RDD block counts accrued in traced passes; peak live blocks
    var blocks, blockBytes, blockPeak = 0L
    def pass(tracedPass: Boolean): Unit = {
      val id = untracedPasses.size + tracedPasses.size
      System.gc()
      org.apache.spark.perfbench.Bus.drain(sc)
      val m0 = meter.synchronized {
        meter.blockBytesPeak = meter.blockBytesLive
        (meter.blocksWritten, meter.blockBytesWritten)
      }
      r.traced = tracedPass
      r.passOpSecs = 0.0
      r.recording = true
      tracer.beginOp(id)
      val cpu0 = processCpuS()
      val gc0 = jvmGcS()
      wl.pass(r, id)
      passCpu += processCpuS() - cpu0
      passGc += jvmGcS() - gc0
      r.recording = false
      r.traced = false
      if (tracedPass) {
        tracedOps += id
        tracedPasses += r.passOpSecs
        org.apache.spark.perfbench.Bus.drain(sc)
        meter.synchronized {
          blocks += meter.blocksWritten - m0._1
          blockBytes += meter.blockBytesWritten - m0._2
          blockPeak = math.max(blockPeak, meter.blockBytesPeak)
        }
      } else {
        if (untracedPasses.nonEmpty || !batch) warmUntraced += r.passOpSecs
        untracedPasses += r.passOpSecs
      }
    }
    // the standing workload's first fold pays a variable JIT warm-up of
    // the fold paths; one untimed pass keeps it out of the measured ones
    r.replay = trace
    if (!batch) wl.pass(r, -1)
    val t0 = System.nanoTime()
    def timeLeft = (System.nanoTime() - t0) / 1e9 < seconds
    if (!trace) {
      pass(tracedPass = false)
      while (!batch && wl.hasWork &&
          (untracedPasses.size < wl.minPasses || timeLeft)) pass(tracedPass = false)
    } else {
      if (batch) pass(tracedPass = false)
      var blocksRun = 0
      while (blocksRun == 0 || (!batch && timeLeft && wl.hasWork)) {
        Seq(true, false, false, true).foreach(tp => if (wl.hasWork) pass(tp))
        blocksRun += 1
      }
    }
    org.apache.spark.perfbench.Bus.drain(sc)
    liveHeap()

    // the standing workload's medium fold and compaction are timed here,
    // untraced: the per-layer counts describe the passes alone
    r.recording = true
    wl.finish(r)
    r.recording = false
    liveHeap()
    org.apache.spark.perfbench.Bus.drain(sc)

    val setupS = (r.firstOpMs - jvmStart) / 1e3
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("pass_s", median(untracedPasses.toSeq), "s"),
      ("heap_peak_mb", heapPeak / 1048576.0, "MB"))

    val unmeasured = mutable.LinkedHashMap.empty[String, String]
    val layer = mutable.ArrayBuffer.empty[(String, Double, String)]
    if (trace) {
      val np = math.max(1, tracedPasses.size).toDouble
      val spans = tracer.spans.filter(x => tracedOps.contains(x.op))
      val self = tracer.selfNs
      // self seconds per traced pass of the spans of layer `l`
      def layerS(metric: String, l: String): (String, Double, String) = {
        val in = spans.filter(_.layer == l)
        if (in.isEmpty) unmeasured(metric) = s"no call into $l in this workload"
        (metric, in.map(x => self(x.id)).sum / 1e9 / np, "s")
      }
      // the Spark work of the traced passes: every job they run is inside
      // one of their spans
      val w = meter.synchronized(spans.flatMap(x => meter.bySpan.get(x.id))
        .foldLeft(new Work)(_ plus _))
      val mb = 1048576.0
      val tracedWall = tracedPasses.sum
      val n = r.notes
      def ratio(a: Double, b: Double, key: String, why: String): Double =
        if (b > 0) a / b else { unmeasured(key) = why; 0.0 }
      val opSpans = spans.filter(_.layer.startsWith("operators."))
      val opJobs = meter.synchronized(opSpans.flatMap(s => meter.bySpan.get(s.id))
        .map(_.jobs).sum)
      // standing-state latencies pool both halves of the run: spans add
      // nothing inside these calls, and the samples are few
      val cycles = math.max(1, untracedPasses.size + tracedPasses.size).toDouble
      def kindSecs(k: String) = r.samples.filter(_.kind == k).map(_.secs).toSeq
      val (ingTail, ingP) = tail(kindSecs("ingest"))
      val (prbTail, prbP) = tail(kindSecs("probe"))
      val stateDirs = Seq("hb", "cc", "mh").map(d => Paths.get(s"$work/state/$d"))
        .filter(Files.exists(_))
      val stateFiles = stateDirs.flatMap(d => Files.walk(d).iterator().asScala
        .filter(Files.isRegularFile(_)).toSeq)
      layer ++= Seq(
        layerS("sources.parse_s", "sources"),
        ("sources.rows_out", r.samples.filter(x => x.traced && x.layer == "sources")
          .map(_.rows).sum / np, "rows"),
        layerS("staging.assign_s", "staging"),
        ("staging.assigned_ratio", ratio(n("staging.rows_assigned"), n("staging.rows_in"),
          "staging.assigned_ratio", "no staging replay in this workload"), "ratio"),
        layerS("er.canonical_s", "er"),
        ("er.candidate_pairs", n("er.candidate_pairs") / np, "pairs"),
        ("er.accepted_links", n("er.accepted_links") / np, "links"),
        ("er.accept_ratio", ratio(n("er.accepted_links"), n("er.candidate_pairs"),
          "er.accept_ratio", "no ER replay in this workload"), "ratio"),
        ("functions.lev_ratio_ns", fnMetrics("lev_ratio_ns"), "ns"),
        ("functions.token_set_ratio_ns", fnMetrics("token_set_ratio_ns"), "ns"),
        ("functions.haversine_ns", fnMetrics("haversine_ns"), "ns"),
        ("plans.plan_s", r.planNs / 1e9 / np, "s"),
        ("plans.physical_ops", r.physicalOps / np, "count"),
        ("plans.exchanges", r.exchanges / np, "count"),
        layerS("operators.grid_join_s", "operators.grid_join"),
        layerS("operators.cc_s", "operators.cc"),
        layerS("operators.pagerank_s", "operators.pagerank"),
        layerS("operators.kcore_s", "operators.kcore"),
        layerS("operators.coreness_s", "operators.coreness"),
        ("operators.jobs_per_call", ratio(opJobs.toDouble, opSpans.size.toDouble,
          "operators.jobs_per_call", "no operator call in this workload"), "jobs"),
        ("checkpoint.blocks_written", blocks / np, "count"),
        ("checkpoint.block_mb_written", blockBytes / mb / np, "MB"),
        ("checkpoint.block_mb_peak", blockPeak / mb, "MB"),
        layerS("exports.write_s", "exports"),
        ("streaming.init_s", if (batch) 0.0 else initSecs, "s"),
        ("streaming.ingest_s", kindSecs("ingest").sum / cycles, "s"),
        ("streaming.medium_ingest_s", kindSecs("ingest_medium").sum, "s"),
        ("streaming.ingest_p50_s", median(kindSecs("ingest")), "s"),
        ("streaming.ingest_tail_s", ingTail, "s"),
        ("streaming.probe_s", kindSecs("probe").sum / cycles, "s"),
        ("streaming.probe_p50_s", median(kindSecs("probe")), "s"),
        ("streaming.probe_tail_s", prbTail, "s"),
        ("streaming.compact_s", kindSecs("compact").sum, "s"),
        ("streaming.catalog_ops", meter.synchronized(meter.catalogOps).toDouble, "count"),
        ("streaming.state_files", stateFiles.size.toDouble, "count"),
        ("streaming.state_mb", stateFiles.map(Files.size).sum / mb, "MB"),
        ("spark.jobs", w.jobs / np, "count"),
        ("spark.stages", w.stages / np, "count"),
        ("spark.tasks", w.tasks / np, "count"),
        ("spark.task_run_s", w.runMs / 1e3 / np, "s"),
        ("spark.task_cpu_s", w.cpuNs / 1e9 / np, "s"),
        ("spark.gc_s", w.gcMs / 1e3 / np, "s"),
        ("spark.input_mb", w.inputB / mb / np, "MB"),
        ("spark.shuffle_read_mb", w.shuffleReadB / mb / np, "MB"),
        ("spark.shuffle_write_mb", w.shuffleWriteB / mb / np, "MB"),
        ("spark.spill_mb", w.spillB / mb / np, "MB"),
        ("spark.peak_exec_mem_mb", w.peakExecB / mb, "MB"),
        ("spark.failed_tasks", w.failedTasks.toDouble, "count"),
        ("spark.overhead_share", if (tracedWall > 0)
          1.0 - w.runMs / 1e3 / (tracedWall * cores) else 0.0, "ratio"),
        ("trace.pass_s", median(tracedPasses.toSeq), "s"),
        ("trace.untraced_pass_s", median(warmUntraced.toSeq), "s"),
        ("trace.overhead_s", median(tracedPasses.toSeq) - median(warmUntraced.toSeq), "s"))
      if (batch) {
        Seq("streaming.init_s", "streaming.ingest_p50_s", "streaming.probe_p50_s",
          "streaming.medium_ingest_s", "streaming.compact_s").foreach(k => unmeasured(k) =
          "this workload folds no standing state")
      }
      unmeasured("streaming.ingest_tail_s") = s"p$ingP of ${kindSecs("ingest").size} samples"
      unmeasured("streaming.probe_tail_s") = s"p$prbP of ${kindSecs("probe").size} samples"
      unmeasured("functions.haversine_ns") =
        "per row of a Catalyst projection: haversineM is a Column expression with no scalar entry point"
    }

    calibration ++= (0 until 3).map(_ => calibrate())
    val loadEnd = loadavg()
    val jiffiesEnd = cpuJiffies()
    val stealShare = {
      val total = jiffiesEnd._2 - jiffiesStart._2
      if (total > 0) (jiffiesEnd._1 - jiffiesStart._1).toDouble / total else 0.0
    }
    val metrics = if (trace) layer.toSeq else e2e
    def num(v: Double): String = if (v.isNaN || v.isInfinite) "0.0" else v.toString
    val metricsJson = metrics.map { case (k, v, u) =>
      s"${jstr(k)}: {\"value\": ${num(v)}, \"unit\": ${jstr(u)}}" }.mkString("{", ", ", "}")
    val result = s"""{"correct": ${r.failed == 0}, "attempted": ${r.attempted}, """ +
      s""""failed": ${r.failed}, "metrics": $metricsJson}"""

    val box = s"""{"nproc": $cores, "heap_max_mb": ${Runtime.getRuntime.maxMemory / 1048576}, """ +
      s""""jdk": ${jstr(System.getProperty("java.version"))}, """ +
      s""""spark": ${jstr(org.apache.spark.SPARK_VERSION)}, """ +
      s""""loadavg_start": ${jstr(loadStart)}, "loadavg_end": ${jstr(loadEnd)}, """ +
      s""""cpu_steal_share": ${num(stealShare)}, """ +
      s""""calibration_s": ${calibration.map(num).mkString("[", ", ", "]")}}"""
    val art = new StringBuilder
    art ++= s"""{"workload": ${jstr(wlName)}, "seed": $seed, "trace": $trace, "seconds": $seconds,\n"""
    art ++= s""""box": $box,\n"""
    art ++= s""""session_s": ${num(sessionS)}, "setup_s": ${num(setupS)},\n"""
    art ++= s""""init_s": ${num(initSecs)},\n"""
    art ++= s""""heap_readings_mb": ${heapReadings.mkString("[", ", ", "]")},\n"""
    art ++= s""""passes_untraced_s": ${untracedPasses.map(num).mkString("[", ", ", "]")},\n"""
    art ++= s""""passes_traced_s": ${tracedPasses.map(num).mkString("[", ", ", "]")},\n"""
    art ++= s""""passes_process_cpu_s": ${passCpu.map(num).mkString("[", ", ", "]")},\n"""
    art ++= s""""passes_jvm_gc_s": ${passGc.map(num).mkString("[", ", ", "]")},\n"""
    art ++= s""""samples": ${r.samples.map(s => s"[${jstr(s.name)}, ${jstr(s.kind)}, ${num(s.secs)}, ${s.rows}, ${s.traced}]").mkString("[", ",\n", "]")},\n"""
    art ++= s""""failures": ${r.failures.map(jstr).mkString("[", ", ", "]")},\n"""
    art ++= s""""unmeasured": ${unmeasured.map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ", ", "}")},\n"""
    art ++= s""""spans": ${if (trace) meter.synchronized(tracer.json(meter.bySpan.get)) else "[]"},\n"""
    art ++= s""""result": $result}\n"""
    Files.write(Paths.get(artifact), art.toString.getBytes("UTF-8"))
    spark.stop()
    println(result)
  }

  /** Nanoseconds per call of the text kernels over the workload's own
    * name pairs, and per row of the haversine expression over its own
    * point pairs. Warmed past JIT compilation first. */
  private def functionKernels(spark: SparkSession, dir: String): Map[String, Double] = {
    import org.apache.spark.sql.functions.col
    val names = graft.Tables.load(spark, dir, "customer").select("c_name")
      .limit(2000).collect().map(_.getString(0))
    val parts = graft.Tables.load(spark, dir, "part").select("p_name")
      .limit(2000).collect().map(_.getString(0))
    def perCall(xs: Array[String], f: (String, String) => Double): Double = {
      var sink = 0.0
      def round(): Long = {
        val t0 = System.nanoTime()
        var i = 0
        while (i < xs.length) { sink += f(xs(i), xs((i * 7 + 1) % xs.length)); i += 1 }
        System.nanoTime() - t0
      }
      (0 until 20).foreach(_ => round())
      val ns = median((0 until 15).map(_ => round().toDouble / xs.length))
      if (sink == Double.MinValue) println(sink)
      ns
    }
    val lev = perCall(names, graft.functions.TextFunctions.levRatio)
    val tsr = perCall(parts.map(p => p + " " + p.reverse),
      graft.functions.TextFunctions.tokenSetRatio)
    val pts = Workloads.custPoints(spark, dir).select("lat", "lon")
    val pairs = pts.crossJoin(pts.limit(20).select(col("lat").as("lat2"),
      col("lon").as("lon2"))).localCheckpoint(true)
    val nPairs = pairs.count().toDouble
    val hav = pairs.select(graft.functions.GeoFunctions.haversineM(
      col("lat"), col("lon"), col("lat2"), col("lon2")).as("m"))
    def havRound(): Double = {
      val t0 = System.nanoTime()
      hav.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / nPairs
    }
    (0 until 3).foreach(_ => havRound())
    val havNs = median((0 until 5).map(_ => havRound()))
    Map("lev_ratio_ns" -> lev, "token_set_ratio_ns" -> tsr, "haversine_ns" -> havNs)
  }

  /** Writes the registry's oracle SQL for the rows each workload checks,
    * as {workload: {row: sql}}. */
  private def dumpOracleSql(out: String): Unit = {
    val sql = graft.SparkEntry.oracleSql
    def rows(names: Seq[String]): String = {
      val missing = names.filterNot(sql.contains)
      require(missing.isEmpty, s"rows without an oracle: ${missing.mkString(", ")}")
      names.map(n => s"${jstr(n)}: ${jstr(sql(n))}").mkString("{\n", ",\n", "\n}")
    }
    val json = (Seq("kg_etl", "graph_x10", "standing_state").map(w =>
      jstr(w) + ": " + rows(Workloads(w).oracleRows)) ++ Seq(
      "\"standing_templates\": " + rows(StandingState.Templates),
      "\"standing_plan\": " + StandingState.planJson)).mkString("{\n", ",\n", "\n}")
    Files.write(Paths.get(out), json.getBytes("UTF-8"))
  }
}
