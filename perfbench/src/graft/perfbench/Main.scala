package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.perfbench.SparkProbes
import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry, Tables}

/** The benchmark harness: one closed-loop client driving one workload
  * against a session from `GraftSession.build` at local[cores] with
  * shuffle partitions = cores. perfbench/run.py builds and launches it.
  *
  * A run: set-up ([[SetupRepeats]] times, median reported), one untimed
  * verification pass that checks every operation's output, the
  * workload's fixed number of untimed warm-up passes, then a fixed number
  * of timed passes: `--seconds` over the workload's nominal pass time, so
  * a faster program runs the same passes, not more. With
  * `--trace 1` as many traced passes follow, interleaved, and they collect
  * spans and per-layer counters; the ratio of their pass times is the
  * tracing overhead. Writes the result (and the spans) as JSON files.
  *
  * Args: --workload W --seed N --seconds S --trace 0|1 --cores C
  *       --data DIR --work DIR --result FILE --expected FILE [--record 1]
  */
object Main {
  val SetupRepeats = 3
  /** Timed passes at least (untraced, and as many traced in a traced run);
    * a lakehouse_cdc pass commits one batch and passes alternate a uniform
    * and a skewed batch, so it runs whole pairs and at least two. */
  val MinPasses = 2
  val MinLakehousePasses = 4
  /** Query used as the set-up warm-up: a scan, filter and aggregate. */
  val WarmUpQuery = "q06_forecast_revenue"
  /** Reads the fingerprint file and writes the result files (Jackson and
    * its Scala module ship with Spark). */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cores: Int, data: String, work: String, result: String,
                        expected: String, record: Boolean)

  final case class Sample(traced: Boolean, op: String, kind: String, ms: Double, payload: Long,
                          bytesWritten: Long)

  def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val c = Conf(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("cores").toInt, need("data"), need("work"), need("result"),
      need("expected"), m.get("record").contains("1"))
    Workloads(c.workload)
    c
  }

  def main(args: Array[String]): Unit = {
    val run = new Run(parse(args))
    try run.execute() finally if (run.spark != null) run.spark.stop()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Each operation's median latency over the timed passes; pass_s is
    * their sum (one typical pass), so one slow pass does not move it. */
  def opMedians(ss: Seq[Sample]): Seq[Double] =
    ss.groupBy(_.op).values.map(xs => median(xs.map(_.ms))).toSeq

  /** Linear-interpolated percentile, q in [0, 1]. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
}

final class Run(conf: Main.Conf) {
  import Main._

  var spark: SparkSession = _
  private var lake: Option[Lakehouse] = None
  private var attempted = 0
  private val failures = mutable.ArrayBuffer[String]()
  private val samples = mutable.ArrayBuffer[Sample]()
  private val passes = mutable.ArrayBuffer[(Boolean, Double)]() // (traced, seconds)
  private val warmPasses = mutable.ArrayBuffer[Double]() // seconds
  private val tracer = new Tracer
  private val layers = mutable.ArrayBuffer[mutable.Map[String, Double]]() // one per traced pass
  private val stageSkews = mutable.ArrayBuffer[Double]()
  private val spans = mutable.ArrayBuffer[Span]()
  private val fingerprints = mutable.LinkedHashMap[String, Fingerprint]()
  private var confs = Map.empty[String, String]

  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  private def epochMs(nano: Long): Double = epochBase + (nano - nanoBase) / 1e6

  private def span(parent: Int, name: String, layer: String, op: String,
                   start: Double, end: Double): Int = {
    spans += Span(spans.size, parent, name, layer, op, start, end)
    spans.size - 1
  }

  private def load1m: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Time the JIT has spent compiling, summed over its threads. */
  private def jitMs: Long = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime else 0L
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Bytes written and read through Hadoop's local filesystem (its global
    * storage statistics; it counts no read or write ops for file://). */
  private def fsStats: (Long, Long) = {
    val s = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file")
    def v(k: String): Long = Option(s).flatMap(x => Option(x.getLong(k))).map(_.longValue).getOrElse(0L)
    (v("bytesWritten"), v("bytesRead"))
  }

  /** Files under the run's lakehouse tables. */
  private def tableFiles: Long = {
    val root = new java.io.File(s"${conf.work}/lakehouse")
    if (!root.exists()) 0L
    else java.nio.file.Files.walk(root.toPath).filter(p => java.nio.file.Files.isRegularFile(p)).count()
  }

  private def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  private def fail(op: String, e: Throwable): Unit = {
    val msg = s"$op: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    failures += msg
    System.err.println(s"[perfbench] FAILED $msg")
  }

  /** Between operations, as Bench does: drop cached plans and persisted
    * RDDs (blocking) and delete the op's fixture outputs. */
  private def hygiene(op: Op): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    try op.cleanup() catch { case NonFatal(e) => fail(s"${op.name} cleanup", e) }
  }

  private def setupOnce(): Double = {
    if (spark != null) spark.stop()
    val t0 = System.nanoTime()
    spark = GraftSession.build("graft-perfbench", s"local[${conf.cores}]", conf.cores)
    confs = sessionConfs
    SparkEntry.queries(WarmUpQuery)(spark, conf.data).write.format("noop").mode("overwrite").save()
    if (conf.workload == "lakehouse_cdc") {
      val l = new Lakehouse(spark, conf.data, s"${conf.work}/lakehouse", conf.seed)
      l.create()
      lake = Some(l)
    }
    (System.nanoTime() - t0) / 1e9
  }

  private def passOps(p: Int): Seq[Op] = {
    val units = lake.map(_.pass(p)).getOrElse(Nil) ++
      Workloads(conf.workload).queries.map(q => Seq(Workloads.queryOp(spark, conf.data, q)))
    (if (p == 0) units else new scala.util.Random(conf.seed * 7919L + p).shuffle(units)).flatten
  }

  private def expectedFingerprints: Map[String, Fingerprint] =
    if (conf.record) Map.empty
    else json.readTree(new java.io.File(conf.expected)).get("queries").fields().asScala
      .map(e => e.getKey -> Fingerprint(e.getValue.get("rows").asLong, e.getValue.get("hash").asText))
      .toMap

  /** Untimed: every op once, in registry order; each query's fingerprint
    * is compared with the recorded one, lakehouse ops check themselves.
    * Each query then also runs as timed ops do, so the pass is also the
    * first warm-up pass (JIT, codegen cache, page cache). */
  private def verificationPass(): Double = {
    val expected = expectedFingerprints
    val t0 = System.nanoTime()
    for (op <- passOps(0)) {
      attempted += 1
      try {
        op.prepare()
        for (fp <- op.fingerprint) {
          val got = fp()
          fingerprints(op.name) = got
          if (!conf.record && !expected.get(op.name).contains(got))
            throw new WrongResult(s"fingerprint $got, expected ${expected.get(op.name)}")
        }
        op.build()()
      } catch { case NonFatal(e) => fail(op.name, e) }
      hygiene(op)
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** One pass over the workload's operations; a warm-up pass (`timed`
    * false) records no samples. */
  private def runPass(p: Int, traced: Boolean, timed: Boolean = true): Unit = {
    val sc = spark.sparkContext
    val acc = mutable.Map[String, Double]().withDefaultValue(0.0)
    // lakehouse_cdc: each uniform/skewed pair of passes starts from freshly
    // created tables (untimed), so every pair commits onto the same table
    // history and pass times do not drift with the number of passes
    if (p % 2 == 1) lake.foreach(_.create())
    val passStart = System.nanoTime()
    val passSpan = if (traced) span(0, s"pass $p", "pass", "", epochMs(passStart), 0) else -1
    if (traced) {
      sc.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
      // each Tables accessor timed directly (one schema-inference read each)
      val t = Tables(spark, conf.data)
      val accessors = Seq[() => Any](() => t.region, () => t.nation, () => t.customer,
        () => t.supplier, () => t.part, () => t.orders, () => t.lineitem, () => t.events,
        () => t.documents, () => t.embeddings, () => t.ordersSpread, () => t.lineitemSpread,
        () => t.eventsSpread, () => t.documentsSpread, () => t.embeddingsSpread)
      sc.setLocalProperty(Tracer.OpKey, s"p$p.tables")
      for (a <- accessors) {
        val t0 = System.nanoTime(); a(); acc("tables.open_ms") += (System.nanoTime() - t0) / 1e6
      }
      sc.setLocalProperty(Tracer.OpKey, null)
    }
    val compiles0 = SparkProbes.codegenCompiles
    val jit0 = jitMs
    var opMs = 0.0
    for ((op, i) <- passOps(p).zipWithIndex) {
      val id = s"p$p.o$i"
      attempted += 1
      try op.prepare() catch { case NonFatal(e) => fail(s"${op.name} prepare", e) }
      if (traced) { SparkProbes.drainListenerBus(sc); tracer.take() }
      val files0 = if (traced) tableFiles else 0L
      val (w0, r0) = fsStats
      sc.setLocalProperty(Tracer.OpKey, id)
      sc.setLocalProperty(Tracer.PhaseKey, "build")
      val t0 = System.nanoTime()
      var t1 = t0
      var gc0 = gcMs
      val ok = try {
        val action = op.build()
        t1 = System.nanoTime()
        sc.setLocalProperty(Tracer.PhaseKey, "exec")
        gc0 = gcMs
        action()
        true
      } catch { case NonFatal(e) => fail(op.name, e); false }
      val t2 = System.nanoTime()
      val gc = gcMs - gc0
      sc.setLocalProperty(Tracer.OpKey, null)
      sc.setLocalProperty(Tracer.PhaseKey, null)
      val (w1, r1) = fsStats
      val ms = (t2 - t0) / 1e6
      if (ok) {
        opMs += ms
        if (timed) samples += Sample(traced, op.name, op.kind, ms, op.payloadBytes, w1 - w0)
      }
      if (traced) {
        acc("cache.stored_bytes") += sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
        acc("exec.gc_ms") += gc
        acc("fs.bytes_written") += w1 - w0
        acc("fs.bytes_read") += r1 - r0
        acc("fs.files_written") += tableFiles - files0
        if (op.kind == Op.Write) acc("sources.write_ms") += ms
        if (op.kind == Op.Read) acc("sources.read_ms") += ms
        for ((k, v) <- op.counters()) acc(k) += v
      }
      hygiene(op)
      if (traced) {
        SparkProbes.drainListenerBus(sc)
        traceOp(acc, passSpan, id, op.name, tracer.take(), t0, t1, t2)
      }
    }
    val wall = (System.nanoTime() - passStart) / 1e9
    if (timed) passes += ((traced, opMs / 1000.0)) else warmPasses += opMs / 1000.0
    if (traced) {
      sc.removeSparkListener(tracer)
      spark.listenerManager.unregister(tracer)
      acc("exec.codegen_compiles") += SparkProbes.codegenCompiles - compiles0
      spans(passSpan) = spans(passSpan).copy(end = epochMs(System.nanoTime()))
      layers += acc
    }
    val tag = if (traced) " (traced)" else if (timed) "" else " (warm-up)"
    System.err.println(f"[perfbench] pass $p%d$tag%s: " +
      f"ops ${opMs / 1000}%.3f s, wall $wall%.3f s, jit ${jitMs - jit0}%d ms")
  }

  /** Spans and per-layer counters of one traced op from its events. */
  private def traceOp(acc: mutable.Map[String, Double], passSpan: Int, id: String, name: String,
                      ev: Tracer.Events, t0: Long, t1: Long, t2: Long): Unit = {
    val (s0, s1, s2) = (epochMs(t0), epochMs(t1), epochMs(t2))
    val opSpan = span(passSpan, name, "op", id, s0, s2)
    val buildSpan = span(opSpan, "build", "build", id, s0, s1)
    val execSpan = span(opSpan, "exec", "exec", id, s1, s2)
    acc("build.ms") += s1 - s0
    acc("exec.ms") += s2 - s1
    for (ph <- ev.plans) {
      val inExec = ph.start >= math.floor(s1)
      span(if (inExec) execSpan else buildSpan, ph.name, "plan", id, ph.start, ph.end)
      if (inExec) acc(s"plans.${ph.name}_ms") += ph.end - ph.start
    }
    val jobs = ev.jobs.filter(_.op == id)
    val jobSpan = jobs.map { j =>
      j.id -> span(if (j.phase == "build") buildSpan else execSpan, s"job ${j.id}", "job", id,
        j.start, j.end)
    }.toMap
    val execJobs = jobs.filter(_.phase == "exec").map(_.id).toSet
    acc("build.jobs") += jobs.count(_.phase == "build")
    acc("exec.jobs") += execJobs.size
    val stages = ev.stages.filter(s => jobSpan.contains(s.job))
    for (s <- stages)
      span(jobSpan(s.job), s.name, "stage", id, s.submitted, s.completed)
    val stageIds = stages.map(_.id).toSet
    val execStageIds = stages.filter(s => execJobs.contains(s.job)).map(_.id).toSet
    val tasks = ev.tasks.filter(t => stageIds.contains(t.stage))
    val execTasks = tasks.filter(t => execStageIds.contains(t.stage))
    acc("exec.stages") += execStageIds.size
    acc("exec.tasks") += execTasks.size
    acc("exec.task_run_ms") += execTasks.map(_.runMs).sum
    acc("exec.task_cpu_ms") += execTasks.map(_.cpuNs).sum / 1e6
    val busy = Span.unionLength(execTasks.map(t =>
      (math.max(t.launch.toDouble, s1), math.min(t.finish.toDouble, s2))).filter(x => x._2 > x._1))
    acc("exec.idle_ms") += (s2 - s1) - busy
    for ((_, ts) <- execTasks.groupBy(_.stage) if ts.size >= 2) {
      val med = median(ts.map(_.runMs.toDouble))
      if (med > 0) stageSkews += ts.map(_.runMs).max / med
    }
    acc("shuffle.write_bytes") += tasks.map(_.shuffleWriteBytes).sum
    acc("shuffle.blocks_fetched") += tasks.map(_.blocksFetched).sum
    acc("shuffle.fetch_wait_ms") += tasks.map(_.fetchWaitMs).sum
    acc("scan.bytes_read") += tasks.map(_.bytesRead).sum
    acc("scan.records_read") += tasks.map(_.recordsRead).sum
    acc("spill.disk_bytes") += tasks.map(_.spillDiskBytes).sum
  }

  private def lakehouseMetrics(ss: Seq[Sample]): Map[String, Double] = {
    val writes = ss.filter(_.kind == Op.Write)
    val reads = ss.filter(_.kind == Op.Read)
    if (writes.isEmpty) Map("write_p50_ms" -> 0.0, "read_p50_ms" -> 0.0, "write_amp" -> 0.0)
    else Map(
      "write_p50_ms" -> median(writes.map(_.ms)),
      "read_p50_ms" -> median(reads.map(_.ms)),
      "write_amp" -> writes.map(_.bytesWritten).sum.toDouble / writes.map(_.payload).sum)
  }

  /** Per-layer metric names, all reported (0 where a workload has none). */
  private val layerNames = Seq(
    "build.ms", "build.jobs", "tables.open_ms",
    "plans.analysis_ms", "plans.optimization_ms", "plans.planning_ms",
    "exec.ms", "exec.idle_ms", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.task_run_ms", "exec.task_cpu_ms", "exec.codegen_compiles", "exec.gc_ms",
    "shuffle.write_bytes", "shuffle.blocks_fetched", "shuffle.fetch_wait_ms",
    "scan.bytes_read", "scan.records_read", "spill.disk_bytes", "cache.stored_bytes",
    "sources.write_ms", "sources.read_ms", "sources.commits_scanned", "sources.deltas_scanned",
    "sources.footer_probes", "sources.rewrite_files",
    "fs.bytes_written", "fs.bytes_read", "fs.files_written")

  def execute(): Unit = {
    val load0 = load1m
    val setups = (1 to SetupRepeats).map(_ => setupOnce())
    val verifyS = verificationPass()
    val workload = Workloads(conf.workload)
    val unit = if (lake.isDefined) 2 else 1
    // warm-up: the JIT compiles the hot paths of these very operations
    // before timing starts; whole uniform/skewed pairs for lakehouse_cdc
    val warm = (workload.warmPasses + unit - 1) / unit * unit
    for (p <- 1 to warm) runPass(p, traced = false, timed = false)
    val loopStart = System.nanoTime()
    val rootSpan = if (conf.trace) span(-1, conf.workload, "workload", "", epochMs(loopStart), 0) else -1
    val wanted = math.ceil(conf.seconds / workload.nominalPassS).toInt
    val n = math.max(if (lake.isDefined) MinLakehousePasses else MinPasses,
      (wanted + unit - 1) / unit * unit)
    // A traced run orders its untraced (U) and traced (T) passes U T T U
    // U T T U ..., so a remaining drift of pass times cancels out of the
    // tracing overhead; lakehouse_cdc does so with whole pairs.
    for (i <- 1 to (if (conf.trace) 2 * n else n)) {
      val k = (i - 1) / unit % 4
      runPass(warm + i, traced = conf.trace && (k == 1 || k == 2))
    }
    val loopS = (System.nanoTime() - loopStart) / 1e9
    if (conf.trace) spans(rootSpan) = spans(rootSpan).copy(end = epochMs(System.nanoTime()))
    val (tracedSamples, untraced) = samples.toSeq.partition(_.traced)
    val opMs = untraced.map(_.ms)
    val passMs = opMedians(untraced).sum
    val endToEnd = Map(
      "pass_s" -> passMs / 1000.0,
      "op_p50_ms" -> median(opMs),
      "op_p90_ms" -> percentile(opMs, 0.9),
      "setup_s" -> median(setups),
      "peak_rss_mb" -> peakRssMb,
      "failed_frac" -> failures.size.toDouble / attempted) ++ lakehouseMetrics(untraced)
    val perLayer: Map[String, Double] =
      if (!conf.trace) Map.empty
      else {
        val sums = layerNames.map(k => k -> median(layers.map(_.getOrElse(k, 0.0)).toSeq)).toMap
        val run = layerNames.map(k => k -> layers.map(_.getOrElse(k, 0.0)).sum).toMap
        sums ++ lakehouseMetrics(untraced).map { case (k, v) => s"lakehouse.$k" -> v } ++ Map(
          "exec.slot_busy_frac" -> run("exec.task_run_ms") / (run("exec.ms") * conf.cores),
          "exec.stage_skew" -> (if (stageSkews.isEmpty) 1.0 else median(stageSkews.toSeq)),
          "trace.overhead_frac" -> (opMedians(tracedSamples).sum / passMs - 1.0))
      }
    val opNames = samples.map(_.op).distinct
    val perOp = opNames.map { n =>
      val xs = untraced.filter(_.op == n).map(_.ms)
      n -> Map("n" -> xs.size, "p50_ms" -> median(xs), "ms" -> xs)
    }.toMap
    val context = Map(
      "cores" -> conf.cores,
      "load1m_start" -> load0,
      "load1m_end" -> load1m,
      "spark_version" -> spark.version,
      "jvm_version" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "session_confs" -> confs,
      "data_dir" -> conf.data)
    val result = Map(
      "workload" -> conf.workload, "seed" -> conf.seed, "seconds" -> conf.seconds,
      "trace" -> conf.trace, "context" -> context,
      "attempted" -> attempted, "failed" -> failures.size, "failures" -> failures.toSeq,
      "end_to_end" -> endToEnd, "samples" -> untraced.size, "per_layer" -> perLayer,
      "setup_runs_s" -> setups, "verify_s" -> verifyS, "warm_pass_s" -> warmPasses,
      "loop_s" -> loopS,
      "pass_s_all" -> passes.map { case (t, s) => Map("traced" -> t, "s" -> s) },
      "per_op" -> perOp,
      "self_ms" -> (if (conf.trace) Span.selfTimeByLayer(spans.toSeq) else Map.empty),
      "fingerprints" -> fingerprints.map { case (k, f) => k -> Map("rows" -> f.rows, "hash" -> f.hash) })
    json.writeValue(new java.io.File(conf.result), result)
    if (conf.trace)
      json.writeValue(new java.io.File(conf.result.stripSuffix(".json") + ".spans.json"), spans)
  }

  /** The session's explicitly set confs as built (operators may set more
    * while they run), minus per-process values (ids, ports, times) and
    * checkout paths. */
  private def sessionConfs: Map[String, String] = {
    val volatile = Set("spark.app.id", "spark.app.startTime", "spark.app.submitTime",
      "spark.driver.host", "spark.driver.port", "spark.executor.id", "spark.local.dir",
      "spark.sql.warehouse.dir", "spark.app.initial.jar.urls", "spark.repl.class.uri")
    (spark.sparkContext.getConf.getAll.toMap ++ spark.conf.getAll)
      .filter { case (k, _) => !volatile.contains(k) }
  }
}
