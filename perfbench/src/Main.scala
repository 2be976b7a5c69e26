package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.metrics.source.CodegenMetrics
import graft.SparkEntry
import graft.queries.QueryDef

/** One timed op: its wall time, per-layer wall time and whether it
  * passed its output check. */
final case class Op(name: String, seconds: Double, layerNs: Map[String, Long], error: Option[String])

/** One timed pass and what the process and Spark did during it. */
final case class Pass(ops: Seq[Op], wallS: Double, cpuS: Double, gcS: Double, heapMb: Double,
    layers: Map[String, LayerAcc], extra: Map[String, Double])

/** Benchmark harness, run in one JVM per invocation. It drives the program
  * only through public functions: `PipelineRunner.run` and the calls it
  * makes, the gate functions in `SparkEntry.allQueries`,
  * `QueryExecution.executedPlan`, and a sink that reads every output column
  * of the executed plan (see [[Sink]]).
  *
  * Usage (normally through perfbench/run.py):
  *   perfbench.Main --mode run --workload <w> --seconds <s> --trace <0|1>
  *     --data <dir> --gates <gates.tsv> --nproc <n> --out <json>
  *   perfbench.Main --mode classify --data <dir> --nproc <n> --out <tsv>
  *   perfbench.Main --mode fingerprint --data <dir> --gates <gates.tsv> --nproc <n> --out <tsv>
  *   perfbench.Main --mode selftest --gates <gates.tsv>
  */
object Main {
  val GateWorkloads = Set("star_sql", "operator_build")

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val mode = args.getOrElse("mode", "run")
    if (mode == "selftest") { sys.exit(if (selfTest(Gates.load(args("gates"))).isEmpty) 0 else 1) }
    val nproc = args("nproc").toInt
    val spark = session(nproc)
    spark.sparkContext.setLogLevel("ERROR")
    val code = try mode match {
      case "run" => new Runner(spark, args, nproc).run()
      case "classify" => Classify.run(spark, args("data"), Paths.get(args("out")))
      case "fingerprint" => Classify.fingerprints(spark, args("data"),
        Gates.load(args("gates")), Paths.get(args("out")))
    } finally spark.stop()
    sys.exit(code)
  }

  /** The session `graft.Run` ships: the graft extensions, AQE on,
    * local[nproc] with shuffle partitions = nproc, UTC. */
  def session(nproc: Int): SparkSession = SparkSession.builder()
    .withExtensions(new graft.extensions.GraftExtensions)
    .master(s"local[$nproc]")
    .config("spark.sql.shuffle.partitions", nproc.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir",
      Paths.get(System.getProperty("java.io.tmpdir"), "spark-warehouse").toString)
    .getOrCreate()

  /** Every frozen gate exists in `SparkEntry.allQueries` and carries a
    * fingerprint. Returns the problems found. */
  def selfTest(gates: Seq[Gates.Gate]): Seq[String] = {
    val known = SparkEntry.allQueries.map(_.name).toSet
    val problems = gates.flatMap { g =>
      (if (known(g.name)) Nil else Seq(s"${g.workload}/${g.name}: not in SparkEntry.allQueries")) ++
        (if (g.fingerprint.matches("[0-9]+:[0-9a-f]{16}")) Nil
         else Seq(s"${g.workload}/${g.name}: no fingerprint"))
    } ++ GateWorkloads.toSeq.filterNot(w => gates.exists(_.workload == w)).map(w => s"$w: no gates")
    problems.foreach(p => System.err.println(s"[perfbench] selftest: $p"))
    problems
  }

  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap in use after full GCs, repeated with pauses until it stops
    * shrinking, so Spark's ContextCleaner can drop the blocks of RDDs and
    * broadcasts an earlier GC found unreachable. */
  def heapAfterGcMb(): Double = {
    def used(): Long = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
    var (prev, cur, rounds) = (Long.MaxValue, used(), 0)
    while (rounds < 10 && prev - cur > (1L << 20)) {
      Thread.sleep(200)
      prev = cur; cur = used(); rounds += 1
    }
    cur / 1048576.0
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of `xs`. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** The frozen gate lists, one `workload<TAB>name<TAB>fingerprint` a line. */
object Gates {
  final case class Gate(workload: String, name: String, fingerprint: String)
  def load(path: String): Seq[Gate] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(f => Gate(f(0), f(1), if (f.length > 2) f(2) else ""))
}

final class Runner(spark: SparkSession, args: Map[String, String], nproc: Int) {
  import Main._
  private val sc = spark.sparkContext
  private val workload = args("workload")
  private val seconds = args("seconds").toDouble
  private val traced = args("trace") == "1"
  private val dataDir = args("data")
  private val trace = new Trace(sc, if (traced) Some(args("out") + ".trace.jsonl") else None)
  private var attempted = 0L
  private var failed = 0L
  private var cachePeak = (0L, 0.0)

  def run(): Int = {
    val result = try workload match {
      case w if GateWorkloads(w) =>
        val gates = Gates.load(args("gates"))
        if (selfTest(gates).nonEmpty) return 3
        measure(new GatePasses(gates.filter(_.workload == w)))
      case "etl_daily" => measure(new EtlPasses)
      case other =>
        System.err.println(s"[perfbench] unknown workload '$other'")
        return 2
    } finally trace.close()
    Files.write(Paths.get(args("out")), result.getBytes("UTF-8"))
    0
  }

  trait Passes {
    /** Untimed passes before the first timed one. */
    def warmPasses: Int
    /** Fewest timed passes of an untraced run. */
    def minTimedPasses: Int
    /** Run one pass; `timed` passes may be traced. */
    def pass(index: Int, detailed: Boolean): Pass
    /** End-to-end figures that depend on the workload's inputs. */
    def rowsPerPass(p: Pass): Double
    def storageAmp(p: Pass): Double
  }

  /** Warm passes, then timed passes until `seconds` have elapsed, at
    * least `minTimedPasses` of them. With tracing, the first timed pass
    * runs untraced so the tracing overhead can be reported; layer figures
    * come from the traced passes. */
  private def measure(p: Passes): String = {
    (1 to p.warmPasses).foreach(i => p.pass(-i, detailed = false))
    val firstOpMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val passes = mutable.ArrayBuffer.empty[Pass]
    val minPasses = if (traced) 2 else p.minTimedPasses
    while (passes.size < minPasses || (System.nanoTime() - t0) / 1e9 < seconds)
      passes += p.pass(passes.size + 1, detailed = traced && passes.nonEmpty)
    val metrics: Seq[(String, Double, String)] =
      if (!traced) endToEnd(p, passes.toSeq) else perLayer(passes.head, passes.tail.toSeq)
    val m = metrics.map { case (k, v, u) => s""""$k":{"value":$v,"unit":"$u"}""" }.mkString(",")
    val opS = passes.toSeq.flatMap(_.ops).groupBy(_.name).toSeq.sortBy(_._1)
      .map { case (n, os) => f""""$n":${median(os.map(_.seconds))}%.4f""" }.mkString(",")
    s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""first_op_ms":$firstOpMs,"passes":${passes.size},"op_s":{$opS},"metrics":{$m}}"""
  }

  private def endToEnd(p: Passes, passes: Seq[Pass]): Seq[(String, Double, String)] = {
    val ops = passes.flatMap(_.ops.map(_.seconds))
    // each op's median over the passes, then the median over the ops: a
    // pooled median would fall between the samples of two ops and follow
    // the single fastest or slowest of them
    val perOp = passes.flatMap(_.ops).groupBy(_.name).values.map(os => median(os.map(_.seconds)))
    Seq(
      ("wall_s", median(passes.map(_.wallS)), "s"),
      ("op_p50_s", median(perOp.toSeq), "s"),
      ("op_p90_s", quantile(ops, 0.9), "s"),
      ("op_samples", ops.size.toDouble, "count"),
      ("cpu_s", median(passes.map(_.cpuS)), "s"),
      ("heap_after_gc_mb", median(passes.map(_.heapMb)), "MB"),
      ("rows_per_s", median(passes.map(x => p.rowsPerPass(x) / x.wallS)), "1/s"),
      ("storage_amp", median(passes.map(p.storageAmp)), "ratio"),
      ("error_rate", if (attempted == 0) 0.0 else failed.toDouble / attempted, "ratio"))
  }

  private def perLayer(untraced: Pass, passes: Seq[Pass]): Seq[(String, Double, String)] = {
    def med(f: Pass => Double): Double = median(passes.map(f))
    def layerS(l: String)(p: Pass): Double = p.ops.map(_.layerNs.getOrElse(l, 0L)).sum / 1e9
    def acc(layers: String*)(p: Pass): LayerAcc = {
      val a = new LayerAcc
      layers.foreach(l => p.layers.get(l).foreach(a += _))
      a
    }
    val execLayers = if (workload == "etl_daily") EtlDaily.Layers else Seq("exec")
    val execS: Pass => Double =
      if (workload == "etl_daily") _.wallS else layerS("exec")
    Seq(
      ("build.s", med(layerS("build")), "s"),
      ("build.jobs", med(acc("build")(_).jobs.toDouble), "count"),
      ("build.tasks", med(acc("build")(_).tasks.toDouble), "count"),
      ("build.task_cpu_s", med(acc("build")(_).taskCpuNs / 1e9), "s"),
      ("build.shuffle_bytes", med { p => val a = acc("build")(p); (a.shuffleRead + a.shuffleWrite).toDouble }, "bytes"),
      ("plan.s", med(layerS("plan")), "s"),
      ("exec.s", med(execS), "s"),
      ("exec.jobs", med(acc(execLayers: _*)(_).jobs.toDouble), "count"),
      ("exec.stages", med(acc(execLayers: _*)(_).stages.toDouble), "count"),
      ("exec.tasks", med(acc(execLayers: _*)(_).tasks.toDouble), "count"),
      ("exec.task_run_s", med(acc(execLayers: _*)(_).taskRunMs / 1e3), "s"),
      ("exec.task_cpu_s", med(acc(execLayers: _*)(_).taskCpuNs / 1e9), "s"),
      ("exec.sched_delay_s", med(acc(execLayers: _*)(_).schedDelayMs / 1e3), "s"),
      ("exec.gc_s", med(acc(execLayers: _*)(_).gcMs / 1e3), "s"),
      ("exec.shuffle_read_bytes", med(acc(execLayers: _*)(_).shuffleRead.toDouble), "bytes"),
      ("exec.shuffle_write_bytes", med(acc(execLayers: _*)(_).shuffleWrite.toDouble), "bytes"),
      ("exec.spill_bytes", med(acc(execLayers: _*)(_).spill.toDouble), "bytes"),
      ("exec.peak_mem_bytes", med(acc(execLayers: _*)(_).peakMem.toDouble), "bytes"),
      ("exec.cpu_util", med(p => acc(execLayers: _*)(p).taskCpuNs / 1e9 / math.max(1e-9, execS(p) * nproc)), "ratio"),
      ("op.self_s", med(p => p.ops.map(o => o.seconds - o.layerNs.values.sum / 1e9).sum), "s"),
      ("jvm.gc_s", med(_.gcS), "s"),
      ("trace.overhead", med(_.wallS) / untraced.wallS, "ratio"),
      ("trace.ungrouped_jobs", med(p => p.layers.values.map(_.ungroupedJobs).sum.toDouble), "count"),
    ) ++ ExtraFigures.map { case (k, u) => (k, med(_.extra.getOrElse(k, 0.0)), u) }
  }

  /** Per-layer figures a pass reports in `Pass.extra`; a workload that has
    * no such layer reports 0. */
  private val ExtraFigures: Seq[(String, String)] = Seq(
    "codegen.compiles" -> "count", "codegen.compile_s" -> "s",
    "cache.persisted_rdds_peak" -> "count", "cache.mem_mb_peak" -> "MB", "release.s" -> "s",
    "io.csv_s" -> "s", "io.rows_read" -> "count",
    "validate.s" -> "s", "validate.jobs" -> "count",
    "catalog.write_s" -> "s", "catalog.write_jobs" -> "count", "catalog.read_s" -> "s",
    "catalog.bytes_written" -> "bytes", "catalog.files_written" -> "count",
    "catalog.versions" -> "count",
    "scd2.s" -> "s", "scd2.jobs" -> "count", "scd2.rows_inserted" -> "count",
    "scd2.rows_expired" -> "count", "scd2.shuffle_bytes" -> "bytes",
    "fact.s" -> "s", "fact.jobs" -> "count", "fact.rows" -> "count",
    "fact.unresolved_keys" -> "count", "fact.shuffle_bytes" -> "bytes")

  /** Sample the Spark cache after an op (traced passes only). */
  private def sampleCache(): Unit = {
    val rdds = sc.getPersistentRDDs.size.toLong
    val mb = sc.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    cachePeak = (math.max(cachePeak._1, rdds), math.max(cachePeak._2, mb))
  }

  private def codegen(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  /** Run `ops` as one pass, timing each and collecting process and Spark
    * figures around it. */
  private def timePass(index: Int, detailed: Boolean)(ops: => Seq[Op])(
      extra: Pass => Map[String, Double]): Pass = {
    trace.drain()
    trace.clearSpans()
    trace.emit(s"""{"span":"pass","index":$index,"traced":$detailed,"start_ms":${System.currentTimeMillis()}}""")
    cachePeak = (0L, 0.0)
    val (cg0, cgNs0) = codegen()
    val (cpu0, gc0) = (cpuNs(), gcMs())
    val done = ops
    val (cpu1, gc1) = (cpuNs(), gcMs())
    val (cg1, cgNs1) = codegen()
    val layers = trace.drain()
    val heap = heapAfterGcMb()
    attempted += done.size
    failed += done.count(_.error.isDefined)
    done.filter(_.error.isDefined).foreach(o =>
      System.err.println(s"[perfbench] FAILED ${o.name}: ${o.error.get}"))
    val base = Pass(done, done.map(_.seconds).sum, (cpu1 - cpu0) / 1e9, (gc1 - gc0) / 1e3, heap,
      layers, Map.empty)
    val cacheFigures = Map(
      "codegen.compiles" -> (cg1 - cg0).toDouble,
      "codegen.compile_s" -> (cgNs1 - cgNs0) / 1e9,
      "cache.persisted_rdds_peak" -> cachePeak._1.toDouble,
      "cache.mem_mb_peak" -> cachePeak._2)
    trace.emit(s"""{"span":"pass_end","index":$index,"end_ms":${System.currentTimeMillis()},"wall_s":${base.wallS}}""")
    base.copy(extra = cacheFigures ++ extra(base))
  }

  /** The gate workloads: each op is one gate's build (the query function),
    * plan (`executedPlan`) and execute (the fingerprint sink), in the
    * frozen order of gates.tsv. */
  final class GatePasses(gates: Seq[Gates.Gate]) extends Passes {
    // a gate pass is short: a second warm pass takes the JIT warm-up the
    // first leaves out of the timed passes, and two timed passes give each
    // gate two samples
    val warmPasses = 2
    val minTimedPasses = 2
    private val byName = SparkEntry.allQueries.map(q => q.name -> q).toMap
    private val inputBytes = Files.walk(Paths.get(dataDir)).iterator.asScala
      .filter(Files.isRegularFile(_)).map(Files.size(_)).sum.toDouble

    private def op(pass: String, g: Gates.Gate, detailed: Boolean): Op = {
      val q: QueryDef = byName(g.name)
      val layerNs = mutable.Map.empty[String, Long]
      val t0 = System.nanoTime()
      val error = try {
        val (df, b) = trace.span(pass, g.name, "build")(q.fn(spark, dataDir))
        layerNs("build") = b
        val (qe, p) = trace.span(pass, g.name, "plan") {
          val qe = Sink.queryExecution(df); qe.executedPlan; qe
        }
        layerNs("plan") = p
        val (fp, x) = trace.span(pass, g.name, "exec")(Sink.run(qe))
        layerNs("exec") = x
        if (fp.toString == g.fingerprint) None
        else Some(s"fingerprint $fp, expected ${g.fingerprint}")
      } catch { case NonFatal(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
      val seconds = (System.nanoTime() - t0) / 1e9
      if (detailed) sampleCache()
      Op(g.name, seconds, layerNs.toMap, error)
    }

    def pass(index: Int, detailed: Boolean): Pass = {
      timePass(index, detailed)(gates.map(g => op(s"pass$index", g, detailed)))(_ => Map.empty)
    }
    def rowsPerPass(p: Pass): Double = p.layers.values.map(_.inputRecords).sum.toDouble
    def storageAmp(p: Pass): Double =
      p.layers.values.map(a => a.shuffleWrite + a.spill).sum / inputBytes
  }

  /** The daily star-schema ETL: day 1 then day 2, five tables each, every
    * pass into a fresh empty catalog. */
  final class EtlPasses extends Passes {
    private val etl = new EtlDaily(spark, trace, dataDir)
    val warmPasses = 1
    val minTimedPasses = 1
    def pass(index: Int, detailed: Boolean): Pass = {
      val wh = Files.createTempDirectory("perfbench-wh")
      try {
        val run = etl.newRun(wh)
        // the untimed warm pass is not checked: it would cost a run about 5 s
        timePass(index, detailed)(run.ops(s"pass$index", detailed, checked = index > 0,
          () => if (detailed) sampleCache()))(run.figures)
      } finally EtlDaily.deleteTree(wh)
    }
    def rowsPerPass(p: Pass): Double = etl.csvRows.toDouble
    def storageAmp(p: Pass): Double = p.extra("catalog.bytes_written") / etl.csvBytes
  }
}
