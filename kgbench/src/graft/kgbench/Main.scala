package graft.kgbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.Executors

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import graft.Engine
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** End-to-end KGCW benchmark: mapping text and generated sources in, RDF
  * files out, through `graft.Engine.run` in one JVM.
  *
  * Usage: `graft.kgbench.Main --workload <records_nt|joins_nm|json_turtle>
  * --seed <n> --seconds <s> --trace <0|1> --work <dir>`
  *
  * The last stdout line is one JSON object: `correct`, `attempted`,
  * `failed` and `metrics` (name -> value and unit). With `--trace 0` the
  * metrics are the end-to-end ones; with `--trace 1` they are the per-layer
  * ones from [[Trace]], which also writes its spans to `<work>/trace.json`.
  */
object Main {

  final case class Args(workload: Workload, seed: Long, seconds: Int, trace: Boolean, work: Path)

  /** Setups per run; `setup_s` is their median. */
  val SetupReps = 3

  def parseArgs(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(Workloads(need("workload")), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath)
  }

  val cores: Int = Runtime.getRuntime.availableProcessors

  /** The session `graft.cli.Main` builds, with the core count made explicit
    * and Spark's scratch space kept under the work directory.
    */
  def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("kgbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def seconds(fromNanos: Long): Double = (System.nanoTime() - fromNanos) / 1e9

  private val osBean =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** Process CPU time (user + sys, all threads) in nanoseconds. */
  def cpuNanos(): Long = osBean.getProcessCpuTime

  /** Peak resident set (`VmHWM`) of this process in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)

  /** Inputs, expectation and session of one run; `run` is one checked
    * `Engine.run`, the operation every measurement repeats.
    */
  final class Bench(val spark: SparkSession, val w: Workload, val g: Workloads.Generated,
      val inDir: Path, val outDir: Path, val check: Check) {
    var attempted = 0L
    var failed = 0L
    val problems = ArrayBuffer.empty[String]
    val config = Engine.Config(outputFormat = w.outputFormat)
    def mainOut: Path = outDir.resolve("main")

    /** Counts and times one operation; `None` when it threw. */
    def op[A](body: => A): Option[A] = {
      attempted += 1
      try Some(body)
      catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"[kgbench] operation failed: $e")
          e.printStackTrace()
          None
      }
    }

    /** One checked `Engine.run`: (wall s, process CPU s, RDF bytes written). */
    def run(): Option[(Double, Double, Long)] = op {
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val (c0, t0) = (cpuNanos(), System.nanoTime())
      val n = Engine.run(spark, g.mapping, inDir.toString, mainOut.toString, config)
      val (wall, cpu) = (seconds(t0), (cpuNanos() - c0) / 1e9)
      val t1 = System.nanoTime()
      problems ++= check.verify(w, g.expected, n, mainOut)
      val bytes = check.rdfBytes(mainOut) +
        g.expected.targetPath.map(p => check.rdfBytes(Paths.get(p))).getOrElse(0L)
      System.err.println(f"[kgbench] Engine.run $wall%.3f s, cpu $cpu%.2f s, $n triples, " +
        f"check ${seconds(t1)}%.3f s, " +
        s"${CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0} codegen compiles")
      (wall, cpu, bytes)
    }
  }

  /** A JSON number; JSON has no NaN or infinity. */
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString

  def json(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)]): String = {
    metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""",
        ", ", "}}")
  }

  def main(argv: Array[String]): Unit = {
    val entry = System.nanoTime()
    val args = parseArgs(argv)
    val w = args.workload
    val (inDir, outDir) = (args.work.resolve("in"), args.work.resolve("out"))
    deleteTree(args.work)

    // set up several times and report the median; the last session stays
    var spark: SparkSession = null
    var g: Workloads.Generated = null
    val setups = (1 to SetupReps).map { i =>
      val t0 = if (i == 1) entry else System.nanoTime()
      if (spark != null) spark.stop()
      deleteTree(inDir)
      Files.createDirectories(inDir)
      Files.createDirectories(outDir)
      g = w.generate(args.seed, inDir, outDir)
      spark = session(args.work)
      val took = seconds(t0)
      System.err.println(f"[kgbench] setup $i: $took%.3f s (${g.rows} source rows)")
      took
    }
    val pool = Executors.newFixedThreadPool(cores)
    try {
      val bench = new Bench(spark, w, g, inDir, outDir, new Check(pool))
      val metrics =
        if (args.trace) Trace.run(bench, args.seconds, args.work.resolve("trace.json"), args.seed)
        else measure(bench, args.seconds, median(setups))
      bench.problems.distinct.foreach(p => System.err.println(s"[kgbench] WRONG OUTPUT: $p"))
      println(json(bench.problems.isEmpty, bench.attempted, bench.failed, metrics))
    } finally {
      pool.shutdownNow()
      spark.stop()
      deleteTree(inDir)
      deleteTree(outDir)
    }
  }

  /** Checked reps between the cold one and the measured window: the second
    * run in a JVM is still visibly slower than the ones after it.
    */
  val WarmupReps = 1

  /** End-to-end metrics: a cold `Engine.run`, warm-up reps, then warm reps until
    * `window` seconds have passed.
    */
  def measure(b: Bench, window: Int, setupS: Double): Seq[(String, Double, String)] = {
    val cold = b.run()
    (1 to WarmupReps).foreach(_ => b.run())
    val warm = ArrayBuffer.empty[(Double, Double, Long)]
    val start = System.nanoTime()
    while (seconds(start) < window) warm ++= b.run()
    Seq(
      ("setup_s", setupS, "s"),
      ("cold_kg_s", cold.map(_._1).getOrElse(0.0), "s"),
      ("kg_s", median(warm.map(_._1).toSeq), "s"),
      ("cpu_s", median(warm.map(_._2).toSeq), "s"),
      ("peak_rss_mb", peakRssMb(), "MB"),
      ("output_mb", warm.lastOption.map(_._3 / 1e6).getOrElse(0.0), "MB"))
  }
}
