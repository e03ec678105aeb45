package graft.kgbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import graft.exec.{MappingCompiler, Sinks}
import graft.mapping.MappingParser
import graft.model.MappingDoc
import graft.sources.SourceReader
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}

/** Per-layer split of one workload, from the benchmark's side only.
  *
  * Each round runs a chain of cumulative steps, each a call into one more
  * of the program's modules, ending in a noop sink:
  *
  *   sources          SourceReader.read of each logical source
  *   exec.terms       compile without RefObjectMap POMs, no dedup
  *   exec.join        the whole mapping, no dedup
  *   exec.dedup       the whole mapping with the global quad dedup
  *   sinks.serialize  + Sinks.ntLines / Sinks.turtleBlocksAdaptive
  *   sinks.write      Sinks.writeNt / Sinks.writeTurtle to files
  *   engine           Engine.run (second pass, logical targets)
  *
  * A step's self time is its median wall time minus that of the step
  * before it, so the self times add up to the median `Engine.run` time.
  * `mapping` (MappingParser.parse) and `exec.compile` (plan building up to
  * `executedPlan`) are the planning parts of every step, timed on their own.
  * A SparkListener attributes Spark's task metrics to steps through a
  * local property. The round ends with `Engine.run` once more without the
  * listener, which gives the tracing overhead. A first round warms every
  * step up and is left out of the figures.
  */
object Trace {
  import Main.{median, num, seconds}

  val StepProp = "kgbench.step"
  val SparkSteps = Seq("exec.compile", "sources", "exec.terms", "exec.join", "exec.dedup",
    "sinks.serialize", "sinks.write", "engine")
  val Chain = SparkSteps.tail
  val ParseReps = 5
  val CompileReps = 3
  /** Measured rounds at least, however short the window. */
  val MinRounds = 2

  /** Spark task metrics summed per `round:step`. */
  final class Totals {
    var tasks, runMs, gcMs, shuffleWrite, shuffleRead, spill, recordsRead, jobs, stages = 0L
    var cachedNow, cachedPeak = 0L
  }

  final class StepListener extends SparkListener {
    val totals = new ConcurrentHashMap[String, Totals]()
    private val stageKey = new ConcurrentHashMap[Int, String]()
    private val blocks = new ConcurrentHashMap[String, java.lang.Long]()
    private val jobKey = new ConcurrentHashMap[Int, String]()
    @volatile private var lastKey = ""
    @volatile var jobsEnded: Set[String] = Set.empty
    private def t(key: String) = totals.computeIfAbsent(key, _ => new Totals)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val key = Option(e.properties).flatMap(p => Option(p.getProperty(StepProp))).getOrElse("")
      lastKey = key
      jobKey.put(e.jobId, key)
      e.stageIds.foreach(stageKey.put(_, key))
      t(key).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      Option(jobKey.get(e.jobId)).foreach(k => jobsEnded += k)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      Option(stageKey.get(e.stageInfo.stageId)).foreach(k => t(k).stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      Option(stageKey.get(e.stageId)).filter(_ => m != null).foreach { k =>
        val x = t(k)
        x.tasks += 1
        x.runMs += m.executorRunTime
        x.gcMs += m.jvmGCTime
        x.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        x.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        x.spill += m.diskBytesSpilled
        x.recordsRead += m.inputMetrics.recordsRead
      }
    }
    /** Cached RDD bytes (memory + disk), peak while a step runs. */
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val id = info.blockId.name
        val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        val before = Option(blocks.put(id, now)).map(_.longValue).getOrElse(0L)
        val x = t(lastKey)
        x.cachedNow += now - before
        x.cachedPeak = math.max(x.cachedPeak, x.cachedNow)
      }
    }
  }

  final case class Span(name: String, round: Int, startMs: Double, endMs: Double,
      parent: Option[String])

  def run(b: Main.Bench, window: Int, out: Path, seed: Long): Seq[(String, Double, String)] = {
    val spark = b.spark
    val sc = spark.sparkContext
    val listener = new StepListener
    val origin = System.nanoTime()
    def ms(nanos: Long) = (nanos - origin) / 1e6
    val spans = mutable.ArrayBuffer.empty[Span]
    val walls = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val rows = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    var round = 0

    // times one step; a step that throws counts as a failed operation
    def step[A](name: String, parent: Option[String])(body: => A): Option[A] = {
      sc.setLocalProperty(StepProp, s"$round:$name")
      val t0 = System.nanoTime()
      val r = b.op(body)
      val t1 = System.nanoTime()
      sc.setLocalProperty(StepProp, null)
      spans += Span(name, round, ms(t0), ms(t1), parent)
      if (r.isDefined) walls.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (t1 - t0) / 1e9
      r
    }
    def noopRows(name: String, df: DataFrame): Unit = {
      val obs = Observation(name.replace('.', '_'))
      df.observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
      rows.getOrElseUpdate(name, mutable.ArrayBuffer.empty) +=
        obs.get("rows").asInstanceOf[Long].toDouble
    }

    val opts = MappingCompiler.Options()
    def parse(): MappingDoc = MappingParser.parse(b.g.mapping, b.inDir.toString)
    def quads(doc: MappingDoc, dedup: Boolean): DataFrame = {
      val all = MappingCompiler.compilePerTm(spark, doc, opts.copy(removeDuplicates = dedup))
        .map(_._2)
        .reduceLeftOption(_.unionByName(_)).getOrElse(MappingCompiler.emptyQuads(spark))
      if (dedup) MappingCompiler.dedupQuads(spark, all, opts) else all
    }
    def withoutJoins(doc: MappingDoc): MappingDoc = doc.copy(triplesMaps = doc.triplesMaps.map(tm =>
      tm.copy(poms = tm.poms.filter(_.objectMap.refObject.isEmpty))))
    val turtle = b.w.outputFormat == "turtle"
    val traceOut = b.outDir.resolve("trace")
    val parent = Chain.zip(Chain.tail.map(Some(_)) :+ None).toMap

    sc.addSparkListener(listener)
    val untraced = mutable.ArrayBuffer.empty[Double]
    val codegen = mutable.ArrayBuffer.empty[Double]
    def oneRound(): Unit = {
      (1 to ParseReps).foreach(_ => step("mapping", Some("exec.compile"))(parse()))
      (1 to CompileReps).foreach(_ => step("exec.compile", None)(
        quads(parse(), dedup = true).queryExecution.executedPlan))
      step("sources", parent("sources")) {
        val doc = parse()
        doc.triplesMaps.map(_.source).distinctBy(_.id).foreach(s =>
          SourceReader.read(spark, s).write.format("noop").mode("overwrite").save())
      }
      step("exec.terms", parent("exec.terms"))(noopRows("exec.terms",
        quads(withoutJoins(parse()), dedup = false)))
      val doc = parse()
      if (withoutJoins(doc) != doc)
        step("exec.join", parent("exec.join"))(noopRows("exec.join", quads(parse(), dedup = false)))
      step("exec.dedup", parent("exec.dedup"))(noopRows("exec.dedup", quads(parse(), dedup = true)))
      step("sinks.serialize", parent("sinks.serialize")) {
        val d = parse()
        val q = quads(d, dedup = true)
        val lines = if (turtle) Sinks.turtleBlocksAdaptive(q, d.prefixes) else Sinks.ntLines(q)
        lines.write.format("noop").mode("overwrite").save()
      }
      step("sinks.write", parent("sinks.write")) {
        val d = parse()
        val q = quads(d, dedup = true)
        if (turtle) Sinks.writeTurtle(q, d.prefixes, traceOut.toString)
        else Sinks.writeNt(q, traceOut.toString)
      }
      sc.setLocalProperty(StepProp, s"$round:engine")
      val (compiles0, t0) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, System.nanoTime())
      val traced = b.run()
      codegen += (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0).toDouble
      sc.setLocalProperty(StepProp, null)
      traced.foreach { case (wall, _, _) =>
        spans += Span("engine", round, ms(t0), ms(t0) + wall * 1e3, None)
        walls.getOrElseUpdate("engine", mutable.ArrayBuffer.empty) += wall
      }
      sc.removeSparkListener(listener)
      untraced ++= b.run().map(_._1)
      sc.addSparkListener(listener)
      // a marker job: once the listener sees it end, every earlier event is in
      sc.setLocalProperty(StepProp, s"$round:sync")
      sc.parallelize(Seq(1), 1).count()
      sc.setLocalProperty(StepProp, null)
      val deadline = System.nanoTime() + 30_000_000_000L
      while (!listener.jobsEnded(s"$round:sync") && System.nanoTime() < deadline) Thread.sleep(10)
    }
    // round 0 warms every step's plan up; only the rounds after it count
    oneRound()
    Seq(walls, rows).foreach(_.clear())
    Seq(untraced, codegen).foreach(_.clear())
    val start = System.nanoTime()
    while (round < MinRounds || seconds(start) < window) {
      round += 1
      oneRound()
    }
    sc.removeSparkListener(listener)
    Main.deleteTree(traceOut)

    def wall(s: String): Double = median(walls.getOrElse(s, Nil).toSeq)
    def rowsOf(s: String): Double = median(rows.getOrElse(s, Nil).toSeq)
    // a mapping without RefObjectMaps has no join step: it equals exec.terms
    val hasJoin = walls.contains("exec.join")
    val cum: Map[String, Double] = Chain.map { s =>
      s -> (if (s == "exec.join" && !hasJoin) wall("exec.terms") else wall(s))
    }.toMap
    val self: Map[String, Double] = Chain.zip(0.0 +: Chain.map(cum)).map {
      case (s, before) => s -> (cum(s) - before)
    }.toMap
    val rawQuads = if (hasJoin) rowsOf("exec.join") else rowsOf("exec.terms")
    def sparkOf(s: String): Seq[(String, Double)] = {
      val per = (1 to round).map(r => Option(listener.totals.get(s"$r:$s")).getOrElse(new Totals))
      def med(f: Totals => Double) = median(per.map(f))
      val (reps, stepWall) = if (s == "exec.compile") (CompileReps, wall(s)) else (1, cum(s))
      val taskS = med(_.runMs / 1e3) / reps
      Seq(
        "task_s" -> taskS,
        "busy_share" -> (if (stepWall > 0) taskS / (stepWall * Main.cores) else 0.0),
        "shuffle_write_mb" -> med(_.shuffleWrite / 1e6) / reps,
        "shuffle_read_mb" -> med(_.shuffleRead / 1e6) / reps,
        "spill_mb" -> med(_.spill / 1e6) / reps,
        "gc_s" -> med(_.gcMs / 1e3) / reps,
        "tasks" -> med(_.tasks.toDouble) / reps)
    }
    val engineTotals = (1 to round).map(r =>
      Option(listener.totals.get(s"$r:engine")).getOrElse(new Totals))
    val layer: Seq[(String, Double, String)] = Seq(
      ("mapping.parse_ms", wall("mapping") * 1e3, "ms"),
      ("exec.plan_ms", (wall("exec.compile") - wall("mapping")) * 1e3, "ms"),
      ("sources.scan_s", self("sources"), "s"),
      ("sources.rows", median((1 to round).map(r =>
        Option(listener.totals.get(s"$r:sources")).map(_.recordsRead.toDouble).getOrElse(0.0))),
        "count"),
      ("exec.terms_s", self("exec.terms"), "s"),
      ("exec.quads_raw", rawQuads, "count"),
      ("exec.join_s", self("exec.join"), "s"),
      ("exec.join_rows", if (hasJoin) rowsOf("exec.join") - rowsOf("exec.terms") else 0.0, "count"),
      ("exec.dedup_s", self("exec.dedup"), "s"),
      ("exec.dedup_ratio", if (rawQuads > 0) rowsOf("exec.dedup") / rawQuads else 0.0, "ratio"),
      ("sinks.serialize_s", self("sinks.serialize"), "s"),
      ("sinks.write_s", self("sinks.write"), "s"),
      ("engine.overhead_s", self("engine"), "s"),
      ("engine.jobs", median(engineTotals.map(_.jobs.toDouble)), "count"),
      ("engine.stages", median(engineTotals.map(_.stages.toDouble)), "count"),
      ("engine.cached_mb", median(engineTotals.map(_.cachedPeak / 1e6)), "MB"),
      ("engine.codegen_compiles", median(codegen.toSeq), "count"),
      ("trace.engine_s", wall("engine"), "s"),
      ("trace.untraced_engine_s", median(untraced.toSeq), "s"),
      ("trace.overhead", if (untraced.nonEmpty) wall("engine") / median(untraced.toSeq) - 1 else 0.0,
        "share"))
    val sparkMetrics = SparkSteps.flatMap(s => sparkOf(s).map { case (k, v) =>
      (s"$s.spark.$k", v, k match {
        case "busy_share" => "share"
        case "tasks" => "count"
        case k if k.endsWith("_mb") => "MB"
        case _ => "s"
      })
    })
    val metrics = layer ++ sparkMetrics
    writeTrace(out, b, seed, round, spans.toSeq, cum, self, metrics)
    metrics
  }

  private def writeTrace(out: Path, b: Main.Bench, seed: Long, rounds: Int, spans: Seq[Span],
      cum: Map[String, Double], self: Map[String, Double],
      metrics: Seq[(String, Double, String)]): Unit = {
    def q(s: String) = "\"" + s + "\""
    val spanJson = spans.map { s =>
      s"""    {"name": ${q(s.name)}, "round": ${s.round}, "start_ms": ${num(s.startMs)}, """ +
        s""""end_ms": ${num(s.endMs)}, "parent": ${s.parent.map(q).getOrElse("null")}}"""
    }.mkString(",\n")
    val stepJson = Chain.map(s =>
      s"""    ${q(s)}: {"median_s": ${num(cum(s))}, "self_s": ${num(self(s))}}""").mkString(",\n")
    val metricJson = metrics.map { case (k, v, u) =>
      s"""    ${q(k)}: {"value": ${num(v)}, "unit": ${q(u)}}""" }.mkString(",\n")
    val text =
      s"""{
         |  "workload": ${q(b.w.name)},
         |  "seed": $seed,
         |  "cores": ${Main.cores},
         |  "rounds": $rounds,
         |  "input": ${q(b.w.describe)},
         |  "self_time_sum_s": ${num(Chain.map(self).sum)},
         |  "engine_run_s": ${num(cum("engine"))},
         |  "steps": {
         |$stepJson
         |  },
         |  "metrics": {
         |$metricJson
         |  },
         |  "spans": [
         |$spanJson
         |  ]
         |}
         |""".stripMargin
    Files.write(out, text.getBytes(UTF_8))
  }
}
