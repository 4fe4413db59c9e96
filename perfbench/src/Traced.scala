package perfbench

import java.nio.file.Path
import graft.pipeline.Pipeline
import graft.pipeline.Pipeline._
import org.apache.spark.perfbench.Drain
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** The traced run's per-layer decomposition. Each round runs one traced op
  * (spans around the benchmark's calls into `Pipeline.parse` and
  * `Pipeline.run`, plus the engine counters of the op's Spark jobs), then
  * probes `Connector.load` and `Pipeline.compilePattern` on their own, then
  * runs every step prefix of the config followed by a noop-sink write of
  * the returned ok flow: a step's marginal cost is prefix k minus prefix k-1.
  * Untraced ops interleave with the rounds, so tracing overhead is the
  * difference of the two medians within one run. */
final class Traced(spark: SparkSession, runner: Runner, wl: Workload, a: Main.Args,
                   out: Int => Path) {
  private val sc = spark.sparkContext
  private val counters = new SparkCounters
  private val tracer = new Tracer
  private val traced = mutable.ArrayBuffer.empty[Double]
  /** Per-layer samples, one per round. */
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var heapPeakMb = 0.0
  def tracedOps: Int = traced.size
  private def sample(k: String, v: Double): Unit =
    samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def layerOf(s: Step): String = s match {
    case _: Reader => "sources.read_ms"
    case _: Writer => "sources.write_ms"
    case _: Referential | _: Transformer | _: Validator => "functions.eval_ms"
    case _: DedupStep => "operators.dedup_ms"
    case _: ScrubStep => "operators.scrub_ms"
    case _: TokenBudgetStep => "operators.budget_ms"
    case _: SplitStep => "operators.split_ms"
    case _: ChunkStep => "operators.chunk_ms"
    case other => "pipeline.unclassified_ms." + other.getClass.getSimpleName
  }

  /** Traced op `i` and, for pipeline workloads, the probes and prefix runs.
    * Returns the traced op's outcome; a failing prefix run fails it too. */
  def round(i: Int, timedOp: (Int, () => Unit) => Harness.Attempt): Harness.Attempt = {
    sc.addSparkListener(counters)
    try {
      tracer.op = i
      var window: counters.Window = null
      var gcMs = 0L
      val body: () => Unit = () => {
        counters.reset()
        val gc0 = Jvm.gcMs
        tracer.span("op") {
          runner match {
            case p: PipelineRunner =>
              val parsed = tracer.span("pipeline.parse")(Pipeline.parse(p.config(out(i))))
              tracer.span("pipeline.run")(Pipeline.run(spark, parsed))
            case r => tracer.span("streaming.op")(r.run(i, out(i)))
          }
        }
        Drain(sc)
        gcMs = Jvm.gcMs - gc0
        window = counters.reset()
      }
      val result = timedOp(i, body)
      heapPeakMb = math.max(heapPeakMb, Jvm.heapAfterGcMb)
      result.foreach { seconds =>
        traced += seconds
        tracer.addJobs(window.jobSpans.toSeq)
        val opSpan = tracer.spans.filter(s => s.op == i && s.name == "op").last
        val jobs = window.jobSpans.map { case (_, s, e) => (s, e) }.toSeq
        sample("pipeline.parse_ms", tracer.spans.filter(s => s.op == i && s.name == "pipeline.parse").map(_.ms).sum)
        sample("pipeline.driver_ms", Tracer.uncoveredMs(opSpan.start, opSpan.end, jobs))
        sample("sources.scan_ratio", window.recordsRead.toDouble / wl.opRows)
        sample("spark.jobs", window.jobs)
        sample("spark.stages", window.stages)
        sample("spark.tasks", window.tasks)
        sample("spark.task_ms", window.taskMs.toDouble)
        sample("spark.busy_share", window.taskMs / (opSpan.ms * sc.defaultParallelism))
        sample("spark.task_skew", window.taskSkew)
        sample("spark.shuffle_bytes", window.shuffleBytes.toDouble)
        sample("spark.spill_bytes", window.spillBytes.toDouble)
        sample("spark.gc_ms", gcMs.toDouble)
        runner match {
          case s: EventStreamWorkload.StreamRunner => streamSamples(s)
          case _ =>
        }
      }
      runner match {
        case p: PipelineRunner if result.isRight => decompose(i, p)
        case _ => result
      }
    } finally sc.removeSparkListener(counters)
  }

  private def streamSamples(s: EventStreamWorkload.StreamRunner): Unit = {
    def dur(k: String) = s.progress.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
    val ops = s.progress.flatMap(_.stateOperators)
    sample("streaming.trigger_ms", dur("triggerExecution"))
    sample("streaming.add_batch_ms", dur("addBatch"))
    sample("streaming.planning_ms", dur("queryPlanning"))
    sample("streaming.wal_commit_ms", dur("walCommit"))
    sample("streaming.state_rows", ops.map(_.numRowsTotal.toDouble).sum)
    sample("streaming.state_bytes", ops.map(_.memoryUsedBytes.toDouble).sum)
    sample("streaming.state_commit_ms", ops.map(_.commitTimeMs.toDouble).sum)
  }

  private def decompose(i: Int, p: PipelineRunner): Harness.Attempt =
    try {
      val probeOut = out(i).resolveSibling(s"probe-$i")
      tracer.span("probes") {
        Pipeline.parse(p.config(probeOut)).steps.foreach {
          case Reader(_, conn, _, _) => tracer.span("sources.load")(conn.load(spark))
          case t: Transformer => t.actions.flatMap(_.pattern).foreach(pt =>
            tracer.span("functions.compile")(Pipeline.compilePattern(pt)))
          case v: Validator => v.rules.foreach(r =>
            tracer.span("functions.compile")(Pipeline.compileBoolPattern(r.pattern)))
          case _ =>
        }
      }
      def probeMs(name: String) = tracer.spans.filter(s => s.op == i && s.name == name).map(_.ms).sum
      sample("sources.load_ms", probeMs("sources.load"))
      sample("functions.compile_ms", probeMs("functions.compile"))
      val marginal = mutable.LinkedHashMap.empty[String, Double]
      val steps = Pipeline.parse(p.config(probeOut)).steps
      var prevMs = 0.0
      for (k <- 1 to steps.size) {
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        // every prefix drains the same single frame, so prefix k scans the
        // input as often as prefix k-1 plus what step k itself adds (the
        // writers' own scans)
        tracer.span(s"prefix.$k")(Pipeline.run(spark, Parsed(steps.take(k))).ok.foreach(noop))
        val ms = (System.nanoTime() - t0) / 1e6
        val layer = layerOf(steps(k - 1))
        marginal(layer) = marginal.getOrElse(layer, 0.0) + ms - prevMs
        prevMs = ms
        Inputs.deleteTree(probeOut)
      }
      marginal.foreach { case (k, v) => sample(k, v) }
      spark.catalog.clearCache()
      Right(traced.last)
    } catch { case t: Throwable => Left("traced prefix run threw: " + Harness.describe(t)) }

  /** Per-layer metrics: the median over rounds of each sample, 0 for a
    * layer this workload does not exercise. Also writes the spans. */
  def metrics(untraced: Seq[Double], persistedMax: Double): ListMap[String, (Double, String)] = {
    def med(k: String) = samples.get(k).map(Harness.median(_)).getOrElse(0.0)
    val out = ListMap.newBuilder[String, (Double, String)]
    Metrics.perLayer.foreach { case (k, unit) =>
      val v = k match {
        case "jvm.heap_peak_mb" => heapPeakMb
        case "spark.persisted_rdds_left" => persistedMax
        case "spark.drift_ratio" => Harness.driftRatio(untraced)
        case "trace.overhead_ms" => (Harness.median(traced) - Harness.median(untraced)) * 1000
        case "trace.run_ms_p50" => Harness.median(traced) * 1000
        case "trace.untraced_run_ms_p50" => Harness.median(untraced) * 1000
        case _ => med(k)
      }
      out += k -> (v, unit)
    }
    val m = out.result()
    val file = a.root.resolve(".bench_build/trace").resolve(s"${wl.name}-seed${a.seed}.json")
    Json.writeFile(file, ListMap("workload" -> wl.name, "seed" -> a.seed, "commit" -> a.commit,
      "cores" -> Runtime.getRuntime.availableProcessors,
      "metrics" -> m.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) },
      "samples" -> samples.map { case (k, v) => k -> v.toSeq },
      "spans" -> tracer.spans.sortBy(_.start).map(s => ListMap("id" -> s.id, "parent" -> s.parent,
        "op" -> s.op, "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end,
        "self_ms" -> tracer.selfMs(s)))))
    println(s"# spans written to ${a.root.relativize(file)}")
    m
  }
}

/** Names and units of the per-layer metrics, in BENCHMARK.json order. */
object Metrics {
  val perLayer: Seq[(String, String)] = Seq(
    "pipeline.parse_ms" -> "ms", "pipeline.driver_ms" -> "ms",
    "sources.load_ms" -> "ms", "sources.read_ms" -> "ms", "sources.write_ms" -> "ms",
    "sources.scan_ratio" -> "ratio",
    "functions.compile_ms" -> "ms", "functions.eval_ms" -> "ms",
    "operators.dedup_ms" -> "ms", "operators.scrub_ms" -> "ms", "operators.budget_ms" -> "ms",
    "operators.split_ms" -> "ms", "operators.chunk_ms" -> "ms",
    "streaming.trigger_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.planning_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.state_rows" -> "count", "streaming.state_bytes" -> "bytes",
    "streaming.state_commit_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_ms" -> "ms", "spark.busy_share" -> "ratio", "spark.task_skew" -> "ratio",
    "spark.shuffle_bytes" -> "bytes", "spark.spill_bytes" -> "bytes", "spark.gc_ms" -> "ms",
    "jvm.heap_peak_mb" -> "MB", "spark.persisted_rdds_left" -> "count",
    "spark.drift_ratio" -> "ratio",
    "trace.overhead_ms" -> "ms", "trace.run_ms_p50" -> "ms", "trace.untraced_run_ms_p50" -> "ms")
}
