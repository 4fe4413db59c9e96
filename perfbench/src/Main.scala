package perfbench

import java.nio.file.{Files, Path, Paths}
import graft.GraftSession
import org.apache.spark.sql.SparkSession
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** One benchmark run: generate a workload's seeded input, build the session,
  * run the first op and then warm ops in a closed loop for `--seconds`,
  * check every op's output, and print one JSON result as the last stdout
  * line. `--trace 1` adds the per-layer decomposition of [[Traced]]. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        root: Path, commit: String)

  /** Session builds per run; setup_s is their median. */
  val setupBuilds = 5
  /** Rounds of a traced run. */
  val tracedRounds = 3

  def main(argv: Array[String]): Unit = {
    val code = try run(parse(argv)) catch {
      case t: Throwable =>
        System.err.println("perfbench: " + Harness.describe(t))
        t.printStackTrace()
        2
    }
    System.exit(code)
  }

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("root")).toAbsolutePath, kv.getOrElse("commit", "unknown"))
  }

  def run(a: Args): Int = {
    val wl = Workloads(a.workload)
    val cores = Runtime.getRuntime.availableProcessors
    val work = a.root.resolve(".bench_build/run").resolve(s"${wl.name}-${a.seed}-${ProcessHandle.current.pid}")
    val phases = mutable.LinkedHashMap.empty[String, Double]
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases(name) = (now - mark) / 1e9
      mark = now
    }
    Inputs.deleteTree(work)
    val in = work.resolve("in")
    val props = wl.generate(in, a.seed)
    val ctx = ListMap[String, Any]("workload" -> wl.name, "seed" -> a.seed, "cores" -> cores,
      "commit" -> a.commit, "trace" -> a.trace, "input_rows" -> props.rows,
      "input_bytes" -> props.bytes) ++ props.props

    phase("generate")
    val builds = (1 to setupBuilds).map { k =>
      val t0 = System.nanoTime()
      val s = GraftSession.create(s"local[$cores]")
      val dt = (System.nanoTime() - t0) / 1e9
      if (k < setupBuilds) {
        s.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      (dt, s)
    }
    val spark = builds.last._2
    spark.sparkContext.setLogLevel("ERROR")
    phase("setup")
    val runner = wl.open(spark, in, work, a.seed)
    phase("reference")
    val sc = spark.sparkContext
    val persistedLeft = mutable.ArrayBuffer.empty[Double]
    def out(i: Int) = work.resolve(s"out-$i")
    /** Between ops: note the cached RDDs the op left, then clear them as
      * Pipeline.run's doc asks long-lived sessions to do. */
    def settle(i: Int): Unit = {
      persistedLeft += sc.getPersistentRDDs.size.toDouble
      spark.catalog.clearCache()
      Inputs.deleteTree(out(i))
    }
    /** Op `i` timed and checked; `body` replaces the plain run for traced ops. */
    def op(i: Int, body: () => Unit): Harness.Attempt = {
      val r = Harness.attempt(body, () => runner.check(i, out(i)))
      settle(i)
      r
    }
    def plain(i: Int): Harness.Attempt = op(i, () => runner.run(i, out(i)))

    val tally = new Harness.Tally
    val first = tally.add(plain(0))
    phase("first op")
    val layer = if (a.trace) Some(new Traced(spark, runner, wl, a, out)) else None
    // the ops each run times are fixed by the arguments: op 0, then
    // `warmupOps` ops whose times are dropped, then the measured ops (or
    // traced rounds of an untraced and a traced op); only the time limit
    // stops the loop early
    val rounds = if (a.trace) tracedRounds else wl.measuredOps(a.seconds)
    val opsPerRound = if (a.trace) 2 else 1
    val planned = 1 + wl.warmupOps + rounds * opsPerRound
    require(planned <= runner.maxOps, s"${wl.name} needs $planned ops, its input holds ${runner.maxOps}")
    // a traced corpus_curation round takes ~35 s: 5 x 14 s keeps a traced
    // run inside the 180 s a run may take
    val limitS = a.seconds * (if (a.trace) 5 else 3)
    val t0 = System.nanoTime()
    var next = 1
    Harness.closedLoop(wl.warmupOps, limitS, t0) { () => tally.add(plain(next)); next += 1 }
    val warm = mutable.ArrayBuffer.empty[Double]
    val ran = Harness.closedLoop(rounds, limitS, t0) { () =>
      tally.add(plain(next)).foreach(warm += _)
      layer.foreach(l => tally.add(l.round(next + 1, op)))
      next += opsPerRound
    }
    runner.close()
    phase("ops")

    val report = mutable.ArrayBuffer.empty[String]
    report += "# context " + Json.write(ctx)
    if (ran < rounds) report += s"# stopped at the ${limitS.toInt} s time limit after $ran of $rounds rounds"
    tally.failures.foreach(f => report += "# FAILED op: " + f)
    val metrics: Option[ListMap[String, (Double, String)]] =
      if (first.isLeft || warm.isEmpty || layer.exists(_.tracedOps == 0)) None
      else if (a.trace) Some(layer.get.metrics(warm.toSeq, persistedLeft.max))
      else {
        val p50 = Harness.median(warm)
        Some(ListMap(
          "setup_s" -> (Harness.median(builds.map(_._1)), "s"),
          "first_run_s" -> (first.toOption.get, "s"),
          "run_s_p50" -> (p50, "s"),
          "rows_per_s" -> (wl.opRows / p50, "rows/s"),
          "ok_ratio" -> (tally.okRatio, "ratio")))
      }
    if (!a.trace && warm.nonEmpty) {
      report += f"# run_s_p90 ${Harness.quantile(warm, 0.9)}%.4f s over ${warm.size} warm ops" +
        (if (warm.size >= 100) "" else " (fewer than 10 samples beyond p90: indicative only)") +
        s" (ops ${1 + wl.warmupOps}-${next - 1}; ops 1-${wl.warmupOps} were warm-up)"
      report += f"# cold setup ${builds.head._1}%.4f s (the first session build)"
      report += "# setup builds s: " + builds.map(b => f"${b._1}%.3f").mkString(", ")
      report += "# warm ops s: " + warm.map(t => f"$t%.3f").mkString(", ")
    }
    spark.stop()
    Inputs.deleteTree(work)
    phase("stop")
    report += "# run phases s: " + phases.map { case (k, v) => f"$k $v%.2f" }.mkString(", ")
    report.foreach(println)
    metrics match {
      case None =>
        System.err.println("perfbench: no successful first, warm or traced op; no result")
        1
      case Some(m) =>
        m.foreach { case (k, (v, u)) => println(f"# $k%-28s $v%.6f $u") }
        println(Json.write(ListMap(
          "correct" -> tally.failures.isEmpty, "attempted" -> tally.attempted,
          "failed" -> tally.failures.size,
          "metrics" -> m.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) })))
        0
    }
  }
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
  def writeFile(p: Path, v: Any): Unit = {
    Files.createDirectories(p.getParent)
    mapper.writerWithDefaultPrettyPrinter().writeValue(p.toFile, v)
  }
}
