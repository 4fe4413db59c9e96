package perfbench

import java.nio.file.Path
import graft.pipeline.Pipeline
import org.apache.spark.sql.SparkSession

/** Properties of one generated input, printed with every result. */
final case class InputProps(rows: Long, bytes: Long, props: Seq[(String, Any)])

/** A seeded workload: it writes its input files, then opens a runner that
  * performs ops against them and checks each op's output against the
  * workload's own reference. */
trait Workload {
  def name: String
  /** Writes the input for `seed` under `in`. */
  def generate(in: Path, seed: Long): InputProps
  /** Input rows one op consumes (events, for a stream op). */
  def opRows: Long
  /** Warm ops run after the first op and before the measured ones; their
    * times are dropped, so measurement starts past most of JIT warm-up. */
  def warmupOps: Int
  /** Warm op time the op count is sized with (4-vCPU reference box). */
  def nominalOpS: Double
  /** Ops measured in a run of `seconds`: a count fixed by the arguments
    * alone, never by how fast the ops go, so two commits time the same ops. */
  def measuredOps(seconds: Double): Int = math.max(3, math.round(seconds / nominalOpS).toInt)
  /** Opens a runner over the input `generate` wrote for `seed`. */
  def open(spark: SparkSession, in: Path, work: Path, seed: Long): Runner
}

trait Runner {
  /** Performs op `i`, writing any output under `out`. */
  def run(i: Int, out: Path): Unit
  /** Compares op `i`'s output with the reference; None when it matches. */
  def check(i: Int, out: Path): Option[String]
  /** Ops the generated input supports. */
  def maxOps: Int = Int.MaxValue
  def close(): Unit = ()
}

/** Runner for workloads whose op is one `Pipeline.run` of a config. */
final class PipelineRunner(spark: SparkSession, val config: Path => String,
                           checkOut: Path => Option[String]) extends Runner {
  def run(i: Int, out: Path): Unit = Pipeline.run(spark, config(out))
  def check(i: Int, out: Path): Option[String] = checkOut(out)
}

object Workloads {
  val all: Seq[Workload] = Seq(EtlJsonl, CorpusCuration, EventStreamWorkload)
  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))
}
