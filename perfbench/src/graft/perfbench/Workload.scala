package graft.perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

/** Result of one closed-loop operation. `throughput` is work units per
  * second of the operation's first phase; `secondPhaseS` is the wall time
  * of its second phase. `problems` lists failed correctness checks. */
final case class OpResult(opS: Double, throughput: Double, secondPhaseS: Double,
                          problems: Seq[String])

/** Everything a workload needs from the run. */
final class RunContext(val spark: SparkSession, val seed: Long, val smoke: Boolean,
                       val work: Path, val tracer: Tracer, val runtime: RuntimeListener,
                       val expectedDir: Path, val record: Boolean)

trait Workload {
  def name: String
  /** Untimed-in-the-loop set-up steps, in order: make the inputs under
    * `dir` (repeatable), then load them and derive the expected answers. */
  def generate(dir: Path): Unit
  def prepare(dir: Path): Unit
  def warmupOps: Int
  /** Called once between warm-up and the measured loop. */
  def beginMeasure(): Unit = ()
  /** One operation. With `traced` the layer calls record spans. */
  def operation(index: Int, traced: Boolean): OpResult
  /** Per-layer metrics this workload measures besides spans and runtime
    * counters, and failed checks; only asked for in traced runs, after the
    * measured loop. */
  def layerMetrics(): (Map[String, Double], Seq[String])
}
