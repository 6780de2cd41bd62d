package graftbench

import java.nio.file.Path
import org.apache.spark.sql.SparkSession

/** What a run knows: its seed and length, where inputs are cached and
  * scratch output goes, and how many task threads the session has. */
final case class Ctx(workload: String, seed: Long, seconds: Double, trace: Boolean,
    build: Path, cores: Int, runId: String) {
  val data: Path = build.resolve("data")
  val work: Path = build.resolve("work").resolve(s"$workload-$runId")
}

trait Workload {
  /** Whether this seed's inputs are already on disk. */
  def inputsReady: Boolean
  /** Write the seeded inputs once per (seed, size), without Spark; never timed. */
  def prepare(): Unit
  /** Read and register the inputs: the part of set-up a user pays. */
  def register(spark: SparkSession): Unit
  /** The untraced measured run: end-to-end metrics, attempts, checks. */
  def measure(spark: SparkSession, res: Result): Unit
  /** The traced run: per-layer metrics, attempts, checks. May replace the
    * session (the scaling pass needs a one-thread session); returns the
    * session that is live at the end. */
  def traced(spark: SparkSession, res: Result): SparkSession
}
