package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Engine totals per Spark job group, from task-end events. Registered only
  * for traced passes, so untraced runs carry no listener. */
final class EngineListener extends SparkListener {
  final class Agg {
    var jobs, tasks = 0L
    var runMs, cpuNs, gcMs, shuffleWrite, bytesRead, bytesWritten, diskSpill = 0L
    val taskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]() // per stage
  }
  private val stageGroup = mutable.Map[Int, String]()
  val groups = mutable.LinkedHashMap[String, Agg]()

  private def agg(g: String) = groups.getOrElseUpdate(g, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    agg(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = agg(stageGroup.getOrElse(e.stageId, "none"))
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.bytesRead += m.inputMetrics.bytesRead
      a.bytesWritten += m.outputMetrics.bytesWritten
      a.diskSpill += m.diskBytesSpilled
      a.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += m.executorRunTime
    }
  }

  def group(g: String): Agg = synchronized(groups.getOrElse(g, new Agg))

  /** Sum over the jobs that ran inside a span (those with a job group). */
  def total(): Agg = synchronized {
    val t = new Agg
    for ((g, a) <- groups if g != "none") {
      t.jobs += a.jobs; t.tasks += a.tasks; t.runMs += a.runMs; t.cpuNs += a.cpuNs
      t.gcMs += a.gcMs; t.shuffleWrite += a.shuffleWrite; t.bytesRead += a.bytesRead
      t.bytesWritten += a.bytesWritten; t.diskSpill += a.diskSpill
    }
    t
  }

  /** Max task time ÷ median task time, on the group's stage with the most
    * task time (the stage that sets the layer's wall time). */
  def skew(g: String): Double = synchronized {
    groups.get(g).flatMap(_.taskMs.values.filter(_.length >= 2).maxByOption(_.sum)) match {
      case Some(ts) =>
        val s = ts.sorted
        val med = Stats.quantile(s.map(_.toDouble).toIndexedSeq, 0.5)
        if (med > 0) s.last / med else 0.0
      case None => 0.0
    }
  }
}

/** Spans around the benchmark's calls into graft's layers.
  *
  * With `on`, each `layer` call tags its Spark jobs with a job group named
  * after the layer, and `stage` also materializes the layer's output at the
  * boundary (persist + count) so the span holds that layer's work alone.
  * Without `on`, both are transparent and nothing is materialized. Spans are
  * kept in memory and written out once, when the run ends.
  */
final class Tracer(val on: Boolean, spark: SparkSession, runId: String) {
  import Tracer.Rec
  val recs = mutable.ArrayBuffer[Rec]()
  private var stack: List[String] = Nil
  private val held = mutable.ArrayBuffer[Dataset[_]]()
  /** Rows at each materialized boundary. */
  val counts = mutable.Map[String, Long]()

  def span[T](name: String)(body: => T): T = if (!on) body else {
    val sc = spark.sparkContext
    val parent = stack.headOption.getOrElse("")
    stack = name :: stack
    sc.setJobGroup(name, name)
    val t0 = System.nanoTime()
    try body
    finally {
      recs += Rec(name, t0, System.nanoTime(), parent)
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p, p)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** A layer whose output is a Dataset: materialized at the boundary when on. */
  def stage[T](name: String)(ds: => Dataset[T]): Dataset[T] =
    if (!on) ds
    else span(name) {
      val d = ds.persist(StorageLevel.MEMORY_AND_DISK)
      counts(name) = d.count()
      held += d
      d
    }

  def release(): Unit = { held.foreach(_.unpersist(blocking = true)); held.clear() }

  /** Total duration of the spans named `name`. */
  def busy(name: String): Double = recs.filter(_.name == name).map(r => (r.endNs - r.startNs) / 1e9).sum

  /** Span duration minus the part its direct children cover. */
  def self(r: Rec): Double = {
    val kids = recs.filter(k => k.parent == r.name && k.startNs >= r.startNs && k.endNs <= r.endNs)
    (r.endNs - r.startNs - kids.map(k => k.endNs - k.startNs).sum) / 1e9
  }

  /** Root span's wall time minus the self times of its descendants. */
  def unaccounted(root: String): Double = {
    val r = recs.find(_.name == root).getOrElse(return 0.0)
    val inner = recs.filter(k => k.name != root && k.startNs >= r.startNs && k.endNs <= r.endNs)
    (r.endNs - r.startNs) / 1e9 - inner.map(self).sum
  }

  def write(path: Path): Unit = if (on) {
    Files.createDirectories(path.getParent)
    val lines = recs.map(r => Json.obj(Seq("name" -> r.name, "start_ns" -> r.startNs,
      "end_ns" -> r.endNs, "parent" -> r.parent, "run" -> runId)))
    Files.write(path, (lines.mkString("\n") + "\n").getBytes(UTF_8))
  }
}

object Tracer {
  final case class Rec(name: String, startNs: Long, endNs: Long, parent: String)
}
