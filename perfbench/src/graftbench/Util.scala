package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

object Stats {
  /** Linear-interpolated quantile of ascending-sorted `xs` (q in [0, 1]). */
  def quantile(xs: IndexedSeq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val pos = q * (xs.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, xs.length - 1)
      xs(lo) + (xs(hi) - xs(lo)) * (pos - lo)
    }
  def median(xs: Iterable[Double]): Double = quantile(xs.toIndexedSeq.sorted, 0.5)
}

object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case m: collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}

/** What one run reports: the operations attempted and failed, the metrics
  * (name → value, unit), diagnostics, and the failed checks. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val diag = mutable.LinkedHashMap[String, Any]()
  val checkFailures = mutable.ArrayBuffer[String]()
  val faults = mutable.LinkedHashMap[String, Long]()

  def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    if (!ok) checkFailures += s"$name: $detail"
}

/** Host diagnostics recorded with every run; never used to discard runs. */
object Host {
  /** Total steal jiffies from the aggregate cpu line of /proc/stat. */
  def steal(): Long =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat"), UTF_8).asScala.head.trim.split("\\s+")
      if (f.length > 8) f(8).toLong else 0L
    } catch { case _: Exception => 0L }

  /** Seconds for a fixed integer loop; a slower host reads higher. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 0x1234567L
    var i = 0
    while (i < 100000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val s = (System.nanoTime() - t0) / 1e9
    if (x == 42L) println("") // keep the loop live
    s
  }

  /** Heap in use after full GCs; the pause lets Spark's ContextCleaner drop
    * what the first GC made unreachable before the second one runs. */
  def liveHeapMb(): Double = {
    System.gc(); Thread.sleep(300); System.gc(); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def cores: Int = Runtime.getRuntime.availableProcessors

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally st.close()
  }
}

object Session {
  /** The one session shape every run uses, graft.Bench's local shape:
    * `cores` task threads (never more than the host's) and as many shuffle
    * partitions, no UI; scratch space inside the build dir. */
  def build(cores: Int, build: Path): SparkSession = {
    val local = build.resolve("spark-local")
    Files.createDirectories(local)
    val s = SparkSession.builder()
      .appName("graftbench")
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", build.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", local.resolve("hadoop").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Parquet files of one schema, written without a SparkSession, so the JVM
  * that generates inputs starts in about a second. */
final class Parquet(schemaText: String) {
  import org.apache.parquet.example.data.Group
  import org.apache.parquet.example.data.simple.SimpleGroupFactory
  import org.apache.parquet.hadoop.example.ExampleParquetWriter
  import org.apache.parquet.hadoop.metadata.CompressionCodecName
  import org.apache.parquet.io.LocalOutputFile
  import org.apache.parquet.schema.MessageTypeParser

  private val schema = MessageTypeParser.parseMessageType(schemaText)
  private val factory = new SimpleGroupFactory(schema)

  def row(): Group = factory.newGroup()

  /** Writes each part's rows to a file of its own in a new directory `dir`,
    * once: the directory appears by a rename when every file is written. */
  def writeOnce(dir: Path, parts: Seq[Iterator[Group]]): Unit = if (!Files.exists(dir)) {
    val tmp = dir.resolveSibling(dir.getFileName.toString + ".tmp")
    Host.deleteTree(tmp)
    Files.createDirectories(tmp)
    for ((rows, i) <- parts.zipWithIndex) {
      val w = ExampleParquetWriter.builder(new LocalOutputFile(tmp.resolve(f"part-$i%05d.parquet")))
        .withType(schema).withCompressionCodec(CompressionCodecName.SNAPPY).build()
      try rows.foreach(w.write) finally w.close()
    }
    Files.move(tmp, dir)
  }
}
