package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}
import graft.conll.{DocGen, InputDoc, Pipeline}
import graft.streaming.StreamingPipeline
import graft.streaming.StreamingPipeline.SpanFrag

/** stream_ingest: span fragments land as JSON-lines files in a watched
  * directory on a fixed open-loop schedule (some documents split across
  * consecutive files), go through StreamingPipeline.assembleDocs (keyed
  * state, positive timeout), parse and the analyze cascade, into graft's
  * exactly-once parquet file sink. After the schedule, fixed backlogs are
  * dropped at once and drained. */
final class StreamIngest(ctx: Ctx) extends Workload {
  val rate = 20.0 // files per second, open loop
  val docsPerFile = 1
  val splitPct = 25
  val warmFiles = 6 // delivered before the query starts: the cold batch
  val leadFiles = 40 // the schedule's first 2 s, not sampled: JIT and state warm up
  val schedFiles: Int = math.max(1, math.round(rate * ctx.seconds).toInt)
  val measStart: Int = warmFiles + leadFiles
  val schedEnd: Int = measStart + schedFiles
  /** Files per backlog. The first warms the engine up for backlogs and is
    * not reported; each reported one is drained in one batch of several
    * seconds, so a drain rate is not one short window of a noisy host. */
  val backlogs: Seq[Int] = Seq(100, 250, 250, 250)
  /** The drain run with the trace listeners attached in a traced run: the
    * middle one of the reported three, so what warm-up is left weighs on
    * both sides alike. */
  val tracedDrains = Set(2)
  val vocab = 20000
  val zipfS = 1.1
  val timeoutMs = 60000L
  val triggerMs = 100L
  /** First file of each backlog, then the end of the last. */
  val drainFrom: Seq[Int] = backlogs.scanLeft(schedEnd)(_ + _)
  val drains: Int = backlogs.length
  val groupEnds: Seq[Int] = warmFiles +: drainFrom
  val totalFiles: Int = groupEnds.last
  val layout = Gen.StreamLayout(ctx.seed, docsPerFile, splitPct, groupEnds, vocab, zipfS)
  val staging: Path = ctx.data.resolve(
    s"stream-s${ctx.seed}-f$totalFiles-w$warmFiles-l$leadFiles-b${backlogs.mkString("_")}-d$docsPerFile-p$splitPct-v$vocab")
  val watch: Path = ctx.work.resolve("in")
  val out: Path = ctx.work.resolve("out")
  val cp: Path = ctx.work.resolve("cp")

  private var frags: Dataset[SpanFrag] = _

  /** Writes every file's fragments as JSON lines, once per (seed, size). */
  def inputsReady: Boolean = Files.exists(staging)

  def prepare(): Unit = if (!inputsReady) {
    val tmp = staging.resolveSibling(staging.getFileName.toString + ".tmp")
    Host.deleteTree(tmp)
    Files.createDirectories(tmp)
    val z = new Gen.Zipf(vocab, zipfS)
    for (f <- 0 until totalFiles) {
      val lines = Gen.fileFrags(layout, z, f).map { case (d, k, t, m, o) =>
        Json.obj(Seq("doc_id" -> d, "kind" -> k, "text" -> t, "media_ref" -> m, "offset" -> o))
      }
      Files.write(tmp.resolve(f"f$f%05d.json"), (lines.mkString("\n") + "\n").getBytes(UTF_8))
    }
    Files.move(tmp, staging)
  }

  def register(spark: SparkSession): Unit = {
    import spark.implicits._
    Files.createDirectories(watch)
    frags = spark.readStream.schema(Encoders.product[SpanFrag].schema)
      .json(watch.toString).as[SpanFrag]
    spark.conf.set("spark.sql.shuffle.partitions",
      StreamingPipeline.adaptiveStateWidth(spark, staging.toString).toString)
  }

  private var lastMtime = 0L

  /** Copy staged file `f` into the watched dir under a hidden name. */
  private def stage(f: Int): Unit =
    Files.copy(staging.resolve(f"f$f%05d.json"), watch.resolve(f".f$f%05d.tmp"),
      StandardCopyOption.REPLACE_EXISTING)

  /** Rename staged file `f` into view; returns the epoch-ms time it became
    * visible. Modification times strictly increase with the file index, so
    * a source that orders files by time (maxFilesPerTrigger) sees arrival
    * order. */
  private def reveal(f: Int): Double = {
    val tmp = watch.resolve(f".f$f%05d.tmp")
    lastMtime = math.max(System.currentTimeMillis(), lastMtime + 1)
    Files.setLastModifiedTime(tmp, java.nio.file.attribute.FileTime.fromMillis(lastMtime))
    Files.move(tmp, watch.resolve(f"f$f%05d.json"), StandardCopyOption.ATOMIC_MOVE)
    System.currentTimeMillis().toDouble
  }

  private def deliver(f: Int): Double = { stage(f); reveal(f) }

  private def commitMs(batch: Long): Double =
    Files.getLastModifiedTime(cp.resolve("commits").resolve(batch.toString))
      .to(java.util.concurrent.TimeUnit.MICROSECONDS) / 1e3

  private final class Progress extends StreamingQueryListener {
    val all = mutable.ArrayBuffer[StreamingQueryProgress]()
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized(all += e.progress)
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Counts the input rows of committed batches. processAllAvailable cannot
    * be used: the processing-time timeout keeps no-data batches running, so
    * the query never reports itself idle. */
  private final class Committed extends StreamingQueryListener {
    @volatile var rows = 0L
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized(rows += e.progress.numInputRows)
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def await(q: StreamingQuery, target: Long): Unit = {
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (rows < target) {
        q.exception.foreach(e => throw e)
        require(System.nanoTime() < deadline, s"stream did not commit $target input rows in 120 s")
        Thread.sleep(10)
      }
    }
  }

  def measure(spark: SparkSession, res: Result): Unit = run(spark, res, traced = false)

  def traced(spark: SparkSession, res: Result): SparkSession = { run(spark, res, traced = true); spark }

  private def run(spark: SparkSession, res: Result, traced: Boolean): Unit = {
    val engine = new EngineListener
    val progress = new Progress
    var attached = false
    def attach(on: Boolean): Unit = if (traced && on != attached) {
      org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
      if (on) { spark.sparkContext.addSparkListener(engine); spark.streams.addListener(progress) }
      else { spark.sparkContext.removeSparkListener(engine); spark.streams.removeListener(progress) }
      attached = on
    }
    val docs = StreamingPipeline.assembleDocs(frags, timeoutMs)
    val metrics = if (traced) Some(Pipeline.newMetrics(spark, Pipeline.analyzeCascade)) else None
    val triples = Pipeline.rewriteTriples(Pipeline.parse(docs, DocGen.columns), Pipeline.analyzeCascade,
      metrics)

    val committed = new Committed
    spark.streams.addListener(committed)
    val fileRows = {
      val z = new Gen.Zipf(vocab, zipfS)
      (0 until totalFiles).map(f => Gen.fileFrags(layout, z, f).length.toLong).scan(0L)(_ + _)
    }
    val delivered = new Array[Double](totalFiles)
    val due = new Array[Double](totalFiles)
    for (f <- 0 until warmFiles) { delivered(f) = deliver(f); due(f) = delivered(f) }
    attach(true)
    val tStart = System.currentTimeMillis().toDouble
    val q = triples.writeStream.format("parquet")
      .option("path", out.toString).option("checkpointLocation", cp.toString)
      .outputMode("append").trigger(Trigger.ProcessingTime(triggerMs)).start()
    try {
      committed.await(q, fileRows(warmFiles))
      val cold = commitMs(0) - tStart
      val firstSched = q.lastProgress.batchId

      // open-loop schedule: file k is due at t0 + k / rate, whatever the engine does
      val t0 = System.currentTimeMillis() + 100.0
      val gen = new Thread(() => {
        for (i <- 0 until leadFiles + schedFiles) {
          val f = warmFiles + i
          due(f) = t0 + i * 1000.0 / rate
          val wait = (due(f) - System.currentTimeMillis()).toLong
          if (wait > 0) Thread.sleep(wait)
          delivered(f) = deliver(f)
        }
      }, "graftbench-generator")
      gen.start()
      gen.join()
      committed.await(q, fileRows(schedEnd))
      val schedDone = System.currentTimeMillis().toDouble
      val lastSched = q.lastProgress.batchId

      val drainStart = new Array[Double](drains)
      for (d <- 0 until drains) {
        attach(tracedDrains(d))
        val (from, to) = (drainFrom(d), drainFrom(d + 1))
        // copied first and renamed into view together, so the backlog lands
        // within one listing of the source rather than across two batches
        (from until to).foreach(stage)
        drainStart(d) = System.currentTimeMillis().toDouble
        for (f <- from until to) { delivered(f) = reveal(f); due(f) = drainStart(d) }
        committed.await(q, fileRows(to))
      }
      res.put("live_heap_mb", Host.liveHeapMb(), "MB")
      attach(false)
      val endProgress = q.lastProgress
      q.stop()
      spark.streams.removeListener(committed)
      res.attempted = totalFiles

      val a0 = System.nanoTime()
      val a = analyse(spark, res, due, delivered)
      res.diag("analyse_s") = (System.nanoTime() - a0) / 1e9
      val sched = (measStart until schedEnd).flatMap(a.fileDone.get)
        .map(_._2).sorted.toIndexedSeq
      val drainRates = (0 until drains).map { d =>
        val files = drainFrom(d) until drainFrom(d + 1)
        val done = files.flatMap(a.fileDone.get).map(_._1).max
        val n = files.flatMap(f => layout.docsOf(f)).map(id => a.triples(s"sdoc$id")).sum
        (n.toDouble, (done - drainStart(d)) / 1e3)
      }
      res.put("cold_pass_s", cold / 1e3, "s")
      res.put("triples_per_s", Stats.median(drainRates.drop(1).map(r => r._1 / r._2)), "1/s")
      // diagnostics, not metrics: across runs on a shared host the file
      // latencies spread wider than the largest bound a metric may have
      res.diag("latency_p50_s") = Stats.quantile(sched, 0.5) / 1e3
      res.diag("latency_p90_s") = Stats.quantile(sched, 0.9) / 1e3
      val late = (warmFiles until schedEnd).map(f => delivered(f) - due(f)).sorted.toIndexedSeq
      res.diag("generator_late_p50_ms") = Stats.quantile(late, 0.5)
      res.diag("generator_late_max_ms") = late.last
      res.diag("latency_samples") = sched.length
      res.diag("drain_s") = drainRates.map(_._2)
      // how far reading lags behind arrival: files visible but not yet committed
      val commits = ((firstSched + 1) to lastSched).map(commitMs)
      val lag = commits.map { t =>
        (warmFiles until schedEnd).count(f =>
          delivered(f) <= t && a.fileDone.get(f).forall(_._1 > t))
      }
      if (traced) {
        org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
        val ps = progress.synchronized(progress.all.toList)
          .filter(p => p.batchId > firstSched && p.batchId <= lastSched)
        def dur(p: StreamingQueryProgress, k: String): Double =
          Option(p.durationMs.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
        def med(k: String) = Stats.median(ps.filter(_.numInputRows > 0).map(dur(_, k)))
        res.put("stream.add_batch_s", med("addBatch"), "s")
        res.put("stream.wal_commit_s", med("walCommit"), "s")
        res.put("stream.commit_offsets_s", med("commitOffsets"), "s")
        res.put("stream.query_planning_s", med("queryPlanning"), "s")
        res.put("stream.batches", ps.count(_.numInputRows > 0).toDouble, "count")
        // cascade counters: every batch of the run, the drains included
        for (m <- metrics) {
          res.put("parse.sentences", m.sentencesIn.value.toDouble, "count")
          res.put("rewrite.triples", m.triplesOut.value.toDouble, "count")
          res.put("rewrite.busy_s", m.perScript.values.map(_._2.value / 1e9).sum, "s")
          for ((name, (it, ns)) <- m.perScript) {
            res.put(s"rewrite.$name.busy_s", ns.value / 1e9, "s")
            res.put(s"rewrite.$name.iterations", it.value.toDouble, "count")
          }
        }
        val st = endProgress.stateOperators.headOption
        res.put("stream.state_rows", st.map(_.numRowsTotal.toDouble).getOrElse(0.0), "count")
        res.put("stream.state_mb", st.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0), "MB")
        res.put("stream.backlog_files", if (lag.isEmpty) 0.0 else lag.max.toDouble, "count")
        val accounted = ps.map(p => Seq("addBatch", "walCommit", "commitOffsets", "queryPlanning",
          "getBatch", "latestOffset").map(dur(p, _)).sum).sum
        res.put("trace.unaccounted_s", (schedDone - t0) / 1e3 - accounted, "s")
        // the listeners' cost: traced drains against untraced ones of the same run
        val (on, off) = drainRates.map(_._2).zipWithIndex.drop(1).partition(d => tracedDrains(d._2))
        res.put("trace.overhead_s", on.map(_._1).sum / on.length - off.map(_._1).sum / off.length, "s")
        val all = engine.total()
        res.put("spark.executor_run_s", all.runMs / 1e3, "s")
        res.put("spark.executor_cpu_s", all.cpuNs / 1e9, "s")
        res.put("spark.gc_s", all.gcMs / 1e3, "s")
        res.put("spark.jobs", all.jobs.toDouble, "count")
        res.put("spark.tasks", all.tasks.toDouble, "count")
        res.put("spark.shuffle_write_mb", all.shuffleWrite / 1048576.0, "MB")
        val tr = new Tracer(true, spark, ctx.runId)
        for (p <- ps) {
          val s = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L
          tr.recs += Tracer.Rec(s"batch-${p.batchId}", s, s + p.durationMs.get("triggerExecution") * 1000000L, "schedule")
        }
        tr.write(ctx.build.resolve("traces").resolve(s"${ctx.workload}-${ctx.seed}-${ctx.runId}.jsonl"))
      }
      val c0 = System.nanoTime()
      checkSpans(spark, res, fileRows.last)
      res.diag("checks_s") = (System.nanoTime() - c0) / 1e9
    } finally if (q.isActive) q.stop()
  }

  /** Reads the sink back: which batch holds each document (an output file
    * belongs to the first batch committed after it was written), whether
    * any document spans batches, and each file's completion time. */
  private def analyse(spark: SparkSession, res: Result, due: Array[Double],
      delivered: Array[Double]): StreamIngest.Analysis = {
    import spark.implicits._
    val batches = Files.list(cp.resolve("commits")).iterator().asScala
      .map(_.getFileName.toString).filter(_.forall(_.isDigit)).map(_.toLong).toSeq.sorted
    val commitAt = batches.map(b => b -> commitMs(b))
    def batchOf(file: String): Long = {
      val t = Files.getLastModifiedTime(Paths.get(new java.net.URI(file)))
        .to(java.util.concurrent.TimeUnit.MICROSECONDS) / 1e3
      commitAt.find(_._2 >= t).map(_._1).getOrElse(Long.MaxValue)
    }
    val rows = spark.read.parquet(out.toString).withColumn("f", input_file_name())
      .groupBy(col("doc_id")).agg(collect_set(col("f")), count(lit(1)),
        sum(when(col("pred") === "conll:WORD", 1).otherwise(0)))
      .as[(String, Seq[String], Long, Long)].collect()
    val docBatch = rows.map(r => r._1 -> r._2.map(batchOf).toSet).toMap
    val multi = docBatch.count(_._2.size != 1)
    res.check("doc_once_per_batch", multi == 0, s"$multi documents emitted in more than one batch")
    val z = new Gen.Zipf(vocab, zipfS)
    val nDocs = totalFiles * docsPerFile
    val tokens = (0 until nDocs).map(id =>
      s"sdoc$id" -> Gen.streamDoc(layout, z, id).spans.count(_.kind == "token").toLong).toMap
    val words = rows.map(r => r._1 -> r._4).toMap
    res.check("docs_delivered", words.keySet == tokens.keySet,
      s"${words.size} documents in the sink, $nDocs delivered")
    val wrong = tokens.count { case (d, n) => !words.get(d).contains(n) }
    res.check("doc_word_triples", wrong == 0, s"$wrong documents whose WORD triples differ from their tokens")
    val commitOf = commitAt.toMap
    val ends = (0 until nDocs).groupBy(id => layout.endFile(id.toLong))
    val fileDone = ends.flatMap { case (f, ids) =>
      val bs = ids.flatMap(id => docBatch.getOrElse(s"sdoc$id", Set.empty[Long]))
      if (bs.isEmpty || !commitOf.contains(bs.max)) None
      else { val c = commitOf(bs.max); Some(f -> (c, c - due(f))) }
    }
    StreamIngest.Analysis(rows.map(r => r._1 -> r._3).toMap, fileDone)
  }

  /** Every delivered document, assembled again from the watched files by a
    * second query of the same shape (half of the files per batch, so
    * split documents cross batches), must equal the generated span
    * sequence exactly once. */
  private def checkSpans(spark: SparkSession, res: Result, rows: Long): Unit = {
    import spark.implicits._
    val chkOut = ctx.work.resolve("check-out").toString
    val src = spark.readStream.schema(Encoders.product[SpanFrag].schema)
      .option("maxFilesPerTrigger", totalFiles / 2 + 1).json(watch.toString).as[SpanFrag]
    val committed = new Committed
    spark.streams.addListener(committed)
    val q = StreamingPipeline.assembleDocs(src, timeoutMs).writeStream.format("parquet")
      .option("path", chkOut).option("checkpointLocation", ctx.work.resolve("check-cp").toString)
      .trigger(Trigger.ProcessingTime(triggerMs)).start()
    try committed.await(q, rows)
    finally { q.stop(); spark.streams.removeListener(committed) }
    val got = spark.read.parquet(chkOut).as[InputDoc].collect().groupBy(_.doc_id)
    val z = new Gen.Zipf(vocab, zipfS)
    val want = (0L until totalFiles.toLong * docsPerFile).map(id => Gen.streamDoc(layout, z, id))
    val dup = got.count(_._2.length > 1)
    val bad = want.count(w => !got.get(w.doc_id).exists(_.exists(_.spans == w.spans))) +
      (got.keySet -- want.map(_.doc_id)).size
    res.check("doc_spans", bad == 0 && dup == 0,
      s"$bad documents whose span sequence differs, $dup assembled more than once")
  }
}

object StreamIngest {
  final case class Analysis(
      triples: Map[String, Long],
      fileDone: Map[Int, (Double, Double)]) // file -> (commit ms, latency ms)
}
