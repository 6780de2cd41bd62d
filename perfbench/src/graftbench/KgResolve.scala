package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._
import graft.conll.{CheckpointRunner, DocGen, EntityLinker, InputDoc, Pipeline, Serializers, TripleRow}

/** The benchmark's own union-find: component minimum under unsigned UTF-8
  * byte order (the order Spark's MIN applies to strings). */
object Canon {
  def utf8Less(a: String, b: String): Boolean =
    java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8)) < 0

  def components(edges: Seq[(String, String)]): Map[String, String] = {
    val parent = mutable.HashMap[String, String]()
    def find(x: String): String = {
      var r = x
      while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val n = parent(y); parent(y) = r; y = n }
      r
    }
    for ((a, b) <- edges) {
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(ra) = rb
    }
    val min = mutable.HashMap[String, String]()
    for (v <- parent.keys) {
      val r = find(v)
      if (!min.get(r).exists(m => !utf8Less(v, m))) min(r) = v
    }
    parent.keys.map(v => v -> min(find(v))).toMap
  }
}

/** kg_resolve: graft.Main's batch path, then entity resolution and export.
  *
  * The spans table goes through CheckpointRunner.run (parse, link cascade,
  * bucketed parquet write, manifest) plus the metrics table and lineage read
  * that Main adds. Its output triples go through EntityLinker.linkUnioned
  * against a gazetteer above the broadcast bound (the salted join, with a
  * Zipf hot key), EntityLinker.canonicalize over sameAs evidence above the
  * CC driver cutover (the distributed rounds), and export through
  * Serializers.toConllTsv and toSortedNTriples.
  *
  * A run is whole rounds of three operations: the pass (timed), its
  * N-Triples export (one line per triple), and the canonicalization of a
  * small multilingual sameAs set through the same public call. The last two
  * fail on every round until graft's faults behind them are fixed.
  */
final class KgResolve(ctx: Ctx) extends Workload {
  val docsN = 300L
  val vocab = 16000
  val zipfS = 1.1
  val buckets = 2
  val minWarm = 2
  /** linkUnioned's broadcastMax, spark.graft.cc.localMaxEdges and Spark's
    * autoBroadcastJoinThreshold, scaled down from their defaults (1M rows,
    * 500k edges, 10 MB) with the inputs, so the salted join and the
    * distributed CC rounds are reached at a size one run can repeat. */
  val broadcastMax = 20000
  val ccLocalMaxEdges = 10000L
  val broadcastBytes = 256L << 10
  val gazetteerN = 24000
  val input: Path = ctx.data.resolve(s"kg_resolve-s${ctx.seed}-d$docsN-v$vocab")
  val gazPath: Path = ctx.data.resolve(s"kg_resolve-gaz-s${ctx.seed}-g$gazetteerN-v$vocab")
  val sameAsPath: Path = ctx.data.resolve(s"kg_resolve-sameas-s${ctx.seed}-g$gazetteerN-v$vocab")

  private var docs: Dataset[InputDoc] = _
  private var gazetteer: DataFrame = _
  private var sameAs: DataFrame = _
  private lazy val gazRows = Gen.gazetteer(ctx.seed, vocab, gazetteerN)
  private lazy val edges = Gen.sameAs(ctx.seed, gazRows.map(_._2))

  def inputsReady: Boolean = Seq(input, gazPath, sameAsPath).forall(Files.exists(_))

  def prepare(): Unit = {
    Spans.prepare(input, ctx.seed, "doc", docsN, vocab, zipfS)
    writePairs(gazPath, "surface", "entity_id", gazRows)
    writePairs(sameAsPath, "src", "dst", edges)
  }

  /** Two string columns, in four files. */
  private def writePairs(dir: Path, a: String, b: String, rows: IndexedSeq[(String, String)]): Unit = {
    val pq = new Parquet(s"message spark_schema { required binary $a (STRING); required binary $b (STRING); }")
    val per = (rows.length + 3) / 4
    pq.writeOnce(dir, rows.grouped(per).map(_.iterator.map { case (x, y) =>
      pq.row().append(a, x).append(b, y)
    }).toSeq)
  }

  def register(spark: SparkSession): Unit = {
    import spark.implicits._
    // schemas given, as a job that knows its tables does: no footer-reading job
    docs = spark.read.schema(Encoders.product[InputDoc].schema).parquet(input.toString).as[InputDoc]
    gazetteer = spark.read.schema("surface STRING, entity_id STRING").parquet(gazPath.toString)
    sameAs = spark.read.schema("src STRING, dst STRING").parquet(sameAsPath.toString)
    docs.createOrReplaceTempView("spans")
    gazetteer.createOrReplaceTempView("gazetteer")
    sameAs.createOrReplaceTempView("same_as")
    spark.conf.set("spark.graft.cc.localMaxEdges", ccLocalMaxEdges.toString)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", broadcastBytes.toString)
  }

  private var built: DataFrame = _
  private var canon: DataFrame = _
  private var scriptMetrics: Option[Pipeline.Metrics] = None
  private var rounds = 0
  private var lastOut: Option[Path] = None

  /** graft.Main's batch path into `dir`: returns the written triples. */
  private def checkpoint(spark: SparkSession, dir: String): DataFrame = {
    val metrics = Pipeline.newMetrics(spark, Pipeline.linkCascade)
    val t = CheckpointRunner.run(spark, docs, DocGen.columns, Pipeline.linkCascade, dir, buckets,
      Some(metrics))
    metrics.toDf(spark).write.mode("overwrite").parquet(s"$dir/_metrics")
    CheckpointRunner.lineage(spark, dir).collect()
    t
  }

  /** One pass writing into `out`; returns the triples it produced. */
  private def pass(spark: SparkSession, out: Path, tr: Tracer): Long = {
    import spark.implicits._
    release()
    built = tr.span("checkpoint")(checkpoint(spark, s"$out/kg"))
    val linked = tr.stage("link")(
      EntityLinker.linkUnioned(built.as[TripleRow], gazetteer, broadcastMax).as[TripleRow])
    // two sinks read the canonical triples: persisted, as any two-sink job would
    canon = tr.span("canon") {
      val c = EntityLinker.canonicalize(spark, linked.toDF(), sameAs)
        .persist(StorageLevel.MEMORY_AND_DISK)
      if (tr.on) tr.counts("canon") = c.count()
      c
    }
    tr.span("export") {
      Serializers.toConllTsv(canon, DocGen.columns).write.parquet(s"$out/tsv")
      Serializers.toSortedNTriples(canon.as[TripleRow]).write.text(s"$out/nt")
    }
    canon.count()
  }

  /** Drops what the last pass left cached. */
  private def release(): Unit = if (canon != null) { canon.unpersist(blocking = true); canon = null }

  /** One round: a fresh output dir, the timed pass, then the pass's
    * N-Triples export and the multilingual canonicalization as operations
    * of their own. The previous pass's output is removed first, outside
    * the timing. Returns the pass time and its triples. */
  private def round(spark: SparkSession, res: Result, tr: Tracer): (Double, Long) = {
    lastOut.foreach(Host.deleteTree)
    val out = ctx.work.resolve(s"pass-$rounds")
    rounds += 1
    Files.createDirectories(out.getParent)
    val t0 = System.nanoTime()
    val triples = tr.span("pass")(pass(spark, out, tr))
    val dt = (System.nanoTime() - t0) / 1e9
    lastOut = Some(out)
    res.attempted += 1
    nTriplesOp(out, triples, res)
    multilingualOp(spark, res)
    (dt, triples)
  }

  private def fault(res: Result, name: String): Unit = {
    res.failed += 1
    res.faults(name) = res.faults.getOrElse(name, 0L) + 1
  }

  /** The pass's N-Triples export must hold one line per triple. Serializers
    * escapes only `\` and `"` in literals, so the rdfs:comment literal of a
    * sentence with two comment lines (every document's first: `# newdoc`
    * and `# sent_id`) spans two lines, and this fails on every round. */
  private def nTriplesOp(out: Path, triples: Long, res: Result): Unit = {
    res.attempted += 1
    val lines = Files.list(out.resolve("nt")).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .map(p => Files.readAllBytes(p).count(_ == '\n').toLong).sum
    res.diag("ntriples_extra_lines") = lines - triples
    if (lines != triples) fault(res, "ntriples_unescaped_newline")
  }

  /** The multilingual canonicalization: graft's driver-side union-find
    * orders ids by UTF-16 code unit while Spark's MIN and the distributed
    * rounds order by UTF-8 byte, so this fails until the two agree. */
  private def multilingualOp(spark: SparkSession, res: Result): Unit = {
    import spark.implicits._
    res.attempted += 1
    val ml = Gen.multilingualSameAs
    val nodes = ml.flatMap { case (a, b) => Seq(a, b) }.distinct
    val linked = nodes.zipWithIndex.map { case (id, i) =>
      TripleRow("ml", 1L, s":s1_${i + 1}", "conll:ENTITY", id, obj_is_uri = true)
    }.toDF()
    val got = EntityLinker.canonicalize(spark, linked, ml.toDF("src", "dst"))
      .select("subj", "obj").as[(String, String)].collect().toMap
    val want = Canon.components(ml)
    val wrong = nodes.zipWithIndex.count { case (id, i) => !got.get(s":s1_${i + 1}").contains(want(id)) }
    if (wrong > 0) fault(res, "cc_local_utf16_order")
  }

  def measure(spark: SparkSession, res: Result): Unit = {
    val off = new Tracer(false, spark, ctx.runId)
    val (cold, _) = round(spark, res, off)
    // at least minWarm warm passes, then as many as the run length allows
    val t0 = System.nanoTime()
    val warm = mutable.ArrayBuffer[(Double, Long)]()
    while (warm.length < minWarm || (System.nanoTime() - t0) / 1e9 < ctx.seconds)
      warm += round(spark, res, off)
    val times = warm.map(_._1).sorted.toIndexedSeq
    val med = Stats.quantile(times, 0.5)
    res.put("cold_pass_s", cold, "s")
    res.put("triples_per_s", Stats.median(warm.map(_._2.toDouble)) / med, "1/s")
    res.diag("latency_p50_s") = med
    res.diag("latency_p90_s") = Stats.quantile(times, 0.9)
    res.diag("warm_pass_s") = warm.map(_._1)
    res.diag("triples_per_pass") = warm.head._2
    val c0 = System.nanoTime()
    checks(spark, lastOut.get, res)
    res.diag("checks_s") = (System.nanoTime() - c0) / 1e9
    release()
  }

  /** A cold and an untraced warm round, then the scan, parse and rewrite
    * layers on their own (each materialized at its boundary and released
    * before the pass, so the pass reads its input as the untraced one
    * does), then a traced round with the pass's layers materialized and a
    * second untraced round (so warm-up weighs on both sides of the traced
    * one), and last graft.Main's batch path on a one-thread session for
    * the scaling figure. */
  def traced(spark: SparkSession, res: Result): SparkSession = {
    countReads(spark)
    val off = new Tracer(false, spark, ctx.runId)
    round(spark, res, off) // cold: codegen, class loading and JIT out of the way
    val (before, _) = round(spark, res, off)
    val l = new EngineListener
    spark.sparkContext.addSparkListener(l)
    val tr = new Tracer(true, spark, ctx.runId)
    val d = tr.stage("scan")(docs)
    val s = tr.stage("parse")(Pipeline.parse(d, DocGen.columns))
    val m = Pipeline.newMetrics(spark, Pipeline.linkCascade)
    tr.stage("rewrite")(Pipeline.rewriteTriples(s, Pipeline.linkCascade, Some(m)))
    scriptMetrics = Some(m)
    tr.release()
    val (tracedS, _) = round(spark, res, tr)
    org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(l)
    layerMetrics(spark, tr, l, lastOut.get, res)
    val all = l.total()
    res.put("spark.executor_run_s", all.runMs / 1e3, "s")
    res.put("spark.executor_cpu_s", all.cpuNs / 1e9, "s")
    res.put("spark.gc_s", all.gcMs / 1e3, "s")
    res.put("spark.jobs", all.jobs.toDouble, "count")
    res.put("spark.tasks", all.tasks.toDouble, "count")
    res.put("spark.shuffle_write_mb", all.shuffleWrite / 1048576.0, "MB")
    res.put("trace.unaccounted_s", tr.unaccounted("pass"), "s")
    tr.release()
    tr.write(ctx.build.resolve("traces").resolve(s"${ctx.workload}-${ctx.seed}-${ctx.runId}.jsonl"))
    val (after, _) = round(spark, res, off)
    // the traced and the untraced passes run the same layers; the difference
    // is the cost of materializing each layer's output at its boundary
    res.put("trace.overhead_s", tracedS - (before + after) / 2, "s")
    res.diag("untraced_pass_s") = Seq(before, after)
    res.diag("traced_pass_s") = tracedS
    checks(spark, lastOut.get, res)
    release()

    val full = res.metrics("checkpoint.busy_s")._1
    spark.stop()
    val one = Session.build(1, ctx.build)
    countReads(one)
    register(one)
    val t0 = System.nanoTime()
    checkpoint(one, ctx.work.resolve("scaling").toString)
    val t1 = (System.nanoTime() - t0) / 1e9
    res.put("spark.scaling_eff", t1 / (ctx.cores * full), "ratio")
    res.diag("one_thread_checkpoint_s") = t1
    one
  }

  /** Parquet's vectored reads bypass Hadoop's per-thread byte counters, so
    * with them a task reports only the footer bytes it read. The traced run
    * reads without them, every round alike, so `*.read_mb` and
    * `scan.input_mb` count the bytes the scans really read. */
  private def countReads(spark: SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration.set("parquet.hadoop.vectored.io.enabled", "false")

  /** Expected canonical id per entity id, from the benchmark's union-find. */
  private lazy val expectedCanon = Canon.components(edges)

  /** Output checks against the benchmark's own computation; untimed. */
  private def checks(spark: SparkSession, out: Path, res: Result): Unit = {
    import spark.implicits._
    // the build: triples against the input, lineage against the rows written
    val tokens = Spans.checkTriples(docs, built, res)
    val markers = Files.list(out.resolve("kg").resolve("_manifest")).iterator().asScala.toSeq
      .map(p => new String(Files.readAllBytes(p), UTF_8))
    val Rows = "\"rows\":(\\d+)".r.unanchored
    val rows = markers.collect { case Rows(n) => n.toLong }.sum
    val n = built.count()
    res.check("lineage_rows", rows == n, s"lineage rows $rows, rows written $n")
    res.check("buckets_done", markers.length == buckets &&
      markers.forall(_.contains("\"status\":\"done\"")), s"${markers.length} markers for $buckets buckets")
    // resolution: one ENTITY triple per gazetteer surface, carrying the canonical id
    val exp = gazRows.map { case (surface, id) => (surface, expectedCanon.getOrElse(id, id)) }
      .toDF("surface", "exp")
    val words = canon.filter(col("pred") === "conll:WORD")
      .select(col("doc_id"), col("subj"), lower(col("obj")).as("surface"))
    val ents = canon.filter(col("pred") === "conll:ENTITY").groupBy(col("doc_id"), col("subj"))
      .agg(count(lit(1)).as("n"), min(col("obj")).as("e"))
    val j = words.join(broadcast(exp), Seq("surface"), "left").join(ents, Seq("doc_id", "subj"), "full_outer")
      .select(col("exp").isNotNull.as("linkable"),
        ((col("exp").isNotNull && (col("n").isNull || col("n") =!= 1 || col("e") =!= col("exp"))) ||
          (col("exp").isNull && col("n").isNotNull)).as("bad"))
      .agg(sum(when(col("linkable"), 1).otherwise(0)), sum(when(col("bad"), 1).otherwise(0))).head()
    val (linkable, bad) = (j.getLong(0), j.getLong(1))
    res.check("entity_links", bad == 0,
      s"$bad tokens without exactly one ENTITY triple carrying the canonical gazetteer id")
    res.check("entity_links_nonempty", linkable > 0, "no token surface is in the gazetteer")
    // export: one TSV row per token (N-Triples lines are the round's own operation)
    val tsvRows = spark.read.parquet(s"$out/tsv").count()
    res.check("export_rows", tsvRows == tokens, s"$tsvRows TSV rows, $tokens tokens")
    res.diag("linked_tokens") = linkable
  }

  /** Per-layer metrics of the traced round. */
  private def layerMetrics(spark: SparkSession, tr: Tracer, l: EngineListener, out: Path,
      res: Result): Unit = {
    val inMb = Files.list(input).iterator().asScala.map(Files.size(_)).sum / 1048576.0
    res.put("scan.busy_s", tr.busy("scan"), "s")
    res.put("scan.input_mb", inMb, "MB")
    res.put("parse.busy_s", tr.busy("parse"), "s")
    res.put("parse.sentences", tr.counts("parse").toDouble, "count")
    res.put("rewrite.busy_s", tr.busy("rewrite"), "s")
    res.put("rewrite.triples", tr.counts("rewrite").toDouble, "count")
    for (m <- scriptMetrics; (name, (it, ns)) <- m.perScript) {
      res.put(s"rewrite.$name.busy_s", ns.value / 1e9, "s")
      res.put(s"rewrite.$name.iterations", it.value.toDouble, "count")
    }
    val cp = l.group("checkpoint")
    val wallMs = CheckpointRunner.lineage(spark, s"$out/kg").collect().map(_.getAs[Long]("wall_ms")).sum
    res.put("checkpoint.busy_s", tr.busy("checkpoint"), "s")
    res.put("checkpoint.bucket_wall_s", wallMs / 1e3, "s")
    res.put("checkpoint.read_mb", cp.bytesRead / 1048576.0, "MB")
    res.put("checkpoint.write_mb", cp.bytesWritten / 1048576.0, "MB")
    res.put("checkpoint.read_per_input", if (inMb > 0) cp.bytesRead / 1048576.0 / inMb else 0.0, "x")
    val link = l.group("link")
    res.put("link.busy_s", tr.busy("link"), "s")
    // linkUnioned's routing probe is limit(broadcastMax + 1).collect()
    res.put("link.probe_rows", math.min(gazetteerN.toLong, broadcastMax + 1L).toDouble, "count")
    res.put("link.shuffle_mb", link.shuffleWrite / 1048576.0, "MB")
    res.put("link.task_skew", l.skew("link"), "ratio")
    res.put("link.entity_triples",
      canon.filter(col("pred") === "conll:ENTITY").count().toDouble, "count")
    val cc = l.group("canon")
    res.put("canon.busy_s", tr.busy("canon"), "s")
    res.put("canon.jobs", cc.jobs.toDouble, "count")
    res.put("canon.shuffle_mb", cc.shuffleWrite / 1048576.0, "MB")
    res.put("canon.edges", edges.length.toDouble, "count")
    val ex = l.group("export")
    res.put("export.busy_s", tr.busy("export"), "s")
    res.put("export.shuffle_mb", ex.shuffleWrite / 1048576.0, "MB")
    res.put("export.spill_mb", ex.diskSpill / 1048576.0, "MB")
    res.put("export.rows", (spark.read.parquet(s"$out/tsv").count() +
      spark.read.text(s"$out/nt").count()).toDouble, "count")
  }
}
