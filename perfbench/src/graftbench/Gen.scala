package graftbench

import scala.collection.mutable.ArrayBuffer
import graft.conll.{InputDoc, Span}

/** Seeded input generators. Every input is a pure function of (seed,
  * index), so the same seed gives the same inputs and the output checks
  * can regenerate the truth on the driver without reading graft's output.
  *
  * Documents are DocGen-shaped (a `# newdoc` comment, per sentence a
  * `# sent_id` comment, an optional media span, ten CoNLL-U columns, a
  * sentence break), but content words are drawn from a vocabulary of
  * `vocab` synthetic words under a Zipf law, so mention surfaces have a
  * hot head key.
  */
object Gen {

  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  final class Rng(seed: Long) {
    private var s = seed
    def next(): Long = { s += 0x9e3779b97f4a7c15L; mix(s) }
    def int(n: Int): Int = java.lang.Math.floorMod(next(), n.toLong).toInt
    def unit(): Double = (next() >>> 11).toDouble / (1L << 53).toDouble
  }

  final class Zipf(n: Int, s: Double) extends Serializable {
    private val cdf: Array[Double] = {
      val a = new Array[Double](n)
      var acc = 0.0
      var k = 0
      while (k < n) { acc += math.pow(k + 1.0, -s); a(k) = acc; k += 1 }
      k = 0
      while (k < n) { a(k) /= acc; k += 1 }
      a
    }
    def sample(r: Rng): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.unit())
      math.min(if (i < 0) -i - 1 else i, n - 1)
    }
  }

  private val Syll = Array("ka", "to", "mi", "re", "su", "no", "ha", "li",
    "ve", "do", "ru", "pe", "zi", "go", "ba", "fe")

  /** Vocabulary word `i` (rank i under the Zipf law). Unique after
    * lowercasing: the base-36 index is a suffix; every seventh word is
    * capitalized so linking has to lowercase. */
  def word(seed: Long, i: Int): String = {
    val h = mix(seed * 0x632be59bd9b4e019L + i)
    val w = Syll((h & 15).toInt) + Syll(((h >>> 4) & 15).toInt) + Integer.toString(i, 36)
    if (i % 7 == 3) w.capitalize else w
  }

  private val Dets = Array("the", "a")
  private val Advs = Array("quickly", "very")
  private val Adps = Array("over", "of", "under")

  /** One sentence's token rows: DET ADJ NOUN VERB DET NOUN [ADV] [ADP NOUN]
    * PUNCT with a dependency tree rooted at the verb (DocGen's template). */
  private def sentence(seed: Long, r: Rng, z: Zipf): Seq[String] = {
    def content(upos: String, penn: String) = {
      val w = word(seed, z.sample(r)); (w, w.toLowerCase, upos, penn)
    }
    def fixed(ws: Array[String], upos: String, penn: String) = {
      val w = ws(r.int(ws.length)); (w, w, upos, penn)
    }
    var toks = Vector(
      (fixed(Dets, "DET", "DT"), 3, "det"), (content("ADJ", "JJ"), 3, "amod"),
      (content("NOUN", "NN"), 4, "nsubj"), (content("VERB", "VBZ"), 0, "root"),
      (fixed(Dets, "DET", "DT"), 6, "det"), (content("NOUN", "NN"), 4, "obj"))
    if (r.int(3) == 0) toks :+= ((fixed(Advs, "ADV", "RB"), 4, "advmod"))
    if (r.int(2) == 0) {
      val base = toks.length
      toks ++= Vector((fixed(Adps, "ADP", "IN"), base + 2, "case"),
        (content("NOUN", "NN"), 6, "nmod"))
    }
    toks :+= (((".", ".", "PUNCT", "."), 4, "punct"))
    toks.zipWithIndex.map { case (((w, l, u, p), head, edge), i) =>
      Seq((i + 1).toString, w, l, u, p, "_", head.toString, edge, "_", "_").mkString("\t")
    }
  }

  /** Document `id` under `seed`; `prefix` keeps the workloads' id spaces
    * apart. */
  def doc(seed: Long, prefix: String, id: Long, z: Zipf): InputDoc = {
    val r = new Rng(mix(seed) ^ (id * 0x5851f42d4c957f2dL))
    val spans = ArrayBuffer[Span]()
    def add(kind: String, text: String, media: String = ""): Unit =
      spans += Span(kind, text, media, spans.length)
    add("comment", s"# newdoc id = $prefix$id")
    // 1–8 sentences cycling with the id: every 8 documents hold 36 sentences
    // whatever the seed, so a pass's size does not move with the seed
    val nSents = 1 + (id % 8).toInt
    for (k <- 0 until nSents) {
      add("comment", s"# sent_id = $prefix$id-s$k")
      if (r.int(4) == 0) add("media", "", s"media://$prefix$id/img${r.int(100)}")
      sentence(seed, r, z).foreach(add("token", _))
      add("sentence_break", "")
    }
    InputDoc(s"$prefix$id", spans.toSeq)
  }

  // ---- kg_resolve: gazetteer and sameAs evidence ----

  /** Gazetteer rows (surface, entity_id): the lowercased vocabulary words
    * whose index is not 3 mod 4 (so the head surface links and some words
    * do not), then filler surfaces up to `size` rows. Surfaces are unique;
    * fillers ("zq…") cannot collide with vocabulary words. */
  def gazetteer(seed: Long, vocab: Int, size: Int): IndexedSeq[(String, String)] = {
    val words = (0 until vocab).filter(_ % 4 != 3).map(i => word(seed, i).toLowerCase)
    val fill = (0 until math.max(0, size - words.length)).map(i => "zq" + Integer.toString(i, 36))
    (words ++ fill).zipWithIndex.map { case (s, j) =>
      s -> f"ent:${mix(seed * 31 + j) & 0xffffffffffL}%010x${Integer.toString(j, 36)}"
    }
  }

  /** sameAs edges over the gazetteer's entity ids: a seeded permutation
    * cut into clusters of 2–3 entities, each cluster a chain (diameter ≤ 2). */
  def sameAs(seed: Long, ids: IndexedSeq[String]): IndexedSeq[(String, String)] = {
    val r = new Rng(mix(seed ^ 0x5a5a5a5aL))
    val perm = Array.range(0, ids.length)
    var i = perm.length - 1
    while (i > 0) { val j = r.int(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t; i -= 1 }
    val out = ArrayBuffer[(String, String)]()
    var start = 0
    while (start < perm.length) {
      val end = math.min(perm.length, start + 2 + r.int(2))
      for (k <- start until end - 1) out += ids(perm(k)) -> ids(perm(k + 1))
      start = end
    }
    out.toIndexedSeq
  }

  /** A small, seed-independent sameAs set whose ids mix fullwidth
    * (U+FF01–FF5E) and supplementary-plane characters: orders by UTF-16
    * code unit and by UTF-8 byte disagree on every component. */
  val multilingualSameAs: Seq[(String, String)] = Seq(
    "ent:Ｔokyo" -> "ent:𠀀x",
    "ent:Ｍunich" -> "ent:𝔐ber",
    "ent:𝔐ber" -> "ent:ａlpha",
    "ent:Ｏsaka" -> "ent:🌸sakura")

  // ---- stream_ingest: span fragments per delivered file ----

  /** Layout of the stream input: files of `docsPerFile` documents;
    * a document is split (its first half in its own file, the rest and the
    * `doc_end` marker in the next file) with probability `splitPct`%, unless
    * its file is the last of its group. `groupEnds` are the exclusive file
    * indices where a group (warm-up, schedule, each backlog) ends. */
  final case class StreamLayout(seed: Long, docsPerFile: Int, splitPct: Int,
      groupEnds: Seq[Int], vocab: Int, zipfS: Double) {
    def docsOf(file: Int): Range = (file * docsPerFile) until ((file + 1) * docsPerFile)
    def fileOf(docId: Long): Int = (docId / docsPerFile).toInt
    def split(docId: Long): Boolean = !groupEnds.contains(fileOf(docId) + 1) &&
      java.lang.Math.floorMod(mix(seed * 7 + docId), 100L) < splitPct
    /** The file that completes document `docId` (holds its doc_end). */
    def endFile(docId: Long): Int = fileOf(docId) + (if (split(docId)) 1 else 0)
  }

  def streamDoc(l: StreamLayout, z: Zipf, docId: Long): InputDoc = doc(l.seed, "sdoc", docId, z)

  /** Fragments (doc_id, kind, text, media_ref, offset) of file `f`. */
  def fileFrags(l: StreamLayout, z: Zipf, f: Int): Seq[(String, String, String, String, Int)] = {
    def frags(d: InputDoc, head: Boolean, tail: Boolean) = {
      val half = d.spans.length / 2
      val body = d.spans.filter(s => (head && s.offset < half) || (tail && s.offset >= half))
        .map(s => (d.doc_id, s.kind, s.text, s.media_ref, s.offset))
      if (tail) body :+ ((d.doc_id, "doc_end", "", "", d.spans.length)) else body
    }
    val own = l.docsOf(f).flatMap { id =>
      val s = l.split(id); frags(streamDoc(l, z, id), head = true, tail = !s)
    }
    val carried = if (f == 0) Seq.empty else l.docsOf(f - 1).filter(l.split(_))
      .flatMap(id => frags(streamDoc(l, z, id), head = false, tail = true))
    carried ++ own
  }
}
