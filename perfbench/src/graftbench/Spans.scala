package graftbench

import java.nio.file.Path
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import graft.conll.InputDoc

/** The seeded spans table, and the checks that only need the input and
  * the output triples. */
object Spans {
  /** Parts of the spans table: Spark reads one task per file, so the
    * parse and cascade run on several threads. */
  val files = 8

  private val schema = new Parquet("""message spark_schema {
    required binary doc_id (STRING);
    required group spans (LIST) {
      repeated group list {
        required group element {
          required binary kind (STRING);
          required binary text (STRING);
          required binary media_ref (STRING);
          required int32 offset;
        }
      }
    }
  }""")

  /** Write `n` documents of `prefix` ids to `dir` once, in `files` parts
    * of consecutive ids. */
  def prepare(dir: Path, seed: Long, prefix: String, n: Long, vocab: Int, zipfS: Double): Unit = {
    val z = new Gen.Zipf(vocab, zipfS)
    schema.writeOnce(dir, (0 until files).map { p =>
      (p * n / files until (p + 1) * n / files).iterator.map { id =>
        val d = Gen.doc(seed, prefix, id, z)
        val g = schema.row().append("doc_id", d.doc_id)
        val l = g.addGroup("spans")
        for (s <- d.spans) l.addGroup("list").addGroup("element").append("kind", s.kind)
          .append("text", s.text).append("media_ref", s.media_ref).append("offset", s.offset)
        g
      }
    })
  }

  /** The benchmark's own reading of the input: per (doc, sentence number)
    * the sorted WORD column, split from the token rows by hand. */
  def sentenceWords(docs: Dataset[InputDoc]): Dataset[(String, Long, String)] = {
    import docs.sparkSession.implicits._
    docs.flatMap { d =>
      val out = scala.collection.mutable.ArrayBuffer[(String, Long, String)]()
      var sent = 1L
      var words = Vector.empty[String]
      def flush(): Unit = if (words.nonEmpty) {
        out += ((d.doc_id, sent, words.sorted.mkString("\u0001"))); sent += 1; words = Vector.empty
      }
      for (s <- d.spans.sortBy(_.offset)) s.kind match {
        case "token" => words :+= s.text.split("\t", -1)(1)
        case "sentence_break" => flush()
        case _ =>
      }
      flush()
      out
    }
  }

  /** Token rows and sentence breaks of the input. */
  def spanCounts(docs: Dataset[InputDoc]): (Long, Long) = {
    val r = docs.select(explode(col("spans")).as("s"))
      .agg(sum(when(col("s.kind") === "token", 1).otherwise(0)),
        sum(when(col("s.kind") === "sentence_break", 1).otherwise(0))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** WORD / nif:Word / nif:Sentence counts and per-sentence WORD multisets
    * of `triples` against the input; returns the input's token rows. */
  def checkTriples(docs: Dataset[InputDoc], triples: org.apache.spark.sql.DataFrame,
      res: Result): Long = {
    val (tokens, breaks) = spanCounts(docs)
    val isA = col("pred") === "rdf:type"
    val c = triples.agg(
      sum(when(col("pred") === "conll:WORD", 1).otherwise(0)),
      sum(when(isA && col("obj") === "nif:Word", 1).otherwise(0)),
      sum(when(isA && col("obj") === "nif:Sentence", 1).otherwise(0))).head()
    res.check("word_triples", c.getLong(0) == tokens, s"${c.getLong(0)} WORD triples, $tokens token rows")
    res.check("nif_word_triples", c.getLong(1) == tokens, s"${c.getLong(1)} nif:Word, $tokens token rows")
    res.check("nif_sentence_triples", c.getLong(2) == breaks,
      s"${c.getLong(2)} nif:Sentence, $breaks sentence breaks")
    val exp = sentenceWords(docs).toDF("doc_id", "sent", "w")
    val got = triples.filter(col("pred") === "conll:WORD")
      .groupBy(col("doc_id"), col("sent"))
      .agg(array_join(array_sort(collect_list(col("obj"))), "\u0001").as("g"))
    val bad = exp.join(got, Seq("doc_id", "sent"), "full_outer")
      .filter(col("w").isNull || col("g").isNull || col("w") =!= col("g")).count()
    res.check("sentence_words", bad == 0, s"$bad sentences whose WORD multiset differs from the input")
    tokens
  }
}
