package perfbench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Zipf(s) sampler over ranks 0 until n. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }
  def draw(r: scala.util.Random): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

/** One generated transcript turn. `words` are its clean tokens (lower case,
  * before casing and punctuation noise); docId is its index in the array. */
final case class GenTurn(convId: String, turnIdx: Int, role: String, text: String,
                         tool: String, tsMillis: Long, words: Array[String])

/** Transcript generator in the FIXTURES §1 distribution: conversations of
  * 2 + (id % 14) turns, roles cycling user → assistant → tool → assistant,
  * 5–60 tokens per turn, about 30% from 50 stopword-like tokens, the rest
  * Zipf(1.07) over a 50k-word vocabulary, a unique `needle-%06d` marker in
  * one turn of every 500, and casing/punctuation noise the analyzer
  * removes. Turns come out in (conv_id, turn_idx) order, so a turn's array
  * index is its docId. */
object TranscriptGen {
  val Stopwords: Array[String] = Array(
    "the", "ok", "error", "to", "and", "of", "is", "in", "it", "for",
    "on", "with", "that", "this", "be", "as", "at", "by", "an", "or",
    "from", "not", "are", "was", "but", "file", "run", "if", "can", "all",
    "we", "you", "has", "will", "do", "no", "so", "up", "out", "then",
    "now", "new", "get", "set", "use", "see", "line", "test", "code", "fix")
  val Tools: Array[String] = Array(
    "grep", "read_file", "write_file", "bash", "ls", "find", "edit", "sed",
    "git", "python", "curl", "make", "cat", "diff", "test", "search")
  val VocabSize = 50000
  val StopShare = 0.3
  val NeedleEvery = 500

  def vocab(rank: Int): String = f"w$rank%06d"

  val Schema: StructType = StructType(Seq(
    StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
    StructField("role", StringType), StructField("text", StringType),
    StructField("tool", StringType), StructField("ts", TimestampType)))

  def generate(seed: Long, nTurns: Int): Array[GenTurn] = {
    val r = new scala.util.Random(seed)
    val words = new Zipf(VocabSize, 1.07)
    val stops = new Zipf(Stopwords.length, 1.0)
    val base = java.time.Instant.parse("2026-01-01T00:00:00Z").toEpochMilli
    val out = new Array[GenTurn](nTurns)
    var conv = 0; var turn = 0; var i = 0; var needle = 0
    while (i < nTurns) {
      if (turn >= 2 + conv % 14) { conv += 1; turn = 0 }
      val role = turn % 4 match { case 0 => "user"; case 2 => "tool"; case _ => "assistant" }
      val tool = if (role == "tool") Tools(r.nextInt(Tools.length)) else ""
      val n = 5 + r.nextInt(56)
      val ws = mutable.ArrayBuffer[String]()
      (0 until n).foreach { _ =>
        ws += (if (r.nextDouble() < StopShare) Stopwords(stops.draw(r)) else vocab(words.draw(r)))
      }
      if (i % NeedleEvery == NeedleEvery / 2) {
        ws.insert(r.nextInt(ws.length + 1), f"needle-$needle%06d"); needle += 1
      }
      val text = ws.map { w =>
        val c = if (r.nextDouble() < 0.05) w.capitalize else w
        if (r.nextDouble() < 0.05) c + Seq(",", ".", "!", "?", ":")(r.nextInt(5)) else c
      }.mkString(" ")
      out(i) = GenTurn(f"conv-$conv%08d", turn, role, text, tool,
        base + conv * 37000L + turn * 5000L, ws.toArray)
      turn += 1; i += 1
    }
    out
  }

  def frame(spark: SparkSession, turns: Array[GenTurn]): DataFrame = {
    val rows = turns.toSeq.map(t =>
      Row(t.convId, t.turnIdx, t.role, t.text, t.tool, new Timestamp(t.tsMillis)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 8), Schema)
  }
}

/** One curation document; `words` are its tokens in order. */
final case class GenDoc(docId: Long, words: Array[String], lang: String, source: String) {
  val text: String = words.mkString(" ")
}

/** Curation corpus with ground truth. `truth` holds every document pair
  * (a < b) whose token-set Jaccard is at least [[CurateGen.Threshold]], with
  * that Jaccard; `bench` is the decontamination slice. */
final case class CurateData(docs: Array[GenDoc], bench: Array[GenDoc],
                            truth: Map[(Long, Long), Double])

/** Curation documents in the gate `documents` schema
  * (doc_id, text, lang, source, n_chars). Text is language stopwords plus
  * Zipf(1.07) content words; about 10% of documents sit in planted
  * near-duplicate clusters of 2–5, each member a copy of the cluster's base
  * document with 0–4 content words replaced by words used nowhere else, so
  * pair similarities fall on both sides of the threshold. Unrelated
  * documents share far too few words to come near it, so the pairs inside
  * clusters are the complete ground truth. */
object CurateGen {
  val Threshold = 0.9
  val ClusterShare = 0.1
  val BenchDocs = 5000
  val LangStops: Seq[(String, Array[String])] = Seq(
    "en" -> Array("the", "and", "is", "of", "to", "in", "it"),
    "de" -> Array("der", "die", "und", "ist", "das", "nicht"),
    "es" -> Array("el", "la", "que", "de", "es", "los"),
    "fr" -> Array("le", "la", "et", "est", "les", "des"))

  val Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  def generate(seed: Long, nDocs: Int): CurateData = {
    val r = new scala.util.Random(seed)
    val words = new Zipf(TranscriptGen.VocabSize, 1.07)
    var novel = 0
    def fresh(): String = { novel += 1; f"u$novel%07d" }
    def randomDoc(id: Long): GenDoc = {
      val (lang, stops) = LangStops(r.nextInt(LangStops.length))
      val n = 30 + r.nextInt(51)
      val ws = Array.fill(n)(if (r.nextDouble() < 0.25) stops(r.nextInt(stops.length))
        else TranscriptGen.vocab(words.draw(r)))
      GenDoc(id, ws, lang, s"src${r.nextInt(8)}")
    }
    val docs = mutable.ArrayBuffer[GenDoc]()
    val clusters = mutable.ArrayBuffer[Seq[GenDoc]]()
    while (docs.length < nDocs) {
      val id = docs.length.toLong
      val size = 2 + r.nextInt(4)
      if (r.nextDouble() < ClusterShare / 3.5 && docs.length + size <= nDocs) {
        val base = randomDoc(id)
        // words that occur once in the base: replacing one removes exactly
        // one token from the set and adds one new token
        val single = base.words.groupBy(identity).collect { case (w, o) if o.length == 1 => w }.toSet
        val editable = base.words.indices.filter(i => single(base.words(i)))
        val members = base +: (1 until size).map { m =>
          val edits = r.nextInt(5)
          val ws = base.words.clone()
          r.shuffle(editable).take(edits).foreach(i => ws(i) = fresh())
          base.copy(docId = id + m, words = ws, source = s"src${r.nextInt(8)}")
        }
        docs ++= members
        clusters += members
      } else docs += randomDoc(id)
    }
    val truth = clusters.flatMap { c =>
      for { x <- c; y <- c if x.docId < y.docId; j = jaccard(x.words, y.words) if j >= Threshold }
        yield (x.docId, y.docId) -> j
    }.toMap
    // decontamination slice: random documents, one in ten carrying an
    // eight-word span copied from a training document
    val bench = (0 until BenchDocs).map { i =>
      val d = randomDoc(10000000L + i)
      if (i % 10 == 0) {
        val src = docs(r.nextInt(docs.length)).words
        val from = r.nextInt(src.length - 8)
        d.copy(words = d.words ++ src.slice(from, from + 8))
      } else d
    }.toArray
    CurateData(docs.toArray, bench, truth)
  }

  /** Jaccard of the two token sets: |∩| / |∪|. */
  def jaccard(a: Array[String], b: Array[String]): Double = {
    val sa = a.toSet; val sb = b.toSet
    val inter = sa.count(sb)
    inter.toDouble / (sa.size + sb.size - inter).toDouble
  }

  def frame(spark: SparkSession, docs: Seq[GenDoc]): DataFrame = {
    val rows = docs.map(d => Row(d.docId, d.text, d.lang, d.source, d.text.length.toLong))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 8), Schema)
  }
}
