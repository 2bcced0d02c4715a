package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.{Dedup, TextOps}

/** `curate`: a fixed sequence of graft.ops calls over the generated
  * documents, repeated. The four filters are forced with count(); the three
  * similarity operators are collected, so the rows that were timed are the
  * rows that are checked. */
object CurateBench {
  val Docs = 10000

  /** One operator call: its wall time and rows out, or the failure. */
  final case class Call(rep: Long, op: String, ms: Double, rows: Try[Seq[(Long, Long, Any)]], n: Long)

  def run(a: Args): Result = {
    val tracer = new Tracer
    val docsDir = new File(a.work, "documents")
    val benchDir = new File(a.work, "benchmark")
    var data: CurateData = null

    val (spark, setupS) = Setup.repeated[SparkSession](tracer, s => { tracer.off(); s.stop() }) { _ =>
      val spark = Setup.session(a)
      if (a.trace) tracer.on(spark.sparkContext)
      data = CurateGen.generate(a.seed, Docs)
      Seq(docsDir -> data.docs.toSeq, benchDir -> data.bench.toSeq)
        .foreach { case (d, docs) => Fs.wipe(d); CurateGen.frame(spark, docs).write.parquet(d.getPath) }
      spark
    } { spark => // warm-up: the whole sequence twice (the JIT is still compiling after one)
      (1 to 2).foreach(_ =>
        sequence(spark, tracer, spark.read.parquet(docsDir.getPath), spark.read.parquet(benchDir.getPath), 0L))
    }
    tracer.off()

    var repId = 0L
    def window(): Vector[Seq[Call]] = {
      val reps = mutable.ArrayBuffer[Seq[Call]]()
      var timed = 0.0
      while (timed < a.seconds) {
        repId += 1
        val calls = sequence(spark, tracer, spark.read.parquet(docsDir.getPath),
          spark.read.parquet(benchDir.getPath), repId)
        timed += calls.map(_.ms).sum / 1000
        reps += calls
      }
      reps.toVector
    }
    val plain = window()
    val traced = if (a.trace) {
      tracer.reset()
      tracer.on(spark.sparkContext)
      val t = window()
      tracer.off()
      t
    } else Vector.empty

    val verdicts = (plain ++ traced).map(check(data, _))
    val failed = verdicts.map(_.count(!_._2)).sum
    val attempted = (plain ++ traced).map(_.length).sum
    def goodReps(reps: Vector[Seq[Call]], from: Int) =
      reps.indices.filter(i => verdicts(from + i).forall(_._2)).map(reps)
    def e2e(reps: Seq[Seq[Call]]): Map[String, Double] = {
      val ms = reps.map(_.map(_.ms).sum)
      Map("items_per_s" -> (if (ms.isEmpty) 0.0 else Docs / (Stats.median(ms) / 1000)),
        "op_p50_ms" -> Stats.median(ms), "op_p95_ms" -> Stats.quantile(ms, 0.95))
    }
    val plainGood = goodReps(plain, 0)
    val plainE = e2e(plainGood)
    System.err.println(f"[perfbench] curate: ${plain.length} reps, " +
      plain.map(_.map(c => f"${c.op}=${c.ms}%.0f").mkString(" ")).mkString(" | "))
    val metrics = if (!a.trace) plainE + ("setup_s" -> setupS)
      else {
        val tracedE = e2e(goodReps(traced, plain.length))
        def secs(ops: String*) = Stats.median(plainGood.map(_.filter(c => ops.contains(c.op)).map(_.ms).sum / 1000))
        val lsh = traced.flatMap(_.filter(_.op == "lsh")).flatMap(_.rows.toOption)
        val keepers = traced.flatMap(_.filter(_.op == "keepers")).flatMap(_.rows.toOption)
        val out = opLayers(tracer, traced) ++ batchTrace(tracer) ++ Map(
          "ops.lsh.recall" -> Stats.median(lsh.map(ps => ps.count(p => data.truth.contains((p._1, p._2))).toDouble /
            data.truth.size)),
          "ops.keepers.dups_removed" -> Stats.median(keepers.map(_.count(k => k._1 != k._2).toDouble)),
          "curate.filters_s" -> secs("quality", "langid", "exact", "decontam"),
          "curate.lsh_pairs_s" -> secs("lsh"), "curate.keepers_s" -> secs("keepers"),
          "curate.prefix_pairs_s" -> secs("prefix")) ++
          Seq("items_per_s", "op_p50_ms", "op_p95_ms").map(k => s"trace.overhead.$k" -> (tracedE(k) - plainE(k)))
        tracer.writeTo(new File(a.work, "trace.jsonl"))
        out
      }
    spark.stop()
    Result(attempted.toLong, failed.toLong, metrics)
  }

  /** Runs the operator sequence once. Rows are (a, b, j) for the pair
    * operators and (doc_id, keeper, n_members) for keepers. */
  private def sequence(spark: SparkSession, tracer: Tracer, docs: DataFrame, bench: DataFrame,
                       rep: Long): Seq[Call] = {
    def pairs(df: DataFrame) = df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2): Any))
    val ops: Seq[(String, () => Either[Long, Seq[(Long, Long, Any)]])] = Seq(
      "quality" -> (() => Left(TextOps.qualityScore(docs).count())),
      "langid" -> (() => Left(TextOps.langId(docs).count())),
      "exact" -> (() => Left(Dedup.exact(docs).count())),
      "decontam" -> (() => Left(Dedup.decontaminate(docs, bench, 5).count())),
      "lsh" -> (() => Right(pairs(Dedup.minhashLsh(docs, CurateGen.Threshold)))),
      "keepers" -> (() => Right(Dedup.keepers(docs, CurateGen.Threshold).collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3): Any)))),
      "prefix" -> (() => Right(pairs(Dedup.jaccardPairsPrefix(docs, CurateGen.Threshold)))))
    tracer.span("rep", rep) {
      ops.map { case (name, f) =>
        val t0 = System.nanoTime()
        val out = Try(tracer.span(name)(f()))
        val ms = (System.nanoTime() - t0) / 1e6
        out match {
          case Success(Left(n)) => Call(rep, name, ms, Success(Nil), n)
          case Success(Right(rows)) => Call(rep, name, ms, Success(rows), rows.length.toLong)
          case Failure(e) => Call(rep, name, ms, Failure(e), 0L)
        }
      }
    }
  }

  /** Per-call verdicts. The filters return one row per document. prefix
    * must equal the ground truth pairs (and their Jaccard to 6 places); every
    * LSH pair must be a ground-truth pair; keepers must match the connected
    * components of the same rep's LSH pairs. */
  private def check(data: CurateData, calls: Seq[Call]): Seq[(String, Boolean)] = {
    val byOp = calls.map(c => c.op -> c).toMap
    def jOk(p: (Long, Long, Any)) = data.truth.get((p._1, p._2))
      .exists(j => math.abs(j - p._3.asInstanceOf[Double]) <= 5.000001e-7)
    val lsh = byOp("lsh").rows.toOption
    calls.map { c =>
      val ok = c.rows.isSuccess && (c.op match {
        case "lsh" => c.rows.get.forall(jOk)
        case "prefix" => c.rows.get.length == data.truth.size && c.rows.get.forall(jOk)
        case "keepers" => lsh.exists(ps => keepersMatch(data, ps, c.rows.get))
        case _ => c.n == data.docs.length
      })
      if (!ok) System.err.println(s"[perfbench] curate rep ${c.rep}: ${c.op} failed its check " +
        c.rows.failed.map(_.toString.take(300)).getOrElse(""))
      c.op -> ok
    }
  }

  private def keepersMatch(data: CurateData, pairs: Seq[(Long, Long, Any)], rows: Seq[(Long, Long, Any)]): Boolean = {
    val parent = mutable.HashMap[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    pairs.foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val size = data.docs.map(d => find(d.docId)).groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    rows.length == data.docs.length && rows.forall { case (doc, keeper, n) =>
      keeper == find(doc) && n == size(find(doc))
    }
  }

  /** Self-time shares of the rep spans. */
  private def batchTrace(tracer: Tracer): Map[String, Double] = {
    val spans = tracer.spans.filter(_.req > 0)
    val self = tracer.selfMs(spans)
    val roots = spans.filter(_.name == "rep")
    val wall = roots.map(_.ms).sum
    if (wall == 0) Map.empty
    else Map("trace.self_time_share" -> spans.map(s => self(s.id)).sum / wall,
      "trace.root_self_share" -> roots.map(s => self(s.id)).sum / wall)
  }

  /** `ops.<op>.*`: medians over the traced calls of each operator. */
  private def opLayers(tracer: Tracer, traced: Vector[Seq[Call]]): Map[String, Double] = {
    val usage = tracer.usageBySpan
    val spans = tracer.spans
    Catalog.Ops.flatMap { op =>
      val us = spans.filter(s => s.name == op && s.req > 0).map(s => (s.ms / 1000, usage.getOrElse(s.id, new Usage)))
      def med(f: ((Double, Usage)) => Double) = Stats.median(us.map(f))
      Seq(
        s"ops.$op.wall_s" -> med(_._1), s"ops.$op.jobs" -> med(_._2.jobs.toDouble),
        s"ops.$op.stages" -> med(_._2.stages.toDouble), s"ops.$op.tasks" -> med(_._2.tasks.toDouble),
        s"ops.$op.executor_cpu_s" -> med(_._2.cpuNs / 1e9),
        s"ops.$op.shuffle_write_bytes" -> med(_._2.shuffleWrite.toDouble),
        s"ops.$op.spill_bytes" -> med(_._2.spill.toDouble),
        s"ops.$op.rows_out" -> Stats.median(traced.flatMap(_.filter(_.op == op)).map(_.n.toDouble)))
    }.toMap
  }
}
