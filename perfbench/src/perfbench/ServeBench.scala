package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, sum}

import graft.build.{IndexBuilder, IndexManifest}
import graft.model.DocTurn
import graft.query.{Bm25Oracle, QueryEngine, SearchQuery, SearchStats}

/** `serve`: a closed loop of two clients against one QueryEngine.
  *
  * Operations: 70% topK(q).collect() (after termStatsOf(q)), 20%
  * fetch(q).collect(), 10% searchStats(q). Keys: 80% from a hot pool of 64
  * queries with Zipf popularity (it fits the engine's plan and stats
  * caches), 20% fresh term sets used once, each taken from one generated
  * turn so it has a hit. Hot shapes: single stopword with k=100, mid-frequency
  * AND2, 3-term AND, cross-field tool+text, rare needle. */
object ServeBench {
  val Turns = 10000
  val HotPool = 64
  val Clients = 2
  val Mix: Seq[String] = Seq.fill(7)("topk") ++ Seq.fill(2)("fetch") :+ "stats"
  val FreshInBlock: Seq[Boolean] = Seq.fill(8)(false) ++ Seq.fill(2)(true)

  final case class Q(kw: Seq[(String, Seq[String])], k: Int, shape: String, hot: Boolean) {
    val key: String = kw.map { case (f, ts) => s"$f:${ts.mkString(",")}" }.mkString("|") + s"#$k"
    lazy val sq: SearchQuery = SearchQuery.of(kw, k)
  }

  sealed trait Answer
  final case class Hits(rows: Vector[(Long, Double)]) extends Answer
  final case class Fetched(rows: Vector[(Long, Double, String)]) extends Answer
  final case class Counted(s: SearchStats) extends Answer
  final case class Threw(msg: String) extends Answer

  final case class Req(id: Long, op: String, q: Q, t0: Long, t1: Long, ans: Answer) {
    def ms: Double = (t1 - t0) / 1e6
    def empty: Boolean = ans match {
      case Hits(r) => r.isEmpty
      case Fetched(r) => r.isEmpty
      case Counted(s) => s.total == 0
      case Threw(_) => false
    }
  }

  final class State(val spark: SparkSession, val turns: Array[GenTurn], val engine: QueryEngine,
                    val inputBytes: Long, val indexDir: File)

  /** Query sets drawn from the generated turns: the hot pool, the fresh
    * stream and a separate set of warm-up queries. */
  final class Queries(turns: Array[GenTurn], seed: Long) {
    private val r = new scala.util.Random(seed * 7919 + 3)
    private val used = mutable.HashSet[String]()
    private def rank(w: String): Int = if (w.matches("w[0-9]{6}")) w.substring(1).toInt else -1
    private def anyTurn(p: GenTurn => Boolean): GenTurn = {
      var t = turns(r.nextInt(turns.length))
      while (!p(t)) t = turns(r.nextInt(turns.length))
      t
    }
    private def distinctWords(t: GenTurn): Seq[String] = t.words.filterNot(_.startsWith("needle")).distinct.toSeq
    private def pickFrom(t: GenTurn, n: Int): Seq[String] = r.shuffle(distinctWords(t)).take(n)

    private def unique(make: () => Q): Q = {
      val q = Iterator.continually(make()).take(10000).find(q => !used(q.key))
        .getOrElse(sys.error("the generated turns do not hold enough distinct queries"))
      used += q.key
      q
    }

    val hot: Vector[Q] = {
      val stops = Iterator.from(0).map(i => TranscriptGen.Stopwords(i))
      val pool = (0 until HotPool).map { i =>
        Catalog.Shapes(i % Catalog.Shapes.length) match {
          case "stopword" => unique(() => Q(Seq("text" -> Seq(stops.next())), 100, "stopword", hot = true))
          case "mid_and" => unique(() => midAnd("mid_and", hot = true))
          case "and3" => unique { () =>
            Q(Seq("text" -> pickFrom(anyTurn(distinctWords(_).length >= 3), 3)), 10, "and3", hot = true)
          }
          case "crossfield" => unique { () =>
            val t = anyTurn(t => t.role == "tool" && distinctWords(t).exists(rank(_) >= 0))
            Q(Seq("tool" -> Seq(t.tool), "text" -> Seq(r.shuffle(distinctWords(t).filter(rank(_) >= 0)).head)),
              10, "crossfield", hot = true)
          }
          case _ => unique { () =>
            val t = anyTurn(_.words.exists(_.startsWith("needle")))
            Q(Seq("text" -> Seq(t.words.find(_.startsWith("needle")).get)), 10, "needle", hot = true)
          }
        }
      }
      pool.toVector // popularity rank i has shape i % 5 for every seed
    }

    /** Two mid-frequency words (Zipf rank 30–2999) of one turn. */
    private def midAnd(shape: String, hot: Boolean): Q = {
      def mid(t: GenTurn) = distinctWords(t).filter(w => rank(w) >= 30 && rank(w) < 3000)
      Q(Seq("text" -> r.shuffle(mid(anyTurn(mid(_).length >= 2))).take(2)), 10, shape, hot)
    }
    private def freshQ(): Q = unique(() => midAnd("fresh", hot = false))
    val warm: Vector[Q] = Vector.fill(8)(freshQ())
    val fresh: Vector[Q] = Vector.fill(2000)(freshQ())
  }

  def run(a: Args): Result = {
    val tracer = new Tracer
    val turnsDir = new File(a.work, "turns")
    def indexDir(rep: Int) = new File(a.work, s"index-$rep")
    var queries: Queries = null
    val firstTopK = new java.util.concurrent.ConcurrentHashMap[String, Hits]().asScala
    val built = mutable.ArrayBuffer[Try[IndexManifest]]()

    val (st, setupS) = Setup.repeated[State](tracer, s => { tracer.off(); s.spark.stop() }) { rep =>
      val spark = Setup.session(a)
      if (a.trace) tracer.on(spark.sparkContext)
      val turns = TranscriptGen.generate(a.seed, Turns)
      Fs.wipe(turnsDir)
      TranscriptGen.frame(spark, turns).write.parquet(turnsDir.getPath)
      // a wiped directory, so the build's resume gate never skips work
      Fs.wipe(indexDir(rep))
      built += Try(tracer.span("build", 0L) {
        IndexBuilder.build(spark, spark.read.parquet(turnsDir.getPath), indexDir(rep).getPath)
      })
      queries = new Queries(turns, a.seed)
      new State(spark, turns, new QueryEngine(spark, indexDir(rep).getPath), Fs.dataBytes(turnsDir),
        indexDir(rep))
    } { st =>
      // every hot query once (its first answer; fills the plan, stats and
      // count caches), then the fetch and fresh paths
      parallel(queries.hot)(q => firstTopK(q.key) = topKRows(st.engine, q))
      parallel(queries.hot)(q => st.engine.searchStats(q.sq))
      parallel(queries.hot.take(8))(q => st.engine.fetch(q.sq).collect())
      parallel(queries.warm) { q => st.engine.termStatsOf(q.sq); st.engine.topK(q.sq).collect() }
    }
    tracer.off()
    val buildsFailed = checkBuilds(st, built.toSeq, (0 until Setup.Reps).map(indexDir))

    val freshNext = new AtomicInteger()
    val reqIds = new AtomicLong()
    def window(w: Int): Vector[Req] = {
      val out = new ConcurrentLinkedQueue[Req]()
      val deadline = System.nanoTime() + a.seconds * 1000000000L
      val threads = (0 until Clients).map { c =>
        new Thread(() => {
          val r = new scala.util.Random(a.seed * 1000003L + c * 7919L + w)
          val popularity = new Zipf(queries.hot.length, 1.0)
          // the mix is stratified: every block of ten requests holds exactly
          // 7 topK, 2 fetch and 1 stats, and 2 fresh keys, so the op and key
          // shares do not vary from run to run
          var block = Iterator.empty[(String, Boolean)]
          while (System.nanoTime() < deadline) {
            if (!block.hasNext) block = r.shuffle(Mix).zip(r.shuffle(FreshInBlock)).iterator
            val (op, fresh) = block.next()
            val q = if (fresh) queries.fresh(freshNext.getAndIncrement()) else queries.hot(popularity.draw(r))
            val id = reqIds.incrementAndGet()
            val t0 = System.nanoTime()
            val ans = try {
              tracer.span("request", id, Map("op" -> op, "class" -> (if (q.hot) "hot" else "fresh"),
                "shape" -> q.shape))(request(tracer, st.engine, op, q))
            } catch { case e: Exception => Threw(e.toString) }
            out.add(Req(id, op, q, t0, System.nanoTime(), ans))
          }
        }, s"perfbench-client-$c")
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      out.asScala.toVector.sortBy(_.t0)
    }

    val plain = window(0)
    val traced = if (a.trace) {
      tracer.on(st.spark.sparkContext)
      val t = window(1)
      tracer.off()
      t
    } else Vector.empty

    // output checks, outside the timed windows
    val failedIds = check(st, queries.hot, plain ++ traced, firstTopK)
    def ok(rs: Vector[Req]) = rs.filterNot(q => failedIds(q.id))
    val e2e = endToEnd(ok(plain), plain)
    val attempted = (plain ++ traced).length.toLong + built.length
    System.err.println(f"[perfbench] serve: ${plain.length} requests in window, ${failedIds.size} failed; " +
      ok(plain).groupBy(r => s"${r.op}/${r.q.shape}").toSeq.sortBy(_._1).map { case (k, rs) =>
        f"$k n=${rs.length} p50=${Stats.median(rs.map(_.ms))}%.0f" }.mkString(", "))

    val metrics = if (!a.trace) e2e + ("setup_s" -> setupS)
      else {
        val te = endToEnd(ok(traced), traced)
        val byOp = (op: String) => Stats.median(ok(plain).filter(_.op == op).map(_.ms))
        val layer = perLayer(tracer, ok(traced))
        val build = buildLayers(tracer, st, a.cores)
        tracer.writeTo(new File(a.work, "trace.jsonl"))
        layer ++ build ++ Map(
          "serve.topk_p50_ms" -> byOp("topk"), "serve.fetch_p50_ms" -> byOp("fetch"),
          "serve.stats_p50_ms" -> byOp("stats"), "serve.requests" -> plain.length.toDouble,
          "trace.overhead.items_per_s" -> (te("items_per_s") - e2e("items_per_s")),
          "trace.overhead.op_p50_ms" -> (te("op_p50_ms") - e2e("op_p50_ms")),
          "trace.overhead.op_p95_ms" -> (te("op_p95_ms") - e2e("op_p95_ms")))
      }
    st.spark.stop()
    Result(attempted, failedIds.size.toLong + buildsFailed, metrics)
  }

  private def sumDf(spark: SparkSession, index: File): Long =
    spark.read.parquet(new File(index, "termstats").getPath).agg(sum(col("df"))).first().getLong(0)

  /** Index builds that failed their checks: each setup's build must finish
    * with numDocs equal to the input rows, sum(df) must be the same for every
    * build of the run, and QueryEngine must open the index. */
  private def checkBuilds(st: State, builds: Seq[Try[IndexManifest]], dirs: Seq[File]): Long = {
    val dfs = dirs.map(d => Try(sumDf(st.spark, d)).getOrElse(-1L))
    val ok = builds.zip(dirs).zip(dfs).map { case ((m, d), df) =>
      m.isSuccess && m.get.numDocs == st.turns.length && df > 0 && df == dfs.head &&
        Try(new QueryEngine(st.spark, d.getPath)).isSuccess
    }
    if (ok.contains(false)) System.err.println(s"[perfbench] index build check failed: $builds sum(df)=$dfs")
    ok.count(!_).toLong
  }

  /** `build.*`: the traced build of the last setup and the index it wrote. */
  private def buildLayers(tracer: Tracer, st: State, cores: Int): Map[String, Double] = {
    val span = tracer.spans.filter(_.name == "build").lastOption
    if (span.isEmpty) return Map.empty
    val s = span.get.ms / 1000
    val u = tracer.usageBySpan.getOrElse(span.get.id, new Usage)
    val postings = sumDf(st.spark, st.indexDir).toDouble
    def bytes(d: String) = Fs.dataBytes(new File(st.indexDir, d)).toDouble
    val stored = Seq("postings", "norms", "termstats", "docstore").map(bytes).sum
    Map(
      "build.wall_s" -> s, "build.jobs" -> u.jobs.toDouble, "build.stages" -> u.stages.toDouble,
      "build.tasks" -> u.tasks.toDouble, "build.executor_cpu_s" -> u.cpuNs / 1e9,
      "build.cpu_utilization" -> u.cpuNs / 1e9 / (s * cores), "build.gc_s" -> u.gcMs / 1e3,
      "build.shuffle_write_bytes" -> u.shuffleWrite.toDouble, "build.shuffle_read_bytes" -> u.shuffleRead.toDouble,
      "build.spill_bytes" -> u.spill.toDouble, "build.output_bytes" -> u.output.toDouble,
      "build.postings" -> postings, "build.index_bytes_per_posting" -> bytes("postings") / postings,
      "build.postings_bytes" -> bytes("postings"), "build.norms_bytes" -> bytes("norms"),
      "build.termstats_bytes" -> bytes("termstats"), "build.docstore_bytes" -> bytes("docstore"),
      "build.stored_bytes_per_input_byte" -> stored / st.inputBytes)
  }

  /** Runs `f` over `qs` on one thread per core; results in input order. */
  private def parallel[T](qs: Vector[Q])(f: Q => T): Vector[T] = {
    val n = Runtime.getRuntime.availableProcessors()
    val out = new Array[Any](qs.length)
    val threads = (0 until n).map(c => new Thread(() =>
      qs.indices.filter(_ % n == c).foreach(i => out(i) = f(qs(i)))))
    threads.foreach(_.start()); threads.foreach(_.join())
    out.toVector.asInstanceOf[Vector[T]]
  }

  private def topKRows(engine: QueryEngine, q: Q): Hits =
    Hits(engine.topK(q.sq).collect().map(r => (r.getLong(0), r.getDouble(1))).toVector)

  private def request(tracer: Tracer, engine: QueryEngine, op: String, q: Q): Answer = op match {
    case "topk" =>
      tracer.span("termstats")(engine.termStatsOf(q.sq))
      val df = tracer.span("plan")(engine.topK(q.sq))
      val rows = tracer.span("exec")(df.collect())
      Hits(rows.map(r => (r.getLong(0), r.getDouble(1))).toVector)
    case "fetch" =>
      val df = tracer.span("fetch_hits")(engine.fetch(q.sq))
      val rows = tracer.span("fetch_docstore")(df.collect())
      Fetched(rows.map(r => (r.getAs[Long]("docId"), r.getAs[Double]("score"), r.getAs[String]("text"))).toVector)
    case _ =>
      Counted(tracer.span("count")(engine.searchStats(q.sq)))
  }

  private def endToEnd(ok: Vector[Req], all: Vector[Req]): Map[String, Double] = {
    if (ok.length < 200)
      System.err.println(s"[perfbench] warning: only ${ok.length} good requests; p95 wants 200")
    val wallS = if (all.isEmpty) 1.0 else (all.map(_.t1).max - all.map(_.t0).min) / 1e9
    val lat = ok.map(_.ms)
    Map("items_per_s" -> ok.length / wallS, "op_p50_ms" -> Stats.median(lat),
      "op_p95_ms" -> Stats.quantile(lat, 0.95))
  }

  /** Ids of requests that threw or answered wrongly. Each answer must equal
    * the first answer of the same query and operation in the run (for hot
    * topK that is the warm-up answer), equal Bm25Oracle's ranking, scores and
    * stats, carry the generated text byte for byte, and — for fresh
    * queries — hold at least one hit. */
  private def check(st: State, hot: Vector[Q], reqs: Vector[Req],
                    firstTopK: collection.Map[String, Hits]): Set[Long] = {
    val t0 = System.nanoTime()
    val oracle = Bm25Oracle.buildIndex(st.turns.indices.map { i =>
      val t = st.turns(i)
      DocTurn(i.toLong, t.convId, t.turnIdx, t.role, t.text, t.tool, new java.sql.Timestamp(t.tsMillis))
    })
    val expected = mutable.HashMap[String, (Vector[(Long, Double)], SearchStats)]()
    def oracleOf(q: Q) = expected.getOrElseUpdate(q.key,
      (Bm25Oracle.topK(oracle, q.sq).toVector, Bm25Oracle.stats(oracle, q.sq)))
    val first = mutable.HashMap[(String, String), Answer]()
    firstTopK.foreach { case (k, h) => first(("topk", k)) = h }
    val bad = mutable.HashSet[Long]()
    val why = mutable.LinkedHashMap[String, Int]().withDefaultValue(0)
    def fail(r: Req, reason: String): Unit = { bad += r.id; why(reason) += 1 }
    hot.foreach(q => if (firstTopK(q.key).rows != oracleOf(q)._1) why("hot first answer differs from oracle") += 1)
    reqs.foreach { r =>
      val (exp, expStats) = oracleOf(r.q)
      val prior = first.getOrElseUpdate((r.op, r.q.key), r.ans)
      r.ans match {
        case Threw(msg) => fail(r, s"threw: ${msg.take(200)}")
        case a =>
          if (a != prior) fail(r, "differs from first answer")
          if (!r.q.hot && r.empty) fail(r, "fresh query without hits")
          a match {
            case Hits(rows) => if (rows != exp) fail(r, "topK differs from oracle")
            case Fetched(rows) =>
              if (rows.map(x => (x._1, x._2)) != exp) fail(r, "fetch differs from oracle")
              if (rows.exists(x => !st.turns.lift(x._1.toInt).exists(_.text == x._3))) fail(r, "fetch text differs")
            case Counted(s) => if (s != expStats) fail(r, "stats differ from oracle")
            case _ =>
          }
      }
    }
    why.foreach { case (k, n) => System.err.println(s"[perfbench] check failed: $k (x$n)") }
    System.err.println(f"[perfbench] serve checks: ${Stats.secsSince(t0)}%.1f s")
    bad.toSet
  }

  private def perLayer(tracer: Tracer, ok: Vector[Req]): Map[String, Double] = {
    val okIds = ok.map(_.id).toSet
    val spans = tracer.spans.filter(s => okIds(s.req))
    val usage = tracer.usageBySpan
    val zero = new Usage
    def use(s: Span) = usage.getOrElse(s.id, zero)
    val roots = spans.filter(_.name == "request")
    val byReq = spans.groupBy(_.req)
    def reqUsage(root: Span): Usage = {
      val u = new Usage; byReq(root.req).foreach(s => u.add(use(s))); u
    }
    def named(n: String, p: Span => Boolean = _ => true) = {
      val rootOf = roots.map(r => r.req -> r).toMap
      spans.filter(s => s.name == n && p(rootOf(s.req)))
    }
    def cls(c: String): Span => Boolean = _.attrs("class") == c
    val exec = named("exec")
    val self = tracer.selfMs(spans)
    val reqWall = roots.map(_.ms).sum
    val all = roots.map(reqUsage)
    Map(
      "query.termstats_ms" -> Stats.mean(named("termstats").map(_.ms)),
      "query.jobs_per_req.fresh" -> Stats.mean(roots.filter(cls("fresh")).map(reqUsage(_).jobs.toDouble)),
      "query.jobs_per_req.hot" -> Stats.mean(roots.filter(cls("hot")).map(reqUsage(_).jobs.toDouble)),
      "query.plan_ms.hot" -> Stats.median(named("plan", cls("hot")).map(_.ms)),
      "query.plan_ms.fresh" -> Stats.median(named("plan", cls("fresh")).map(_.ms)),
      "query.exec_input_bytes" -> Stats.mean(exec.map(use(_).input.toDouble)),
      "query.exec_shuffle_bytes" -> Stats.mean(exec.map(use(_).shuffleRead.toDouble)),
      "query.exec_tasks" -> Stats.mean(exec.map(use(_).tasks.toDouble)),
      "query.exec_cpu_ms" -> Stats.mean(exec.map(use(_).cpuNs / 1e6)),
      "query.fetch_hits_ms" -> Stats.median(named("fetch_hits").map(_.ms)),
      "query.fetch_docstore_ms" -> Stats.median(named("fetch_docstore").map(_.ms)),
      "query.fetch_input_bytes" -> Stats.mean(roots.filter(_.attrs("op") == "fetch").map(reqUsage(_).input.toDouble)),
      "query.count_ms" -> Stats.median(named("count").map(_.ms)),
      "query.count_jobs" -> Stats.mean(named("count").map(use(_).jobs.toDouble)),
      "query.sched_wait_ms" -> {
        val w = all.map(_.waitedStages).sum
        if (w == 0) 0.0 else all.map(_.schedWaitMs).sum.toDouble / w
      },
      "query.gc_ms" -> Stats.mean(all.map(_.gcMs.toDouble)),
      "query.empty_result_share" -> (if (ok.isEmpty) 0.0 else ok.count(_.empty).toDouble / ok.length),
      "trace.self_time_share" -> (if (reqWall == 0) 0.0 else spans.map(s => self(s.id)).sum / reqWall),
      "trace.root_self_share" -> (if (reqWall == 0) 0.0 else roots.map(s => self(s.id)).sum / reqWall)
    ) ++ Catalog.Shapes.map { shape =>
      s"query.exec_ms.$shape" -> Stats.median(named("exec", r => cls("hot")(r) && r.attrs("shape") == shape).map(_.ms))
    }
  }
}
