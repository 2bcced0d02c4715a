package perfbench

import java.io.File
import java.nio.file.{Files, Path}

import scala.collection.mutable

/** Command-line arguments of one run. `work` is a scratch directory inside
  * the checkout; `out` receives the result object. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: File, out: File) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
}

/** What a workload hands back: operations attempted and failed (failed =
  * threw or gave a wrong answer) and its metric values by name. */
final case class Result(attempted: Long, failed: Long, metrics: Map[String, Double])

/** Every metric the benchmark prints, with its unit. An untraced run prints
  * [[EndToEnd]], a traced run [[PerLayer]]; BENCHMARK.json lists the same
  * names. A per-layer metric of a layer the workload does not run reads 0. */
object Catalog {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "items_per_s" -> "1/s", "op_p50_ms" -> "ms", "op_p95_ms" -> "ms")

  val Shapes: Seq[String] = Seq("stopword", "mid_and", "and3", "crossfield", "needle")
  val Ops: Seq[String] = Seq("quality", "langid", "exact", "decontam", "lsh", "keepers", "prefix")

  val PerLayer: Seq[(String, String)] =
    Seq(
      "query.termstats_ms" -> "ms", "query.jobs_per_req.fresh" -> "count",
      "query.plan_ms.hot" -> "ms", "query.plan_ms.fresh" -> "ms", "query.jobs_per_req.hot" -> "count") ++
    Shapes.map(s => s"query.exec_ms.$s" -> "ms") ++
    Seq(
      "query.exec_input_bytes" -> "bytes", "query.exec_shuffle_bytes" -> "bytes",
      "query.exec_tasks" -> "count", "query.exec_cpu_ms" -> "ms",
      "query.fetch_hits_ms" -> "ms", "query.fetch_docstore_ms" -> "ms", "query.fetch_input_bytes" -> "bytes",
      "query.count_ms" -> "ms", "query.count_jobs" -> "count",
      "query.sched_wait_ms" -> "ms", "query.gc_ms" -> "ms", "query.empty_result_share" -> "ratio",
      "serve.topk_p50_ms" -> "ms", "serve.fetch_p50_ms" -> "ms", "serve.stats_p50_ms" -> "ms",
      "serve.requests" -> "count") ++
    Seq("wall_s" -> "s", "jobs" -> "count", "stages" -> "count", "tasks" -> "count",
      "executor_cpu_s" -> "s", "cpu_utilization" -> "ratio", "gc_s" -> "s",
      "shuffle_write_bytes" -> "bytes", "shuffle_read_bytes" -> "bytes", "spill_bytes" -> "bytes",
      "output_bytes" -> "bytes", "postings" -> "count", "index_bytes_per_posting" -> "bytes",
      "postings_bytes" -> "bytes", "norms_bytes" -> "bytes", "termstats_bytes" -> "bytes",
      "docstore_bytes" -> "bytes", "stored_bytes_per_input_byte" -> "ratio")
      .map { case (m, u) => s"build.$m" -> u } ++
    Ops.flatMap(op => Seq("wall_s" -> "s", "jobs" -> "count", "stages" -> "count", "tasks" -> "count",
      "executor_cpu_s" -> "s", "shuffle_write_bytes" -> "bytes", "spill_bytes" -> "bytes",
      "rows_out" -> "count").map { case (m, u) => s"ops.$op.$m" -> u }) ++
    Seq("ops.lsh.recall" -> "ratio", "ops.keepers.dups_removed" -> "count",
      "curate.filters_s" -> "s", "curate.lsh_pairs_s" -> "s", "curate.keepers_s" -> "s",
      "curate.prefix_pairs_s" -> "s",
      "trace.overhead.items_per_s" -> "1/s", "trace.overhead.op_p50_ms" -> "ms",
      "trace.overhead.op_p95_ms" -> "ms", "trace.self_time_share" -> "ratio",
      "trace.root_self_share" -> "ratio")
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < 0x20 => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  /** Writes the run's result object. Every catalogued metric must be a
    * finite number; end-to-end metrics must also be present. */
  def writeResult(out: File, r: Result, catalog: Seq[(String, String)], required: Boolean): Unit = {
    val ms = catalog.map { case (name, unit) =>
      val v = r.metrics.get(name) match {
        case Some(x) => x
        case None if !required => 0.0
        case None => sys.error(s"metric $name was not measured")
      }
      require(!v.isNaN && !v.isInfinite, s"metric $name is not finite: $v")
      s"${str(name)}:{\"value\":$v,\"unit\":${str(unit)}}"
    }
    val json = s"""{"correct":${r.failed == 0},"attempted":${r.attempted},"failed":${r.failed},""" +
      s""""metrics":{${ms.mkString(",")}}}"""
    Files.write(out.toPath, json.getBytes("UTF-8"))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

object Fs {
  def wipe(f: File): Unit = {
    if (f.exists()) {
      val p = f.toPath
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
    }
  }

  /** Bytes of the data files under `f` (Hadoop's hidden `.crc` and `_SUCCESS`
    * markers excluded). */
  def dataBytes(f: File): Long =
    if (!f.exists()) 0L
    else {
      var n = 0L
      Files.walk(f.toPath).forEach { p =>
        val name = p.getFileName.toString
        if (Files.isRegularFile(p) && !name.startsWith(".") && !name.startsWith("_")) n += Files.size(p)
      }
      n
    }
}

/** Timed set-up: the run sets itself up [[Reps]] times and keeps the last
  * set-up's state, then warms that state up once. setup_s is the median
  * set-up time plus the warm-up time. Each set-up starts a new Spark session
  * through the program's own factory. */
object Setup {
  val Reps = 3

  def repeated[S](tracer: Tracer, stop: S => Unit)(once: Int => S)(warmUp: S => Unit): (S, Double) = {
    val times = mutable.ArrayBuffer[Double]()
    var state: Option[S] = None
    (0 until Reps).foreach { rep =>
      state.foreach(stop)
      tracer.reset()
      val t0 = System.nanoTime()
      state = Some(once(rep))
      times += Stats.secsSince(t0)
    }
    val t0 = System.nanoTime()
    warmUp(state.get)
    val warm = Stats.secsSince(t0)
    System.err.println(f"[perfbench] set-up times: ${times.map(t => f"$t%.2f").mkString(" ")} s, " +
      f"warm-up $warm%.2f s")
    (state.get, Stats.median(times.toSeq) + warm)
  }

  def session(a: Args): org.apache.spark.sql.SparkSession =
    graft.Sessions.local(a.cores, s"perfbench-${a.workload}")
}
