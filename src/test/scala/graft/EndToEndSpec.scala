package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.build.{DocIds, IndexBuilder, IndexConfig}
import graft.gen.TranscriptGen
import graft.model.DocTurn
import graft.query.{Bm25Oracle, QueryEngine, SearchQuery}

/** The core correctness gate (SURVEY.md §5.3): engine top-k docIds AND BM25
  * scores exactly (==) equal the brute-force oracle on the fixed query set;
  * per-turn text equality end-to-end; reference pv/uv stats semantics.
  */
class EndToEndSpec extends SparkFunSuite {
  import spark.implicits._

  val N = 3000L
  lazy val indexDir: String = SparkSpec.tmpDir("graft-e2e-index")
  lazy val built = IndexBuilder.build(
    spark, TranscriptGen.turns(spark, N, 4).toDF(), indexDir,
    IndexConfig(buckets = 8, chunkDocs = 256, blockSize = 32))
  lazy val engine: QueryEngine = { built; new QueryEngine(spark, indexDir) }

  lazy val oracleDocs: Seq[DocTurn] = {
    val docs = DocIds.assign(TranscriptGen.turns(spark, N, 4).toDF())
    docs.select("docId", "conv_id", "turn_idx", "role", "text", "tool", "ts")
      .as[DocTurn].collect().toSeq.sortBy(_.docId)
  }
  lazy val oracle = Bm25Oracle.buildIndex(oracleDocs)

  // the fixed "reference query set" (FIXTURES.md §2 shape)
  val queries: Seq[(String, SearchQuery)] = Seq(
    "q01_single" -> SearchQuery.of(Seq("text" -> Seq("error")), 10),
    "q02_and2" -> SearchQuery.of(Seq("text" -> Seq("error", "timeout")), 10),
    "q03_needle" -> SearchQuery.of(Seq("text" -> Seq("needle-000001")), 10),
    "q04_stopword_k100" -> SearchQuery.of(Seq("text" -> Seq("the")), 100),
    "q05_crossfield" -> SearchQuery.of(Seq("tool" -> Seq("grep"), "text" -> Seq("match")), 25),
    "q06_and3" -> SearchQuery.of(Seq("text" -> Seq("w000017", "w000042", "ok")), 10),
    "q07_case_norm" -> SearchQuery.of(Seq("text" -> Seq("ERROR ")), 10),
    "q08_absent" -> SearchQuery.of(Seq("text" -> Seq("zzznotpresent")), 10),
    "q09_role" -> SearchQuery.of(Seq("role" -> Seq("tool"), "text" -> Seq("fail")), 15),
    "q10_dup_terms" -> SearchQuery.of(Seq("text" -> Seq("error", "error", "retry")), 10))

  test("driver flagship entry() returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("rank identity: engine top-k docIds AND scores == oracle, exactly") {
    queries.foreach { case (name, q) =>
      val expected = Bm25Oracle.topK(oracle, q)
      val got = engine.topK(q).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got.map(_._1) == expected.map(_._1), s"$name docIds differ\n got=$got\n exp=$expected")
      got.zip(expected).foreach { case ((gd, gs), (ed, es)) =>
        assert(gs == es, s"$name doc $gd/$ed score $gs != $es (exact)")
      }
    }
  }

  test("profiled top-k: identical results + kernel counters expose block-max skipping") {
    // result identity: the profiled path is the same plan with accumulators
    queries.foreach { case (name, q) =>
      val plain = engine.topK(q).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val (prof, _) = engine.topKProfiled(q)
      assert(prof.toSeq == plain, s"$name profiled != plain")
    }
    // across the query set (blockSize=32, AND queries align a rare cursor
    // against common terms; stopword queries fill the heap), the kernel must
    // demonstrably skip postings/blocks undecoded — the block-max +
    // alignment benefit as a measured number
    val totals = queries.map { case (_, q) => engine.topKProfiled(q)._2 }
      .reduce((a, b) => a.map { case (k0, v) => k0 -> (v + b(k0)) })
    assert(totals("docs_scored") > 0 && totals("postings_decoded") > 0, s"$totals")
    assert(totals("blocks_skipped") > 0 && totals("postings_skipped") > 0,
      s"kernel never skipped undecoded: $totals")
    // absent term: nothing decoded, nothing scored
    val (h8, s8) = engine.topKProfiled(SearchQuery.of(Seq("text" -> Seq("zzznotpresent")), 10))
    assert(h8.isEmpty && s8("postings_decoded") == 0 && s8("docs_scored") == 0)
  }

  test("concurrent queries on a fresh engine match serial results (cache races)") {
    // topK builds plans OUTSIDE the cache map and publishes with putIfAbsent;
    // 8 threads hammering a COLD engine with the full query set must agree
    // with the serial answers (duplicate concurrent builds are allowed,
    // divergent results are not)
    val serial = queries.map { case (name, q) =>
      name -> engine.topK(q).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }.toMap
    val coldEngine = new QueryEngine(spark, indexDir)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (0 until 8).flatMap { i =>
        queries.map { case (name, q) =>
          name -> pool.submit(new java.util.concurrent.Callable[Seq[(Long, Double)]] {
            def call(): Seq[(Long, Double)] =
              coldEngine.topK(q).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
          })
        }
      }
      futures.foreach { case (name, f) =>
        assert(f.get(120, java.util.concurrent.TimeUnit.SECONDS) == serial(name),
          s"$name diverged under concurrency")
      }
    } finally pool.shutdownNow()
  }

  test("norms paths agree: driver-cached LocalRelation == distributed semi-join") {
    // the serving fast path injects cached norms as a LocalRelation; the
    // 100 TB path semi-joins norms to chunks with postings. Same results
    // required on the full query set (rank identity covers the fast path —
    // here a size-cap override of 0 forces a fresh engine onto the
    // distributed path and both are compared directly).
    val prop = "graft.norms.cache.max.bytes"
    sys.props(prop) = "0"
    try {
      val distEngine = new QueryEngine(spark, indexDir)
      queries.foreach { case (name, q) =>
        val fast = engine.topK(q).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val dist = distEngine.topK(q).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(fast == dist, s"$name: fast=$fast dist=$dist")
      }
    } finally sys.props.remove(prop)
  }

  /** 8 threads drive a COLD engine past the prepared-query cache's
    * 1024-entry cap: one term set at k = 1..1100 (1100 top-k keys) with
    * fetchFiltered and matchCount mixed in, so the cache clears while other
    * threads read and publish. Top-k order is total (score desc, docId asc),
    * so the serial answer at k is the k-prefix of the serial answer at 1100. */
  private def preparedCacheOverCap(cold: QueryEngine): Unit = {
    def hits(df: DataFrame): Seq[(Long, Double)] =
      df.select("docId", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val maxK = 1100
    val base = SearchQuery.of(Seq("text" -> Seq("the", "run")), maxK)
    val isUser = col("role") === "user"
    val roleOf = oracleDocs.map(d => d.docId -> d.role).toMap
    val all = Bm25Oracle.topK(oracle, base.copy(k = Int.MaxValue))
    val serialTop = hits(engine.topK(base))
    val serialUsers = hits(engine.fetchFiltered(base, isUser))
    val serialCount = engine.matchCount(base)
    assert(serialTop.nonEmpty && serialTop == all.take(maxK))
    assert(serialUsers.nonEmpty && serialUsers == all.filter(h => roleOf(h._1) == "user").take(maxK))
    assert(serialCount > 0 && serialCount == Bm25Oracle.stats(oracle, base).total)

    val calls: Seq[(String, () => Any, Any)] = (1 to maxK).flatMap { k =>
      val q = base.copy(k = k)
      (s"topK k=$k", () => hits(cold.topK(q)), serialTop.take(k)) +:
        (if (k % 25 != 0) Nil else Seq(
          (s"fetchFiltered k=$k", () => hits(cold.fetchFiltered(q, isUser)), serialUsers.take(k)),
          (s"matchCount k=$k", () => cold.matchCount(q), serialCount)))
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = calls.map { case (name, run, exp) =>
        (name, exp, pool.submit(new java.util.concurrent.Callable[Any] { def call(): Any = run() }))
      }
      futures.foreach { case (name, exp, f) =>
        assert(f.get(300, java.util.concurrent.TimeUnit.SECONDS) == exp, s"$name diverged under concurrency")
      }
    } finally pool.shutdownNow()
  }

  test("prepared-query cache over its cap under concurrency == serial == oracle") {
    preparedCacheOverCap(new QueryEngine(spark, indexDir))
  }

  test("prepared-query cache over its cap under concurrency, distributed norms path") {
    val prop = "graft.norms.cache.max.bytes"
    sys.props(prop) = "0"
    val distEngine = try new QueryEngine(spark, indexDir) finally sys.props.remove(prop)
    preparedCacheOverCap(distEngine)
  }

  test("per-turn text equality: fetched text == generator text for every hit") {
    val q = queries(1)._2 // error AND timeout
    val rows = engine.fetch(q).collect()
    assert(rows.nonEmpty)
    val textByDocId = oracleDocs.map(d => d.docId -> d.text).toMap
    rows.foreach { r =>
      val docId = r.getLong(r.fieldIndex("docId"))
      assert(r.getString(r.fieldIndex("text")) == textByDocId(docId))
      // stable turn ordering invariant: docId really is the rank key
      val d = oracleDocs(docId.toInt)
      assert(r.getString(r.fieldIndex("conv_id")) == d.conv_id)
      assert(r.getInt(r.fieldIndex("turn_idx")) == d.turn_idx)
    }
  }

  /** On every fixed query, fetch(q) gives the oracle's (docId, score) in
    * rank order, with the generator's text. q04 (k=100) fetches more than 10
    * ids, where parquet gets a docId range instead of an IN list; q08 (an
    * absent term) fetches nothing. */
  private def fetchParity(e: QueryEngine): Unit = {
    val textByDocId = oracleDocs.map(d => d.docId -> d.text).toMap
    val fetched = queries.map { case (name, q) =>
      val rows = e.fetch(q).collect()
      val got = rows.map(r => (r.getAs[Long]("docId"), r.getAs[Double]("score"))).toSeq
      assert(got == Bm25Oracle.topK(oracle, q), s"$name: fetch differs from the oracle\n got=$got")
      rows.foreach { r =>
        assert(r.getAs[String]("text") == textByDocId(r.getAs[Long]("docId")), s"$name text")
      }
      name -> rows.length
    }.toMap
    assert(fetched("q04_stopword_k100") > 10 && fetched("q08_absent") == 0, s"$fetched")
  }

  test("fetch parity: (docId, score) == oracle top-k and text == generator text") {
    fetchParity(engine)
  }

  test("fetch parity on the distributed norms path") {
    val prop = "graft.norms.cache.max.bytes"
    sys.props(prop) = "0"
    val distEngine = try new QueryEngine(spark, indexDir) finally sys.props.remove(prop)
    fetchParity(distEngine)
  }

  test("fetch of a top-k docId missing from the docstore names it and the index dir") {
    built
    val copy = SparkSpec.tmpDir("graft-e2e-damaged")
    val src = java.nio.file.Path.of(indexDir)
    val walk = java.nio.file.Files.walk(src)
    try walk.forEach { p =>
      val to = java.nio.file.Path.of(copy).resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(to)
      else java.nio.file.Files.copy(p, to)
    } finally walk.close()
    val parts = new java.io.File(s"$copy/docstore").listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(parts.length >= 2, s"docstore has ${parts.length} part files")
    val gone = parts.last
    val goneIds = spark.read.parquet(gone.getPath).select("docId").collect().map(_.getLong(0)).toSet
    assert(gone.delete())
    new java.io.File(gone.getParent, s".${gone.getName}.crc").delete()

    val damaged = new QueryEngine(spark, copy)
    val q = SearchQuery.of(Seq("text" -> Seq("the")), N.toInt)
    val hits = damaged.topK(q).collect().map(_.getLong(0))
    val missing = hits.filter(goneIds)
    assert(missing.nonEmpty, "the removed part holds no hit of the query")
    val e = intercept[IllegalStateException](damaged.fetch(q))
    assert(e.getMessage.contains(copy), e.getMessage)
    assert(e.getMessage.contains(s"${missing.length} of ${hits.length} top-k docIds"), e.getMessage)
    assert(e.getMessage.contains(missing.take(20).mkString(", ")), e.getMessage)
  }

  test("a truncated or incomplete core.json fails with the manifest path and the bad key") {
    built
    val copy = SparkSpec.copyOf(indexDir, "graft-e2e-manifest")
    val core = java.nio.file.Path.of(copy, "_manifest", "core.json")
    val json = new String(java.nio.file.Files.readAllBytes(core), "UTF-8")
    def failure(content: String): String = {
      java.nio.file.Files.write(core, content.getBytes("UTF-8"))
      java.nio.file.Files.deleteIfExists(core.resolveSibling(".core.json.crc"))
      val e = intercept[IllegalStateException](new QueryEngine(spark, copy))
      assert(e.getMessage.contains(s"$copy/_manifest/core.json"), e.getMessage)
      e.getMessage
    }
    assert(failure(json.take(json.indexOf("\"chunkDocs\"") + 5)).contains("not valid JSON"))
    assert(failure("").contains("not a JSON object"))
    val noChunkDocs = json.replaceFirst("\"chunkDocs\":\\d+,", "")
    assert(noChunkDocs != json)
    assert(failure(noChunkDocs).contains("missing key 'chunkDocs'"))
    assert(failure(json.replaceFirst("\"numDocs\":(\\d+)", "\"numDocs\":\"$1\""))
      .contains("key 'numDocs' is not an integer"))
    java.nio.file.Files.delete(core)
    assert(intercept[IllegalStateException](IndexBuilder.readManifest(spark, copy))
      .getMessage.contains("not found"))
    // the untouched original still opens
    assert(IndexBuilder.readManifest(spark, indexDir) == built)
  }

  test("pv/uv stats match reference semantics (single=header, multi=|intersection|)") {
    queries.foreach { case (name, q) =>
      val got = engine.searchStats(q)
      val exp = Bm25Oracle.stats(oracle, q)
      assert(got == exp, s"$name stats")
    }
  }

  test("needle query returns exactly its one turn") {
    val q = SearchQuery.of(Seq("text" -> Seq("needle-000002")), 10)
    val hits = engine.fetch(q).collect()
    assert(hits.length == 1)
    assert(hits(0).getString(hits(0).fieldIndex("text")).contains("needle-000002"))
  }

  test("fetch of an absent term is empty, with the column order of a non-empty fetch") {
    val empty = engine.fetch(SearchQuery.of(Seq("text" -> Seq("zzznotpresent")), 10))
    assert(empty.collect().isEmpty)
    assert(empty.columns.toSeq == engine.fetch(queries(1)._2).columns.toSeq)
  }

  test("index layout: postings are bucket-partitioned, docstore docId-sorted") {
    val buckets = new java.io.File(s"$indexDir/postings").listFiles()
      .filter(_.getName.startsWith("bucket=")).map(_.getName)
    assert(buckets.nonEmpty && buckets.length <= 8)
    val ds = spark.read.parquet(s"$indexDir/docstore").select("docId").collect().map(_.getLong(0))
    assert(ds.length == N)
    assert(ds.toSeq.sorted == (0L until N))
  }

  test("count-only kernel: matchCount == oracle intersection size on the query set") {
    queries.foreach { case (name, q) =>
      val posts = q.terms.map(t => oracle.tfs.getOrElse(t, Map.empty[Long, Int]))
      val exp =
        if (q.terms.isEmpty || posts.exists(_.isEmpty)) 0L
        else posts.map(_.keySet).reduce(_ intersect _).size.toLong
      assert(engine.matchCount(q) == exp, name)
    }
  }

  test("fetchFiltered: predicate applies below the top-k cut, scores exact") {
    val q = SearchQuery.of(Seq("text" -> Seq("error")), 12)
    val got = engine.fetchFiltered(q, col("role") === "user")
      .select("docId", "role", "score").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val roleOf = oracleDocs.map(d => d.docId -> d.role).toMap
    val exp = Bm25Oracle.topK(oracle, q.copy(k = Int.MaxValue))
      .filter { case (d, _) => roleOf(d) == "user" }
      .take(12)
    assert(got.length == exp.length && got.nonEmpty)
    got.zip(exp).foreach { case ((d, role, s), (ed, es)) =>
      assert(d == ed && role == "user" && s == es) // exact-score parity
    }
    // the filter must NOT shrink the page below k while matches remain
    val unfiltered = Bm25Oracle.topK(oracle, q).map(_._1).toSet
    assert(got.exists(g => !unfiltered.contains(g._1)),
      "filtered page should reach past the unfiltered top-k (over-fetch works)")

    // cache correctness (round 5): the scoring subtree is cached per term
    // set — a SECOND call with a DIFFERENT predicate must not inherit the
    // first predicate's filter, and repeat calls stay stable
    val tools = engine.fetchFiltered(q, col("role") === "tool")
      .select("role").collect().map(_.getString(0))
    assert(tools.nonEmpty && tools.forall(_ == "tool"))
    val again = engine.fetchFiltered(q, col("role") === "user")
      .select("docId", "role", "score").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(again.toSeq == got.toSeq)
    // matchCount memo: repeat call returns the identical count
    val q2 = SearchQuery.of(Seq("text" -> Seq("error", "timeout")), 10)
    assert(engine.matchCount(q2) == engine.matchCount(q2))
  }

}
