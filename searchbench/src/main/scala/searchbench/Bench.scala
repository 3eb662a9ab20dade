package searchbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.EngineApi
import graft.core.{Domain, StubEmbedder, Tables}
import graft.functions.{ProbMethods, VectorFunctions}
import graft.ops.{CacheOps, Caches, Upsert}
import graft.search.SearchEngine

/** Sizes of each workload: the full sizes are what the benchmark measures,
  * `toy` what the self-test runs in seconds. BENCHMARK.json and README.md
  * state the full sizes.
  */
object Config {
  /** Query cache of cached-churn: LRU `capacity` queries out of a pool of
    * `pool` strings requested with Zipf(`zipf`) skew. The exponent 0.8 is
    * taken from web-search query logs, where query popularity is Zipf-like
    * with an exponent below 1 (Xie and O'Hallaron, "Locality in search
    * engine queries and its implications for caching", INFOCOM 2002). With
    * a pool four times the capacity, about three in four requests of the
    * loop miss, so the loop's p50 is a miss and hits set the throughput
    * between them. */
  final case class Cache(capacity: Int, pool: Int, zipf: Double)
  final case class Workload(sizes: Sizes, cache: Option[Cache])

  def apply(workload: String, toy: Boolean): Workload = workload match {
    case "exact-search" => Workload(if (toy) Sizes(300, 32) else Sizes(4000, 128), None)
    case "cached-churn" => Workload(if (toy) Sizes(200, 16) else Sizes(2000, 64),
      Some(if (toy) Cache(3, 12, 0.8) else Cache(4, 16, 0.8)))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Timed set-ups, after one warm-up set-up of `WarmupDocs` documents. */
  val SetupReps = 2
  val WarmupDocs = 200
  /** exact-search's warm-up; its commits before the loop warm the JVM too. */
  val WarmupQueries = 4
  /** Each commit uploads this share of the live entities and deletes `Deletes`. */
  val ChurnShare = 0.01
  val Deletes = 2
  /** Timed commits, after one warm-up commit. */
  val Commits = 2
}

/** One run of one workload: set-up, the timed closed loop, the commits, the
  * correctness checks and the metrics. With tracing on, every other search
  * of the loop is traced, so the tracing overhead is the traced searches'
  * median latency minus the untraced ones', both taken under the same JIT
  * state, index and host load.
  */
final class Bench(spark: SparkSession, workload: String, seed: Long, seconds: Double,
    traceOn: Boolean, toy: Boolean, work: Path) {
  import Gen._

  private val sc = spark.sparkContext
  private val listener: Option[OpListener] =
    if (traceOn) { val l = new OpListener; sc.addSparkListener(l); Some(l) } else None
  private val embedCounter = StubEmbedder.installCounter(spark)
  private val origin = System.nanoTime()

  private val tracer = new Tracer(traceOn)

  /** Phase timeline on stderr, in seconds since the JVM started. */
  private def mark(label: String): Unit = System.err.println(
    f"[searchbench] ${(System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.1fs $label")

  var attempted = 0L
  var failed = 0L
  private def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; System.err.println(s"[searchbench] check failed: $what") }
  }

  /** The run's measurements. */
  final class Measured {
    val queryMs = mutable.ArrayBuffer.empty[Double]
    val queryTraced = mutable.ArrayBuffer.empty[Boolean]
    val queryHit = mutable.ArrayBuffer.empty[Boolean]
    val queryServiceMs = mutable.ArrayBuffer.empty[Double]
    val commitMs = mutable.ArrayBuffer.empty[Double]
    val opGroups = mutable.ArrayBuffer.empty[String]
    val gcMs = mutable.ArrayBuffer.empty[Double]
    var hits, misses, evictions = 0L
    val bucketCounts = mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val embedRows = mutable.ArrayBuffer.empty[(Long, Long)] // (embedded, truly needed)
    val bytesWritten = mutable.ArrayBuffer.empty[(Long, Long)] // (bytes, changed text bytes)
    val simEvals = mutable.ArrayBuffer.empty[Long]
    var tracked = 0
  }
  private val cur = new Measured

  private var opSeq = 0
  /** One client request: job group, GC delta and wall time. A request that
    * throws counts as failed with infinite latency.
    */
  private def op[T](kind: String)(body: => T): (Option[T], Double) = {
    opSeq += 1
    val g = s"${if (warming) "warm-" else ""}$kind-$opSeq"
    tracer.request = g
    sc.setJobGroup(g, g, interruptOnCancel = false)
    val gc0 = Gc.totalMs
    val t0 = System.nanoTime()
    val r = try Some(tracer.span(s"op.$kind")(body)) catch {
      case NonFatal(e) =>
        System.err.println(s"[searchbench] $kind failed: $e"); None
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (!warming) { cur.opGroups += g; cur.gcMs += (Gc.totalMs - gc0).toDouble }
    sc.clearJobGroup()
    (r, if (r.isEmpty) Double.PositiveInfinity else ms)
  }

  // ---------------------------------------------------------------- inputs

  private val entSchema = StructType(Seq(
    StructField("searchdomain", StringType), StructField("entity_id", LongType),
    StructField("name", StringType), StructField("probmethod", StringType),
    StructField("attributes", MapType(StringType, StringType))))
  private val dpSchema = StructType(Seq(
    StructField("searchdomain", StringType), StructField("entity_id", LongType),
    StructField("datapoint_id", LongType), StructField("name", StringType),
    StructField("probmethod", StringType), StructField("similaritymethod", StringType),
    StructField("text", StringType)))

  private def df(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private def entitiesDf(docs: Seq[Doc]): DataFrame = df(docs.map(d =>
    Row(DomainName, d.id, d.name, entityMethod(seed, d.id),
      Map("lang" -> lang(seed, d.id), "source" -> source(seed, d.id)))), entSchema)

  private def datapointsDf(docs: Seq[Doc]): DataFrame = df(docs.flatMap(d =>
    datapoints(seed, d).map(p => Row(DomainName, p.entityId, p.datapointId, p.name,
      p.probmethod, p.similaritymethod, p.text))), dpSchema)

  private def distinctTexts(docs: Seq[Doc]): Long =
    docs.iterator.flatMap(d => Iterator(d.title, d.text)).toSet.size.toLong

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f)).mapToLong(f => Files.size(f)).sum()
      finally s.close()
    }

  private def rm(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  // ---------------------------------------------------------------- set-up

  /** Corpus to ready index: one `upsertEntities` onto a new domain, the
    * snapshot written, read back, cached in memory and materialized.
    */
  private def setup(docs: IndexedSeq[Doc], dim: Int, dir: Path): (Domain, Double) = {
    val e0 = embedCounter.value
    val t0 = System.nanoTime()
    val dom = tracer.span("setup") {
      val (empty, _) = EngineApi.createDomain(spark)
      val built = tracer.span("api.upsert") {
        EngineApi.upsertEntities(spark, empty, entitiesDf(docs), datapointsDf(docs), Models, dim)
      }
      tracer.span("core.tables_write")(Tables.writeDomain(built, dir.toString))
      tracer.span("core.tables_read")(load(Tables.readDomain(spark, dir.toString)))
    }
    val s = (System.nanoTime() - t0) / 1e9
    val want = distinctTexts(docs) * Models.size
    check(embedCounter.value - e0 == want, s"setup embedded ${embedCounter.value - e0} rows, want $want")
    (dom, s)
  }

  /** The served index: every table cached and materialized. */
  private def load(d: Domain): Domain = {
    val p = d.persisted()
    p.entities.count(); p.datapoints.count(); p.embeddings.count()
    p
  }

  private def unpersist(d: Domain): Unit = {
    d.entities.unpersist(blocking = true); d.datapoints.unpersist(blocking = true)
    d.embeddings.unpersist(blocking = true)
  }

  /** Set up `reps` times and keep the last index; returns it and the
    * set-up times. Set-up `k` runs as request and job group `tag-k`. */
  private def setupMedian(docs: IndexedSeq[Doc], dim: Int, reps: Int, tag: String): (Domain, Path, Seq[Double]) = {
    var keep: (Domain, Path) = null
    val times = (1 to reps).map { k =>
      if (keep != null) { unpersist(keep._1); rm(keep._2) }
      val dir = work.resolve(s"snap-$tag-$k")
      sc.setJobGroup(s"$tag-$k", tag, interruptOnCancel = false)
      tracer.request = s"$tag-$k"
      val (d, s) = setup(docs, dim, dir)
      sc.clearJobGroup()
      keep = (d, dir)
      s
    }
    (keep._1, keep._2, times)
  }

  // ------------------------------------------------------------- the search

  /** `EngineApi.query` and its result rows. Traced, the query-embedding
    * frame is also materialized alone and the plan is forced separately.
    */
  private def query(dom: Domain, q: String, dim: Int): Seq[(String, Double)] = {
    val rows = tracer.span("api.query") {
      if (tracer.on) {
        val g = s"${tracer.request}-embed"
        sc.setJobGroup(g, g, interruptOnCancel = false)
        tracer.span("search.query_embed")(SearchEngine.queryEmbeddings(spark, dom, q, dim).collect())
        sc.setJobGroup(tracer.request, tracer.request, interruptOnCancel = false)
      }
      val res = EngineApi.query(spark, dom, q, TopN, dim)
      tracer.span("search.plan")(res.queryExecution.executedPlan)
      val out = tracer.span("search.exec")(res.collect())
      if (tracer.on && !warming) (if (sweeping) sweepSimEvals else cur.simEvals) += Plans.similarityEvals(res)
      out
    }
    rows.map(r => (r.getString(0), r.getDouble(1))).toSeq
  }

  // ------------------------------------------------------------- workloads

  private def deadline(): Long = System.nanoTime() + (seconds * 1e9).toLong

  /** Warm-up requests run the same code and checks but record no latency. */
  private var warming = false
  private def recordQuery(ms: Double, ok: Boolean, traced: Boolean, hit: Boolean = false): Unit = if (!warming) {
    cur.queryServiceMs += ms
    cur.queryMs += (if (ok) ms else Double.PositiveInfinity)
    cur.queryTraced += traced
    cur.queryHit += hit
  }

  private def recordCommit(ms: Double, ok: Boolean): Unit = if (!warming)
    cur.commitMs += (if (ok) ms else Double.PositiveInfinity)

  /** In a traced run, trace every other request that runs a search; a
    * cache hit keeps the setting of the request before it. So traced and
    * untraced searches alternate wherever the hits fall, and the tracing
    * overhead compares neighbours. */
  private var searches = 0
  private def alternate(): Unit = if (traceOn) tracer.on = searches % 2 == 1
  private def endAlternation(): Unit = tracer.on = traceOn

  /** Distinct query strings, generated on demand. */
  private final class Queries(v: Vocab, salt: Long) {
    private val seen = mutable.HashSet.empty[String]
    private var i = 0L
    def next(): String = {
      var q = v.text(7L + salt * 1000, i, 3, 6); i += 1
      while (!seen.add(q)) { q = v.text(7L + salt * 1000, i, 3, 6); i += 1 }
      q
    }
  }

  /** exact-search: every query string is new, so each one scores the whole
    * index; the answers are re-scored by [[Scorer]] afterwards.
    */
  private def exactLoop(dom: Domain, docs: IndexedSeq[Doc], v: Vocab, dim: Int): Unit = {
    val qs = new Queries(v, 1)
    val answered = mutable.ArrayBuffer.empty[(String, Option[Seq[(String, Double)]], Double, Boolean)]
    def one(): Unit = {
      alternate(); searches += 1
      val q = qs.next()
      val (r, ms) = op("query")(query(dom, q, dim))
      answered += ((q, r, if (warming) Double.NaN else ms, tracer.on))
    }
    warming = true; (1 to Config.WarmupQueries).foreach(_ => one()); warming = false
    mark("warmed up")
    val end = deadline()
    while (System.nanoTime() < end) one()
    endAlternation()
    mark("window done")
    val scorer = new Scorer(seed, dim)
    answered.foreach { case (q, got, ms, traced) =>
      val ok = got.exists(rows => Scorer.agrees(rows, scorer.topN(docs, q, TopN), 1e-6))
      check(ok, s"exact-search '$q': got $got")
      if (!ms.isNaN) recordQuery(ms, ok, traced)
    }
  }

  private val cacheSchema = StructType(Seq(
    StructField("name", StringType), StructField("score", DoubleType),
    StructField("rank", LongType), StructField("query", StringType)))
  private val recencySchema = StructType(Seq(
    StructField("query", StringType), StructField("last_access", LongType)))

  /** The client's query cache for `EngineApi.queryCached`. Its capacity is
    * enforced as an LRU over query strings with `CacheOps.lruTrim`; every
    * change is stored as a new Parquet version that is read back, so the
    * cache is durable and the plan of the frame the next request probes does
    * not grow with the number of misses.
    */
  private final class QueryCache(cfg: Config.Cache, dim: Int) {
    private val dir = work.resolve("qcache")
    private var version = 0
    private val recency = mutable.LinkedHashMap.empty[String, Long]
    private val stored = mutable.HashMap.empty[String, Seq[(String, Double)]]
    private var t = 0L
    var frame: DataFrame = store(df(Nil, cacheSchema))

    private def store(c: DataFrame): DataFrame = {
      version += 1
      val p = dir.resolve(s"v$version").toString
      c.select(cacheSchema.fieldNames.toIndexedSeq.map(col): _*).write.parquet(p)
      rm(dir.resolve(s"v${version - 2}"))
      spark.read.schema(cacheSchema).parquet(p)
    }

    /** One request; a hit must return the list stored at its miss. */
    def request(dom: Domain, q: String): Unit = {
      t += 1
      var hit = false
      val (r, ms) = op("query") {
        val (rows, next) = tracer.span("api.query_cached") {
          val (res, next) = EngineApi.queryCached(spark, dom, frame, q, TopN, dim)
          (res.collect().map(x => (x.getString(0), x.getDouble(1))).toSeq, next)
        }
        hit = next eq frame
        recency(q) = t
        if (!hit) tracer.span("ops.cache_trim") {
          val keep = CacheOps.lruTrim(df(recency.toSeq.map { case (k, at) => Row(k, at) }, recencySchema),
            Nil, col("last_access"), col("query"), cfg.capacity).select("query")
          val kept = keep.collect().map(_.getString(0)).toSet
          val evicted = recency.keys.filterNot(kept).toSeq
          evicted.foreach(recency.remove)
          if (!warming) cur.evictions += evicted.size
          frame = store(next.join(keep, Seq("query"), "left_semi"))
        }
        rows
      }
      if (!hit) searches += 1
      if (!warming) { if (hit) cur.hits += 1 else cur.misses += 1 }
      val ok = r match {
        case None => false
        case Some(rows) if hit => stored.get(q).contains(rows)
        case Some(rows) =>
          // a repeat miss (after eviction) must reproduce the first answer
          val same = stored.get(q).forall(_ == rows)
          stored(q) = rows
          same
      }
      check(ok, s"queryCached '$q' (hit=$hit) returned $r, stored ${stored.get(q)}")
      recordQuery(ms, ok, tracer.on, hit)
    }

    /** Bring the cache up to date with a commit (`CacheOps.maintain` with
      * `CacheReconciliation` off, which drops the domain's cached lists)
      * and store the result. Reconciling instead re-scores the uploaded
      * entities against every cached query, one search per cached query,
      * which at several seconds a commit does not fit the run.
      */
    def maintain(b: Batch): Unit = {
      val names = StructType(Seq(StructField("query", StringType), StructField("name", StringType),
        StructField("score", DoubleType)))
      val changes = df(b.docs.map(d => Row("", d.name, 0.0)), names)
      val deletes = df(b.deletes.map(d => Row(d.name)), StructType(Seq(StructField("name", StringType))))
      frame = store(CacheOps.maintain(frame, changes, deletes, "query", cacheReconciliation = false))
      recency.clear(); stored.clear()
    }

    def drop(): Unit = rm(dir)
  }

  /** cached-churn's query loop: Zipf-skewed strings through the cache.
    * Warm-up requests the `capacity` most popular strings once, as a cache
    * that has been serving would hold them.
    */
  private def cachedLoop(dom: Domain, qc: QueryCache, cfg: Config.Cache, v: Vocab): Unit = {
    val pool = Corpus.queries(seed, v, 2, cfg.pool)
    val stream = Corpus.zipfRanks(cfg.pool, cfg.zipf, 100_000)
    def one(q: String): Unit = { alternate(); qc.request(dom, q) }
    warming = true
    pool.take(cfg.capacity).reverse.foreach(one)
    one(pool.head)
    warming = false
    mark("warmed up")
    var k = 0
    val end = deadline()
    while (System.nanoTime() < end) { one(pool(stream(k))); k += 1 }
    endAlternation()
    mark("window done")
    relabelCachedSpans()
  }

  /** Split `api.query_cached` spans into hit and miss by whether the
    * request trimmed the cache (only misses do).
    */
  private def relabelCachedSpans(): Unit = if (tracer.on) {
    val trimmed = tracer.spans.filter(_.name == "ops.cache_trim").map(_.request).toSet
    tracer.spans.mapInPlace(s =>
      if (s.name != "api.query_cached") s
      else s.copy(name = if (trimmed(s.request)) "api.query_cached_miss" else "api.query_cached_hit"))
  }

  /** One commit: upsert about 1 % of the entities (changed, resent
    * unchanged and new datapoints), delete a few, write the new snapshot,
    * read it back into memory, and maintain the query cache if there is
    * one. It ends when the new version serves; the old version is released
    * after the probes below.
    *
    * Afterwards, untimed, the embed count and the diff buckets are checked
    * against the generator's ground truth. The diff is a probe: the client
    * re-runs `Upsert.diff` on the upsert's own inputs (the whole previous
    * datapoints table, still cached, against the uploaded rows, both
    * projected to key and content hash as `upsertEntities` projects them),
    * as `ops.upsert_diff`. Traced, `core.embed` probes the embedding the
    * same way: the distinct created or changed texts under every model.
    */
  private var commits = 0
  private def commit(dom: Domain, dir: Path, b: Batch, qc: Option[QueryCache], dim: Int): (Domain, Path) = {
    val e0 = embedCounter.value
    commits += 1
    val next = work.resolve(s"snap-commit-$commits")
    val (r, ms) = op("commit") {
      val up = tracer.span("api.upsert") {
        EngineApi.upsertEntities(spark, dom, entitiesDf(b.docs), datapointsDf(b.docs), Models, dim)
      }
      val after = b.deletes.foldLeft(up)((d, victim) =>
        tracer.span("api.delete")(EngineApi.deleteEntity(d, DomainName, victim.name)))
      tracer.span("core.tables_write")(Tables.writeDomain(after, next.toString))
      val fresh = tracer.span("core.tables_read")(load(Tables.readDomain(spark, next.toString)))
      qc.foreach(c => tracer.span("ops.cache_maintain")(c.maintain(b)))
      fresh
    }
    cur.tracked = math.max(cur.tracked, Caches.trackedCount)
    qc.foreach(c => check(c.frame.isEmpty, s"commit left ${c.frame.count()} rows in the dropped query cache"))
    val embedded = embedCounter.value - e0
    val okEmbed = r.isDefined && embedded == b.expectedEmbedRows
    check(okEmbed, s"commit embedded $embedded rows, want ${b.expectedEmbedRows}")
    val counts = tracer.span("ops.upsert_diff") {
      val key = Seq("searchdomain", "datapoint_id")
      val incoming = datapointsDf(b.docs)
        .withColumn("hash", graft.functions.TextFunctions.contentHash(col("text")))
      // PUT semantics: `deleted` counts only datapoints of uploaded entities
      val uploaded = b.docs.flatMap(d => datapoints(seed, d).map(_.datapointId))
      Upsert.diff(dom.datapoints.select((key :+ "hash").map(col): _*),
        incoming.select((key :+ "hash").map(col): _*), key, "hash")
        .filter(col("bucket") =!= "deleted" || col("datapoint_id").isin(uploaded: _*))
        .groupBy("bucket").count().collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    }
    val got = Seq("created", "changed", "unchanged", "deleted").map(counts.getOrElse(_, 0L))
    val want = Seq(b.created, b.changed, b.unchanged, b.deleted)
    check(got == want, s"commit diff buckets $got, want $want")
    if (tracer.on) tracer.span("core.embed") {
      val pairs = b.embedTexts.flatMap(t => Models.map(m => (t, m)))
      StubEmbedder.embedBatched(spark, spark.createDataFrame(pairs).toDF("text", "model"), dim).count()
    }
    recordCommit(ms, okEmbed && got == want)
    cur.embedRows += ((embedded, b.neededEmbedRows))
    cur.bucketCounts += ((got(0), got(1), got(2), got(3)))
    cur.bytesWritten += ((dirBytes(next), b.changedTextBytes))
    r match {
      case Some(fresh) => unpersist(dom); rm(dir); (fresh, next)
      case None => rm(next); (dom, dir)
    }
  }

  /** After cached-churn's last commit the index must answer like [[Scorer]]
    * on the final corpus and like a from-scratch `SearchEngine.buildDomain`
    * of it (given the generated probmethods, which buildDomain leaves at
    * Mean). exact-search needs no such check: its loop runs on its final
    * index and every answer is re-scored.
    */
  private def finalCheck(dom: Domain, corpus: IndexedSeq[Doc], dim: Int, v: Vocab): Unit = {
    import spark.implicits._
    val q = new Queries(v, 4).next()
    def answer(d: Domain) =
      EngineApi.query(spark, d, q, TopN, dim).collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val a = answer(dom)
    check(Scorer.agrees(a, new Scorer(seed, dim).topN(corpus, q, TopN), 1e-6), s"index vs scorer on '$q': $a")
    val docs = corpus.map(d => (d.id, d.text, lang(seed, d.id), source(seed, d.id)))
      .toDF("doc_id", "text", "lang", "source")
    val built = SearchEngine.buildDomain(spark, docs, Models, dim, DomainName)
    val entM = corpus.map(d => (d.id, entityMethod(seed, d.id))).toDF("entity_id", "pm")
    val dpM = corpus.flatMap(d => Seq(d.id * 2, d.id * 2 + 1)).map(id => (id, datapointMethod(seed, id)))
      .toDF("datapoint_id", "pm")
    val rebuilt = Domain(
      built.entities.join(entM, "entity_id").withColumn("probmethod", col("pm")).drop("pm"),
      built.datapoints.join(dpM, "datapoint_id").withColumn("probmethod", col("pm")).drop("pm"),
      built.embeddings)
    check(Scorer.agrees(a, answer(rebuilt), 1e-9), s"index vs rebuild on '$q'")
  }

  // --------------------------------------------------------------- probes

  /** Probes of traced runs: the similarity and probmethod kernels over the
    * index's embeddings, each timed against a probe without the kernel.
    */
  private def probes(dom: Domain, dim: Int): Map[String, Double] = {
    val emb = dom.embeddings.select(col("datapoint_id"), col("entity_id"), col("embedding"))
    val rows = emb.count().toDouble
    val qv = new StubEmbedder(dim).embed(Models.head, "probe query")
    val qcol = typedLit(qv.toSeq)
    val meth = element_at(array(lit("Cosine"), lit("Euclidian"), lit("Manhattan")),
      (pmod(col("datapoint_id"), lit(3L)) + 1).cast("int"))
    def timed(f: => Any): Double = {
      val t = (1 to 3).map { _ => val t0 = System.nanoTime(); f; (System.nanoTime() - t0).toDouble }
      Stats.median(t)
    }
    val base = timed(emb.agg(sum(size(col("embedding")))).collect())
    val sim = timed(emb.agg(sum(VectorFunctions.similarityCol(meth, col("embedding"), qcol))).collect())
    val x = emb.select(col("entity_id"),
      ((element_at(col("embedding"), 1) + 1) / 2).cast("double").as("x"),
      element_at(array(ProbMethods.Names.map(lit): _*), (pmod(col("entity_id"), lit(ProbMethods.Names.size.toLong)) + 1).cast("int")).as("m"))
    val pmBase = timed(x.groupBy("entity_id", "m").agg(avg("x").as("v")).agg(sum("v")).collect())
    val pm = timed(x.groupBy("entity_id", "m").agg(ProbMethods.forMethodCol(col("m"), col("x")).as("v")).agg(sum("v")).collect())
    Map(
      "functions.similarity_ns_per_eval" -> (sim - base) / rows,
      "functions.probmethod_ns_per_row" -> (pm - pmBase) / rows)
  }

  /** Traced runs end with one call of every API on a 100-document domain,
    * so layers the workload's loop does not use still report a figure. Its
    * spans carry request ids starting with `sweep` and count only for a
    * layer the run did not otherwise reach.
    */
  private var sweeping = false
  private val sweepSimEvals = mutable.ArrayBuffer.empty[Long]
  private def sweep(): Unit = {
    val dim = 16
    val v = new Vocab(seed, 500)
    val docs = Corpus.docs(seed, v, Sizes(100, dim), from = 1_000_000L)
    sweeping = true
    val (dom, dir, _) = setupMedian(docs, dim, reps = 1, tag = "sweep")
    tracer.request = "sweep"
    sc.setJobGroup(tracer.request, "sweep", interruptOnCancel = false)
    query(dom, "sweep probe one", dim)
    val empty = df(Nil, cacheSchema)
    val (_, c1) = tracer.span("api.query_cached_miss")(EngineApi.queryCached(spark, dom, empty, "sweep probe", TopN, dim))
    tracer.span("api.query_cached_hit")(EngineApi.queryCached(spark, dom, c1, "sweep probe", TopN, dim)._1.collect())
    tracer.span("ops.cache_trim")(CacheOps.lruTrim(c1, Seq("query"), col("rank"), col("name"), 3).collect())
    val changed = docs.take(2).map(d => d.copy(text = d.text + " changed"))
    val up = tracer.span("api.upsert")(
      EngineApi.upsertEntities(spark, dom, entitiesDf(changed), datapointsDf(changed), Models, dim))
    val del = tracer.span("api.delete")(EngineApi.deleteEntity(up, DomainName, docs(5).name))
    val next = work.resolve("snap-sweep-next")
    tracer.span("core.tables_write")(Tables.writeDomain(del, next.toString))
    tracer.span("core.tables_read")(Tables.readDomain(spark, next.toString))
    tracer.span("ops.upsert_diff")(Upsert.diff(dom.datapoints,
      datapointsDf(changed).withColumn("hash", graft.functions.TextFunctions.contentHash(col("text"))),
      Seq("searchdomain", "datapoint_id"), "hash").groupBy("bucket").count().collect())
    tracer.span("core.embed")(StubEmbedder.embedBatched(spark,
      spark.createDataFrame(changed.map(d => (d.text, Models.head))).toDF("text", "model"), dim).count())
    tracer.span("ops.cache_maintain")(CacheOps.maintain(c1.select("query", "name", "score", "rank"),
      spark.createDataFrame(Seq(("sweep probe", docs.head.name, 0.5))).toDF("query", "name", "score"),
      spark.createDataFrame(Seq(Tuple1(docs(5).name))).toDF("name"), "query", cacheReconciliation = true).collect())
    sc.clearJobGroup()
    sweeping = false
    rm(dir); rm(next)
  }

  // ------------------------------------------------------------------ run

  private final case class E2E(values: Map[String, Double], tailPct: (Double, Double))

  private def endToEnd(p: Measured, setupS: Seq[Double], stored: Double, cachedMb: Double): E2E = {
    val (qPct, qTail) = Stats.tail(p.queryMs.toSeq)
    val (cPct, cTail) = Stats.tail(p.commitMs.toSeq)
    E2E(Map(
      "setup_s" -> Stats.median(setupS),
      "query_p50_ms" -> Stats.median(p.queryMs.toSeq),
      "query_tail_ms" -> qTail,
      "queries_per_s" -> 1000.0 * p.queryMs.count(!_.isInfinite) / p.queryServiceMs.sum,
      "commit_p50_ms" -> Stats.median(p.commitMs.toSeq),
      "commit_tail_ms" -> cTail,
      "stored_bytes_per_user_byte" -> stored,
      "cached_mb" -> cachedMb,
      "ok_ratio" -> (if (attempted == 0) 0.0 else 1.0 - failed.toDouble / attempted)), (qPct, cPct))
  }

  private def cachedMb(): Double =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  /** Set-up, loop, commit and checks; returns the end-to-end values. */
  private def measure(): E2E = {
    val cfg = Config(workload, toy)
    val dim = cfg.sizes.dim
    val v = new Vocab(seed, cfg.sizes.vocab)
    val docs = Corpus.docs(seed, v, cfg.sizes)
    // The first set-up of a run is mostly JVM warm-up (about four times as
    // long as the next at full size); a small corpus does that for less.
    val (wd, wp, _) = setupMedian(Corpus.docs(seed, v, cfg.sizes.copy(entities = Config.WarmupDocs),
      from = 2_000_000L), dim, reps = 1, tag = "warm-setup")
    unpersist(wd); rm(wp)
    val (dom0, dir0, times) = setupMedian(docs, dim, Config.SetupReps, tag = "setup")
    mark("set up")
    val qc = cfg.cache.map(c => new QueryCache(c, dim))
    val churn = new Churn(seed, v, cfg.sizes, docs, Config.ChurnShare, Config.Deletes)
    // The first commit of a run warms the commit path up (its time falls
    // with every commit the JVM has run): checked, not timed.
    warming = true
    val warm = commit(dom0, dir0, churn.next(), qc, dim)
    warming = false
    mark("warm-up commit done")
    // A collection before each timed commit, so none is left pending from
    // the work before it.
    def commits(d: Domain, p: Path): (Domain, Path) =
      (1 to Config.Commits).foldLeft((d, p)) { case ((d, p), k) =>
        System.gc()
        val r = commit(d, p, churn.next(), qc, dim)
        mark(s"commit $k done")
        r
      }
    // exact-search commits first and runs its loop on the final index, so
    // write layers stay idle during the loop; cached-churn commits after
    // its loop, so the first timed commit maintains the cache the loop
    // filled.
    val (dom, dir) = cfg.cache match {
      case None =>
        val (d, p) = commits(warm._1, warm._2)
        exactLoop(d, churn.corpus, v, dim)
        (d, p)
      case Some(c) =>
        cachedLoop(warm._1, qc.get, c, v)
        commits(warm._1, warm._2)
    }
    val mb = cachedMb()
    val stored = dirBytes(dir).toDouble / userBytes(churn.corpus)
    if (cfg.cache.isDefined) finalCheck(dom, churn.corpus, dim, v)
    if (tracer.on) probeValues = probes(dom, dim)
    mark("checks done")
    unpersist(dom); rm(dir); qc.foreach(_.drop())
    endToEnd(cur, times, stored, mb)
  }
  private var probeValues = Map.empty[String, Double]

  def run(): String = {
    val e2e = measure()
    if (traceOn) sweep()
    Report.print(this, e2e.values, e2e.tailPct)
    Report.last(this, e2e.values)
  }

  // ------------------------------------------------------------- reporting

  private[searchbench] def measured: Measured = cur

  /** Latencies of the loop's requests that ran a search: every request on
    * exact-search, the misses on cached-churn (the requests its p50 reads).
    * The steadiness guard and the tracing overhead compare these, so a
    * shift of hits between halves or between traced and untraced requests
    * does not read as drift or overhead. */
  private[searchbench] def searchedMs: Seq[Double] =
    cur.queryMs.zip(cur.queryHit).collect { case (ms, false) => ms }.toSeq

  private[searchbench] def traceReport(): Map[String, Double] = {
    val t = tracer
    // a layer's spans from the measured run (set-up, loop, commit); the
    // sweep's only if the run has none; warm-up requests never
    def spansOf(name: String): Seq[t.Span] = {
      val all = t.spans.filter(s => s.name == name && !s.request.startsWith("warm-")).toSeq
      val main = all.filterNot(_.request.startsWith("sweep"))
      if (main.nonEmpty) main else all
    }
    val self = t.selfNs
    def medOf(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def med(name: String): Double = medOf(spansOf(name).map(s => (s.endNs - s.startNs) / 1e6))
    def selfMed(name: String): Double = medOf(spansOf(name).map(s => self(s.id) / 1e6))
    Thread.sleep(300) // let the listener bus drain
    val l = listener.get
    // Spark work per query request: the figures the query floor and scan move
    val queryOps = cur.opGroups.zip(cur.gcMs).filter(_._1.startsWith("query-")).toSeq
    val accs = queryOps.map(o => l.get(o._1))
    val nOps = math.max(1, queryOps.size).toDouble
    val embedAccs = spansOf("search.query_embed").map(s => l.get(s"${s.request}-embed"))
    val p = cur
    val bucketMed = (i: Int) => if (p.bucketCounts.isEmpty) 0.0 else Stats.median(p.bucketCounts.map(b => b.productElement(i).asInstanceOf[Long].toDouble).toSeq)
    val embedded = p.embedRows.map(_._1).sum.toDouble
    val simEvals = (if (p.simEvals.nonEmpty) p.simEvals else sweepSimEvals).map(_.toDouble).toSeq
    val (tracedMs, untracedMs) = p.queryMs.zip(p.queryTraced).zip(p.queryHit)
      .collect { case (x, false) => x }.partition(_._2)
    Map(
      "search.query_embed_ms" -> med("search.query_embed"),
      "search.query_embed_records_read" -> (if (embedAccs.isEmpty) 0.0 else embedAccs.map(_.recordsRead.toDouble).sum / embedAccs.size),
      "search.plan_ms" -> med("search.plan"),
      "search.exec_ms" -> med("search.exec"),
      "search.rows_scored_per_result" -> medOf(simEvals) / TopN,
      "functions.similarity_evals" -> medOf(simEvals),
      "functions.similarity_ns_per_eval" -> probeValues("functions.similarity_ns_per_eval"),
      "functions.probmethod_ns_per_row" -> probeValues("functions.probmethod_ns_per_row"),
      "ops.cache_hit_ratio" -> (if (p.hits + p.misses == 0) 0.0 else p.hits.toDouble / (p.hits + p.misses)),
      "ops.cache_evictions" -> p.evictions.toDouble,
      "ops.cache_trim_ms" -> med("ops.cache_trim"),
      "ops.cache_maintain_ms" -> med("ops.cache_maintain"),
      "ops.upsert_diff_ms" -> med("ops.upsert_diff"),
      "ops.upsert_created" -> bucketMed(0),
      "ops.upsert_changed" -> bucketMed(1),
      "ops.upsert_unchanged" -> bucketMed(2),
      "ops.upsert_deleted" -> bucketMed(3),
      "ops.caches_tracked" -> p.tracked.toDouble,
      "core.embed_rows" -> (if (p.embedRows.isEmpty) 0.0 else Stats.median(p.embedRows.map(_._1.toDouble).toSeq)),
      "core.embed_useful_ratio" -> (if (embedded == 0) 0.0 else p.embedRows.map(_._2).sum / embedded),
      "core.embed_ms" -> med("core.embed"),
      "core.tables_write_ms" -> med("core.tables_write"),
      "core.tables_read_ms" -> med("core.tables_read"),
      "core.tables_bytes_written" -> (if (p.bytesWritten.isEmpty) 0.0 else Stats.median(p.bytesWritten.map(_._1.toDouble).toSeq)),
      "core.write_amplification" -> (if (p.bytesWritten.isEmpty) 0.0 else Stats.median(p.bytesWritten.map(b => b._1.toDouble / math.max(1L, b._2)).toSeq)),
      "api.query_ms" -> med("api.query"),
      "api.query_cached_hit_ms" -> med("api.query_cached_hit"),
      "api.query_cached_miss_ms" -> med("api.query_cached_miss"),
      "api.upsert_ms" -> med("api.upsert"),
      "api.delete_ms" -> med("api.delete"),
      "api.query_self_ms" -> selfMed("api.query"),
      "client.query_self_ms" -> selfMed("op.query"),
      "client.commit_self_ms" -> selfMed("op.commit"),
      "client.setup_self_ms" -> selfMed("setup"),
      "spark.jobs_per_op" -> accs.map(_.jobs).sum / nOps,
      "spark.stages_per_op" -> accs.map(_.stages).sum / nOps,
      "spark.tasks_per_op" -> accs.map(_.tasks).sum / nOps,
      "spark.shuffle_bytes_per_op" -> accs.map(_.shuffleBytes).sum / nOps,
      "spark.records_read_per_op" -> accs.map(_.recordsRead).sum / nOps,
      "spark.executor_cpu_ms_per_op" -> accs.map(_.cpuNs).sum / 1e6 / nOps,
      "spark.scheduler_delay_ms" -> accs.map(_.schedDelayMs).sum / nOps,
      "jvm.gc_ms_per_op" -> queryOps.map(_._2).sum / nOps,
      "drift.query_p50" -> Stats.drift(searchedMs),
      "trace.overhead_query_p50_ms" ->
        (Stats.median(tracedMs.map(_._1).toSeq) - Stats.median(untracedMs.map(_._1).toSeq)))
  }

  def writeSpans(path: Path): Unit = tracer.write(path, origin)
  def traced: Boolean = traceOn
}
