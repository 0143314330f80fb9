package perfbench

import graft.{Bench, SparkEntry, Tables}
import graft.dedup.Dedup
import graft.embed.Embedder
import graft.pipeline.Continuous
import graft.query.Retrieval
import graft.text.{Chunker, CleanText}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** Operations attempted and failed. An operation fails when it throws or
  * when its output check does not hold.
  */
final class Checks {
  private var attempted = 0
  private val failures = ArrayBuffer.empty[String]

  def record(what: String, ok: Boolean): Boolean = synchronized {
    attempted += 1
    if (!ok) { failures += what; System.err.println(s"[perfbench] CHECK FAILED: $what") }
    ok
  }

  /** Run `body` as one operation; a throw counts as a failure. */
  def op(what: String)(body: => Boolean): Boolean = {
    val ok = try body catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $what threw: $e")
        false
    }
    record(what, ok)
  }

  def counts: (Int, Int, Seq[String]) = synchronized((attempted, failures.size, failures.toList))
}

/** One timed pass: its wall seconds and the seconds of each operation. */
final case class Pass(wall: Double, ops: Seq[Double])

/** Per-layer numbers of one traced pass, as (name, value, unit). */
final case class Layer(name: String, value: Double, unit: String)

/** One benchmark workload. `setup` prepares fixtures and warms the
  * session; `pass` is one timed pass, its output checks kept out of its
  * timing; `traced` runs untraced work, then the same work with every
  * stage materialized in a span, and returns the per-layer numbers,
  * `trace.overhead_s` among them.
  */
trait Workload {
  def setup(spark: SparkSession, checks: Checks): Unit
  def pass(spark: SparkSession, checks: Checks): Pass
  def traced(spark: SparkSession, tr: Tracer, probe: Probe, checks: Checks): Seq[Layer]
  def artifact: Map[String, Any] = Map.empty
  def close(): Unit = ()
}

object Workload {
  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Order-insensitive digest of a frame: row count and the exact sum of
    * the rows' 64-bit hashes.
    */
  def digest(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.select(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum("h"), lit(0).cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1))
  }

  /** Run `f` over `0 until n` on `threads` plain JVM threads. */
  def parallel(n: Int, threads: Int)(f: Int => Unit): Unit = {
    val next = new java.util.concurrent.atomic.AtomicInteger()
    val ts = (1 to threads).map { _ =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < n) { f(i); i = next.getAndIncrement() }
      })
      t.start(); t
    }
    ts.foreach(_.join())
  }

  /** Raw-JVM floor of the embed layer: `encodeOne` over the same
    * passages on `threads` plain threads, in seconds.
    */
  def embedFloor(passages: Array[String], threads: Int): Double = {
    val sink = new java.util.concurrent.atomic.AtomicLong()
    seconds(parallel(passages.length, threads) { i =>
      sink.addAndGet(java.lang.Float.floatToIntBits(Embedder.default.encodeOne(passages(i))(0)).toLong)
    })._2
  }

  /** Raw-JVM floor of the vector layer: plain-loop cosine of every
    * query against every passage vector, in seconds.
    */
  def vectorFloor(queries: Array[Array[Float]], vecs: Array[Array[Float]], threads: Int): Double = {
    val sink = new java.util.concurrent.atomic.DoubleAdder()
    seconds(parallel(queries.length, threads) { qi =>
      val q = queries(qi)
      var qn = 0.0
      var j = 0
      while (j < q.length) { qn += q(j) * q(j); j += 1 }
      var best = -2.0
      var p = 0
      while (p < vecs.length) {
        val v = vecs(p)
        var dot = 0.0
        var vn = 0.0
        j = 0
        while (j < v.length) { dot += q(j) * v(j); vn += v(j) * v(j); j += 1 }
        val c = dot / math.sqrt(qn * vn)
        if (c > best) best = c
        p += 1
      }
      sink.add(best)
    })._2
  }

  /** The stages of `Retrieval.buildIndex`, each materialized in its own
    * span: clean, chunk, embed. Returns the cached index and a function
    * giving the layer numbers of its stages, called once the enclosing
    * spans have closed (it runs the embed floor on the same passages).
    */
  def tracedIndex(spark: SparkSession, dir: String, tr: Tracer, cores: Int): (DataFrame, () => Seq[Layer]) = {
    import spark.implicits._
    val docs = Tables.widen(Tables.documents(spark, dir))
    val clean = tr.span("text.clean") {
      val c = docs.select(col("doc_id"), CleanText.cleanText(col("text")).as("clean")).cache()
      c.count(); c
    }
    val nDocs = clean.count()
    val passages = tr.span("text.chunk") {
      val p = clean.select(col("doc_id"),
          posexplode(Chunker.passages(col("clean"), 300, 50)).as(Seq("passage_id", "passage")))
        .filter(trim(col("passage")) =!= "")
        .as[(Long, Int, String)].cache()
      p.count(); p
    }
    val index = tr.span("embed.embed") {
      val i = Embedder.embedPartitions(passages.map(r => (r, r._3)))
        .map { case ((d, p, t), v) => (d, p, t, v) }
        .toDF("doc_id", "passage_id", "passage", "vec").cache()
      i.count(); i
    }
    (index, () => {
      val texts = passages.map(_._3).collect()
      val floor = embedFloor(texts, cores)
      val self = tr.selfByName
      val textS = self("text.clean") + self("text.chunk")
      Seq(
        Layer("text.clean_s", self("text.clean"), "s"),
        Layer("text.chunk_s", self("text.chunk"), "s"),
        Layer("text.docs_per_s", nDocs / textS, "1/s"),
        Layer("embed.embed_s", self("embed.embed"), "s"),
        Layer("embed.passages_per_s", texts.length / self("embed.embed"), "1/s"),
        Layer("embed.floor_s", floor, "s"))
    })
  }

  def vecsOf(index: DataFrame): Array[Array[Float]] =
    index.select("vec").collect().map(_.getSeq[Float](0).toArray)
}

import Workload._

/** `Continuous.run`: the paper's daily flow (clean, chunk, embed, index,
  * eval set from near-duplicates, retrieve, re-rank, recall@10 gate).
  * After each pass the session's leftovers are recorded and the cache
  * cleared, since the flow caches its index and never unpersists it.
  * Every pass must give the `reference` passage count and recall@10 and
  * pass the gate.
  */
final class FlowWorkload(dir: String, out: String, cores: Int,
                         reference: Continuous.FlowResult) extends Workload {
  private val hygiene = ArrayBuffer.empty[Hygiene]
  private val setupWalls = ArrayBuffer.empty[Double]

  /** One flow pass; returns its seconds, hygiene and check excluded. */
  private def run(spark: SparkSession, what: String, checks: Checks): Double = {
    val before = Hygiene.snapshot(spark)
    val (r, s) = seconds(try Some(Continuous.run(spark, dir)) catch { case e: Throwable =>
      System.err.println(s"[perfbench] $what threw: $e"); None })
    if (!checks.record(what, r.exists(x => x == reference && x.indexedPassages > 0 && x.recallAt10 >= 0.80)))
      r.foreach(x => System.err.println(s"[perfbench] $what gave $x, expected $reference"))
    hygiene += Hygiene.checkAndClear(spark, before)
    s
  }

  /** Five passes: the cold one and four more, since passes keep getting
    * faster as the JIT compiles more of the flow (measured on 4 cores:
    * ~24, 8, 6, 5 and 4.5 s, then 4-5 s).
    */
  def setup(spark: SparkSession, checks: Checks): Unit =
    (1 to 5).foreach(_ => setupWalls += run(spark, "flow.setup", checks))

  def pass(spark: SparkSession, checks: Checks): Pass = {
    val s = run(spark, "flow.pass", checks)
    Pass(s, Seq(s))
  }

  def traced(spark: SparkSession, tr: Tracer, probe: Probe, checks: Checks): Seq[Layer] = {
    val untraced = pass(spark, checks).wall
    val h = hygiene.last
    val c0 = probe.counts(spark)
    probe.resetPeak()
    val (layers, index, evalSet, nRetrieved, recall) = tr.span("pipeline.flow") {
      val (index, ls) = tr.span("query.build_index")(tracedIndex(spark, dir, tr, cores))
      val docs = Tables.documents(spark, dir)
      val evalSet = tr.span("dedup.evalset") {
        val e = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.9)
          .join(docs.select(col("doc_id").as("doc_a"), col("text")), "doc_a")
          .select(col("doc_a").as("query_id"), col("text").as("query_text"),
            col("doc_b").as("expected_doc")).cache()
        e.count(); e
      }
      val hits = tr.span("query.retrieve") {
        val h = Retrieval.retrieve(evalSet.select(col("query_id"), col("query_text")), index, 10).cache()
        h.count(); h
      }
      val recall = tr.span("pipeline.gate") {
        hits.join(evalSet.select(col("query_id"), col("expected_doc")), "query_id")
          .groupBy("query_id")
          .agg(max(when(col("doc_id") === col("expected_doc"), 1).otherwise(0)).as("hit"))
          .agg(avg("hit")).head().getDouble(0)
      }
      (ls, index, evalSet, hits.count(), recall)
    }
    val engine = (probe.counts(spark) - c0).metrics
    val nPassages = index.count()
    val nQueries = evalSet.count()
    checks.record("flow.traced", reference.recallAt10 == recall && reference.indexedPassages == nPassages)
    // the index written as parquet, as an ingest job would publish it
    tr.span("pipeline.write")(index.write.mode("overwrite").parquet(out))
    checks.op("flow.index") {
      // the written index is the built one; every sampled vector is the
      // embedder's own output; every document with text has a passage
      val docsWithText = Tables.documents(spark, dir).filter(trim(col("text")) =!= "").count()
      // the staged index is the one the program builds, so a staged
      // copy that drifts from Retrieval.buildIndex fails here
      digest(index) == digest(Retrieval.buildIndex(spark, dir)) &&
      digest(spark.read.parquet(out)) == digest(index) &&
        index.select("passage", "vec").limit(500).collect().forall(r =>
          r.getSeq[Float](1).toArray.sameElements(Embedder.default.encodeOne(r.getString(0)))) &&
        index.select("doc_id").distinct().count() == docsWithText
    }
    val queryVecs = evalSet.select("query_text").collect()
      .map(r => Embedder.default.encodeOne(r.getString(0)))
    val floor = vectorFloor(queryVecs, vecsOf(index), cores)
    val ls = layers()
    spark.catalog.clearCache()
    val self = tr.selfByName
    val pairs = nQueries.toDouble * nPassages
    ls ++ engine ++ Seq(
      Layer("query.build_index_s", self("query.build_index"), "s"),
      Layer("dedup.evalset_s", self("dedup.evalset"), "s"),
      Layer("dedup.eval_queries", nQueries.toDouble, "count"),
      Layer("query.retrieve_s", self("query.retrieve"), "s"),
      Layer("pipeline.gate_s", self("pipeline.gate"), "s"),
      Layer("pipeline.write_s", self("pipeline.write"), "s"),
      Layer("vector.pairs_scored", pairs, "count"),
      Layer("vector.results_per_scored", nRetrieved / pairs, "ratio"),
      Layer("vector.floor_s", floor, "s"),
      Layer("session.leaked_rdds", h.leakedRdds.toDouble, "count"),
      Layer("session.changed_conf", h.changedConf.toDouble, "count"),
      Layer("session.active_streams", h.activeStreams.toDouble, "count"),
      Layer("trace.overhead_s", tr.totalByName("pipeline.flow") - untraced, "s"))
  }

  override def artifact: Map[String, Any] = Map(
    "setup_pass_walls_s" -> setupWalls,
    "hygiene_per_pass" -> hygiene.map(_.toMap))
}

/** A closed loop of `/ask` requests from `clients` threads sharing one
  * session and one cached index. A request is
  * `packContext(retrieve(<one query>, index))` run with `collect()`;
  * a pass is `perPass` requests. Query texts are the first 12 words of
  * documents sampled with the seed.
  */
final class AskWorkload(dir: String, seed: Long, clients: Int, catalog: Catalog, perPass: Int = 8,
                        warmPasses: Int = 2, nQueries: Int = 64) extends Workload {
  private var index: DataFrame = _
  private var queries: IndexedSeq[(Long, String)] = IndexedSeq.empty
  private var expected: Map[Long, Seq[Row]] = Map.empty
  private val next = new java.util.concurrent.atomic.AtomicInteger()
  private lazy val pool = java.util.concurrent.Executors.newFixedThreadPool(clients)

  private def frame(spark: SparkSession, qs: Seq[(Long, String)]): DataFrame =
    Retrieval.packContext(Retrieval.retrieve(
      spark.createDataFrame(qs).toDF("query_id", "query_text"), index))

  private def nextQuery(): (Long, String) =
    queries(Math.floorMod(next.getAndIncrement(), queries.length))

  /** True when a request's rows equal the batched reference's. */
  private def matches(q: (Long, String), rows: Array[Row]): Boolean =
    rows.sortBy(_.getAs[Int]("rank")).toSeq == expected(q._1)

  /** Index built and cached, queries sampled, the batched reference
    * computed, and `warmPasses` passes run to warm the request path.
    */
  def setup(spark: SparkSession, checks: Checks): Unit = {
    index = Retrieval.buildIndex(spark, dir).cache()
    index.count()
    val texts = Tables.documents(spark, dir).select("text").collect().map(_.getString(0)).sorted
    queries = new scala.util.Random(seed).shuffle(texts.toIndexedSeq).take(nQueries)
      .zipWithIndex.map { case (t, i) => (i.toLong, t.split(" ").take(12).mkString(" ")) }
    expected = frame(spark, queries).collect().toSeq
      .groupBy(_.getAs[Long]("query_id")).map { case (k, rs) => k -> rs.sortBy(_.getAs[Int]("rank")) }
    checks.record("ask.reference", queries.forall(q => expected.get(q._1).exists(_.nonEmpty)))
    (1 to warmPasses).foreach(_ => pass(spark, checks))
  }

  def pass(spark: SparkSession, checks: Checks): Pass = {
    val t0 = System.nanoTime()
    val lat = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val left = new java.util.concurrent.atomic.AtomicInteger(perPass)
    val clientLoop: Runnable = () => while (left.getAndDecrement() > 0) {
      val q = nextQuery()
      val (rows, s) = seconds(try Some(frame(spark, Seq(q)).collect()) catch { case e: Throwable =>
        System.err.println(s"[perfbench] ask request threw: $e"); None })
      lat.add(s)
      checks.record(s"ask.${q._1}", rows.exists(matches(q, _)))
    }
    (1 to clients).map(_ => pool.submit(clientLoop)).foreach(_.get())
    Pass((System.nanoTime() - t0) / 1e9, lat.toArray.toSeq.map(_.asInstanceOf[Double]))
  }

  /** `perPass` requests one at a time, each split into planning (forcing
    * the executed plan) and execution (the collect), with per-request
    * engine counts. An untraced request runs before each traced one; the
    * tracing overhead is the difference of their medians, per request.
    * Then the catalog queries, which clear the cache and so come last.
    */
  def traced(spark: SparkSession, tr: Tracer, probe: Probe, checks: Checks): Seq[Layer] = {
    val untraced = ArrayBuffer.empty[Double]
    var c = Counts(0, 0, 0, 0, 0, 0, 0, 0, 0)
    probe.resetPeak()
    (0 until perPass).foreach { i =>
      val u = nextQuery()
      untraced += seconds(checks.record(s"ask.${u._1}", matches(u, frame(spark, Seq(u)).collect())))._2
      val q = nextQuery()
      val c0 = probe.counts(spark)
      tr.span("ask.request", request = i) {
        val df = tr.span("query.plan", request = i) {
          val df = frame(spark, Seq(q))
          df.queryExecution.executedPlan
          df
        }
        val rows = tr.span("query.exec", request = i)(df.collect())
        checks.record(s"ask.traced.${q._1}", matches(q, rows))
      }
      c = c + (probe.counts(spark) - c0)
    }
    val d = c
    val self = tr.selfTimes
    def med(name: String) = Bench.medianOf(self.filter(_._1.name == name).map(_._2 * 1e3))
    val traced = tr.selfTimes.collect { case (sp, _) if sp.name == "ask.request" => sp.seconds }
    val nPassages = index.count()
    val qv = queries.map(q => Embedder.default.encodeOne(q._2)).toArray
    val floor = vectorFloor(Array.tabulate(perPass)(i => qv(i % qv.length)), vecsOf(index), 1)
    d.metrics ++ Seq(
      Layer("query.plan_ms", med("query.plan"), "ms"),
      Layer("query.exec_ms", med("query.exec"), "ms"),
      Layer("spark.jobs_per_req", d.jobs.toDouble / perPass, "count"),
      Layer("spark.tasks_per_req", d.tasks.toDouble / perPass, "count"),
      Layer("vector.pairs_scored", nPassages.toDouble * perPass, "count"),
      Layer("vector.floor_s", floor, "s"),
      Layer("trace.overhead_s", Bench.medianOf(traced) - Bench.medianOf(untraced.toSeq), "s")) ++
      catalog.traced(spark, dir, tr, probe, checks)
  }

  override def artifact: Map[String, Any] = Map(
    "catalog_rows" -> catalog.rows,
    "catalog_hygiene" -> catalog.hygiene.map { case (q, h) => q -> h.toMap })

  override def close(): Unit = pool.shutdownNow()
}

/** Sixteen catalog queries from `SparkEntry.queries`: dedup shuffles,
  * iterative loops, streaming micro-batches, a job-heavy tail and a lake
  * write. Each runs once in its own span, with `clearCache()` after it
  * as `Bench` does, and reports its seconds and job count. Its row count
  * must equal `pinned`.
  */
final class Catalog(pinned: Map[String, Long]) {
  val names: Seq[String] = Seq(
    // dedup shuffles
    "q24_ngram_jaccard", "q25_minhash_lsh", "q146_semantic_dedup",
    // iterative loops under LoopConf
    "q104_dedup_clusters", "q105_cluster_keepers", "q112_bpe_train", "q120_bpe_encode",
    "q121_kmeans", "q124_ivf_e2e", "q125_pagerank", "q173_triangle_count",
    // streaming micro-batches
    "q70_stream_asof", "q106_stream_heavy_hitters", "q197_cms_stream",
    // job-heavy tail
    "q198_mad_outliers",
    // lake write
    "q181_month_rebuild")

  val hygiene: scala.collection.mutable.LinkedHashMap[String, Hygiene] =
    scala.collection.mutable.LinkedHashMap.empty
  val rows: scala.collection.mutable.LinkedHashMap[String, Long] =
    scala.collection.mutable.LinkedHashMap.empty

  def traced(spark: SparkSession, dir: String, tr: Tracer, probe: Probe, checks: Checks): Seq[Layer] = {
    val layers = names.flatMap { q =>
      val before = Hygiene.snapshot(spark)
      val c0 = probe.counts(spark)
      val n = tr.span(s"curate.$q")(try Some(SparkEntry.queries(q)(spark, dir).count()) catch {
        case e: Throwable => System.err.println(s"[perfbench] $q threw: $e"); None })
      val jobs = (probe.counts(spark) - c0).jobs
      n.foreach(rows(q) = _)
      checks.record(s"curate.$q", n.contains(pinned(q)))
      hygiene(q) = Hygiene.checkAndClear(spark, before)
      Seq(Layer(s"curate.$q.s", tr.totalByName(s"curate.$q"), "s"),
        Layer(s"curate.$q.jobs", jobs.toDouble, "count"))
    }
    layers ++ Seq(
      Layer("session.catalog_leaked_rdds", hygiene.values.map(_.leakedRdds).sum.toDouble, "count"),
      Layer("session.catalog_changed_conf", hygiene.values.map(_.changedConf).sum.toDouble, "count"))
  }
}

/** What the program gives on the generated tables, pinned from the seed
  * commit: `Continuous.run`'s indexed passages and recall@10 on the
  * `flow` corpus, and each catalog query's row count on the `ask` corpus
  * (the same at 2 and 4 cores).
  */
object Pins {
  val flow: Continuous.FlowResult = Continuous.FlowResult(3471L, 0.9223300970873787)
  val catalogRows: Map[String, Long] = Map(
    "q24_ngram_jaccard" -> 258L, "q25_minhash_lsh" -> 258L, "q146_semantic_dedup" -> 8L,
    "q104_dedup_clusters" -> 1228L, "q105_cluster_keepers" -> 509L, "q112_bpe_train" -> 20L,
    "q120_bpe_encode" -> 5000L, "q121_kmeans" -> 8L, "q124_ivf_e2e" -> 50L, "q125_pagerank" -> 20L,
    "q173_triangle_count" -> 309L, "q70_stream_asof" -> 18006L, "q106_stream_heavy_hitters" -> 10L,
    "q197_cms_stream" -> 118L, "q198_mad_outliers" -> 5L, "q181_month_rebuild" -> 20L)
}
