package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{IvfPq, Rerank, Retrieval, Similarity}
import graft.land.AtomicLanding

/** `index_serve`: one closed-loop client sending a seeded stream of
  * retrieve requests (BM25 over the persisted inverted index, IVF-PQ
  * over the saved index, reciprocal-rank fusion, rerank, collect) mixed
  * with append requests that grow both indexes by the next corpus slice
  * under an identified batch id; every 4th append also maintains both
  * indexes. Set-up builds both indexes over the first `Build` rows;
  * appends draw on the next `Slice * Appends`. */
object IndexServe {
  val Build = 1000
  val Slice = 25
  /** The request stream: groups of 4, one append in each. */
  val Appends = 40
  val GroupSize = 4
  val Dim = 32
  val PerRequest = 8
  /** Queries in the held-out set the output checks probe. */
  val HeldOut = 64
  val K = 10
  val NProbe = 4
  val Shortlist = 50
  /** Recall@10 floor of IVF-PQ against exact top-k on the final corpus. */
  val RecallFloor = 0.5

  final class Served(val spark: SparkSession, val docs: DataFrame, val emb: DataFrame,
      val bm25: String, val ivfpq: String)

  /** Query frames: (query_id, qtext) and (vec_id, embedding); vector
    * query q gets vec_id -(q + 1), outside the corpus id range. */
  def queryFrames(spark: SparkSession, qs: Seq[(String, Array[Float])]): (DataFrame, DataFrame) = {
    import spark.implicits._
    (qs.zipWithIndex.map { case ((t, _), i) => (i.toLong, t) }.toDF("query_id", "qtext"),
      qs.zipWithIndex.map { case ((_, v), i) => (-(i + 1L), v.toSeq) }.toDF("vec_id", "embedding"))
  }

  def retrieve(s: Served, t: Tracer, upTo: Long, qs: Seq[(String, Array[Float])]): Array[Row] = {
    val (qText, qVec) = queryFrames(s.spark, qs)
    val docs = s.docs.filter(col("doc_id") < upTo)
    val text = t.span("ext", "bm25_probe") {
      Retrieval.bm25TopKIndexed(s.spark, s.bm25, qText, k = 2 * K)
        .select(col("query_id"), col("doc_id").as("id"), col("rnk")).localCheckpoint()
    }
    val idx = t.span("ext", "ivfpq_load") { IvfPq.load(s.spark, s.ivfpq) }
    val vec = t.span("ext", "ivfpq_probe") {
      IvfPq.probe(s.emb.filter(col("vec_id") < upTo), idx, qVec, k = 2 * K, NProbe, Shortlist)
        .select((-col("query_id") - 1).as("query_id"), col("neighbor_id").as("id"), col("rnk"))
        .localCheckpoint()
    }
    val fused = t.span("ext", "rrf") { Retrieval.rrfFuse(Seq(text, vec), k = K).localCheckpoint() }
    t.span("ext", "rerank") {
      Rerank.rerank(fused.select(col("query_id"), col("id").as("doc_id")), docs, qText, k = K)
        .collect()
    }
  }

  def append(s: Served, t: Tracer, j: Int, from: Long, maintain: Boolean): Unit = {
    val range = (c: String) => col(c) >= from && col(c) < from + Slice
    t.span("ext", "bm25_append") {
      Retrieval.addToIndex(s.spark, s.bm25, s.docs.filter(range("doc_id")), batchId = Some(j.toLong))
    }
    t.span("ext", "ivfpq_append") {
      IvfPq.addToSavedIndex(s.spark, s.ivfpq, s.emb.filter(range("vec_id")), batchId = Some(j.toLong))
    }
    if (maintain) t.span("ext", "index_maintain") {
      Retrieval.maintainIndex(s.spark, s.bm25)
      IvfPq.maintainSavedIndex(s.spark, s.ivfpq)
    }
  }

  def run(ctx: Ctx): Outcome = {
    val t = ctx.tracer
    val n = Build + Slice * Appends
    val vocab = Gen.vocabulary(ctx.seed, 3000)
    val texts = {
      val r = Gen.rng(ctx.seed, 8)
      (0 until n).map(_ => Gen.text(r, vocab, 30, 60))
    }
    val vecs = Gen.vectors(ctx.seed, n, Dim)
    val stream = Gen.requests(ctx.seed, Appends, GroupSize)
    val in = ctx.dir("serve_in")
    val served = ctx.setup(3) { (spark, r) =>
      if (r == 0) ctx.untimed {
        import spark.implicits._
        texts.zipWithIndex.map { case (x, i) => (i.toLong, x) }.toDF("doc_id", "text")
          .write.parquet(s"$in/documents")
        vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }.toDF("vec_id", "embedding")
          .write.parquet(s"$in/embeddings")
      }
      val s = new Served(spark, spark.read.parquet(s"$in/documents"),
        spark.read.parquet(s"$in/embeddings"), s"${ctx.dir(s"serve$r")}/bm25",
        s"${ctx.dir(s"serve$r")}/ivfpq")
      Retrieval.buildIndex(s.docs.filter(col("doc_id") < Build), s.bm25, batchId = Some(0L))
      IvfPq.save(IvfPq.buildIndex(s.emb.filter(col("vec_id") < Build)), s.ivfpq,
        batchId = Some(0L))
      // warm-up: one retrieve request from a stream no request uses
      retrieve(s, new Tracer(false), Build,
        Gen.queries(ctx.seed, -1, PerRequest, texts.take(Build), vecs.take(Build)))
      s
    }
    ctx.sentinel("first")
    Heap.reset()

    val retrieveS = ArrayBuffer[Double]()
    val appendS = ArrayBuffer[Double]()
    var upTo = Build.toLong
    var (appends, failed) = (0, 0)
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    val loop0 = System.nanoTime()
    var i = 0
    // past the deadline only until each request kind has a sample
    while ((System.nanoTime() < deadline || retrieveS.isEmpty || appendS.isEmpty) &&
        i < stream.size) {
      val t0 = System.nanoTime()
      try t.withRequest(i) {
        if (stream(i) == 'R') {
          val qs = Gen.queries(ctx.seed, i, PerRequest, texts.take(Build), vecs.take(Build))
          t.span("request", "retrieve") { retrieve(served, t, upTo, qs) }
          retrieveS += (System.nanoTime() - t0) / 1e9
        } else {
          appends += 1
          t.span("request", "append") { append(served, t, appends, upTo, appends % 4 == 0) }
          upTo += Slice
          appendS += (System.nanoTime() - t0) / 1e9
        }
      } catch { case scala.util.control.NonFatal(ex) =>
        failed += 1
        System.err.println(s"request $i failed: $ex")
      }
      i += 1
    }
    val loopS = (System.nanoTime() - loop0) / 1e9
    ctx.sentinel("last")

    // ---- output checks on the final snapshot (not timed) ----
    val spark = ctx.spark
    val failures = ArrayBuffer[String]()
    val (qText, qVec) = queryFrames(spark,
      Gen.queries(ctx.seed, 999999, HeldOut, texts.take(upTo.toInt), vecs.take(upTo.toInt)))
    val emb = served.emb.filter(col("vec_id") < upTo)
    val docs = served.docs.filter(col("doc_id") < upTo)
    val oneShot = s"${ctx.dir("serve_oneshot")}/ivfpq"
    IvfPq.save(IvfPq.buildIndex(emb), oneShot)
    def probe(path: String): Seq[String] =
      IvfPq.probe(emb, IvfPq.load(spark, path), qVec, k = K, NProbe, Shortlist)
        .collect().map(_.toString).toSeq
    failures ++= Checks.sameRows("IVF-PQ probe, grown index vs one-shot build",
      probe(served.ivfpq), probe(oneShot))
    def bm25(df: DataFrame): Seq[String] =
      df.select("query_id", "doc_id", "rnk").collect().map(_.toString).toSeq
    failures ++= Checks.sameRows("BM25, grown index vs inline bm25TopK",
      bm25(Retrieval.bm25TopKIndexed(spark, served.bm25, qText, k = K)),
      bm25(Retrieval.bm25TopK(docs, qText, k = K)))
    def topk(df: DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "neighbor_id").collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val approx = topk(IvfPq.probe(emb, IvfPq.load(spark, served.ivfpq), qVec, k = K, NProbe, Shortlist))
    val exact = topk(Similarity.topKBrute(emb, qVec, K))
    val recall = Checks.recall(approx, exact, K)
    if (recall < RecallFloor) failures += f"IVF-PQ recall@10 $recall%.3f is below the floor $RecallFloor"

    // the serve-path layer metrics ride in `extra`: this workload is not
    // listed in BENCHMARK.json, so they are not part of its per-layer list
    val (layers, serveLayers) = if (!t.enabled) (Nil, Nil) else {
      val live = Seq(s"${served.bm25}/postings", s"${served.ivfpq}/codes")
        .map(AtomicLanding.liveDirCount).sum
      val ext = Layers.medians(t, Seq("ext.bm25_probe", "ext.ivfpq_load",
        "ext.ivfpq_probe", "ext.rrf", "ext.rerank", "ext.bm25_append", "ext.ivfpq_append",
        "ext.index_maintain")).toSeq.sorted.map { case (n, (v, k)) => Metric(n, v, "s", k) }
      (Layers.complete(Layers.spark(t)), ext :+ Metric("ext.index_live_dirs", live, "count"))
    }
    Outcome(attempted = retrieveS.size + appendS.size + failed, failed = failed,
      e2e = Seq(
        Metric("op_p50_s", Stats.median(retrieveS.toSeq), "s", retrieveS.size),
        Metric("rows_per_s", retrieveS.size * PerRequest / loopS, "rows/s", retrieveS.size),
        Metric("recall", recall, "ratio", exact.size)),
      layers = layers,
      extra = Seq(Some(Metric("append_p50_s", Stats.median(appendS.toSeq), "s", appendS.size)),
        Some(Metric("retrieves", retrieveS.size, "count")),
        Some(Metric("appends", appendS.size, "count")),
        Stats.tail(retrieveS.toSeq, 0.75).map(Metric("retrieve_p75_s", _, "s", retrieveS.size)))
        .flatten ++ serveLayers,
      failures = failures.toSeq,
      series = Seq("retrieve" -> retrieveS.toSeq, "append" -> appendS.toSeq))
  }
}
