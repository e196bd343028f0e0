package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ext.{ConnectedComponents, Curation, Dedup, FuzzyJoin, TextStats}
import graft.land.Landing

/** `corpus_curate`: one batch job from a parquet corpus to a written,
  * curated corpus, repeated back to back for the measuring window. Each
  * step materializes its result before the next starts, so its time and
  * jobs belong to it: exact dedup, MinHash near-dup pairs, connected
  * components, keep-best-per-cluster, text stats, an ed <= 1 entity
  * join over customer names, and the parquet write. */
object CorpusCurate {
  val Docs = 4000
  val ExactFrac = 0.03
  val NearFrac = 0.05
  val Edits: Range = 1 to 6
  val Threshold = 0.6
  val Customers = 2000
  val TypoFrac = 0.05
  /** Untimed full runs between set-up and the measuring window. */
  val WarmRuns = 3

  final case class Result(seconds: Double, writeSeconds: Double, curated: Checks.Curated,
      rounds: Int, outDir: String)

  private def pinned(df: DataFrame): DataFrame = { val p = df.persist(); p.count(); p }

  /** One timed pipeline run; returns its times and its pinned steps. */
  def pipeline(spark: SparkSession, t: Tracer, docsIn: String, custIn: String,
      out: String): (Double, Double, Int, Seq[DataFrame]) = {
    val t0 = System.nanoTime()
    val docs = spark.read.parquet(docsIn)
    val d1 = t.span("ext", "exact_dedup") { pinned(Curation.dropExactDups(docs)) }
    val pairs = t.span("ext", "minhash_pairs") {
      pinned(Dedup.minhashNearDupPairs(d1, Threshold))
    }
    val (comp, rounds) = t.span("ext", "components") {
      val (c, r) = ConnectedComponents.componentsWithRounds(pairs)
      (pinned(c), r)
    }
    val best = t.span("ext", "keep_best") {
      pinned(Curation.keepBestPerCluster(d1, Threshold, Some(Curation.PairSet(pairs, Threshold))))
    }
    val stats = t.span("ext", "text_stats") { pinned(TextStats.stats(best)) }
    val ents = t.span("ext", "entity") {
      pinned(FuzzyJoin.entityComponents(spark.read.parquet(custIn), "c_name", "c_custkey"))
    }
    val w0 = System.nanoTime()
    t.span("land", "write") {
      Landing.parquet(best.join(stats.drop("lang"), Seq("doc_id")), out)
    }
    val t1 = System.nanoTime()
    ((t1 - t0) / 1e9, (t1 - w0) / 1e9, rounds, Seq(docs, d1, pairs, comp, best, stats, ents))
  }

  /** Collects what the output checks need from one run, then unpins it. */
  def gather(spark: SparkSession, run: (Double, Double, Int, Seq[DataFrame]), out: String): Result = {
    val (secs, writeSecs, rounds, Seq(docs, d1, pairs, comp, best, stats, ents)) = run
    val r = Result(secs, writeSecs, Checks.Curated(docs.count(), d1.count(),
      pairs.collect().map(x => (x.getLong(0), x.getLong(1))).toSeq,
      comp.select("doc_id", "component").collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSeq,
      spark.read.parquet(out).count(),
      ents.collect().map(x => x.getLong(0) -> x.getLong(2)).toMap), rounds, out)
    Seq(d1, pairs, comp, best, stats, ents).foreach(_.unpersist())
    r
  }

  def run(ctx: Ctx): Outcome = {
    val t = ctx.tracer
    val vocab = Gen.vocabulary(ctx.seed, 3000)
    val corpus = Gen.corpus(ctx.seed, Docs, ExactFrac, NearFrac, Edits, vocab)
    val (custs, typos) = Gen.customers(ctx.seed, Customers, TypoFrac)
    val docsIn = s"${ctx.dir("curate_in")}/documents"
    val custIn = s"${ctx.dir("curate_in")}/customer"
    var runs = 0
    def outDir(): String = { runs += 1; s"${ctx.dir("curate_out")}/run-$runs" }
    def once(t: Tracer): Result = {
      val out = outDir()
      gather(ctx.spark, t.withRequest(runs) {
        t.span("request", "pipeline") { pipeline(ctx.spark, t, docsIn, custIn, out) }
      }, out)
    }
    ctx.setup(3) { (spark, r) =>
      if (r == 0) ctx.untimed {
        import spark.implicits._
        corpus.docs.map(d => (d.docId, d.text, d.lang, d.source, d.text.length.toLong))
          .toDF("doc_id", "text", "lang", "source", "n_chars").write.parquet(docsIn)
        custs.toDF("c_custkey", "c_name").write.parquet(custIn)
      }
      // the batch job's own set-up: resolve its inputs
      Seq(docsIn, custIn).foreach(p => spark.read.parquet(p).schema)
    }
    // JIT warm-up: full runs, not timed and not part of set-up
    (1 to WarmRuns).foreach(_ => once(new Tracer(false)))
    ctx.sentinel("first")
    Heap.reset()
    val results = ArrayBuffer[Result]()
    var failed = 0
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    while (System.nanoTime() < deadline || results.size < 2) {
      try results += once(t)
      catch { case scala.util.control.NonFatal(ex) =>
        failed += 1
        System.err.println(s"pipeline run failed: $ex")
        if (failed > 3) throw ex
      }
    }
    ctx.sentinel("last")

    // ---- output checks on every run (not timed) ----
    val failures = ArrayBuffer[String]()
    val text = corpus.docs.map(d => d.docId -> d.text).toMap
    val exactRemoved = corpus.docs.size - corpus.docs.map(_.text).distinct.size
    val truePairs = corpus.nearDups
      .filter(p => Gen.jaccard(text(p.orig), text(p.copy)) >= Threshold)
      .map(p => (math.min(p.orig, p.copy), math.max(p.orig, p.copy))).toSet
    val jaccard = (a: Long, b: Long) => Gen.jaccard(text(a), text(b))
    results.foreach { r =>
      failures ++= Checks.curation(r.curated, exactRemoved, jaccard, Threshold, typos)
    }
    val last = results.last
    val reported = last.curated.pairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val recall = truePairs.count(reported).toDouble / truePairs.size

    val secs = results.map(_.seconds).toSeq
    val layers = if (!t.enabled) Nil else {
      // candidate pairs before verification: the LSH yield's denominator
      val candidates = {
        val d1 = Curation.dropExactDups(ctx.spark.read.parquet(docsIn))
        Dedup.candidatePairs(Dedup.minhashSignatures(d1.select("doc_id", "text"))
          .select("doc_id", "sig")).count()
      }
      val (files, bytes) = Layers.footprint(last.outDir)
      Layers.complete(Layers.medians(t, Seq("ext.exact_dedup", "ext.minhash_pairs",
        "ext.components", "ext.keep_best", "ext.text_stats", "ext.entity", "land.write")) ++
        Map("ext.lsh_yield" -> (last.curated.pairs.size.toDouble / math.max(candidates, 1L), 1),
          "ext.cc_rounds" -> (last.rounds.toDouble, 1),
          "land.files" -> (files.toDouble, 1),
          "land.bytes_per_row" -> (bytes.toDouble / last.curated.outRows, 1)) ++ Layers.spark(t))
    }
    Outcome(attempted = results.size + failed, failed = failed,
      e2e = Seq(
        Metric("op_p50_s", Stats.median(secs), "s", secs.size),
        Metric("rows_per_s", last.curated.inRows / Stats.median(secs), "rows/s", secs.size),
        Metric("recall", recall, "ratio", truePairs.size)),
      layers = layers,
      extra = Seq(
        Metric("write_p50_s", Stats.median(results.map(_.writeSeconds).toSeq), "s", secs.size),
        Metric("planted_near_dups", corpus.nearDups.size, "count"),
        Metric("reported_pairs", last.curated.pairs.size, "count"),
        Metric("cc_rounds", last.rounds, "count")),
      failures = failures.toSeq,
      series = Seq("pipeline" -> secs, "write" -> results.map(_.writeSeconds).toSeq))
  }
}
