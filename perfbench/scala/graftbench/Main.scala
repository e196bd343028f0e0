package graftbench

import java.io.File
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** A named number with its unit and the samples behind it. */
final case class Metric(name: String, value: Double, unit: String, samples: Int = 1)

/** What a workload hands back: operation counts, the end-to-end metrics
  * (see [[Main.EndToEnd]]), per-layer metrics from the trace, extra
  * non-gating figures, and every output check that failed. */
final case class Outcome(attempted: Int, failed: Int, e2e: Seq[Metric],
    layers: Seq[Metric], extra: Seq[Metric], failures: Seq[String],
    series: Seq[(String, Seq[Double])] = Nil)

/** Shared run state: the seed, the measuring window, the tracer, a
  * scratch directory inside the checkout, and the session. */
final class Ctx(val seed: Long, val seconds: Int, val tracer: Tracer,
    val work: File, val cpus: Int) {
  private var session: SparkSession = _
  val setupSeconds = ArrayBuffer[Double]()
  val sentinels = ArrayBuffer[Metric]()

  def spark: SparkSession = session

  def dir(name: String): String = {
    val d = new File(work, name)
    d.mkdirs()
    d.getAbsolutePath
  }

  /** Set-up, `rounds` times: build a fresh session, then `prepare`. Each
    * round is timed; all but the last session are stopped. Returns the
    * last round's state. */
  def setup[S](rounds: Int)(prepare: (SparkSession, Int) => S): S = {
    var state: Option[S] = None
    (0 until rounds).foreach { r =>
      if (session != null) session.stop()
      excludedNs = 0L
      val t0 = System.nanoTime()
      session = graft.Sessions.build(cpus, "graftbench")
      session.sparkContext.setLogLevel("WARN")
      state = Some(prepare(session, r))
      setupSeconds += (System.nanoTime() - t0 - excludedNs) / 1e9
      System.err.println(f"graftbench: set-up round $r: ${setupSeconds.last}%.3f s")
    }
    tracer.attach(session)
    state.get
  }

  /** Host-load sentinels, as in `graft.Bench`: a fixed compute job and a
    * fixed one-shuffle job, timed before the window (after one untimed
    * run each) and after it. They do not gate: a run whose sentinels
    * drift far apart, or sit far above their usual value, had its
    * numbers distorted by the host's load. */
  def sentinel(tag: String): Unit = {
    val warm = sentinels.isEmpty
    def time(f: => Unit): Double = {
      if (warm) f
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    sentinels += Metric(s"sentinel_${tag}_s", time {
      spark.range(0, 20000000L, 1, 32).selectExpr("sum(id * 3 % 7) s").collect()
    }, "s")
    sentinels += Metric(s"sentinel_shuffle_${tag}_s", time {
      spark.range(0, 2000000L, 1, 32)
        .groupBy(org.apache.spark.sql.functions.expr("pmod(id, 4096)"))
        .count().selectExpr("sum(count) s").collect()
    }, "s")
  }

  /** Largest ratio of a sentinel after the window to before it. */
  def sentinelDrift: Double =
    sentinels.groupBy(_.name.replaceAll("_(first|last)_s$", "")).values
      .map(ms => ms.last.value / ms.head.value).max

  private var excludedNs = 0L

  /** Input generation inside a set-up round: run, but not timed. */
  def untimed[A](f: => A): A = {
    val t0 = System.nanoTime()
    try f finally excludedNs += System.nanoTime() - t0
  }

  def stop(): Unit = if (session != null) { session.stop(); session = null }
}

object Main {

  /** End-to-end metrics, reported by every workload (units fixed here).
    * What each means per workload is documented in the README. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_s" -> "s", "rows_per_s" -> "rows/s", "recall" -> "ratio")

  val Workloads: Map[String, Ctx => Outcome] = Map(
    "lake_ingest" -> LakeIngest.run,
    "corpus_curate" -> CorpusCurate.run,
    "index_serve" -> IndexServe.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", sys.error("--workload is required"))
    val run = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "20").toInt
    val traced = opts.getOrElse("trace", "0") == "1"
    val out = new File(opts.getOrElse("out", ".bench_out"))
    val work = new File(opts.getOrElse("work", ".bench_work"))
    out.mkdirs(); work.mkdirs()

    val tracer = new Tracer(traced)
    val ctx = new Ctx(seed, seconds, tracer, work, Runtime.getRuntime.availableProcessors)
    val o =
      try run(ctx)
      finally ctx.stop()

    val setup = Metric("setup_s", Stats.median(ctx.setupSeconds.toSeq), "s",
      ctx.setupSeconds.size)
    val e2e = setup +: o.e2e
    val missing = EndToEnd.map(_._1).filterNot(n => e2e.exists(_.name == n))
    require(missing.isEmpty, s"workload did not report ${missing.mkString(", ")}")
    val tag = s"$workload-seed$seed-trace${if (traced) 1 else 0}"
    val env = Seq(
      "nproc" -> ctx.cpus.toString,
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "jdk" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION)
    val record = Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "seconds" -> seconds.toString, "trace" -> traced.toString,
      "env" -> Json.obj(env.map { case (k, v) => k -> Json.str(v) }),
      "attempted" -> o.attempted.toString, "failed" -> o.failed.toString,
      "end_to_end" -> Json.metrics(e2e, withSamples = true),
      "per_layer" -> Json.metrics(o.layers, withSamples = true),
      "extra" -> Json.metrics(o.extra ++ ctx.sentinels :+
        Metric("sentinel_drift", ctx.sentinelDrift, "ratio"), withSamples = true),
      "setup_rounds_s" -> ctx.setupSeconds.map(Json.num).mkString("[", ",", "]"),
      "series_s" -> Json.obj(o.series.map { case (k, xs) => k -> xs.map(Json.num).mkString("[", ",", "]") }),
      "failures" -> o.failures.map(Json.str).mkString("[", ",", "]")))
    Json.write(new File(out, s"$tag.json"), record)
    if (traced) Report.write(out, workload, seed, tracer, o, e2e)

    // human-readable lines first; the last stdout line is the result
    e2e.foreach(m => println(f"# ${m.name}%-16s ${m.value}%14.6f ${m.unit}%-7s n=${m.samples}"))
    o.extra.foreach(m => println(f"# ${m.name}%-24s ${m.value}%14.6f ${m.unit}%-7s n=${m.samples}"))
    ctx.sentinels.foreach(m => println(f"# ${m.name}%-24s ${m.value}%14.6f ${m.unit}"))
    println(f"# sentinel_drift             ${ctx.sentinelDrift}%14.6f ratio (last / first; well above 1: host load)")
    o.failures.foreach(f => println(s"# CHECK FAILED: $f"))
    val shown = if (traced) o.layers else e2e
    println(Json.obj(Seq(
      "correct" -> o.failures.isEmpty.toString,
      "attempted" -> o.attempted.toString,
      "failed" -> o.failed.toString,
      "metrics" -> Json.metrics(shown, withSamples = false))))
    System.out.flush()
    if (o.failures.nonEmpty) sys.exit(3)
  }
}

/** Just enough JSON writing for flat records. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def metrics(ms: Seq[Metric], withSamples: Boolean): String =
    obj(ms.map { m =>
      m.name -> obj(Seq("value" -> num(m.value), "unit" -> str(m.unit)) ++
        (if (withSamples) Seq("samples" -> m.samples.toString) else Nil))
    })
  def write(f: File, body: String): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.println(body) finally w.close()
  }
}
