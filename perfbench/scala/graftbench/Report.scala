package graftbench

import java.io.File
import scala.jdk.CollectionConverters._

/** Per-layer metrics from a traced run, and the files it leaves: the span
  * file and the per-layer table. */
object Layers {

  /** Every per-layer metric the listed workloads report, in order (the
    * `per_layer` list of BENCHMARK.json). A workload that does not reach
    * a layer reports its metrics as 0. */
  val All: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.plan_s" -> "s", "spark.driver_s" -> "s",
    "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.task_skew" -> "ratio", "spark.peak_heap_mb" -> "MB",
    "catalog.watermark_s" -> "s", "catalog.record_s" -> "s", "catalog.calls" -> "count",
    "ingest.probe_s" -> "s", "ingest.rows" -> "rows",
    "land.commit_s" -> "s", "land.snapshot_s" -> "s", "land.live_dirs" -> "count",
    "land.files" -> "count", "land.maintain_s" -> "s", "land.maintain_n" -> "count",
    "land.bytes_per_row" -> "bytes", "land.write_s" -> "s",
    "files.ingest_s" -> "s", "files.objects" -> "count",
    "stream.ingest_s" -> "s", "stream.events" -> "count",
    "operators.dq_s" -> "s", "operators.mask_s" -> "s",
    "ext.exact_dedup_s" -> "s", "ext.minhash_pairs_s" -> "s", "ext.lsh_yield" -> "ratio",
    "ext.components_s" -> "s", "ext.cc_rounds" -> "count", "ext.keep_best_s" -> "s",
    "ext.text_stats_s" -> "s", "ext.entity_s" -> "s",
    "functions.codegen_fallbacks" -> "count")

  private val units = All.toMap

  /** `values` (value, samples) completed to the full list, in order. */
  def complete(values: Map[String, (Double, Int)]): Seq[Metric] = {
    val unknown = values.keySet -- units.keySet
    require(unknown.isEmpty, s"undeclared per-layer metrics: ${unknown.mkString(", ")}")
    All.map { case (n, u) =>
      val (v, k) = values.getOrElse(n, (0.0, 0))
      Metric(n, v, u, k)
    }
  }

  /** Per-call medians of the named `layer.name` spans, as `layer.name_s`. */
  def medians(t: Tracer, names: Seq[String]): Map[String, (Double, Int)] =
    names.flatMap { n =>
      val Array(layer, name) = n.split('.')
      spanMedian(t, layer, name).map(n + "_s" -> _)
    }.toMap

  /** Median duration of the `layer`/`name` spans inside requests. */
  def spanMedian(t: Tracer, layer: String, name: String): Option[(Double, Int)] = {
    val xs = t.spans.filter(s => s.layer == layer && s.name == name && s.request >= 0)
      .map(_.seconds)
    if (xs.isEmpty) None else Some((Stats.median(xs), xs.size))
  }

  /** Spark-layer metrics per request: counters summed over every span of
    * the measured requests and divided by the request count; driver
    * time is each request's wall time with no job of it running; task
    * skew is max / median task time in the run's longest stage. */
  def spark(t: Tracer): Map[String, (Double, Int)] = {
    val inReq = t.spans.filter(_.request >= 0)
    val roots = inReq.filter(_.parent < 0)
    val n = math.max(1, roots.size).toDouble
    val cs = inReq.flatMap(s => Option(t.counters.get(s.id)).map(s -> _))
    def sum(f: SpanCounters => Double): Double = cs.map(x => f(x._2)).sum / n
    val driver = roots.map { r =>
      val jobs = cs.filter(_._1.request == r.request).flatMap(_._2.jobMs.toSeq)
      r.seconds - Trace.covered(Long.MinValue, Long.MaxValue, jobs) / 1e3
    }
    val slowest = cs.map(_._2.slowest).filter(_._1 >= 0)
    val skew = if (slowest.isEmpty) 0.0 else {
      val (_, mx, med) = slowest.maxBy(_._1)
      mx.toDouble / math.max(med, 1L).toDouble
    }
    Map[String, Double](
      "spark.jobs" -> sum(_.jobs), "spark.stages" -> sum(_.stages),
      "spark.tasks" -> sum(_.tasks), "spark.plan_s" -> sum(_.planMs / 1e3),
      "spark.driver_s" -> (if (driver.isEmpty) 0.0 else Stats.median(driver)),
      "spark.executor_run_s" -> sum(_.runMs / 1e3),
      "spark.executor_cpu_s" -> sum(_.cpuNs / 1e9),
      "spark.gc_s" -> sum(_.gcMs / 1e3),
      "spark.shuffle_read_bytes" -> sum(_.shuffleRead.toDouble),
      "spark.shuffle_write_bytes" -> sum(_.shuffleWrite.toDouble),
      "spark.spill_bytes" -> sum(_.spill.toDouble),
      "spark.task_skew" -> skew,
      "spark.peak_heap_mb" -> Heap.peakMb(),
      "functions.codegen_fallbacks" -> sum(_.codegenFallbacks.toDouble))
      .map { case (k, v) => k -> (v, roots.size) }
  }

  /** Files and bytes under `root`, listed from outside the engine. */
  def footprint(root: String): (Long, Long) = {
    val files = java.nio.file.Files.walk(new File(root).toPath).iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p)).toSeq
    (files.size.toLong, files.map(p => java.nio.file.Files.size(p)).sum)
  }
}

/** Peak heap use across the JVM's heap pools since the last reset. */
object Heap {
  import java.lang.management.{ManagementFactory, MemoryType}
  private def pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  def reset(): Unit = pools.foreach(_.resetPeakUsage())
  def peakMb(): Double = pools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

object Report {

  /** Writes the span file (one JSON object per span, with its counters)
    * and the per-layer table: calls, total and self time per layer, and
    * the tracing overhead against an untraced run of the same seed when
    * one is on record in `out`. */
  def write(out: File, workload: String, seed: Long, t: Tracer, o: Outcome,
      tracedE2e: Seq[Metric]): Unit = {
    val spans = t.spans
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    val lines = spans.map { s =>
      val c = Option(t.counters.get(s.id))
      Json.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString,
        "request" -> s.request.toString, "layer" -> Json.str(s.layer),
        "name" -> Json.str(s.name),
        "start_s" -> Json.num((s.startNs - t0) / 1e9),
        "end_s" -> Json.num((s.endNs - t0) / 1e9)) ++ c.toSeq.flatMap(c => Seq(
        "jobs" -> c.jobs.toString, "stages" -> c.stages.toString,
        "tasks" -> c.tasks.toString, "plan_ms" -> c.planMs.toString,
        "executor_run_ms" -> c.runMs.toString,
        "shuffle_read_bytes" -> c.shuffleRead.toString,
        "shuffle_write_bytes" -> c.shuffleWrite.toString,
        "codegen_fallbacks" -> c.codegenFallbacks.toString)))
    }
    Json.write(new File(out, s"spans-$workload-seed$seed.jsonl"), lines.mkString("\n"))

    val children = spans.groupBy(_.parent)
    val inReq = spans.filter(_.request >= 0)
    val wall = inReq.filter(_.parent < 0).map(_.seconds).sum
    val rows = inReq.groupBy(_.layer).toSeq.sortBy(_._1).map { case (layer, ss) =>
      val self = ss.map(s => Trace.selfNs(s, children.getOrElse(s.id, Nil)) / 1e9).sum
      f"| $layer | ${ss.size} | ${ss.map(_.seconds).sum}%.3f | $self%.3f | ${100 * self / math.max(wall, 1e-9)}%.1f |"
    }
    val untraced = new File(out, s"$workload-seed$seed-trace0.json")
    val overhead = if (!untraced.exists()) Seq("No untraced run of this seed is on record, so the tracing overhead is not computed.")
      else {
        val body = new String(java.nio.file.Files.readAllBytes(untraced.toPath), "UTF-8")
        tracedE2e.filter(_.unit == "s").flatMap { m =>
          val re = ("\"" + java.util.regex.Pattern.quote(m.name) +
            "\": \\{\"value\": ([-0-9.eE]+)").r
          re.findFirstMatchIn(body).map(_.group(1).toDouble).map { u =>
            f"| ${m.name} | $u%.4f | ${m.value}%.4f | ${100 * (m.value - u) / u}%+.1f%% |"
          }
        } match {
          case Nil => Seq("The untraced record holds no comparable metric.")
          case rs => Seq("| metric | untraced | traced | overhead |", "|---|---|---|---|") ++ rs
        }
      }
    val md = Seq(s"# Per-layer table: $workload, seed $seed", "",
      "Self time is a span's duration minus the part its child spans cover.",
      "Times are summed over the measured requests.", "",
      "| layer | calls | total s | self s | self % of request wall |",
      "|---|---|---|---|---|") ++ rows ++ Seq("", "## Per-layer metrics", "",
      "| metric | value | unit | samples |", "|---|---|---|---|") ++
      (o.layers ++ o.extra).map(m => f"| ${m.name} | ${m.value}%.6g | ${m.unit} | ${m.samples} |") ++
      Seq("", "## Tracing overhead (traced end-to-end vs untraced, same seed)", "") ++ overhead
    Json.write(new File(out, s"layers-$workload-seed$seed.md"), md.mkString("\n"))
  }
}
