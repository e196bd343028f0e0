package graftbench

import java.io.File
import java.sql.{DriverManager, Timestamp}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.app.TransactionalIngest
import graft.catalog.JdbcMetadataStore
import graft.files.FileRelay
import graft.ingest.{IncrementalExtractor, JdbcTableSource}
import graft.land.AtomicLanding
import graft.model._
import graft.operators.{DataQuality, Masking}

/** `lake_ingest`: the reference's run-per-invocation database pattern,
  * one closed-loop client. Each step is one run over the next watermark
  * interval of a Derby `events` source: watermark lookup, incremental
  * extract, transactional landing + run record, Derby mirror of the
  * record, data quality and masking over the batch, status updates, and
  * a snapshot read. Every 5th step also maintains the root, and one
  * step in every 5 (seeded position) adds a file-pattern and a
  * stream-pattern batch, so every block of 5 steps holds one of each.
  * The window ends on a block boundary. Inserting an interval into the
  * source is not timed. */
object LakeIngest {
  val Intervals = 120
  /** Every block of `Block` steps carries `BlockRows` rows, one
    * maintenance and one file + stream batch. */
  val Block = 5
  val BlockRows = 4000
  /** Untimed steps between set-up and the measuring window. */
  val WarmSteps = Block - 1
  val AssetId = 7
  val SrcSysId = 1

  private val derby = DbType.Custom("derby",
    "org.apache.derby.iapi.jdbc.AutoloadedDriver",
    (_, _, d) => s"jdbc:derby:memory:$d", fetchFirst = true,
    tsLiteralFn = Some(s => s"TIMESTAMP('$s')"))

  private val rules = Seq(DataQuality.NotNull("event_id"),
    DataQuality.InRange("value", 0.0, 1e6),
    DataQuality.Matches("event_type", "^[a-z]+$"), DataQuality.Unique("event_id"))

  /** One lake: Derby source and control store, landing roots, relay. */
  final class Lake(val spark: SparkSession, round: Int, work: File, seed: Long) {
    val srcDb = s"src_${seed}_$round"
    val source = new JdbcTableSource(spark, derby, "", 0, srcDb, "", "", None, "events")
    private val src = DriverManager.getConnection(s"jdbc:derby:memory:$srcDb;create=true")
    private val insert = {
      src.createStatement().execute("""create table events(event_id bigint, ts timestamp,
        user_id bigint, event_type varchar(16), value double, props varchar(64))""")
      src.prepareStatement("insert into events values (?, ?, ?, ?, ?, ?)")
    }
    val metaUrl = s"jdbc:derby:memory:meta_${seed}_$round;create=true"
    val store = {
      val c = DriverManager.getConnection(metaUrl)
      val st = c.createStatement()
      st.execute("""create table data_asset_catalogs(
        exec_id varchar(100) not null, src_sys_id int, asset_id int not null,
        dq_validation varchar(20), data_publish varchar(20), data_masking varchar(20),
        src_file_path varchar(500), s3_log_path varchar(500),
        proc_start_ts timestamp, created_ts timestamp, last_ext_time timestamp,
        constraint data_asset_catalogs_run_uq unique (exec_id, asset_id))""")
      c.close()
      new JdbcMetadataStore(metaUrl, new java.util.Properties())
    }
    private def path(n: String): String = {
      val d = new File(work, s"lake$round/$n"); d.mkdirs(); d.getAbsolutePath
    }
    val root = path("db_root")
    val filesRoot = path("files_root")
    val streamRoot = path("stream_root")
    val filesInbound = path("files_inbound")
    val streamInbound = path("stream_inbound")
    val processed = path("processed")
    val relay = new FileRelay()

    def load(iv: Gen.Interval): Unit = {
      iv.rows.foreach { e =>
        insert.setLong(1, e.eventId); insert.setTimestamp(2, new Timestamp(e.tsMs))
        insert.setLong(3, e.userId); insert.setString(4, e.eventType)
        insert.setDouble(5, e.value); insert.setString(6, e.props)
        insert.addBatch()
      }
      insert.executeBatch()
    }

    def close(): Unit = src.close()
  }

  private def entry(execId: String, wm: Option[Timestamp]): CatalogEntry = {
    val now = new Timestamp(System.currentTimeMillis())
    CatalogEntry(execId, SrcSysId, AssetId, CatalogEntry.StatusNotStarted,
      CatalogEntry.StatusNotStarted, CatalogEntry.StatusNotStarted, "", "", now, now, wm)
  }

  /** Durations of one database step's parts. */
  final case class StepTimes(total: Double, commit: Double)

  def step(lake: Lake, t: Tracer, k: Int, maintain: Boolean): StepTimes = {
    val spark = lake.spark
    val t0 = System.nanoTime()
    val wm = t.span("catalog", "watermark") { lake.store.highestWatermark(AssetId) }
    val ext = t.span("ingest", "probe") {
      IncrementalExtractor.extract(lake.source, ExtractionMethod.Incremental, Some("ts"), wm)
    }
    val e = entry(f"step-$k%04d", ext.newWatermark)
    val c0 = System.nanoTime()
    t.span("land", "commit") {
      TransactionalIngest.ingest(spark, lake.root, ext.data, e, batchId = Some(k.toLong))
    }
    val commit = (System.nanoTime() - c0) / 1e9
    t.span("catalog", "record") { lake.store.insertCatalogEntryIfAbsent(e) }
    t.span("operators", "dq") { DataQuality.validate(ext.data, rules).collect() }
    t.span("operators", "mask") {
      graft.Bench.materialize(ext.data.select(
        Masking.pseudonym(col("user_id"), "bench").as("user_key"),
        Masking.maskAllButLast("props", 4).as("props_masked"),
        Masking.generalize(col("value"), 100.0).as("value_band")))
    }
    t.span("catalog", "record") {
      lake.store.updateCatalogStatus(e.execId, "dq_validation", "passed")
      lake.store.updateCatalogStatus(e.execId, "data_masking", "done")
    }
    if (maintain) t.span("land", "maintain") { maintainRoot(spark, lake.root) }
    t.span("land", "snapshot") { TransactionalIngest.snapshot(spark, lake.root).get._1.count() }
    StepTimes((System.nanoTime() - t0) / 1e9, commit)
  }

  /** Maintenance of a transactional root. `IngestionJob.maintain` is not
    * usable here: it compacts and vacuums a member table on its own, so
    * the version the root still pins is deleted and the next snapshot
    * read fails. This folds each member with the same primitives the
    * persisted indexes use: compact, publish the compacted versions in
    * one root swing, then vacuum what no root generation pins. */
  def maintainRoot(spark: SparkSession, root: String): Int = {
    val snap = AtomicLanding.linkedSnapshot(root).get
    val folded = snap.members.map { case (m, v) =>
      val t = s"$root/$m"
      m -> (if (AtomicLanding.liveDirCount(t) > Block - 2)
        AtomicLanding.compact(spark, t, numFiles = 1) else v)
    }
    if (folded == snap.members) 0
    else {
      AtomicLanding.publishLinked(root, folded, expectedRoot = Some(snap.rootVersion))
      AtomicLanding.vacuumLinked(root).size
    }
  }

  /** One file-pattern and one stream-pattern batch; returns rows landed. */
  def sideBatch(lake: Lake, t: Tracer, seed: Long, b: Int): Int = {
    val objs = Gen.objects(seed, b, 6)
    objs.foreach { case (n, bytes) =>
      java.nio.file.Files.write(new File(lake.filesInbound, n).toPath, bytes)
    }
    val evs = Gen.streamObjects(seed, b, 4)
    evs.foreach { case (n, body, _) =>
      java.nio.file.Files.write(new File(lake.streamInbound, n).toPath, body.getBytes("UTF-8"))
    }
    t.withRequest(100000L + b) {
      t.span("request", "files") {
        t.span("files", "ingest") {
          TransactionalIngest.ingestFiles(lake.spark, lake.filesRoot, lake.filesInbound,
            lake.relay, s"${lake.processed}/files", entry(f"files-$b%03d", None),
            batchId = Some(b.toLong))
        }
      }
    }
    t.withRequest(200000L + b) {
      t.span("request", "stream") {
        t.span("stream", "ingest") {
          TransactionalIngest.ingestStream(lake.spark, lake.streamRoot, lake.streamInbound,
            lake.relay, s"${lake.processed}/stream", entry(f"stream-$b%03d", None),
            batchId = Some(b.toLong))
        }
      }
    }
    objs.size + evs.map(_._3.size).sum
  }

  def run(ctx: Ctx): Outcome = {
    val t = ctx.tracer
    val intervals = Gen.events(ctx.seed, Intervals, Block, BlockRows)
    val sidePhase = (ctx.seed % Block).toInt.abs
    val lake = ctx.setup(3) { (spark, r) =>
      val l = new Lake(spark, r, ctx.work, ctx.seed)
      l.load(intervals(0))
      step(l, new Tracer(false), 0, false) // the first run: a full extract
      l
    }
    def maintains(k: Int) = (k + 1) % Block == 0
    // JIT warm-up, not timed and not part of set-up (a long-running
    // ingestion service pays it once, not per run): the rest of the first
    // block, with a file and a stream batch
    (1 to WarmSteps).foreach { k =>
      lake.load(intervals(k))
      step(lake, new Tracer(false), k, maintains(k))
    }
    sideBatch(lake, new Tracer(false), ctx.seed, 0)
    var sideBatches = 1
    val first = 1 + WarmSteps
    val sideAt = (ctx.seed % Block).toInt.abs
    ctx.sentinel("first")
    Heap.reset()

    val steps = ArrayBuffer[StepTimes]()
    var k = first
    var failed = 0
    var (rows, busy) = (0L, 0.0)
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    // whole blocks only, so every run's throughput covers the same mix
    while ((System.nanoTime() < deadline || (k - first) % Block != 0 || k == first) &&
        k < intervals.size) {
      lake.load(intervals(k))
      val s0 = System.nanoTime()
      try {
        steps += t.withRequest(k) {
          t.span("request", "step") { step(lake, t, k, maintains(k)) }
        }
        rows += intervals(k).rows.size
        if (k % Block == sideAt) {
          rows += sideBatch(lake, t, ctx.seed, sideBatches)
          sideBatches += 1
        }
      } catch { case scala.util.control.NonFatal(ex) =>
        failed += 1
        System.err.println(s"step $k failed: $ex")
      }
      busy += (System.nanoTime() - s0) / 1e9
      k += 1
    }
    val dbSteps = k
    ctx.sentinel("last")

    // ---- output checks (not timed) ----
    val failures = ArrayBuffer[String]()
    val generated = intervals.take(dbSteps).flatMap(_.rows)
    val (landing, catalog) = TransactionalIngest.snapshot(lake.spark, lake.root).get
    val landed = landing.select("event_id", "ts", "user_id", "event_type", "value", "props")
      .collect().map(r => Gen.Event(r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2),
        r.getString(3), r.getDouble(4), r.getString(5)).key)
    val want = generated.map(_.key)
    failures ++= Checks.landing(landed.toSeq, want)
    val expectedWm = (0 until dbSteps).map(i => f"step-$i%04d" -> intervals(i).upperMs).toMap
    failures ++= Checks.runRecords("catalog member", catalog.select("execId", "lastExtTime")
      .collect().map(r => r.getString(0) -> Option(r.getTimestamp(1)).map(_.getTime)).toSeq,
      expectedWm)
    failures ++= Checks.runRecords("Derby mirror", lake.store.catalogEntries(AssetId)
      .map(e => e.execId -> e.lastExtTime.map(_.getTime)), expectedWm)
    failures ++= Checks.objects(
      TransactionalIngest.snapshot(lake.spark, lake.filesRoot).get._1
        .select("obj_name", "content").collect()
        .map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq).toSeq,
      (0 until sideBatches).flatMap(b => Gen.objects(ctx.seed, b, 6))
        .map { case (n, b) => n -> b.toSeq }.toMap)
    failures ++= Checks.events(
      TransactionalIngest.snapshot(lake.spark, lake.streamRoot).get._1
        .select("src_obj", "event_json").collect()
        .map(r => r.getString(0) -> r.getString(1)).toSeq,
      (0 until sideBatches).flatMap(b => Gen.streamObjects(ctx.seed, b, 4))
        .flatMap { case (n, _, es) => es.map(n -> _) })
    val landedCounts = landed.groupBy(identity).view.mapValues(_.length).toMap
    val exactlyOnce = want.count(k => landedCounts.getOrElse(k, 0) == 1)

    val lat = steps.map(_.total).toSeq
    val extra = Seq(
      Some(Metric("db_steps", steps.size, "count", steps.size)),
      Some(Metric("commit_p50_s", Stats.median(steps.map(_.commit).toSeq), "s", lat.size)),
      Some(Metric("side_batches", sideBatches - 1, "count")),
      Stats.tail(lat, 0.75).map(Metric("ingest_batch_p75_s", _, "s", lat.size)),
      Stats.tail(lat, 0.9).map(Metric("ingest_batch_p90_s", _, "s", lat.size))).flatten
    val layers = if (!t.enabled) Nil else {
      val (files, bytes) = Layers.footprint(lake.root)
      val named = Layers.medians(t, Seq("catalog.watermark", "catalog.record",
        "ingest.probe", "land.commit", "land.snapshot", "land.maintain", "files.ingest",
        "stream.ingest", "operators.dq", "operators.mask"))
      val inReq = t.spans.filter(_.request >= 0)
      val counts = Seq(
        ("catalog.calls", inReq.count(_.layer == "catalog").toDouble / steps.size, steps.size),
        ("ingest.rows", (first until dbSteps).map(intervals(_).rows.size).sum.toDouble / steps.size,
          steps.size),
        ("land.live_dirs", AtomicLanding.liveDirCount(
          s"${lake.root}/${TransactionalIngest.LandingMember}").toDouble, 1),
        ("land.files", files.toDouble, 1),
        ("land.bytes_per_row", bytes.toDouble / want.size, 1),
        ("land.maintain_n", inReq.count(_.name == "maintain").toDouble, 1),
        ("files.objects", (sideBatches - 1) * 6.0, sideBatches - 1),
        ("stream.events", (1 until sideBatches).flatMap(b =>
          Gen.streamObjects(ctx.seed, b, 4)).map(_._3.size).sum.toDouble, sideBatches - 1))
      Layers.complete(named ++ counts.map(x => x._1 -> (x._2, x._3)) ++ Layers.spark(t))
    }
    lake.close()
    Outcome(attempted = steps.size + failed, failed = failed,
      e2e = Seq(
        Metric("op_p50_s", Stats.median(lat), "s", lat.size),
        Metric("rows_per_s", rows / busy, "rows/s", steps.size / Block),
        Metric("recall", exactlyOnce.toDouble / want.size, "ratio", want.size)),
      layers = layers, extra = extra, failures = failures.toSeq,
      series = Seq("step" -> lat, "commit" -> steps.map(_.commit).toSeq))
  }
}
