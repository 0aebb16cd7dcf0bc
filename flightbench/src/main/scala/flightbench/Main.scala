package flightbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.config.EngineConfig
import graft.operators.{DailyFlow, Flatten}
import graft.sources.IngestionEngine
import graft.streaming.StreamingDailyFlow

final case class Args(
    workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path,
    spans: Option[Path])

/**
 * Daily-ingest benchmark. Builds a fresh session and warehouse,
 * generates the workload's day files from the seed, warms up, runs the
 * timed phase, checks the output table, and prints one result line:
 *
 *   FLIGHTBENCH_RESULT {"correct": .., "attempted": .., "failed": .., "metrics": {..}}
 *
 * Usage: Main --workload NAME --seed N --seconds S --trace 0|1 --work DIR
 *             [--spans FILE]   (traced runs: where the spans are written)
 */
object Main {
  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val args = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath,
      kv.get("spans").map(Paths.get(_).toAbsolutePath))
    val code =
      try {
        val result = new Run(args, Workloads.byName(args.workload)).execute()
        println("FLIGHTBENCH_RESULT " + result)
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      }
    // Spark may leave non-daemon threads behind; end the JVM here.
    System.out.flush()
    System.exit(code)
  }

  def log(msg: String): Unit = System.err.println(s"[flightbench] $msg")
}

final class Run(a: Args, wl: Workload) {
  import Main.log

  private val cores = Runtime.getRuntime.availableProcessors
  private val table = "flights"
  private val dirs = Seq("in", "staging", "landing", "ckpt", "wh", "local")
    .map(d => d -> Files.createDirectories(a.work.resolve(d))).toMap

  private val spark: SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName(s"flightbench-${wl.name}")
    .config("spark.sql.catalogImplementation", "in-memory")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", dirs("wh").toString)
    .config("spark.local.dir", dirs("local").toString)
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")

  private val trace = new Trace(spark, a.trace)
  private val config = EngineConfig.fromJson(Workloads.configJson(table))
  private val flow = new DailyFlow(config)
  private val engine = new IngestionEngine(config)

  // Outcomes of the timed phase.
  private val ingested = mutable.ArrayBuffer.empty[DayFile] // all days in the table
  private val dayLatency = mutable.ArrayBuffer.empty[Double]
  private var dayRows = 0L
  private var dayBytes = 0L
  private var daysAttempted = 0
  private var daysFailed = 0
  private var ingestSeconds = 0.0
  private val queryMs = mutable.ArrayBuffer.empty[(String, Double)]
  private var queriesAttempted = 0
  private var queriesFailed = 0
  private var queryRetries = 0
  private var readsSeconds = 0.0
  private var lateMs = 0.0
  private var landedAt = Seq.empty[Long]

  def execute(): String = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    log(f"session started after ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.2f s")
    val (pool, warm) = generate()
    val history = pool.take(wl.historyDays)
    val timedPool = pool.drop(history.length)
    val stream =
      if (wl.streaming) Some(preload(history))
      else {
        warmUp(warm)
        history.foreach { f =>
          val t = System.nanoTime()
          flow.processDaily(spark, f.path)
          ingested += f
          log(f"history day ${f.date}: ${(System.nanoTime() - t) / 1e9}%.3f s")
        }
        None
      }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    log(f"setup $setupS%.2f s")

    val before = trace.totals()
    val streamBefore = trace.streamingWork.synchronized(trace.streamingWork.copy())
    val phaseStart = System.nanoTime()
    stream match {
      case Some(q) => streamPhase(q, timedPool)
      case None =>
        batchPhase(timedPool)
        readsSeconds = readLoop(a.seconds * ReadsShare, () => false, MinBatchQueries)
    }
    val phaseWall = (System.nanoTime() - phaseStart) / 1e9
    val phase = trace.totals().minus(before)

    val checks = guarded("gate")(Gate.run(spark, table, ingested.toSeq))
      .getOrElse(Seq(Check("gate", ok = false, "gate did not complete")))
    checks.foreach(c => log(s"check ${c.name}: ${if (c.ok) "ok" else "FAILED"} (${c.detail})"))

    val metrics =
      if (a.trace) layerMetrics(phase, phaseWall,
        stream.map(_ => trace.streamingWork.synchronized(trace.streamingWork.minus(streamBefore))))
      else endToEnd(setupS)
    if (a.trace) a.spans.foreach(writeSpans)
    spark.stop()

    val failed = daysFailed + queriesFailed + checks.count(!_.ok)
    val attempted = daysAttempted + queriesAttempted + checks.length
    log(f"days $daysAttempted%d attempted, $daysFailed%d failed; queries " +
      f"$queriesAttempted%d attempted, $queriesFailed%d failed, $queryRetries%d retried; " +
      f"failed_ops_ratio ${failed.toDouble / attempted}%.4f")
    val body = metrics.map { case (k, (v, unit)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$unit"}"""
    }.mkString(", ")
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}"""
  }

  /** Share of a batch run spent on reads after the ingest phase, and
    * the fewest queries it runs: 44 samples put the query tail at p75
    * with 11 samples beyond it. */
  private val ReadsShare = 0.2
  private val MinBatchQueries = 44

  // ---------------------------------------------------------------- set-up

  /** Day files of the workload (pool) and of the batch warm-up, from
    * the seed. */
  private def generate(): (Seq[DayFile], Seq[DayFile]) = {
    val t = System.nanoTime()
    val dir = if (wl.streaming) dirs("staging") else dirs("in")
    val pool = (0 until wl.poolDays).map { i =>
      FlightGen.writeDay(dir.resolve(f"day-$i%03d.json").toString,
        wl.start.plusDays(i), wl.dayFlights, a.seed, wl.name, i)
    }
    val warmStart = wl.start.minusYears(1)
    val warm =
      if (wl.streaming) Nil
      else (Workloads.WarmFlights +: Seq.fill(WarmFullDays)(wl.dayFlights)).zipWithIndex.map {
        case (flights, i) =>
          FlightGen.writeDay(dirs("in").resolve(f"warm-$i%03d.json").toString,
            warmStart.plusDays(i), flights, a.seed, "warm-up", i)
      }
    log(f"generated ${pool.length + warm.length}%d day files: ${(System.nanoTime() - t) / 1e9}%.3f s")
    (pool, warm)
  }

  /** Full-size throwaway warm-up days. On a 4-core machine the first
    * day of a fresh JVM takes 6-7x a settled day (so it is a small one),
    * and the latency of a full-size day settles after about five of
    * them: the small one, these and the workload's history days. */
  private val WarmFullDays = 2

  /** Ingest throwaway days into a scratch table until day latency has
    * settled, then drop the table. */
  private def warmUp(warm: Seq[DayFile]): Unit = {
    val scratch = new DailyFlow(EngineConfig.fromJson(Workloads.configJson("warmup")))
    warm.foreach { f =>
      val t = System.nanoTime()
      trace.span("warmup")(scratch.processDaily(spark, f.path))
      log(f"warm-up day of ${f.rows}%d flights: ${(System.nanoTime() - t) / 1e9}%.3f s")
    }
    warmQueries("warmup", warm.map(_.date))
    spark.sql("DROP TABLE IF EXISTS warmup")
  }

  /** Each analyst query once, so the timed reads find their code
    * generated and compiled. */
  private def warmQueries(t: String, days: Seq[java.time.LocalDate]): Unit = {
    val rng = new java.util.SplittableRandom(a.seed)
    val start = System.nanoTime()
    for (kind <- Queries.kinds) trace.span("warmup") {
      spark.catalog.refreshTable(t)
      Queries.run(kind, spark.read.table(t), wl, days, rng).collect()
    }
    log(f"warm-up queries: ${(System.nanoTime() - start) / 1e9}%.3f s")
  }

  /** Start the streaming query and preload the history through it, a
    * day at a time, each landed once the last has committed: the
    * history doubles as the warm-up of the path the workload times.
    * Returns the running query. */
  private def preload(history: Seq[DayFile]): StreamingQuery = {
    val q = new StreamingDailyFlow(config).start(spark, dirs("landing").toString,
      Workloads.RawSchema, dirs("ckpt").toString,
      Trigger.ProcessingTime(TriggerMs))
    history.zipWithIndex.foreach { case (f, i) =>
      val t = System.nanoTime()
      ingested += land(f)
      awaitBatches(i + 1, System.nanoTime() + 120L * 1000000000L)
      log(f"history day ${f.date}: ${(System.nanoTime() - t) / 1e9}%.3f s")
    }
    warmQueries(table, history.map(_.date))
    q
  }

  private val TriggerMs = 100L

  // --------------------------------------------------------- timed phases

  private def ingestBatchDay(f: DayFile, day: Int): Unit =
    if (!a.trace) flow.processDaily(spark, f.path)
    else trace.span("day", day) {
      // processDaily, call by call, so each layer gets its own span.
      val raw = trace.span("sources.readJson", day)(engine.readJson(spark, f.path))
      val flat = trace.span("flatten", day)(Flatten.flatten(raw))
      val frame = trace.span("coerce", day)(engine.coerce(flat))
      trace.span("dailyflow", day)(flow.processIngested(spark, frame))
    }

  /** Closed loop, one caller: the next day starts when the last is
    * committed, until the ingest share of the run is spent. */
  private def batchPhase(pool: Seq[DayFile]): Unit = {
    val start = System.nanoTime()
    val deadline = start + ((1 - ReadsShare) * a.seconds * 1e9).toLong
    var i = 0
    while (i < pool.length && System.nanoTime() < deadline) {
      val f = pool(i)
      val t = System.nanoTime()
      daysAttempted += 1
      if (guarded(s"day ${f.date}")(ingestBatchDay(f, i)).isEmpty) daysFailed += 1
      dayLatency += (System.nanoTime() - t) / 1e9
      ingested += f
      dayRows += f.rows
      dayBytes += f.bytes
      i += 1
    }
    if (i == pool.length) log(s"day pool of ${pool.length} drained before the time was up")
    ingestSeconds = (System.nanoTime() - start) / 1e9
  }

  /** Open loop: day files land on a fixed schedule while one reader
    * queries the table; each day's latency runs from when it was due
    * to land until its micro-batch committed. */
  private def streamPhase(q: StreamingQuery, pool: Seq[DayFile]): Unit = {
    val every = (wl.landEverySeconds * 1e9).toLong
    val t0 = System.nanoTime()
    val t0Ms = System.currentTimeMillis()
    val lands = math.min(pool.length, ((a.seconds * 1e9 - every / 2) / every).toInt + 1)
    @volatile var stop = false
    val reader = new Thread(() => readsSeconds = readLoop(Double.MaxValue, () => stop))
    reader.setName("flightbench-reader")
    reader.start()
    val due = mutable.ArrayBuffer.empty[Long]
    val landed = mutable.ArrayBuffer.empty[Long]
    val files = mutable.ArrayBuffer.empty[DayFile]
    for (k <- 0 until lands) {
      val dueNs = t0 + k * every
      val wait = dueNs - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
      due += t0Ms + (dueNs - t0) / 1000000
      files += land(pool(k))
      landed += System.currentTimeMillis()
      lateMs = math.max(lateMs, (landed.last - due.last).toDouble)
    }
    landedAt = landed.toSeq
    // The measured window: the run's seconds, or until the last landed
    // day commits, whichever is later.
    val endNs = t0 + a.seconds * 1000000000L
    awaitBatches(wl.historyDays + lands, System.nanoTime() + 60L * 1000000000L)
    val nowNs = System.nanoTime()
    if (nowNs < endNs) Thread.sleep((endNs - nowNs) / 1000000)
    stop = true
    reader.join()
    q.stop()
    trace.drain()

    val batches = trace.streamBatches.drop(wl.historyDays)
    for (k <- 0 until lands) {
      daysAttempted += 1
      val f = files(k)
      batches.lift(k) match {
        // A batch's input-row count also counts the rows of its
        // emptiness probe, so it is at least the day's rows.
        case Some(b) if b.rows >= f.rows =>
          dayLatency += (b.startMs + b.triggerMs - due(k)) / 1000.0
          ingested += f
          dayRows += f.rows
          dayBytes += f.bytes
        case other =>
          log(s"day ${f.date}: no matching committed micro-batch ($other)")
          daysFailed += 1
          ingested += f // the gate then shows what the table holds
      }
    }
    val commits = batches.take(lands).map(b => b.startMs + b.triggerMs)
    ingestSeconds = if (commits.isEmpty) 0.0 else (commits.max - due.head) / 1000.0
  }

  /** Move a generated day into the landing directory, atomically, with
    * its landing time as the modification time. */
  private def land(f: DayFile): DayFile = {
    val src = Paths.get(f.path)
    val dest = dirs("landing").resolve(src.getFileName)
    Files.setLastModifiedTime(src, FileTime.fromMillis(System.currentTimeMillis()))
    Files.move(src, dest, StandardCopyOption.ATOMIC_MOVE)
    f.copy(path = dest.toString)
  }

  private def awaitBatches(n: Int, deadlineNs: Long): Unit =
    while (trace.streamBatches.length < n && System.nanoTime() < deadlineNs) Thread.sleep(20)

  // ------------------------------------------------------------- reads

  /** The reference notebook's analyst queries, one caller in a closed
    * loop, each timed from a fresh table listing to the collected rows,
    * for `seconds` and at least `minQueries` queries. Returns the
    * seconds spent. */
  private def readLoop(
      seconds: Double, stopped: () => Boolean, minQueries: Int = 0): Double = {
    val rng = new java.util.SplittableRandom(a.seed ^ 0x5EEDL)
    val start = System.nanoTime()
    val end = if (seconds == Double.MaxValue) Long.MaxValue else start + (seconds * 1e9).toLong
    val kinds = Queries.kinds
    // Days in the table when the reads start: all of a batch run's,
    // the history of a streaming run.
    val known = ingested.map(_.date).toSeq
    var i = 0
    while (!stopped() && (System.nanoTime() < end || i < minQueries)) {
      val kind = kinds(i % kinds.length)
      val t = System.nanoTime()
      var attempt = 0
      var ok = false
      while (!ok && attempt < 3) {
        attempt += 1
        try {
          trace.span(s"reads.$kind") {
            spark.catalog.refreshTable(table)
            Queries.run(kind, spark.read.table(table), wl, known, rng).collect()
          }
          ok = true
        } catch {
          // A partition overwritten between listing and scan: the
          // query is retried on a fresh listing.
          case NonFatal(e) if attempt < 3 && isMissingFile(e) => queryRetries += 1
          case NonFatal(e) => log(s"query $kind failed: $e"); attempt = 3
        }
      }
      queriesAttempted += 1
      if (ok) queryMs += kind -> (System.nanoTime() - t) / 1e6
      else queriesFailed += 1
      i += 1
    }
    (System.nanoTime() - start) / 1e9
  }

  private def isMissingFile(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists { c =>
      c.isInstanceOf[java.io.FileNotFoundException] ||
      c.isInstanceOf[java.nio.file.NoSuchFileException] ||
      String.valueOf(c.getMessage).contains("FILE_NOT_EXIST")
    }

  // ------------------------------------------------------------ metrics

  private type Metrics = Seq[(String, (Double, String))]

  private def endToEnd(setupS: Double): Metrics = {
    require(dayLatency.nonEmpty && queryMs.nonEmpty, "no day or query completed")
    val (tailLabel, tail) = Stats.tail(dayLatency.toSeq)
    val q = queryMs.map(_._2).toSeq
    val (qTailLabel, qTail) = Stats.tail(q)
    log(s"day latency samples: ${dayLatency.map(x => f"$x%.3f").mkString(" ")}")
    log(s"day latency: ${dayLatency.length} samples, tail = $tailLabel; " +
      s"query latency: ${q.length} samples, tail = $qTailLabel")
    Seq(
      "setup_s" -> (setupS, "s"),
      "day_latency_p50_s" -> (Stats.median(dayLatency.toSeq), "s"),
      "day_latency_tail_s" -> (tail, "s"),
      "ingest_rows_per_s" -> (dayRows / ingestSeconds, "rows/s"),
      "query_p50_ms" -> (Stats.median(q), "ms"),
      "query_tail_ms" -> (qTail, "ms"),
      "queries_per_s" -> (q.length / readsSeconds, "1/s"),
      "storage_bytes_per_input_byte" ->
        (tableBytes().toDouble / ingested.map(_.bytes).sum, "ratio"),
      "peak_rss_mb" -> (peakRssMb(), "MB"))
  }

  /** Per-layer metrics; `streamed` is the streaming query's work in
    * the timed phase, when the workload streams. */
  private def layerMetrics(phase: Work, wall: Double, streamed: Option[Work]): Metrics = {
    val streaming = streamed.isDefined
    val days = math.max(1, dayLatency.length)
    val inBytes = math.max(1L, dayBytes).toDouble
    def med(name: String, scale: Double = 1.0): Double = {
      val s = trace.spansNamed(name).filter(_.day >= 0).map(_.seconds * scale)
      if (s.isEmpty) 0.0 else Stats.median(s)
    }
    // Work of the ingest path in the timed phase: the batch spans of
    // each day, or the streaming query's jobs.
    val ingestWork: Seq[Work] =
      if (streaming) streamed.toSeq
      else trace.spansNamed("dailyflow").filter(_.day >= 0).map(trace.workOfSpan)
    val sourceWork: Seq[Work] =
      if (streaming) Nil
      else trace.spansNamed("sources.readJson").filter(_.day >= 0).map(trace.workOfSpan)
    def sum(ws: Seq[Work])(f: Work => Long): Double = ws.map(f).sum.toDouble
    val all = ingestWork ++ sourceWork
    val probe = guarded("probes")(Probes.run(spark, trace, engine, table,
      ingested.toSeq.takeRight(ProbeDays), streaming)).getOrElse(Probes.Empty)

    val readKinds = Queries.kinds.map(k => k -> trace.workNamed(s"reads.$k"))
    val reads = readKinds.flatMap(_._2)
    val nq = math.max(1, queryMs.length)
    val batches = trace.streamBatches.drop(wl.historyDays)
    val landing = landedAt.zip(batches).map { case (l, b) => (b.startMs - l) / 1000.0 }
    def medOr0(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)

    val dailyflowS = med("dailyflow")
    val enrichS = probe.tzLoadMs / 1000 + probe.utcSelfS + probe.intervalsSelfS
    Seq(
      "sources.infer_s" -> (med("sources.readJson"), "s"),
      "sources.scan_s" -> (sum(all)(_.jsonScanRunMs) / 1000 / days, "s"),
      "sources.bytes_read_per_input_byte" -> (sum(all)(_.jsonScanBytes) / inBytes, "ratio"),
      "flatten.plan_ms" -> (if (streaming) probe.flattenPlanMs else med("flatten", 1000), "ms"),
      "flatten_coerce.self_s" -> (probe.flattenCoerceSelfS, "s"),
      "enrich.tz_load_ms" -> (probe.tzLoadMs, "ms"),
      "enrich.utc.self_s" -> (probe.utcSelfS, "s"),
      "enrich.intervals.self_s" -> (probe.intervalsSelfS, "s"),
      "enrich.intervals.shuffle_bytes" -> (probe.intervalsShuffleBytes, "bytes"),
      "enrich.utc_null_ratio" -> (probe.utcNullRatio, "ratio"),
      "dailyflow.self_s" -> (
        if (streaming) medOr0(batches.map(_.triggerMs / 1000.0)) - enrichS
        else dailyflowS - enrichS, "s"),
      "dailyflow.jobs_per_day" -> (sum(ingestWork)(_.jobs) / days, "count"),
      "dailyflow.tasks_per_day" -> (sum(ingestWork)(_.tasks) / days, "count"),
      "dailyflow.bytes_written_per_input_byte" -> (sum(ingestWork)(_.outputBytes) / inBytes, "ratio"),
      "dailyflow.stitch_rows_per_day" -> (sum(ingestWork)(_.stitchRows) / days, "rows"),
      "dailyflow.files_written_per_day" -> (phase.filesWritten.toDouble / days, "count"),
      "dailyflow.shuffle_bytes_per_day" -> (sum(ingestWork)(_.shuffleWriteBytes) / days, "bytes"),
      "streaming.trigger_s" -> (medOr0(batches.map(_.triggerMs / 1000.0)), "s"),
      "streaming.discovery_ms" -> (medOr0(batches.map(_.latestOffsetMs.toDouble)), "ms"),
      "streaming.landing_lag_s" -> (medOr0(landing), "s"),
      "loadgen.late_ms" -> (lateMs, "ms")
    ) ++ readKinds.map { case (k, _) =>
      s"reads.query_s.$k" -> (medOr0(queryMs.filter(_._1 == k).map(_._2 / 1000).toSeq), "s")
    } ++ Seq(
      "reads.files_scanned_per_query" -> (phase.filesScanned.toDouble / nq, "count"),
      "reads.tasks_per_query" -> (sum(reads)(_.tasks) / nq, "count"),
      "reads.wait_s" -> (sum(reads)(_.waitMs) / 1000 / nq, "s"),
      "reads.retries" -> (queryRetries.toDouble, "count"),
      "executor.busy_share" -> (phase.runMs / 1000.0 / (wall * cores), "ratio"),
      "executor.cpu_s" -> (phase.cpuNs / 1e9, "s"),
      "executor.gc_s" -> (phase.gcMs / 1000.0, "s"),
      "trace.day_latency_p50_s" -> (Stats.median(dayLatency.toSeq), "s"))
  }

  private val ProbeDays = 2

  private def tableBytes(): Long = {
    val root = dirs("wh").resolve(table)
    if (!Files.exists(root)) 0L
    else Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith(".")
        && !p.getFileName.toString.startsWith("_"))
      .map(Files.size).sum
  }

  private def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) return 0.0
    Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)
  }

  private def writeSpans(out: Path): Unit = {
    Files.createDirectories(out.getParent)
    Files.write(out, trace.spansJsonLines.toSeq.asJava)
    log(s"${trace.allSpans.length} spans written to $out")
  }

  private def guarded[T](what: String)(body: => T): Option[T] =
    try Some(body) catch {
      case NonFatal(e) =>
        log(s"$what failed: $e")
        None
    }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else java.lang.Double.toString(v)
}
