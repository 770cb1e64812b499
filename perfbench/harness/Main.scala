package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{Dashboard, GraftSession, SparkEntry}
import graft.operators.{Dedup, Graph, Multimodal, Profile, Search, Similarity, TextOps}
import graft.streaming.Streams

/** The benchmark's JVM side. It drives graft only through its public entry
  * points: `SparkEntry.registry` (`Q.run`), the seven `prewarmIndexes`,
  * `Dashboard.index` / `collectIndexConcurrently` / `indexResource` /
  * `cpuUsageGrid`, and `Streams.ingest`.
  *
  * Usage: perfbench.Main <mode> key=value...
  *   mode run      workload=<sweep|live_ingest> seed= seconds= trace=0|1
  *   mode fullreg  every registry query once warm, traced (job totals)
  *   mode record   expected outputs and reference times for `expected/`
  *   mode selftest the benchmark's own logic, no Spark session
  * Common keys: fixture= work= expected= commit= spans=
  * Prints one line `PERFBENCH <json>` on stdout.
  */
object Main {

  // ------------------------------------------------------------- settings

  /** Offered ingest load: files per second and rows per file. At 5 files/s
    * of 100 rows (500 rows/s) the 1 s trigger keeps up with room to spare
    * on 4 cores while the reader refreshes the index page, so the backlog
    * stays bounded and latency reflects the trigger, not a queue.
    */
  val IngestFilesPerSec = 5
  val IngestRowsPerFile = 100
  /** Shares of generated rows that `Streams.validate` must drop. */
  val IngestBadTypeShare = 0.08
  val IngestNullTsShare = 0.02

  /** Grid page menu: the seed draws one filter set and one page number per
    * cycle. Expected outputs exist for every combination.
    */
  val GridFilters: Seq[(String, Seq[Column])] = Seq(
    "click_gt50" -> Seq(col("event_type") === "click", col("value") > 50.0),
    "errors" -> Seq(col("event_type") === "error"),
    "value_10_20" -> Seq(col("value").between(10.0, 20.0)),
    "users_lt50" -> Seq(col("user_id") < 50),
    "view_purchase_lt5" -> Seq(col("event_type").isin("view", "purchase"), col("value") < 5.0),
    "all" -> Seq.empty)
  val GridPages = 4

  /** The queries a sweep run times: from each of the registry's six
    * largest families (c, x, w, z, n, s), the member whose reference time
    * at the recording commit was the family's median. Every run times the
    * same panel, so runs of different seeds compare without normalising
    * for the mix of queries; the seed orders each round.
    */
  val SweepPanel = Seq("c4_chi_square", "x12_merge_pairs", "w19_ohlc",
    "z15_epoch_shuffle", "n12_incremental_ivf", "s24_time_travel")
  /** Further queries of the seed's stratum a sweep run checks, untimed,
    * after its window: over many seeds the checks cover the registry.
    */
  val SweepChecks = 2

  val Prewarms: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "Dedup" -> Dedup.prewarmIndexes, "Similarity" -> Similarity.prewarmIndexes,
    "Search" -> Search.prewarmIndexes, "Multimodal" -> Multimodal.prewarmIndexes,
    "Graph" -> Graph.prewarmIndexes, "Profile" -> Profile.prewarmIndexes,
    "TextOps" -> TextOps.prewarmIndexes)

  // --------------------------------------------------------------- clocks

  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with nanosecond resolution, comparable with the
    * epoch-ms times Spark's listener events carry.
    */
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  // ---------------------------------------------------------------- state

  final case class Conf(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing $k="))
    def get(k: String): Option[String] = kv.get(k)
  }

  /** Attempted / failed counts with the reason for every failure. */
  final class Tally {
    var attempted = 0L
    var failed = 0L
    val reasons = mutable.LinkedHashMap.empty[String, String]
    def fail(what: String, why: String): Unit = {
      failed += 1
      if (!reasons.contains(what)) reasons(what) = why.take(300)
    }
  }

  /** Run `body` as one counted operation: a throw is a failure, never a
    * fast result.
    */
  def counted[A](tally: Tally, what: String)(body: => A): Option[A] = {
    tally.attempted += 1
    try Some(body)
    catch { case e: Throwable =>
      tally.fail(what, s"${e.getClass.getSimpleName}: ${e.getMessage}")
      None
    }
  }

  /** Build graft's persisted indexes; each module's build is timed, and a
    * throwing build is counted as a failed operation.
    */
  def prewarm(spark: SparkSession, fixture: String, tally: Tally,
      modules: Seq[(String, (SparkSession, String) => Unit)] = Prewarms): Map[String, Double] =
    modules.map { case (name, build) =>
      val t0 = nowMs()
      counted(tally, s"prewarm.$name")(build(spark, fixture))
      name -> (nowMs() - t0)
    }.toMap

  // ------------------------------------------------------------ expected

  private lazy val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  final case class Expect(rows: Long, hash: String, stable: Boolean, oracle: String)

  def loadExpected(file: Path): Map[String, Expect] =
    if (!Files.exists(file)) Map.empty
    else {
      val root = mapper.readTree(file.toFile).get("outputs")
      root.properties().asScala.map { e =>
        val v = e.getValue
        def s(k: String) = Option(v.get(k)).map(_.asText).getOrElse("")
        e.getKey -> Expect(v.get("rows").asLong, s("hash"),
          Option(v.get("stable")).forall(_.asBoolean),
          Option(v.get("oracle")).map(_.asText).getOrElse("none"))
      }.toMap
    }

  /** None when the rows match the expectation, else the reason. Outputs
    * whose row choice is not deterministic (ties under a LIMIT) are checked
    * by row count only; a query whose oracle disagreed is a known defect
    * and fails every check.
    */
  def verify(exp: Map[String, Expect], key: String, columns: Seq[String],
      rows: Seq[Row]): Option[String] =
    exp.get(key) match {
      case None => Some("no expected output recorded")
      case Some(e) if e.oracle.startsWith("fail") => Some(s"known defect: ${e.oracle}")
      case Some(e) if e.rows != rows.size => Some(s"rows ${rows.size} != expected ${e.rows}")
      case Some(e) if e.stable && Stats.resultHash(columns, rows) != e.hash =>
        Some("output hash differs from expected")
      case _ => None
    }

  // ------------------------------------------------------------- session

  def session(conf: Conf): SparkSession = {
    val spark = GraftSession.local(defaultCpus = Runtime.getRuntime.availableProcessors)
    spark.conf.set("spark.graft.scratch", Paths.get(conf("work"), "scratch").toString)
    spark
  }

  def nproc(spark: SparkSession): Int = spark.sparkContext.defaultParallelism

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Fixed single-thread CPU loop (no Spark, no fixture): its time tracks
    * the box's speed and load, in the spirit of Bench's
    * `box_calibration_sec`. Median of three after one warm pass.
    */
  def boxProbeMs(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      val m = new java.util.HashMap[Long, Long]()
      var i = 0
      while (i < 3000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        m.merge(x & 0xFFFF, 1L, (a: Long, b: Long) => a + b)
        i += 1
      }
      if (m.size < 0) println(x)
      (System.nanoTime() - t0) / 1e6
    }
    once()
    Stats.median(Seq(once(), once(), once()))
  }

  def processCpuMs(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  /** (steal, total) CPU ticks of the whole box, from /proc/stat. */
  def cpuTicks(): (Long, Long) =
    try {
      val v = Files.readAllLines(Paths.get("/proc/stat")).get(0).split("\\s+").drop(1).map(_.toLong)
      (v(7), v.sum)
    } catch { case _: Throwable => (0L, 0L) }

  /** Largest heap occupancy left after any garbage collection: the live
    * data a run needed. Steadier than RSS, which follows how far the heap
    * happened to grow between collections.
    */
  object HeapWatch {
    @volatile var peakMb = 0.0
    private lazy val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: Any) =>
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
              .GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo
              .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum / 1048576.0
            if (used > peakMb) peakMb = used
          }, null, null)
      case _ =>
    }
  }

  /** Heap still in use after full collections, once the workload is done
    * and before the session stops: what the session and graft keep live.
    * It varies far less between runs than the peak after any collection,
    * which depends on when the collector happened to run.
    */
  def retainedHeapMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def peakRssMb(): Double =
    try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
        .getOrElse(Double.NaN)
    } catch { case _: Throwable => Double.NaN }

  // ----------------------------------------------------------- tracing

  /** Runs the closed-loop operations. In every run it counts their process
    * CPU time. In a traced run it attaches the listeners for half of them,
    * in the pattern T U U T (so each of the sweep's queries and each
    * dashboard page is seen both ways), or for all of them with
    * `traceAll`: one traced run yields both the per-layer numbers and an
    * estimate of its own overhead.
    */
  final class Tracing(spark: SparkSession, val on: Boolean, traceAll: Boolean = false) {
    val rec = new Recorder
    val windows = mutable.ArrayBuffer.empty[OpWindow]
    /** Latencies by (operation name, traced). */
    val lat = mutable.LinkedHashMap.empty[(String, Boolean), mutable.ArrayBuffer[Double]]
    private var attached = false
    private var n = 0L
    /** Process CPU time (all threads: tasks, driver, JIT, GC) spent inside
      * the operations, and their count.
      */
    var cpuMs = 0.0
    var ops = 0L

    /** Run one operation; `body` returns (result, construction window,
      * latency to compare traced with untraced operations).
      */
    def op[A](name: String)(body: => (A, Option[(Double, Double)], Double)): A = {
      val trace = on && (traceAll || (n + n / 2) % 2 == 0)
      n += 1
      if (trace && !attached) {
        spark.sparkContext.addSparkListener(rec); spark.listenerManager.register(rec)
        attached = true
      }
      val start = nowMs()
      val cpu0 = processCpuMs()
      try {
        val (a, construct, l) = body
        val end = nowMs()
        cpuMs += processCpuMs() - cpu0
        ops += 1
        if (on) lat.getOrElseUpdate((name, trace), mutable.ArrayBuffer.empty) += l
        if (trace) windows += OpWindow(n, name, start, end, construct)
        a
      } finally if (attached) {
        rec.settle()
        spark.sparkContext.removeSparkListener(rec); spark.listenerManager.unregister(rec)
        attached = false
      }
    }

    /** Traced over untraced median latency, minus one, per operation name
      * seen both ways; the median over those names.
      */
    def overhead: Double = Stats.median(lat.keys.map(_._1).toSeq.distinct.flatMap { n =>
      for (t <- lat.get((n, true)); p <- lat.get((n, false)))
        yield Stats.median(t.toSeq) / Stats.median(p.toSeq) - 1.0
    })
  }

  // ----------------------------------------------------------- workloads

  /** Share of the box's CPU time the host took away (steal) since `from`. */
  def stealSince(from: (Long, Long)): Double = {
    val (s1, t1) = cpuTicks()
    (s1 - from._1).toDouble / math.max(t1 - from._2, 1L)
  }

  final case class Result(tally: Tally, e2e: mutable.LinkedHashMap[String, Double],
      layers: mutable.LinkedHashMap[String, Double],
      detail: mutable.LinkedHashMap[String, Any])

  private def pct(xs: Seq[Double]): Map[String, Any] = Stats.tail(xs) match {
    case Some((v, p, n)) => Map("value" -> v, "percentile" -> p, "samples" -> n)
    case None => Map("value" -> Double.NaN, "percentile" -> Double.NaN, "samples" -> xs.size)
  }

  private def latencyMetrics(e2e: mutable.LinkedHashMap[String, Double], lat: Seq[Double],
      detail: mutable.LinkedHashMap[String, Any]): Unit = {
    e2e("p50_ms") = Stats.median(lat)
    detail("tail_ms") = pct(lat)
  }

  // ---- sweep

  def sweep(spark: SparkSession, conf: Conf, seed: Long, seconds: Double,
      tr: Tracing, setupLayers: mutable.LinkedHashMap[String, Double]): Result = {
    val fixture = conf("fixture")
    val tally = new Tally
    val exp = loadExpected(Paths.get(conf("expected"), "sweep.json"))
    val registry = SparkEntry.registry
    val byName = registry.map(q => q.name -> q).toMap
    val rnd = new java.util.Random(seed)

    val t0 = nowMs()
    val prewarmMs = prewarm(spark, fixture, tally)
    Prewarms.foreach { case (m, _) => setupLayers(s"prewarm_ms.$m") = prewarmMs(m) }
    setupLayers("artifact_bytes") = dirBytes(Paths.get(conf("work"), "scratch")).toDouble
    setupLayers("prewarm_total_ms") = nowMs() - t0

    def check(n: String): Boolean = counted(tally, n) {
      val df = byName(n).run(spark, fixture)
      verify(exp, n, df.columns.toSeq, df.collect().toSeq).foreach(why => throw new IllegalStateException(why))
    }.isDefined

    // set-up ends with each panel query collected and checked, untimed,
    // which also compiles its generated code
    val checked = Stats.shuffle(SweepPanel, seed).filter(check)
    setupLayers("panel_warmup_ms") = nowMs() - t0 - setupLayers("prewarm_total_ms")
    // the timed window: the panel in rounds, each round in a seed-shuffled
    // order, through the noop sink as graft.Bench times a query
    val firstOpMs = nowMs()
    val ticks0 = cpuTicks()
    val deadline = firstOpMs + seconds * 1000
    val runs = mutable.LinkedHashMap(checked.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    var live = checked
    while (live.nonEmpty && nowMs() < deadline) {
      val round = Stats.shuffle(live, rnd.nextLong())
      live = round.filter { n =>
        nowMs() >= deadline || counted(tally, n) {
          runs(n) += tr.op(n) {
            val a = nowMs()
            val d = byName(n).run(spark, fixture)
            val b = nowMs()
            d.write.format("noop").mode("overwrite").save()
            val lat = nowMs() - a
            (lat, Some((a, b)), lat)
          }
        }.isDefined
      }
    }
    val endMs = nowMs()
    val steal = stealSince(ticks0)
    // rotating coverage, untimed: a few more queries of the seed's stratum
    // are collected and checked after the window
    val extra = Stats.shuffle(Stats.stratum(registry.map(_.name).filterNot(SweepPanel.contains), seed), seed)
      .take(SweepChecks)
    extra.foreach(check)

    // throughput is one pass over the panel at each query's mean time over
    // its rounds, which varies less between runs than its median when a
    // query's times cluster around two values
    val mean = runs.toSeq.collect { case (n, xs) if xs.nonEmpty => n -> xs.sum / xs.size }
    val all = runs.values.flatten.toSeq
    val e2e = mutable.LinkedHashMap.empty[String, Double]
    val detail = mutable.LinkedHashMap.empty[String, Any]
    val passS = mean.map(_._2).sum / 1000
    e2e("throughput_per_s") = if (passS > 0) mean.size / passS else 0.0
    e2e("p50_ms") = Stats.median(all)
    detail("first_op_epoch_ms") = firstOpMs
    detail("panel_mean_ms") = mean.toMap
    detail("rounds") = runs.values.map(_.size).maxOption.getOrElse(0)
    detail("queries_per_s") = all.size / ((endMs - firstOpMs) / 1000)
    detail("query_p50_s") = Stats.median(all) / 1000
    detail("query_tail_s") = pct(all.map(_ / 1000))
    detail("stratum") = Math.floorMod(seed, 3L)
    detail("checked_extra") = extra
    detail("steal_share_window") = steal
    detail("ops_ms") = runs.toSeq.map { case (n, xs) => n +: xs.toSeq }
    Result(tally, e2e, mutable.LinkedHashMap.empty, detail)
  }

  // ---- dashboard pages

  final case class Panel(key: String, latMs: Double, ok: Boolean)

  private def collectPanels(start: Double, panels: Panels,
      exp: Map[String, Expect]): Seq[Panel] = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val fs = panels.map { case (key, run) =>
      Future {
        try {
          val (cols, rows) = run()
          (key, nowMs() - start, Some((cols, rows)), "")
        } catch { case e: Throwable =>
          (key, nowMs() - start, None, s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }
    }
    val done = Await.result(Future.sequence(fs), Duration.Inf)
    // checks run after every panel of the page has arrived
    done.map { case (key, lat, out, err) =>
      val ok = out.exists { case (c, r) => verify(exp, key, c, r).isEmpty } && err.isEmpty
      Panel(key, lat, ok)
    }
  }

  private def df(d: => DataFrame): () => (Seq[String], Seq[Row]) = () => {
    val x = d
    (x.columns.toSeq, x.collect().toSeq)
  }

  type Panels = Seq[(String, () => (Seq[String], Seq[Row]))]

  /** The index page: `Dashboard.index`'s fourteen sections, collected
    * concurrently as `collectIndexConcurrently` does.
    */
  def indexPanels(spark: SparkSession, fixture: String): Panels = {
    val p = Dashboard.index(spark, fixture)
    Seq("slow_queries" -> p.slowQueries, "idle_sessions" -> p.idleSessions,
      "blocked_sessions" -> p.blockedSessions, "active_users" -> p.activeUsers,
      "total_sessions" -> p.totalSessions, "connection_load" -> p.connectionLoad,
      "cache_hit_ratio" -> p.cacheHitRatio, "tps" -> p.transactionsPerSecond,
      "top_consumers" -> p.topResourceConsumers, "table_sizes" -> p.tableSizes,
      "backup_delta" -> p.backupDelta, "users_roles" -> p.usersWithRoles,
      "latency_bands" -> p.latencyBands, "ohlc_bars" -> p.ohlcBars)
      .map { case (k, d) => s"index.$k" -> df(d) }
  }

  def resourcePanels(spark: SparkSession, fixture: String): Panels = {
    val r = Dashboard.indexResource(spark, fixture)
    Seq("resource.trend" -> df(r.trend), "resource.decimated" -> df(r.decimated),
      "resource.latest_per_user" -> df(r.latestPerUser),
      "resource.has_correlated" -> (() =>
        (Seq("has_correlated"), Seq(Row(r.hasCorrelatedSamples())))))
  }

  def gridKey(filter: Int, page: Int): String = s"grid.${GridFilters(filter)._1}.p$page"

  def gridPanels(spark: SparkSession, fixture: String, filter: Int, page: Int): Panels =
    Seq(gridKey(filter, page) ->
      df(Dashboard.cpuUsageGrid(spark, fixture, GridFilters(filter)._2, page)))

  /** Builds a page's DataFrames (the construction window), then collects
    * its panels concurrently, each timed from the start of the page.
    */
  def page(exp: Map[String, Expect], build: => Panels): (Seq[Panel], (Double, Double)) = {
    val start = nowMs()
    val panels = build
    val built = nowMs()
    (collectPanels(start, panels, exp), (start, built))
  }

  /** Loads one page as a closed-loop operation; returns its panels. */
  private def loadPage(tr: Tracing, tally: Tally, name: String,
      page: => (Seq[Panel], (Double, Double))): Seq[Panel] = {
    val panels = counted(tally, name) {
      tr.op(name) {
        val (ps, construct) = page
        (ps, Some(construct), ps.map(_.latMs).max)
      }
    }.getOrElse(Seq.empty)
    // the page counted once; each further panel is an operation too
    tally.attempted += math.max(panels.size - 1, 0)
    panels.filter(!_.ok).foreach(p => tally.fail(p.key, "panel failed or output differs"))
    panels
  }

  /** The closed-loop dashboard reader: the index, resource and grid pages
    * in turn, the grid page with a seed-drawn filter set and page number.
    * Each page is one operation; its panels are checked once it is loaded.
    */
  final class Reader(spark: SparkSession, fixture: String, exp: Map[String, Expect],
      rnd: java.util.Random, tr: Tracing, tally: Tally) {
    val pages = mutable.LinkedHashMap("index" -> mutable.ArrayBuffer.empty[Double],
      "resource" -> mutable.ArrayBuffer.empty[Double], "grid" -> mutable.ArrayBuffer.empty[Double])

    private def build(kind: String): Panels = kind match {
      case "index" => indexPanels(spark, fixture)
      case "resource" => resourcePanels(spark, fixture)
      case "grid" => gridPanels(spark, fixture, rnd.nextInt(GridFilters.size), rnd.nextInt(GridPages))
    }

    /** One untimed cycle. */
    def warmUp(): Unit = pages.keys.foreach(k => page(exp, build(k)))

    def cycle(): Unit = pages.foreach { case (kind, lat) =>
      val ps = loadPage(tr, tally, kind, page(exp, build(kind)))
      if (ps.nonEmpty && ps.forall(_.ok)) lat += ps.map(_.latMs).max
    }

    /** `collectIndexConcurrently` itself, once, untimed: its section row
      * counts must agree with the expected outputs.
      */
    def checkConcurrentIndex(): Unit = counted(tally, "collectIndexConcurrently") {
      Dashboard.collectIndexConcurrently(spark, fixture).foreach { case (k, n) =>
        if (!exp.get(s"index.$k").exists(_.rows == n))
          throw new IllegalStateException(s"section $k: $n rows")
      }
    }

    def report(detail: mutable.LinkedHashMap[String, Any]): Unit =
      pages.foreach { case (k, xs) =>
        detail(s"${k}_p50_s") = Stats.median(xs.toSeq) / 1000
        detail(s"${k}_pages") = xs.size
      }
  }

  // ---- live ingest

  /** One generated event file: its JSON lines and the ids that must reach
    * the sink (rows with a bad type or a null time must not).
    */
  final case class EventFile(lines: Seq[String], validIds: Seq[Long])

  def eventFile(rnd: java.util.Random, fileNo: Int): EventFile = {
    val baseUs = java.time.Instant.parse("2024-02-01T00:00:00Z").toEpochMilli * 1000
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX").withZone(java.time.ZoneOffset.UTC)
    val valid = mutable.ArrayBuffer.empty[Long]
    val lines = (0 until IngestRowsPerFile).map { j =>
      val id = 10000000L + fileNo.toLong * 1000 + j
      val u = rnd.nextDouble()
      val badType = u < IngestBadTypeShare
      val nullTs = !badType && u < IngestBadTypeShare + IngestNullTsShare
      val tpe = if (badType) "bogus" else Streams.ValidEventTypes(rnd.nextInt(5))
      val us = baseUs + fileNo.toLong * 200000L + j * 2000L + rnd.nextInt(1000)
      val ts = if (nullTs) "null" else Stats.jsonStr(fmt.format(
        java.time.Instant.ofEpochSecond(us / 1000000, (us % 1000000) * 1000)))
      val value = math.round(-50.0 * math.log(1.0 - rnd.nextDouble()) * 100) / 100.0
      if (!badType && !nullTs) valid += id
      s"""{"event_id":$id,"ts":$ts,"user_id":${rnd.nextInt(150)},"event_type":${Stats.jsonStr(tpe)},""" +
        s""""value":$value,"props":${Stats.jsonStr(s"""{"k": ${rnd.nextInt(100)}}""")}}"""
    }
    EventFile(lines, valid.toSeq)
  }

  /** File name -> micro-batch id, from the file source's log in the
    * checkpoint (`sources/0`, one JSON entry per file, compacted every few
    * batches): the exact set of files each batch read.
    */
  def batchOfFile(ckpt: Path): Map[String, Long] = {
    val dir = ckpt.resolve("sources").resolve("0")
    if (!Files.isDirectory(dir)) Map.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.filter(p => !p.getFileName.toString.startsWith("."))
        .flatMap(p => Files.readAllLines(p).asScala.filter(_.startsWith("{")))
        .map { line =>
          val n = mapper.readTree(line)
          Paths.get(new java.net.URI(n.get("path").asText)).getFileName.toString ->
            n.get("batchId").asLong
        }.toMap
      finally s.close()
    }
  }

  /** Each file's latency: from its due time to the commit of the batch
    * that read it; None for a file no committed batch read.
    */
  def ingestLatencies(due: Seq[Double], batch: Seq[Option[Long]],
      commit: Map[Long, Double]): Seq[Option[Double]] =
    due.zip(batch).map { case (d, b) =>
      b.flatMap(commit.get).map(c => Stats.openLoopLatencyMs(d, c))
    }

  def liveIngest(spark: SparkSession, conf: Conf, seed: Long, seconds: Double,
      tr: Tracing): Result = {
    val fixture = conf("fixture")
    val tally = new Tally
    val exp = loadExpected(Paths.get(conf("expected"), "dashboard.json"))
    val work = Paths.get(conf("work"), "ingest")
    val (src, staging) = (work.resolve("src"), work.resolve("staging"))
    Files.createDirectories(src); Files.createDirectories(staging)
    val rnd = new java.util.Random(seed)
    val reader = new Reader(spark, fixture, exp, new java.util.Random(seed + 1), tr, tally)
    val warmStart = nowMs()
    reader.warmUp()
    val streams = new StreamRecorder
    spark.streams.addListener(streams)
    val query = Streams.ingest(spark, src.toString, work.resolve("sink").toString,
      work.resolve("ckpt").toString).start()
    val nFiles = (seconds * IngestFilesPerSec).toInt
    // file 0 is the warm-up file: it primes the stream path before timing
    val files = (0 to nFiles).map(i => eventFile(rnd, i))
    def write(i: Int): Unit = {
      val tmp = staging.resolve(f"part-$i%05d.json")
      Files.write(tmp, files(i).lines.asJava)
      Files.move(tmp, src.resolve(f"part-$i%05d.json"), StandardCopyOption.ATOMIC_MOVE)
    }
    try {
      write(0)
      val warmDeadline = nowMs() + 60000
      while (streams.snapshot.isEmpty && nowMs() < warmDeadline && query.isActive) Thread.sleep(20)
      if (streams.snapshot.isEmpty)
        throw new IllegalStateException("stream did not commit its warm-up file")
      val firstOpMs = nowMs()
      val ticks0 = cpuTicks()
      val period = 1000.0 / IngestFilesPerSec
      val due = (1 to nFiles).map(i => firstOpMs + (i - 1) * period)
      val written = new Array[Double](nFiles + 1)
      val generator = new Thread(() => {
        (1 to nFiles).foreach { i =>
          val wait = due(i - 1) - nowMs()
          if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
          write(i)
          written(i) = nowMs()
        }
      }, "perfbench-ingest-generator")
      generator.setDaemon(true)
      generator.start()
      // the closed-loop dashboard reader runs meanwhile
      val deadline = firstOpMs + seconds * 1000
      while (nowMs() < deadline) reader.cycle()
      generator.join()
      val steal = stealSince(ticks0)
      val totalRows = files.map(_.lines.size.toLong).sum
      // drain: until the file source has read every file and each batch
      // that read one has reported its progress
      def drained(): Boolean = {
        val batchOf = batchOfFile(work.resolve("ckpt"))
        val done = streams.snapshot.map(_.id).toSet
        files.indices.forall(i => batchOf.get(f"part-$i%05d.json").exists(done))
      }
      val drainDeadline = nowMs() + 30000
      while (!drained() && nowMs() < drainDeadline && query.isActive) Thread.sleep(50)
      query.exception.foreach { e =>
        tally.attempted += 1
        tally.fail("stream", s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      query.stop()
      reader.checkConcurrentIndex()
      val batches = streams.snapshot.sortBy(_.id)
      val batchOf = batchOfFile(work.resolve("ckpt"))
      val lat = ingestLatencies(due, (1 to nFiles).map(i => batchOf.get(f"part-$i%05d.json")),
        batches.map(b => b.id -> b.commitMs.toDouble).toMap)
      tally.attempted += nFiles
      lat.zipWithIndex.collect { case (None, i) => tally.fail(s"file.${i + 1}", "never committed") }
      val commits = lat.zip(due).map { case (l, d) => l.map(_ + d) }
      // identity check: the sink holds exactly the valid generated rows
      val wantIds = files.flatMap(_.validIds).sorted
      counted(tally, "sink_identity") {
        val sinkIds = spark.read.schema(Streams.eventSchema)
          .parquet(work.resolve("sink").toString).select("event_id").collect()
          .map(_.getLong(0)).sorted.toSeq
        if (sinkIds != wantIds) throw new IllegalStateException(
          s"sink has ${sinkIds.size} rows, expected ${wantIds.size} valid of $totalRows generated")
      }
      val timed = batches.filter(_.commitMs >= firstOpMs)
      val e2e = mutable.LinkedHashMap.empty[String, Double]
      val detail = mutable.LinkedHashMap.empty[String, Any]
      val validTimed = files.drop(1).map(_.validIds.size).sum
      val lastCommit = commits.flatten.maxOption.getOrElse(Double.NaN)
      e2e("throughput_per_s") = validTimed / ((lastCommit - firstOpMs) / 1000)
      latencyMetrics(e2e, lat.flatten, detail)
      val late = (1 to nFiles).map(i => written(i) - due(i - 1))
      val backlog = (1 to nFiles).map { i =>
        commits.take(i).count(c => c.forall(_ > written(i)))
      }
      val layers = mutable.LinkedHashMap.empty[String, Double]
      def dms(k: String) = timed.map(_.durations.getOrElse(k, 0L).toDouble)
      layers("trigger_ms_p50") = Stats.median(dms("triggerExecution"))
      layers("trigger_ms_tail") = Stats.tail(dms("triggerExecution")).map(_._1)
        .getOrElse(dms("triggerExecution").maxOption.getOrElse(Double.NaN))
      Seq("add_batch_ms" -> "addBatch", "latest_offset_ms" -> "latestOffset",
        "query_planning_ms" -> "queryPlanning", "wal_commit_ms" -> "walCommit")
        .foreach { case (m, k) => layers(m) = dms(k).sum / math.max(timed.size, 1) }
      layers("batches") = timed.size
      layers("rows_per_batch") = timed.map(_.rows).sum.toDouble / math.max(timed.size, 1)
      layers("backlog_files_max") = backlog.maxOption.getOrElse(0).toDouble
      layers("generator_late_ms") = late.maxOption.getOrElse(0.0)
      detail("first_op_epoch_ms") = firstOpMs
      detail("warmup_s") = (firstOpMs - warmStart) / 1000
      detail("steal_share_window") = steal
      detail("ingest_p50_ms") = Stats.median(lat.flatten)
      detail("ingest_tail_ms") = pct(lat.flatten)
      detail("ingest_rows_per_s") = e2e("throughput_per_s")
      reader.report(detail)
      detail("offered_rows_per_s") = IngestFilesPerSec * IngestRowsPerFile
      detail("generator_late_ms_p50") = Stats.median(late)
      detail("files") = nFiles
      detail("invalid_rows") = totalRows - wantIds.size
      Result(tally, e2e, layers, detail)
    } finally {
      if (query.isActive) query.stop()
      spark.streams.removeListener(streams)
    }
  }

  // -------------------------------------------------------------- modes

  def runWorkload(conf: Conf): String = {
    val workload = conf("workload")
    val seed = conf("seed").toLong
    val seconds = conf("seconds").toDouble
    val traceOn = conf("trace") == "1"
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val loadBefore = loadavg()
    HeapWatch.install()
    val spark = session(conf)
    val sessionS = (nowMs() - jvmStart) / 1000
    val tr = new Tracing(spark, traceOn)
    val setupLayers = mutable.LinkedHashMap.empty[String, Double]
    val res = workload match {
      case "sweep" => sweep(spark, conf, seed, seconds, tr, setupLayers)
      case "live_ingest" => liveIngest(spark, conf, seed, seconds, tr)
      case other => sys.error(s"unknown workload $other")
    }
    val firstOp = res.detail("first_op_epoch_ms").asInstanceOf[Double]
    res.detail("cpu_ms_per_op") = tr.cpuMs / math.max(tr.ops, 1)
    res.e2e("setup_s") = (firstOp - jvmStart) / 1000
    res.layers("retained_heap_mb") = retainedHeapMb()
    res.layers("peak_heap_mb") = HeapWatch.peakMb
    res.e2e("peak_rss_mb") = peakRssMb()
    res.detail("session_s") = sessionS
    val spans = mutable.ArrayBuffer.empty[String]
    val runId = s"$workload-$seed-${ProcessHandle.current().pid()}"
    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (traceOn) {
      tr.rec.settle()
      layers ++= Attribution.layers(tr.rec, tr.windows.toSeq, nproc(spark), runId, spans)
      Prewarms.foreach { case (m, _) => layers(s"prewarm_ms.$m") = 0.0 }
      layers("artifact_bytes") = 0.0
      Seq("trigger_ms_p50", "trigger_ms_tail", "add_batch_ms", "latest_offset_ms",
        "query_planning_ms", "wal_commit_ms", "batches", "rows_per_batch",
        "backlog_files_max", "generator_late_ms").foreach(layers(_) = 0.0)
      layers ++= setupLayers
      layers ++= res.layers
      layers("trace_overhead") = tr.overhead
      res.detail("traced_ops") = tr.windows.size
      if (workload == "live_ingest") res.detail("construct_jobs_prediction") =
        if (layers("construct_jobs") < 0.5) "holds: construct_jobs per dashboard page is ~0"
        else s"fails: ${layers("construct_jobs")} construct jobs per dashboard page"
    } else res.detail ++= setupLayers ++= res.layers
    val meta = mutable.LinkedHashMap[String, Any](
      "commit" -> conf("commit"), "workload" -> workload, "seed" -> seed,
      "seconds" -> seconds, "trace" -> traceOn, "nproc" -> nproc(spark),
      "loadavg_before" -> loadBefore, "loadavg_after" -> loadavg(),
      "spark" -> spark.version, "jvm" -> System.getProperty("java.version"),
      "box_probe_ms" -> boxProbeMs(),
      "process_cpu_s" -> processCpuMs() / 1000)
    if (traceOn && spans.nonEmpty) conf.get("spans").foreach { f =>
      val p = Paths.get(f)
      Files.createDirectories(p.getParent)
      Files.write(p, spans.asJava, java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    }
    spark.stop()
    Stats.json(mutable.LinkedHashMap[String, Any](
      "correct" -> (res.tally.failed == 0), "attempted" -> res.tally.attempted,
      "failed" -> res.tally.failed, "failures" -> res.tally.reasons,
      "error_rate" -> res.tally.failed.toDouble / math.max(res.tally.attempted, 1),
      "e2e" -> res.e2e, "layers" -> layers, "detail" -> res.detail, "meta" -> meta))
  }

  def loadavg(): String =
    try Files.readAllLines(Paths.get("/proc/loadavg")).get(0).split(" ").take(3).mkString(",")
    catch { case _: Throwable => "" }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("run")
    val conf = Conf(args.drop(1).map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap)
    val out = mode match {
      case "run" => runWorkload(conf)
      case "fullreg" => Record.fullRegistry(conf)
      case "record" => Record.record(conf)
      case "selftest" => SelfTest.run()
      case other => sys.error(s"unknown mode $other")
    }
    println("PERFBENCH " + out)
  }
}
