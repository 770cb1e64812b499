package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Monitoring, Relational}

/** Facade mirroring the reference's three dashboard entry points
  * (SURVEY.md §3): each method assembles the DataFrames one HTTP view of
  * the reference computes, so a caller of `views.index` /
  * `views.index_resource` / `views.cpu_usage_grid`
  * (reference myapp/views.py:380,756,826) finds the same payload here.
  *
  * All members are lazy plans — nothing executes until the serving layer
  * collects; the ~20 sequential statements the reference issues per page
  * load (views.py:394-681) become independent Spark jobs a server can run
  * concurrently.
  */
object Dashboard {

  /** `GET /index/` payload (reference myapp/views.py:380-748). */
  case class IndexPayload(
      slowQueries: DataFrame,
      idleSessions: DataFrame,
      blockedSessions: DataFrame,
      activeUsers: DataFrame,
      totalSessions: DataFrame,
      connectionLoad: DataFrame,
      cacheHitRatio: DataFrame,
      transactionsPerSecond: DataFrame,
      topResourceConsumers: DataFrame,
      tableSizes: DataFrame,
      backupDelta: DataFrame,
      usersWithRoles: DataFrame,
      latencyBands: DataFrame,
      ohlcBars: DataFrame)

  /** Default per-section row cap. The reference's slow/idle/blocked
    * sections return every matching row (views.py:396-421 — no LIMIT),
    * which is 4,828 rows at sf0.1 and ~500k at 100× — an unbounded
    * driver-side collect. Serving caps each row-set section to its top-N
    * BY ITS OWN ORDER (the sections already sort by relevance — duration
    * desc, etc.), so the cap composes with the sort into a
    * TakeOrderedAndProject instead of a global sort + collect. The
    * underlying operators stay uncapped for the correctness gate.
    */
  val DefaultSectionCap = 500

  def index(spark: SparkSession, dir: String,
      sectionCap: Int = DefaultSectionCap): IndexPayload = IndexPayload(
    slowQueries = Monitoring.slowQueries(spark, dir).limit(sectionCap),
    idleSessions = Monitoring.idleSessions(spark, dir).limit(sectionCap),
    blockedSessions = Monitoring.blockedSessions(spark, dir).limit(sectionCap),
    activeUsers = Monitoring.activeUsers(spark, dir),
    totalSessions = Monitoring.totalSessions(spark, dir),
    connectionLoad = Monitoring.connectionLoad(spark, dir),
    cacheHitRatio = Monitoring.cacheHitRatio(spark, dir),
    transactionsPerSecond = Monitoring.transactionsPerSecond(spark, dir),
    topResourceConsumers = Monitoring.topResourceConsumers(spark, dir),
    tableSizes = Monitoring.tableSizesPretty(spark, dir),
    backupDelta = Monitoring.lagDelta(spark, dir).limit(sectionCap),
    usersWithRoles = Monitoring.usersWithRoles(spark, dir).limit(sectionCap),
    // w14's per-(type, hour) p50/p95/p99 — the latency-band panel class
    // the reference's gauge row approximates with instantaneous values
    // (index.html:1047-1067); already sorted by (type, hour), so the cap
    // composes into TakeOrderedAndProject like the other row sections
    latencyBands = Monitoring.latencyBands(spark, dir).limit(sectionCap),
    // w19's per-(type, hour) excursion envelope — the capacity-review
    // panel class (candlestick history); sorted by (type, bucket), so
    // the cap composes into TakeOrderedAndProject like its siblings
    ohlcBars = Monitoring.ohlcBars(spark, dir).limit(sectionCap))

  /** Materialize every index section concurrently: the reference issues
    * its ~20 statements sequentially on one cursor (views.py:394-681); as
    * independent Spark jobs they share the scheduler and overlap IO/CPU.
    * Returns section name → row count (a serving layer would collect rows).
    */
  def collectIndexConcurrently(spark: SparkSession, dir: String,
      sectionCap: Int = DefaultSectionCap): Map[String, Long] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val p = index(spark, dir, sectionCap)
    val sections: Seq[(String, DataFrame)] = Seq(
      "slow_queries" -> p.slowQueries, "idle_sessions" -> p.idleSessions,
      "blocked_sessions" -> p.blockedSessions, "active_users" -> p.activeUsers,
      "total_sessions" -> p.totalSessions, "connection_load" -> p.connectionLoad,
      "cache_hit_ratio" -> p.cacheHitRatio, "tps" -> p.transactionsPerSecond,
      "top_consumers" -> p.topResourceConsumers, "table_sizes" -> p.tableSizes,
      "backup_delta" -> p.backupDelta, "users_roles" -> p.usersWithRoles,
      "latency_bands" -> p.latencyBands, "ohlc_bars" -> p.ohlcBars)
    val futures = sections.map { case (name, df) =>
      // collect (not count) so every projected expression actually
      // materializes — count() lets Catalyst prune the section's columns
      Future(name -> df.collect().length.toLong)
    }
    Await.result(Future.sequence(futures), Duration.Inf).toMap
  }

  /** `GET /index_resource/` payload (reference myapp/views.py:756-823):
    * trend scan + server-side decimation (the reference decimates in
    * browser JS, index_resource.html:230-245) + correlation existence.
    */
  case class ResourcePayload(
      trend: DataFrame,
      decimated: DataFrame,
      latestPerUser: DataFrame,
      hasCorrelatedSamples: () => Boolean)

  def indexResource(spark: SparkSession, dir: String): ResourcePayload =
    ResourcePayload(
      trend = Catalog.events(spark, dir)
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
        .orderBy(col("event_id").desc).limit(50),
      decimated = Monitoring.decimate(spark, dir),
      latestPerUser = Monitoring.latestPerUser(spark, dir),
      // the reference only checks bool(results) (views.py:793-805) — a
      // thunk keeps payload construction lazy like every other member, and
      // probing the pre-distinct base join lets `.isEmpty` stop at the
      // first row instead of paying the display query's dedup + sort
      hasCorrelatedSamples =
        () => !Monitoring.minuteBucketJoinBase(spark, dir).isEmpty)

  /** `GET /cpu_usage_grid/?…` payload (reference myapp/views.py:826-877):
    * dynamic filters folded onto the scan + pagination.
    */
  def cpuUsageGrid(spark: SparkSession, dir: String,
      filters: Seq[Column], page: Int = 0, pageSize: Int = 10): DataFrame =
    Relational.gridQuery(filters, page, pageSize)(spark, dir)

  /** SCHEMA-HEALTH section (round-13 verdict item #8): the catalog page
    * the round-13/14 profile family answers — per within-table candidate
    * pair, whether the FD holds exactly (c15's verdict), its mapping
    * diversity (n_det/n_pairs), and the g3 repair bill (c18's rows-to-
    * quarantine + ppm). READS, never recomputes: both inputs are
    * persisted content-determined artifacts ([[operators.Profile]]'s
    * level-1 relations and the fd_g3 relation), so a page load costs two
    * pair-count-sized parquet reads and a broadcast join — the
    * amortization discipline every other dashboard section follows.
    */
  def schemaHealth(spark: SparkSession, dir: String): DataFrame = {
    import operators.Profile
    val verdicts = Profile.fdDiscovery(spark, dir)
      .select(col("table_name"), col("det_col"), col("dep_col"),
        col("n_det"), col("n_pairs"), col("holds"))
    val bill = Profile.fdG3Indexed(spark, dir)
      .select(col("table_name"), col("det_col"), col("dep_col"),
        col("n_rows"), col("g3_remove"), col("g3_ppm"))
    verdicts.join(bill, Seq("table_name", "det_col", "dep_col"))
      .orderBy(col("table_name"), col("det_col"), col("dep_col"))
  }

  /** Alert/threshold flags (reference myapp/views.py:622-637 vs the
    * template constants — inconsistent layers, so thresholds are config;
    * SURVEY.md §6). Appends boolean status columns to a metric row set.
    * Gauge band bounds are config too (reference index.html:1047,1067).
    */
  case class Thresholds(
      cpu: Double = 95, ram: Double = 90, cache: Double = 85,
      disk: Double = 90, load1: Double = 10, load5: Double = 15,
      gaugeRedBelow: Double = 30, gaugeOrangeBelow: Double = 70)

  /** Per-metric alert limit — the reference keeps one constant per
    * dashboard section; rows carrying a metric-name discriminator get the
    * matching limit, anything unrecognized falls back to the cpu limit.
    */
  private def limitFor(metric: Column, t: Thresholds): Column =
    when(metric === "ram", t.ram)
      .when(metric === "cache", t.cache)
      .when(metric === "disk", t.disk)
      .when(metric === "load1", t.load1)
      .when(metric === "load5", t.load5)
      .otherwise(t.cpu)

  def withStatusFlags(metrics: DataFrame, t: Thresholds = Thresholds(),
      metricCol: Option[String] = None): DataFrame = {
    val limit = metricCol.map(c => limitFor(col(c), t)).getOrElse(lit(t.cpu))
    metrics
      .withColumn("value_ok", col("value") < limit)
      .withColumn("gauge_band",
        when(col("value") < t.gaugeRedBelow, "red")
          .when(col("value") < t.gaugeOrangeBelow, "orange")
          .otherwise("green"))
  }
}
