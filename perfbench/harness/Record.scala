package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The two modes that are not timed runs: recording the expected outputs,
  * and the traced pass over the whole registry.
  */
object Record {
  import Main._

  /** (rows, hash) of one collect of `q`. */
  private def collectHash(spark: SparkSession, fixture: String, q: graft.operators.Q) = {
    val df = q.run(spark, fixture)
    val rows = df.collect().toSeq
    (rows.size.toLong, Stats.resultHash(df.columns.toSeq, rows))
  }

  private def entry(rows: Long, h1: String, h2: String, extra: (String, Any)*) =
    mutable.LinkedHashMap[String, Any]("rows" -> rows, "hash" -> h1,
      "stable" -> (h1 == h2)) ++ extra

  /** Expected outputs of every registry query and every dashboard panel on
    * the benchmark fixture, each collected twice (a result whose hash
    * differs between the two is checked by row count only), plus each
    * query's reference time: the faster of two warm noop runs (the sweep's
    * panel was chosen by it). Every query's result is also written as parquet, with
    * the oracle SQL, for the DuckDB cross-check in `record.py`.
    */
  def record(conf: Conf): String = {
    val fixture = conf("fixture")
    val out = Paths.get(conf("out"))
    val spark = session(conf)
    val tally = new Tally
    prewarm(spark, fixture, tally)
    val sweep = mutable.LinkedHashMap.empty[String, Any]
    SparkEntry.registry.sortBy(_.name).foreach { q =>
      try {
        val (rows, h1) = collectHash(spark, fixture, q)
        val (_, h2) = collectHash(spark, fixture, q)
        q.run(spark, fixture).coalesce(1).write.mode("overwrite")
          .parquet(out.resolve("results").resolve(q.name).toString)
        val warm = Seq.fill(2) {
          val t0 = nowMs()
          q.run(spark, fixture).write.format("noop").mode("overwrite").save()
          nowMs() - t0
        }
        sweep(q.name) = entry(rows, h1, h2, "ref_ms" -> warm.min)
      } catch { case e: Throwable =>
        tally.fail(q.name, s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    val oracle = SparkEntry.oracleSql.map { case (k, v) => k -> v.replace("__SF_DIR__", fixture) }
    val panels: Seq[Panels] = Seq(indexPanels(spark, fixture), resourcePanels(spark, fixture)) ++
      GridFilters.indices.flatMap(f => (0 until GridPages).map(p => gridPanels(spark, fixture, f, p)))
    val dash = mutable.LinkedHashMap.empty[String, Any]
    panels.flatten.foreach { case (key, run) =>
      val (c1, r1) = run()
      val (c2, r2) = run()
      dash(key) = entry(r1.size.toLong, Stats.resultHash(c1, r1), Stats.resultHash(c2, r2))
    }
    // a second build of the payloads, so every panel is seen from two
    // independently constructed plans
    (Seq(indexPanels(spark, fixture), resourcePanels(spark, fixture))).flatten.foreach {
      case (key, run) =>
        val (c, r) = run()
        val e = dash(key).asInstanceOf[mutable.LinkedHashMap[String, Any]]
        if (Stats.resultHash(c, r) != e("hash")) e("stable") = false
    }
    Files.createDirectories(out)
    Files.writeString(out.resolve("sweep_raw.json"), Stats.json(sweep))
    Files.writeString(out.resolve("dashboard_raw.json"), Stats.json(dash))
    Files.writeString(out.resolve("oracle_sql.json"), Stats.json(oracle))
    spark.stop()
    Stats.json(mutable.LinkedHashMap[String, Any]("queries" -> sweep.size,
      "panels" -> dash.size, "failures" -> tally.reasons))
  }

  /** Every registry query once warm, traced: a collect (checked against its
    * expected output) then a traced noop run. Reports job and
    * construction-job totals and the queries with the most jobs.
    */
  def fullRegistry(conf: Conf): String = {
    val fixture = conf("fixture")
    val spark = session(conf)
    val tally = new Tally
    val exp = loadExpected(Paths.get(conf("expected"), "sweep.json"))
    val prewarmMs = prewarm(spark, fixture, tally)
    val tr = new Tracing(spark, on = true, traceAll = true)
    val t0 = nowMs()
    SparkEntry.registry.sortBy(_.name).foreach { q =>
      counted(tally, q.name) {
        val df = q.run(spark, fixture)
        val rows = df.collect().toSeq
        verify(exp, q.name, df.columns.toSeq, rows).foreach(r => throw new IllegalStateException(r))
        tr.op(q.name) {
          val a = nowMs()
          val d = q.run(spark, fixture)
          val b = nowMs()
          d.write.format("noop").mode("overwrite").save()
          ((), Some((a, b)), nowMs() - a)
        }
      }
    }
    val wallS = (nowMs() - t0) / 1000
    tr.rec.settle()
    val spans = mutable.ArrayBuffer.empty[String]
    val runId = s"fullreg-${ProcessHandle.current().pid()}"
    val layers = Attribution.layers(tr.rec, tr.windows.toSeq, nproc(spark), runId, spans)
    val perQuery = tr.windows.map(w => w.name -> Attribution.jobCounts(tr.rec, w)).toSeq
    conf.get("spans").foreach { f =>
      val p = Paths.get(f)
      Files.createDirectories(p.getParent)
      Files.write(p, spans.asJava, java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    }
    val result = mutable.LinkedHashMap[String, Any](
      "commit" -> conf("commit"), "queries" -> tr.windows.size,
      "failed" -> tally.failed, "failures" -> tally.reasons,
      "total_jobs" -> layers("total_jobs"),
      "total_construct_jobs" -> layers("total_construct_jobs"),
      "traced_wall_s" -> wallS, "construct_share" -> layers("construct_share"),
      "core_util" -> layers("core_util"), "nproc" -> nproc(spark),
      "prewarm_ms" -> prewarmMs,
      "most_jobs" -> perQuery.sortBy(-_._2._1).take(12).map { case (n, (j, c)) =>
        s"$n $j ($c)" },
      "per_op_layers" -> layers)
    spark.stop()
    Stats.json(result)
  }
}
