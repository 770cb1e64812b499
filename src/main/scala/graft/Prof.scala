package graft

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Time registered queries: prewarm every artifact, run each query
  * `repeats` times (default 2) through the noop sink and print each run's
  * wall time, then the last run's job timeline (the gap before a job is
  * driver and planning time) and its stages by wall time.
  *
  * Usage: tools/run.sh graft.Prof <sfDir> [nameOrPrefix] [repeats]
  *
  * Queries are chosen by [[DevSelect.select]], so a family or the whole
  * registry runs in one JVM. Other confs reach the session as `spark.*`
  * system properties, e.g. `JAVA_TOOL_OPTIONS=-Dspark.sql.adaptive.enabled=false
  * tools/run.sh graft.Prof …`; the `spark.sql.*` confs in force print first.
  */
object Prof {
  private case class Job(id: Int, t0: Long, var t1: Long)

  def main(args: Array[String]): Unit = {
    val (sfDir, queries, repeats) =
      DevSelect.parse(args, "graft.Prof <sfDir> [nameOrPrefix] [repeats]")
    val n = repeats.fold(2)(_.toInt)
    val jobs = mutable.ArrayBuffer.empty[Job]
    val stages = mutable.ArrayBuffer.empty[(Long, String)] // (wall ms, table row)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.synchronized { jobs += Job(e.jobId, e.time, -1L) }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.find(_.id == e.jobId).foreach(_.t1 = e.time) }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        val wall = i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L)
        val row = f"${i.stageId}%5d $wall%8d ${m.executorRunTime}%8d " +
          f"${m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead}%12d " +
          f"${m.shuffleReadMetrics.totalBytesRead / 1e6}%9.2f " +
          f"${m.shuffleWriteMetrics.bytesWritten / 1e6}%9.2f  " +
          i.name.takeWhile(_ != '\n').take(70)
        stages.synchronized { stages += wall -> row }
      }
    }
    val setup = (spark: SparkSession) => {
      spark.sparkContext.getConf.getAll.filter(_._1.startsWith("spark.sql.")).sorted
        .foreach { case (k, v) => System.err.println(s"[prof] conf $k=$v") }
      spark.sparkContext.addSparkListener(listener)
      // bench parity: artifacts are offline cost. A failed build stops the
      // run; left to the first query that needs it, it would be timed
      // inside that query.
      Seq[(String, (SparkSession, String) => Unit)](
        "Dedup" -> operators.Dedup.prewarmIndexes, "Similarity" -> operators.Similarity.prewarmIndexes,
        "Search" -> operators.Search.prewarmIndexes, "Multimodal" -> operators.Multimodal.prewarmIndexes,
        "Graph" -> operators.Graph.prewarmIndexes, "Profile" -> operators.Profile.prewarmIndexes,
        "TextOps" -> operators.TextOps.prewarmIndexes
      ).foreach { case (module, build) =>
        try build(spark, sfDir)
        catch { case NonFatal(e) => throw new IllegalStateException(s"prewarm of $module failed", e) }
      }
    }
    DevSelect.runAll(queries, setup) { (spark, q) =>
      println(s"\n===== ${q.name} =====")
      for (i <- 1 to n) {
        stages.synchronized(stages.clear())
        jobs.synchronized(jobs.clear())
        val t0 = System.nanoTime()
        val wall0 = System.currentTimeMillis()
        q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
        val s = (System.nanoTime() - t0) / 1e9
        // let the async listener bus drain so late stage/job events land in
        // THIS run's snapshot instead of the next repeat's buffer
        Thread.sleep(200)
        if (i == n) jobs.synchronized {
          var prevEnd = wall0
          println(f"${"job"}%5s ${"gap_ms"}%7s ${"run_ms"}%7s")
          jobs.sortBy(_.t0).foreach { j =>
            val end = if (j.t1 > 0) j.t1 else j.t0
            println(f"${j.id}%5d ${j.t0 - prevEnd}%7d ${end - j.t0}%7d")
            prevEnd = math.max(prevEnd, end)
          }
          println(f"tail_gap ${System.currentTimeMillis() - prevEnd}%d ms")
        }
        println(f"== run $i: $s%.3f s, ${stages.synchronized(stages.size)} stages ==")
        if (i == n) stages.synchronized {
          println(f"${"stage"}%5s ${"wall_ms"}%8s ${"task_ms"}%8s " +
            f"${"records"}%12s ${"shufR_MB"}%9s ${"shufW_MB"}%9s  name")
          stages.sortBy(-_._1).take(30).foreach(st => println(st._2))
        }
      }
    }
  }
}
