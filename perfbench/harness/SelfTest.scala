package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row

/** Self-tests of the benchmark's own logic. No Spark session: the rules
  * under test are plain functions. Run with `python3 perfbench/run.py
  * --selftest`.
  */
object SelfTest {

  def run(): String = {
    val failures = mutable.ArrayBuffer.empty[String]
    var passed = 0
    def check(name: String)(cond: => Boolean): Unit =
      try { if (cond) passed += 1 else failures += name }
      catch { case e: Throwable => failures += s"$name: $e" }

    // tail rule: the highest percentile with ten samples beyond it
    val hundred = (1 to 100).map(_.toDouble)
    check("tail of 1..100 is 90 at p90") {
      Stats.tail(hundred).contains((90.0, 90.0, 100))
    }
    check("tail has exactly ten samples beyond it") {
      val xs = (1 to 37).map(i => (i * 7 % 37).toDouble)
      Stats.tail(xs).exists { case (v, _, _) => xs.count(_ > v) == 10 }
    }
    check("no tail from ten samples") { Stats.tail((1 to 10).map(_.toDouble)).isEmpty }
    check("tail of eleven samples is the minimum") {
      Stats.tail((1 to 11).map(_.toDouble)).exists(_._1 == 1.0)
    }

    // strata partition the registry; every family appears in each stratum
    val names = graft.SparkEntry.registry.map(_.name)
    val strata = (0 to 2).map(s => Stats.stratum(names, s.toLong))
    check("strata cover the registry") { strata.flatten.sorted == names.sorted }
    check("strata are disjoint") { strata.flatten.distinct.size == strata.flatten.size }
    check("stratum depends on seed mod 3") {
      Stats.stratum(names, 7L) == strata(1) && Stats.stratum(names, -1L) == strata(2)
    }
    val families = names.groupBy(Stats.family)
    check("every family appears in each stratum (families of three or more)") {
      families.filter(_._2.size >= 3).keys.forall(f => strata.forall(_.exists(Stats.family(_) == f)))
    }
    check("smaller families appear in as many strata as they have members") {
      families.filter(_._2.size < 3).forall { case (f, ms) =>
        strata.count(_.exists(Stats.family(_) == f)) == ms.size
      }
    }
    check("shuffle is a seeded permutation") {
      val a = Stats.shuffle(names, 5L)
      a.sorted == names.sorted && a == Stats.shuffle(names, 5L) && a != Stats.shuffle(names, 6L)
    }

    // open-loop latency runs from the due time: a generator stall charges
    // every file queued behind it
    check("open-loop latency is timed from the due time") {
      // file 1 was written late (a generator stall) and waited for batch 2
      val lat = Main.ingestLatencies(Seq(0.0, 200.0, 400.0),
        Seq(Some(1L), Some(2L), Some(2L)), Map(1L -> 150.0, 2L -> 700.0))
      lat == Seq(Some(150.0), Some(500.0), Some(300.0))
    }
    check("a file no committed batch read has no latency") {
      Main.ingestLatencies(Seq(0.0, 200.0), Seq(Some(1L), None), Map(1L -> 50.0)) ==
        Seq(Some(50.0), None) &&
        Main.ingestLatencies(Seq(0.0), Seq(Some(3L)), Map(1L -> 50.0)) == Seq(None)
    }

    // a throwing operation or prewarm counts as failed, never as fast
    check("a throwing operation counts as failed") {
      val t = new Main.Tally
      val r = Main.counted(t, "op")(throw new RuntimeException("boom"))
      r.isEmpty && t.attempted == 1 && t.failed == 1 && t.reasons("op").contains("boom")
    }
    check("a throwing prewarm counts as failed") {
      val t = new Main.Tally
      Main.prewarm(null, "", t, Seq(
        "Ok" -> ((_, _) => ()),
        "Boom" -> ((_, _) => throw new IllegalStateException("no index"))))
      t.attempted == 2 && t.failed == 1 && t.reasons.contains("prewarm.Boom")
    }

    // output checks
    val cols = Seq("b", "a")
    val rows = Seq(Row(2.0, "x"), Row(0.1 + 0.2, "y"))
    val h = Stats.resultHash(cols, rows)
    val exp = Map(
      "q" -> Main.Expect(2, h, stable = true, "pass"),
      "tie" -> Main.Expect(2, "other", stable = false, "pass"),
      "bad" -> Main.Expect(2, h, stable = true, "fail: hash mismatch"))
    check("hash ignores row order and float noise") {
      Stats.resultHash(cols, Seq(Row(0.3, "y"), Row(2.0, "x"))) == h
    }
    check("matching output passes") { Main.verify(exp, "q", cols, rows).isEmpty }
    check("different output fails") {
      Main.verify(exp, "q", cols, Seq(Row(2.0, "x"), Row(0.4, "y"))).nonEmpty
    }
    check("missing row fails") { Main.verify(exp, "q", cols, rows.take(1)).nonEmpty }
    check("unstable output is checked by row count") { Main.verify(exp, "tie", cols, rows).isEmpty }
    check("known defect always fails") { Main.verify(exp, "bad", cols, rows).nonEmpty }
    check("unrecorded output fails") { Main.verify(exp, "new", cols, rows).nonEmpty }

    Stats.json(mutable.LinkedHashMap[String, Any]("passed" -> passed, "failed" -> failures))
  }
}
