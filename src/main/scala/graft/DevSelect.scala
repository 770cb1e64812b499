package graft

import scala.util.control.NonFatal
import scala.util.matching.Regex

import org.apache.spark.sql.SparkSession

import graft.operators.Q

/** What the dev mains [[Explain]] and [[Prof]] share: the query selector,
  * the session, the failure rule and the plan normalizer.
  */
object DevSelect {

  /** An exact registry name wins, then a name prefix; no argument or ""
    * selects all. Zero matches is an error listing the names, so a typo
    * never passes for an empty result.
    */
  def select(names: Seq[String], arg: Option[String]): Either[String, Seq[String]] = {
    val sorted = names.sorted
    arg.filter(_.nonEmpty) match {
      case None => Right(sorted)
      case Some(a) if sorted.contains(a) => Right(Seq(a))
      case Some(a) => Some(sorted.filter(_.startsWith(a))).filter(_.nonEmpty).toRight(
        s"no registered query matches '$a'; registered queries:\n  " + sorted.mkString("\n  "))
    }
  }

  /** `<sfDir> [nameOrPrefix] [third]` as (sfDir, queries, third), or exit 1. */
  def parse(args: Array[String], usage: String): (String, Seq[Q], Option[String]) = {
    val byName = SparkEntry.registry.map(q => q.name -> q).toMap
    select(byName.keys.toSeq, args.lift(1)) match {
      case Right(names) if args.nonEmpty => (args(0), names.map(byName), args.lift(2))
      case other =>
        System.err.println(other.left.getOrElse(s"usage: $usage"))
        sys.exit(1)
    }
  }

  /** Run `body` per query in an all-core session (as perfbench runs;
    * SPARK_GRAFT_CPUS overrides). A failing query is printed and the rest
    * still run; the exit status is 1 if any failed.
    */
  def runAll(queries: Seq[Q], setup: SparkSession => Unit = _ => ())(
      body: (SparkSession, Q) => Unit): Unit = {
    val spark = GraftSession.local(defaultCpus = Runtime.getRuntime.availableProcessors)
    val failed = try {
      setup(spark)
      queries.filterNot { q =>
        try { body(spark, q); true }
        catch { case NonFatal(e) =>
          System.err.println(s"FAIL ${q.name}: ${e.getClass.getSimpleName}: ${e.getMessage}")
          false
        }
      }
    } finally spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"${failed.size} of ${queries.size} failed: ${failed.map(_.name).mkString(" ")}")
      sys.exit(1)
    }
  }

  // renumbered by first appearance, so a diff still shows which attribute
  // a reference points at
  private val Counters = Seq("#", "plan_id=", "RDD\\[").map(p => s"(?<=$p)\\d+".r)
  private val Names = Seq(
    "run_[0-9a-f-]{12}" -> "run_<id>", // Scratch.freshRunDir
    "part-\\d{5}-[0-9a-f-]{36}" -> "part-<id>", // parquet part files
    "Lambda\\$\\d+/0x[0-9a-f]+@[0-9a-f]+" -> "Lambda", // JVM lambda identity
    "(?<=\\.scala):\\d+" -> "<line>" // checkpoint call sites
  ).map { case (re, to) => (re.r, Regex.quoteReplacement(to)) }

  /** A formatted plan without its run-to-run noise: expression ids (`#12`,
    * `#12L`), exchange plan ids and RDD ids renumbered in order of first
    * appearance; run dirs, part-file uuids and lambda identities replaced;
    * a checkpoint call site's source line dropped, as moving code is no
    * plan change.
    */
  def normalize(plan: String): String = {
    val renumbered = Counters.foldLeft(plan) { (s, re) =>
      val seen = scala.collection.mutable.Map.empty[String, Int]
      re.replaceAllIn(s, m => seen.getOrElseUpdate(m.matched, seen.size).toString)
    }
    Names.foldLeft(renumbered) { case (s, (re, to)) => re.replaceAllIn(s, to) }
  }
}
