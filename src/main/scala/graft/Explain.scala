package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.expressions.NamedExpression
import org.apache.spark.sql.execution.FormattedMode

/** Dump the formatted physical plans of registered queries: the
  * explain-and-iterate loop (PushedFilters / ReadSchema / broadcast choice /
  * WholeStageCodegen spans after every operator change) and the plan
  * identity proof for a refactor.
  *
  * Usage: tools/run.sh graft.Explain <sfDir> [nameOrPrefix] [outDir]
  *
  * Queries are chosen by [[DevSelect.select]]. Without `outDir` the plans
  * go to stdout under `===== name =====` headers; with it, each goes to
  * `<name>.txt` through [[DevSelect.normalize]], so two dumps compare with
  * a plain `diff -r`. Queries that fail to plan are listed, and exit 1.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    pinExprIdJvm()
    val (sfDir, queries, outDir) =
      DevSelect.parse(args, "graft.Explain <sfDir> [nameOrPrefix] [outDir]")
    outDir.foreach(d => Files.createDirectories(Paths.get(d)))
    DevSelect.runAll(queries) { (spark, q) =>
      val plan = q.run(spark, sfDir).queryExecution.explainString(FormattedMode)
      outDir match {
        case Some(d) => Files.writeString(Paths.get(d, s"${q.name}.txt"), DevSelect.normalize(plan))
        case None => println(s"\n===== ${q.name} =====\n$plan")
      }
    }
  }

  /** Expression ids hash with a random per-JVM UUID, and Spark numbers
    * RewriteDistinctAggregates' Expand groups in hash-map order, so plans
    * with several DISTINCT aggregates (c1, c2, c4, n13) permute from one
    * JVM to the next. Fixing the UUID before the first id makes the order
    * repeat; ids are never compared across JVMs.
    */
  private def pinExprIdJvm(): Unit = {
    val f = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
    f.setAccessible(true)
    val unsafe = f.get(null).asInstanceOf[sun.misc.Unsafe]
    val jvmId = NamedExpression.getClass.getDeclaredField("jvmId")
    unsafe.putObject(unsafe.staticFieldBase(jvmId), unsafe.staticFieldOffset(jvmId),
      new java.util.UUID(0L, 0L))
  }
}
