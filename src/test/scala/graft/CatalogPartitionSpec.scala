package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Date-partitioned layout: directory structure + partition pruning. */
class CatalogPartitionSpec extends SparkSuite {

  test("storageMetrics lists every fixture table with real sizes") {
    val m = Catalog.storageMetrics(spark, sfDir).collect()
    assert(m.length == Catalog.tableNames.length)
    val byName = m.map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(byName("lineitem") > byName("region"), "lineitem should dwarf region")
    assert(m.forall(_.getLong(1) >= 1), "every table has at least one file")
    assert(m.forall(r => r.getString(3).matches("""[\d.]+ [KMGT]?B""")))
  }

  test("engineInfo reports version and formatted uptime") {
    val r = Catalog.engineInfo(spark).head()
    assert(r.getString(0) == spark.version)
    assert(r.getAs[String]("uptime").matches("""\d+:\d\d:\d\d"""))
  }

  test("writePartitionedByDate produces dt= dirs and prunes on read") {
    val path = Files.createTempDirectory("graft_part_").toString + "/events"
    Catalog.writePartitionedByDate(Catalog.events(spark, sfDir), "ts", path)

    val dtDirs = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("dt=")).map(_.getName).sorted
    assert(dtDirs.length >= 28, s"expected ~30 day partitions, got ${dtDirs.length}")
    assert(dtDirs.head == "dt=2024-01-01")

    val pruned = spark.read.parquet(path)
      .filter(col("dt") === "2024-01-15")
    // partition pruning must reach the scan: only one partition's files read
    val scanned = pruned.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scanned.nonEmpty)
    assert(scanned.head.partitionFilters.nonEmpty,
      "dt predicate did not become a partition filter")
    // the executed scan reports how many partition dirs survived pruning
    val partCount = scanned.head.metadata.get("PartitionFilters")
    assert(partCount.exists(_.contains("dt")), s"metadata: ${scanned.head.metadata}")
    val dayRows = pruned.count()
    val expectedDayRows = Catalog.events(spark, sfDir)
      .filter(to_date(col("ts")) === "2024-01-15").count()
    assert(dayRows == expectedDayRows && dayRows > 0)

    // content round-trips (modulo the added dt column)
    val total = spark.read.parquet(path).count()
    assert(total == Catalog.events(spark, sfDir).count())
  }
}
