package graft

import org.apache.spark.sql.functions.col

/** The scale-safety contract of [[Spread.ifNarrow]] (VERDICT r18 item 1):
  * a narrow input widens to the target, a pre-partitioned wide input passes
  * through UNREPARTITIONED — the helper must never coalesce a wide scan or
  * add an exchange it doesn't need. The probe is plan-only, so these tests
  * also pin that pass-through returns the SAME object (no new plan node).
  */
class SpreadSpec extends SparkSpec {

  test("narrow file scan is widened to the target") {
    val docs = Tables.documents(spark, sf001) // one small parquet file
    val spread = Spread.ifNarrow(docs, 8)
    assert(spread.rdd.getNumPartitions == 8)
    assert(spread.count() == docs.count())
  }

  test("file-scan width estimate floors at one split locally") {
    // a few-KB parquet file packs into a single split under the 4 MB
    // open-cost floor — the estimate must agree with Spark's packing
    val docs = Tables.documents(spark, sf001)
    assert(Spread.estimatedPartitions(docs) == BigInt(1))
    assert(docs.rdd.getNumPartitions == 1)
  }

  test("wide RDD-backed input passes through untouched — same object") {
    val wide = spark.range(0L, 1000L, 1L, 16).toDF("id").localCheckpoint()
    assert(wide.rdd.getNumPartitions == 16)
    val out = Spread.ifNarrow(wide, 8)
    // identity, not just equal partitioning: no new plan node at all
    assert(out eq wide)
  }

  test("wide Range input passes through; narrow Range is widened") {
    val wide = spark.range(0L, 1000L, 1L, 16).toDF("id")
    assert(Spread.ifNarrow(wide, 8) eq wide)
    val narrow = spark.range(0L, 1000L, 1L, 2).toDF("id")
    assert(Spread.ifNarrow(narrow, 8).rdd.getNumPartitions == 8)
  }

  test("a simulated warehouse-wide file scan passes through") {
    // the estimate is pure arithmetic over the relation's byte size, so a
    // wide scan can be simulated by shrinking the split knobs instead of
    // writing gigabytes: with maxPartitionBytes = openCost = 1KB, the
    // sf0.001 documents file (tens of KB) estimates tens of splits
    val prev = (spark.conf.get("spark.sql.files.maxPartitionBytes"),
      spark.conf.get("spark.sql.files.openCostInBytes"))
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
      spark.conf.set("spark.sql.files.openCostInBytes", "1024")
      val docs = Tables.documents(spark, sf001)
      assert(Spread.estimatedPartitions(docs) > BigInt(4))
      assert(Spread.ifNarrow(docs, 4) eq docs) // wide: untouched
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", prev._1)
      spark.conf.set("spark.sql.files.openCostInBytes", prev._2)
    }
  }

  test("degenerate targets never repartition") {
    val df = spark.range(0L, 10L, 1L, 2).toDF("id")
    assert(Spread.ifNarrow(df, 1) eq df)
    assert(Spread.ifNarrow(df, 0) eq df)
  }

  test("exactly-at-target input passes through") {
    val at = spark.range(0L, 100L, 1L, 8).toDF("id").localCheckpoint()
    assert(Spread.ifNarrow(at, 8) eq at)
  }

  test("driver-local rows count as narrow (pre-r19 behavior preserved)") {
    import spark.implicits._
    val local = Seq(1, 2, 3).toDF("id")
    assert(Spread.estimatedPartitions(local) == BigInt(1))
    assert(Spread.ifNarrow(local, 4).rdd.getNumPartitions == 4)
  }

  test("multi-leaf plans sum their leaf widths") {
    val a = spark.range(0L, 100L, 1L, 4).toDF("id").localCheckpoint()
    val b = spark.range(0L, 100L, 1L, 4).toDF("id").localCheckpoint()
    val joined = a.join(b, "id")
    assert(Spread.estimatedPartitions(joined) == BigInt(8))
  }

  test("DataSource V2 scans: narrow widens, wide and size-unknown pass through") {
    // parquet read through its V2 reader in this test only
    val v1Key = "spark.sql.sources.useV1SourceList"
    val prev = spark.conf.get(v1Key)
    val knobs = Seq("spark.sql.files.maxPartitionBytes",
      "spark.sql.files.openCostInBytes")
    val prevKnobs = knobs.map(spark.conf.get)
    try {
      spark.conf.set(v1Key, prev.split(",").filterNot(_ == "parquet")
        .mkString(","))
      val docs = Tables.documents(spark, sf001)
      val leaves = docs.queryExecution.optimizedPlan.collectLeaves()
      assert(leaves.exists(_.isInstanceOf[org.apache.spark.sql.execution
        .datasources.v2.DataSourceV2ScanRelation]), s"not a V2 scan: $leaves")
      assert(Spread.estimatedPartitions(docs) == BigInt(1))
      val spread = Spread.ifNarrow(docs, 8)
      assert(spread.rdd.getNumPartitions == 8)
      assert(spread.count() == docs.count())
      // the simulated warehouse-wide scan: same arithmetic as the V1 case
      knobs.foreach(spark.conf.set(_, "1024"))
      val wide = Tables.documents(spark, sf001)
      assert(Spread.estimatedPartitions(wide) > BigInt(4))
      assert(Spread.ifNarrow(wide, 4) eq wide)
    } finally {
      spark.conf.set(v1Key, prev)
      knobs.zip(prevKnobs).foreach { case (k, v) => spark.conf.set(k, v) }
    }
    // a V2 source that reports no statistics (the engine's own event-log
    // reader) has an unknown width: it must pass through, never coalesce
    val dir = java.nio.file.Files.createTempDirectory("spread_v2").toString
    val events = spark.read.format("graft.sources.EventLogSource").load(dir)
    assert(Spread.ifNarrow(events, 4) eq events)
  }
}
