package graft

import org.apache.spark.sql.DataFrame

/** Scale-conditional round-robin spread for one-split inputs (guide §2.5,
  * "input skew: one huge unsplittable file").
  *
  * Local fixture tables arrive as ONE parquet split, so a CPU-bound
  * projection pipeline above the scan runs on a single core until its first
  * exchange — the r18 fix was an unconditional `repartition(n)` at each such
  * site. But `repartition(n)` always produces exactly n partitions, never a
  * no-op: at warehouse scale, where the same scan is already hundreds of
  * splits, the unconditional call would COALESCE the wide scan down to n
  * (serializing the very work it was added to parallelize) and pay a
  * full-corpus shuffle the plan didn't need (VERDICT r18 item 1). The guard
  * makes every spread conditional on the input's estimated scan width:
  * narrow inputs widen to `target`, already-wide inputs pass through
  * untouched (same DataFrame object, no added exchange).
  *
  * Exactness: unchanged from the unconditional form — every call site
  * carries its own argument that row placement cannot affect its result
  * (per-row deterministic projections, exact-DECIMAL sums, pre-top-k
  * rounding); the guard only changes WHEN the repartition exchange exists,
  * never what flows through it.
  *
  * The probe is PLAN-ONLY — it must never run a job, build a broadcast, or
  * compile codegen (a first cut probed `df.rdd.getNumPartitions`, which
  * plans AND executes a fresh deserializer query per call: measured
  * +0.06–0.4 s on EVERY guarded query, uniformly). Instead it walks the
  * optimized logical plan's leaves:
  *   - file relations: reproduce Spark's own split packing arithmetic
  *     (`FilePartition.maxSplitBytes` sans the per-file open-cost term)
  *     over the relation's known byte size — locally a few MB floors at
  *     the 4 MB open cost and estimates 1 split; a 100 TB scan estimates
  *     bytes/128 MB splits and passes through;
  *   - RDD-backed frames (localCheckpoint — the KnnGraphBuild/serve-fixture
  *     inputs): the RDD's actual partition count, already materialized;
  *   - DataSource V2 scans: the same split arithmetic over the scan's
  *     reported `sizeInBytes`; a scan that reports no size (Spark then
  *     answers `spark.sql.defaultSizeInBytes`) passes through — an
  *     unknown width must never be coalesced. A bare `DataSourceV2Relation`
  *     does not reach the optimized plan (V2ScanRelationPushDown, a rule
  *     that cannot be excluded, turns every batch one into a scan
  *     relation); should one appear, it passes through unsized;
  *   - Range: its declared slice count;
  *   - driver-local rows (LocalRelation) and unknown leaves: width 1 —
  *     matching the unconditional pre-r19 behavior for micro-batch frames.
  */
object Spread {
  def ifNarrow(df: DataFrame, target: Int): DataFrame =
    if (target <= 1 || estimatedPartitions(df) >= target) df
    else df.repartition(target)

  /** Estimated scan width of `df`'s leaves, driver-side arithmetic only. */
  private[graft] def estimatedPartitions(df: DataFrame): BigInt = {
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import org.apache.spark.sql.execution.datasources.v2.{
      DataSourceV2Relation, DataSourceV2ScanRelation}
    import org.apache.spark.sql.catalyst.plans.logical.Range
    val conf = df.sparkSession.sessionState.conf
    val dp = df.sparkSession.sparkContext.defaultParallelism
    def splits(bytes: BigInt): BigInt = {
      val minParts = BigInt(math.max(conf.filesMinPartitionNum.getOrElse(dp), 1))
      val maxSplit = (bytes / minParts)
        .max(BigInt(conf.filesOpenCostInBytes))
        .min(BigInt(conf.filesMaxPartitionBytes))
        .max(BigInt(1))
      ((bytes + maxSplit - 1) / maxSplit).max(BigInt(1))
    }
    def v2(bytes: BigInt): BigInt =
      if (bytes >= conf.defaultSizeInBytes) BigInt(Long.MaxValue) // unknown
      else splits(bytes)
    df.queryExecution.optimizedPlan.collectLeaves().map {
      case r: LogicalRDD => BigInt(r.rdd.getNumPartitions)
      case r: Range => BigInt(r.numSlices.getOrElse(dp))
      case rel: LogicalRelation => splits(BigInt(rel.relation.sizeInBytes))
      case r: DataSourceV2ScanRelation => v2(r.computeStats().sizeInBytes)
      case _: DataSourceV2Relation => BigInt(Long.MaxValue) // unknown
      case _ => BigInt(1)
    }.sum.max(BigInt(1))
  }
}
