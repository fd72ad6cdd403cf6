package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical._

/** Scan-parallelism helpers shared by the operator library. */
object Par {

  /** Input-skew mitigation (optimization guide §2.5 "one huge unsplittable
    * file"): parquet cannot split below row-group granularity, so a
    * single-row-group input file caps every scan-rooted map stage at ONE
    * task — explode/shingle/hash-heavy pipelines serialize on one core no
    * matter how wide the session is (measured: single 2-4 s one-task scan
    * stages under a13_heavy_hitters, the n-gram family, and the substring
    * dedup family on 32 local cores).
    *
    * When the incoming frame has fewer partitions than the session's
    * parallelism, repartition round-robin BEFORE the heavy map work; a
    * well-partitioned input (many files / many row groups — the 100 TB
    * case) passes through untouched, so no production plan pays an extra
    * exchange. Round-robin keeps Spark's sort-before-repartition
    * determinism guarantee for retried tasks.
    *
    * The partition probe (`df.rdd.getNumPartitions`) runs ONLY on narrow
    * scan-rooted chains, where building the RDD is pure planning. On a
    * frame whose plan already contains a shuffle-inducing node the probe
    * would be catastrophic: `Dataset.rdd` on an AQE plan materializes
    * every exchange stage — i.e. it EXECUTES the whole upstream pipeline
    * as extra jobs just to read a partition count (measured: the double
    * widen inside heavyHitters re-ran the token explode per probe,
    * a13_heavy_hitters cold 3 s -> 14 s). Shuffle-derived frames pass
    * through untouched instead: their width is the shuffle partition
    * count (or AQE's size-targeted coalesce of it), which is the engine's
    * scale-adaptive setting, not a one-task file artifact.
    */
  def widen(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (!narrowChain(df.queryExecution.logical)) df
    else if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }

  /** True when every node of `plan` preserves its child's partitioning —
    * projections, filters, generators, unions, sample, local relations and
    * leaf scans (incl. checkpointed [[org.apache.spark.sql.execution.LogicalRDD]]
    * frames, matched structurally as leaves). Any other node (join,
    * aggregate, window, sort, limit, repartition, ...) may introduce an
    * exchange, so the RDD probe is not plan-side-only there.
    */
  private def narrowChain(plan: LogicalPlan): Boolean = plan.find {
    case _: Project | _: Filter | _: Generate | _: Union | _: SubqueryAlias |
         _: Sample | _: TypedFilter | _: LocalRelation => false
    case _: LeafNode => false // any leaf: file scan, LogicalRDD, range
    case _ => true
  }.isEmpty
}
