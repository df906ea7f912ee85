package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange

/** Scan-parallelism repair for expensive per-row pipelines (round 14).
  *
  * The driver's testdata ships each table as ONE parquet file with ONE
  * row group, so a scan can never split past a single task no matter
  * what `spark.sql.files.maxPartitionBytes` / `minPartitionNum` say
  * (parquet splits at row-group granularity) — and a pipeline whose
  * heavy per-row compute sits directly on the scan serializes entirely
  * (q_cohens_kappa measured as ONE 4.5 s task at sf0.1 on a 32-core
  * session). At production scale the same pipelines parallelize for
  * free (many files / many row groups), which is exactly what the
  * guard below detects: the repartition is inserted ONLY when the
  * planned scan has fewer partitions than the cluster's default
  * parallelism, so at 100 TB this is a no-op and no corpus-wide
  * keyed shuffle is ever added. Row-identity is unchanged either way
  * (a hash repartition moves rows, never alters them).
  */
object Par {

  /** `df` hash-partitioned by `keys` into `defaultParallelism`
    * partitions iff its planned scans cannot already supply that much
    * parallelism. Call on the NARROW base projection (before the
    * expensive expressions), so the shuffle carries source columns,
    * not computed ones.
    *
    * Spread by a high-cardinality KEY (the row id, or the keys of a
    * following window or aggregation, whose distribution the exchange
    * then satisfies) rather than round-robin: RoundRobinPartitioning
    * pays a whole-row local sort before the exchange
    * (spark.sql.execution.sortBeforeRepartition, needed for retry
    * determinism — StageProf measured it as a 1.6 s single-task sort
    * of full document text on q_cohens_kappa), while hash partitioning
    * is retry-deterministic for free and only hashes the key.
    *
    * The guard reads the physical plan only and starts no job: `df` is
    * returned unchanged when its plan already holds an exchange (its
    * parallelism is the shuffle's, not the scan's) or reads anything
    * but files (a cache, a local relation, an external RDD).
    */
  def spread(df: DataFrame, keys: Column*): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (scanPartitions(df).exists(_ < p)) df.repartition(p, keys: _*) else df
  }

  /** Partitions the planned plan reads (the sum over its file scans,
    * as a union has), or None when it shuffles or has a leaf other than
    * a file scan.
    */
  private def scanPartitions(df: DataFrame): Option[Int] = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val leaves = plan.collectLeaves()
    val scans = leaves.collect { case s: FileSourceScanExec => s.inputRDD.getNumPartitions }
    if (plan.exists(_.isInstanceOf[Exchange]) || scans.size != leaves.size) None
    else Some(scans.sum)
  }
}
