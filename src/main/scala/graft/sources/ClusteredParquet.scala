package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Clustered parquet layout (R7) + the point-lookup pruning it buys
  * (R8).
  *
  * The reference writes one parquet sorted by doc_id with dictionary
  * encoding, zstd, full column statistics and 512k row groups
  * (reference src/main.rs:196-257) — a clustered primary index: any
  * doc-id point/range predicate prunes to the row groups whose
  * min/max straddle the ids.
  *
  * Spark-first translation, designed for many files rather than one:
  *  - `repartitionByRange(docId)` makes files cover disjoint id
  *    ranges (a range shuffle with a sampled-boundaries exchange);
  *  - `sortWithinPartitions(docId)` makes row groups inside each file
  *    cover disjoint sub-ranges, so footer min/max stats are tight;
  *  - parquet dictionary encoding + stats are on by default; zstd
  *    matches the reference's codec.
  *
  * Row groups are pruned per id only for id sets of at most
  * `spark.sql.parquet.pushdown.inFilterThreshold` (10 by default).
  * A larger `In` reaches the parquet reader as an `in` predicate whose
  * statistics test compares only the set's [min, max] with each row
  * group's, so a lookup of scattered ids reads every row group inside
  * that range: 100 random ids over a 500k-row layout scan nearly all
  * 500k rows. Narrow or dense id sets still prune to O(ids).
  * Row-group size is tunable (`parquet.block.size`): smaller groups →
  * finer pruning for point loads, larger → better scans.
  */
object ClusteredParquet {

  /** R7: write `df` range-clustered on `docIdCol`. */
  def write(df: DataFrame, path: String, docIdCol: String = "doc_id",
            numFiles: Int = 0, rowGroupBytes: Long = 0L): Unit = {
    val parts = if (numFiles > 0) numFiles
                else df.sparkSession.sessionState.conf.numShufflePartitions
    var w = df.repartitionByRange(parts, col(docIdCol))
      .sortWithinPartitions(docIdCol)
      .write.mode("overwrite")
      .option("compression", "zstd")
    if (rowGroupBytes > 0) w = w.option("parquet.block.size", rowGroupBytes.toString)
    w.parquet(path)
  }

  def read(spark: SparkSession, path: String): DataFrame = spark.read.parquet(path)

  /** R8: doc-id point lookup over a clustered layout. The In predicate
    * is pushed into the parquet scan (see
    * InvertedIndex.restrictToDocIds), where row-group stats skip
    * every group whose [min,max] misses the ids — or, above the
    * parquet in-filter threshold, misses the ids' [min, max] range. */
  def pointLookup(spark: SparkSession, path: String, docIds: Seq[Long],
                  docIdCol: String = "doc_id"): DataFrame =
    graft.operators.InvertedIndex.restrictToDocIds(read(spark, path), docIds, docIdCol)

  /** Hive-style partitioned + clustered layout: directory partitions
    * on a low-cardinality column (lang, date, source tier) with each
    * partition internally doc-id-clustered. This buys PARTITION
    * pruning — a predicate on the partition column eliminates whole
    * directories at planning time, before any file footer is read —
    * on top of R8's row-group pruning within the surviving
    * partitions. The two prune at different granularities and
    * compose; at 100 TB, `lang = 'en' AND doc_id IN (...)` reads only
    * the en directory's matching row groups. Partition columns must
    * be low-cardinality (each value is a directory): languages,
    * dates, sources — never doc ids. */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String,
                       docIdCol: String = "doc_id", filesPerPartition: Int = 4): Unit =
    df.repartitionByRange(filesPerPartition, col(partitionCol), col(docIdCol))
      .sortWithinPartitions(partitionCol, docIdCol)
      .write.mode("overwrite")
      .option("compression", "zstd")
      .partitionBy(partitionCol)
      .parquet(path)

  /** Z-order (Morton) clustered layout: the multi-dimensional
    * extension of R7. Rows sort by the bit-interleaved key of two
    * columns, so every file and row group carries a tight [min,max]
    * envelope in BOTH columns at once — a box predicate
    * `a IN [a0,a1] AND b IN [b0,b1]` prunes on footer stats in both
    * dimensions, where the single-column clustered layout only prunes
    * its sort column. At 100 TB this is the difference between
    * scanning ~selectivity(a)·data for a 2-d box and scanning
    * ~selectivity(a)·selectivity(b)·data (plus z-curve boundary
    * groups). Coordinates must be non-negative and fit 32 bits —
    * pre-bucket continuous domains first. */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
                    numFiles: Int = 0, rowGroupBytes: Long = 0L): Unit =
    writeCurveClustered(df, path, "graft_zorder", colA, colB, numFiles, rowGroupBytes)

  /** Same 2-d clustered layout via the HILBERT key: consecutive keys
    * are always grid neighbors (no Z-shaped jumps), so box queries
    * touch fewer boundary row groups at identical write cost — the
    * layout Delta/Iceberg reach for beyond Z-order. Same 2^24
    * pre-bucketing contract as the Z path. */
  def writeHilbert(df: DataFrame, path: String, colA: String, colB: String,
                   numFiles: Int = 0, rowGroupBytes: Long = 0L): Unit =
    writeCurveClustered(df, path, "graft_hilbert", colA, colB, numFiles, rowGroupBytes)

  private def writeCurveClustered(df: DataFrame, path: String, fn: String,
                                  colA: String, colB: String,
                                  numFiles: Int, rowGroupBytes: Long): Unit = {
    val parts = if (numFiles > 0) numFiles
                else df.sparkSession.sessionState.conf.numShufflePartitions
    val z = call_function(fn, col(colA).cast("long"), col(colB).cast("long"))
    var w = df.repartitionByRange(parts, z)
      .sortWithinPartitions(z)
      .write.mode("overwrite")
      .option("compression", "zstd")
    if (rowGroupBytes > 0) w = w.option("parquet.block.size", rowGroupBytes.toString)
    w.parquet(path)
  }

  /** Rows the parquet scan emitted while executing `df` — i.e. rows
    * surviving row-group pruning, BEFORE any post-scan filter. Used by
    * the R8 spec to prove clustering skips row groups. Executes via
    * collect() so the metrics land on THIS df's QueryExecution (a
    * sink-based write would plan a separate QueryExecution and leave
    * these metrics empty). */
  def scanOutputRows(df: DataFrame): Long = {
    df.collect()
    def finalPlan(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val scans = finalPlan(df.queryExecution.executedPlan).collectLeaves()
    scans.flatMap(_.metrics.get("numOutputRows").map(_.value)).sum
  }
}
