package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** File-skipping statistics — the min/max manifest every lake format
  * (Parquet row groups, Iceberg/Delta file stats) keeps, as a first-class
  * operator: build the per-shard stats table, then decide which shards a
  * range predicate can PROVE empty without reading them.
  *
  * This is the 1-D companion to the Z-order keys ([[graft.functions
  * .ZOrder]], q234) and the bucketed layout ([[Bucketing]], q227): z-order
  * clusters multi-dimensional ranges so THIS manifest prunes them; the
  * scan-fraction estimate is the number a layout decision is made on.
  * At 100 TB the manifest is file-grain (thousands of rows for thousands
  * of files), so pruning is a broadcast-sized filter evaluated before the
  * scan — the whole point is that the corpus itself is never touched.
  */
object SkippingManifest {

  /** Per-shard manifest: row count plus `<c>_min`/`<c>_max` for each stat
    * column. One `groupBy` over the corpus — the manifest build is the
    * only full pass, exactly like a lake format's write-side stats
    * collection.
    */
  def build(df: DataFrame, shardCol: String, statCols: Seq[String]): DataFrame = {
    require(statCols.nonEmpty, "no stat columns")
    df.groupBy(col(shardCol))
      .agg(count(lit(1)).as("n_rows"),
        statCols.flatMap(c => Seq(
          min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max"))): _*)
  }

  /** Fold a delta's manifest into an existing one. Min/max/count are
    * mergeable aggregates, so incremental maintenance is manifest-grain
    * arithmetic — history is NEVER rescanned (the
    * [[graft.operators.Dedup.appendToIndex]] delta-fold contract,
    * applied to layout stats): `merge(build(A), build(B)) ==
    * build(A ∪ B)` exactly, spec'd in SkippingManifestSpec. A
    * [[graft.streaming.Streams.fold]] of per-batch [[build]]s with this
    * merge is a continuously maintained layout-stats table
    * (SketchStreamSpec).
    */
  def merge(a: DataFrame, b: DataFrame, shardCol: String,
      statCols: Seq[String]): DataFrame = {
    require(statCols.nonEmpty, "no stat columns")
    a.unionByName(b).groupBy(col(shardCol))
      .agg(sum(col("n_rows")).as("n_rows"),
        statCols.flatMap(c => Seq(
          min(col(s"${c}_min")).as(s"${c}_min"),
          max(col(s"${c}_max")).as(s"${c}_max"))): _*)
  }

  /** Shards a `[lo, hi]` predicate on `statCol` cannot prune: the shard's
    * `[min, max]` intersects the query range. Lossless by construction —
    * a shard outside the result provably contains no matching row.
    */
  def survivors(manifest: DataFrame, statCol: String, lo: Column,
      hi: Column): DataFrame =
    manifest.filter(col(s"${statCol}_max") >= lo &&
      col(s"${statCol}_min") <= hi)

  /** One-row scan estimate for the predicate under this layout: shard and
    * row counts total vs surviving, and the fraction of rows the pruned
    * scan must still read (the layout-quality number).
    */
  def scanEstimate(manifest: DataFrame, statCol: String, lo: Column,
      hi: Column): DataFrame = {
    val surv = col(s"${statCol}_max") >= lo && col(s"${statCol}_min") <= hi
    manifest.agg(
      count(lit(1)).cast("long").as("n_shards"),
      sum(when(surv, 1L).otherwise(0L)).as("shards_kept"),
      sum(col("n_rows")).as("rows_total"),
      sum(when(surv, col("n_rows")).otherwise(0L)).as("rows_scanned"))
      .withColumn("scan_fraction",
        round(col("rows_scanned") / col("rows_total").cast("double"), 4))
  }
}
