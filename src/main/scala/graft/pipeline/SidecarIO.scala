package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Crash-safe overwrite for the small persisted sidecars (bloom words,
  * count-min cells, bottom-k samples, …): `mode("overwrite")` on the
  * live path deletes the ONLY copy before the new write commits, so a
  * crash in between loses the accumulated sidecar irrecoverably. Here
  * the new generation is written to a TMP sibling first, the live dir
  * is renamed aside as `_prev`, tmp renamed live, `_prev` dropped —
  * every crash window leaves at least one complete generation on disk,
  * and [[readWithFallback]] serves `_prev` if the live dir is missing
  * (the one window where a crash interrupts the swap).
  *
  * The fold contract ([[SidecarFold]]) is built on these two halves:
  * every sidecar fold loads through [[readWithFallback]] and writes
  * only through [[atomicOverwrite]] / [[atomicOverwriteDf]], never a
  * `mode("overwrite")` on a live dir.
  */
object SidecarIO {

  /** Replace the parquet dir at `dest` with `rows` (already collected —
    * sidecars are bounded by construction) without ever holding zero
    * complete generations on disk.
    */
  def atomicOverwrite(spark: SparkSession, rows: java.util.List[Row],
      schema: StructType, dest: String): Unit = {
    val destPath = new Path(dest)
    val fs = destPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(dest + "_tmp")
    val prev = new Path(dest + "_prev")
    fs.delete(tmp, true)
    spark.createDataFrame(rows, schema).coalesce(1)
      .write.mode("overwrite").parquet(tmp.toString)
    fs.delete(prev, true)
    if (fs.exists(destPath)) { fs.rename(destPath, prev); () }
    if (!fs.rename(tmp, destPath))
      sys.error(s"sidecar swap failed: could not rename $tmp to $dest")
    fs.delete(prev, true)
    ()
  }

  /** [[atomicOverwrite]] for a DataFrame too big to collect (e.g. a
    * vocabulary-sized table): the tmp write MATERIALIZES the plan in
    * full while the live dir is still intact, so a plan that reads the
    * path it replaces cannot race itself, and the swap then proceeds
    * as above. With `partitionCols` the new generation keeps a
    * `partitionBy` directory layout (one exchange on the partition
    * keys, no driver coalesce) — the sharded-sidecar fold path, where
    * each shard must land in its own directory and the table can be
    * tens of GB.
    */
  def atomicOverwriteDf(df: DataFrame, dest: String,
      files: Int = 1, partitionCols: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    val destPath = new Path(dest)
    val fs = destPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(dest + "_tmp")
    val prev = new Path(dest + "_prev")
    fs.delete(tmp, true)
    val shaped =
      if (partitionCols.nonEmpty)
        df.repartition(partitionCols.map(org.apache.spark.sql.functions
          .col): _*)
      else df.coalesce(files)
    val writer = shaped.write.mode("overwrite")
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*)
     else writer).parquet(tmp.toString)
    fs.delete(prev, true)
    if (fs.exists(destPath)) { fs.rename(destPath, prev); () }
    if (!fs.rename(tmp, destPath))
      sys.error(s"sidecar swap failed: could not rename $tmp to $dest")
    fs.delete(prev, true)
    ()
  }

  /** Run `body` (typically a `spark.read.parquet` whose file listing
    * happens eagerly) with DRIVER-SIDE file listing for partitioned
    * index layouts: these are a few hundred partition directories with
    * a couple of files each, and Spark launches a distributed listing
    * JOB past `spark.sql.sources.parallelPartitionDiscovery.threshold`
    * (default 32) paths — task scheduling that costs several times the
    * listing itself on such layouts (measured on the 256-dir exact
    * index at sf0.1: 0.73 s vs 0.27 s per read+count). The threshold is
    * restored afterwards, so genuinely huge layouts (object-store
    * tables with thousands of partitions) keep Spark's default
    * behavior outside these bounded index reads. Scale knob:
    * `spark.graft.driverListingThreshold` (paths; default 1024, set 0
    * to keep Spark's default everywhere).
    */
  def withDriverListing[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val target = spark.conf.getOption("spark.graft.driverListingThreshold")
      .flatMap(_.toIntOption).getOrElse(1024)
    val prev = spark.conf.getOption(key).flatMap(_.toIntOption)
      .getOrElse(32)
    if (target <= prev) body
    else {
      spark.conf.set(key, target.toString)
      try body finally spark.conf.set(key, prev.toString)
    }
  }

  /** Read `dest`, falling back to the `_prev` generation if a crashed
    * swap left the live dir missing. Pass `schema` for sidecars whose
    * live dir can legitimately hold ZERO data files (a partitionBy
    * write of an empty frame — e.g. a sharded bloom seeded from an
    * empty key set — commits only `_SUCCESS`): schema inference has
    * nothing to read there and throws, while an explicit schema reads
    * the empty generation as the empty frame it is.
    */
  def readWithFallback(spark: SparkSession, dest: String,
      schema: Option[StructType] = None): DataFrame = {
    val destPath = new Path(dest)
    val fs = destPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val reader = schema.fold(spark.read)(s => spark.read.schema(s))
    if (fs.exists(destPath)) reader.parquet(dest)
    else reader.parquet(dest + "_prev")
  }
}
