package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The fold of a mergeable sidecar (the "mergeable summaries" of
  * Agarwal et al., PODS 2012: one merge operator plus persistence) —
  * the one shape behind [[Bloom]], [[ShardedBloom]], [[CountMin]],
  * [[BottomK]], [[Sketches]] (HLL) and the [[Search]] BM25 df/stats.
  *
  * Contract:
  *  - [[load]] reads the params and the live generation through
  *    [[SidecarIO.readWithFallback]], so a crash inside a swap serves
  *    the previous generation;
  *  - [[fold]] merges one batch into `st` (which equals the on-disk
  *    generation) and writes ONLY through [[SidecarIO.atomicOverwrite]]
  *    / [[SidecarIO.atomicOverwriteDf]], then returns the state equal
  *    to what it wrote — so a stream can carry it to the next batch
  *    instead of re-reading disk (`StreamOps.foldStream`; any failed
  *    fold drops it);
  *  - replay is each sidecar's own policy: idempotent merges (bloom,
  *    HLL, bottom-k) ignore `batchId`; additive ones (count-min, BM25)
  *    keep the last folded id as a sentinel inside the same swap and
  *    skip a batch at or below it.
  */
trait SidecarFold[S] {
  def load(spark: SparkSession, path: String): S

  def fold(spark: SparkSession, path: String, st: S, batch: DataFrame,
      batchId: Option[Long]): S

  /** One fold from disk — the public `update*` entry points. */
  final def update(spark: SparkSession, path: String, batch: DataFrame,
      batchId: Option[Long] = None): Unit = {
    fold(spark, path, load(spark, path), batch, batchId)
    ()
  }
}

object SidecarFold {

  /** State of a driver-collectable sidecar (bounded by construction:
    * bloom words, count-min cells, bottom-k samples, HLL sketches): the
    * params row plus the exact rows of the live generation.
    */
  final case class Collected(params: Row, rows: Seq[Row],
      schema: StructType) {
    def int(name: String): Int = params.getAs[Long](name).toInt
    def str(name: String): String = params.getAs[String](name)
    def frame(spark: SparkSession): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** The fold of a collected sidecar stored as `<path>/params` (JSON)
    * beside the parquet generation `<path>/<dir>`. `merge(st, batch,
    * batchId)` returns the next generation, or None to leave the
    * sidecar untouched (a replay guard's skip); the merged rows are
    * collected before the swap, so the write never reads the path it
    * replaces.
    */
  def collected(dir: String)(
      merge: (SparkSession, Collected, DataFrame, Option[Long]) =>
        Option[DataFrame]): SidecarFold[Collected] =
    new SidecarFold[Collected] {
      def load(spark: SparkSession, path: String): Collected = {
        val p = spark.read.json(s"$path/params").head()
        val stored = SidecarIO.readWithFallback(spark, s"$path/$dir")
        Collected(p, stored.collect().toSeq, stored.schema)
      }

      def fold(spark: SparkSession, path: String, st: Collected,
          batch: DataFrame, batchId: Option[Long]): Collected =
        merge(spark, st, batch, batchId).fold(st) { merged =>
          val rows = merged.collect().toSeq
          SidecarIO.atomicOverwrite(spark,
            java.util.Arrays.asList(rows: _*), merged.schema,
            s"$path/$dir")
          st.copy(rows = rows, schema = merged.schema)
        }
    }
}
