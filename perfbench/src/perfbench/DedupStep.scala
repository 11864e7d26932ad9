package perfbench

import graft.pipeline.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The dedup step over the ingest corpus, run in traced runs: exact
  * dedup, then MinHash near-dup pairs at Jaccard 0.7, over a corpus with
  * planted exact copies, planted near copies and one boilerplate family
  * larger than the `maxBucketSize` skew guard. Shuffle- and join-bound, no
  * persisted state.
  */
final class DedupStep(docs: DataFrame, corpus: Gen.Corpus) {
  import DedupStep._

  private val texts: Map[Long, String] = corpus.docs.toMap
  private val keep: Set[Long] = texts.keySet -- corpus.copyIds
  /** Planted near pairs at Jaccard ≥ 0.7 (none is in the family). */
  private val planted: IndexedSeq[(Long, Long)] =
    corpus.nearPairs.filter { case (a, b) =>
      Gen.jaccard(texts(a), texts(b)) >= Threshold }
  private var checkedPairs: Option[Set[(Long, Long)]] = None
  private var recall = 0.0

  private def kept: DataFrame = Dedup.dropExactDuplicates(docs, "id", "text")

  private def pairs(df: DataFrame): DataFrame =
    Dedup.minhashPairs(df, "id", "text", threshold = Threshold)

  /** Checks the kept ids against the planted copies and every reported
    * pair against a plain-Scala Jaccard; the first pair set is checked in
    * full and every later run must reproduce it.
    */
  private def check(keptIds: Set[Long], found: Set[(Long, Long)]): Boolean = {
    val keptOk = keptIds == keep
    val pairsOk = checkedPairs match {
      case Some(p) => p == found
      case None =>
        val ok = found.forall { case (a, b) =>
          Gen.jaccard(texts(a), texts(b)) >= Threshold - 1e-9 }
        if (ok) checkedPairs = Some(found)
        ok
    }
    recall = planted.count(found.contains).toDouble / planted.size
    if (!keptOk) System.err.println("dedup: kept ids differ from planted")
    if (!pairsOk) System.err.println("dedup: pair set fails the recheck")
    if (recall < MinRecall) System.err.println(s"dedup: recall $recall")
    keptOk && pairsOk && recall >= MinRecall
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private val runs = Seq("dedup.floor_run", "dedup.exact_run",
    "dedup.buckets_run", "dedup.shingles_run", "dedup.pairs_run")

  /** The step's calls one at a time: the floor scan, exact dedup alone,
    * each MinHash kernel alone over the exact-dedup output, then the whole
    * pair search; then the checks on the kept ids and the pairs.
    * `minhashPairs` cannot be split from outside, so its kernels are timed
    * alone and subtracted (see [[layers]]).
    */
  def layerRuns(t: Tracer, group: Long): Boolean = try {
    t.span(runs(0), group)(noop(docs))
    val keptIds = t.span(runs(1), group)(
      kept.select("id").collect().map(_.getLong(0)).toSet)
    t.span(runs(2), group)(noop(Dedup.minhashBuckets(kept, "id", "text",
      NumHashes, Bands, ShingleSize)))
    t.span(runs(3), group)(noop(Dedup.shingleSets(kept, "id", "text",
      ShingleSize)))
    val found = t.span(runs(4), group)(
      pairs(kept).select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet)
    check(keptIds, found)
  } catch { case e: Exception => e.printStackTrace(); false }

  /** Per-call metrics as linear combinations of the runs F (floor), E
    * (exact), B (buckets), S (shingles), P (pairs). The step as a user runs
    * it (kept ids, then pairs: E + P) computes exact dedup three times (the
    * id collect, and inside `minhashPairs` once per persisted kernel), so
    * it spends 3F on the floor scan, 3(E − F) on exact dedup, B − E and
    * S − E on the kernels, and P − B − S on candidates and verify.
    */
  def layers(t: Tracer): Map[String, Double] = {
    val perPass = t.spans.filter(s => runs.contains(s.name))
      .groupBy(_.group).values.filter(_.size == runs.size)
      .map(ss => runs.map(n => ss.find(_.name == n).get)).toSeq
    def combo(w: Seq[Double]): Seq[(Double, Counts)] = perPass.map { ss =>
      val cs = ss.map(t.selfCounts)
      def lin(f: Counts => Double) =
        cs.zip(w).map { case (c, k) => f(c) * k }.sum
      (ss.zip(w).map { case (s, k) => s.seconds * k }.sum,
        Counts(lin(_.jobs.toDouble).round, lin(_.stages.toDouble).round,
          lin(_.tasks.toDouble).round, lin(_.shuffleBytes.toDouble).round,
          lin(_.spillBytes.toDouble).round, lin(_.gcSeconds)))
    }
    val weights = Seq(
      "dedup.floor" -> Seq(3.0, 0, 0, 0, 0),
      "pipeline.exact_dedup" -> Seq(-3.0, 3, 0, 0, 0),
      "pipeline.minhash_buckets" -> Seq(0.0, -1, 1, 0, 0),
      "pipeline.shingle_sets" -> Seq(0.0, -1, 0, 1, 0),
      "pipeline.minhash_pairs" -> Seq(0.0, 0, -1, -1, 1))
    weights.flatMap { case (n, w) => Layers.callMetrics(n, combo(w)) }.toMap ++
      bucketCounts() + ("dedup.planted_recall" -> recall)
  }

  /** Bucket and pair counts, recomputed from the kernel output with the
    * guard's rule (a bucket of more than `maxBucketSize` rows is dropped).
    */
  private def bucketCounts(): Map[String, Double] = {
    val b = Dedup.minhashBuckets(kept, "id", "text", NumHashes, Bands,
      ShingleSize).persist(StorageLevel.MEMORY_ONLY)
    val sizes = b.groupBy("band", "bucket").count()
    val over = sizes.filter(col("count") > MaxBucket).count()
    val small = b.join(sizes.filter(col("count") <= MaxBucket)
      .select("band", "bucket"), Seq("band", "bucket"))
    val cand = small.select(col("band"), col("bucket"), col("id").as("a"))
      .join(small.select(col("band"), col("bucket"), col("id").as("b")),
        Seq("band", "bucket"))
      .filter(col("a") < col("b")).select("a", "b").distinct().count()
    val rows = b.count()
    b.unpersist()
    val verified = checkedPairs.map(_.size).getOrElse(0).toDouble
    Map("pipeline.bucket_rows" -> rows.toDouble,
      "pipeline.oversized_buckets" -> over.toDouble,
      "pipeline.candidate_pairs" -> cand.toDouble,
      "pipeline.verified_pairs" -> verified,
      "pipeline.verify_yield" -> (if (cand == 0) 0.0 else verified / cand))
  }
}

object DedupStep {
  val Threshold = 0.7
  /** `minhashPairs` defaults, repeated for the kernel-alone runs. */
  val NumHashes = 64
  val Bands = 16
  val ShingleSize = 3
  val MaxBucket = 1000
  /** Planted pairs sit at Jaccard 0.75 or more, where 16 bands of 4 rows
    * miss fewer than 1 pair in 400.
    */
  val MinRecall = 0.98
}
