package perfbench

/** The per-layer metrics a traced run prints, every one on every workload:
  * a call a workload does not make reads 0, which is what "bypasses this
  * layer" means.
  */
object Layers {
  val calls: Seq[String] = Seq(
    // codec
    "schema.compile", "codec.floor", "functions.avro_decode", "ops.validate",
    "ops.flatten", "functions.msgpack_encode", "functions.msgpack_decode",
    "ops.unflatten", "functions.avro_encode",
    // dedup
    "dedup.floor", "pipeline.exact_dedup", "pipeline.minhash_buckets",
    "pipeline.shingle_sets", "pipeline.minhash_pairs",
    // ingest
    "pipeline.exact_index_write", "pipeline.bm25_index_write",
    "sources.avro_read", "streaming.exact_probe", "streaming.bm25_fold",
    "pipeline.bm25_search")

  val all: Seq[(String, String)] =
    calls.flatMap(c => Seq(s"$c.s" -> "s", s"$c.jobs" -> "count",
      s"$c.tasks" -> "count", s"$c.shuffle_bytes" -> "bytes",
      s"$c.gc_s" -> "s")) ++ Seq(
      "streaming.exact_probe.wait_s" -> "s",
      "streaming.bm25_fold.wait_s" -> "s",
      "streaming.exact_probe.jobs_per_batch" -> "count",
      "streaming.bm25_fold.jobs_per_batch" -> "count",
      "streaming.first_batch_s" -> "s",
      "codec.invalid_rows" -> "count",
      "codec.avro_bytes_per_row" -> "bytes",
      "codec.msgpack_bytes_per_row" -> "bytes",
      "pipeline.bucket_rows" -> "count",
      "pipeline.oversized_buckets" -> "count",
      "pipeline.candidate_pairs" -> "count",
      "pipeline.verified_pairs" -> "count",
      "pipeline.verify_yield" -> "ratio",
      "pipeline.index_files" -> "count",
      "pipeline.fold_files_per_batch" -> "count",
      "pipeline.fold_bytes_per_batch" -> "bytes",
      "dedup.planted_recall" -> "ratio",
      "ingest.build_s" -> "s",
      "ingest.search_s" -> "s",
      "ingest.disk_bytes_per_doc" -> "bytes",
      "call_s.samples" -> "count",
      "setup.session_s" -> "s",
      "setup.prepare_s" -> "s",
      "setup.warmup_s" -> "s",
      "trace.overhead_share" -> "ratio",
      "trace.accounted_share" -> "ratio")

  /** Medians over the samples of one call: self seconds and counts. */
  def callMetrics(call: String,
      samples: Seq[(Double, Counts)]): Seq[(String, Double)] = {
    def med(f: ((Double, Counts)) => Double) = Main.median(samples.map(f))
    Seq(s"$call.s" -> med(_._1),
      s"$call.jobs" -> med(_._2.jobs.toDouble),
      s"$call.tasks" -> med(_._2.tasks.toDouble),
      s"$call.shuffle_bytes" -> med(_._2.shuffleBytes.toDouble),
      s"$call.gc_s" -> med(_._2.gcSeconds))
  }
}
