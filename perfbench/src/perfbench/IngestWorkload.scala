package perfbench

import graft.pipeline.{Dedup, Search}
import graft.schema.{Avro, AvroSchema}
import graft.sources.AvroFiles
import graft.streaming.StreamOps
import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `ingest`, the daily production shape: build the exact-dedup and BM25
  * indexes over a corpus, land small `.avro` batches one at a time through
  * a dedup probe stream and then a BM25 fold stream, and finish with a
  * search over a fixed query set. Persisted-state writes, per-micro-batch
  * fixed cost, and a read after writes. Traced runs add the corpus dedup
  * step ([[DedupStep]]).
  */
final class IngestWorkload(spark: SparkSession, seed: Long, work: Path)
    extends Workload {
  import IngestWorkload._

  /** A daily ingest run starts in a fresh JVM, so its JIT and first-job
    * costs are part of what a user waits for: no warm-up pass.
    */
  override def warmPasses: Int = 0

  private val root = work.resolve("ingest")
  private var corpus: Gen.Corpus = _
  private var feed: Gen.Feed = _
  private var corpusDf: DataFrame = _
  private var queries: DataFrame = _
  private var dedup: DedupStep = _
  private val v1: AvroSchema = Avro.create(DocV1)
  private val v2: AvroSchema = Avro.create(DocV2)
  // expected results, computed once from the generated docs
  private lazy val allDocs: DataFrame = {
    import spark.implicits._
    (corpus.docs ++ feed.batches.flatten).toDF("id", "text")
  }
  /** BM25 `n_docs` and sum of `df`, counted in plain Scala. */
  private lazy val recount: (Long, Long) = {
    val perDoc = (corpus.docs ++ feed.batches.flatten).map { case (_, t) =>
      t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct.length }
    (perDoc.count(_ > 0).toLong, perDoc.sum.toLong)
  }
  private lazy val topK: Set[Row] = Search.search(
    Search.buildIndex(allDocs, "id", "text"), queries, "qid", "q", TopK)
    .collect().toSet
  // per-layer figures of the passes
  private var indexFiles = 0L
  private var foldFiles = 0.0
  private var foldBytes = 0.0
  private val buildS = mutable.ArrayBuffer.empty[Double]
  private val searchS = mutable.ArrayBuffer.empty[Double]
  private val firstBatchS = mutable.ArrayBuffer.empty[Double]
  private val diskPerDoc = mutable.ArrayBuffer.empty[Double]

  def prepare(): Long = {
    import spark.implicits._
    if (corpusDf != null) corpusDf.unpersist(blocking = true)
    deleteTree(root)
    corpus = Gen.corpus(seed, CorpusDocs, FamilySize)
    feed = Gen.feed(seed, corpus, Batches, BatchDocs)
    corpusDf = corpus.docs.toDF("id", "text").repartition(4)
      .persist(StorageLevel.MEMORY_ONLY)
    corpusDf.count()
    dedup = new DedupStep(corpusDf, corpus)
    queries = feed.queries.zipWithIndex.map { case (q, i) => (i.toLong, q) }
      .toDF("qid", "q").persist(StorageLevel.MEMORY_ONLY)
    queries.count()
    val staging = Files.createDirectories(root.resolve("staging"))
    val js = new Schema.Parser().parse(DocV1)
    feed.batches.zipWithIndex.foreach { case (b, k) =>
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](js))
      w.create(js, staging.resolve(f"batch-$k%03d.avro").toFile)
      b.foreach { case (id, text) =>
        val rec = new GenericData.Record(js)
        rec.put("id", id); rec.put("body", text); rec.put("crawl_ts", id * 7)
        w.append(rec)
      }
      w.close()
    }
    Gen.digest(corpus.docs ++ feed.batches.flatten)
  }

  def seedSensitive(): Boolean = {
    val c = Gen.corpus(seed + 1, 300, 0)
    val c0 = Gen.corpus(seed, 300, 0)
    Gen.digest(Gen.feed(seed + 1, c, 2, 50).batches.flatten) !=
      Gen.digest(Gen.feed(seed, c0, 2, 50).batches.flatten)
  }

  private def stream(dir: Path): DataFrame =
    AvroFiles.readStream(spark, dir.toString, v1, v2)
      .select(col("r.id").as("id"), col("r.text").as("text"))

  /** Copies a staged batch into `dir` under a hidden name, then renames it
    * into view, so the file source never lists a partial file.
    */
  private def land(k: Int, dir: Path): Long = {
    val name = f"batch-$k%03d.avro"
    val tmp = dir.resolve("." + name)
    Files.copy(root.resolve("staging").resolve(name), tmp)
    val ms = System.currentTimeMillis()
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    ms
  }

  /** Polls until the query has committed micro-batch `k` with rows. */
  private def committed(q: StreamingQuery, k: Int): StreamingQueryProgress = {
    val deadline = System.nanoTime() + 60e9.toLong
    def done = Option(q.lastProgress).filter(p =>
      p.batchId == k && p.numInputRows > 0)
    while (done.isEmpty) {
      q.exception.foreach(e => throw e)
      require(System.nanoTime() < deadline, s"batch $k not committed")
      Thread.sleep(2)
    }
    done.get
  }

  private def startMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli

  def pass(t: Tracer, group: Long): Pass = {
    val dir = root.resolve(s"pass-$group")
    val (exact, bm25) = (dir.resolve("exact"), dir.resolve("bm25"))
    val (landA, landB) = (dir.resolve("land-probe"), dir.resolve("land-fold"))
    Seq(landA, landB).foreach(Files.createDirectories(_))
    val tallies = new java.util.concurrent.ConcurrentHashMap[Long, Map[String, Long]]()
    val lat = mutable.ArrayBuffer.empty[Double]
    var readS = 0.0 // trace-only source reads, kept out of the pass time
    val t0 = System.nanoTime()
    t.span("pipeline.exact_index_write", group)(
      Dedup.writeExactIndex(corpusDf, "id", "text", exact.toString))
    t.span("pipeline.bm25_index_write", group)(
      Search.writeIndex(corpusDf, "id", "text", bm25.toString))
    val built = System.nanoTime()
    val (files0, bytes0) = tree(bm25)
    val qa = StreamOps.dedupStreamAgainstExactIndex(stream(landA),
        exact.toString, "id", "text") { (df, k) =>
        tallies.put(k, df.groupBy("status").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap)
      }.option("checkpointLocation", dir.resolve("ck-probe").toString).start()
    val qb = StreamOps.bm25UpdateStream(stream(landB), bm25.toString, "id",
      "text").option("checkpointLocation", dir.resolve("ck-fold").toString)
      .start()
    try {
      for (k <- 0 until Batches) {
        val l0 = System.nanoTime()
        val landedA = land(k, landA)
        val pa = committed(qa, k)
        val landedB = land(k, landB)
        val pb = committed(qb, k)
        lat += (System.nanoTime() - l0) / 1e9
        t.record("streaming.exact_probe", k, startMs(pa),
          pa.durationMs.get("triggerExecution") / 1000.0)
        t.record("streaming.exact_probe.wait", k, landedA,
          (startMs(pa) - landedA) / 1000.0)
        t.record("streaming.bm25_fold", k, startMs(pb),
          pb.durationMs.get("triggerExecution") / 1000.0)
        t.record("streaming.bm25_fold.wait", k, landedB,
          (startMs(pb) - landedB) / 1000.0)
        if (t.enabled) {
          val r0 = System.nanoTime()
          t.span("sources.avro_read", k)(AvroFiles.read(spark,
              landA.resolve(f"batch-$k%03d.avro").toString, v1, v2)
            .write.format("noop").mode("overwrite").save())
          readS += (System.nanoTime() - r0) / 1e9
        }
      }
    } finally { qa.stop(); qb.stop() }
    val fed = System.nanoTime()
    val got = t.span("pipeline.bm25_search", group)(Search.searchFromIndex(
      spark, bm25.toString, queries, "qid", "q", TopK).collect().toSet)
    searchS += (System.nanoTime() - fed) / 1e9
    val secs = (System.nanoTime() - t0) / 1e9 - readS
    System.err.println(f"ingest pass $group: build ${(built - t0) / 1e9}%.2f s," +
      f" batches ${lat.map(x => f"$x%.2f").mkString(" ")}, feed+stop " +
      f"${(fed - built) / 1e9}%.2f s, pass $secs%.2f s")
    buildS += (built - t0) / 1e9
    firstBatchS += lat.head
    val (files1, bytes1) = tree(bm25)
    val (exactFiles, exactBytes) = tree(exact)
    indexFiles = files0 + exactFiles
    foldFiles = (files1 - files0).toDouble / Batches
    foldBytes = (bytes1 - bytes0).toDouble / Batches
    val items = corpus.docs.size + feed.batches.map(_.size).sum
    diskPerDoc += (bytes1 + exactBytes).toDouble / items

    // output checks, outside the timed calls
    var failed = 0
    def check(ok: Boolean, what: => String): Unit =
      if (!ok) { failed += 1; System.err.println(s"ingest $what") }
    (0 until Batches).foreach { k =>
      check(tallies.get(k.toLong) == feed.tallies(k),
        s"batch $k tally ${tallies.get(k.toLong)} != planted ${feed.tallies(k)}")
    }
    val ix = Search.readIndex(spark, bm25.toString)
    val dfSum = ix.docFreq.agg(sum("df")).head().getLong(0)
    check((ix.nDocs, dfSum) == recount, s"bm25 (${ix.nDocs}, $dfSum) != $recount")
    check(got == topK, "top-k differs from a build-at-once index")
    deleteTree(dir)
    // timed calls: the index build, each batch, the search
    Pass(secs, items, lat.toSeq, Batches + 2, failed)
  }

  /** Index writes, stream triggers and search are separate calls already
    * timed by the pass. The dedup step runs here, in traced runs only: its
    * own process would not fit the benchmark's time budget.
    */
  def layerPass(t: Tracer, group: Long): Boolean = dedup.layerRuns(t, group)

  def layers(t: Tracer): Map[String, Double] = {
    def calls(name: String) = t.spans.filter(_.name == name)
      .map(s => (t.selfSeconds(s), t.selfCounts(s)))
    val byCall = Seq("pipeline.exact_index_write", "pipeline.bm25_index_write",
      "sources.avro_read", "streaming.exact_probe", "streaming.bm25_fold",
      "pipeline.bm25_search").flatMap(n => Layers.callMetrics(n, calls(n)))
      .toMap
    // the pass's timed calls, without the trace-only source reads
    val accounted = t.spans.filter(_.name == "pass").map { p =>
      t.spans.filter(s => s.parent == p.id && !s.name.endsWith(".wait") &&
        s.name != "sources.avro_read").map(_.seconds).sum
    }
    byCall ++ dedup.layers(t) ++ Map(
      "streaming.exact_probe.wait_s" -> Main.median(
        calls("streaming.exact_probe.wait").map(_._1)),
      "streaming.bm25_fold.wait_s" -> Main.median(
        calls("streaming.bm25_fold.wait").map(_._1)),
      "streaming.exact_probe.jobs_per_batch" ->
        byCall("streaming.exact_probe.jobs"),
      "streaming.bm25_fold.jobs_per_batch" -> byCall("streaming.bm25_fold.jobs"),
      "streaming.first_batch_s" -> Main.median(firstBatchS.toSeq),
      "pipeline.index_files" -> indexFiles.toDouble,
      "pipeline.fold_files_per_batch" -> foldFiles,
      "pipeline.fold_bytes_per_batch" -> foldBytes,
      "ingest.build_s" -> Main.median(buildS.toSeq),
      "ingest.search_s" -> Main.median(searchS.toSeq),
      "ingest.disk_bytes_per_doc" -> Main.median(diskPerDoc.toSeq),
      "trace.accounted_s" -> Main.median(accounted))
  }

  def finalChecks(): (Int, Int) = (0, 0)

  private def tree(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val fs = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
        .toSeq
      (fs.size.toLong, fs.map(Files.size).sum)
    }

  private def deleteTree(p: Path): Unit = if (Files.exists(p))
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
}

object IngestWorkload {
  val CorpusDocs = 1200
  /** Above the 1000-row `maxBucketSize` guard in every band. */
  val FamilySize = 1300
  val Batches = 4
  val BatchDocs = 100
  val TopK = 10

  val DocV1: String = """{"name":"doc","type":"record","fields":[
    {"name":"id","type":"long"},{"name":"body","type":"string"},
    {"name":"crawl_ts","type":"long"}]}"""
  /** v2 renames `body` through an alias, drops `crawl_ts`, adds `lang`. */
  val DocV2: String = """{"name":"doc","type":"record","fields":[
    {"name":"id","type":"long"},
    {"name":"text","type":"string","aliases":["body"]},
    {"name":"lang","type":"string","default":"und"}]}"""
}
