package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Outcome of one timed pass. `calls` are the latencies of its timed
  * calls (the pass itself, or each feed batch); `items` the rows or docs
  * it carried.
  */
final case class Pass(seconds: Double, items: Long, calls: Seq[Double],
    attempted: Int, failed: Int)

/** A workload: inputs made from the seed, a timed pass, output checks. */
trait Workload {
  /** Generates the inputs and compiles what a pass needs. Runs several
    * times per process; each repetition must give the same input digest.
    */
  def prepare(): Long
  /** Untimed passes run before timing, to fill caches and the JIT. */
  def warmPasses: Int = 1
  /** One closed-loop pass; its output checks count in `failed`. */
  def pass(t: Tracer, group: Long): Pass
  /** Traced mode only: the calls of one pass timed one layer at a time;
    * false when its output checks fail.
    */
  def layerPass(t: Tracer, group: Long): Boolean
  /** Per-layer metrics from the spans of all layer passes. */
  def layers(t: Tracer): Map[String, Double]
  /** Checks run once per process (checked calls: attempted, failed). */
  def finalChecks(): (Int, Int)
  /** Whether another seed gives a different input digest. */
  def seedSensitive(): Boolean
}

object Main {
  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", Paths.get(need("--work")))
  }

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder().master("local[4]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Heap still in use after a full collection: the inputs, caches and
    * whatever else the program retains between passes.
    */
  private def retainedHeapMb(): Double = {
    // the second collection frees what Spark's cleaner released after the
    // first one dropped its weak references
    System.gc()
    Thread.sleep(200)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  private def fmt(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else BigDecimal(d).bigDecimal.toPlainString

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime
    val spark = session(a.work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val wl: Workload = a.workload match {
      case "codec" => new CodecWorkload(spark, a.seed)
      case "ingest" => new IngestWorkload(spark, a.seed, a.work)
      case other => sys.error(s"unknown workload $other")
    }
    var attempted = 0
    var failed = 0
    def check(ok: Boolean, what: String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; System.err.println(s"CHECK FAILED: $what") }
    }

    // set-up: the repeatable part runs three times (median reported); the
    // determinism self-test compares the input digests across them
    val digests = mutable.ArrayBuffer.empty[Long]
    val prepS = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      digests += wl.prepare()
      (System.nanoTime() - t0) / 1e9
    }
    check(digests.distinct.size == 1, s"same seed, same digest: $digests")
    check(wl.seedSensitive(), "another seed gives another digest")
    val w0 = System.nanoTime()
    (1 to wl.warmPasses).foreach(i => wl.pass(new Tracer(false), -i))
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + median(prepS) + warmS

    // the timed loop: one client, each pass starts when the last one ends;
    // a traced run follows each pass with its layer-by-layer runs. A full
    // collection before each pass (untimed) keeps one pass's garbage out of
    // the next and measures the heap retained between passes.
    val tracer = new Tracer(a.trace)
    tracer.attach(spark.sparkContext)
    val passes = mutable.ArrayBuffer.empty[Pass]
    var heapMb = retainedHeapMb()
    val m0 = System.nanoTime()
    var g = 0L
    while (passes.isEmpty || (System.nanoTime() - m0) / 1e9 < a.seconds) {
      passes += tracer.span("pass", g)(wl.pass(tracer, g)); g += 1
      if (a.trace) {
        attempted += 1
        if (!wl.layerPass(tracer, g)) failed += 1
        g += 1
      }
      heapMb = math.max(heapMb, retainedHeapMb())
    }
    passes.foreach { p => attempted += p.attempted; failed += p.failed }
    val (fa, ff) = wl.finalChecks()
    attempted += fa; failed += ff

    val calls = passes.flatMap(_.calls).toSeq
    val passS = passes.map(_.seconds).toSeq
    val metrics: Seq[(String, Double, String)] = if (!a.trace) {
      Seq(("setup_s", setupS, "s"), ("heap_retained_mb", heapMb, "MB"),
        ("items_per_s", median(passes.map(p => p.items / p.seconds).toSeq),
          "1/s"),
        ("call_s", median(calls), "s"))
    } else {
      val layerMap = wl.layers(tracer)
      tracer.detach()
      Files.createDirectories(a.work.resolve("out"))
      tracer.write(a.work.resolve("out").resolve(
        s"trace-${a.workload}-${a.seed}.jsonl"))
      Layers.all.map { case (name, unit) =>
        val v = name match {
          case "trace.overhead_share" => tracer.overheadSeconds / passS.sum
          case "trace.accounted_share" =>
            layerMap.getOrElse("trace.accounted_s", 0.0) / median(passS)
          case "call_s.samples" => calls.size.toDouble
          case "setup.session_s" => sessionS
          case "setup.prepare_s" => median(prepS)
          case "setup.warmup_s" => warmS
          case n => layerMap.getOrElse(n, 0.0)
        }
        (name, v, unit)
      }
    }
    System.err.println(f"setup: session $sessionS%.3f s, prepare " +
      prepS.map(s => f"$s%.3f").mkString("/") + f" s, warm-up $warmS%.3f s; " +
      s"${passes.size} passes of " +
      passes.map(p => f"${p.seconds}%.3f").mkString(" ") + " s")
    spark.stop()
    val ms = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${fmt(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {$ms}}""")
  }
}
