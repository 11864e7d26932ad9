package graft.pipeline

import graft.SparkTestBase
import graft.streaming.StreamOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

/** Switch for an injected fold failure (read inside a UDF, so it lives
  * outside the suite and nothing captures the suite instance).
  */
object FoldFault {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
}

/** The [[SidecarFold]] contract across the six mergeable sidecars:
  * every fold survives the swap's crash window (live dir renamed aside
  * as `_prev`), the stream runner drops carried state on a failed
  * fold, and the exact index's bloom never lags its hashes.
  */
class SidecarFoldSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  private def rename(from: String, to: String): Unit = {
    val src = new org.apache.hadoop.fs.Path(from)
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(src, new org.apache.hadoop.fs.Path(to)))
  }

  private def norm(df: DataFrame): List[List[Any]] =
    df.collect().map(_.toSeq.toList).sortBy(_.toString).toList

  private def keys(lo: Int, hi: Int): DataFrame =
    (lo until hi).map(i => s"k$i").toDF("key")

  private def docs(lo: Int, hi: Int): DataFrame =
    (lo until hi).map(i =>
      (i.toLong, s"term${i % 7} term${i % 5} term${i % 3} filler$i"))
      .toDF("doc_id", "text")

  /** One mergeable sidecar: its build, its fold of wave `i`, the live
    * data dir a fold swaps, and its public read API.
    */
  private case class FoldCase(name: String, dir: String,
      build: String => Unit, fold: (String, Int) => Unit,
      read: String => Any)

  private val waves = Seq((100, 300), (300, 500))

  private val cases = Seq(
    FoldCase("bloom", "words",
      p => Bloom.writeFilter(keys(0, 100), "key", 4096, 5, p),
      (p, i) => Bloom.updateFilter(spark, p,
        keys(waves(i)._1, waves(i)._2), "key"),
      p => Bloom.readFilter(spark, p).words.toSeq),
    FoldCase("sharded bloom", "words",
      p => ShardedBloom.writeFilter(keys(0, 100), "key", 7, 4096, 5, p),
      (p, i) => ShardedBloom.updateFilter(spark, p,
        keys(waves(i)._1, waves(i)._2), "key"),
      p => ShardedBloom.readFilter(spark, p).words.map(_.toSeq).toSeq),
    FoldCase("count-min", "cells",
      p => CountMin.writeSketch(keys(0, 100), "key", 4, 256, p),
      (p, i) => CountMin.updateSketch(spark, p,
        keys(waves(i)._1, waves(i)._2), batchId = Some(i.toLong)),
      p => norm(CountMin.readSketch(spark, p)._1)),
    FoldCase("bottom-k", "sample",
      p => BottomK.writeSketch(docs(0, 100), "doc_id", "text", 40, p),
      (p, i) => BottomK.updateSketch(spark, p,
        docs(waves(i)._1, waves(i)._2)),
      p => norm(BottomK.readSketch(spark, p))),
    FoldCase("hll", "sketches",
      p => Sketches.writeSketches(docs(0, 100), Seq("doc_id", "text"), p),
      (p, i) => Sketches.updateSketches(spark, p,
        docs(waves(i)._1, waves(i)._2)),
      p => norm(Sketches.estimates(spark, p))),
    FoldCase("bm25", "df",
      p => Search.writeIndex(docs(0, 100), "doc_id", "text", p),
      (p, i) => Search.updateIndex(spark, p,
        docs(waves(i)._1, waves(i)._2), "doc_id", "text",
        batchId = Some(i.toLong)),
      p => norm(Search.searchFromIndex(spark, p,
        Seq((1L, "term0 term2"), (2L, "term4 filler310"))
          .toDF("qid", "qtext"), "qid", "qtext", k = 5)))
  )

  cases.foreach { c =>
    test(s"${c.name} fold: the swap's crash window serves and extends " +
        "the previous generation") {
      val base = tmp("sidecarfold")
      val (clean, crashed) = (s"$base/clean", s"$base/crashed")
      Seq(clean, crashed).foreach { p => c.build(p); c.fold(p, 0) }
      // the crash window inside SidecarIO's swap: live renamed aside,
      // the new generation not yet renamed in
      rename(s"$crashed/${c.dir}", s"$crashed/${c.dir}_prev")
      assert(c.read(crashed) == c.read(clean),
        "read API lost the previous generation")
      Seq(clean, crashed).foreach(c.fold(_, 1))
      assert(c.read(crashed) == c.read(clean),
        "next fold did not extend the previous generation")
    }
  }

  test("fold stream: a failed fold drops carried state; the restarted " +
      "writer reloads from disk and matches the direct fold") {
    val base = tmp("foldstream")
    val (path, direct) = (s"$base/stream", s"$base/direct")
    val toks = (n: Int, m: Int) => (n until m).map(i => s"t${i % 13}")
    val (a, b, c) = (toks(0, 60), toks(60, 150), toks(150, 200))
    CountMin.writeSketch(Seq.empty[String].toDF("tok"), "tok", 4, 256,
      path)
    val input = MemoryStream[String](spark)
    val faulty = udf { (s: String) =>
      if (FoldFault.armed.get) sys.error("injected fold failure") else s
    }
    val writer = StreamOps.cmsUpdateStream(
        input.toDF().select(faulty(col("value")).as("tok")), path)
      .option("checkpointLocation", s"$base/ck")
    val q1 = writer.start()
    try {
      input.addData(a); q1.processAllAvailable()
      FoldFault.armed.set(true)
      input.addData(b)
      intercept[StreamingQueryException](q1.processAllAvailable())
    } finally { FoldFault.armed.set(false); q1.stop() }
    // the sidecar moves on disk while the stream is down: a runner that
    // kept its pre-failure state would fold batch 1 over `a` alone
    CountMin.updateSketch(spark, path, c.toDF("tok"))
    val q2 = writer.start()
    try q2.processAllAvailable() finally q2.stop()

    CountMin.writeSketch(Seq.empty[String].toDF("tok"), "tok", 4, 256,
      direct)
    Seq(a, c, b).foreach(w =>
      CountMin.updateSketch(spark, direct, w.toDF("tok")))
    assert(norm(CountMin.readSketch(spark, path)._1) ==
      norm(CountMin.readSketch(spark, direct)._1))
  }

  private val corpus = Seq((1L, "alpha"), (2L, "beta"), (3L, "alpha"),
    (4L, "gamma")).toDF("doc_id", "text")
  private val appended = Seq((10L, "delta"), (11L, "epsilon"),
    (12L, "beta")).toDF("doc_id", "text")
  private val probe = Seq((20L, "alpha"), (21L, "delta"),
    (22L, "epsilon"), (23L, "zeta"), (24L, "zeta")).toDF("doc_id", "text")

  private def keep(path: String): List[List[Any]] =
    norm(Dedup.exactKeepFromIndex(spark, path, probe, "doc_id", "text"))

  test("exact index: the bloom swap's crash window serves the previous " +
      "bloom, probes unchanged") {
    val path = tmp("exactbloom")
    Dedup.writeExactIndex(corpus, "doc_id", "text", path)
    Dedup.appendToExactIndex(spark, path, appended, "doc_id", "text")
    val before = keep(path)
    assert(before.exists(_(1) == "dup_of_corpus"))
    rename(s"$path/bloom", s"$path/bloom_prev")
    assert(keep(path) == before)
  }

  test("exact index append: a failure between its writes never leaves " +
      "indexed contents the bloom rejects") {
    val path = tmp("exactorder")
    Dedup.writeExactIndex(corpus, "doc_id", "text", path)
    // the append fails on its params read; the bloom must already
    // cover whatever hashes it committed before failing
    rename(s"$path/params", s"$path/params_hidden")
    intercept[Exception](
      Dedup.appendToExactIndex(spark, path, appended, "doc_id", "text"))
    rename(s"$path/params_hidden", s"$path/params")
    val indexed = IndexDeltas.rows(spark, s"$path/hashes")
      .select("h").as[String].collect().toSet
    val statuses = Dedup.exactKeepFromIndex(spark, path, probe,
        "doc_id", "text")
      .join(probe.select(col("doc_id"), md5(col("text")).as("h")),
        "doc_id")
      .select("h", "status").as[(String, String)].collect()
    statuses.foreach { case (h, status) =>
      assert((status == "dup_of_corpus") == indexed.contains(h),
        s"$h: status $status, indexed ${indexed.contains(h)}")
    }
    // and the retried append lands in full
    Dedup.appendToExactIndex(spark, path, appended, "doc_id", "text")
    assert(keep(path).count(_(1) == "dup_of_corpus") == 3)
  }
}
