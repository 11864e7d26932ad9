package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guards: the properties PlanAudit reports are
  * asserted here so a future change cannot silently lose filter pushdown,
  * column pruning, broadcast joins, or shuffle-free projections.
  */
class PlanRegressionSpec extends AnyFunSuite with SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def formatted(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  private def executed(name: String): String =
    SparkEntry.queries(name)(spark, dir)
      .queryExecution.executedPlan.toString

  test("q6_revenue: filters pushed to the scan, columns pruned") {
    val plan = formatted("q6_revenue")
    assert(plan.contains("PushedFilters:") &&
      plan.contains("GreaterThanOrEqual(l_shipdate"), plan)
    val schema = "ReadSchema: [^\n]*".r.findFirstIn(plan).getOrElse("")
    assert(!schema.contains("l_orderkey") && !schema.contains("l_comment"),
      s"scan must prune unused columns: $schema")
  }

  test("join queries broadcast their small sides, no sort-merge") {
    for (q <- Seq("join_orders_customers", "join_nation_revenue")) {
      val plan = executed(q)
      assert(plan.contains("BroadcastHashJoin"), s"$q:\n$plan")
      assert(!plan.contains("SortMergeJoin"), s"$q:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$q:\n$plan")
    }
  }

  test("no accidental cartesian products anywhere") {
    for (q <- Seq("dedup_ngram_documents", "minhash_pairs_documents",
        "simhash_pairs_documents", "embedding_dedup_pairs",
        "dedup_incremental_documents", "multimodal_features",
        "similarity_lsh_topk", "similarity_ivf_topk",
        "embedding_incremental_pairs", "dedup_index_documents",
        "similarity_ivf_index_topk", "multimodal_audio_meta",
        "dedup_exact_incremental", "dedup_ngram_incremental",
        "simhash_index_documents", "embedding_index_pairs",
        "multimodal_embedding", "multimodal_video_meta",
        "skew_salted_join", "skew_two_phase_agg",
        "curate_documents", "sql_text_surface",
        "dedup_clusters_documents", "contamination_documents",
        "pii_documents")) {
      val plan = executed(q)
      assert(!plan.contains("CartesianProduct"), s"$q:\n$plan")
    }
    graft.pipeline.CacheScope.releaseSession(spark)
  }

  test("quality_classify is map-only: zero exchanges in the plan") {
    val plan = executed("quality_classify_documents")
    // orderBy adds the final sort range exchange; NOTHING else may
    // shuffle — the scorer itself is a pure projection
    val exchanges = "Exchange ".r.findAllIn(plan).length
    assert(exchanges <= 1, s"scorer must not shuffle:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("SortMergeJoin"), plan)
  }

  test("hybrid fusion plans broadcast legs, never cartesian/sort-merge") {
    for (q <- Seq("hybrid_search_documents", "sql_hybrid_documents")) {
      val plan = executed(q)
      assert(!plan.contains("CartesianProduct"), s"$q:\n$plan")
      // the BM25 leg's one-row stats ride a broadcast nested loop by
      // design; the term probes and (declarative) query batch must be
      // broadcast, not sort-merge
      assert(plan.contains("BroadcastHashJoin") ||
        plan.contains("BroadcastNestedLoopJoin"), s"$q:\n$plan")
      assert(!plan.contains("SortMergeJoin"), s"$q:\n$plan")
    }
    graft.pipeline.CacheScope.releaseSession(spark)
  }

  test("capPerKey: both phases hash-partition by their window keys") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "source")
    val plan = graft.pipeline.Sampling
      .capPerKey(d, "source", "doc_id", cap = 5, salts = 8)
      .queryExecution.executedPlan.toString
    // phase 1 partitions by (key, salt) — the skew split; phase 2 by
    // key alone over the bounded survivors
    assert("hashpartitioning\\(source[#\\d]*, _salt".r
      .findFirstIn(plan).isDefined, plan)
    assert("hashpartitioning\\(source[#\\d]*, \\d+".r
      .findFirstIn(plan).isDefined, plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("SortMergeJoin"), plan)
  }

  test("temporal joins plan as binned equi-joins, never BNLJ/cartesian") {
    for (q <- Seq("asof_join_events", "range_join_events",
        "band_join_events", "interval_join_events",
        "sessionize_events", "session_stats_events",
        "lm_score_documents")) {
      val plan = executed(q)
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"), s"$q:\n$plan")
    }
    // the as-of join's union trick shuffles ONCE on the key — if a
    // second hash exchange over the unioned frame ever appears, the
    // single-pass design regressed
    val asof = executed("asof_join_events")
    val exchanges = "Exchange hashpartitioning\\(user_id".r
      .findAllIn(asof.replace("\n", " ")).length
    assert(exchanges <= 2, s"asof grew exchanges:\n$asof")
    graft.pipeline.CacheScope.releaseSession(spark)
  }

  test("curate_documents: rejected rows never reach the dedup shuffles") {
    // the lang/quality predicates must sit BELOW the exact-dedup window
    // (filter pushed under the rank computation is impossible — the rank
    // runs over ALL rows by design for the audit — but the NEAR-DUP leg
    // must filter before shingling: its subtree contains the survivor
    // filter, not a full-table shingle explode)
    val df = SparkEntry.queries("curate_documents")(spark, dir)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("_lang_ok") || optimized.contains("lang"),
      optimized.take(2000))
    graft.pipeline.CacheScope.releaseSession(spark)
  }

  test("dedup_exact_index_documents prunes to the probed hash prefixes") {
    val plan = executed("dedup_exact_index_documents")
    assert(plan.contains("PartitionFilters: [hp"),
      s"exact-index scan must partition-prune on hp:\n$plan")
    assert(plan.contains("BloomFilterMightContain") ||
      plan.contains("might_contain"),
      s"bloom prefilter must appear in the batch side:\n$plan")
    graft.pipeline.CacheScope.releaseSession(spark)
  }

  test("similarity_ivf_index_topk prunes to the probed cid partitions") {
    val plan = executed("similarity_ivf_index_topk")
    // a non-empty partition filter on cid (every FileScan prints an
    // empty "PartitionFilters: []" — the bracket must open on cid)
    assert(plan.contains("PartitionFilters: [cid"),
      s"index scan must partition-prune on cid:\n$plan")
  }

  test("similarity_ivf_qindex_topk prunes partitions BELOW the dequant") {
    val plan = executed("similarity_ivf_qindex_topk")
    assert(plan.contains("PartitionFilters: [cid"),
      s"quantized index scan must partition-prune on cid:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("json_union_ingest parses each row exactly once") {
    val df = SparkEntry.queries("json_union_ingest")(spark, dir)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert("from_json".r.findAllIn(optimized).size == 1, optimized)
  }

  test("the codec chain runs inside whole-stage codegen end to end") {
    import graft.functions.{AvroBinary, DecodeFlat, EncodeFlat,
      FromAvroBinary, Msgpack, ToAvroBinary}
    import org.apache.spark.sql.execution.{InputAdapter, SparkPlan,
      WholeStageCodegenExec}
    import org.apache.spark.sql.functions._
    val v1 = graft.schema.Avro.create(
      """{"name":"person","type":"record","fields":[
      {"name":"FirstName","type":"string"},{"name":"Age","type":"int"},
      {"name":"Sex","type":{"type":"enum","name":"Sex",
        "symbols":["FEMALE","MALE"]}},
      {"name":"Journal","type":{"type":"array","items":"string"}},
      {"name":"Legacy","type":"long"}]}""")
    val v2 = graft.schema.Avro.create(
      """{"name":"person","type":"record","fields":[
      {"name":"GivenName","type":"string","aliases":["FirstName"]},
      {"name":"Age","type":"long"},
      {"name":"Sex","type":{"type":"enum","name":"Sex",
        "symbols":["FEMALE","MALE","OTHER"]}},
      {"name":"Journal","type":{"type":"array","items":"string"}},
      {"name":"Country","type":"string","default":"ZZ"}]}""")
    val input = spark.range(200).select(col("id"), AvroBinary.toAvroBinary(
      struct(concat(lit("n"), col("id")), col("id").cast("int"),
        when(col("id") % 2 === 0, "MALE").otherwise("FEMALE"),
        array(lit("a"), col("id").cast("string")), col("id")), v1)
      .as("payload"))
    val decoded = input.select(col("id"),
        AvroBinary.fromAvroBinary(col("payload"), v1, v2).as("r"))
      .select(col("id"), col("r.*"))
    val valid = graft.ops.Validate(v2, decoded).filter(col("_valid"))
      .drop("_error", "_valid")
    val c = graft.ops.FlattenOps.compile(v2, v2,
      serviceFields = Seq(org.apache.spark.sql.types.LongType))
      .fold(e => fail(e), identity)
    val flat = c.flatten(valid, Seq(col("id")))
    val objects = c.unflatten(Msgpack.decodeFlat(Msgpack.encodeFlat(flat),
      "msgpack", flat.schema))
    val avro = objects.select(col("sf0").as("id"), AvroBinary.toAvroBinary(
      struct(objects.columns.drop(1).toIndexedSeq.map(col): _*), v2))
    val plan = avro.queryExecution.executedPlan
    def stage(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case _: InputAdapter => Nil
      case other => other.children.flatMap(stage)
    })
    val fused = plan.collect { case w: WholeStageCodegenExec =>
      stage(w.child) }.flatten
    val withCodec = plan.collect { case p if p.expressions.exists(_.exists {
      case _: FromAvroBinary | _: ToAvroBinary | _: EncodeFlat |
          _: DecodeFlat => true
      case _ => false
    }) => p }
    assert(withCodec.length >= 3, plan.toString)
    for (p <- withCodec)
      assert(fused.exists(_ eq p), s"outside codegen: ${p.nodeName}\n$plan")
    assert(avro.count() == 200)
  }
}

