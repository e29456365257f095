package graft.queries

import graft.SparkSuite

/** PlanAudit as a regression GATE, not a dump (VERDICT r5 #6): the
  * named expectations in graft.PlanAudit's comment block, asserted
  * programmatically per audited key — a future plan regression fails a
  * test instead of needing a human to re-read the dumped artifact.
  * Several audited keys already have dedicated guards in
  * [[PlanPropertiesSpec]] (pushdown, pruning, broadcast, topk,
  * vec_ivf_cell, salted shuffle, survivors' broadcast-only corpus
  * joins) — this spec covers the REST of the audited list, and the
  * completeness test at the bottom fails if a key is added to
  * PlanAudit.Audited without a predicate in either spec. */
class PlanAuditGateSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  private def plan(key: String): String =
    graft.SparkEntry.queries(key)(spark, sf).queryExecution.executedPlan.toString

  private def count(hay: String, needle: String): Int =
    needle.r.findAllMatchIn(hay).size

  test("agg_hash: partial (map-side) + final hash aggregation, one exchange") {
    // WholeStageCodegen markers only appear on executed adaptive plans,
    // so the gate asserts the structural property: a partial_ aggregate
    // BELOW the exchange (map-side combine) and the final one above.
    val p = plan("agg_hash")
    assert(count(p, "HashAggregate") >= 2, p.take(900))
    assert(p.contains("partial_sum"), p.take(900))
    assert(count(p, "Exchange") == 1, p.take(900))
  }

  test("kg_mentions: Aho–Corasick Generate over the scan, ZERO exchanges") {
    val p = plan("kg_mentions")
    assert(p.contains("gazetteer_match_counts"), p.take(900))
    assert(!p.contains("Exchange"),
      "the zero-shuffle mention stage regressed:\n" + p.take(1200))
  }

  test("ann_bruteforce: 1-row query broadcast + TakeOrderedAndProject") {
    val p = plan("ann_bruteforce")
    assert(p.contains("BroadcastExchange"), p.take(900))
    assert(p.contains("TakeOrderedAndProject"), p.take(900))
  }

  test("ann_lsh_batch: bucket equi-join + window rank, no cartesian") {
    val p = plan("ann_lsh_batch")
    assert(p.contains("vec_lsh_bucket"), p.take(900))
    assert(!p.contains("CartesianProduct"), p.take(1200))
    assert(p.contains("Window"), p.take(900))
  }

  test("ann_lsh_probe: query-side probe explode, still an equi-join") {
    val p = plan("ann_lsh_probe")
    assert(p.contains("Generate explode"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("ann_recall: bucketed approx side present (exact side is the documented sample cross)") {
    val p = plan("ann_recall")
    assert(p.contains("vec_lsh_bucket"), p.take(1200))
  }

  test("ann_ivf_probe: query-side vec_ivf_probes explode, one cell equi-join") {
    val p = plan("ann_ivf_probe")
    assert(p.contains("vec_ivf_probes"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("dedup pair stages: band/table equi-joins, never a cartesian product") {
    for (k <- Seq("dedup_minhash_pairs", "dedup_simhash_pairs")) {
      val p = plan(k)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$k pair join degenerated:\n" + p.take(1200))
    }
  }

  test("kg_triples: ONE corpus scan, broadcast canon join, no media join") {
    val p = plan("kg_triples")
    // the corpus parquet is scanned exactly once (single-scan DAG, r3);
    // dictionary frames are local relations since r6, so documents.parquet
    // is the only file scan left in the whole plan
    assert(count(p, "documents\\.parquet") == 1, p.take(1500))
    assert(p.contains("BroadcastHashJoin"), p.take(900))
  }

  test("graph_pagerank: ranks read from the driver-local relation") {
    val p = plan("graph_pagerank")
    // a co-mention graph this size is under the PageRank size gate: the
    // returned frame is the driver loop's materialized ranks, not a
    // re-derivation of the iterative lineage (the distributed loop's
    // checkpoint read is gated in GraphAnalyticsSpec)
    assert(p.contains("LocalTableScan"), p.take(900))
    assert(!p.contains("Exchange") && !p.contains("Join"), p.take(900))
  }

  test("graph_triangles: mutual-edge cache reused across the enumeration legs") {
    val p = plan("graph_triangles")
    assert(count(p, "InMemoryTableScan") >= 3, p.take(1500))
  }

  test("text_langid: in-row counts + in-row argmax — zero exchanges (r6)") {
    val p = plan("text_langid")
    assert(!p.contains("Exchange"),
      "langid shuffles again:\n" + p.take(1200))
  }

  test("every audited key has a plan predicate in this spec or PlanPropertiesSpec") {
    val here = Set("agg_hash", "kg_mentions", "ann_bruteforce", "ann_lsh_batch",
      "ann_lsh_probe", "ann_recall", "ann_ivf_probe", "dedup_minhash_pairs",
      "dedup_simhash_pairs", "kg_triples", "graph_pagerank", "graph_triangles")
    val inPlanProperties = Set("filter_pred", "project", "join_broadcast",
      "join_salted", "ann_ivf", "dedup_survivors", "topk")
    val inGraphAnalyticsSpec = Set("graph_comention") // no-pair-self-join guard
    val covered = here ++ inPlanProperties ++ inGraphAnalyticsSpec
    val missing = graft.PlanAudit.Audited.filterNot(covered)
    assert(missing.isEmpty,
      s"audited keys without a plan-gate predicate: ${missing.mkString(", ")}")
  }
}
