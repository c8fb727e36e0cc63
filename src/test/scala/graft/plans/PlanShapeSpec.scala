package graft.plans

import graft.SparkSpec
import graft.queries.{ReferenceQueries => RQ, Tables}
import graft.similarity.SimilaritySearch

/** Physical-plan shape checks — the properties that decide whether these
  * operators survive a 100× scale-up: column pruning into the parquet
  * scan, broadcast of small join sides, map-side partial aggregation.
  * Asserted on the executed plan string so a regression (a lost broadcast
  * hint, a widened schema) fails loudly.
  */
class PlanShapeSpec extends SparkSpec {

  private def executed(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // materialize so AQE finalizes the plan
    df.queryExecution.executedPlan.toString
  }

  test("wordCount prunes the documents scan to the text column only") {
    val plan = executed(RQ.wordCount(Tables.documents(spark, sf001)))
    assert(plan.contains("ReadSchema: struct<text:string>"), plan.take(2000))
  }

  test("CLF pipeline prunes the events scan to the synthesized columns") {
    val plan = executed(RQ.clfHost(RQ.clfParsed(Tables.events(spark, sf001))))
    // no props column — the widest unused column stays out of the scan
    assert(!plan.contains("props"), plan.take(2000))
  }

  test("similarity top-k broadcasts the query side, scans the corpus once") {
    val plan = executed(SimilaritySearch.topK(Tables.embeddings(spark, sf001)))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      plan.take(2000))
  }

  test("group-by aggregates are partial+final (map-side combine for free)") {
    val plan = executed(RQ.logHost(Tables.events(spark, sf001)))
    assert(plan.contains("HashAggregate"), plan.take(2000))
    // partial_count marks the map-side stage
    assert(plan.contains("partial_count") || plan.contains("partial count"), plan.take(2000))
  }

  test("minhash skew guard: hot-bucket exclusion is a broadcast anti-join, not a shuffle") {
    val corpus = graft.dedup.DedupCorpus.augment(Tables.documents(spark, sf001))
    val pairs = graft.dedup.MinHashLSH.nearDupPairs(graft.dedup.MinHashLSH.signatures(corpus))
    val plan = executed(pairs)
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"), plan.take(3000))
    spark.catalog.clearCache()
  }

  test("salted aggregate runs two hash-aggregate stages (wide then tiny)") {
    val src = Tables.events(spark, sf001)
      .select(org.apache.spark.sql.functions.col("user_id"),
        org.apache.spark.sql.functions.round(
          org.apache.spark.sql.functions.col("value") * 100).cast("long").as("cents"))
    val plan = executed(graft.operators.SaltedAggregate.sumCount(src, "user_id", "cents"))
    // (partial+final) × 2 stages = 4 HashAggregate nodes
    assert("HashAggregate".r.findAllIn(plan).size >= 4, plan.take(3000))
  }

  test("tpch q6: all filters reach the parquet scan as pushed filters") {
    val plan = executed(graft.queries.TpchQueries.q6(Tables.lineitem(spark, sf001)))
    assert(plan.contains("PushedFilters"), plan.take(3000))
    val pushed = plan.linesIterator.find(_.contains("PushedFilters")).get
    assert(pushed.contains("l_shipdate") && pushed.contains("l_discount") &&
      pushed.contains("l_quantity"), pushed)
  }

  test("winnowing fingerprints shuffle no data by key (pure per-row array computation)") {
    val plan = executed(graft.text.TextAnalysis.fingerprints(Tables.documents(spark, sf001)))
    // the only exchange allowed is the input-parallelism round-robin from
    // Tables.parallelized — no hash/range partitioning of the grams
    assert(!plan.contains("hashpartitioning") && !plan.contains("rangepartitioning"),
      plan.take(3000))
  }

  test("derepeat shuffles no data by key (pure per-row array computation)") {
    val plan = executed(graft.text.Derepeat.derepeated(
      graft.text.Derepeat.withParagraphs(Tables.documents(spark, sf001))))
    // same doctrine as winnowing: the only exchange allowed is the
    // input-parallelism round-robin — paragraph split, first-occurrence
    // filter, and re-join all stay inside the row
    assert(!plan.contains("hashpartitioning") && !plan.contains("rangepartitioning"),
      plan.take(3000))
  }

  test("universe-sampled dedup rate: the hash-range filter evaluates in the scan " +
    "stage and the scan reads only the text column") {
    val corpus = graft.dedup.DedupCorpus.augment(
      Tables.documents(spark, sf001)
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text")))
    val plan = executed(graft.dedup.DedupRate.rateStatsSampled(corpus, 10))
    // the 90 % of rows outside the hash range must die before any exchange:
    // Filter sits below the first Exchange in the plan tree (plan strings
    // print top-down, so the scan-side filter appears AFTER the exchange
    // line)
    val lines = plan.linesIterator.toSeq
    val firstExchange = lines.indexWhere(_.contains("Exchange"))
    val scanFilter = lines.lastIndexWhere(l => l.contains("Filter") && l.contains("graft_hash60"))
    assert(firstExchange >= 0 && scanFilter > firstExchange, plan.take(3000))
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"), plan.take(3000))
  }

  test("cross-doc paragraph dedup: first-occurrence is a partial+final aggregate " +
    "and the occurrence join is a hash join, never a probe-side sort") {
    val corpus = graft.text.Derepeat.withParagraphs(
      graft.dedup.DedupCorpus.augment(Tables.documents(spark, sf001)))
    val plan = executed(graft.text.CrossDocDedup.dedupedParagraphs(corpus))
    // the min(struct(doc_id, idx)) winner runs map-side partial → merge, so
    // a boilerplate mega-digest collapses to one row per map task before
    // the shuffle (VERDICT r9 §wrong-1: the old window spelling sorted the
    // whole occurrence cluster in a single task)
    assert(plan.contains("partial_min"), plan.take(3000))
    // the FINAL/merge aggregate specifically: a min( not spelled
    // partial_min( (the bare contains("min(") would be implied by the
    // partial assert above — ADVICE r10)
    assert("(?<!partial_)min\\(".r.findFirstIn(plan).isDefined, plan.take(3000))
    // the occurrence⋈winners join must be a hash join (probe side streams);
    // a sort-merge join would reintroduce the per-digest single-task sort
    assert(plan.contains("ShuffledHashJoin") || plan.contains("BroadcastHashJoin"),
      plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("exact-mode Sampled adds zero plan nodes") {
    val base = Tables.documents(spark, sf001)
    val exact = graft.sampling.Sampled(base, graft.sampling.SamplingConfig.Exact)
    assert(exact.data.queryExecution.executedPlan.toString ===
      base.queryExecution.executedPlan.toString)
  }

  test("ngram Jaccard: verification is the native merge, with no pair-keyed " +
    "count aggregation anywhere in the plan") {
    val corpus = graft.dedup.DedupCorpus.augment(Tables.documents(spark, sf001))
    val plan = executed(graft.dedup.JaccardPairs.nearDupPairs(corpus))
    // the codegen'd two-pointer merge is the intersection — the hash-set-
    // per-row array_intersect spelling must not creep back in
    assert(plan.contains("sorted_intersect_count"), plan.take(3000))
    assert(!plan.contains("array_intersect"), plan.take(3000))
    // the pre-r11 plan aggregated Σdf² joined pair rows by (doc_a, doc_b)
    // with count(1) — the stage that collapsed into sort-spill at probe
    // scale. The rewritten plan's only pair-keyed aggregate is the
    // candidate distinct (keys only, no counting state); the df aggregate
    // still counts, but it is keyed by the shingle hash, never the pair.
    val pairCountAgg = plan.linesIterator.exists(l =>
      l.contains("HashAggregate") && l.contains("doc_a") && l.contains("count"))
    assert(!pairCountAgg, plan.take(3000))
    spark.catalog.clearCache()
  }
}
