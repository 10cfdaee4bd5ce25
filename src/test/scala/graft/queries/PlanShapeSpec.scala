package graft.queries

import graft.{SparkEntry, TestSpark}
import graft.graph.JobBudget
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression gate: the scale properties the 100 TB design
  * depends on, asserted against the actual physical plans so a future
  * edit cannot silently reintroduce a scale-killer (the round-1 dd04
  * all-pairs cartesian was exactly this class of bug).
  */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  private def physicalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  // Queries where an unbounded-fan-out join node is INTENDED because one
  // side is constant-bounded by construction:
  //   q14  — 5x5 region cross join (demonstration query)
  //   sim01 — 10 bounded query vectors vs corpus (labeled exact baseline)
  //   sim03 — 8-centroid broadcast codebook assignment
  //   dd06 — bounded (vec_id < 500) exact ground truth for dd05 recall
  //   sim06 — 4-centroid broadcast codebook assignment (sim03 shape)
  //   tx12 — corpus-size N (single aggregated row) broadcast into scoring;
  //          the constant join key folds away, leaving a 1-row nested loop
  //   age04/age11 — CROSS JOIN against a single-row keygen CTE
  private val intendedUnbounded = Set(
    "q14_crossjoin_regions", "sim01_cosine_topk", "sim03_ann_ivf",
    "sim06_semantic_dedup", "tx12_tfidf_top_term", "dd06_neardup_exact200",
    "age04_roundtrip_multi", "age11_key_rotation",
    "sim07_topk_operator", // sim01's shape through the custom physical operator
    "sim08_ann_recall", // sim01's exact side + sim03's broadcast codebook
    "sim11_matryoshka_recall", // sim08's exact side, 10 bounded queries
    "sim12_hybrid_search", // sim01's bounded query side over the filtered sliver
    "tx16_zipf_vocab", // 1-row corpus-total broadcast into coverage (tx12 shape)
    "tx20_dsir_weights", // 1-row vocab-size broadcast into the weight calc (tx12 shape)
    "tx23_curriculum_cutpoints", // lang-frame x 4-row broadcast stage grid
    "sim16_mmr_rerank", // sim01's bounded 5-query scoring side + <=10-row pool selection joins
    "tx26_cms_heavy_hitters", // 1-row sketch broadcast into the probe (tx12's class)
    "stream14_cms_heavy_hitters", // same 1-row sketch broadcast, drained from the stream
    "tx27_bpe_encode", // 1-row 50-pair vocab array broadcast into the encode fold
    "tx31_bpe_train3", // per-round 1-row adopted-pair broadcast into the merge fold + 1×1 certificate rows (tx27/graph04's classes)
    "graph04_copurchase_cc") // 1-row × 1-row certificate-counter cross join

  test("no unintended cartesian / nested-loop joins anywhere in the inventory") {
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val plan = physicalPlan(name)
      if (plan.contains("CartesianProduct") || plan.contains("BroadcastNestedLoopJoin"))
        Some(name)
      else None
    }
    assert(offenders.toSet.subsetOf(intendedUnbounded),
      s"unbounded join appeared in: ${offenders.toSet -- intendedUnbounded}")
  }

  test("LSH/banded dedup paths are pure equi-joins (the round-1 regression)") {
    for (name <- Seq("dd02_jaccard_pairs", "dd03_minhash_lsh_pairs",
      "dd04_simhash_hamming", "dd05_embed_neardup")) {
      val plan = physicalPlan(name)
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"), s"$name lost its bucket join")
    }
  }

  test("dd03's bounded band self-join rides a broadcast, not a two-sided exchange (r18)") {
    // the bounded 200-doc slice's band frame is ~4 rows/doc; the shuffle
    // self-join was an avoidable exchange (interleaved sf1 A/B: best
    // 0.296 -> 0.256 s). Whole-corpus dd08 must KEEP the shuffle join.
    val dd03 = physicalPlan("dd03_minhash_lsh_pairs")
    assert(dd03.contains("BroadcastHashJoin"),
      "dd03 lost the broadcast band join — the bounded slice is paying a shuffle")
    // assert on the BAND-JOIN NODE, not whole-plan substrings (ADVICE r18:
    // the old disjunction was vacuously true whenever any shuffle join
    // appeared anywhere) — no BroadcastHashJoin may key on the band/key
    // columns; an unrelated small broadcast elsewhere stays legal.
    val dd08 = physicalPlan("dd08_minhash_all")
    val bandBroadcast = """BroadcastHashJoin \[band#\d+""".r
    assert(bandBroadcast.findFirstIn(dd08).isEmpty,
      "dd08's whole-corpus band self-join became a broadcast — it must stay " +
        "a scale-honest shuffle join (the band frame grows with the corpus)")
    assert("""(SortMergeJoin|ShuffledHashJoin) \[band#\d+""".r.findFirstIn(dd08).nonEmpty,
      "dd08 lost its shuffle band join entirely")
  }

  test("LSH band keys are computed per row (no explode/aggregate before the bucket join)") {
    // sim02: scan -> project(band_keys) -> self equi-join. The round-2
    // shape (64x posexplode + broadcast weight join + two hash aggregates
    // feeding the bucket join) must not come back.
    val sim02 = physicalPlan("sim02_ann_lsh_buckets")
    assert(sim02.contains("band_keys"), "sim02 lost the native band_keys expression")
    assert(!sim02.contains("Generate"), "sim02 re-grew a per-dim explode")
    assert(!sim02.contains("HashAggregate"), "sim02 re-grew a pre-join aggregate")
    // dd05: exactly one Generate — the 4-element band-array posexplode —
    // and no per-(vec_id, plane) projection aggregate before the join.
    val dd05 = physicalPlan("dd05_embed_neardup")
    assert(dd05.contains("band_keys"), "dd05 lost the native band_keys expression")
    assert("Generate".r.findAllIn(dd05).size <= 2, // one per self-join side
      "dd05 re-grew the per-dim explode")
  }

  test("dd08 minhash signatures are one scan-side pass (no shingle explode, no sig aggregate)") {
    // the fused minhash_sig expression replaced the staged shingle
    // Generate + doc-keyed minhash_agg: the only Generates left are the
    // 4-element band-array explodes (one per self-join side), and the
    // only HashAggregates are AFTER the band join (pair counting) — the
    // corpus-word-count row blow-up must not come back.
    val dd08 = physicalPlan("dd08_minhash_all")
    assert(dd08.contains("minhash_sig"), "dd08 lost the fused minhash_sig expression")
    assert(!dd08.contains("minhash_agg"), "dd08 fell back to the staged signature aggregate")
    assert("Generate".r.findAllIn(dd08).size <= 2,
      "dd08 re-grew the per-shingle explode")
  }

  test("dd08 is single-scan: one corpus pass computes md5 AND minhash_sig (r21)") {
    // the r20 shape scanned documents twice (md5 keep pass + keep-join +
    // signatures over survivors); r21 folds exact dedup into the same
    // exchange that picks the surviving signature (min(struct(doc_id,
    // sig))), so the text is read once and the only join left is the
    // band self-join. Two scans, or a join keyed on doc_id, means the
    // two-pass shape came back.
    // AQE's INITIAL plan prints the self-join's two identical subtrees
    // un-deduplicated (exchange reuse is a runtime stage decision under
    // AQE), so execute the query and assert on the FINAL plan. Drive the
    // DataFrame's OWN QueryExecution (a noop write runs a separate one,
    // leaving df's AdaptiveSparkPlan un-executed — the r21 red test):
    // collect() is cheap here, dd08's output is a tiny histogram.
    val df = SparkEntry.queries("dd08_minhash_all")(spark, sf)
    df.collect()
    val full = df.queryExecution.executedPlan.toString
    assert(full.contains("isFinalPlan=true"),
      "dd08 plan assertions must run against the executed (final) AQE plan")
    // AdaptiveSparkPlanExec.toString appends the "== Initial Plan ==" section
    // (where the self-join subtrees are still duplicated); assert on the
    // final plan section only.
    val dd08 = full.split("== Initial Plan ==")(0)
    assert("Scan parquet".r.findAllIn(dd08).size == 1,
      "dd08 scans the corpus more than once — the single-scan shape regressed")
    assert("""Join \[?doc_id""".r.findFirstIn(dd08).isEmpty &&
      !dd08.contains("BroadcastExchange"),
      "dd08 re-grew the keep-side doc_id join / broadcast build")
    assert("minhash_sig".r.findAllIn(dd08).size == 1,
      "dd08's minhash_sig is evaluated more than once per document")
  }

  test("no expensive expression is pushed into a scan's DataFilters (double-eval class)") {
    // A Filter on a computed column gets rewritten through its Project
    // into the scan's DataFilters, so the scan evaluates the expression
    // per row just to test the predicate and the Project evaluates it
    // AGAIN (found live in dd08/dd15/sim02 — BENCH_SCALING r14 addendum;
    // the full-inventory sweep is graft.queries.PushdownAudit). Lock the
    // three fixed sites.
    for (name <- Seq("dd08_minhash_all", "dd15_minhash_quality", "sim02_ann_lsh_buckets")) {
      val plan = physicalPlan(name)
      for (line <- plan.split("\n"); if line.contains("DataFilters: [")) {
        val df = line.substring(line.indexOf("DataFilters: [")).takeWhile(_ != ']')
        for (fn <- Seq("minhash_sig", "band_keys", "token_stats", "repetition_stats"))
          assert(!df.contains(fn),
            s"$name pushes $fn into the scan filter — computed once in the " +
              s"Project plus once per row in the scan")
      }
    }
  }

  test("dd02 carries no broadcast HINT (vocabulary-sized keep list must stay size-based)") {
    // the df-cap keep list is the long tail of the shingle vocabulary —
    // a hard-coded broadcast() hint would OOM at 100 TB. Catalyst MAY
    // still choose a broadcast at toy scale from size statistics (that is
    // size-based and scales correctly); what must never appear is a hint
    // forcing it, so assert on the analyzed logical plan.
    val df = SparkEntry.queries("dd02_jaccard_pairs")(spark, sf)
    val logical = df.queryExecution.analyzed.toString
    assert(!logical.contains("UnresolvedHint") && !logical.toLowerCase.contains("broadcast"),
      "dd02 grew a broadcast hint — vocabulary-sized sides must stay size-based")
  }

  test("streaming gate queries: the drained sink is what is compared (sanity)") {
    // the stream queries return memory-sink reads; assert they produce a
    // LocalTableScan/scan-only plan (no recompute of the stream) so the
    // oracle compares materialized stream output, not a batch re-derivation
    val plan = physicalPlan("stream01_lsh_candidates")
    assert(!plan.contains("StateStore"), "stream01 result must come from the drained sink")
  }

  test("q23 exact distinct rides the injected bitmap rewrite (no Expand)") {
    val plan = physicalPlan("q23_count_distinct")
    assert(plan.contains("bitmap_distinct"), "q23 lost the bitmap rewrite")
    assert(!plan.contains("Expand"), "q23 re-grew the distinct Expand")
  }

  test("sim07 rides the custom physical operator: partial prune, exchange, final, no sort before topk") {
    val plan = physicalPlan("sim07_topk_operator")
    assert(plan.contains("PartialTopKPerGroup"), "sim07 lost the map-side k-heap prune")
    assert("(?<!Partial)TopKPerGroup".r.findFirstIn(plan).isDefined, "sim07 lost the final phase")
    assert(plan.contains("Exchange"), "sim07 lost the partial/final exchange")
  }

  test("q44 mixed distinct: integral+date ride the bitmap, string stays, no Expand") {
    val plan = physicalPlan("q44_mixed_distinct")
    assert(plan.contains("bitmap_distinct"), "q44 lost the bitmap rewrite")
    assert(!plan.contains("Expand"),
      "q44 planned an Expand — the single remaining distinct group (string) " +
        "should plan via planAggregateWithOneDistinct")
  }

  test("tx01 token counting is a pure scan-side map (no Generate, no aggregate)") {
    val plan = physicalPlan("tx01_tokens")
    assert(plan.contains("token_stats"), "tx01 lost the native token_stats expression")
    assert(!plan.contains("Generate"), "tx01 re-grew the per-token explode")
    assert(!plan.contains("HashAggregate"), "tx01 re-grew the two-phase aggregate")
  }

  test("tx28 repetition grams are a pure scan-side map (no Generate, one source-keyed aggregate)") {
    val plan = physicalPlan("tx28_repetition_filter")
    assert(plan.contains("repetition_stats"), "tx28 lost the native repetition_stats expression")
    assert(!plan.contains("Generate"), "tx28 re-grew the corpus-sized gram explode")
    // only the final per-source attrition aggregate (partial+final pair over
    // ~10 source keys) and the ORDER BY's range exchange remain; the
    // doc-keyed gram aggregates must not return
    assert("Exchange".r.findAllIn(plan).size <= 2,
      "tx28 re-grew a doc-keyed exchange — grams must not leave the scan task")
  }

  test("q61 injects the runtime bloom filter into the fact side's scan stage") {
    // r18: the registered q61 rides the natural config (256 MB crossover,
    // planner-chosen broadcast) — the MECHANISM lock lives here, and only
    // here: pin the application-side gate below spec scale and disable
    // broadcast (at real scale supplier is itself too big to broadcast; a
    // broadcast join would make the bloom redundant). q61 forwards both
    // pinned confs into its memoized bloom child session.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1KB")
    val plan = SparkEntry.queries("q61_runtime_bloom_join")(s2, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      "q61 lost the injected runtime bloom filter — fact rows that cannot " +
        "join must die at the scan, not ride the exchange")
    assert(plan.contains("bloom_filter_agg"),
      "q61's bloom filter build (bloom_filter_agg over the filtered dim) is missing")
  }

  test("q05 injects the runtime bloom filter ahead of the fact exchange (r17)") {
    // broadcast off: at spec scale every join broadcasts and the bloom has
    // nothing to do — at bench/cluster scale the fact joins are shuffled
    // (the regime the lock protects); q05 forwards this conf into its
    // bloom-enabled inner session
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // pin the application-side gate below spec scale: the queryDef's own
    // 256 MB crossover (scan-size-honest) would keep the bloom off on the
    // few-KB spec corpus; the lock is about the MECHANISM being wired
    s2.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1KB")
    val plan = SparkEntry.queries("q05_join5_agg")(s2, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      "q05 lost the runtime bloom filter — date-disqualified lineitem rows " +
        "must die at the scan instead of riding the orderkey exchange")
    assert(plan.contains("bloom_filter_agg"),
      "q05's bloom filter build (bloom_filter_agg over date-filtered orders) is missing")
  }

  test("bloom child recalibrates Spark's default gate and cap, honours pinned values") {
    val gate = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    val cap = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    // the default path: a root that sets neither key
    val root = spark.newSession()
    assert(!root.sessionState.conf.getAllConfs.contains(gate) &&
      !root.sessionState.conf.getAllConfs.contains(cap))
    val child = Relational.bloomChildSession(root)
    assert(child.conf.get(gate) == "256MB")
    assert(child.conf.get(cap) == "16777216")
    // non-default pins ride through unchanged
    val pinned = spark.newSession()
    pinned.conf.set(gate, "9GB")
    pinned.conf.set(cap, "33554432")
    val pinnedChild = Relational.bloomChildSession(pinned)
    assert(pinnedChild.conf.get(gate) == "9GB")
    assert(pinnedChild.conf.get(cap) == "33554432")
    // the default in another spelling is still the default
    val explicit = spark.newSession()
    explicit.conf.set(gate, "10g")
    explicit.conf.set(cap, "67108864")
    val explicitChild = Relational.bloomChildSession(explicit)
    assert(explicitChild.conf.get(gate) == "256MB")
    assert(explicitChild.conf.get(cap) == "16777216")
  }

  test("q59 bucketed q03: the whole fact pipeline runs with ZERO shuffle exchanges") {
    val plan = physicalPlan("q59_bucketed_topn")
    assert(plan.contains("Bucketed: true"), "q59 lost the bucketed scans")
    // the only Exchange allowed is the broadcast of the customer dim;
    // the per-order aggregate and the fact-fact join both ride the
    // bucket distribution
    assert(!plan.contains("Exchange hashpartitioning") &&
      !plan.contains("Exchange rangepartitioning"),
      "q59 re-grew a shuffle — the bucketed layout must carry agg AND join")
    assert(plan.contains("TakeOrderedAndProject"), "q59 lost the bounded top-10")
  }

  test("q60 bucketed q05: no exchange on the orderkey fact-fact join") {
    val plan = physicalPlan("q60_bucketed_join5")
    assert(plan.contains("Bucketed: true"), "q60 lost the bucketed scans")
    // custkey join + n_name agg + result sort legitimately shuffle; the
    // lineitem⋈orders exchange specifically must stay gone
    assert(!plan.contains("Exchange hashpartitioning(l_orderkey") &&
      !plan.contains("Exchange hashpartitioning(o_orderkey"),
      "q60 re-grew the fact-fact orderkey exchange the bucketing exists to kill")
  }

  test("q68 dual layout: custkey join bucket-local, ONE orders-sized exchange, lineitem never moves") {
    val plan = physicalPlan("q68_dual_bucketed_join5")
    assert(plan.contains("Bucketed: true"), "q68 lost the bucketed scans")
    // orders⋈customer must ride the custkey buckets — no exchange on
    // either custkey input
    assert(!plan.contains("Exchange hashpartitioning(o_custkey") &&
      !plan.contains("Exchange hashpartitioning(c_custkey"),
      "q68 re-grew a custkey exchange — the second bucketed copy exists to kill it")
    // lineitem (the fact) must never be re-hashed; the ONE allowed
    // shuffle re-hashes the orders-sized o⋈c output to lineitem's buckets
    assert(!plan.contains("Exchange hashpartitioning(l_orderkey"),
      "q68 exchanged lineitem — the orderkey buckets must carry it")
    assert(plan.contains("Exchange hashpartitioning(o_orderkey"),
      "q68's o⋈c intermediate should re-hash to lineitem's buckets")
  }

  test("selective filters reach the parquet scan (PushedFilters)") {
    val plan = physicalPlan("q06_selective_sum")
    assert(plan.contains("PushedFilters: [") && plan.contains("GreaterThanOrEqual"),
      "q06 filter not pushed to scan")
  }

  test("dimension joins broadcast in the 6-way star join") {
    val plan = physicalPlan("q05_join5_agg")
    assert(plan.contains("BroadcastHashJoin"), "q05 dims not broadcast")
    // the fact-fact join must NOT be a broadcast of lineitem/orders at
    // scale; at sf0.001 statistics allow it, so only assert dims here
  }

  test("column pruning: q01 scan reads only the aggregated columns") {
    val plan = physicalPlan("q01_agg_pricing")
    assert(!plan.contains("l_comment"), "q01 reads dropped columns")
    assert(plan.contains("ReadSchema"), "no parquet read schema section")
  }

  test("tx14 chunking is a pure map stage (one Generate, no exchange before the sort)") {
    val plan = physicalPlan("tx14_chunk_spans")
    assert(!plan.contains("HashAggregate"), "tx14 grew an aggregate")
    // the chunk-index explode is the single Generate; the only exchange
    // is the final presentation sort's range partitioning
    assert("Generate".r.findAllIn(plan).size == 1, "tx14 should have exactly one explode")
    assert("Exchange".r.findAllIn(plan).size <= 2, // range repartition + sort prep
      "tx14 grew a mid-pipeline shuffle")
  }

  test("dd14 normalization happens scan-side (one aggregate exchange, no Generate)") {
    val plan = physicalPlan("dd14_normalized_dedup")
    assert(!plan.contains("Generate"), "dd14 should not explode anything")
    // partial agg -> single hash exchange -> final agg -> sort exchange
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      "dd14 should shuffle exactly once on the fingerprint")
  }

  test("tx15 packing shuffles once on lang (the shard key that parallelizes the prefix sum)") {
    val plan = physicalPlan("tx15_pack_bins")
    assert(plan.contains("token_stats"), "tx15 lost the native token_stats expression")
    assert(!plan.contains("Generate"), "tx15 should not explode tokens")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      "tx15 should have exactly the per-lang window exchange")
  }

  test("dd16 per-doc gram set is built map-side (one explode, one gram shuffle)") {
    val plan = physicalPlan("dd16_boilerplate_ngrams")
    assert(plan.contains("array_distinct"), "dd16 lost the map-side per-doc dedup")
    assert("Generate".r.findAllIn(plan).size == 1, "dd16 should explode once")
    // per-doc set via array_distinct means NO (doc, gram) distinct exchange:
    // partial count -> one hash exchange on gram -> final -> sort exchange
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      "dd16 should shuffle exactly once on the gram")
  }

  test("q48 LOCF is one user_id shuffle feeding a running window") {
    val plan = physicalPlan("q48_locf_gapfill")
    assert(plan.contains("last("), "q48 lost the ignore-nulls last_value")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      "q48 should shuffle exactly once on user_id")
  }

  test("q49 FILTER aggregates stay one pass (no Expand, one aggregate exchange)") {
    val plan = physicalPlan("q49_filtered_agg")
    assert(!plan.contains("Expand"), "q49 grew an Expand — conditional " +
      "aggregation must stay single-pass")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      "q49 should shuffle exactly once on the group key")
  }

  test("tx27 encode fold runs on distinct words, no corpus window, no recursion") {
    val plan = physicalPlan("tx27_bpe_encode")
    assert(plan.contains("aggregate("),
      "tx27 lost the one-pass encode fold (aggregate HOF)")
    assert(!plan.contains("Window"),
      "tx27 grew a window — the encode must stay a per-distinct-word fold")
    assert(!plan.contains("CartesianProduct"),
      "tx27's only unbounded join may be the 1-row vocab broadcast")
  }

  test("sim17 serve plan reads the persisted index, never the corpus vectors") {
    val plan = physicalPlan("sim17_ann_index_serve")
    assert(plan.contains("graft-ann-index"),
      "sim17 serve must scan the persisted index relations")
    // the query batch is read twice (coarse probes + ADC table) — both
    // scans must carry the vec_id < 10 pushdown; a corpus-sized vector
    // scan would show as an embeddings scan WITHOUT it
    val embScans = "embeddings\\.parquet".r.findAllIn(plan).size
    val pushed = "LessThan\\(vec_id,10\\)".r.findAllIn(plan).size
    assert(embScans == pushed,
      s"sim17 serve read embeddings beyond the query batch " +
        s"($embScans scans, $pushed with the vec_id<10 pushdown)")
  }

  test("graph06 iterates over the checkpointed edge projection (no rebuild per iteration)") {
    val plan = physicalPlan("graph06_pagerank")
    // localCheckpoint materializes edges once; iterations must scan the
    // checkpointed RDD, not re-derive the orders⨝lineitem projection
    assert(plan.contains("ExistingRDD") || plan.contains("Scan ExistingRDD"),
      "graph06 lost the checkpointed edge reuse")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), "graph06 grew an unbounded join")
  }

  test("dd17 confirm runs threshold-banded levenshtein on LSH candidates only") {
    val plan = physicalPlan("dd17_editdist_confirm")
    assert(plan.contains("levenshtein"), "dd17 lost the edit-distance confirm")
    assert(plan.contains("50"), "dd17 lost the DP threshold bound")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "dd17 must confirm candidates, never all pairs")
  }

  test("tx17 BPE pair mining collapses corpus to vocabulary before char work") {
    val plan = physicalPlan("tx17_bpe_merge_pairs")
    // corpus explode -> word agg (exchange 1, vocab-sized) -> pair explode
    // -> pair agg (exchange 2) -> TakeOrdered; char-level work must sit
    // ABOVE the word aggregate so it is vocab-bounded at any corpus size
    assert("Generate".r.findAllIn(plan).size == 2, "tx17 should explode exactly twice")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 2,
      "tx17 should shuffle exactly twice (word, then pair)")
    assert(plan.contains("TakeOrderedAndProject"),
      "tx17 top-20 must ride TakeOrdered, not a global sort")
  }

  test("tx18 attrition report is one scan, one aggregate exchange, no explode") {
    val plan = physicalPlan("tx18_gopher_attrition")
    assert(!plan.contains("Generate"), "tx18 rule inputs must stay array exprs, not explodes")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      "tx18 should shuffle exactly once on source")
    assert(plan.contains("ReadSchema: struct<text:string,source:string>"),
      "tx18 scan must prune to the two used columns")
  }

  test("tx19 reads JSONL with an explicit schema (no inference scan)") {
    val plan = physicalPlan("tx19_jsonl_io")
    assert(plan.contains("FileScan json"), "tx19 lost the json source")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string,lang:string>"),
      "tx19 must read with the explicit schema")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      "tx19 should shuffle exactly once on lang")
  }

  test("q51 bucketed join co-locates: no exchange below the join") {
    val plan = physicalPlan("q51_bucketed_join")
    assert(plan.contains("SortMergeJoin"), "q51 lost the merge join")
    assert(plan.contains("SelectedBucketsCount"), "q51 scans must be bucketed reads")
    // the ONLY hash exchange is the post-join aggregate on o_orderpriority;
    // both join inputs arrive pre-distributed by their 8 write-time buckets
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      "q51 join inputs must ride the bucket distribution, not a shuffle")
  }

  test("q53 one-lang query prunes partitions at the scan") {
    val plan = physicalPlan("q53_partitioned_pruning")
    assert(plan.contains("PartitionFilters: [isnotnull(lang"),
      "q53 lost the planning-time partition filter")
    // the lang predicate must NOT appear as a data filter — pruned
    // directories are never opened, so no per-row evaluation remains
    assert(!plan.contains("PushedFilters: [IsNotNull(lang)"),
      "lang should be a partition column, not a data column")
  }

  test("tx23 curriculum cutpoints: sketch aggregation, no corpus window") {
    val plan = physicalPlan("tx23_curriculum_cutpoints")
    // the whole point vs tx21: stage assignment must not sort the corpus
    assert(!plan.contains("Window"), "tx23 grew a window operator")
    assert(plan.contains("approx_percentile"), "tx23 lost the quantile sketch")
    assert(plan.contains("BroadcastHashJoin"),
      "tx23's cutpoints must broadcast into the stage assignment")
  }

  test("q54 AQE splits the skewed partition at runtime (skew=true)") {
    // sf0.01, not the spec-default sf0.001: the hot partition must clear
    // the 16k skewedPartitionThresholdInBytes for the runtime stats to
    // classify it as skewed (at sf0.001 the whole shuffle is ~threshold)
    val df = SparkEntry.queries("q54_aqe_skew_join")(spark, "/root/testdata/sf0.01")
    df.collect() // AQE finalizes the plan only on execution
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true"), "q54 must run under AQE")
    assert(plan.contains("skew=true"),
      "AQE did not mark the sort-merge join as skew-handled")
    assert(plan.contains("AQEShuffleRead"), "q54 lost the adaptive shuffle read")
  }

  test("dd18 histogram rides the StarCC component relation, never all pairs") {
    val plan = physicalPlan("dd18_cluster_size_histogram")
    // at sf0.001 the candidate set fits the broadcast budget, so StarCC's
    // labels arrive as the driver finish's RDD scan
    assert("""Scan ExistingRDD\[node#\d+L,root#\d+L\]""".r.findFirstIn(plan).isDefined,
      "dd18 lost the StarCC component relation")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), "dd18 grew an unbounded join")
  }

  test("sim11 fused pair scan: ONE candidate join, ONE aggregation") {
    val plan = physicalPlan("sim11_matryoshka_recall")
    // the r12 fusion: both rankings come out of a single pair scan — the
    // pre-fusion shape ran two join branches (one per ranking) and four
    // object-hash aggregate nodes
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size == 1,
      "sim11 must score the candidate pairs in exactly one join pass")
    assert("ObjectHashAggregate".r.findAllIn(plan).size == 2,
      "sim11 must keep both top-5 buffers in one partial+final aggregation")
    assert(plan.contains("cosinesimpair"), "sim11 lost the fused pair expression")
  }

  test("sim13 two-stage rerank: broadcast ADC table, equi-joins only") {
    val plan = physicalPlan("sim13_pq_rerank")
    assert(plan.contains("BroadcastHashJoin"),
      "sim13's distance table must broadcast into the codes scoring join")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "sim13 must never scan all pairs — the shortlist bounds the exact stage")
  }

  test("tx24 domain mixture: one corpus exchange, window over the domain aggregate") {
    val plan = physicalPlan("tx24_domain_mixture")
    // the corpus crosses the wire once (source groupBy, map-side combined);
    // the share window runs over the domain-sized aggregate behind a
    // single-partition exchange, never over the corpus
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      "tx24 must aggregate to the domain relation in one exchange")
    assert(plan.contains("token_stats"), "tx24 lost the codegen token kernel")
  }

  test("q55 z-order read-back pushes both box dimensions to the scan") {
    val plan = physicalPlan("q55_zorder_layout")
    // PushedFilters elides its tail in the plan string, so lock the scan's
    // DataFilters (printed in full) + the head of the pushed list
    assert(plan.contains("PushedFilters: [IsNotNull(a), IsNotNull(b), GreaterThanOrEqual(a,32)"),
      "q55's box predicate must reach the parquet scan as pushed filters")
    for (p <- Seq("a#\\d+L >= 32", "a#\\d+L <= 63", "b#\\d+L >= 64", "b#\\d+L <= 127"))
      assert(p.r.findFirstIn(plan).nonEmpty,
        s"q55 scan lost the box data filter $p")
  }

  test("tx25 top-20 rides bounded top-k, never a global sort") {
    val plan = physicalPlan("tx25_unigram_surprisal")
    assert(plan.contains("TakeOrderedAndProject"),
      "tx25 must TakeOrdered the top-20, not sort the corpus")
  }

  test("dd20 canonicalization fuses into the scan: groupBy + result sort only") {
    val plan = physicalPlan("dd20_url_dedup")
    // regexp chain is scan-side projection; the only exchanges are the
    // canonical-key hash aggregate and the orderBy's range partitioning
    assert("Exchange".r.findAllIn(plan).size <= 2,
      "dd20 grew an exchange beyond the dedup groupBy + result sort")
    assert(plan.contains("regexp_replace"),
      "dd20's canonicalization must be a plan expression, not a UDF")
  }

  test("dd21 probes the corpus index with an anti-join") {
    val plan = physicalPlan("dd21_incremental_dedup")
    assert(plan.contains("LeftAnti"),
      "dd21 lost the anti-join against the corpus fingerprint index")
  }

  test("sim15 IVF-PQ: codebook and ADC table broadcast; candidate joins stay equi") {
    val plan = physicalPlan("sim15_ivf_pq")
    assert(plan.contains("BroadcastHashJoin"),
      "sim15's codebook/table joins must broadcast")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "sim15 must score only candidates in probed lists")
  }

  test("mm08 perceptual hash is shuffle-free map work") {
    val plan = physicalPlan("mm08_image_phash")
    // decode + hash run in a partition-local MapPartitions; the only
    // exchange is the result orderBy
    assert("Exchange".r.findAllIn(plan).size <= 1,
      "mm08 grew a shuffle before the result sort")
    assert(plan.contains("MapPartitions"), "mm08 lost the batch decode loop")
  }

  test("q63 partition pruning is DYNAMIC: DPP subquery on the fact scan") {
    val plan = physicalPlan("q63_dpp_join")
    // the fact scan's PartitionFilters must carry the runtime IN-subquery
    // (dynamicpruningexpression) — a plan that reads all lang partitions
    // and filters post-scan has lost exactly the file-level reduction the
    // query exists to demonstrate
    assert(plan.contains("dynamicpruning"),
      "q63 fact scan lost its dynamic partition-pruning subquery")
    assert(plan.contains("BroadcastHashJoin"),
      "q63 dim join is no longer broadcast (DPP reuses the broadcast)")
  }

  test("tx29 global rank is distributed: bucketed ranking window + broadcast offsets") {
    val plan = physicalPlan("tx29_epoch_shard")
    // the corpus-sized row_number window must be partitioned by the key
    // bucket (256-way parallel), never epoch-only / global — that's the
    // single-partition funnel the two-level rank exists to avoid
    val rnLine = plan.linesIterator.find(_.contains("row_number"))
      .getOrElse(fail("tx29 lost its ranking window"))
    assert(rnLine.contains("bucket"),
      s"tx29 ranking window no longer bucket-partitioned: $rnLine")
    // the cumulative bucket offsets (<=256 rows/epoch) join back by
    // broadcast — a shuffle join here would re-exchange the corpus
    assert(plan.contains("BroadcastHashJoin"),
      "tx29 offsets join is no longer broadcast")
  }

  test("dd24 chunk ledger comes from the native cdc_chunks scan (one Generate, no word window)") {
    val plan = physicalPlan("dd24_cdc_chunk_dedup")
    assert(plan.contains("cdc_chunks"), "dd24 lost the native cdc_chunks expression")
    // exactly one Generate: the CHUNK-ledger explode — the word-level
    // posexplode and its doc_id prefix-sum window must not return
    assert("Generate".r.findAllIn(plan).size == 1,
      "dd24 re-grew the word-level explode")
    // the fp row_number window and the lang agg (partial+final +
    // ORDER BY range) are the only exchanges; the doc_id word window
    // and the (doc_id, chunk) groupBy exchanges must not return
    assert("Exchange".r.findAllIn(plan).size <= 3,
      "dd24 re-grew a word-level corpus exchange")
  }

  test("dd25/dd27 window fps ride the binary variant (half-cargo exchanges)") {
    for (name <- Seq("dd25_substring_spans", "dd27_ngram_decontaminate")) {
      val plan = physicalPlan(name)
      assert(plan.contains("substring_run_fps_bin"),
        s"$name lost the binary fp variant — exchange cargo doubled")
    }
  }

  test("dd27 benchmark join carries no broadcast HINT (size-based like dd02/dd10)") {
    val analyzed = SparkEntry.queries("dd27_ngram_decontaminate")(spark, sf)
      .queryExecution.analyzed.toString
    assert(!analyzed.contains("ResolvedHint"),
      "dd27 re-grew an unconditional broadcast hint — the bench side must stay size-based")
  }

  // ---- SmallGlobalSort on the benchmark's conf: a global sort whose input
  // fits the broadcast budget runs in one task behind a single-partition
  // exchange, so no RangePartitioner sampling job recomputes its input

  /** (executed plan, jobs) of `name` written to the noop sink, as Bench runs it */
  private def benchRun(name: String, conf: Seq[(String, String)]): (String, Int) =
    JobBudget.withConf(spark, conf) {
      val df = SparkEntry.queries(name)(spark, sf)
      val plan = df.queryExecution.executedPlan.toString
      val (jobs, _, _) = JobBudget.measure(spark, s"small-sort-$name") {
        df.write.format("noop").mode("overwrite").save()
      }
      (plan, jobs)
    }

  private val sortsOff = JobBudget.benchConf :+ ("spark.sql.autoBroadcastJoinThreshold" -> "-1")

  test("small global sorts gather to one partition: no range sampling job (bench conf)") {
    for (name <- Seq("q01_agg_pricing", "age10_kernel_64mb")) {
      val (plan, jobs) = benchRun(name, JobBudget.benchConf)
      assert(plan.contains("Exchange SinglePartition") && !plan.contains("rangepartitioning"),
        s"$name's ORDER BY is range-partitioned again:\n$plan")
      assert(jobs == 1, s"$name ran $jobs jobs, expected 1")
      val (offPlan, offJobs) = benchRun(name, sortsOff)
      assert(offPlan.contains("rangepartitioning"),
        s"$name with the threshold at -1 must keep Spark's range sort:\n$offPlan")
      assert(offJobs == 2, s"$name with the threshold at -1 ran $offJobs jobs, expected 2")
    }
  }

  test("small global sorts leave ORDER BY LIMIT and inputs above the budget alone") {
    JobBudget.withConf(spark, JobBudget.benchConf) {
      val q03 = physicalPlan("q03_join_topn")
      assert(q03.contains("TakeOrderedAndProject") && !q03.contains("SinglePartition"),
        s"q03 lost its bounded top-k:\n$q03")
      // 8 GB estimated (spark.range's 8 B per row): above the 64 MB budget
      val big = spark.range(1000000000L).orderBy(org.apache.spark.sql.functions.col("id").desc)
        .queryExecution.executedPlan.toString
      assert(big.contains("rangepartitioning") && !big.contains("SinglePartition"),
        s"a sort above the budget must stay range-partitioned:\n$big")
    }
  }

  test("small global sorts return the range sort's rows in its order") {
    for (name <- Seq("q01_agg_pricing", "q08_window_running", "q25_events_hourly",
                     "tx01_tokens", "dd01_exact_dup_groups")) {
      def rows(conf: Seq[(String, String)]) = JobBudget.withConf(spark, conf) {
        val df = SparkEntry.queries(name)(spark, sf)
        (df.queryExecution.executedPlan.toString, df.collect().toSeq)
      }
      val (plan, on) = rows(JobBudget.benchConf)
      val (offPlan, off) = rows(sortsOff)
      assert(plan.contains("Exchange SinglePartition") && offPlan.contains("rangepartitioning"),
        s"$name does not compare the two sorts:\n$plan\n$offPlan")
      assert(on.nonEmpty && on == off, s"$name's rows differ between the two sorts")
    }
  }
}
