package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry
import graft.TestSpark

/** Physical-plan audit: the scale properties the 100 TB design claims —
  * broadcasts where a side is dimension-sized, parquet filter pushdown and
  * column pruning, no cartesian products in the bucketed dedup paths,
  * partial→final aggregation, whole-stage codegen coverage.
  *
  * Asserting on explain output pins these against regressions: a future
  * query edit that silently turns an equi-join into a nested-loop join
  * fails here, not at 100 TB.
  */
class PlanAuditSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = TestSpark.spark

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan.toString
  }

  test("dimension join broadcasts the small side (q_join_using: nation x customer)") {
    assert(plan("q_join_using").contains("BroadcastHashJoin"))
  }

  test("IN/LIKE predicates push into the parquet scan (q_filter_in_like)") {
    val p = plan("q_filter_in_like")
    assert(p.contains("PushedFilters"))
    assert(p.contains("In(c_mktsegment"))
  }

  test("column pruning reaches the scan (q_scan_project reads no unused columns)") {
    val p = plan("q_scan_project")
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_tax") && !p.contains("l_returnflag"),
      "projection should prune unused lineitem columns from the scan")
  }

  test("MinHash LSH dedup never plans a cartesian or nested-loop join") {
    val p = plan("q_dedup_minhash")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("banded edit verification is equi-join only, no length-block cartesian (q_dedup_edit_verified)") {
    val p = plan("q_dedup_edit_verified")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("SimHash dedup never plans a cartesian or nested-loop join") {
    val p = plan("q_dedup_simhash")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("n-gram Jaccard pair generation is an equi-join on shingles") {
    val p = plan("q_dedup_ngram_jaccard")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("incremental dedup pairs new x corpus via banded equi-joins only (q_dedup_incremental)") {
    val p = plan("q_dedup_incremental")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("k-means step broadcasts only the sqrt(N) centroid table (q_ann_kmeans)") {
    val p = plan("q_ann_kmeans")
    // assignment rides the two-level quantizer: the only nested loops are
    // the two cell-routing joins whose build side is the N^(1/4)-row cell
    // table (centroids->cells, vectors->cells); centroid scoring itself is
    // the v1 JOIN a21 hash equi-join and nothing may cartesian
    assert(!p.contains("CartesianProduct"))
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      "in-cell centroid scoring must be a hash/merge equi-join on c1_id")
  }

  test("PQ codebook assignment joins on the subspace key, no cartesian (q_ann_pq)") {
    val p = plan("q_ann_pq")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("banded theta join puts SUPPLIER rows through hash joins (q_join_theta_banded)") {
    val p = plan("q_join_theta_banded")
    // The supplier-carrying joins must be hash equi-joins on the band key;
    // the only tolerated nested loop is the constant-size band×band pair
    // list (|bands| is data-independent).
    assert(p.contains("BroadcastHashJoin"))
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1)
  }

  test("ANN brute force broadcasts the query-vector side (q_ann_topk)") {
    assert(plan("q_ann_topk").contains("Broadcast"))
  }

  test("ANN LSH candidate generation is equi-join only (q_ann_lsh)") {
    val p = plan("q_ann_lsh")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("embedding dedup blocks on (label, sub-bucket) via equi-joins (q_dedup_embedding)") {
    val p = plan("q_dedup_embedding")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("IVF assignment broadcasts only the constant-size centroid table (q_ann_ivf)") {
    val p = plan("q_ann_ivf")
    // centroid scoring is the one tolerated nested-loop: its build side is
    // the ~sqrt(N) centroid list, broadcast; candidate->list and re-score
    // joins must be hash equi-joins
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      "candidate fetch must be a hash/merge equi-join")
  }

  test("hierarchical IVF scores O(sqrt nlist) centroids per vector (q_ann_ivf_hier)") {
    import graft.llm.AnnSql
    graft.queries.Tables.registerAll(spark, sf)
    org.apache.spark.sql.graftbridge.GraftSession.install(spark)
    val r = spark.sql(AnnSql.ivfHierBoundSpark()).collect().head
    val (nlist, nlist1, maxCell, maxEvals) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(maxEvals <= 2 * maxCell,
      s"per-vector L2 candidates $maxEvals exceed p1=2 cells of $maxCell")
    assert(nlist1 + maxEvals < nlist,
      s"two-level budget ${nlist1 + maxEvals} must undercut flat nlist=$nlist")
    // and the search plan itself: vector-sized joins are all equi — the
    // only nested loops are against the N^(1/4)-row cell table
    val p = plan("q_ann_ivf_hier")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      "second-level assignment must be a hash/merge equi-join on c1_id")
  }

  test("SemDeDup nests only the cell table; pair join is equi (q_dedup_semantic)") {
    val p = plan("q_dedup_semantic")
    // clustering rides the two-level quantizer: per chain the only nested
    // loops are the two cell-routing joins (build side = N^(1/4)-row cell
    // table); Catalyst inlines the assignment chain into both pair-join
    // sides, so the pair appears twice. The within-cluster pair join must
    // be a hash/merge equi-join on cent_id.
    assert(!p.contains("CartesianProduct"))
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 4)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      "within-cluster pair generation must be a hash/merge equi-join")
  }

  test("coreset selection nests only the cell table (q_sample_coreset)") {
    val p = plan("q_sample_coreset")
    assert(!p.contains("CartesianProduct"))
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      "in-cell centroid scoring must be a hash/merge equi-join on c1_id")
    assert(p.contains("Window"), "per-cluster top-m must be a partitioned window")
  }

  test("no index-build query nests anything bigger than the N^(1/4) cell table") {
    import graft.llm.AnnSql
    // The generated SQL of every two-level-quantizer consumer: the ONLY
    // CROSS JOINs allowed are against the cell table c1 (N^(1/4) rows);
    // the corpus- and centroid-sized relations must reach their scores via
    // the v1 JOIN a21 equi-join on c1_id. A regression that reintroduces
    // the flat `embeddings/qv CROSS JOIN c` O(N·sqrt N) assignment —
    // ~3e13 distance evals per build pass at 1e9 vectors — fails here.
    val builders = Seq(
      "ivf_hier" -> AnnSql.ivfHierTopKSpark(3),
      "kmeans" -> AnnSql.kmeansStepSpark,
      "ivfpq" -> AnnSql.ivfPqSearchSpark(5),
      "ivfpq_residual" -> AnnSql.ivfPqResidualSpark(5),
      "semdedup" -> AnnSql.semDedupSpark,
      "coreset" -> AnnSql.coresetSpark(4),
      "ivf_hier_duck" -> AnnSql.ivfHierTopKDuck(3),
      "kmeans_duck" -> AnnSql.kmeansStepDuck,
      "ivfpq_duck" -> AnnSql.ivfPqSearchDuck(5),
      "ivfpq_residual_duck" -> AnnSql.ivfPqResidualDuck(5),
      "semdedup_duck" -> AnnSql.semDedupDuck,
      "coreset_duck" -> AnnSql.coresetDuck(4))
    for ((tag, sql) <- builders) {
      val crosses = "CROSS JOIN \\w+".r.findAllIn(sql).toSeq
      assert(crosses.nonEmpty && crosses.forall(_ == "CROSS JOIN c1"),
        s"$tag: every nested loop must be against the cell table c1, got $crosses")
      assert(sql.contains("JOIN a21 a ON v.c1_id = a.c1_id") ||
             sql.contains("JOIN a21 a ON q.c1_id = a.c1_id"),
        s"$tag: centroid scoring must be the v1/a21 equi-join on c1_id")
    }
  }

  test("as-of join is one filtered scan + one partitioned window, no join operator (q_join_asof)") {
    val p = plan("q_join_asof")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "as-of must resolve via the running-MAX window, not a range join")
    assert(p.contains("Window"))
    assert(p.contains("PushedFilters") && p.contains("In(event_type"),
      "the two-sided IN filter must reach the parquet scan")
  }

  test("batch sessionization reuses one user_id shuffle end-to-end (q_win_sessionize)") {
    val p = plan("q_win_sessionize")
    // lag + running-sum windows and the (user_id, sid) session aggregate
    // must all ride the single hashpartitioning(user_id) exchange — the
    // aggregate keys refine the window partitioning, so EnsureRequirements
    // adds no second hash exchange; the only other exchange is the final
    // presentation sort's range partitioning.
    val hashExchanges = "hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges == 1,
      s"expected exactly 1 hash exchange (user_id) shared by windows + session agg, got $hashExchanges:\n$p")
    assert(p.contains("Window"))
    assert(p.contains("In(event_type"), "event-type filter must push into the scan")
  }

  test("Q8-shaped market share broadcasts every dimension; two aggregation exchanges (q_tpch_q8ish)") {
    val p = plan("q_tpch_q8ish")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"),
      "dimension joins must broadcast at this scale, not sort-merge:\n" + p)
    val hashExchanges = "hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges <= 3,
      s"expected <=3 hash exchanges ((yr, n_name) partial->final + share regroup), got $hashExchanges:\n$p")
  }

  test("SCD2 reconstruction rides ONE key exchange, no history self-join (q_dim_scd2)") {
    val p = plan("q_dim_scd2")
    assert(!p.contains("Join"), s"SCD2 must be windows only, found a join:\n$p")
    val hashExchanges = "hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges == 1,
      s"expected exactly 1 hash exchange (key) shared by compaction/collapse/interval windows, got $hashExchanges:\n$p")
  }

  test("range-partition planning broadcasts one cut array; no row expansion (q_layout_range_partition)") {
    val p = plan("q_layout_range_partition")
    // the fact side joins ONLY the single-row collected cut array (BNLJ on
    // a 1-row side), never the 7-row bounds relation row-by-row
    assert(p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
    // partition-id histogram aggregates map-side before the 8-group exchange
    assert(p.contains("partial_count") || p.contains("HashAggregate"), p)
  }

  test("snapshot diff is one equi full-outer join on doc_id (q_corpus_snapshot_diff)") {
    val p = plan("q_corpus_snapshot_diff")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("FullOuter"), "diff must plan as a full outer hash/merge join")
  }

  test("shard assignment shuffles once on shard, never globally sorts the corpus (q_text_shard)") {
    val p = plan("q_text_shard")
    val hashExchanges = "hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges == 1,
      s"expected exactly 1 hash exchange (shard) for the position window, got $hashExchanges:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("CMS heavy hitters build the sketch ONCE and probe it broadcast (q_text_heavy_hitters)") {
    val p = plan("q_text_heavy_hitters")
    // 4 Generates = exactly two passes over the bigram stream (sketch
    // build + probe), each a shingle explode + the 4-row probe explode.
    // A CTE-alias-per-sketch-row probe re-inlined the sketch pass FOUR
    // times (9 Generates) before this pin.
    assert("Generate".r.findAllIn(p).length == 4, p.take(2000))
    // the constant-size (<=2048-row) sketch must broadcast onto the
    // probe stream — never a shuffle join keyed by gram
    assert("BroadcastHashJoin".r.findAllIn(p).length == 1, p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"))
  }

  test("substring dedup is two shingle passes, equi-joins only (q_dedup_substring)") {
    val p = plan("q_dedup_substring")
    assert("Generate".r.findAllIn(p).length == 2, p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("substring clean explodes tokens only for the reported slice (q_dedup_substring_clean)") {
    val p = plan("q_dedup_substring_clean")
    // 4 Generates: the corpus-wide shingle stream twice (first-occurrence
    // agg + probe) and the token stream twice (cover probe + kept);
    // the %20 output filter must sit BELOW the token explodes so only
    // the reported slice pays token-level work.
    assert("Generate".r.findAllIn(p).length == 4, p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("winsorize quantiles avoid the per-group global sort (q_agg_winsorize)") {
    val p = plan("q_agg_winsorize")
    assert(!p.contains("SortMergeJoin"),
      "threshold join must broadcast (bounds is a group-cardinality table)")
    // Three Window OPERATORS, two of them riding ONE per-g exchange: the
    // bucket cumulative (rows frame) and the group totals (unbounded
    // frame — the fold that replaced the separate stats aggregate + its
    // broadcast joins), plus the boundary refinement window.
    val windows = "(?m)^[^\\n]*\\bWindow \\[".r.findAllIn(p).length
    assert(windows == 3,
      s"expected bucket-cumulative + group-total + refinement windows, got $windows:\n$p")
    // Exactly TWO fact-table scans in ONE plan (histogram build +
    // boundary refinement; no materialization barrier). A min/max
    // pre-pass, a stats re-scan, or a re-executed histogram subtree would
    // surface here as a third scan.
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 2,
      s"expected exactly 2 in-plan lineitem scans (histogram + refinement), got $scans:\n$p")
    // and the group-total fold must not have introduced an extra per-g
    // exchange: histogram agg (g, b), ONE shared per-g window exchange
    // (cumulative + totals), refinement partial agg, refinement window
    // (g, which), final per-g rollup — five, all over group-cardinality
    // rows except the first
    val hashExchanges = "hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges <= 5,
      s"group-total windows must share the cumulative walk's exchange:\n$p")
    assert("hashpartitioning\\(g#\\d+, 4\\)".r.findAllIn(p).length <= 2,
      s"cumulative walk and group totals must ride ONE per-g exchange:\n$p")
  }

  test("per-group top-k pushes the rank limit below the sort (q_ann_topk WindowGroupLimit)") {
    // rank <= k over a window must NOT fully sort every group: Spark's
    // WindowGroupLimit keeps a bounded per-group heap on the map side and
    // again after the shuffle — the difference between O(n log k) and a
    // full per-group sort at 100 TB. Pin that the optimization fires for
    // the brute-force ANN top-k filter.
    assert(plan("q_ann_topk").contains("WindowGroupLimit"))
  }

  test("DISTINCT ON emulation runs as a per-group limit, not a full sort (q_distinct_on)") {
    assert(plan("q_distinct_on").contains("WindowGroupLimit"))
  }

  test("PIVOT stays a single grouped aggregation, no cartesian (q_pivot)") {
    val p = plan("q_pivot")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("HashAggregate"))
  }

  test("GROUPS-frame emulation plans only equi-joins and one window (q_win_groups_frame)") {
    val p = plan("q_win_groups_frame")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("Window"))
  }

  test("TPC-H Q5 shape broadcasts the dimension tables (q_tpch_q5ish)") {
    val p = plan("q_tpch_q5ish")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "region/nation/supplier joins should broadcast the small sides")
  }

  test("ANN LSH candidates stay inside the (nbits+1) x tables x bucket bound") {
    import graft.llm.AnnSql
    graft.queries.Tables.registerAll(spark, sf)
    val row = spark.sql(AnnSql.candidateBoundSpark).collect().head
    val (maxCand, bound, nbits) = (row.getLong(0), row.getLong(1), row.getInt(2))
    assert(maxCand <= bound,
      s"candidate count $maxCand exceeds structural bound $bound (nbits=$nbits)")
    val n = spark.table("embeddings").count()
    assert(nbits === AnnSql.nbitsFor(n), "SQL nbits clamp must mirror AnnSql.nbitsFor")
  }

  test("nbitsFor keeps expected bucket population near targetBucket at any scale") {
    import graft.llm.AnnSql.{maxBits, nbitsFor, targetBucket}
    assert(nbitsFor(500) === 1)          // corpus smaller than a bucket
    assert(nbitsFor(1L << 40) === maxBits) // clamped at signature width
    // across 6 orders of magnitude the expected population stays in
    // [targetBucket/2, targetBucket] (ceil halves at worst)
    for (n <- Seq(100_000L, 1_000_000L, 10_000_000L, 100_000_000L, 1_000_000_000L)) {
      val pop = n.toDouble / (1L << nbitsFor(n))
      assert(pop <= targetBucket && pop >= targetBucket / 2.0,
        s"n=$n nbits=${nbitsFor(n)} expected-pop=$pop")
    }
  }

  test("partitioned layout prunes to the matching partition (q_src_partitioned_write)") {
    val p = plan("q_src_partitioned_write")
    assert(p.contains("PartitionFilters"), "scan must carry partition filters")
    assert(p.contains("o_orderstatus"), "the status predicate must prune partitions")
  }

  test("decontamination shingle join is equi-only (q_text_decontaminate)") {
    val p = plan("q_text_decontaminate")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("salted skew join stays a hash equi-join on (key, salt)") {
    val p = plan("q_join_skew_salted")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("shuffle queries run under adaptive execution (AQE re-plans at runtime)") {
    assert(plan("q_agg_q1").contains("AdaptiveSparkPlan"),
      "AQE must be active so skew/shuffle sizing adapts at 100 TB")
  }

  test("aggregation is partial->final (q_agg_q1)") {
    val p = plan("q_agg_q1")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "expect partial + final HashAggregate")
    assert(p.contains("partial_sum"), "map-side combine must run before the shuffle")
  }

  test("the hot aggregation path stays inside whole-stage codegen (q_agg_q1)") {
    val df = SparkEntry.queries("q_agg_q1")(spark, sf)
    val codegen = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.explainString(org.apache.spark.sql.execution.CodegenMode)
    assert(codegen.contains("WholeStageCodegen subtree"))
  }

  test("bucketed join runs without a shuffle on either side (q_src_bucketed_join)") {
    val df = SparkEntry.queries("q_src_bucketed_join")(spark, sf)
    val p = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan.toString
    val joinSection = p.split("HashAggregate").last // below the aggregates sits the join
    assert(!joinSection.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle its inputs:\n$p")
  }

  test("grouping sets stay a single-pass expand + aggregate (q_agg_grouping_sets)") {
    val p = plan("q_agg_grouping_sets")
    assert(p.contains("Expand"))
    assert(!p.contains("Union"), "grouping sets must not expand into a union of scans")
  }

  test("PQ ADC search and linear probe use only equi-joins / broadcasts") {
    for (q <- Seq("q_ann_pq_search", "q_embed_classify")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), q)
    }
  }

  test("paragraph dedup and boilerplate fraction never plan pairwise joins") {
    for (q <- Seq("q_text_paragraph_dedup", "q_text_boilerplate")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), q)
      assert(!p.contains("BroadcastNestedLoopJoin"), q)
    }
  }

  test("word/shingle stream consumers: full explode once, probe explode pruned") {
    // The exploded stream CTE has two consumers (corpus-wide frequency
    // aggregate + join probe). Catalyst inlines one copy per consumer —
    // which is the CHEAPER shape here, because the probe copy inherits
    // the pushed-down doc_id % 10 filter and explodes only 10% of the
    // corpus (measured faster than staging the full stream once and
    // reading it twice, which forfeits that pruning). Pin both halves:
    // exactly 2 Generates (a third would mean a duplicated frequency
    // subtree), and a pre-Generate doc_id filter on the probe copy.
    for (q <- Seq("q_text_boilerplate", "q_text_unigram_logprob")) {
      val p = plan(q)
      val generates = "(?m)^[^\\n]*\\bGenerate explode".r.findAllIn(p).length
      assert(generates == 2,
        s"$q: expected 2 explodes (full df side + pruned probe side), got $generates:\n$p")
      assert("\\(doc_id#\\d+L? % 10\\) = 0".r.findAllIn(p).length >= 2,
        s"$q: the %10 filter must prune the probe side below its explode:\n$p")
    }
  }

  // At 100 TB a selective dim-side predicate should cut the fact-side scan
  // before the shuffle: Spark's runtime bloom filter (injected when the
  // creation side is small and the application side is large) does exactly
  // that. The default size thresholds are tuned for real tables, so the
  // fixture forces them to zero ONLY to pin that the rule still fires on
  // our join shapes — production keeps the defaults and gets the filter
  // exactly when it pays for itself.
  test("runtime bloom filter injects on a selective fact-dim join") {
    val conf = spark.conf
    val enabled = "spark.sql.optimizer.runtime.bloomFilter.enabled"
    val appThresh = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    // The rule targets shuffle joins (a broadcast join already prunes on
    // the build side); fixture tables all broadcast, so pin the shuffle
    // shape explicitly.
    val bcast = "spark.sql.autoBroadcastJoinThreshold"
    val prevEnabled = conf.get(enabled)
    val prevApp = conf.get(appThresh)
    val prevBcast = conf.get(bcast)
    conf.set(enabled, "true")
    conf.set(appThresh, "0")
    conf.set(bcast, "-1")
    try {
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
      val o = spark.read.parquet(s"$sf/orders.parquet")
        .filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT")
      val joined = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderpriority").count()
      val p = joined.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
        .queryExecution.executedPlan.toString
      assert(p.toLowerCase.contains("bloomfilter"),
        s"expected a runtime bloom filter on the fact side:\n$p")
    } finally {
      conf.set(enabled, prevEnabled)
      conf.set(appThresh, prevApp)
      conf.set(bcast, prevBcast)
    }
  }

  test("DSIR selects via TakeOrdered, never a corpus-wide single-partition window (q_select_dsir)") {
    val p = plan("q_select_dsir")
    // top-k = per-partition heap + k-row driver merge; the only
    // unpartitioned Window is the rank over the 25 already-selected rows
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("CartesianProduct"))
  }

  test("cluster-aware DSIR keeps the TakeOrdered selection and equi pool join (q_select_dsir_cluster)") {
    val p = plan("q_select_dsir_cluster")
    // same selection shape as q_select_dsir; the dedup-pool composition may
    // only add equi joins (cluster labels on doc_id), never a cartesian
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("CartesianProduct"))
  }

  test("temperature mix joins the K-row rate table equi on source, no corpus-wide window (q_mix_temperature)") {
    val p = plan("q_mix_temperature")
    assert(!p.contains("CartesianProduct"))
    // admission is a projection filter against the broadcast/equi rate
    // table — no Window at all (rate is closed-form, not ranked)
    assert(!p.contains("Window"), "temperature admission must not rank or window the corpus")
  }

  test("snapshot refresh joins equi on doc_id and windows per source (q_mix_snapshot_refresh)") {
    val p = plan("q_mix_snapshot_refresh")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    // admission must shuffle by source only — an unpartitioned running sum
    // would serialize the corpus through one task
    assert(p.contains("windowspecdefinition(source"), p.take(2000))
  }

  test("perplexity bucketing joins the LM on the bigram key and windows per source (q_text_ppl_bucket)") {
    val p = plan("q_text_ppl_bucket")
    // the tercile window must shuffle by source only — an unpartitioned
    // ntile would serialize the corpus through one task
    assert(p.contains("windowspecdefinition(source"), p.take(2000))
    assert(!p.contains("CartesianProduct"))
  }

  test("retrieval queries probe the STAGED indexes: zero corpus explodes per query") {
    // Round-7 plan audit: the four retrieval queries each re-inlined the
    // bm25 word-stream CTE 3-4x (one full corpus token explode PER
    // consumer), and the IVF branch re-derived the quantizer chain
    // in-statement. The serving contract is now: stageBm25 /
    // stageHierIndex pay the explode/assignment ONCE per (session, dir),
    // and the query plans contain NO Generate at all — every per-query op
    // is an equi-join against a staged view.
    for (q <- Seq("q_text_bm25", "q_search_hybrid_rrf", "q_search_hybrid_ivf",
                  "q_search_hybrid_batch", "q_search_rerank_probe")) {
      val p = plan(q)
      assert("Generate".r.findAllIn(p).isEmpty, s"$q explodes the corpus in-query: ${p.take(1500)}")
      assert(!p.contains("CartesianProduct"), q)
    }
    // brute branches may nested-loop only 1-row builds (the query vector /
    // scalar stats); the IVF probe additionally nested-loops the N^(1/4)
    // staged cell table — nothing corpus-sized
    val pIvf = plan("q_search_hybrid_ivf")
    assert(!pIvf.contains("SortMergeJoin") || pIvf.contains("BroadcastHashJoin"), pIvf.take(1500))
  }

  test("NB quality classifier reads the corpus exactly twice") {
    // tok has exactly two consumers — the train-count pass and the eval
    // scoring pass (the intended two corpus reads). A third scan means
    // the linear model-derivation chain (counts -> window totals -> log
    // kernel) picked up a second consumer somewhere (the DSIR x5
    // re-inline hazard).
    val p = plan("q_text_nb_quality")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 2, s"q_text_nb_quality plans $scans corpus scans (want 2):\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("NB AUC + reliability read the staged score artifact, never the corpus") {
    // both tails need the score extremes BEFORE binning (two consumers of
    // the score table), so the scores are staged via localCheckpoint; a
    // corpus scan in-plan means the chain re-inlined — 4 corpus reads
    for (q <- Seq("q_text_nb_auc", "q_text_nb_reliability")) {
      val p = plan(q)
      val scans = "Scan parquet".r.findAllIn(p).length
      assert(scans == 0, s"$q plans $scans corpus scans (want 0 — staged):\n${p.take(1500)}")
    }
  }

  test("PPS sampler walks the staged weighted frame; no unpartitioned window over it") {
    // the three consumers (level-1 totals, cumulative join, step total)
    // read the localCheckpointed frame — a corpus scan in-plan means the
    // frame re-inlined (4 scans); the only unpartitioned running-sum
    // window is the ~N/4096-row super-block apex, never the frame itself
    val p = plan("q_sample_pps_systematic")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 0, s"q_sample_pps_systematic plans $scans corpus scans (want 0 — staged):\n${p.take(1500)}")
  }

  test("TextRank walks the staged word-pair artifact, never the corpus") {
    // wv/ed0 reference the pair table five times transitively; an
    // in-plan corpus scan means five re-inlined corpus explodes
    val p = plan("q_text_textrank")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 0, s"q_text_textrank plans $scans corpus scans (want 0 — staged):\n${p.take(1500)}")
  }

  test("JS divergence reads the staged count artifact, never the corpus") {
    // the pair expansion reads the (source, word) counts four times (two
    // sides x two KL branches) — in-plan corpus scans mean the staged
    // artifact re-inlined into four tokenize passes
    val p = plan("q_text_js_divergence")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 0, s"q_text_js_divergence plans $scans corpus scans (want 0 — staged):\n${p.take(1500)}")
  }

  test("PMI collocations mine the corpus in ONE scan (margins ride windows)") {
    // both bigram margins and the grand total come from windows over the
    // vocabulary^2-bounded type table — a second Scan parquet means a
    // margin got re-derived from the corpus
    val p = plan("q_text_pmi_collocations")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"q_text_pmi_collocations plans $scans corpus scans (want 1):\n${p.take(1500)}")
  }

  test("MMR greedy rounds replay the staged 12-row candidate table, never the corpus") {
    // candidate retrieval is staged (localCheckpoint) before the query
    // plan is built; the unrolled greedy CTEs re-inline, so any corpus
    // scan here would multiply by the consumer count
    val p = plan("q_search_mmr")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 0, s"q_search_mmr plans $scans corpus scans (want 0):\n${p.take(1500)}")
  }

  test("DSIR consumes the corpus exactly once per query (staged bucket counts, round 9)") {
    // Round-8 driver: the bigram CTE `g` had 5 SQL consumers and Catalyst
    // re-inlines per consumer — the corpus tokenize+explode ran 5x
    // (isolated 4.55 s vs 1.42 s the round before). The per-bucket count
    // table is now staged via stageDsirBc, so the only remaining corpus
    // consumer is the scoring pass: exactly ONE FileScan in the plan
    // (the bucket counts and cluster labels read back from checkpoints).
    for (q <- Seq("q_select_dsir", "q_select_dsir_cluster")) {
      val p = plan(q)
      val scans = "FileScan".r.findAllIn(p).size
      assert(scans == 1, s"$q plans $scans file scans (want 1): ${p.take(1500)}")
    }
  }

  test("round-9 staged operators read only their checkpoints, never the corpus") {
    // q_select_rho: the bigram stream has five transitive consumers
    // (four type tables + the scoring join) — staged via stageRhoBg.
    // q_text_rake: the content-word table feeds the word-score aggregate
    // AND the phrase rollup. q_events_markov_attribution: journeys and
    // the scenario matrix are staged; the returned frame reads only the
    // 24th absorption checkpoint. An in-plan parquet scan means a staged
    // artifact re-inlined.
    for (q <- Seq("q_select_rho", "q_text_rake", "q_events_markov_attribution")) {
      val p = plan(q)
      val scans = "Scan parquet".r.findAllIn(p).length
      assert(scans == 0, s"$q plans $scans corpus scans (want 0 — staged):\n${p.take(1500)}")
    }
  }

  private def windowExecs(name: String) =
    SparkEntry.queries(name)(spark, sf)
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.sparkPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }

  test("quantile merge ranks hierarchically: zero unpartitioned windows (round 9)") {
    // Round-8 verdict #5: the exact-rank audit ran a GLOBAL row_number
    // over all of lineitem (one task). Ranks now compose a bounded
    // bin-offset join with PARTITION BY bin / shard windows only.
    val wins = windowExecs("q_stats_quantile_merge")
    assert(wins.nonEmpty, "expected windowed ranks in the plan")
    for (w <- wins)
      assert(w.partitionSpec.nonEmpty, s"unpartitioned WindowExec:\n$w")
  }

  test("KMV top-128 is two-phase: data-sized windows shard beyond the group key (round 9)") {
    // Round-8 verdict #4: PARTITION BY grp alone funnels every distinct
    // key into one reducer per group (T≈5). Phase 1 must partition by
    // (group, hash shard); the only single-group windows left run on
    // sketch-sized inputs (<= groups·128 rows).
    for (q <- Seq("q_stats_kmv_sketch", "q_stats_kmv_intersect")) {
      val wins = windowExecs(q)
      assert(wins.exists(_.partitionSpec.size >= 2),
        s"$q: no sharded phase-1 window found")
    }
  }
}
