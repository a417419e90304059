package graft

/** Guards the plan properties PLANS.md documents — a regression that
  * loses pushdown, broadcast, or rank-pushdown should fail loudly. */
class PlanQualitySpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q1: shipdate predicate is pushed into the parquet scan") {
    assert(plan("q1_agg").contains("PushedFilters: [IsNotNull(l_shipdate)"))
  }

  test("q3: order-by-limit plans as TakeOrderedAndProject over broadcast joins") {
    val p = plan("q3_shipping")
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("dedup_first: rank pushdown (WindowGroupLimit) below the digest exchange") {
    assert(plan("dedup_first").contains("WindowGroupLimit"))
  }

  test("q1: scan reads only the needed columns") {
    val p = plan("q1_agg")
    assert(p.contains("ReadSchema: struct<l_quantity:double"))
    assert(!p.contains("l_orderkey"))
  }

  test("q7/q8: dimension sides broadcast (no shuffled dim joins)") {
    assert(plan("q7_volume").contains("BroadcastHashJoin"))
    assert(plan("q8_market_share").contains("BroadcastHashJoin"))
  }

  test("q22: lapsed-customer check plans as a broadcast anti-join") {
    val p = plan("q22_idle_customers")
    assert(p.contains("LeftAnti"))
    assert(p.contains("BroadcastHashJoin"))
  }

  test("fused shingle/minhash/bucket expressions stay inside whole-stage codegen") {
    import org.apache.spark.sql.execution.debug.codegenString
    import org.apache.spark.sql.functions.col
    // shingles + minhash signature in one projection over the scan
    val mh = Tables.documents(spark, sf).select("doc_id", "text")
      .select(col("doc_id"),
        graft.plans.MinHashExpressions.minhashSignature(
          graft.plans.TextExpressions.shingles(col("text"), 3), 4).as("mh"))
    val mhCode = codegenString(mh.queryExecution.executedPlan)
    assert(mhCode.contains("Found 1 WholeStageCodegen subtrees"), mhCode.take(200))
    assert(mhCode.contains(".compute("), "generated code should call the fused kernel")
    // hyperplane buckets over the embeddings scan
    val hb = Tables.embeddings(spark, sf)
      .select(graft.plans.LshExpressions.hyperplaneBuckets(col("embedding"), 8, 4, 64))
    val hbCode = codegenString(hb.queryExecution.executedPlan)
    assert(hbCode.contains("Found 1 WholeStageCodegen subtrees"), hbCode.take(200))
  }

  test("pipeline_pack_curve: native global rank feeds one partial-aggregated sweep") {
    val p = plan("pipeline_pack_curve")
    assert(p.contains("GlobalRank"), "prefix sum must be the native range-partitioned exec")
    assert(p.contains("partial_count"), "the sweep aggregate must partial-aggregate map-side")
    // the only unpartitioned exchange is the scalar aggregate's — the
    // corpus itself never funnels through one partition
    assert(!p.contains("Window"), "no window may replace the native rank")
  }

  test("docs_pii_prevalence: regex counts partial-aggregate before one source exchange") {
    val p = plan("docs_pii_prevalence")
    assert(p.contains("partial_count"))
    assert(!p.contains("SinglePartition"), "rollup must shuffle on source, never to one partition")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "the panel is a pure rollup — no join belongs in this plan")
  }

  test("dedup_sorted_neighborhood: no corpus window; adjacency joins stay hash joins") {
    val p = plan("dedup_sorted_neighborhood")
    // the global sort lives in the (checkpointed, once-executed) rank
    // pass — the pair pipeline itself must carry no window at all
    assert(!p.contains("Window"), "no window belongs in the pair pipeline")
    assert(!p.contains("SortMergeJoin"), "rank/token joins must hash-join")
  }

  test("docs_dup_span_coverage: windows partitioned, rollup joins broadcast") {
    val p = plan("docs_dup_span_coverage")
    assert(!p.contains("SortMergeJoin"))
    // both the islands groupBys ride the doc_id window's partitioning —
    // the rollup is the only aggregate exchange after them
    assert(p.contains("partial_count"), "rollup must partial-aggregate map-side")
  }

  test("embeddings_dim_stats: one partial-aggregated pass, no joins") {
    val p = plan("embeddings_dim_stats")
    assert(p.contains("partial_sum"), "moments must partial-aggregate map-side")
    assert(!p.contains("Join"), "the audit is a pure rollup")
    assert(!p.contains("SinglePartition"), "dim rollup shuffles on dim, never to one partition")
  }

  test("ann_ivf_replicated: probe join broadcasts the query side") {
    val p = plan("ann_ivf_replicated")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"),
      "the 20-row query frame must broadcast, not sort-merge")
  }

  test("salted agg: hot key spreads over (event_type, salt); partial combine below both exchanges") {
    val p = plan("events_salted_agg")
    // stage-1 shuffle carries the salt → a hot type occupies `salts`
    // reducers instead of one (THE balance guarantee of the plan)
    assert("hashpartitioning\\(event_type#\\d+, salt#\\d+".r
      .findFirstIn(p).isDefined)
    // map-side combine below it: partial_count over (type, salt)
    assert("HashAggregate\\(keys=\\[event_type#\\d+, salt#\\d+L?\\], functions=\\[partial_count"
      .r.findFirstIn(p).isDefined)
    // the merge stage re-combines map-side too, so the second exchange
    // moves only types×salts pre-aggregated rows
    assert("HashAggregate\\(keys=\\[event_type#\\d+\\], functions=\\[partial_sum"
      .r.findFirstIn(p).isDefined)
  }

  test("split sessionize: local windows keyed by (user, seg); merge window at session grain") {
    val p = plan("events_sessionize_split")
    // stage-1 exchange carries the time segment → a hot user's stream
    // spreads over its active segments instead of one task (THE
    // balance guarantee; the one-window plan hashes user_id alone)
    assert("hashpartitioning\\(user_id#\\d+L?, seg#\\d+L?".r
      .findFirstIn(p).isDefined, s"stage-1 exchange must carry seg:\n$p")
    // the merge window re-partitions by user alone — but only local
    // SESSION rows (post-aggregation) reach it, never events
    assert("hashpartitioning\\(user_id#\\d+L?, 4\\b".r.findFirstIn(p).isDefined ||
      "hashpartitioning\\(user_id#\\d+L?\\)".r.findFirstIn(p).isDefined ||
      "hashpartitioning\\(user_id#\\d+L?,\\s*\\d+\\)".r.findFirstIn(p).isDefined)
    // partial aggregation collapses events to local sessions BEFORE the
    // user-grain exchange
    assert("HashAggregate\\(keys=\\[user_id#\\d+L?, seg#\\d+L?, local_idx#\\d+L?\\], functions=\\[partial_count"
      .r.findFirstIn(p).isDefined, s"local-session rollup must partial-aggregate:\n$p")
  }

  test("distinctUsersAuto: salted plan only for the hot non-combinable shape") {
    val ev = graft.operators.Dedup.eventsUs(spark, sf)
    val hotPlan = graft.operators.Skew
      .distinctUsersAuto(ev, skewX4 = 100.0)
      .queryExecution.executedPlan.toString
    assert("hashpartitioning\\(event_type#\\d+, vsalt#\\d+L?".r
      .findFirstIn(hotPlan).isDefined,
      s"hot non-combinable shape must take the value-salted plan:\n$hotPlan")
    val coldPlan = graft.operators.Skew
      .distinctUsersAuto(ev, skewX4 = 1.0)
      .queryExecution.executedPlan.toString
    assert(!coldPlan.contains("vsalt"),
      "a cold key must take the direct distinct plan")
  }

  test("sessionizeAuto: split plan iff measured-hot; natural stream stays one-window") {
    val ev = graft.operators.Dedup.eventsUs(spark, sf)
    val hotPlan = graft.operators.Skew
      .sessionizeAutoOf(ev, skewX4 = 100.0)
      .queryExecution.executedPlan.toString
    // the split plan's stage-1 exchange carries the time segment
    assert("hashpartitioning\\(user_id#\\d+L?, seg#\\d+L?".r
      .findFirstIn(hotPlan).isDefined,
      s"a measured-hot stream must take the time-segment split plan:\n$hotPlan")
    val coldPlan = graft.operators.Skew
      .sessionizeAutoOf(ev, skewX4 = 1.0)
      .queryExecution.executedPlan.toString
    assert(!coldPlan.contains("seg#"),
      "a uniform stream must take the direct one-window plan")
    // the registered auto query reads its own panel: the natural test
    // stream measures low → the shipped plan is the direct one
    assert(!plan("events_sessionize_auto").contains("seg#"),
      "natural stream must dispatch to the direct plan")
  }

  test("no registered query plans a cartesian product") {
    // crossJoin(broadcast(tiny)) plans as BroadcastNestedLoopJoin — fine;
    // CartesianProductExec means an unintended unbounded pair blow-up.
    // dedup_components is excluded: constructing it runs its iteration.
    SparkEntry.queries.keys.filterNot(_ == "dedup_components").foreach { name =>
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian product")
    }
  }

  private def scanCount(planStr: String, table: String): Int =
    planStr.sliding(s"$table.parquet".length).count(_ == s"$table.parquet")

  test("q21: one lineitem scan (window-over-aggregate, not a second agg branch)") {
    val p = plan("q21_waiting")
    assert(scanCount(p, "lineitem") == 1, s"expected 1 lineitem scan:\n$p")
    assert(scanCount(p, "orders") == 1)
  }

  test("contamination: train corpus is shingled once (two scans total)") {
    // one scan per split (eval / train), filters pushed — a totals
    // branch would add a third documents scan
    assert(scanCount(plan("contamination_ngrams"), "documents") == 2)
  }

  test("inverted index: posting preview is the bounded min-k aggregate") {
    val p = plan("text_inverted_index")
    assert(!p.contains("collect_list"), "posting preview must not buffer O(df)")
    assert(p.contains("kmv_sample"))
  }

  test("anomalies: the per-type fence table broadcasts onto the events scan") {
    assert(plan("events_anomalies").contains("BroadcastHashJoin"))
  }

  test("retention: one events scan (cohort window over the activity frame)") {
    assert(scanCount(plan("events_retention"), "events") == 1)
  }

  test("repetition/novelty: the corpus is tokenized in a single scan") {
    assert(scanCount(plan("text_repetition"), "documents") == 1)
    assert(scanCount(plan("text_novelty"), "documents") == 1)
  }

  test("chunk dedup: rollup + join-back, never a full-stream sort by chunk_h") {
    val p = plan("dedup_chunks")
    // round-16 shape: the chunk stream is derived once (fanOut before
    // the explode, checkpointed — the scan lives BEHIND the checkpoint,
    // so the final plan reads RDD scans), the multi-occurrence hashes
    // come from a partial-aggregable rollup, and firsts resolve on that
    // subset. The former row_number-over-(chunk_h) spelling sorted the
    // WHOLE chunk stream (sort-spilled at sf10: 12.4× for 10× data).
    assert(!p.contains("Window"), s"no window sort of the chunk stream:\n$p")
    // firsts resolve by a partial-aggregated min on the multi-occurrence
    // SUBSET (the multi rollup itself lives behind the occ checkpoint),
    // and join back onto the checkpointed stream — broadcast, since the
    // subset is a sliver of the stream
    assert("functions=\\[partial_min\\(struct\\(doc_id".r.findFirstIn(p).isDefined,
      s"firsts must partial-aggregate map-side:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the firsts sliver must broadcast onto the stream:\n$p")
  }

  test("pattern sessions: one events scan, one user-keyed shuffle") {
    val p = plan("events_pattern_sessions")
    assert(scanCount(p, "events") == 1, s"expected 1 events scan:\n$p")
    // both window passes and the final session aggregate ride the same
    // user_id hash partitioning; only the output sort repartitions again
    assert(hashExchanges(p) == 1, s"expected 1 hash exchange:\n$p")
  }

  private def hashExchanges(p: String): Int =
    p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning")

  test("char stats: pure per-row expressions, no hash exchange") {
    val p = plan("text_char_stats")
    assert(scanCount(p, "documents") == 1)
    assert(hashExchanges(p) == 0, s"expected 0 hash exchanges:\n$p")
  }

  test("top paths: both lead windows and the count ride one user shuffle") {
    val p = plan("events_top_paths")
    assert(scanCount(p, "events") == 1)
    // user-window exchange + the path-count aggregation exchange; the
    // head is a TakeOrdered, never a global sort
    assert(hashExchanges(p) == 2, s"expected 2 hash exchanges:\n$p")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("trimmed mean: rank window, count window and the final aggregate share one type shuffle") {
    val p = plan("events_trimmed_mean")
    assert(scanCount(p, "events") == 1)
    assert(hashExchanges(p) == 1, s"expected 1 hash exchange:\n$p")
  }

  test("attribution: one events scan, one user-keyed shuffle") {
    val p = plan("events_attribution")
    assert(scanCount(p, "events") == 1)
    assert(hashExchanges(p) == 1, s"expected 1 hash exchange:\n$p")
  }

  test("rolling week: daily aggregate then range-frame window, two keyed shuffles") {
    val p = plan("events_rolling_week")
    assert(scanCount(p, "events") == 1)
    assert(hashExchanges(p) == 2, s"expected 2 hash exchanges:\n$p")
  }

  test("bigram coverage: the head joins back as a broadcast, never a shuffle join") {
    val p = plan("text_bigram_coverage")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("profile: the multi-distinct column profile is one expand aggregate over one scan") {
    val p = plan("profile_events")
    assert(scanCount(p, "events") == 1, s"expected 1 events scan:\n$p")
    assert(p.contains("Expand"))
  }

  test("PQ search: every scoring join is a broadcast (codes never shuffle per query)") {
    val p = plan("ann_pq_topk")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), s"PQ scoring must not shuffle-join:\n$p")
  }

  test("mix report: one documents scan (checkpointed aggregate feeds totals AND join)") {
    import org.apache.spark.sql.functions.col
    val df = SparkEntry.queries("source_mix_report")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(scanCount(p, "documents") == 0, // both sides read the checkpointed rows
      s"totals must reuse the checkpointed aggregate, not rescan documents:\n$p")
  }

  test("IVF+PQ search: broadcast scoring; the one shuffle join is the vec_id code/cell zip") {
    val p = plan("ann_ivfpq_topk")
    assert(p.contains("BroadcastHashJoin"))
    // codes ⋈ coarse-cell assignment is the single allowed SMJ: both
    // sides arrive hash-partitioned on vec_id from their own groupBys,
    // so the join reuses those exchanges and adds none of its own —
    // every OTHER join (probe cells, LUTs, norms) must be broadcast
    val smjLines = p.split("\n").filter(_.contains("SortMergeJoin")).map(_.trim).distinct
    assert(smjLines.forall(_.contains("[vec_id")),
      s"unexpected non-vec_id shuffle join:\n${smjLines.mkString("\n")}")
  }

  test("dedup_chain: the native exec runs inside whole-stage codegen") {
    import org.apache.spark.sql.execution.debug.codegenString
    val df = SparkEntry.queries("dedup_chain")(spark, sf)
    df.collect() // AQE materializes codegen stages only at execution
    val code = codegenString(df.queryExecution.executedPlan)
    // the chain state fields only exist in generated code when
    // ChainDedupExec actually fused into a codegen stage
    assert(code.contains("chainCur"), code.take(300))
    assert(plan("dedup_chain").contains("ChainDedup"))
  }

  test("dedup_tumbling: rank pushdown survives the composite (digest, win) key") {
    assert(plan("dedup_tumbling").contains("WindowGroupLimit"))
  }

  test("partition-key filters prune partitions at the scan") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_parts").toString
    spark.range(1000)
      .select(col("id"), (col("id") % 10).as("p"))
      .write.partitionBy("p").mode("overwrite").parquet(dir)
    val table = spark.read.parquet(dir) // file listing snapshot
    val pruned = table.filter(col("p") === 3)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters"), scan.take(400))
    // behavioral proof: vaporize another partition's files AFTER the
    // listing — a pruned scan never touches them, a full scan must.
    new java.io.File(s"$dir/p=7").listFiles().foreach(_.delete())
    assert(pruned.count() === 100)
    intercept[org.apache.spark.SparkException] {
      table.filter(col("id") >= 0).count()
    }
  }

  test("bucketed tables join without any shuffle (co-located join)") {
    import org.apache.spark.sql.functions._
    // force a non-broadcast join so the bucketed (exchange-free) path
    // is what gets planned
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val n = System.nanoTime()
    val (ta, tb) = (s"bk_a_$n", s"bk_b_$n")
    try {
      spark.range(10000).select(col("id").as("k"), (col("id") * 2).as("va"))
        .write.bucketBy(8, "k").sortBy("k").saveAsTable(ta)
      spark.range(5000).select(col("id").as("k"), (col("id") * 3).as("vb"))
        .write.bucketBy(8, "k").sortBy("k").saveAsTable(tb)
      val joined = spark.table(ta).join(spark.table(tb), "k")
      assert(joined.count() === 5000)
      val plan = joined.queryExecution.executedPlan.toString
      // both sides pre-bucketed on the join key → NO exchange anywhere
      assert(!plan.contains("Exchange"), plan.take(500))
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql(s"DROP TABLE IF EXISTS $ta")
      spark.sql(s"DROP TABLE IF EXISTS $tb")
    }
  }

  test("spread: multi-split input passes through with no leading exchange") {
    import graft.Partitioning._
    import org.apache.spark.sql.functions._
    val target = spark.sparkContext.defaultParallelism
    val dir = java.nio.file.Files.createTempDirectory("graft_multisplit").toString
    // many small files → the scan itself yields >= cores partitions
    spark.range(2000).select(col("id").as("doc_id"),
        concat(lit("text for doc "), col("id")).as("text"))
      .repartition(target * 2)
      .write.mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir)
    assert(scan.rdd.getNumPartitions >= target)
    val spreadDf = scan.spread
    // same instance — spread added nothing to the plan
    assert(spreadDf eq scan)
    assert(!spreadDf.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("spread: exchange-bearing plans pass through untouched (no AQE stage runs)") {
    import graft.Partitioning._
    import org.apache.spark.sql.functions._
    val agg = spark.range(1000).groupBy((col("id") % 7).as("k")).count()
    // contract: spread is scan-level only; a plan with an exchange is
    // returned as-is (same instance — the RDD was never probed)
    assert(agg.spread eq agg)
  }

  test("spread: single-split input is rebalanced across all cores") {
    import graft.Partitioning._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_onesplit").toString
    spark.range(100).select(col("id"), lit("x").as("t"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir)
    val spreadDf = scan.spread
    assert(spreadDf.rdd.getNumPartitions === spark.sparkContext.defaultParallelism)
  }

  test("spread: single-ROW-GROUP file with many planned splits is rebalanced") {
    // Parquet cannot split a row group: a fat one-row-group file planned
    // as N byte-range splits yields rows from ONE split only, so the
    // partition-count probe alone is fooled (measured at sf10: the
    // minhash signature pass ran 234.9 s single-core vs 26.9 s parallel).
    // spread must consult the footers and rebalance.
    import graft.Partitioning._
    import org.apache.spark.sql.functions._
    val target = spark.sparkContext.defaultParallelism
    val dir = java.nio.file.Files.createTempDirectory("graft_fatgroup").toString
    spark.range(20000).select(col("id"),
        concat(lit("padding text to make rows wide enough "),
          col("id").cast("string")).as("t"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
      val scan = spark.read.parquet(dir)
      assert(scan.rdd.getNumPartitions >= target,
        "precondition: planner sees plenty of byte-range splits")
      assert(graft.Partitioning.scanRowGroups(scan).contains(1L))
      val spreadDf = scan.spread
      assert(spreadDf ne scan)
      assert(spreadDf.rdd.getNumPartitions === target)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("spread: multi-ROW-GROUP single file passes through; footer count exact") {
    import graft.Partitioning._
    import org.apache.spark.sql.functions._
    val target = spark.sparkContext.defaultParallelism
    val dir = java.nio.file.Files.createTempDirectory("graft_manygroups").toString
    spark.range(20000).select(col("id"),
        concat(lit("padding text to make rows wide enough "),
          col("id").cast("string")).as("t"))
      .coalesce(1).write.mode("overwrite")
      .option("parquet.block.size", "16384") // many small row groups
      .parquet(dir)
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
      val scan = spark.read.parquet(dir)
      val groups = graft.Partitioning.scanRowGroups(scan)
      assert(groups.exists(_ >= target),
        s"precondition: expected >= $target row groups, got $groups")
      assert(scan.rdd.getNumPartitions >= target)
      // enough real read units — no rebalance exchange added
      assert(scan.spread eq scan)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  // The dsir/lexicon pins run against the declared substrates'
  // builders: the registered queries are session-memoized (their final
  // plan is the memo's Scan ExistingRDD), so the scoring plan shape is
  // only visible on the un-memoized builders.
  test("dsir: scoring is one broadcast join + one shuffle (model checkpointed)") {
    val p = Substrate.dsirw.build(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), s"bucket scoring must not shuffle-join:\n$p")
    assert(scanCount(p, "documents") == 1, // training scan is behind the checkpoint
      s"expected only the scoring scan in the final plan:\n$p")
  }

  test("lexicon score: one scoring scan (trained lexicon checkpointed), prior broadcast") {
    val p = Substrate.lexs4.build(spark, sf)
      .queryExecution.executedPlan.toString
    assert(scanCount(p, "documents") == 1,
      s"training consumers must reuse the checkpointed lexicon:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the 1-row prior must broadcast:\n$p")
  }

  test("lm fluency: one scoring scan (pair table checkpointed feeds ctx/v2/join)") {
    val p = plan("text_lm_fluency")
    assert(scanCount(p, "documents") == 1,
      s"ctx/v2/join must reuse the checkpointed pair table:\n$p")
  }

  test("shardAssignments: native global rank over one tokenize pass") {
    val p = graft.operators.Pipeline.shardAssignments(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("GlobalRank"), "the deal must ride the native range-partitioned rank")
    assert(!p.contains("Window"), "no window may replace the native rank")
    assert(scanCount(p, "documents") == 1, s"one tokenize pass only:\n$p")
  }

  test("pipeline_shard_plan: panel reads the checkpointed O(S) rollup only") {
    val p = plan("pipeline_shard_plan")
    assert(scanCount(p, "documents") == 0,
      s"the grand total must come from the O(S) rollup, not a second tokenize:\n$p")
    assert(p.contains("BroadcastExchange"), "the 1-row total must broadcast")
  }

  test("source_divergence: pair stage never rescans the corpus") {
    val p = plan("source_divergence")
    // the (source,term) count frame is narrowed to the vocab and
    // checkpointed upstream — the visible pair join runs on bounded
    // |S|·(V+1) frames and the corpus is aggregated exactly once
    assert(scanCount(p, "documents") == 0, s"dense grid must be checkpointed:\n$p")
    assert(!p.contains("CartesianProduct"), "no unbroadcast cross products")
  }

  test("cluster_prototypicality: means broadcast back over one assignment scan") {
    val p = plan("cluster_prototypicality")
    assert(p.contains("BroadcastHashJoin"), "O(k) means must broadcast, never shuffle the corpus")
    assert(!p.contains("Window"), "banding must not introduce a per-cluster window sort")
  }

  test("events_forecast_error: grid, lags and rollup feed off the checkpointed count frame") {
    val p = plan("events_forecast_error")
    assert(scanCount(p, "events") == 0,
      s"hour range and type set must derive from the count frame:\n$p")
  }

  test("ann_range_search: bucket-join candidates, no cartesian anywhere") {
    val p = plan("ann_range_search")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "candidate generation must be the equi-join on (band, bucket)")
  }

  test("pipeline_zorder_plan: native global rank; domain rides a 1-row broadcast") {
    val p = plan("pipeline_zorder_plan")
    assert(p.contains("GlobalRank"),
      "file cut must use the native range-partitioned rank, not a global window")
    assert(!p.contains("SortMergeJoin"),
      "the only joins are 1-row domain broadcasts")
  }

  test("ann_sq_topk: probe-side broadcast scan over codes, no shuffled joins") {
    val p = plan("ann_sq_topk")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the bounded query set must broadcast over the code scan")
  }

  test("ann_sq_rerank: candidate stage broadcasts; rerank fetch never a cartesian") {
    val p = plan("ann_sq_rerank")
    assert(!p.contains("CartesianProduct"))
    // stage 1 is the same bounded broadcast code scan as ann_sq_topk;
    // stage 2's raw-vector fetch joins the O(q·k·factor) candidate set,
    // with the tiny query side broadcast
    assert(p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("BroadcastHashJoin"),
      "the rerank's query-vector side must broadcast")
  }

  test("ann_ivfsq_topk: broadcast scoring; the one shuffle join is the vec_id code/cell zip") {
    val p = plan("ann_ivfsq_topk")
    assert(!p.contains("CartesianProduct"))
    val smj = "SortMergeJoin".r.findAllIn(p).length
    assert(smj <= 1, s"expected at most the code⋈cell zip as a shuffle join, got $smj:\n$p")
    assert(p.contains("BroadcastHashJoin"), "probes and queries must broadcast")
  }

  test("dedup_cdc_chunks: per-doc windows only; keeper rollup is a hash shuffle") {
    val p = plan("dedup_cdc_chunks")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    // every window sort is keyed (doc_id or chunk_h) — a global
    // Window.orderBy would show as an exchange to a single partition
    assert(!p.contains("SinglePartition"),
      "no operator may funnel the corpus through one partition")
  }

  test("events_benford: one corpus aggregate; grid/constant joins all broadcast") {
    val p = plan("events_benford")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"),
      "the O(types·9) grid joins must broadcast")
  }

  test("generalization ladder: rungs re-aggregate the checkpoint, never rescan") {
    val p = plan("privacy_generalization_ladder")
    // the fine class frame is localCheckpointed once; the 6-rung union
    // must read it (Scan ExistingRDD), not re-scan the events parquet
    assert(!p.contains("FileScan"),
      "a rung re-scanned the corpus instead of the class checkpoint")
    assert(p.contains("Union"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("length-quality grid rides two native GlobalRank passes") {
    val p = plan("docs_length_quality_grid")
    assert("GlobalRank".r.findAllIn(p).length >= 2,
      "both decile axes must use the range-partitioned native rank")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SinglePartition"),
      "deciles must never funnel the corpus through one partition")
  }

  test("capacity/audit panels: keyed shuffles only, no corpus funnel") {
    // the wave-11..16 panels all roll up through uniform keyed shuffles;
    // none may plan a cartesian or push the corpus through one partition
    // (the O(days)/O(bands) final sorts on AGGREGATE rows are exempt —
    // they show as a global Sort over report-sized frames, not corpus)
    Seq("events_key_skew", "dedup_lsh_bucket_profile",
        "docs_shingle_df_profile", "embeddings_exact_dups").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), q)
      assert(!p.contains("SortMergeJoin"), q)
    }
  }

  test("transition quantiles and calibration ride the native rank path") {
    // the native GlobalRank pass either appears inline, or (for the
    // Ranking.groupedQuantiles consumers since round 13) is
    // checkpoint-materialized so its sort runs once — visible as a
    // Scan ExistingRDD feeding the panel instead of the rank node
    Seq("events_transition_quantiles", "quality_calibration_curve").foreach { q =>
      val p = plan(q)
      assert(p.contains("GlobalRank") || p.contains("Scan ExistingRDD"),
        s"$q must use the range-partitioned native rank (inline or checkpointed)")
      assert(!p.contains("percentile"),
        s"$q must not fall back to the buffering percentile aggregate")
      assert(!p.contains("CartesianProduct"), q)
    }
  }

  test("all quantile panels are percentile-free (no reducer group buffering)") {
    // tiny group cardinality × huge population is the executor-OOM
    // shape of the grouped `percentile` aggregate; every quantile
    // panel must ride the range-partitioned Ranking.groupedQuantiles
    Seq("events_anomalies", "lineitem_quantiles",
        "orders_fulfillment_lag", "docs_source_quantiles",
        "orders_repeat_interval", "events_kmv_accuracy").foreach { q =>
      val p = plan(q)
      // since round 13 groupedQuantiles checkpoints its rank pass (it
      // feeds two consumers), so the panel plan reads the materialized
      // rank output rather than an inline GlobalRank node
      assert(p.contains("GlobalRank") || p.contains("Scan ExistingRDD"),
        s"$q must use the range-partitioned native rank (inline or checkpointed)")
      assert(!p.contains("percentile"),
        s"$q must not fall back to the buffering percentile aggregate")
      assert(!p.contains("CartesianProduct"), q)
    }
  }

  test("round-12 panels: no cartesian anywhere") {
    // burstiness/type-drift/novelty/originality/simhash-profile roll
    // up through uniform keyed shuffles (their cumulative windows run
    // over ≤65-row aggregates — the documented exemption); the linkage
    // scorer's only unkeyed join is the 1-row weight broadcast
    Seq("events_burstiness", "events_type_drift", "corpus_ingest_novelty",
        "source_originality", "dedup_simhash_profile",
        "linkage_score_pairs").foreach { q =>
      assert(!plan(q).contains("CartesianProduct"), q)
    }
  }

  test("release report: one broadcast-composed privacy chain, no cartesian") {
    val p = plan("privacy_release_report")
    assert(!p.contains("CartesianProduct"))
    // the O(bands) global marginal and 1-row totals ride broadcasts
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
  }

  test("ttl curve: one digest pass, one ChainDedupExec per grid point") {
    val p = plan("dedup_ttl_curve")
    // the five chains consume the checkpointed digest frame, so the
    // md5 digest projection appears in NO plan (it ran once, before)
    assert(!p.contains("md5"), "digest must be computed once, not per TTL")
    assert("ChainDedup".r.findAllIn(p).size ==
      graft.operators.Dedup.TtlCurveS.size)
    assert(!p.contains("CartesianProduct"))
  }

  test("bloom accuracy: probe side joins the bounded checkpointed filter") {
    val p = plan("dedup_bloom_accuracy")
    // build positions are materialized (≤ Σm rows) — the probe join
    // reads them as an existing relation, not a recomputed subtree
    assert(p.contains("Scan ExistingRDD"))
    assert(!p.contains("CartesianProduct"))
  }

  test("fano spectrum: widths re-aggregate the checkpointed hourly cells") {
    val p = plan("events_fano_spectrum")
    // the raw events scan happened once at checkpoint time — per-width
    // subtrees read the materialized (type, hour) frame
    assert(!p.toLowerCase.contains("filescan parquet") &&
      !p.contains("Scan parquet"),
      "per-width branches must not rescan events")
    assert(p.contains("Scan ExistingRDD"))
  }

  test("trend panels: two-level distributive moments, no cartesian blowup") {
    Seq("events_trend_ols", "privacy_dp_quantiles", "pipeline_group_folds",
        "dedup_savings_report", "ann_ivf_probe_curve").foreach { q =>
      assert(!plan(q).contains("CartesianProduct"), q)
    }
  }
}
