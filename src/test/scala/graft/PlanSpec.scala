package graft

/** Physical-plan shape assertions — the 100 TB posture the operators promise
  * must be visible in the plan, not just the doc comments. */
class PlanSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, d).queryExecution.executedPlan.toString

  test("join_broadcast replicates dims via BroadcastHashJoin (fact side never shuffles)") {
    val p = plan("join_broadcast")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("join_sortmerge keeps SortMergeJoin under the merge hint") {
    assert(plan("join_sortmerge").contains("SortMergeJoin"))
  }

  test("time-range predicate reaches the parquet scan as a pushed filter") {
    val p = plan("filter_time_range")
    assert(p.contains("PushedFilters") && p.contains("GreaterThanOrEqual(ts"),
      s"range not pushed:\n${p.take(1500)}")
  }

  test("delete filter is pushed to the parquet scan, not applied post-scan on derived op_type") {
    val p = plan("filter_optype")
    assert(p.contains("PushedFilters") && p.contains("EqualNullSafe(event_type,error)"),
      s"delete filter not pushed:\n${p.take(1500)}")
  }

  test("funnel stages push their event-type predicates to the scan") {
    // pinned on the frame BUILDERS: the queries read the session-shared
    // checkpoints (Scan ExistingRDD) these plans fill
    val anchors = graft.queries.CdcQueries.buildSignupAnchors(spark, d)
      .queryExecution.executedPlan.toString
    assert(anchors.contains("EqualTo(event_type,signup)"),
      s"signup anchor filter not pushed:\n${anchors.take(1500)}")
    val p = graft.queries.CdcQueries.buildFunnelStages(spark, d)
      .queryExecution.executedPlan.toString
    for (t <- Seq("click", "purchase"))
      assert(p.contains(s"EqualTo(event_type,$t)"),
        s"stage filter $t not pushed:\n${p.take(1500)}")
  }

  test("funnel, conversion-lag and retention read ONE session-persisted stage frame") {
    // the stage frames are session-shared checkpoints: every plan reads the
    // checkpoint blocks and none re-derives a stage (each stage's event
    // scan carries its pushed event_type predicate, so none may appear)
    for (q <- Seq("agg_funnel", "agg_conversion_lag", "agg_retention")) {
      val p = plan(q)
      assert(p.contains("Scan ExistingRDD"),
        s"$q must read the shared checkpointed stage frame:\n${p.take(1500)}")
      for (t <- Seq("signup", "click", "purchase"))
        assert(!p.contains(s"EqualTo(event_type,$t)"),
          s"$q re-derives the $t stage instead of reading the shared frame:\n${p.take(1500)}")
    }
  }

  test("interval overlap join rides the bin equi-key — no nested loop anywhere") {
    val p = plan("join_interval_overlap")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"overlap must equi-join on the bin, not cross-join:\n${p.take(1500)}")
  }

  test("temporal join broadcasts the change-sized dimension; no cartesian product") {
    val p = plan("join_temporal")
    assert(p.contains("BroadcastHashJoin"),
      s"dimension side should broadcast at fixture scale:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"),
      s"interval residual must ride the equi-join, not a cross product:\n${p.take(1500)}")
  }

  test("gap fill: every window is user-partitioned; purchase filter reaches the scan") {
    val p = plan("window_gap_fill")
    // the LOCF fill and the per-day dedup are both per-user windows — an
    // unpartitioned windowspec here would be a data-sized single-task sort
    val specs = "windowspecdefinition\\(".r.findAllMatchIn(p).map(_.end).toSeq
    assert(specs.nonEmpty, s"expected window specs:\n${p.take(1500)}")
    specs.foreach { off =>
      assert(p.substring(off).startsWith("user_id"),
        s"window not partitioned by user_id:\n${p.substring(off - 30, off + 120)}")
    }
    assert(p.contains("EqualTo(event_type,purchase)"),
      s"purchase filter not pushed:\n${p.take(1500)}")
  }

  test("conversion-lag quantiles rank the (lag_sec, n) domain histogram, not the converter frame") {
    // both lag profiles (batch strict-chain, streaming first-event state)
    // must share the scale-safe shape: no global row_number, the one
    // unpartitioned window running over the lag-domain aggregate
    for (q <- Seq("agg_conversion_lag", "stream_conversion_lag")) {
      val p = plan(q)
      assert(!p.contains("row_number"),
        s"$q: global row_number ranking is the 100 TB scale-killer:\n${p.take(2000)}")
      val i = p.indexOf("Window")
      assert(i >= 0, s"$q: expected the cumulative-sum window:\n${p.take(2000)}")
      assert(p.substring(i).contains("keys=[lag_sec"),
        s"$q: the global window must sort the domain histogram (aggregate on " +
          s"lag_sec below it), never the raw converter frame:\n${p.take(2000)}")
    }
  }

  test("partitioned read-back prunes by directory, not by data filter") {
    val p = plan("sink_partitioned")
    assert(p.contains("PartitionFilters") && """PartitionFilters: \[[^\]]*day""".r
      .findFirstIn(p).isDefined,
      s"day predicate must prune partitions:\n${p.take(1500)}")
  }

  test("fuzzy dedup confirms with the BANDED edit distance; length prune never touches text") {
    val p = plan("ext_dedup_fuzzy")
    // the DP must be the threshold overload (O(maxDist·len) band, early
    // exit), never the full O(|a|·|b|) table
    assert("""levenshtein\([^)]*Some\(40\)\)""".r.findFirstIn(p).isDefined,
      s"edit distance not banded:\n${p.take(2000)}")
    // the |len_a − len_b| ≤ maxDist prune must exist AND be evaluated on
    // the int-only length frame — a prune that references the text columns
    // would mean pruned candidates already shipped text
    val absLine = p.linesIterator.find(_.contains("abs((__la"))
    assert(absLine.isDefined, s"length prune missing:\n${p.take(2000)}")
    assert(absLine.get.contains("<= 40") &&
      !absLine.get.contains("__ta") && !absLine.get.contains("__tb"),
      s"length prune must see only lengths, not text: ${absLine.get}")
  }

  test("knn scoring runs the codegen'd dot product, not an interpreted fold") {
    // the registered entry now slices the session-shared exact-top-k
    // calibration checkpoint (the lshKnn-pin precedent), so the pin reads
    // the raw operator at the entry's exact parameterization
    val emb = graft.Tables.embeddings(spark, d)
    val p = graft.operators.Knn.bruteForce(emb,
        emb.filter(org.apache.spark.sql.functions.col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
      .queryExecution.executedPlan.toString
    assert(p.contains("floatdot"))
    assert(!p.contains("aggregate(zip_with"))
  }

  test("point lookup pushes the key predicate to the scan") {
    assert(plan("source_point_lookup").contains("EqualTo(user_id,7)"))
  }

  test("lshKnn attaches band keys inline — the corpus is never shuffled before scoring") {
    // the registered entry now wraps lshKnn in its recall audit (whose
    // localCheckpoint truncates the visible plan), so the pin reads the
    // raw operator at the entry's exact parameterization
    val emb = graft.Tables.embeddings(spark, d)
    val p = graft.operators.Knn.lshKnn(emb,
        emb.filter(org.apache.spark.sql.functions.col("vec_id") < 10),
        "vec_id", "embedding", k = 5, bands = 16, bitsPerBand = 6)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"))
    // band keys are a per-row expression (no aggregation + join-back to
    // assign); the only shuffles are candidate-pair dedupe and the ranking
    // window, both keyed downstream of the broadcast join
    val shuffles = p.split("Exchange hashpartitioning").length - 1
    assert(shuffles <= 2, s"corpus side shuffled for bucket assignment:\n${p.take(2000)}")
  }

  test("stratified sampling is a pure filter — zero exchanges, nothing but the scan") {
    val p = plan("ext_sample_stratified")
    assert(!p.contains("Exchange hashpartitioning"),
      s"sampling shuffled:\n${p.take(1500)}")
  }

  test("lang-id counts all languages in ONE fused scan that the optimizer doesn't re-inline") {
    // CollapseProject must keep the multi-set count in its own projection
    // (it is referenced once per language); an inlined copy per reference
    // would undo the single-scan fusion
    val p = plan("ext_lang_id")
    assert(p.split("multitokensetcount").length - 1 == 1,
      s"fused scan duplicated per language:\n${p.take(2000)}")
  }

  test("semdedup candidates come from the cell equi-join, never an all-pairs product") {
    val p = plan("ext_sim_semdedup")
    assert(!p.contains("CartesianProduct"),
      s"within-cell pairing degenerated to all-pairs:\n${p.take(2000)}")
  }

  test("weighted sampling is a pure filter — zero exchanges, nothing but the scan") {
    val p = plan("ext_sample_weighted")
    assert(!p.contains("Exchange hashpartitioning"),
      s"sampling shuffled:\n${p.take(1500)}")
  }

  test("policy filter is row-local — zero exchanges, one corpus scan") {
    val p = plan("ext_filter_policy")
    assert(!p.contains("Exchange hashpartitioning"),
      s"policy battery shuffled:\n${p.take(1500)}")
    assert(p.split("Scan parquet").length - 1 == 1)
  }

  test("window packing shuffles once on shard; the running sum is one window over it") {
    val p = plan("ext_pack_windows")
    val shuffles = p.split("Exchange hashpartitioning").length - 1
    assert(shuffles == 1, s"packing needs exactly the shard exchange:\n${p.take(2000)}")
  }

  test("BPE encode is one codegen'd per-row pass — zero hash exchanges, no UDF eval") {
    val p = plan("ext_bpe_encode")
    assert(!p.contains("Exchange hashpartitioning"),
      s"encode shuffled the corpus:\n${p.take(1500)}")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"encode must be an Expression, not a UDF:\n${p.take(1500)}")
  }

  test("BPE-count packing keeps the one-shard-exchange pack plan") {
    val p = plan("ext_pack_windows_bpe")
    val shuffles = p.split("Exchange hashpartitioning").length - 1
    assert(shuffles == 1, s"count swap must not add exchanges:\n${p.take(2000)}")
  }

  test("tf-idf computes tf once — both the df rollup and the join probe read the persisted aggregate") {
    val p = plan("ext_tfidf_terms")
    // the tf aggregate is cached, so the df side and the probe side are
    // InMemoryTableScans over ONE computation (a raw string count of
    // 'Scan parquet' double-counts the plan printed inside the cache);
    // df itself is a join-back, not a term window — a Zipf-hot term's
    // window partition would be an unsplittable straggler at scale
    assert(p.contains("InMemoryTableScan"), s"tf not persisted:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("token quantiles cost exactly one exchange — both windows share the stratum partitioning") {
    val p = plan("ext_token_quantiles")
    val shuffles = p.split("Exchange hashpartitioning").length - 1
    assert(shuffles == 1, s"expected the one stratum exchange:\n${p.take(2000)}")
  }

  test("redelivery dedup is one hash-aggregate shuffle on the event id") {
    val p = plan("stream_dedup")
    val shuffles = p.split("Exchange hashpartitioning").length - 1
    assert(shuffles == 1, s"expected one dedup exchange:\n${p.take(2000)}")
  }

  test("SCD2 replay collapses the doubled delivery in the merge's one event-id exchange") {
    val p = plan("stream_scd2")
    val onEventId = p.split("Exchange hashpartitioning\\(event_id").length - 1
    assert(onEventId == 1, s"expected the merge's one event_id exchange:\n${p.take(2500)}")
  }

  test("dedup keep anti-joins the corpus against a broadcast drop list") {
    val p = plan("ext_dedup_keep")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"drop list should broadcast, corpus side must not shuffle:\n${p.take(2000)}")
  }

  test("prep audit pays exactly the pipeline's own digest exchange, nothing more") {
    val p = plan("ext_prep_audit")
    val shuffles = p.split("Exchange hashpartitioning").length - 1
    assert(shuffles == 1, s"audit should cost one digest window:\n${p.take(2000)}")
  }

  test("corpus prep composes to exactly two hash exchanges: digest and shard") {
    val p = plan("ext_corpus_prep")
    val shuffles = p.split("Exchange hashpartitioning").length - 1
    assert(shuffles == 2,
      s"dedup digest + pack shard should be the only hash exchanges:\n${p.take(2500)}")
  }

  test("LSH near-dup plans with equi-joins only — no cartesian product anywhere") {
    val p = plan("ext_sim_neardup_lsh")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"quadratic join in the scale path:\n${p.take(1500)}")
    // the exact form IS the documented quadratic oracle baseline
    assert(plan("ext_sim_neardup").contains("NestedLoopJoin"))
  }

  test("salted join runs on (key, salt) — the hot key actually spreads") {
    val p = plan("join_skew_salted")
    assert(p.contains("user_id") && p.contains("__salt"),
      s"salt missing from the join keys:\n${p.take(2000)}")
    assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("range join broadcasts the pre-aggregated build side, not the exploded probe") {
    val p = plan("join_range")
    assert(p.contains("BroadcastHashJoin") && p.contains("BuildRight"),
      s"probe side must stay in place:\n${p.take(2000)}")
  }

  test("split assignment and PII scan are pure per-row plans — zero exchanges") {
    for (name <- Seq("ext_split_assign", "ext_text_pii")) {
      val p = plan(name)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$name shuffled:\n${p.take(1500)}")
    }
  }

  test("int8 quantization is row-local — zero exchanges, HOFs only") {
    val p = plan("ext_embed_quantize")
    assert(!p.contains("Exchange hashpartitioning"),
      s"quantization shuffled:\n${p.take(1500)}")
    assert(!p.contains("Generate"), s"quantization exploded the vector:\n${p.take(1500)}")
  }

  test("doc chunking is a per-row explode — zero exchanges before the output sort") {
    val p = plan("ext_chunk_docs")
    assert(!p.contains("Exchange hashpartitioning"),
      s"chunking shuffled:\n${p.take(1500)}")
    assert(p.contains("Generate explode"), s"chunks must fan out inline:\n${p.take(1500)}")
  }

  test("mix plan is one aggregate joined to a broadcast 1-row total") {
    val p = plan("ext_mix_plan")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"total must broadcast:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"), s"1-row join must not cartesian:\n${p.take(1500)}")
  }

  test("shuffle-shard plan costs exactly the one shard exchange") {
    val p = plan("ext_shuffle_shard")
    val shuffles = p.split("Exchange hashpartitioning").length - 1
    assert(shuffles == 1, s"expected one shard exchange:\n${p.take(2000)}")
  }

  test("bigram counts aggregate map-side before the one bigram exchange") {
    val p = plan("ext_ngram_counts")
    val shuffles = p.split("Exchange hashpartitioning").length - 1
    // distinct-doc df forces the (bigram, doc) pre-aggregate: two keyed
    // exchanges total, both carrying one row per distinct group
    assert(shuffles <= 2, s"bigram counting over-shuffles:\n${p.take(2000)}")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must not global-sort:\n${p.take(1500)}")
  }

  test("simhash fingerprints come from the row-local expression — no explode, no shuffle before banding") {
    val p = plan("ext_dedup_simhash")
    assert(p.contains("simhash64"), s"expression missing:\n${p.take(1500)}")
    assert(!p.contains("Generate explode(array_distinct"),
      s"fingerprint still fans out tokens:\n${p.take(1500)}")
  }

  test("duplicate spans pre-aggregate gram counts map-side — no sort of the positional rows") {
    val p = plan("ext_dedup_spans")
    // static plan: partial-agg exchange on the hash + probe-side exchange
    // (AQE elides it when the dup set broadcasts, the realistic case) +
    // the doc_id islands exchange. A count-window design would instead
    // SORT every positional row on the hash (part of the 7.6x combined
    // win measured at sf0.1; see Dedup.duplicateSpans).
    val shuffles = p.split("Exchange hashpartitioning").length - 1
    assert(shuffles <= 3, s"positional rows over-shuffle:\n${p.take(2000)}")
    assert(p.contains("partial_count") || p.contains("partial count") ||
      p.contains("HashAggregate"), s"df must come from a partial aggregate:\n${p.take(2000)}")
    assert(!p.contains("Window") || p.indexOf("Window") > p.indexOf("HashAggregate"),
      s"hash-df window still present:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("pq assignment is a per-row projection against literal codebooks — zero hash exchanges") {
    val p = plan("ext_embed_pq")
    assert(!p.contains("Exchange hashpartitioning"),
      s"corpus shuffled for code assignment:\n${p.take(1500)}")
    assert(!p.contains("Join"), s"centroids must ride as literals, not a join:\n${p.take(1500)}")
  }

  test("greedy packing costs one shard exchange and no window sort machinery") {
    val p = plan("ext_pack_greedy")
    val shuffles = p.split("Exchange hashpartitioning").length - 1
    assert(shuffles == 1, s"expected only the shard exchange:\n${p.take(2000)}")
    assert(!p.contains("Window"), s"greedy fill must not plan a window:\n${p.take(1500)}")
  }

  test("mix application explodes copies past a broadcast factor join — corpus never shuffles") {
    val p = plan("ext_mix_apply")
    assert(p.contains("BroadcastHashJoin"), s"factor table must broadcast:\n${p.take(1500)}")
    // the tiny per-lang aggregate plans twice (factor numerator + the 1-row
    // total reuses it) — both lang-keyed and lang-sized; the corpus side
    // itself must contribute NO exchange
    val shuffles = p.split("Exchange hashpartitioning").length - 1
    assert(shuffles <= 2, s"corpus shuffled for copy fan-out:\n${p.take(2000)}")
  }

  test("packed window text is one grouped concat past the greedy pass") {
    val p = plan("ext_pack_text")
    assert(!p.contains("CartesianProduct"))
    // shard exchange (greedy) + doc_id join + (shard, window) aggregate
    val shuffles = p.split("Exchange hashpartitioning").length - 1
    assert(shuffles <= 3, s"window concat over-shuffles:\n${p.take(2000)}")
  }

  test("gopher rule battery is one row-local scan — zero exchanges") {
    val p = plan("ext_quality_gopher")
    assert(!p.contains("Exchange hashpartitioning"),
      s"gopher rules shuffled:\n${p.take(1500)}")
  }

  test("batch-bucket plan is one map-side-combined aggregate — no data-sized shuffle") {
    val p = plan("ext_batch_buckets")
    // the only hash exchange carries the ~7 bucket_cap partial-agg rows
    val shuffles = p.split("Exchange hashpartitioning").length - 1
    assert(shuffles === 1, s"bucket rollup over-shuffles:\n${p.take(2000)}")
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      s"no partial aggregation before the exchange:\n${p.take(1500)}")
  }

  test("temperature mix totals ride a broadcast — the per-stratum frame never re-shuffles wide") {
    val p = plan("ext_mix_temperature")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"1-row total must broadcast:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("BPE pair counting aggregates token tf BEFORE the symbol-pair explode") {
    val p = plan("ext_bpe_pairs")
    // corpus-sized work is the tf aggregate; the explode consumes its
    // output (vocab), so Generate must sit above the first HashAggregate
    val gen = p.indexOf("Generate explode")
    val agg = p.lastIndexOf("HashAggregate")
    assert(gen >= 0 && agg > gen,
      s"pair explode must run over the aggregated vocab, not raw tokens:\n${p.take(2000)}")
  }

  test("purity audit self-joins on cluster_id with equi-joins only") {
    val p = plan("ext_dedup_purity")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"member pairing must be the cluster_id equi-join:\n${p.take(2000)}")
  }

  test("grouped top-k: every ranking window is partitioned (salted or by group) — no global sort frame") {
    val p = plan("sort_topk_group")
    val specs = "windowspecdefinition\\(".r.findAllMatchIn(p).map(_.end).toSeq
    assert(specs.nonEmpty, s"expected window specs:\n${p.take(1500)}")
    specs.foreach { off =>
      assert(p.substring(off).startsWith("event_type"),
        s"ranking window must be event_type-partitioned:\n${p.substring(off - 30, off + 120)}")
    }
  }

  test("ntile and autocorr stay on calendar-bounded frames; autocorr pairs via equi-join") {
    val pn = plan("window_ntile")
    val specs = "windowspecdefinition\\(".r.findAllMatchIn(pn).map(_.end).toSeq
    assert(specs.nonEmpty && specs.forall(off => pn.substring(off).startsWith("event_type")),
      s"ntile window must be event_type-partitioned:\n${pn.take(1500)}")
    val pa = plan("window_autocorr")
    assert(!pa.contains("CartesianProduct"),
      s"lagged pairing must be the (type, day-lag) equi-join:\n${pa.take(2000)}")
  }

  test("grouping sets run as ONE Expand pass") {
    val p = plan("agg_grouping_sets")
    assert(p.contains("Expand"), s"expected Expand-based lattice:\n${p.take(1500)}")
  }

  test("perplexity trainer and scorer share ONE persisted (doc, bigram) tf frame") {
    assert(plan("ext_lm_perplexity").contains("InMemoryTableScan"),
      "tf frame must be session-persisted and shared, not recomputed per reader")
  }

  test("unigram encode is one codegen'd per-row pass — zero hash exchanges, no UDF eval") {
    val p = plan("ext_unigram_encode")
    assert(!p.contains("Exchange hashpartitioning"),
      s"encode shuffled the corpus:\n${p.take(1500)}")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"encode must be an Expression, not a UDF:\n${p.take(1500)}")
  }

  test("hard-negative mining rides the broadcast query join — no cartesian product") {
    val p = plan("ext_sample_hardneg")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"queries must broadcast:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"), s"no cross product:\n${p.take(1500)}")
  }

  test("referential-integrity audit joins child to parent keyset on the order key") {
    val p = plan("reconcile_refint")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"orphan check must be the orderkey equi-join:\n${p.take(1500)}")
  }

  test("value quantiles: the only window runs over the (type, cents) domain histogram") {
    val p = plan("agg_value_quantiles")
    val specs = "windowspecdefinition\\(".r.findAllMatchIn(p).map(_.end).toSeq
    assert(specs.nonEmpty, s"expected the cumulative window:\n${p.take(1500)}")
    specs.foreach { off =>
      assert(p.substring(off).startsWith("event_type"),
        s"cumulative window must be type-partitioned over the histogram:\n${p.substring(off - 30, off + 120)}")
    }
  }

  test("phrase search reads one persisted postings frame; no cartesian product") {
    val p = plan("ext_phrase_search")
    assert(p.contains("InMemoryTableScan"),
      s"the three legs must read the shared postings persist:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"),
      s"leg alignment must be the (doc_id, pos) equi-join:\n${p.take(2000)}")
  }

  test("prefix templates aggregate a row-local key: no joins, scan pruned to 3 columns") {
    val p = plan("ext_prefix_dup")
    assert(!p.contains("Join"), s"one linear group-by, no pair frame:\n${p.take(1500)}")
    assert(p.contains("ReadSchema") &&
      p.contains("struct<doc_id:bigint,text:string,source:string>"),
      s"scan must read exactly (doc_id, text, source):\n${p.take(1500)}")
  }

  test("split PSI touches the corpus once: one scan, totals ride the bin frame's window") {
    val p = plan("ext_split_psi")
    assert(p.split("Scan parquet").length - 1 == 1,
      s"exactly ONE corpus scan (window totals, no crossJoin re-read):\n${p.take(1500)}")
    assert(p.contains("ReadSchema") && p.contains("struct<doc_id:bigint,text:string>"),
      s"scan must prune to (doc_id, text):\n${p.take(1500)}")
  }

  test("session-path trigrams ride ONE user-keyed exchange; every window is user-partitioned") {
    val p = graft.queries.CdcQueries.buildSessionTrigrams(spark, d)
      .queryExecution.executedPlan.toString
    // exactly two hash exchanges: user_id feeding the window stack, then
    // the |types|³-bounded path aggregate — nothing corpus-sized past them
    val keys = """Exchange hashpartitioning\((\w+)""".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(keys.count(_ == "user_id") == 1 && keys.size == 2,
      s"expected one user_id + one path exchange, got $keys:\n${p.take(2000)}")
    val specs = "windowspecdefinition\\((\\w+)".r.findAllMatchIn(p).map(_.group(1)).toSet
    assert(specs == Set("user_id"),
      s"every window must partition by user_id, got $specs")
  }

  test("session-path top-k never globally sorts — TakeOrdered on the bounded path frame") {
    val p = plan("agg_session_paths")
    assert(p.contains("TakeOrderedAndProject"), s"top-k not TakeOrdered:\n${p.take(1500)}")
    assert(!p.contains("Scan parquet"),
      s"final ranking must read the checkpointed path counts, not the corpus:\n${p.take(1500)}")
  }

  test("url dedup: canonicalization is row-local; the scan prunes to (doc_id, source)") {
    val p = plan("ext_dedup_url")
    assert(p.contains("struct<doc_id:bigint,source:string>"),
      s"scan must prune to (doc_id, source):\n${p.take(1500)}")
    // shuffles carry only short keys: canon_url aggregate (+ its distinct
    // expand) and the host-window rollup — nothing corpus-sized or text-
    // bearing; no join of the corpus back to anything
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"grouping must not join the corpus:\n${p.take(1500)}")
  }

  test("silhouette and outlier QC run their assignment kernel ONCE (checkpointed slim frame)") {
    for (q <- Seq("ext_sim_silhouette", "ext_embed_outliers")) {
      val p = plan(q)
      // the corpus scan + kernel happened once at checkpoint time; both
      // readers (rollup + join probe) see only the slim ExistingRDD
      assert(!p.contains("Scan parquet"),
        s"$q must reuse the checkpointed assignment:\n${p.take(1500)}")
      assert(p.contains("BroadcastHashJoin"),
        s"$q cell rollup must broadcast back:\n${p.take(1500)}")
      assert(!p.contains("SortMergeJoin"))
    }
  }

  test("textrank iterations reuse the checkpointed adjacency, never re-deriving the corpus") {
    val p = plan("ext_textrank")
    // 3 sweeps over an ExistingRDD (the localCheckpoint) — the corpus scan
    // happened once at checkpoint time and is absent from the final plan
    assert(!p.contains("Scan parquet"),
      s"iterations must read the checkpointed edges, not the corpus:\n${p.take(1500)}")
  }

  test("winnow summary is one codegen'd scan — zero hash exchanges, no UDF") {
    val p = plan("ext_dedup_winnow")
    assert(!p.contains("Exchange hashpartitioning"),
      s"the per-doc summary must be row-local:\n${p.take(1500)}")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"winnow must be an Expression, not a UDF:\n${p.take(1500)}")
    assert(p.split("Scan parquet").length - 1 == 1)
  }

  test("winnow pairs self-join reads the persisted capped index on both sides") {
    val p = plan("ext_dedup_winnow_pairs")
    SessionFrames.release(spark)
    // the winnow kernel scan and the df-window fold into the persisted
    // frame — both join branches are InMemoryTableScans (the embedded
    // InMemoryRelation dump still prints the cached plan's parquet scan,
    // so the pin counts cache reads, not scan absence)
    assert(p.split("InMemoryTableScan").length - 1 >= 2,
      s"both join branches must read the persisted capped set:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("changepoint rank: the D² pair join runs on the checkpointed day frame — ONE corpus scan") {
    val p = plan("agg_changepoint")
    // the calendar-bounded daily frame is checkpointed up front (that one
    // job holds the only corpus scan); the stats leg and both sides of the
    // exact-rational rank join read the checkpoint back — the rank plan
    // itself never touches the parquet
    assert(p.split("Scan parquet").length - 1 == 0,
      s"the pair rank must not re-scan the corpus:\n${p.take(2000)}")
    assert(p.contains("Scan ExistingRDD"),
      s"rank inputs must be the checkpointed day frame:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("changepoint tree: the sequential binseg runs over the daily aggregate, never raw events") {
    val p = plan("agg_changepoint_tree")
    // exactly one grouped recurrence task (flatMapGroups prints as
    // MapGroups), and the frame feeding it is the map-side-combined day
    // aggregate — the recurrence input is D rows, not the corpus
    assert(p.contains("MapGroups"), s"tree must be one recurrence pass:\n${p.take(2000)}")
    val below = p.substring(p.indexOf("MapGroups"))
    assert(below.contains("HashAggregate") && below.contains("partial_count"),
      s"the recurrence must consume the daily aggregate:\n${below.take(1500)}")
    assert(p.split("Scan parquet").length - 1 == 1)
  }

  test("t-closeness: every rollup reads the checkpointed class grid; the lattice is a broadcast cross — no corpus rescan") {
    val p = plan("agg_t_closeness")
    // the class slice's one corpus scan happens at the grid checkpoint; the
    // class/bucket/lattice/stats legs all read it back (C×B lattice via
    // BroadcastNestedLoopJoin over the B-row cumsum frame is the intended
    // cross — never a CartesianProduct over data-sized frames)
    assert(p.split("Scan parquet").length - 1 == 0,
      s"the report must not re-scan events:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"),
      s"the lattice cross must broadcast:\n${p.take(2000)}")
  }

  test("multimodal dedup: pair candidates ride the (band, key) equi-join; no cartesian anywhere") {
    val p = plan("ext_multimodal_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"phash pairs must bucket-join, not cross:\n${p.take(2000)}")
  }

  test("streaming multimodal dedup replay: pairs ride the (band, key) equi-join off the ONE decoded checkpoint") {
    val p = plan("stream_multimodal_dedup")
    // the doubled hash delivery is collapsed on the checkpointed decode
    // frame (Scan ExistingRDD) — the md5-per-gram decode never re-runs per
    // probe side — and candidates come from the band-key equi-join, never
    // a cross product
    assert(p.contains("Scan ExistingRDD"),
      s"hash frame must be the session checkpoint:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"),
      s"band probe must equi-join, not cross:\n${p.take(2000)}")
  }

  test("recall curve: all four tier audits read the ONE checkpointed exact frame; floor grid joins stay local") {
    val p = plan("ext_sim_recall_curve")
    // the exact top-k is checkpointed once (Scan ExistingRDD) and joined
    // by all four tiers; the only parquet scans are the ANN tiers' corpus
    // passes + their broadcast query sides
    assert(p.contains("Scan ExistingRDD"),
      s"exact frame must be the checkpoint:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("pack diversity: every rollup rides the pack's ONE shard exchange — shard ⊆ every aggregate key") {
    val p = plan("ext_pack_diversity")
    // one corpus scan, one hash exchange (the pack shuffle); the window,
    // the span explode and BOTH rollups keep shard in their keys so the
    // existing hashpartitioning(shard) satisfies them with no re-shuffle
    // (the final range exchange is the orderBy's, not a data shuffle)
    assert(p.split("Scan parquet").length - 1 == 1,
      s"one documents scan expected:\n${p.take(2000)}")
    assert(p.split("hashpartitioning").length - 1 == 1,
      s"rollups must reuse the shard partitioning:\n${p.take(2000)}")
  }

  test("MMR candidates: one LongDots-scored corpus pass, vectors rejoin after the cut — no fan-out") {
    val p = graft.operators.Knn.mmrCandidates(
      Tables.embeddings(spark, d), "vec_id", "embedding", nQueries = 10, m = 25)
      .queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("longdots"),
      s"candidate scoring must go through the LongDots kernel:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no all-pairs expansion anywhere:\n${p.take(2000)}")
    // the scoring pass reads the corpus once; the post-cut vector rejoin
    // reads it once more — never a per-query re-read
    assert(p.split("Scan parquet").length - 1 <= 2,
      s"candidate generation must not re-scan per query:\n${p.take(2000)}")
  }

  test("IVF-probed MMR candidates: the probe list is a BROADCAST semi-join on the single scored scan") {
    val p = graft.operators.Knn.mmrIvfCandidates(
      Tables.embeddings(spark, d), "vec_id", "embedding", nQueries = 10, m = 25,
      nCells = graft.queries.ExtQueries.IvfCells,
      iters = graft.queries.ExtQueries.IvfIters,
      sampleN = graft.queries.ExtQueries.IvfSampleN,
      nProbe = graft.queries.ExtQueries.IvfProbe)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"probe membership must be a broadcast semi-join:\n${p.take(2000)}")
    assert(p.toLowerCase.contains("longdots"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("dsir weights: one persisted tf frame feeds scoring; the LM model is checkpointed, never re-aggregated") {
    val p = plan("ext_dsir_weights")
    SessionFrames.release(spark)
    // the (doc, token) tf frame is session-persisted and the vocab-sized
    // model rides a checkpoint — scoring must read those, not re-run the
    // explode or rebuild per-LM counts (the pre-round-15 shape paid 4
    // exchanges for the same vocab frame)
    assert(p.contains("InMemoryTableScan"),
      s"scoring must read the persisted tf frame:\n${p.take(2000)}")
    assert(p.contains("Scan ExistingRDD"),
      s"the model must be the checkpointed counts frame:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("embed drift: one corpus scan into the per-dimension aggregate; the rank window rides the dim frame") {
    val p = plan("ext_embed_drift")
    assert(p.split("Scan parquet").length - 1 == 1,
      s"drift must touch the corpus once:\n${p.take(2000)}")
    // the only Window is the drift ranking, and it sits ABOVE the
    // dim-keyed aggregate (plans print parent-first) — it orders a
    // DIM-bounded frame, never the corpus
    assert(p.contains("Window"))
    assert(p.indexOf("Window") < p.indexOf("HashAggregate"),
      s"rank window must consume the per-dim aggregate:\n${p.take(2000)}")
  }

  test("matryoshka candidate scoring runs the codegen'd literal-matrix kernel") {
    // (ext_sim_mmr shares the kernel but its final frame is the
    // driver-side greedy rerank's LocalTableScan — the scoring plan is
    // consumed inside the bounded collect, so only the fully-declarative
    // matryoshka audit can pin it)
    val p = plan("ext_embed_matryoshka")
    assert(p.toLowerCase.contains("longdots"),
      s"prefix scoring must go through the LongDots kernel:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"),
      s"the audit must never expand all pairs:\n${p.take(2000)}")
  }

  test("bench-timed row kernels run inside a WholeStageCodegen stage") {
    import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    // one Boolean per plan node that evaluates `kernel`: is it in a stage?
    def sites(p: SparkPlan, kernel: String, inStage: Boolean): Seq[Boolean] = p match {
      case a: AdaptiveSparkPlanExec => sites(a.executedPlan, kernel, inStage)
      case q: QueryStageExec => sites(q.plan, kernel, inStage = false)
      case w: WholeStageCodegenExec => sites(w.child, kernel, inStage = true)
      case i: InputAdapter => sites(i.child, kernel, inStage = false)
      case _ =>
        val here = p.expressions.exists(_.exists(_.prettyName == kernel))
        (if (here) Seq(inStage) else Nil) ++ p.children.flatMap(sites(_, kernel, inStage))
    }
    for ((query, kernel) <- Seq(
      "ext_embed_quantize" -> "int8quantstats",
      "ext_text_repetition" -> "tokenrepetitionstats",
      "ext_quality_gopher" -> "gophertokenstats",
      "ext_pack_windows" -> "bpecount")) {
      val df = SparkEntry.queries(query)(spark, d)
      df.collect() // the final adaptive plan holds the codegen stages
      val found = sites(df.queryExecution.executedPlan, kernel, inStage = false)
      assert(found.nonEmpty && found.forall(identity),
        s"$query: $kernel outside a codegen stage:\n${df.queryExecution.executedPlan}")
    }
  }
}
