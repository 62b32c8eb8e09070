package graft.ops

import graft.SparkSpec

/** Pins the physical-plan shapes SCALE.md promises, so a regression that
  * silently changes a plan (lost pushdown, dropped broadcast) fails CI
  * rather than only showing up as a slow bench. */
class PlanShapeSpec extends SparkSpec {

  private def plan(q: String): String = {
    val df = graft.SparkEntry.queries(q)(spark, sf("sf0.001"))
    df.queryExecution.executedPlan.toString
  }

  test("q1_pricing: filter pushed to the scan, partial aggregation present") {
    val p = plan("q1_pricing")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
    assert(p.contains("partial_sum"), p)
    // column pruning: unused orderkey never read
    assert(!p.contains("l_orderkey"), p)
  }

  test("q_join_broadcast: every join is a broadcast join (no shuffle join)") {
    val p = plan("q_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("PushedFilters: [IsNotNull(r_name), EqualTo(r_name,ASIA)"), p)
  }

  test("q_filter_project: predicates pushed, pruned read schema") {
    val p = plan("q_filter_project")
    // (plan toString truncates long filter lists — assert on the
    // untruncated prefix)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount)"), p)
    assert(p.contains("GreaterThanOrEqual(l_shipda"), p)
    assert(!p.contains("l_tax"), p)
  }

  test("sampling family: scans read only the columns each query needs") {
    // hash sampling composes with column pruning - the predicate is a
    // derived expression (not pushable), but the SCAN must still shrink
    // to the referenced columns: PPS never reads text, Bernoulli never
    // reads n_chars/source, the epoch shuffle reads doc_id alone
    val pps = plan("q_sample_pps")
    assert(pps.contains("ReadSchema") && !pps.contains("text"), pps)
    val bern = plan("q_sample_bernoulli")
    assert(!bern.contains("n_chars") && !bern.contains("source"), bern)
    val ep = plan("q_epoch_shuffle")
    assert(ep.contains("struct<doc_id:bigint>"), ep)
  }

  test("q_ivfadc: the ADC LUT projection materializes on a broadcast build side") {
    // the r14 deferred-eval trap, pinned: whole-stage codegen evaluates
    // projected columns at point of USE, so the 1024-multiply per-query
    // LUT fused into the probe→lists fan-out re-evaluates PER OUTPUT
    // PAIR (measured 120 s). The plan contract is that every codebook_dot
    // projection (the LUT + query⋅centroid tables) sits BENEATH a
    // broadcast exchange — a hash relation materializes its rows once at
    // build time. An AQE decision or a hint flip that moves it onto the
    // streamed side fails here by name instead of silently costing 40×.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    val df = Vectors.adcScored(spark, sf("sf0.001"))
    df.collect() // finalize AQE so the walked plan is the executed one
    // (node, inside-a-broadcast-exchange-subtree) pairs for every node
    // whose OWN expressions mention the codebook_dot kernel
    def bearers(p: SparkPlan, inside: Boolean): Seq[(String, Boolean)] = {
      val in = inside || p.isInstanceOf[BroadcastExchangeLike]
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      val self =
        if (p.isInstanceOf[org.apache.spark.sql.execution.ProjectExec] &&
            p.asInstanceOf[org.apache.spark.sql.execution.ProjectExec]
              .projectList.exists(_.toString.contains("codebook_dot")))
          Seq((p.nodeName, in))
        else Seq.empty
      self ++ kids.flatMap(bearers(_, in))
    }
    val found = bearers(df.queryExecution.executedPlan, inside = false)
    assert(found.nonEmpty,
      "no codebook_dot projection found — the LUT pipeline changed shape; " +
        "update this pin alongside it:\n" +
        df.queryExecution.executedPlan.toString)
    val escaped = found.filterNot(_._2)
    assert(escaped.isEmpty,
      s"LUT projection evaluated OUTSIDE a broadcast build side " +
        s"(the 120 s per-pair re-evaluation trap): $escaped\n" +
        df.queryExecution.executedPlan.toString)
  }

  test("q_topk: TakeOrdered, not a global sort") {
    val p = plan("q_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_dedup_pipeline: zero corpus scans — only shared intermediates") {
    // the near-dup subtree (shingle -> prefix -> verify) lives in the
    // session-shared survpairs materialization and the survivors window in
    // the shared cluster table (round 7): the final plan reads NO corpus
    // parquet at all — a rep filter on the cluster intermediate anti-joined
    // against the tiny pair intermediate. Any documents scan = the shared
    // tables have regressed to per-query rebuilds
    val p = plan("q_dedup_pipeline")
    val corpusScans = "documents\\.parquet".r.findAllIn(p).length
    assert(corpusScans == 0, s"expected 0 corpus scans, got $corpusScans:\n$p")
    assert(p.contains("graft-mat-clusters"), p)
    assert(p.contains("graft-mat-survpairs"), p)
  }

  test("q5/q7/q9: selective predicates pushed to their scans, no cartesian") {
    val p5 = plan("q5_local_supplier")
    assert(p5.contains("GreaterThanOrEqual(o_orderdate"), p5)
    assert(p5.contains("LessThan(o_orderdate"), p5)
    assert(p5.contains("EqualTo(r_name,ASIA)"), p5)
    val p7 = plan("q7_cross_nation")
    assert(p7.contains("GreaterThanOrEqual(l_shipdate"), p7)
    val p9 = plan("q9_product_profit")
    assert(p9.contains("StringContains(p_name,widget)"), p9)
    Seq(p5, p7, p9).foreach { p =>
      assert(!p.contains("CartesianProduct"), p)
      // column pruning: the wide lineitem comment/tax columns never read
      assert(!p.contains("l_tax"), p)
    }
  }

  test("q_jaccard_pairs: no cartesian, zero corpus scans — pairs come off the shared tables") {
    // round-2's first cut re-read documents.parquet 17×; the tuned plan
    // reads ONLY the session-shared intermediates (cluster table, survivor
    // pair table, survivor sizes) and candidate generation is equi-join
    // bucketed by shingle hash — never an all-pairs product
    val p = plan("q_jaccard_pairs")
    val corpusScans = "documents\\.parquet".r.findAllIn(p).length
    assert(corpusScans == 0, s"expected 0 corpus scans, got $corpusScans:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    assert(p.contains("graft-mat-survpairs"), p)
    assert(p.contains("graft-mat-clusters"), p)
  }

  test("q_curation_pipeline: no cartesian, corpus scanned at most twice") {
    // the composed pipeline pays ONE narrow corpus pass (filters + scrub)
    // plus the shared dedup/contamination intermediates; a corpus re-scan
    // per stage is the regression this pins against (SCALE.md: at 100 TB
    // each extra scan is the dominant cost)
    val p = plan("q_curation_pipeline")
    val corpusScans = "documents\\.parquet".r.findAllIn(p).length
    assert(corpusScans <= 2, s"expected <=2 corpus scans, got $corpusScans:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("graft-mat-survpairs"), p)
  }

  test("q_cosine_ivf: final plan reads the shared scored frame, never the raw corpus") {
    // r20: the probe+score pass is the session-shared ivfsims artifact;
    // the timed plan is rank-top3 over its parquet scan
    val p = plan("q_cosine_ivf")
    assert(!p.contains("embeddings.parquet"), p)
    assert(p.contains("graft-mat-ivfsims"), p)
  }

  test("q_doc_chunks: chunking is shuffle-free (only the final sort exchanges)") {
    // SCALE.md: chunk generation is a row-local transform+explode — the
    // only exchange allowed is the deterministic-output range sort
    val p = plan("q_doc_chunks")
    assert(!p.contains("hashpartitioning"), p)
    assert(p.contains("rangepartitioning"), p) // the orderBy, nothing else
  }

  test("media audits + CDC chunking: narrow maps — no shuffle before the final sort") {
    // the r13 binary-column families promise "a narrow map over the
    // binary column" (SCALE.md): the only exchange each plan may carry
    // is the final orderBy's range partitioning
    for (q <- Seq("q_multimodal_dims", "q_audio_meta", "q_video_meta",
        "q_cdc_chunks")) {
      val p = plan(q)
      assert(!p.contains("hashpartitioning"), s"$q shuffles:\n$p")
      assert(!p.contains("Join"), s"$q joins:\n$p")
    }
  }

  test("q_cdc_dedup: map-side partial aggregation on the digest key") {
    val p = plan("q_cdc_dedup")
    assert(p.contains("partial_count") || p.contains("partial_"),
      s"no map-side combine:\n$p")
  }

  test("q_join_bucketed: bucket-co-located sort-merge join with no exchange below it") {
    // disable size-based broadcast so the assertion exercises the bucketed
    // layout itself (at real fact×fact scale neither side broadcasts)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = Bucketed.qJoinBucketed(spark, sf("sf0.001"))
      df.collect() // finalize the adaptive plan
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.joins.SortMergeJoinExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => p +: allNodes(a.executedPlan)
        case q: QueryStageExec => p +: allNodes(q.plan)
        case _ => p +: p.children.flatMap(allNodes)
      }
      val nodes = allNodes(df.queryExecution.executedPlan)
      val joins = nodes.collect { case j: SortMergeJoinExec => j }
      assert(joins.nonEmpty, s"expected a sort-merge join:\n${nodes.head}")
      joins.foreach { j =>
        val shuffles = j.children.flatMap(allNodes)
          .collect { case e: ShuffleExchangeLike => e }
        assert(shuffles.isEmpty, s"join input was shuffled:\n$j")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q12: the fact join rides the bucketed layout with no exchange below it") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = Tpch.q12Impl(spark, sf("sf0.001"), bucketed = true)
      df.collect()
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.joins.SortMergeJoinExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => p +: allNodes(a.executedPlan)
        case q: QueryStageExec => p +: allNodes(q.plan)
        case _ => p +: p.children.flatMap(allNodes)
      }
      val nodes = allNodes(df.queryExecution.executedPlan)
      val joins = nodes.collect { case j: SortMergeJoinExec => j }
      assert(joins.nonEmpty, s"expected a sort-merge join:\n${nodes.head}")
      joins.foreach { j =>
        val shuffles = j.children.flatMap(allNodes)
          .collect { case e: ShuffleExchangeLike => e }
        assert(shuffles.isEmpty, s"join input was shuffled:\n$j")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("AQE re-plans a static sort-merge join to broadcast from runtime stats") {
    // static planner sees no broadcastable side (threshold -1); the
    // adaptive threshold stays on, so the runtime size of the filtered
    // orders side (a handful of rows) flips the join to broadcast after
    // the first stage materializes — the 100 TB behavior SCALE.md
    // relies on for selective dimension filters Catalyst can't size
    // up front
    import org.apache.spark.sql.functions.col
    val prevStatic = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val adaptiveKey = "spark.sql.adaptive.autoBroadcastJoinThreshold"
    val prevAdaptive = spark.conf.getOption(adaptiveKey)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(adaptiveKey, "10MB")
    try {
      val li = graft.Tables(spark, sf("sf0.001"), "lineitem")
      val o = graft.Tables(spark, sf("sf0.001"), "orders")
        .filter(col("o_totalprice") > 400000)
      val joined = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").count()
      joined.collect() // finalize the adaptive plan
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
      def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => p +: allNodes(a.executedPlan)
        case q: QueryStageExec => p +: allNodes(q.plan)
        case _ => p +: p.children.flatMap(allNodes)
      }
      val nodes = allNodes(joined.queryExecution.executedPlan)
      assert(nodes.exists(_.isInstanceOf[BroadcastHashJoinExec]),
        s"AQE did not broadcast:\n${nodes.head}")
      assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
        s"sort-merge join survived:\n${nodes.head}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevStatic)
      prevAdaptive match {
        case Some(v) => spark.conf.set(adaptiveKey, v)
        case None => spark.conf.unset(adaptiveKey)
      }
    }
  }

  test("winnow spans/chains ride the shared matches frame, never raw positions") {
    // The 18.6 s fan-out² pathology: joining per-POSITION rows on fp
    // makes a fp at p positions in each doc contribute p×p pair rows.
    // The shipped shape pre-aggregates per-(fp,doc) extents, then both
    // queries read the one shared materialized matches frame — their
    // plans must scan it and must NOT touch the positions table or the
    // corpus (a scan of either = the share or the pre-agg regressed).
    // r20: q_winnow_chains (and q_substring_dedup) moved one artifact
    // further down the line — they scan the shared CHAIN-BLOCK frame
    // (itself built from the matches frame, pinned by the builder test
    // below); q_winnow_spans still reads the matches frame directly
    val shared = Map(
      "q_winnow_spans" -> "graft-mat-winnowmatches",
      "q_winnow_chains" -> "graft-mat-winnowchainblocks",
      "q_substring_dedup" -> "graft-mat-winnowchainblocks")
    for ((q, mat) <- shared) {
      val p = plan(q)
      assert(p.contains(mat), s"$q:\n$p")
      assert(!p.contains("winnowfpspos"), s"$q scans raw positions:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
    assert(!plan("q_winnow_spans").contains("documents.parquet"),
      "q_winnow_spans re-scans the corpus")
    assert(!plan("q_winnow_chains").contains("documents.parquet"),
      "q_winnow_chains re-scans the corpus")
  }

  test("winnowMatches is extent-aggregated: one row per (fp, doc pair)") {
    // the query-plan pin above can't see inside the materialized builder;
    // this is the direct witness that extents were collapsed per (fp,doc)
    // BEFORE the pair join — the fan-out² shape emits duplicate
    // (fp, doc_a, doc_b) rows and fails here
    val m = TextOps.winnowMatches(spark, sf("sf0.001"))
    val n = m.count()
    assert(n > 0)
    assert(n == m.select("fp", "doc_a", "doc_b").distinct().count(),
      "duplicate (fp, doc_a, doc_b) rows: positions reached the pair join")
    // extent columns present (not raw positions)
    assert(m.columns.toSet ==
      Set("fp", "doc_a", "doc_b", "amin", "amax", "bmin", "bmax"))
  }

  test("q_source_cap: runs through TopKPerKeyExec, no window sort") {
    val p = plan("q_source_cap")
    assert(p.contains("TopKPerKey"), p)
    assert(!p.contains("Window"), p)
  }

  test("q_constraints: FK anti-join rides the bucketed layout unshuffled") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = Relational.qConstraints(spark, sf("sf0.001"))
      df.collect()
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.joins.SortMergeJoinExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => p +: allNodes(a.executedPlan)
        case q: QueryStageExec => p +: allNodes(q.plan)
        case _ => p +: p.children.flatMap(allNodes)
      }
      val nodes = allNodes(df.queryExecution.executedPlan)
      // the referential-integrity check is the only sort-merge join in the
      // report; its inputs must come straight off the bucketed scans
      val joins = nodes.collect {
        case j: SortMergeJoinExec if j.joinType.sql == "LEFT ANTI" => j }
      assert(joins.nonEmpty, s"expected a sort-merge anti join:\n${nodes.head}")
      joins.foreach { j =>
        val shuffles = j.children.flatMap(allNodes)
          .collect { case e: ShuffleExchangeLike => e }
        assert(shuffles.isEmpty, s"FK join input was shuffled:\n$j")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q_bloom_join: might_contain prunes the fact scan BEFORE the join") {
    val p = plan("q_bloom_join")
    // the bloom predicate must sit in a Filter on the lineitem scan side,
    // not above the join
    val joinAt = p.indexOf("Join")
    val bloomAt = p.indexOf("might_contain")
    assert(bloomAt >= 0, p)
    assert(joinAt >= 0 && bloomAt > joinAt, // printed below (= before) it
      s"might_contain at $bloomAt vs join at $joinAt:\n$p")
    // and it actually prunes: the bloom passes far fewer fact rows than
    // the full table while never dropping a true match (exact-join row
    // count equals the un-bloomed join's)
    val dir = sf("sf0.001")
    val li = graft.Tables(spark, dir, "lineitem")
    val sel = graft.Tables(spark, dir, "orders")
      .filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT" &&
        org.apache.spark.sql.functions.col("o_totalprice") > 150000)
      .select("o_orderkey")
    val bloom = BloomJoin.bloomOf(sel, "o_orderkey", 1000000L)
    val full = li.count()
    val pruned = li.filter(BloomJoin.mightContain(bloom, "l_orderkey")).count()
    val trueMatches = li.join(sel,
      org.apache.spark.sql.functions.col("l_orderkey") ===
        org.apache.spark.sql.functions.col("o_orderkey")).count()
    assert(pruned >= trueMatches) // no false negatives, ever
    assert(pruned < full / 2, s"bloom pruned $full -> $pruned")
  }
}
