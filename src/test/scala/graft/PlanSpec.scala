package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan hygiene: the properties that make these operators
  * scale are asserted here, so a regression in pruning / pushdown /
  * broadcast / partial aggregation fails CI rather than only showing
  * up as a 100 TB slowdown.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  private def plan(name: String): String =
    plan(SparkEntry.queries(name)(spark, sf))

  test("CDC envelope prunes the events scan to referenced columns") {
    val p = plan("q_cdc_changes")
    // `value` (DOUBLE) is never referenced — it must not be read
    assert(p.contains("ReadSchema"))
    assert(!p.contains("value"), "unreferenced events column was scanned")
  }

  test("regex filter reaches the scan as a pushed/early filter, not post-decode") {
    val p = plan("q_cdc_regex_filter")
    // the rlike filter must sit directly on the scan (deeper in the
    // printed tree = earlier in execution), never after the envelope
    // projection — reference parity with the pre-decode regex prune
    // (main.rs:260-262)
    val filterIdx = p.indexOf("Filter")
    val projectIdx = p.indexOf("Project")
    assert(filterIdx >= 0 && (projectIdx < 0 || filterIdx > projectIdx),
      s"filter not ahead of projection:\n$p")
  }

  test("brute-force top-k broadcasts the query side; corpus never shuffles") {
    val p = plan("q_sim_topk")
    assert(p.contains("BroadcastExchange"), s"no broadcast in:\n$p")
    // the only non-broadcast exchanges allowed are for the final
    // top-k window + output ordering, both AFTER the join
    val joinIdx = p.indexOf("BroadcastNestedLoopJoin") max p.indexOf("BroadcastHashJoin")
    assert(joinIdx >= 0)
  }

  test("IVF assignment broadcasts the centroid table") {
    assert(plan("q_sim_ivf").contains("BroadcastExchange"))
  }

  test("centroid assignment uses the native picks; the L2 pick stays in whole-stage codegen") {
    // the cosine pick feeds an explode, so it lives in the Generate
    // operator (not WSCG-fused, but the pick itself is one compiled
    // method per row instead of the interpreted struct sort it
    // replaced); the PQ code pick has no generator and its projection
    // must be a starred (codegen'd) operator
    val ivf = SparkEntry.queries("q_sim_ivf")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(ivf.contains("arg_top_m_cos"), "native cos pick not in the plan")

    // AQE prints the pre-execution plan without WSCG stars — disable
    // it so CollapseCodegenStages runs upfront and stages are visible
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val pq = SparkEntry.queries("q_sim_pq")(spark, sf)
        .queryExecution.executedPlan.toString
      val line = pq.linesIterator.find(l =>
        l.contains("arg_min_l2") && l.contains("Project"))
      assert(line.isDefined, "native L2 pick not in a projection")
      assert(line.get.contains("*("), s"arg_min_l2 fell out of codegen:\n${line.get}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("curation ops prune the documents scan to referenced columns") {
    // splitCounts touches doc_id/text/source — lang and n_chars must
    // not be read; mixCounts likewise (the filter is a narrow map on
    // the scan side, no shuffle before the audit agg)
    for (q <- Seq("q_curate_split", "q_curate_mix")) {
      val p = plan(q)
      assert(p.contains("ReadSchema"), q)
      assert(!p.contains("n_chars"), s"$q scanned an unreferenced column")
    }
    // contamination is a posting join on longs: no cartesian, and the
    // eval/train split never materializes the cross product
    val pc = plan("q_curate_contamination")
    assert(!pc.contains("CartesianProduct") && !pc.contains("BroadcastNestedLoop"))
  }

  test("PQ search broadcasts codebooks + LUT; the corpus rides narrow maps and one partial-agg sum") {
    val p = plan("q_sim_pq")
    // codebooks (16 array rows) and the per-query LUT are broadcast —
    // the corpus side never shuffles for code assignment or scoring
    assert(p.contains("BroadcastExchange"), s"no broadcast in:\n$p")
    // the ADC sum partial-aggregates map-side before its exchange
    assert(p.contains("HashAggregate"), s"no hash agg in:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("salted posting join partitions hot shingles on (h, salt) and broadcasts the hot-key set") {
    val p = plan("q_dedup_ngram_salted")
    // the hot-side exchange must carry the salt in its partitioning key
    // — that's what spreads one hot shingle across `salts` reducers
    assert(p.contains("salt"), s"no salt in partitioning keys:\n$p")
    // the heavy-hitter set rides a broadcast, never a shuffle
    assert(p.contains("BroadcastExchange"), s"hot-key set not broadcast:\n$p")
  }

  test("multi-way revenue join broadcasts the dim and never goes cartesian") {
    val p = plan("q_olap_revenue")
    assert(p.contains("BroadcastExchange"), s"nation dim not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("LWW merge costs exactly one key shuffle — nothing else") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val shuffles = SparkEntry.queries("q_cdc_lww_merge")(spark, sf)
        .queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }
      // one hashpartitioning(key) for the window; the harness sorts
      // output rows itself, so no range exchange is paid either
      assert(shuffles.length == 1, shuffles.mkString("\n"))
      assert(shuffles.head.outputPartitioning.toString.contains("hashpartitioning"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("two-phase sessionization shuffles phase 1 on (keys, time-bucket)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val shuffles = SparkEntry.queries("q_cdc_sessions2")(spark, sf)
        .queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }
      // the first (event-level) exchange must hash on THREE exprs —
      // db, table, bucket — i.e. parallelism keys × time-buckets, not
      // the 12-key cap of the one-shot session window
      val parts = shuffles.map(_.outputPartitioning.toString)
      assert(parts.exists(p => p.contains("bk") &&
        "hashpartitioning\\(db.*table.*bk".r.findFirstIn(p).isDefined),
        parts.mkString("\n"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("two-phase as-of join shuffles phase 1 on (keys, time-bucket)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val shuffles = SparkEntry.queries("q_cdc_asof2")(spark, sf)
        .queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }
      val parts = shuffles.map(_.outputPartitioning.toString)
      assert(parts.exists(p => p.contains("__bk") &&
        "hashpartitioning\\(db.*table.*__bk".r.findFirstIn(p).isDefined),
        parts.mkString("\n"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("in-row repetition twin is shuffle-free; the counter pass stays native") {
    val p = plan("q_text_repetition2")
    assert(!p.contains("Exchange"), s"in-row repetition shuffles:\n$p")
    assert(p.contains("rep_stats"), "native counter pass not in the plan")
  }

  test("exact dedup partial-aggregates map-side before its single shuffle") {
    val p = plan("q_dedup_exact")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "expected partial+final HashAggregate pair")
  }

  test("narrow passes stay shuffle-free and inside whole-stage codegen") {
    import org.apache.spark.sql.functions.col
    val media = ops.Multimodal.imageFixture(
      cdc.Io.table(spark, sf, "documents"))
    val p = plan(ops.Multimodal.decodeImages(media).toDF())
    assert(!p.contains("Exchange"), s"narrow decode plan shuffles:\n$p")

    // the text-stats projection itself (q_text_stats minus its output
    // ordering) is a single codegen'd stage with no exchange — incl.
    // the native exprs (a CodegenFallback anywhere would kick the
    // whole Project out of WholeStageCodegen)
    val t = col("text")
    val stats = cdc.Io.table(spark, sf, "documents").select(
      ops.TextAnalysis.tokenCount(t).as("n_tokens"),
      ops.TextAnalysis.langId(t).as("lang_pred"),
      ops.TextAnalysis.qualityMicros(t).as("quality_micros"),
      ops.TextAnalysis.rollingFingerprint(t).as("fp_roll"))
    assert(!plan(stats).contains("Exchange"))
    assert(stats.queryExecution.executedPlan.toString.contains("*(1) Project"),
      "text-stats projection fell out of whole-stage codegen")

    // same for the dedup signature maps
    val sigs = cdc.Io.table(spark, sf, "documents").select(
      ops.Dedup.hashedShingles(col("text"), 3).as("hs"),
      graft.functions.ArrayExprs.simhash60(
        ops.TextAnalysis.tokens(col("text"))).as("sig"))
    assert(sigs.queryExecution.executedPlan.toString.contains("*(1) Project"),
      "signature map fell out of whole-stage codegen")
  }

  test("backfill: selection prunes the scan; keyset page plans TakeOrdered") {
    // S6 projection pushdown: only the 3 selected customer columns
    // may reach the parquet read
    val p = plan("q_cdc_backfill")
    assert(p.contains("ReadSchema"))
    assert(!p.contains("c_address") && !p.contains("c_phone"),
      "unselected backfill columns were scanned")

    // O1: ORDER BY pkey LIMIT n must become TakeOrderedAndProject,
    // never a global sort
    val page = SparkEntry.queries("q_cdc_backfill_page")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(page.contains("TakeOrderedAndProject"), s"no top-k plan:\n$page")
  }

  test("bucketed co-located join runs with zero exchanges") {
    import org.apache.spark.sql.functions.col
    val orders = cdc.Io.table(spark, sf, "orders")
    val lineitem = cdc.Io.table(spark, sf, "lineitem")
    ops.Bucketing.writeBucketed(orders, "b_orders", "o_orderkey", 4)
    ops.Bucketing.writeBucketed(
      lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
      "b_lineitem", "o_orderkey", 4)
    // tiny test tables would auto-broadcast; force the join shape the
    // bucketing exists for at scale
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"), "o_orderkey")
        .groupBy(col("o_orderkey"))
        .agg(org.apache.spark.sql.functions.sum(col("l_quantity")).as("q"))
      val p = plan(joined)
      assert(!p.contains("Exchange"),
        s"bucketed join still shuffles:\n$p")
      // and the result is still correct vs the unbucketed plan
      val direct = lineitem.join(orders,
          lineitem("l_orderkey") === orders("o_orderkey"))
        .groupBy(orders("o_orderkey")).count().count()
      assert(joined.count() == direct)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("persisted-index search: no training stage in the plan; index tables never exchange before their joins") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // the query's setup builds the index; the RETURNED plan is search-only
      val df = SparkEntry.queries("q_sim_index_search")(spark, sf)
      val exec = df.queryExecution.executedPlan

      // no Lloyd-round residue: training materializes through
      // localCheckpoint, which would surface as ExistingRDD scans
      assert(!exec.toString.contains("ExistingRDD"),
        "search plan still contains a training checkpoint scan")

      // the corpus-side index tables (bucketed postings/codes) must
      // reach their joins without a shuffle: on the path scan → nearest
      // join ancestor there is no ShuffleExchange (the probe/candidate
      // sides may shuffle — they are query-sized)
      def pathTo(p: SparkPlan, pred: SparkPlan => Boolean): Option[List[SparkPlan]] =
        if (pred(p)) Some(List(p))
        else p.children.view.flatMap(c => pathTo(c, pred)).headOption.map(p :: _)
      for (tbl <- Seq("postings", "codes")) {
        val path = pathTo(exec, {
          case f: FileSourceScanExec =>
            f.relation.location.rootPaths.exists(_.toString.contains(s"/$tbl"))
          case _ => false
        })
        assert(path.isDefined, s"no $tbl scan in the search plan")
        val belowJoin = path.get.reverse.takeWhile(!_.isInstanceOf[BaseJoinExec])
        assert(!belowJoin.exists(_.isInstanceOf[ShuffleExchangeExec]),
          s"$tbl side shuffles before its join:\n$exec")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("graph serve plans contain no training stage (build/serve split)") {
    // the first query's setup builds the persisted kNN graph; the
    // RETURNED plans of all three family queries must be serve-only:
    // no Lloyd-round residue (training materializes through
    // localCheckpoint → ExistingRDD scans), edges read from the
    // bucketed artifact (via the catalog — PageRank caches the edge
    // scan, so the physical node may be an InMemoryTableScan; the
    // analyzed plan names the table either way)
    for (name <- Seq("q_sim_knngraph", "q_sim_pagerank", "q_sim_knnlabel")) {
      val df = SparkEntry.queries(name)(spark, sf)
      val exec = df.queryExecution.executedPlan
      assert(!exec.toString.contains("ExistingRDD"),
        s"$name serve plan still contains a training checkpoint scan")
      assert(df.queryExecution.analyzed.toString.contains("graft_knng"),
        s"$name does not read the graph artifact")
    }
  }

  test("rproj broadcasts queries over the narrow projection; BPE serves from the digest") {
    // projection is a narrow map feeding a broadcast join — the corpus
    // side must reach the join without any exchange
    val p = plan("q_sim_rproj")
    assert(p.contains("BroadcastExchange"), s"no broadcast in:\n$p")
    assert(!p.substring(0, p.indexOf("BroadcastExchange"))
      .contains("Exchange hashpartitioning"),
      s"corpus exchanged before the broadcast join:\n$p")
    // the returned BPE frames scan only the checkpointed round picks:
    // the corpus-sized histogram pass ran once at build time, so a
    // parquet scan in the SERVE plan would mean per-query corpus work
    for (name <- Seq("q_text_bpe", "q_text_bpe_encode")) {
      val b = plan(name)
      assert(!b.contains("Scan parquet"),
        s"$name serve plan rescans the corpus:\n$b")
    }
  }

  test("every registered query plans under AQE-off (no latent analyzer conflicts)") {
    // the kmeansL2All attribute-id leak (checkpointed centroids
    // exporting a live subtree's ids) only surfaced with AQE disabled —
    // this forces full physical planning of the WHOLE query surface in
    // that mode so the next such latent conflict fails here, not in a
    // user's non-AQE session
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
        spark.catalog.clearCache()
        val plan = scala.util.Try(fn(spark, sf).queryExecution.executedPlan)
        assert(plan.isSuccess, s"$name fails to plan with AQE off: ${
          plan.failed.map(_.getMessage.take(500)).getOrElse("")}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("round-5 ops keep their scale shapes (LM broadcast, equi self-joins, TakeOrdered)") {
    // LM scoring: the two bucket-count model tables must enter as
    // broadcasts — nothing wide may scale with vocabulary
    val lm = plan("q_text_lm")
    assert(lm.contains("BroadcastExchange"), s"LM model not broadcast:\n$lm")
    assert(!lm.contains("CartesianProduct"))
    // kNN graph BUILD (the query itself now serves from the
    // GraphStore artifact — its build pass is asserted here
    // directly): candidates come from the equi self-join on the list
    // id — a cartesian here is the n² failure the blocking exists to
    // prevent. (A BroadcastNestedLoopJoin IS present and fine: it's
    // the 1-row centroid-array attach, the same shape q_sim_topk
    // pins.) The native assignment pick must be in the plan.
    val kg = plan(graft.ops.Similarity.knnGraph(
      graft.cdc.Io.table(spark, sf, "embeddings"), "vec_id", "embedding",
      "label", k = 5, iters = 2, massign = 2))
    assert(!kg.contains("CartesianProduct"),
      s"knn graph candidate stage went cartesian:\n$kg")
    assert(kg.contains("arg_top_m_cos"), "native assignment pick missing")
    // edit verify: equi posting join for candidates, the bounded
    // levenshtein in the verify projection
    val ed = plan("q_dedup_edit")
    assert(!ed.contains("CartesianProduct") && !ed.contains("BroadcastNestedLoop"))
    assert(ed.contains("levenshtein"), s"no levenshtein verify stage:\n$ed")
    // Gumbel resampling: global top-n must plan TakeOrderedAndProject,
    // never a global sort
    val rs = plan("q_curate_resample")
    assert(rs.contains("TakeOrderedAndProject"), s"resample not TakeOrdered:\n$rs")
  }

  test("new surface keeps scale shapes (entropy narrow, BQ codegen cut, funnel equi)") {
    // entropy: a narrow codegen'd pass — no exchange, scan pruned to
    // the two referenced columns
    val ent = plan("q_text_entropy")
    assert(!ent.contains("Exchange"), s"entropy must not shuffle:\n$ent")
    assert(ent.contains("char_entropy"), "native entropy expr missing")
    assert(!ent.contains("n_chars"), s"entropy reads unreferenced columns:\n$ent")
    // BQ: the Hamming cut is bit_count over packed words (no array
    // math in the pair stage), the pair join is the 1-row-ish
    // broadcast of the query side
    val bq = plan("q_sim_bq")
    assert(bq.contains("bit_count"), s"BQ cut should be popcount:\n$bq")
    assert(!bq.contains("CartesianProduct"))
    // funnel: every stage joins on the user key — equi joins only
    val fu = plan("q_olap_funnel")
    assert(!fu.contains("CartesianProduct"),
      s"funnel stages must stay equi-joined:\n$fu")
    // retention: no join at all — the matrix comes from two aggs
    val re = plan("q_olap_retention")
    assert(!re.contains("Join"), s"retention should be join-free:\n$re")
  }

  test("SQ search: native encode/recon below the pair join; per-row, not per-pair") {
    val p = plan("q_sim_sq")
    assert(p.contains("sq_encode"), "native SQ encode not in the plan")
    assert(p.contains("sq_recon"), "native SQ recon not in the plan")
    assert(p.contains("dot_product"), "pair stage should be the native dot")
    // the reconstruction must sit BELOW the query join (once per
    // corpus row): the projection computing sq_recon appears before
    // the first join operator in bottom-up order — assert no recon
    // above the join by checking the join's input already carries rv
    val joinIdx = p.indexOf("BroadcastNestedLoopJoin")
    assert(joinIdx >= 0, s"expected a broadcast pair join in:\n$p")
    assert(p.lastIndexOf("sq_recon") > joinIdx,
      "recon should appear in the join's built/streamed input (printed below it)")
  }

  test("PII scrub and dataset-card scoring prune the documents scan") {
    for (q <- Seq("q_text_pii", "q_curate_card")) {
      val p = plan(q)
      assert(p.contains("ReadSchema"), s"no scan in $q")
      assert(!p.contains("n_chars"), s"$q reads unreferenced columns:\n$p")
    }
    assert(!plan("q_text_pii").contains("Exchange"),
      "the scrub is a narrow pass; it must not shuffle")
  }

  test("substring spans: df-cap aggregates before the self-join; gram keys are longs") {
    val df = ops.Dedup.substringSpans(
      cdc.Io.table(spark, sf, "documents"), "doc_id", "text", 8, 16, 64)
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.nonEmpty)
    val keyTypes = joins.flatMap(_.condition).flatMap(_.collect {
      case eq: org.apache.spark.sql.catalyst.expressions.EqualTo => eq.left.dataType
    })
    assert(keyTypes.nonEmpty && keyTypes.forall(
      _ == org.apache.spark.sql.types.LongType), s"non-long keys: $keyTypes")
    val p = plan(df.toDF())
    // partial+final agg pair for the df cap, present BEFORE the join
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "df-cap aggregation missing")
  }

  test("posting-list join keys are longs, not shingle strings") {
    val df = ops.Dedup.ngramJaccardPairs(
      cdc.Io.table(spark, sf, "documents"), "doc_id", "text", 3, 0.2)
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.nonEmpty)
    val keyTypes = joins.flatMap(_.condition).flatMap(_.collect {
      case eq: org.apache.spark.sql.catalyst.expressions.EqualTo => eq.left.dataType
    })
    assert(keyTypes.forall(_ == org.apache.spark.sql.types.LongType ||
      keyTypes.isEmpty), s"non-long join keys: $keyTypes")
  }

  test("domain cap runs as WindowGroupLimit — partial top-cap ahead of the exchange") {
    val p = plan("q_curate_domcap")
    // the row_number<=cap filter must compile to the WindowGroupLimit
    // operator (Partial before the shuffle, Final after): each input
    // partition forwards at most cap rows per source, so a hot domain
    // can't flood the exchange — the property that makes capping safe
    // at skewed-web-corpus scale
    assert(p.contains("WindowGroupLimit"), s"no WindowGroupLimit:\n$p")
    assert(p.contains("Partial"), s"no partial window-group pass:\n$p")
  }

  test("length percentiles window walks the histogram, not the corpus") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // the only aggregation upstream of the running-count window must
      // be the (source, len) histogram groupBy — i.e. the window's
      // child contains a partial/final HashAggregate pair, so per-row
      // corpus data never enters a per-source window partition
      val exec = SparkEntry.queries("q_text_percentiles")(spark, sf)
        .queryExecution.executedPlan
      val wins = exec.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(wins.nonEmpty, s"no window in the percentile plan:\n$exec")
      val aggsBelow = wins.head.collect {
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
      }
      assert(aggsBelow.nonEmpty,
        "running-count window is not fed by the histogram aggregate")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }
  test("content chunking is one narrow pass — zero exchanges") {
    // the chunk table (X99) is a native in-row expression + explode:
    // any Exchange here would mean the chunker shuffles corpus bytes
    val p = plan("q_dedup_cchunks")
    assert(!p.contains("Exchange"), s"content chunker shuffles:\n$p")
    assert(p.contains("cdc_chunks"), s"native expression missing:\n$p")
  }
  test("key profile: top-N via TakeOrdered, totals broadcast") {
    // the heavy-key cut must be TakeOrderedAndProject (per-partition
    // top-N, never a global sort of the key counts) and the 1-row
    // totals must broadcast onto it
    val p = plan("q_diag_skew")
    assert(p.contains("TakeOrderedAndProject"), s"no TakeOrdered:\n$p")
    assert(p.contains("BroadcastExchange"), s"totals not broadcast:\n$p")
  }
  test("BM25/PRF df broadcasts are query-term-restricted, never vocab-sized") {
    // the df table broadcast must carry a left-semi restriction to the
    // query-term frame BELOW its aggregation (PushDownLeftSemiAntiJoin):
    // a plan without any LeftSemi is broadcasting |vocab| rows — the
    // 100 TB driver-killer. Applies to stage-1 BM25 and both PRF
    // scoring passes.
    for (q <- Seq("q_text_bm25", "q_text_rm3")) {
      val p = plan(q)
      assert(p.contains("BroadcastExchange"), s"no broadcast in $q:\n$p")
      assert(p.contains("LeftSemi"),
        s"$q df stats not query-term-restricted before broadcast:\n$p")
    }
  }

  test("cluster sample quota runs as WindowGroupLimit over the narrow assignment") {
    val p = plan("q_curate_clustersample")
    // the per-cluster quota must compile to the partial-top-n shape
    // (each input partition forwards ≤ n rows per cluster BEFORE the
    // exchange) — and the assignment side must stay broadcast-narrow
    assert(p.contains("WindowGroupLimit"), s"no WindowGroupLimit:\n$p")
    assert(p.contains("BroadcastExchange"), s"centroids not broadcast:\n$p")
  }

  test("BM25 pruning: per-term top-m is WindowGroupLimit; df stays " +
      "query-restricted") {
    val p = plan("q_text_bm25_pruned")
    // the per-term posting cut must compile to the partial-top-n
    // shape (a head term's corpus-sized posting list must not flood
    // the window exchange) and the df broadcast keeps X103's
    // query-term LeftSemi restriction
    assert(p.contains("WindowGroupLimit"), s"no partial top-m:\n$p")
    assert(p.contains("LeftSemi"),
      s"df stats not query-term-restricted:\n$p")
  }

  test("MRL rerank: candidates broadcast onto the full vectors — " +
      "one scan pairing, not two") {
    val p = plan("q_sim_mrl_rerank")
    // stage 2 must join the k*factor candidate frame to the corpus
    // via broadcast; a SortMergeJoin here would mean the rerank
    // re-shuffles the corpus it already scanned in stage 1
    assert(p.contains("BroadcastExchange"), s"candidates not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"rerank shuffles the corpus:\n$p")
  }

  test("NB top-grams: digest shuffles, broadcast stats, partial top-m") {
    val p = plan("q_curate_nbtopgrams")
    // bucket stats enter the gram-side join as broadcasts, and the
    // per-class top-m must compile to the partial WindowGroupLimit —
    // vocab-sized rows must not ride an unbounded window shuffle
    assert(p.contains("BroadcastExchange"), s"stats not broadcast:\n$p")
    assert(p.contains("WindowGroupLimit"), s"no partial top-m:\n$p")
  }

  test("epoch shuffle: shard-local sorts only, no global sort") {
    val p = plan("q_curate_epochshuffle")
    // the permutation must be per-shard (one hash exchange + local
    // window sorts) — a rangepartitioning here would mean the plan
    // degenerated into a corpus-wide global sort
    assert(p.contains("Window"), s"no window:\n$p")
    assert(p.contains("hashpartitioning"), s"no shard exchange:\n$p")
    assert(!p.contains("rangepartitioning"), s"global sort crept in:\n$p")
  }

  test("NB classifier: model rides broadcasts, gram base is cached once") {
    val p = plan("q_curate_nbclassify")
    // the (class, bucket) model and the K-row class digest must enter
    // the scoring side as broadcasts — a shuffle join keyed on the
    // bucket would re-partition the corpus-sized (doc, bucket) frame
    // by model key, defeating the hashing trick's bounded-model point
    assert(p.contains("BroadcastExchange"), s"model not broadcast:\n$p")
    // the hashed-gram base feeds the model aggs AND the scoring agg:
    // it must resolve to one cached scan, not re-derive per reference
    // (the q_text_rm3 round-9 lesson: every exchange re-executes its
    // uncached subtree)
    assert(p.contains("InMemoryTableScan"), s"gram base not cached:\n$p")
  }

  test("PRF rescoring rides broadcasts; snapshot diff has no pair join") {
    val p = plan("q_text_rm3")
    // query-term sets, df stats and corpus stats must broadcast —
    // both scoring passes cost their matched postings only
    assert(p.contains("BroadcastExchange"), s"no broadcast in PRF:\n$p")
    val d = plan("q_curate_diff")
    // one id-keyed join between the two fingerprint scans; any
    // cartesian/nested-loop here would mean texts are being compared
    assert(!d.contains("Cartesian") && !d.contains("BroadcastNestedLoop"),
      s"diff plan degenerated:\n$d")
  }

  test("round-8 sketch/cleanup ops keep their scale shapes") {
    // X114 run collapse: a pure narrow pass — any exchange here means
    // the in-row rewrite accidentally grew a shuffle
    val rc = plan("q_text_runcollapse")
    assert(!rc.contains("Exchange"), s"shuffle in narrow collapse:\n$rc")
    // X113 quantile sketch: corpus rows leave through ONE partial-agg
    // shuffle to (source, bin) histogram rows; the walk's windows ride
    // the tiny histogram. doc_id must not reach the scan.
    val qs = plan("q_diag_quantiles")
    assert(qs.contains("HashAggregate"), s"no partial agg:\n$qs")
    assert(!qs.contains("doc_id"), "unreferenced documents column scanned")
    // X116 semantic leakage: blocked equi-joins only — a nested-loop
    // or cartesian would mean the pair predicate left the block key
    val sl = plan("q_curate_semleak")
    assert(!sl.contains("Cartesian") && !sl.contains("NestedLoop"),
      s"semleak pair join degenerated:\n$sl")
    // X122 HTML extraction: pure narrow chain, no exchange, no UDF
    val ht = plan("q_text_html")
    assert(!ht.contains("Exchange"), s"shuffle in HTML extraction:\n$ht")
    assert(!ht.contains("BatchEvalPython") && !ht.contains("ScalaUDF"),
      "extraction must stay native")
  }

  test("corpus vocab stats (X135-X137) keep their scale shapes") {
    // X135 PMI: the corpus leaves through partial-agg count shuffles;
    // corpus totals ride broadcast one-row frames; the global top-m is
    // TakeOrderedAndProject (per-partition top-m, never a full sort)
    val pmi = plan("q_text_pmi")
    assert(pmi.contains("TakeOrderedAndProject"), s"PMI not TakeOrdered:\n$pmi")
    assert(pmi.contains("BroadcastExchange"), s"PMI totals not broadcast:\n$pmi")
    assert(pmi.contains("HashAggregate"), s"PMI counts not partial-agg:\n$pmi")
    // X136/X137 rank over the vocab DIGEST: the only columns read from
    // documents are the text itself — and the corpus never rides the
    // rank window (it leaves through the count aggregation first)
    for (q <- Seq("q_text_vocab_coverage", "q_text_zipf")) {
      val p = plan(q)
      assert(p.contains("HashAggregate"), s"$q counts not partial-agg:\n$p")
      assert(!p.contains("n_chars") && !p.contains("lang#"),
        s"$q scanned unreferenced documents columns:\n$p")
    }
    // X138 recall curve: truth and found sides are both equi-join
    // pipelines; the bucket rollup must never degenerate to a pair
    // cartesian
    val mr = plan("q_dedup_minhash_recall")
    assert(!mr.contains("CartesianProduct"), s"recall join degenerated:\n$mr")
  }

  test("script profile and frozen-OOV serve (X139-X140) stay narrow") {
    // X139: per-doc counting is codegen'd regexp passes; the only
    // exchange is the final rollup to <= |Scripts|+1 rows
    val sp = plan("q_text_scripts")
    assert(sp.contains("HashAggregate"), s"rollup not partial-agg:\n$sp")
    assert(!sp.contains("n_chars") && !sp.contains("lang#"),
      s"scanned unreferenced documents columns:\n$sp")
    assert(!sp.contains("ScalaUDF"), "script counting must stay native")
    // X140 SERVE path (the streaming-gate shape): with the vocab
    // frozen, scoring is a pure narrow map — zero exchanges; the
    // vocab lives inside the compiled expression, not even a broadcast
    val docs = graft.cdc.Io.table(spark, sf, "documents")
    val frozen = graft.ops.TextAnalysis.FrozenVocab(Seq("the", "a", "of"))
    val serve = plan(graft.ops.TextAnalysis.oovScore(
      docs, "doc_id", "text", frozen))
    assert(!serve.contains("Exchange"), s"frozen-OOV serve shuffles:\n$serve")
    assert(!serve.contains("ScalaUDF"), "OOV counter must stay native")
  }

  test("curation composite (X142): exact-rep cut is partial, no stage degenerates") {
    val p = plan("q_pipe_curate")
    // the rn = 1 exact-rep cut must compile to WindowGroupLimit
    // (per-partition top-1 ahead of the normalized-key exchange)
    assert(p.contains("WindowGroupLimit"), s"exact-rep cut not partial:\n$p")
    // no stage may degenerate to a cartesian — the LSH band join,
    // the verify joins and the loser anti-join are all equi-joins
    assert(!p.contains("CartesianProduct"), s"a stage degenerated:\n$p")
  }

  test("CDC composite (X145): one key exchange total, filter on the scan, partial LWW cut") {
    val p = plan("q_pipe_cdc")
    // the whole composition pays exactly ONE shuffle — the LWW merge
    // key exchange; transforms/routing add none
    assert("(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).size == 1,
      s"composition added a shuffle:\n$p")
    // the regex filter sits on the events scan, before the union
    assert(p.indexOf("RLIKE") > 0 && p.contains("WindowGroupLimit"),
      s"filter/partial-cut shape lost:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("retrieval metrics (X147): qrel terms ride broadcasts, discount tables are literals") {
    val p = plan("q_text_retrieval_metrics")
    // query terms broadcast against the token stream (never a corpus
    // shuffle on the qrel side); the nDCG weight/idcg maps must be
    // compiled literals — no join or exchange may materialize them
    assert(p.contains("BroadcastExchange"), s"qrel term join not broadcast:\n$p")
    assert(p.contains("map_from") || p.contains("keys:"),
      s"discount table not a compiled literal:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("text index (X149): serving scans are bucket-pruned; the serve plan never re-tokenizes") {
    val p = plan("q_text_index_search")
    // the tok IN (query terms) filter must prune BUCKETS at the scan
    // (the artifact's whole point: serving reads ~terms/nBuckets of
    // the postings files, never the corpus)
    assert(p.contains("SelectedBucketsCount"),
      s"posting scan not bucket-pruned:\n$p")
    // no corpus-wide tokenize in the serve plan — the index IS the
    // tokenized corpus
    assert(!p.toLowerCase.contains("explode"),
      s"serve plan re-tokenizes:\n$p")
    assert(p.contains("BroadcastExchange"))
  }

  test("phrase + proximity (X150/X151): artifact serving is bucket-pruned and never re-tokenizes; in-plan prunes to the terms") {
    // artifact phrase serve: pos scan prunes tok-buckets, no explode
    val ap = plan("q_text_index_phrase")
    assert(ap.contains("SelectedBucketsCount"),
      s"pos scan not bucket-pruned:\n$ap")
    assert(!ap.toLowerCase.contains("explode"),
      s"phrase serve plan re-tokenizes:\n$ap")
    // artifact proximity serve: same properties from the same part
    val an = plan("q_text_index_near")
    assert(an.contains("SelectedBucketsCount"))
    assert(!an.toLowerCase.contains("explode"))
    // in-plan phrase: the terms filter must reach the generated
    // positional stream (one tokenize pass, pruned before any join)
    val ip = plan("q_text_phrase")
    assert(ip.contains("Generate"), s"no posexplode stage:\n$ip")
    assert(ip.contains("tok#") && ip.contains("INSET") ||
      ip.contains(" IN ("), s"terms prune missing:\n$ip")
  }

  test("KWIC serving (X153): pos scan bucket-pruned; corpus text never exploded") {
    val p = plan("q_text_index_kwic")
    assert(p.contains("SelectedBucketsCount"),
      s"pos scan not bucket-pruned:\n$p")
    // the only tokenize is the narrow split() building the MATCHED
    // rows' arrays for slicing — no posexplode of the corpus
    assert(!p.toLowerCase.contains("posexplode"),
      s"kwic serve plan re-explodes the corpus:\n$p")
  }

  test("sloppy phrase + ranked KWIC (X154/X155): artifact serving bucket-pruned; corpus never re-tokenized on the pruned paths") {
    // sloppy serve: pos scan prunes to the phrases' terms' buckets,
    // and the slop predicates are post-join filters — no explode
    val sp = plan("q_text_index_phrase_sloppy")
    assert(sp.contains("SelectedBucketsCount"),
      s"sloppy pos scan not bucket-pruned:\n$sp")
    assert(!sp.toLowerCase.contains("explode"),
      s"sloppy serve plan re-tokenizes:\n$sp")
    // ranked-KWIC serve: the ranking side reads the bucketed postings
    // (pruned), the snippet side the pruned pos part; the only
    // tokenize is the narrow split() building the k matched rows'
    // arrays — no posexplode of the corpus
    val km = plan("q_text_index_kwic_multi")
    assert(km.contains("SelectedBucketsCount"),
      s"ranked-kwic scans not bucket-pruned:\n$km")
    assert(!km.toLowerCase.contains("posexplode"),
      s"ranked-kwic serve plan re-explodes the corpus:\n$km")
  }

  test("sampled recall harness (X146): the sample predicate reaches every documents scan") {
    val df = SparkEntry.queries("q_dedup_minhash_recall_sampled")(spark, sf)
    val p = plan(df)
    // every parquet scan of documents must carry the pushed hash-
    // sample filter — the harness's cost bound IS that pushdown
    val scans = "(?m)Location: InMemoryFileIndex \\[[^\\]]*documents".r
      .findAllIn(p).size
    assert(scans > 0)
    // the deterministic salt appears in scan-adjacent filters, not
    // only once post-scan: count Filter nodes mentioning the salt
    assert("lshrs:".r.findAllIn(p).size >= scans,
      s"sample predicate not at every pass:\n$p")
  }

  // A plan's cost at the bench point is the jobs it schedules, and a
  // count is evidence only if it repeats exactly: two cold runs of one
  // query must schedule the same jobs, stages and tasks.
  test("Bench counters: cold runs record jobs, stages and tasks, and repeat them exactly") {
    val counter = new Bench.Counter
    spark.sparkContext.addSparkListener(counter)
    try {
      for (name <- Seq("q_cdc_changes", "q_cdc_lww_merge")) {
        val Seq(a, b) = (1 to 2).map(_ => Bench.measure(spark, sf, name, counter, cold = true))
        assert(a.ok && b.ok, name)
        assert(a.counts.jobs >= 1 && a.counts.tasks >= a.counts.jobs, s"$name: ${a.counts}")
        assert((a.counts.jobs, a.counts.stages, a.counts.tasks) ==
          (b.counts.jobs, b.counts.stages, b.counts.tasks), s"$name: ${a.counts} vs ${b.counts}")
      }
    } finally spark.sparkContext.removeSparkListener(counter)
  }
}
