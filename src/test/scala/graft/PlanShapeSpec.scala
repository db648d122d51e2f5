package graft

import graft.model.{CdcColumns => C}
import graft.operators.{ChangeLogReducer, DiffEngine}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** Physical-plan regression guards for the scale-critical operators: the
  * properties that make them survive 100× data (one pk-keyed shuffle, no
  * single-partition funnels, no cartesian blowups) are asserted on the
  * PLANNED tree, so a refactor that silently re-shapes the plan —
  * a window that loses its partitionBy, a join that degrades to a
  * nested loop — fails here even though every value-correctness test
  * would still pass.
  */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private def log(n: Int): DataFrame =
    (0 until n).map(i =>
      (if (i % 7 == 0) "D" else "I", (i % 50).toLong, s"v$i", i.toLong))
      .toDF(C.Op, "id", "value", "ts")

  /** The REAL physical tree: `sparkPlan` predates EnsureRequirements
    * (no exchanges yet) and AQE wraps `executedPlan` in an
    * AdaptiveSparkPlanExec whose children are empty — collect on either
    * would be vacuously empty. Unwrap to the adaptive plan's current
    * physical plan (= the initial plan before any job runs).
    */
  private def plan(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive
        .AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  private def shuffles(df: DataFrame): Seq[ShuffleExchangeExec] =
    plan(df).collect { case s: ShuffleExchangeExec => s }

  private def forbidSinglePartition(df: DataFrame, what: String): Unit = {
    val ex = shuffles(df)
    assert(ex.nonEmpty, s"$what plan shows no exchanges — vacuous check")
    ex.foreach { s =>
      assert(s.outputPartitioning.numPartitions > 1,
        s"$what funnels through a single-partition exchange:\n$s")
    }
  }

  private def forbidLoops(df: DataFrame, what: String): Unit = {
    val loops = plan(df).collect {
      case p: org.apache.spark.sql.execution.joins.CartesianProductExec => p
      case p: org.apache.spark.sql.execution.joins
        .BroadcastNestedLoopJoinExec => p
    }
    assert(loops.isEmpty, s"$what plans a nested-loop/cartesian join")
  }

  test("change-log reduce is ONE pk-keyed shuffle") {
    val red = ChangeLogReducer.reduce(log(500), Seq("id"),
      struct(col("ts")))
    val ex = shuffles(red)
    assert(ex.length === 1, s"expected 1 shuffle, got ${ex.length}")
    assert(ex.head.outputPartitioning.toString.contains("id"),
      s"shuffle must key on the PK: ${ex.head.outputPartitioning}")
    forbidSinglePartition(red, "reduce")
  }

  test("SCD2 history shares one window exchange for ordinal and lead") {
    val h = ChangeLogReducer.history(log(500), Seq("id"),
      struct(col("ts")), col("ts"))
    // row_number and lead ride the same (partitionBy pk, orderBy seq)
    // spec — a second exchange means the window specs silently diverged
    assert(shuffles(h).length === 1,
      s"history must plan ONE window exchange, got ${shuffles(h).length}")
    forbidSinglePartition(h, "history")
  }

  test("historyMerge and mergeBatch stay pk-keyed, no loops, no funnels") {
    val events = log(400)
    val (pre, post) = (events.filter(col("ts") < 200),
      events.filter(col("ts") >= 200))
    val hm = ChangeLogReducer.historyMerge(
      ChangeLogReducer.history(pre, Seq("id"), struct(col("ts")), col("ts")),
      ChangeLogReducer.historyCursor(pre, Seq("id")),
      post, Seq("id"), struct(col("ts")), col("ts"))
    forbidLoops(hm, "historyMerge")
    forbidSinglePartition(hm, "historyMerge")
    val mb = ChangeLogReducer.mergeBatch(
      ChangeLogReducer.reduceKeepOp(pre, Seq("id"), struct(col("ts"))),
      post, Seq("id"), struct(col("ts")))
    forbidLoops(mb, "mergeBatch")
    forbidSinglePartition(mb, "mergeBatch")
  }

  test("historyMerge time-leading fast path keeps every agg in HashAggregate") {
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, SortAggregateExec}
    val events = log(400)
    val (pre, post) = (events.filter(col("ts") < 200),
      events.filter(col("ts") >= 200))
    def merge(timeLeading: Boolean) = ChangeLogReducer.historyMerge(
      ChangeLogReducer.history(pre, Seq("id"), struct(col("ts")), col("ts")),
      ChangeLogReducer.historyCursor(pre, Seq("id")),
      post, Seq("id"), struct(col("ts")), col("ts"),
      seqTimeLeading = timeLeading)
    // the fast path's min(ts) first-event lookup stays codegen
    // HashAggregate end to end — no interpreted SortAggregate anywhere
    val fast = plan(merge(timeLeading = true))
    assert(fast.collect { case s: SortAggregateExec => s }.isEmpty,
      "fast path must not plan a SortAggregate")
    assert(fast.collect { case h: HashAggregateExec => h }.nonEmpty,
      "fast path shows no HashAggregate — vacuous check")
    // ...while the general min_by(ts, seq) flavor pays the struct
    // ordering buffer (interpreted SortAggregate) — the A/B the
    // cdc_scd2_merge_minby bench extra measures
    val general = plan(merge(timeLeading = false))
    assert(general.collect { case s: SortAggregateExec => s }.nonEmpty,
      "min_by flavor unexpectedly planned without SortAggregate — " +
        "if Tungsten learned struct buffers, retire the fast path")
  }

  test("chunk digests never funnel the table through one partition") {
    val t = (1L to 5000L).map(i => (i, s"p$i")).toDF("id", "payload")
    // global PK-rank without a global sort: range partition + lifted
    // per-partition offsets (a Window.orderBy-without-partitionBy here
    // would plan a SinglePartition exchange and serialize the table)
    forbidSinglePartition(
      DiffEngine.chunkDigest(t, Seq("id"), 100), "chunkDigest")
    forbidLoops(DiffEngine.chunkDigest(t, Seq("id"), 100), "chunkDigest")
    // digests are folded inside the persisted layout's partitions: the
    // plan reads the cache, and the only exchange is the per-chunk merge
    val digest = DiffEngine.chunkDigest(t, Seq("id"), 100)
    assert(plan(digest).collect {
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => m
    }.nonEmpty, "chunkDigest does not read the cached layout")
    val ex = shuffles(digest)
    assert(ex.length === 1, s"expected 1 shuffle, got ${ex.length}")
    assert(ex.head.outputPartitioning.toString.contains("chunk_id"),
      s"shuffle must key on chunk_id: ${ex.head.outputPartitioning}")
  }

  test("row statuses count in place over the paired layout: no PK exchange") {
    val l = (1L to 5000L).map(i => (i, s"p$i")).toDF("id", "payload")
    val r = l.withColumn("payload",
      when($"id" === 7L, lit("x")).otherwise($"payload"))
    // validateTable's status plan reads the one cached layout of both
    // sides, already range-partitioned on the PK: no join, and no
    // exchange keyed on the PK
    val status = DiffEngine.statusCounts(l, r, Seq("id"))
    assert(plan(status).collect {
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => m
    }.nonEmpty, "statusCounts does not read the cached layout")
    shuffles(status).foreach { s =>
      val keyed = s.outputPartitioning match {
        case e: org.apache.spark.sql.catalyst.expressions.Expression =>
          e.references.exists(_.name == "id")
        case _ => false
      }
      assert(!keyed, s"status plan shuffles on the PK: ${s.outputPartitioning}")
    }
  }

  test("pipeline_e2e capstone: keyed joins only, no funnels, scans bounded") {
    val df = graft.queries.PipelineQueries
      .pipelineE2e(spark, "/root/testdata/sf0.001")
    forbidLoops(df, "pipeline_e2e")
    forbidSinglePartition(df, "pipeline_e2e")
    // the quality verdicts and survivor slice are CachedPlans-shared:
    // every downstream stage reads the persisted fill (InMemoryTableScan)
    // instead of re-expanding the tokenize-and-judge subplan. A
    // stage-recompute regression (dropping the sharing) shows up as
    // documents FileSourceScans multiplying — 7 of them at round 10.
    val docScans = plan(df).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(
          _.toString.contains("documents")) => f
    }
    val memScans = plan(df).collect {
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => m
    }
    assert(memScans.nonEmpty,
      "no InMemoryTableScan — the stage sharing is gone (vacuous check)")
    assert(docScans.length <= 2,
      s"pipeline_e2e scans documents ${docScans.length}× — a stage is " +
        "being recomputed instead of reading the shared fill")
  }

  test("indexed hybrid scans source tables only for the query slice") {
    val sf = "/root/testdata/sf0.001"
    val df = graft.queries.RetrievalQueries.hybridRrfIndexed(spark, sf)
    // the deliberate loops are broadcast-nested (query slice broadcast
    // against the bucketed index scan); a CartesianProduct — both sides
    // shuffled — would mean the broadcast hint was lost
    val cart = plan(df).collect {
      case p: org.apache.spark.sql.execution.joins.CartesianProductExec => p
    }
    assert(cart.isEmpty, "indexed hybrid plans a non-broadcast cartesian")
    // corpus text and corpus embeddings live in the persisted indexes:
    // the ONLY source-table scan is the query slice — EXACTLY one per
    // table, matched on the sfDir-prefixed path (a bare table-name
    // substring could false-match an index temp path, and `<= 1` would
    // pass vacuously on zero scans). A second scan means a leg is
    // recomputing over the corpus instead of probing its index.
    // Counted TRANSITIVELY through InMemoryTableScan cached relations:
    // the r20 bm25 probe caches its selected-term table (qt feeds both
    // the postings-scan prune collect and the broadcast join), which
    // moves the query slice's documents scan inside the cached plan —
    // still exactly one scan, just one level down.
    def srcScans(d: org.apache.spark.sql.DataFrame, table: String) = {
      def scansIn(p: SparkPlan): Seq[SparkPlan] = p.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(
            _.toString.contains(s"$sf/$table")) => Seq(f)
        case m: org.apache.spark.sql.execution.columnar
          .InMemoryTableScanExec => scansIn(m.relation.cachedPlan)
        case a: org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanExec => scansIn(a.executedPlan)
        // executed AQE plans (e.g. an already-filled cached relation)
        // hide their subtrees behind QueryStage leaves
        case q: org.apache.spark.sql.execution.adaptive
          .QueryStageExec => scansIn(q.plan)
      }.flatten
      scansIn(plan(d))
    }
    assert(srcScans(df, "documents").length === 1,
      "indexed hybrid must scan corpus text exactly once (query slice)")
    assert(srcScans(df, "embeddings").length === 1,
      "indexed hybrid must scan embeddings exactly once (query slice)")
    forbidSinglePartition(df, "retrieval_hybrid_rrf_indexed")

    // the IVF-legged indexed form additionally must never touch the
    // stored-vector table: its dense candidates come from the probed
    // cent_id-bucketed inverted lists (round 11's one flagged
    // scale-killer was a brute dense leg scanning stored vectors)
    val ivf = graft.queries.RetrievalQueries.hybridRrfIvfIndexed(spark, sf)
    assert(plan(ivf).collect {
      case p: org.apache.spark.sql.execution.joins.CartesianProductExec => p
    }.isEmpty, "ivf-indexed hybrid plans a non-broadcast cartesian")
    assert(srcScans(ivf, "documents").length === 1,
      "ivf-indexed hybrid must scan corpus text exactly once")
    assert(srcScans(ivf, "embeddings").length === 1,
      "ivf-indexed hybrid must scan embeddings exactly once")
    val bucketScans = plan(ivf).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(
          _.toString.contains("/buckets")) => f
    }
    assert(bucketScans.isEmpty,
      "ivf-indexed hybrid scans the stored-vector table — dense leg " +
        "degraded to brute force")
    val listScans = plan(ivf).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(
          _.toString.contains("/lists")) => f
    }
    assert(listScans.nonEmpty,
      "ivf-indexed hybrid shows no inverted-list scan — vacuous guard")
    forbidSinglePartition(ivf, "retrieval_hybrid_rrf_ivf_indexed")
  }

  test("retrieval_e2e capstone: shared curated fill, bounded scans, no funnels") {
    val sf = "/root/testdata/sf0.001"
    val df = graft.queries.RetrievalQueries.retrievalE2e(spark, sf)
    // BM25's one-row corpus-stats broadcast and the query-slice
    // broadcasts are DELIBERATE nested loops (bounded small side);
    // what must never appear is a CartesianProduct — both sides
    // shuffled — which would mean a broadcast hint was lost
    assert(plan(df).collect {
      case p: org.apache.spark.sql.execution.joins.CartesianProductExec => p
    }.isEmpty, "retrieval_e2e plans a non-broadcast cartesian")
    // single-partition exchanges are allowed ONLY under the scalar
    // corpus-stats aggregate (a partial_count collapses each partition
    // to one row before the exchange — one row per partition moves);
    // any other funnel would serialize corpus-scale data
    val funnels = shuffles(df).filter(_.outputPartitioning.numPartitions <= 1)
    assert(funnels.forall(_.child.exists {
      case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec =>
        h.groupingExpressions.isEmpty
      case _ => false
    }), s"retrieval_e2e funnels non-scalar data:\n${funnels.mkString("\n")}")
    assert(shuffles(df).exists(_.outputPartitioning.numPartitions > 1),
      "retrieval_e2e plan shows no parallel exchanges — vacuous check")
    // the curated slice is CachedPlans-shared: downstream stages (tf,
    // df, query slices, dense restriction) read the persisted fill
    val memScans = plan(df).collect {
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => m
    }
    assert(memScans.nonEmpty,
      "no InMemoryTableScan — curated-stage sharing is gone (vacuous check)")
    def srcScans(table: String) = plan(df).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(
          _.toString.contains(s"$sf/$table")) => f
    }
    assert(srcScans("documents").length <= 2,
      s"retrieval_e2e scans documents ${srcScans("documents").length}× — " +
        "a stage is recomputing instead of reading the shared fill")
    assert(srcScans("embeddings").length <= 1,
      "retrieval_e2e must restrict embeddings from one scan")
  }

  test("retrieval_e2e_indexed capstone: both legs index-served, no stored-vector scan") {
    val sf = "/root/testdata/sf0.001"
    val df = graft.queries.RetrievalQueries.retrievalE2eIndexed(spark, sf)
    assert(plan(df).collect {
      case p: org.apache.spark.sql.execution.joins.CartesianProductExec => p
    }.isEmpty, "retrieval_e2e_indexed plans a non-broadcast cartesian")
    def srcScans(table: String) = plan(df).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(
          _.toString.contains(s"$sf/$table")) => f
    }
    // the corpus text and embeddings live in the PERSISTED indexes: the
    // source tables feed only the curation + query slices — documents
    // through the shared curated fill (quality judge + canon, ≤2 scans
    // as in the batch capstone), embeddings once for the dense query
    // slice. More means a leg is recomputing over the corpus.
    assert(srcScans("documents").length <= 2,
      s"retrieval_e2e_indexed scans documents ${srcScans("documents").length}× — " +
        "a leg is recomputing instead of probing its index")
    assert(srcScans("embeddings").length <= 1,
      "retrieval_e2e_indexed must read embeddings at most once (query slice)")
    // the dense leg serves from the IVF inverted lists: the
    // stored-vector table must never be scanned, and the list scan
    // must actually be present (no vacuous pass)
    val bucketScans = plan(df).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(
          _.toString.contains("/buckets")) => f
    }
    assert(bucketScans.isEmpty,
      "retrieval_e2e_indexed scans the stored-vector table — dense leg " +
        "degraded to brute force")
    val listScans = plan(df).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(
          _.toString.contains("/lists")) => f
    }
    assert(listScans.nonEmpty,
      "retrieval_e2e_indexed shows no inverted-list scan — vacuous guard")
    // and the lexical leg reads the persisted postings, not re-derived
    // corpus stats: the BM25 index components are bucketed catalog
    // tables under the index dir
    val postingScans = plan(df).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(
          _.toString.contains("lexical_curated")) => f
    }
    assert(postingScans.nonEmpty,
      "retrieval_e2e_indexed shows no lexical-index scan — vacuous guard")
    forbidSinglePartition(df, "retrieval_e2e_indexed")
  }

  test("indexed media and phrase probes: corpus served from index components only") {
    val sf = "/root/testdata/sf0.001"
    def srcScans(d: DataFrame, table: String) = plan(d).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(
          _.toString.contains(s"$sf/$table")) => f
    }
    // counted through cached relations and AQE stages, as srcScans is in
    // the hybrid test: the proximity candidate fill is cached, so its
    // positions scan sits under an InMemoryTableScan
    def idxScans(d: DataFrame, component: String) = {
      def scansIn(p: SparkPlan): Seq[org.apache.spark.sql.execution
          .FileSourceScanExec] = p.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(
            _.toString.contains(component)) => Seq(f)
        case m: org.apache.spark.sql.execution.columnar
          .InMemoryTableScanExec => scansIn(m.relation.cachedPlan)
        case a: org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanExec => scansIn(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive
          .QueryStageExec => scansIn(q.plan)
      }.flatten
      scansIn(plan(d))
    }
    // the media probe's decode-once property at the DECLARED surface:
    // documents feeds only the probe-batch payload synthesis — AT MOST
    // one scan (zero when the probe fill is served from the CachedPlans
    // registry as an InMemoryRelation); the corpus side comes from the
    // persisted codes + band keys. More documents scans would mean
    // corpus payloads are being re-synthesized and re-DECODED per
    // probe, the cost the index exists to amortize
    val mm = graft.queries.DedupQueries.incrementalAhashIndexed(spark, sf)
    assert(srcScans(mm, "documents").length <= 1,
      "media indexed probe must scan documents at most once (probe batch)")
    assert(idxScans(mm, "mcodes").nonEmpty && idxScans(mm, "mbands").nonEmpty,
      "media indexed probe shows no index-component scan — vacuous guard")
    forbidLoops(mm, "mm_ahash_incremental_indexed")
    // same shape for the positional probes: documents feeds the query
    // slice only, positions come from the fmt-3 component
    val ph = graft.queries.RetrievalQueries.phraseTopKIndexed(spark, sf)
    assert(srcScans(ph, "documents").length === 1,
      "phrase indexed probe must scan documents exactly once (query slice)")
    assert(idxScans(ph, "positions").nonEmpty,
      "phrase indexed probe shows no positions scan — vacuous guard")
    // r21: the positions scan is In-pruned to the query phrases' tokens
    // (memoized bounded collect) — guard the PUSHED filter so a refactor
    // that silently re-widens the corpus-scale component scan fails here
    idxScans(ph, "positions").foreach { f =>
      val pushed = f.metadata.getOrElse("PushedFilters", "")
      assert(pushed.contains("In(tok"),
        s"phrase positions scan is not tok-pruned; PushedFilters=$pushed")
    }
    forbidLoops(ph, "text_phrase_indexed")
    // proximity references its candidate-hit set once per phrase
    // offset; the set is CachedPlans-shared so the positional scan runs
    // once (it shows as the InMemoryTableScan fill, not a per-offset
    // re-scan — 3 documents scans at round 14 before the cache)
    val px = graft.queries.RetrievalQueries.proximityTopKIndexed(spark, sf)
    assert(srcScans(px, "documents").length <= 1,
      "proximity indexed probe must scan documents at most once")
    // same tok-prune guard as the phrase probe (shared memoized collect)
    assert(idxScans(px, "positions").nonEmpty,
      "proximity indexed probe shows no positions scan — vacuous guard")
    idxScans(px, "positions").foreach { f =>
      val pushed = f.metadata.getOrElse("PushedFilters", "")
      assert(pushed.contains("In(tok"),
        s"proximity positions scan is not tok-pruned; PushedFilters=$pushed")
    }
    val pxMem = plan(px).collect {
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => m
    }
    assert(pxMem.nonEmpty,
      "proximity probe shows no shared candidate fill — vacuous guard")
    forbidLoops(px, "text_proximity_indexed")
  }

  test("banded probes' verify scans are In-pruned to the candidate ids") {
    // r17: dev.ProbeDissect located the banded probes' ×100 growth in
    // the VERIFY stage's corpus-sized stored scans; Dedup.verifyIds now
    // In-filters those scans with the (persisted) candidate id set.
    // Guard the PUSHED filter so a refactor that silently re-widens the
    // scans fails here. The sf0.001 probe batches COLLIDE by fixture
    // design (non-empty pairs) — required, or PropagateEmptyRelation
    // folds the scans away and the guard goes vacuous.
    val sf = "/root/testdata/sf0.001"
    def idxScans(d: DataFrame, component: String) = plan(d).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(
          _.toString.contains(component)) => f
    }
    def assertIdPruned(scans: Seq[
        org.apache.spark.sql.execution.FileSourceScanExec],
        what: String): Unit = {
      assert(scans.nonEmpty, s"$what shows no component scan — vacuous")
      scans.foreach { f =>
        val pushed = f.metadata.getOrElse("PushedFilters", "")
        assert(pushed.contains("In(id") || pushed.contains("EqualTo(id"),
          s"$what scan is not id-pruned; PushedFilters=$pushed")
      }
    }
    // the prune is cost-modeled OFF for fixture-scale stored sides
    // (r17: the persist pass doubled the sf0.1 lifecycle probes while a
    // ×100 corpus needs the prune to stay flat) — force it ON here so
    // the SHAPE stays guarded at spec scale
    spark.conf.set("spark.graft.verifyprune.minstored", "0")
    try {
      val lsh = graft.queries.DedupQueries.incrementalLshIndexed(spark, sf)
      assertIdPruned(idxScans(lsh, "shingles"), "LSH verify shingles")
      assertIdPruned(idxScans(lsh, "counts"), "LSH verify counts")
      val sim = graft.queries.DedupQueries
        .incrementalSimHashIndexed(spark, sf)
      assertIdPruned(idxScans(sim, "simhashes"), "SimHash verify simhashes")
    } finally spark.conf.unset("spark.graft.verifyprune.minstored")
  }

  test("verify-prune cost gate toggles exactly at the stored-count threshold") {
    // r18 (judge ask #5): the 32k default is a local[32]/NVMe break-even
    // (see Dedup.minVerifyPruneStored's portability scaladoc); what must
    // survive any re-derivation is the GATE's direction — prune OFF when
    // the stored component is below the threshold, ON at it. A refactor
    // inverting the comparison (or the AtLeast early-exit) fails here.
    val sf = "/root/testdata/sf0.001"
    val idx = graft.queries.QueryIndexes.text(spark, sf)
    val n = graft.operators.DedupIndex
      .componentRowCount(spark, idx.dir, "simhashes")
    assert(n > 0, "fixture simhashes component empty — vacuous")
    // the early-exit variant agrees with the exact count at the boundary
    assert(graft.operators.DedupIndex
      .componentRowCountAtLeast(spark, idx.dir, "simhashes", n))
    assert(!graft.operators.DedupIndex
      .componentRowCountAtLeast(spark, idx.dir, "simhashes", n + 1))
    assert(graft.operators.DedupIndex
      .componentRowCountAtLeast(spark, idx.dir, "simhashes", 0))
    def pruned(): Boolean = {
      val sim = graft.queries.DedupQueries
        .incrementalSimHashIndexed(spark, sf)
      val scans = plan(sim).collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(
            _.toString.contains("simhashes")) => f
      }
      assert(scans.nonEmpty, "no simhashes scan — vacuous")
      scans.forall { f =>
        val pushed = f.metadata.getOrElse("PushedFilters", "")
        pushed.contains("In(id") || pushed.contains("EqualTo(id")
      }
    }
    try {
      spark.conf.set("spark.graft.verifyprune.minstored", (n + 1).toString)
      assert(!pruned(),
        s"prune ON with stored=$n below threshold=${n + 1}")
      spark.conf.set("spark.graft.verifyprune.minstored", n.toString)
      assert(pruned(),
        s"prune OFF with stored=$n at threshold=$n")
    } finally spark.conf.unset("spark.graft.verifyprune.minstored")
  }

  test("row diff joins by key — no nested-loop degradation") {
    val a = (1L to 1000L).map(i => (i, s"v$i")).toDF("id", "v")
    val b = (1L to 1000L).map(i => (i, if (i % 97 == 0) "X" else s"v$i"))
      .toDF("id", "v")
    val d = DiffEngine.rowDiff(a, b, Seq("id"))
    forbidLoops(d, "rowDiff")
    forbidSinglePartition(d, "rowDiff")
  }
}
