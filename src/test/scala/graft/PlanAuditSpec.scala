package graft

import org.apache.spark.sql.DataFrame

import graft.etl.{EtlConfig, Pipeline}
import graft.ext.{DedupOps, SimilarityOps, TextOps}
import graft.queries.CoreQueries

/** Physical-plan audits: the plan properties that make these queries hold
  * at 100x the data are asserted here, so a refactor that silently
  * de-optimizes (loses a pushdown, un-broadcasts a dim, turns top-k into a
  * global sort, adds a shuffle) fails the build.
  */
class PlanAuditSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("unpartitioned windows are pinned to the bounded-frame class") {
    // A Window with an empty partitionSpec funnels its input through ONE
    // reducer — fatal on a corpus-sized frame, deliberate and harmless on
    // a stats frame bounded by construction (≤ k clusters, ≤ #sources,
    // vocab cut tables). r14 retired the last CORPUS-sized one
    // (len_quartiles' global ntile → two-pass rank); what remains is the
    // bounded-frame class, pinned here by name so a new corpus-sized
    // global window cannot enter the registry as "just another warning
    // in the bench tail" (the r13 verdict's warning-count item).
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val offenders = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          val p = fn(spark, sfDir).queryExecution.optimizedPlan
          if (p.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
            .nonEmpty) Some(name) else None
        } catch { case _: Throwable => None }
    }.toSet
    // every member's global window rides a frame bounded BY CONSTRUCTION,
    // never the corpus: vocab_coverage's cumulative share runs over the
    // top-K cut table (TakeOrderedAndProject gated above the window);
    // cluster_balanced_sample/_summary over the ≤ k-row cluster stats;
    // source_mixture_sample/_summary over the ≤ #sources stats frame;
    // dsir_scores over the vocabulary-bounded λ table
    val documented = Set("vocab_coverage", "cluster_balanced_sample",
      "cluster_balanced_summary", "source_mixture_sample",
      "source_mixture_summary", "dsir_scores")
    assert(offenders == documented,
      s"unpartitioned-window class changed: +${offenders -- documented} " +
        s"-${documented -- offenders}")
  }

  test("point filter is pushed down to the parquet scan") {
    val p = plan(CoreQueries.q4PointFilter(spark, sfDir))
    assert(p.contains("PushedFilters:") && p.contains("EqualTo(l_suppkey,3"), p)
  }

  test("top-k compiles to TakeOrderedAndProject, not a global sort") {
    assert(plan(CoreQueries.q2TopkPrice(spark, sfDir)).contains("TakeOrderedAndProject"))
    assert(plan(CoreQueries.q3TopkDuration(spark, sfDir)).contains("TakeOrderedAndProject"))
  }

  test("aggregation is partial+final hash aggregate (map-side combine)") {
    val p = plan(CoreQueries.q1Agg(spark, sfDir))
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("dimension joins broadcast the small side") {
    val p = plan(CoreQueries.j1JoinBroadcast(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"))
  }

  test("column pruning reaches the scan (aggregate reads only needed columns)") {
    val p = plan(CoreQueries.q1Agg(spark, sfDir))
    // ReadSchema on the lineitem scan must not include unused columns
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("l_shipdate"), s"unused column not pruned:\n$p")
  }

  test("taxi pipeline: dedup is the only shuffle in the annotated plan") {
    val df = Pipeline.annotate(spark, EtlConfig(
      inputCsvPath = "/root/reference/TaxiEtl/data/sample-cab-data.csv",
      duplicatesCsvPath = "", insertedPath = ""))
    val p = plan(df)
    assert("Exchange".r.findAllIn(p).length == 1,
      s"expected exactly one shuffle (the dedup window key):\n$p")
  }

  /** Pipeline.annotate over seeded taxi lines (no reference CSV needed). */
  private def seededAnnotate(): DataFrame = {
    val csv = graft.etl.TaxiLines.writeCsv(tmpDir("taxiplan"), graft.etl.TaxiLines(200, 3L))
    Pipeline.annotate(spark, EtlConfig(
      inputCsvPath = csv, duplicatesCsvPath = "", insertedPath = ""))
  }

  test("taxi pipeline over seeded lines: dedup is the only shuffle in the annotated plan") {
    val p = plan(seededAnnotate())
    assert("Exchange".r.findAllIn(p).length == 1,
      s"expected exactly one shuffle (the dedup window key):\n$p")
  }

  test("taxi annotate plan parses each timestamp column once") {
    // the lenient parse is a 14-format coalesce; the optimized plan must
    // hold one such chain per timestamp column, not one per reference
    import org.apache.spark.sql.catalyst.expressions.GetTimestamp
    val optimized = seededAnnotate().queryExecution.optimizedPlan
    val parses = optimized.collect { case node =>
      node.expressions.map(_.collect { case g: GetTimestamp => g }.size).sum
    }.sum
    assert(parses == 2 * 14, s"$parses GetTimestamp nodes:\n$optimized")
  }

  test("scaled taxi pipeline: dedup is the only shuffle; curation ops stay equi/window-only") {
    // the sharded scale path must keep the pinned path's plan property:
    // parse/normalize are pure projections, the first-wins window is the
    // single exchange. (Generation happens once into the versioned tmp
    // dir; this audits the INGESTION plan, not the generator.)
    val glob = graft.queries.TaxiScaled.ensureGenerated(spark, sfDir)
    val p = plan(Pipeline.annotateSharded(spark, EtlConfig(
      inputCsvPath = glob, duplicatesCsvPath = "", insertedPath = "")))
    assert("Exchange".r.findAllIn(p).length == 1,
      s"expected exactly one shuffle (the dedup window key):\n$p")
    for (q <- Seq(graft.ext.TextOps.stratifiedSample(spark, sfDir),
                  graft.ext.TextOps.tokenBudgetPerSource(spark, sfDir))) {
      val cp = plan(q)
      assert(!cp.contains("CartesianProduct") &&
        !cp.contains("BroadcastNestedLoopJoin"), cp)
    }
  }

  test("ANN brute force broadcasts queries; corpus is never shuffled") {
    val p = plan(SimilarityOps.bruteTopk(spark, sfDir))
    assert(p.contains("Broadcast"), p)
  }

  test("minhash LSH candidate generation is an equi-join, never a cross product") {
    val p = plan(DedupOps.minhashNearDup(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("quality mixer joins signals on doc_id only; no cross product") {
    // BroadcastNestedLoopJoin IS expected once: lmLikelihood's 1-row
    // broadcast vocabulary total (the documented justified pattern) —
    // what must never appear is an unpartitioned cartesian
    val p = plan(TextOps.qualityMixer(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("per-source prune: cuts broadcast back; decision window rides the histogram") {
    // r17: the registered row serves the session-cached verdict frame,
    // so the shape gate runs on the UNCACHED builder — the plan that
    // actually builds it (the embLshNearDupUncached convention)
    val p = plan(TextOps.qualityPrunePerSourceUncached(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    // the ≤ #sources cut table must come back as a broadcast join — the
    // doc-sized score frame never shuffles for the keep decision
    assert(p.contains("BroadcastHashJoin"), p)
    // the rank window's input is the (source, lm_score) histogram
    // aggregate, never the doc frame: the aggregate keyed on lm_score
    // must sit below the Window
    val w = p.indexOf("Window")
    assert(w >= 0 && p.indexOf("HashAggregate(keys=[source", w) >= 0, p)
  }

  test("near-dup decontam broadcasts the bench bands; no cross product") {
    // the bench slice is broadcast-sized by definition — the corpus band
    // frame must never shuffle for candidate generation, and without a
    // shuffle there is no hot-key skew to guard (output per key is
    // bounded by the broadcast side)
    val p = plan(DedupOps.decontamNearDup(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("exact embedding near-dup is a blocked EQUI-join, never a cross product") {
    val p = plan(SimilarityOps.embNearDup(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("LSH embedding near-dup is banded equi-joins only") {
    // r17: the registered rows serve the session-cached pair relation,
    // so the shape gates run on the UNCACHED builders — the plans that
    // actually build the pair tables
    val p = plan(SimilarityOps.embLshNearDupUncached(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("LSH band self-joins keep the hot-key shard in their equi-join keys") {
    // the df-cap sub-salt (DedupOps.subSaltHotKeys) must survive
    // optimization: if a refactor drops `shard` from the band-join keys,
    // a degenerate band key's quadratic output silently returns. The
    // production-regime variant also stays free of nested-loop joins.
    // (r17: uncached builders — the registered rows serve the cached
    // pair relation whose plan is a checkpoint scan.)
    val plans = Seq(
      "minhash" -> plan(DedupOps.minhashNearDupCore(spark, sfDir,
        scope = None, maxBandDf = DedupOps.MinHashBandDfCap)),
      "simhash" -> plan(DedupOps.simhashNearDup(spark, sfDir)),
      "embLsh" -> plan(SimilarityOps.embLshNearDupUncached(spark, sfDir)),
      "embLshHi" -> plan(SimilarityOps.embLshNearDupUncached(spark, sfDir,
        threshold = 0.8, bands = 32, rowsPerBand = 8)))
    plans.foreach { case (name, p) =>
      assert(p.contains("shard"), s"$name: shard not in the plan:\n$p")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$name:\n$p")
    }
  }

  test("incremental ingest dedup: equi-joins only, shard key on the " +
      "within-batch self-join") {
    // the incremental contract's plan face: every join is an equi-join
    // (cross-batch candidates on (band, band_key), verify on doc ids) and
    // the within-batch self-join keeps the df-cap shard in its keys — a
    // refactor that turns either into a nested loop or drops the guard
    // re-opens the quadratic regimes this operator exists to avoid.
    // The pair stages are audited directly: the verdict frame sits behind
    // connectedComponents' localCheckpoint, which truncates its plan.
    val (baseDup, ipairs) = DedupOps.incrIngestCorpusStages(spark, sfDir)
    val pc = plan(baseDup)
    assert(!pc.contains("CartesianProduct") &&
      !pc.contains("BroadcastNestedLoopJoin"), pc)
    val pi = plan(ipairs)
    assert(pi.contains("shard"), s"shard not in the within-batch plan:\n$pi")
    assert(!pi.contains("CartesianProduct") &&
      !pi.contains("BroadcastNestedLoopJoin"), pi)
    val p = plan(DedupOps.incrIngestDedupCorpus(spark, sfDir))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // the embedding face: the cross stage is an equi-join on the block id
    // (batch replicated, base scanned once) and the in-batch stage is the
    // shared embNearDupFrame blocked self-join — same no-nested-loop
    // contract
    val ps = plan(graft.ext.SimilarityOps.incrIngestSemDedupCorpus(spark, sfDir))
    assert(!ps.contains("CartesianProduct") &&
      !ps.contains("BroadcastNestedLoopJoin"), ps)
    // the PROBED batch face: no cartesian anywhere; the only nested
    // loops are the L-row broadcast centroid scorings (the probe frame
    // feeds both the cross and in-batch stages, so its subtree prints
    // once per consumer); every CANDIDATE join — cross stage and
    // in-batch — is KEYED on the probed list id
    // the probed family's theta-independent stages are session-cached
    // (localCheckpoint), so the scale-shape gates run on the UNCACHED
    // builders — the plans that actually build the shared artifacts
    val pprobe = plan(graft.ext.SimilarityOps.incrSemProbesUncached(spark, sfDir))
    assert(!pprobe.contains("CartesianProduct"), pprobe)
    // probe scoring over L centroids is the one expected nested loop
    assert("BroadcastNestedLoopJoin".r.findAllIn(pprobe).length == 1, pprobe)
    val pxp = plan(graft.ext.SimilarityOps.incrSemScoredCrossUncached(spark, sfDir))
    assert(!pxp.contains("CartesianProduct"), pxp)
    assert("BroadcastNestedLoopJoin".r.findAllIn(pxp).length == 1, pxp)
    // candidates come from the KEYED equi-join on the probed list id —
    // never a batch×base loop (the threshold is applied downstream on
    // the shared scored frame; scoring volume is the candidate set
    // either way, and one scored artifact serves every theta)
    val crossJoin = pxp.split("\n").find(l =>
      (l.contains("BroadcastHashJoin") || l.contains("SortMergeJoin") ||
        l.contains("ShuffledHashJoin")) && l.contains("p_label"))
    assert(crossJoin.isDefined, pxp)
    // the in-batch candidate join shape, on its own plan (inside the
    // verdict row it sits behind connectedComponents' checkpoint and
    // never prints): keyed on the probed list id, never a loop
    val pib = plan(graft.ext.SimilarityOps.incrSemInBatchCandUncached(spark, sfDir))
    assert(!pib.contains("CartesianProduct"), pib)
    val keyedCand = pib.split("\n").filter(l =>
      (l.contains("BroadcastHashJoin") || l.contains("SortMergeJoin") ||
        l.contains("ShuffledHashJoin")) && l.contains("p_label"))
    assert(keyedCand.nonEmpty,
      s"expected a keyed candidate join on p_label:\n$pib")
    // the verdict row itself: no cartesian anywhere
    val pann = plan(graft.ext.SimilarityOps.incrIngestSemDedupAnn(spark, sfDir))
    assert(!pann.contains("CartesianProduct"), pann)
    // the BANDED face: signatures are one projection pass (no join at
    // all), candidates an equi-join on (band, band_key) — never a loop
    val pbf = plan(graft.ext.SimilarityOps.incrSemBandFrameUncached(spark, sfDir))
    assert(!pbf.contains("Join"), s"band frame must be a pure scan:\n$pbf")
    val pbx = plan(graft.ext.SimilarityOps.incrSemBandedScoredCrossUncached(spark, sfDir))
    assert(!pbx.contains("CartesianProduct") &&
      !pbx.contains("BroadcastNestedLoopJoin"), pbx)
    assert(pbx.split("\n").exists(l =>
      (l.contains("BroadcastHashJoin") || l.contains("SortMergeJoin") ||
        l.contains("ShuffledHashJoin")) && l.contains("band_key")), pbx)
    val pbv = plan(graft.ext.SimilarityOps.incrIngestSemDedupBanded(spark, sfDir))
    assert(!pbv.contains("CartesianProduct"), pbv)
  }

  test("winnow pair join is an equi-join; bigram top-k avoids a global sort") {
    val p = plan(graft.ext.TextOps.winnowPairs(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    val png = plan(graft.ext.TextOps.topNgrams(spark, sfDir))
    assert(png.contains("TakeOrderedAndProject"), png)
    assert("HashAggregate".r.findAllIn(png).length >= 2, png) // map-side combine
  }

  test("bucketized range join is an equi-join on the bin, never a nested loop") {
    val df = graft.ext.TemporalOps.rangeJoinCounts(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // every window contains at least its own trigger event
    assert(df.collect().forall(_.getAs[Long]("n_events") >= 1L))
  }

  test("tfidf retrieval: term filter precedes the shuffle, top-k heaps, idf broadcasts") {
    val p = plan(graft.ext.TextOps.tfidfTopk(spark, sfDir))
    // the final top-k must be per-partition heaps, not a global sort
    assert(p.contains("TakeOrderedAndProject"), p)
    // the per-term idf frame joins broadcast (it is <= |query| rows); the
    // 1-row corpus-count crossJoin is a broadcast too, so only a true
    // cartesian is a defect here
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("mutual knn: blocked equi-join scoring, keyed mutual join, no cartesian") {
    // audit the UNCACHED ranking plan — the session cache would show
    // only a checkpoint scan. The ranking must be the bounded-heap
    // aggregate (partial buffers prune the n² scored stream before the
    // exchange), never a window sorting every scored row
    val pr = plan(graft.ext.SimilarityOps.knnRanksUncached(spark, sfDir,
      graft.ext.SimilarityOps.KnnK, 16))
    assert(pr.contains("topk_by_score"), pr)
    assert(!pr.contains("Window"), pr)
    assert(!pr.contains("CartesianProduct"), pr)
    assert(!pr.contains("BroadcastNestedLoopJoin"), pr)
    val p = plan(graft.ext.SimilarityOps.mutualKnn(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("fuzzy match: banded-DP predicate is the LAST join conjunct") {
    // a post-join .filter gets merged into the join condition with the
    // merged predicate FIRST — the DP then runs for every same-block
    // candidate including those failing the cheap doc_id< guard
    // (measured 4.8 s vs 1.0 s at sf0.1). The cheap conjunct must stay
    // ahead of levenshtein_within in the join condition.
    val p = plan(DedupOps.fuzzyMatch(spark, sfDir))
    val joinLine = p.split("\n")
      .find(l => l.contains("Join") && l.contains("levenshtein_within"))
    assert(joinLine.isDefined, p)
    val l = joinLine.get
    assert(l.indexOf("doc_id") >= 0 &&
      l.indexOf("doc_id") < l.indexOf("levenshtein_within"), l)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ann knn: heap-pruned probe + keyed list join, no window, no cartesian") {
    // the centroid probe is corpus × broadcast(L centroids) — a
    // BroadcastNestedLoopJoin over L rows is the intended shape there
    // (the rrf 1-row-count contract); what must NOT appear is an unkeyed
    // CartesianProduct or any window over the probe/candidate streams —
    // both rankings are the bounded-heap aggregate
    val pr = plan(SimilarityOps.knnRanksAnnUncached(spark, sfDir,
      SimilarityOps.KnnK, SimilarityOps.AnnKnnNprobe))
    assert(pr.contains("topk_by_score"), pr)
    assert(!pr.contains("Window"), pr)
    assert(!pr.contains("CartesianProduct"), pr)
    val p = plan(SimilarityOps.mutualKnnAnn(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    // the ANN classifier rides the same rank frame; its vote stage is a
    // keyed label equi-join + count + a window over ≤ k vote rows per
    // query — the ONE acceptable window (argmax over a k-bounded frame)
    val pc = plan(SimilarityOps.knnClassifyAnn(spark, sfDir))
    assert(!pc.contains("CartesianProduct"), pc)
    assert(!pc.contains("BroadcastNestedLoopJoin"), pc)
  }

  test("kmeans-ivf + clustered semdedup: cluster-keyed equi joins, no cartesian") {
    val p1 = plan(SimilarityOps.ivfKmeansTopk(spark, sfDir))
    assert(!p1.contains("CartesianProduct"), p1)
    // the pair stage must be audited pre-CC: inside the full op it
    // executes eagerly within the component materialization and the
    // final plan shows only checkpoint scans
    // BroadcastNestedLoopJoin IS expected once: Lloyd's assign step is
    // corpus × broadcast(k centroids) — the rrf small-frame contract.
    // What must hold: no unkeyed CartesianProduct anywhere, and the
    // PAIR join keyed on the cluster id with the cosine as a residual
    // condition (never a nested loop over vectors)
    val p2 = plan(SimilarityOps.semDedupClusteredPairs(spark, sfDir))
    assert(!p2.contains("CartesianProduct"), p2)
    val pairJoin = p2.split("\n").find(l =>
      l.contains("Join") && l.contains("vec_dot") && l.contains("cluster"))
    assert(pairJoin.isDefined, p2)
    assert(pairJoin.get.indexOf("vec_id") < pairJoin.get.indexOf("vec_dot"),
      pairJoin.get)
  }

  test("rrf fusion: token-keyed equi joins, no cartesian; fusion join keyed") {
    val p = plan(graft.ext.SimilarityOps.rrfFusion(spark, sfDir))
    // broadcast nested loops are fine (1-row counts, nQueries-row query
    // frames); an unkeyed CartesianProduct is not
    assert(!p.contains("CartesianProduct"), p)
    // r17: the registered rows serve the session-cached keyword rank
    // list, so the shape gate also runs on the UNCACHED builder — the
    // plan that actually builds it (the embLshNearDupUncached convention)
    val pk = plan(graft.ext.SimilarityOps.kwRanksUncached(spark, sfDir,
      graft.ext.SimilarityOps.RrfNQueries, graft.ext.SimilarityOps.RrfListK))
    assert(!pk.contains("CartesianProduct"), pk)
    // the vocabulary-bounded idf table must come back as a broadcast —
    // the scored stream never shuffles for the idf attach
    assert(pk.contains("BroadcastHashJoin"), pk)
  }

  test("k-core peeling: equi-joins only, lineage bounded across rounds") {
    // the per-round join shape must be audited UN-checkpointed — in the
    // full query every round's joins execute eagerly inside
    // localCheckpoint and the final plan shows only checkpoint scans
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("u_a", "u_b")
    val pr = plan(graft.ext.GraphOps.kcoreRound(edges, 2))
    assert(!pr.contains("CartesianProduct"), pr)
    assert(!pr.contains("BroadcastNestedLoopJoin"), pr)
    // per-round localCheckpoint must keep the FINAL plan free of the
    // round join tree (the connectedComponents lineage contract)
    val p = plan(graft.ext.GraphOps.kcore(spark, sfDir))
    assert(p.linesIterator.size < 40,
      s"plan grows with rounds — lineage not cut:\n$p")
  }

  test("triangle enumeration is equi-joins only (wedge order rides as residual)") {
    // the wedge join MUST hash-partition on the apex and the closing join
    // on (mid, max) — a nested loop here is O(V^2) at 100 TB; the
    // (deg, id) ordering must ride as a residual condition, not demote
    // the join
    val p = plan(graft.ext.GraphOps.triangles(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("connected-components star rounds are equi-joins + hash aggregates only") {
    import spark.implicits._
    // one full large-star + small-star round over a real edge frame: the
    // per-round building blocks must stay shuffle-hash operations — a
    // nested-loop or cartesian anywhere would multiply by rounds at scale
    val pairs = (1L until 50L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = DedupOps.connectedComponents(pairs)
    val p = plan(labels)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // localCheckpoint bounds the lineage: the final plan must NOT embed
    // the per-round join tree (a scan of checkpointed partitions instead)
    assert(p.linesIterator.size < 60,
      s"plan grows with rounds — lineage not cut:\n$p")
  }

  test("pinned pivot plans as distributed pivotfirst aggregates, bounded exchanges") {
    // an unpinned .pivot(col) would run a driver-side distinct job before
    // planning and make the schema data-dependent; the pinned form plans
    // as (key, status) partial+final aggregate -> pivotfirst aggregate,
    // every stage map-side-combined, exchanges bounded by the two
    // aggregates + the final sort (NOT by the data)
    val p = plan(CoreQueries.q10Pivot(spark, sfDir))
    assert(p.contains("pivotfirst"), p)
    assert("partial_".r.findAllIn(p).length >= 2, p) // map-side combine everywhere
    assert("Exchange".r.findAllIn(p).length <= 3, p)
  }

  test("semantic decontam: bench side broadcasts, corpus never shuffles; " +
      "ANN candidates come from a KEYED list join") {
    // EXACT: one corpus scan -> BroadcastNestedLoopJoin against the
    // broadcast bench slice (non-equi threshold predicate — the
    // mediaHammingKnn brute-scoring contract: linear in corpus × bench,
    // the bench side broadcast-sized BY DEFINITION). The ONLY exchanges
    // allowed are the bench BroadcastExchange and the output-order range
    // partitioning — zero corpus-side hash shuffles.
    val pe = plan(SimilarityOps.decontamSemantic(spark, sfDir))
    assert(!pe.contains("CartesianProduct"), pe)
    assert("BroadcastNestedLoopJoin".r.findAllIn(pe).length == 1, pe)
    assert(!pe.contains("Exchange hashpartitioning"),
      s"corpus-side shuffle in exact semantic decontam:\n$pe")
    // ANN: the candidate join must be a KEYED BroadcastHashJoin on the
    // list id with the threshold as residual — the corpus side still
    // never hash-shuffles (the only hash exchanges are the bench probe
    // window and the centroid aggregate, both bench/L-sized)
    val pa = plan(SimilarityOps.decontamSemanticAnn(spark, sfDir))
    assert(!pa.contains("CartesianProduct"), pa)
    val candJoin = pa.split("\n").find(l =>
      l.contains("BroadcastHashJoin") && l.contains("p_label"))
    assert(candJoin.isDefined, pa)
    assert(candJoin.get.contains("FLOOR"),
      s"threshold not residual on the keyed join:\n${candJoin.get}")
    // probe scoring over L centroids is the one expected nested loop
    assert("BroadcastNestedLoopJoin".r.findAllIn(pa).length == 1, pa)
    // the per-doc score row: same broadcast-scan shape, then ONE
    // map-side-combined aggregate — pair rows must fold to two-long
    // partials before any exchange
    val ps = plan(SimilarityOps.contamSemantic(spark, sfDir))
    assert(!ps.contains("CartesianProduct"), ps)
    assert(ps.contains("partial_max") || ps.contains("partial_sum"),
      s"contam scores not map-side combined:\n$ps")
  }

  test("decontamination broadcasts the benchmark side; vocab top-k heaps") {
    val pd = plan(graft.ext.TextOps.decontamNgram(spark, sfDir))
    assert(pd.contains("BroadcastHashJoin"), pd) // eval sets are small by definition
    assert(!pd.contains("CartesianProduct") && !pd.contains("BroadcastNestedLoopJoin"), pd)
    val pv = plan(graft.ext.TextOps.vocabCoverage(spark, sfDir))
    assert(pv.contains("TakeOrderedAndProject"), pv) // limit BEFORE the cum window
    assert("HashAggregate".r.findAllIn(pv).length >= 2, pv)
  }

  test("substring dedup: anchor equi-join only, map-side-combined anchor aggregate") {
    val p = plan(graft.ext.TextOps.substringDedup(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the anchor (min, count) aggregate must have a partial phase — this
    // is what keeps m-duplicated boilerplate shingles from shipping all
    // m rows to one reducer
    assert(p.contains("partial_min") || p.contains("partial_count"), p)
  }

  test("mixture sampling broadcasts per-source stats; dsir broadcasts the λ table") {
    // the doc frame must join the (≤ #sources)-row dimension broadcast —
    // a sort-merge here would shuffle the whole corpus for 20 rows
    val pm = plan(graft.ext.TextOps.sourceMixtureSample(spark, sfDir))
    assert(pm.contains("BroadcastHashJoin"), pm)
    assert(!pm.contains("SortMergeJoin"), pm)
    // dsir: the 1024-row λ table broadcasts onto the exploded token scan
    // (the doc_id-keyed score join may legitimately sort-merge)
    val pd = plan(graft.ext.TextOps.dsirScores(spark, sfDir))
    assert(pd.contains("BroadcastHashJoin"), pd)
    assert(!pd.contains("CartesianProduct") && !pd.contains("BroadcastNestedLoopJoin"), pd)
    // cluster-balanced sampling: the same contract over LEARNED clusters —
    // the ≤ k-row stats frame broadcasts onto the cached assignment scan;
    // a sort-merge here would shuffle the corpus for 8 rows
    val pc = plan(graft.ext.SimilarityOps.clusterBalancedSample(spark, sfDir))
    assert(pc.contains("BroadcastHashJoin"), pc)
    assert(!pc.contains("SortMergeJoin"), pc)
  }

  test("global sequence packing never funnels documents into one reducer") {
    val df = graft.ext.TextOps.seqPackGlobal(spark, sfDir)
    val p = plan(df)
    // the window must be partitioned by pid (partition-local prefix), not
    // a global ORDER BY window (empty partition spec = one reducer)
    assert(p.contains("windowspecdefinition(pid"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
    // training order: the same contract — a global ROW_NUMBER would be
    // one reducer sorting the corpus; the rank window must be pid-local
    val pt = plan(graft.ext.TextOps.trainingOrder(spark, sfDir))
    assert(pt.contains("windowspecdefinition(pid"), pt)
    assert(pt.contains("BroadcastHashJoin") || pt.contains("BroadcastExchange"), pt)
    // global length quartiles: was the registry's LAST unpartitioned
    // WindowExec (one reducer sorting the corpus + bench-tail warnings);
    // now the same two-pass rank — pid-local window only, closed-form
    // ntile arithmetic on the global position
    val pq = plan(graft.ext.TextOps.lenQuartiles(spark, sfDir))
    assert(pq.contains("windowspecdefinition(pid"), pq)
    assert(!pq.contains("windowspecdefinition(n_chars"), pq)
    assert(pq.contains("BroadcastHashJoin") || pq.contains("BroadcastExchange"), pq)
  }

  test("AQE splits skewed join partitions at runtime (skew-readiness)") {
    // the 100 TB story for unforeseen skew: AQE re-plans a sort-merge
    // join whose shuffle stats reveal a hot key. Thresholds are scaled to
    // test-size data; the assertion is on the FINAL adaptive plan of the
    // executed query (skew=true on the SMJ), the same mechanism that
    // fires at production thresholds on a cluster.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "20KB")
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    s2.conf.set("spark.sql.shuffle.partitions", "4")
    import s2.implicits._
    // one hot key carrying ~90% of the left side's bytes; pads must be
    // INCOMPRESSIBLE — skew detection reads compressed shuffle sizes, and
    // a constant pad lz4-compresses to nothing
    val rnd = new scala.util.Random(11)
    val left = (1 to 30000)
      .map(i => (if (i % 10 != 0) 7L else i.toLong,
        Array.fill(40)(('a' + rnd.nextInt(26)).toChar).mkString))
      .toDF("k", "pad")
    val right = (1 to 200).map(i => (i.toLong, s"r$i")).toDF("k", "r")
    val joined = left.join(right, "k")
    joined.collect()
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), p)
    assert(p.contains("skew=true"), s"AQE did not mark the skewed join:\n$p")
  }

  test("kmeans rounds broadcast centroids; corpus never cartesians") {
    // audit the UNCACHED run: the public path session-caches the final
    // assignment and would show only a checkpoint scan
    val p = plan(graft.ext.SimilarityOps.kmeansRunUncached(spark, sfDir,
      graft.ext.SimilarityOps.KmeansK, graft.ext.SimilarityOps.KmeansRounds)._3)
    // each Lloyd round must broadcast the k centroids against the corpus
    // scan (BroadcastExchange), never shuffle the corpus to meet them,
    // and recompute partials map-side (two-phase hash aggregate)
    assert(p.contains("BroadcastExchange"), s"centroids not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("bloom decontamination probes the filter before the join") {
    val p = plan(graft.ext.TextOps.decontamBloom(spark, sfDir))
    // the corpus-side stage must carry the might_contain predicate (the
    // prefilter that kills clean grams before any join work), and the
    // verify join must still be the broadcast equi-join
    assert(p.toLowerCase.contains("might_contain"), s"no bloom probe in plan:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("heavy hitters: sketch aggregates in two phases; candidates broadcast") {
    val p = plan(graft.ext.TextOps.heavyHitters(spark, sfDir))
    // the Misra-Gries aggregate must run partial-then-merge (map-side
    // sketches of <= k counters are what make pass 1 scale), and pass 2's
    // candidate prune must be a broadcast join, not a shuffle of the
    // token stream against 64 rows
    assert("partial_misra_gries|partial_misragries".r.findFirstIn(p.toLowerCase).isDefined,
      s"no partial sketch phase:\n$p")
    assert("merge_misra_gries|misra_gries".r.findAllIn(p.toLowerCase).length >= 2, p)
    assert(p.contains("BroadcastHashJoin"), s"candidate prune not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("segment dedup: winner election is aggregate + equi-join, no digest window") {
    val p = plan(graft.ext.TextOps.segDedup(spark, sfDir))
    // a row_number window over the segment digest would funnel degenerate
    // boilerplate through one partition; the plan must elect winners with
    // hash aggregates and join back on the digest only
    assert(!p.contains("Window"), s"digest window crept in:\n$p")
    assert("HashAggregate|SortAggregate|ObjectHashAggregate".r.findFirstIn(p).isDefined, p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("PQ: codebooks and LUT broadcast; code scoring is keyed aggregates only") {
    // training (uncached — the public path checkpoints the codebook):
    // every assignment pass broadcasts the M·K codeword rows against the
    // subvector scan, recompute is partial+final aggregates
    val pt = plan(graft.ext.SimilarityOps.pqRunUncached(spark, sfDir)._2)
    assert(pt.contains("BroadcastExchange"), s"codebook not broadcast:\n$pt")
    assert(!pt.contains("CartesianProduct") && !pt.contains("BroadcastNestedLoopJoin"), pt)
    // scoring: the n·M code rows must meet the LUT via broadcast (the
    // corpus never shuffles to be scored) and fold per (query, vec) in a
    // two-phase hash aggregate; no window sees the unaggregated stream
    // ivfPqTopk additionally carries the coarse-probe BNLJ (nQueries ×
    // broadcast(L centroids) — the rrf small-frame contract, same as the
    // whole IVF family); pure PQ scoring must not need one
    for ((df, bnljOk) <- Seq(SimilarityOps.pqTopk(spark, sfDir) -> false,
                             SimilarityOps.ivfPqTopk(spark, sfDir) -> true,
                             SimilarityOps.ivfPqResTopk(spark, sfDir) -> true)) {
      val ps = plan(df)
      assert(ps.contains("BroadcastHashJoin"), s"LUT join not broadcast:\n$ps")
      assert(!ps.contains("CartesianProduct"), ps)
      if (!bnljOk) assert(!ps.contains("BroadcastNestedLoopJoin"), ps)
      assert("HashAggregate".r.findAllIn(ps).length >= 2, ps)
      assert(ps.linesIterator.exists(l =>
          l.contains("Exchange hashpartitioning") && l.contains("salt")),
        s"no salted top-k exchange:\n$ps")
    }
    // random projection: queries broadcast onto the projected scan, the
    // corpus never shuffles to be scored, salted two-phase top-k on both
    // passes; no cartesian/BNLJ anywhere (the =!= join is keyed by the
    // broadcast side)
    val pr = plan(SimilarityOps.rpTopk(spark, sfDir))
    assert(pr.contains("BroadcastHashJoin") || pr.contains("BroadcastNestedLoopJoin"),
      s"queries not broadcast:\n$pr")
    assert(!pr.contains("CartesianProduct"), pr)
    assert(!pr.contains("SortMergeJoin"), s"corpus shuffled to meet queries:\n$pr")
    assert(pr.linesIterator.exists(l =>
        l.contains("Exchange hashpartitioning") && l.contains("salt")),
      s"no salted top-k exchange:\n$pr")
  }

  test("media near-dup: signatures projected in the scan, no blob in any exchange") {
    val df = graft.ext.JsonMediaOps.mediaNearDup(spark, sfDir)
    def collectExchanges(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.exchange.Exchange] =
      p.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          collectExchanges(a.executedPlan)
        case e: org.apache.spark.sql.execution.exchange.Exchange => Seq(e)
      }.flatten
    val exchanges = collectExchanges(df.queryExecution.executedPlan)
    assert(exchanges.nonEmpty)
    exchanges.foreach { e =>
      assert(!e.output.exists(_.dataType ==
        org.apache.spark.sql.types.BinaryType),
        s"blob column crosses an exchange: ${e.output.map(a => s"${a.name}:${a.dataType}")}")
    }
    val p = plan(df)
    // the banded self-join must be an equi hash join on (band, bits),
    // never a cartesian, and the signature must come from the codegen'd
    // expression in the scan projection
    assert(p.contains("media_dhash"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("media decontam: bench side broadcasts, corpus bands never shuffle") {
    val p = plan(graft.ext.JsonMediaOps.mediaDecontam(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // the corpus band frame must reach the join without a shuffle: the
    // only allowed exchanges are the broadcast of the bench slice and
    // the final presentation sort's range exchange
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 0, s"corpus side shuffles ($hashEx hash exchanges):\n$p")
  }

  test("media ANN: no exchange carries the blob; candidate join keyed; salted top-k") {
    val df = graft.ext.JsonMediaOps.mediaAnnTopk(spark, sfDir)
    // the media feature vectors must be projected in the scan stage — a
    // binary column crossing ANY exchange means the blob is being
    // shuffled/broadcast instead of its derived features. AQE wraps the
    // physical tree in AdaptiveSparkPlanExec (a traversal leaf), so
    // descend into its current plan explicitly.
    def collectExchanges(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.exchange.Exchange] =
      p.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          collectExchanges(a.executedPlan)
        case e: org.apache.spark.sql.execution.exchange.Exchange => Seq(e)
      }.flatten
    val exchanges = collectExchanges(df.queryExecution.executedPlan)
    assert(exchanges.nonEmpty)
    exchanges.foreach { e =>
      assert(!e.output.exists(_.dataType ==
        org.apache.spark.sql.types.BinaryType),
        s"blob column crosses an exchange: ${e.output.map(a => s"${a.name}:${a.dataType}")}")
    }
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    // seed-table probe/assignment joins are the documented small-frame
    // BNLJ contract (L=4 rows); candidate scoring joins must be hash
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.linesIterator.exists(l =>
        l.contains("Exchange hashpartitioning") && l.contains("salt")),
      s"no salted top-k exchange:\n$p")
  }

  test("ANN top-k parallelism does not collapse to nQueries partitions") {
    // phase-1 window must partition by (query_id, salt) — a window keyed by
    // query_id alone funnels the whole corpus through nQueries reducers
    for (df <- Seq(SimilarityOps.bruteTopk(spark, sfDir),
                   SimilarityOps.ivfTopk(spark, sfDir))) {
      val p = plan(df)
      // the full scored set must shuffle on (query_id, salt), not query_id
      assert(p.linesIterator.exists(l =>
          l.contains("Exchange hashpartitioning") && l.contains("salt")),
        s"no salted exchange — corpus funnels into nQueries reducers:\n$p")
    }
  }

  test("lang-ID scores in ONE native pass — no re-inlined gram HOFs (r8 weak row)") {
    // the r8 defect: CollapseProject re-inlined the interpreted gram
    // transform(...) ~14x across the score columns and the argmax CASE
    // (6.5-9.0 s vs 0.11 s for the sibling sharing the scorer). The fix is
    // pinned structurally: every lang plan scores via the codegen
    // trigram_profile_scores expression, and no gram-building HOF survives
    // anywhere in the lang plans.
    for (df <- Seq(graft.ext.TextOps.langIdNgram(spark, sfDir),
                   graft.ext.TextOps.langConfusion(spark, sfDir),
                   graft.ext.TextOps.langIdLearned(spark, sfDir),
                   graft.ext.TextOps.langConfusionLearned(spark, sfDir))) {
      val p = plan(df)
      assert(p.contains("trigram_profile_scores"),
        s"native scorer missing from plan:\n$p")
      assert(!p.contains("transform(sequence"),
        s"re-inlined gram HOF present:\n$p")
      // the scorer must appear in exactly one projection of the (cached)
      // scan plan — re-inlining would multiply it across consumers
      val n = "trigram_profile_scores".r.findAllIn(p).length
      assert(n <= 2, s"scorer appears $n times — re-inlined:\n$p")
    }
  }

  test("learned lang profiles: windows are keyed (gram / lang), totals broadcast") {
    // the vocab-build shape that survives 100×: cross-language totals ride
    // a gram-partitioned window (high-cardinality key), top-k a
    // lang-partitioned one — NO unpartitioned window may funnel the
    // (lang, gram) aggregate through one reducer; per-language and global
    // totals join back as broadcasts
    val p = plan(graft.ext.TextOps.langProfilesLearned(spark, sfDir))
    val specs = "windowspecdefinition\\((\\w+)#".r.findAllMatchIn(p)
      .map(_.group(1)).toSet
    assert(specs.nonEmpty && specs.subsetOf(Set("gram", "lang")),
      s"window partition keys $specs:\n$p")
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("per-source quartiles: the ntile window is partitioned by source") {
    // the scale-safe sibling of len_quartiles: the ONLY window in the
    // plan must be source-partitioned — an unpartitioned ntile funnels
    // the corpus through one reducer (the global row's documented flaw)
    val p = plan(graft.ext.TextOps.lenQuartilesBySource(spark, sfDir))
    val specs = "windowspecdefinition\\((\\w+)#".r.findAllMatchIn(p)
      .map(_.group(1)).toList
    assert(specs.nonEmpty && specs.forall(_ == "source"),
      s"window partition keys $specs — expected every window keyed by " +
        s"source:\n$p")
  }

  test("bpe encode: vocab joins broadcast; doc counts are partial+final aggregates") {
    // the encode plan at any corpus size: one corpus explode into a
    // BROADCAST join against the vocab-sized (word → |syms|) frame, then
    // a doc-keyed map-side-combined aggregate — a single data shuffle
    val p = plan(graft.ext.TextOps.bpeEncode(spark, sfDir, rounds = 2))
    assert(p.contains("BroadcastHashJoin"), p)
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("artifact-served IVF: the plan scans the persisted table, never the training aggregate") {
    // the persisted-index contract at the PLAN level: the served row's
    // centroid side is a parquet scan of the artifact file — the
    // training derivation (posexplode over the corpus + the centroid
    // aggregate) must appear NOWHERE in the scoring plan, which is what
    // "built once, persisted, broadcast at scoring" means physically
    SimilarityOps.annIvfArtifactTopk(spark, sfDir) // ensure written
    val served = plan(SimilarityOps.ivfTopkFromArtifact(spark, sfDir))
    assert(served.contains("graft_artifacts"),
      s"served plan must scan the artifact parquet:\n$served")
    assert(!served.toLowerCase.contains("posexplode"),
      s"served plan must not contain the centroid training explode:\n$served")
    // the derive-in-session sibling, for contrast, never reads it
    val derived = plan(SimilarityOps.ivfTopk(spark, sfDir))
    assert(!derived.contains("graft_artifacts"), derived)
  }
}
