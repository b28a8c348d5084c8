package graft

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** sf1 scaling probe (r5 verdict item 5): measure the heaviest queries at
  * 10× the bench scale and record sf1/sf0.1 ratios, to catch super-linear
  * growth (fuzzy-match block occupancy, LSH candidate volume, k-core
  * rounds) empirically rather than by scaladoc.
  *
  * The driver ships no sf1 tables (TESTDATA.md stops at sf0.1, the
  * testdata tree is read-only), so the probe derives one at
  * `/tmp/graft_sf1` from sf0.1 — 10 id-shifted copies, mutated so the
  * scale-up is ORGANIC rather than degenerate:
  *
  *  - `documents`: each copy's text is a per-copy deterministic token
  *    permutation (tokens sorted by xxhash64(token, POSITION, copy)) —
  *    copies are NOT near-duplicates of each other, so dedup-family
  *    candidate volume grows with corpus size the way fresh content
  *    does. Copy 0 is the original. The hash MUST include the token's
  *    position: sorting by hash(token, copy) alone canonicalizes word
  *    order, which turned the harness's order-perturbed near-dup
  *    families into much closer near-dups in every copy — measured as a
  *    184× minhash_near_dup blow-up at 10× data, a generation artifact,
  *    not an operator property. (Exact copies would instead hand every
  *    doc 9 twins — an adversarial hot-key fixture, which ExtOpsSpec
  *    already covers — and measure the guards, not the scaling.)
  *  - `embeddings`: each copy applies a per-copy ORTHOGONAL transform —
  *    circular shift by the copy index PLUS deterministic per-(coord,
  *    copy) sign flips — so within-copy cosine structure is preserved
  *    exactly, and relabels lists to `label + 10·copy`, so the IVF list
  *    count grows with the corpus (100 lists at 10 copies ≈ the
  *    production L ~ √n regime the ANN scaladocs assume; with L fixed,
  *    IVF candidate volume per query grows linearly with n and the probe
  *    would measure that choice, not the plan). The sign flips are
  *    load-bearing for the sf1 CORRECTNESS sweep: shift-only copies
  *    leave a rotation symmetry — cos(q, rot₊d v) ≡ cos(q, rot₋d v) for
  *    a query that is itself a rotation of v — that manufactures
  *    mathematically-TIED candidate pairs no real corpus has, and the
  *    tie then falls to sub-ulp evaluation-order differences between
  *    engines (measured: ONE rank-4/5 swap in 100k knn_refine_nnd rows,
  *    DuckDB scoring the tied pair bit-equal, Spark's float fold 1 ulp
  *    apart). A copy-dependent sign pattern has no such symmetry.
  *  - `events`: user_id/event_id shifted per copy AND ts shifted by
  *    copy·366 days — the co-engagement graph becomes 10 disjoint
  *    copies (10× edges, same peel depth). The ts shift is load-bearing:
  *    with copies sharing (event_type, hour) buckets, every bucket held
  *    10× users, the co-occurrence bucket cap dropped nearly all of
  *    them, and the sf1 graph came out almost EMPTY (measured
  *    triangles "ratio" 0.0 — the cap guard doing its job on a
  *    degenerate workload, not a scaling signal). Since v3 `ts` is
  *    written as parquet timestamp-micros ([[Tables.events]] sniffs the
  *    encoding either way) so the DuckDB side of the full-suite sf1
  *    CORRECTNESS sweep can run the temporal oracles' date arithmetic
  *    directly — raw long nanos would fail every `date_trunc` oracle.
  *  - TPC-H tables (v3, for the full-suite sf1 oracle sweep): `region`/
  *    `nation` are copied UNCHANGED (fixed dimensions — TPC-H holds them
  *    constant at every scale factor); `customer`/`supplier`/`part`/
  *    `orders`/`lineitem` get 10 id-shifted copies with every foreign
  *    key shifted by the SAME per-copy stride, so referential integrity
  *    holds by construction (dq_checks' anti-join stays at 0
  *    violations) and join fan-outs scale 10× without cross-copy edges.
  *    Monetary doubles get `+ k` (an exact integer increment — the
  *    2-decimal fraction is untouched, so DECIMAL(18,2) casts stay
  *    bit-identical cross-engine) to break the 10-way exact-tie pileups
  *    that identical copies would hand every top-k ordering.
  *
  * Output: one line per query `{"query":…,"sf01_cold":…,"sf01_warm":…,
  * "sf1_cold":…,"sf1_warm":…,"ratio":…,"consumer":"noop"}` plus a
  * summary file (SPARK_GRAFT_SCALE_OUT, default scale_probe.json). Every
  * reading times [[Harness.consume]]. The RATIO is
  * cold/cold: several probed operators session-cache their heavy frame
  * per (session, sfDir) — kcore, triangles, the ANN-kNN family, the LSH
  * band frames — so a warm (second-run) comparison would measure cache
  * reads, not the computation whose scaling is in question. A sf0.001
  * pass runs first so whole-stage codegen is compiled before any timed
  * run (the plan shapes are scale-independent, so without it the sf0.1
  * cold runs would pay all compilation and deflate every ratio). */
object ScaleProbe {

  val Copies = 10
  val Stride = 10000000L

  /** The quadratic-adjacent families: dedup (token + vector + graph),
    * retrieval fusion, decontamination, and the new ANN-kNN rows. */
  val Probed: Seq[String] = Seq(
    "fuzzy_match", "rrf_fusion", "doc_winnow_pairs", "minhash_near_dup",
    "simhash_near_dup", "decontam_bloom", "semdedup", "semdedup_clustered",
    "emb_lsh_near_dup", "emb_lsh_near_dup_hi", "kcore", "triangles",
    "mutual_knn_graph_ann", "hard_negatives_ann", "ann_ivf_kmeans_topk",
    "ann_pq_topk", "ann_ivf_pq_topk", "ann_pq_rerank_topk", "lm_likelihood",
    // r8: anchor-election substring dedup (candidate volume rides true
    // duplicate mass), dsir (token-exploded broadcast-join + doc-keyed agg)
    "substring_dedup", "dsir_scores",
    // r8 session 2: residual IVF-PQ (one more broadcast-join stage over
    // ivf_pq — the ratio should track its parent), trigram backoff LM
    // (one extra n-gram aggregate over lm_likelihood), BPE training
    // (R vocab-sized rounds after ONE corpus-sized aggregate — the ratio
    // measures whether vocab growth stays sub-linear in corpus size),
    // and the cross-modal media ANN row (media-derived vectors feed the
    // probed-IVF plan; blob bytes must prune before any shuffle)
    "ann_ivf_pq_res_topk", "lm_likelihood_tri", "bpe_learn",
    "media_ann_topk",
    // r10: batched BPE (13 super-rounds for ~65 merges — the ratio
    // checks the super-round aggregates stay vocab-bound), and the
    // r9 learned lang-ID family (one corpus scan + gram-keyed aggregate
    // each — ratios should be ≈ linear)
    "bpe_learn_batched", "lang_profiles", "lang_id_learned",
    "lang_confusion_learned",
    // r10: previously probed ad hoc (PROBE_ONLY merges) — in the list so
    // a full sweep keeps their rows
    "bpe_encode", "gopher_filter", "bpe_fertility",
    // r10: cluster-granular split — the cluster build plus ONE doc-sized
    // equi-join; the ratio should track dedup_clusters' ≈ linear shape
    "train_test_split_neardup",
    // r10: fuzzy decontam — corpus bands BROADCAST-join the bench slice's
    // (no shuffle); the ratio should be ≈ linear in the corpus scan +
    // true cross-slice candidate mass
    "decontam_neardup",
    // r10: the quality policy pair — mixer is four doc-keyed signal
    // aggregates + equi-joins, prune is the LM aggregate + a histogram
    // window + broadcast cuts; both should scale ≈ linearly
    "quality_mixer", "quality_prune_per_source",
    // r10: the capstone composition — under protocol v2 its cold IS the
    // full build of every component family (mixer signals + LM + cluster
    // table); the ratio should stay in the linear-with-fixed-cost band
    "curation_pipeline",
    // r11: the staged ordering (dedup induced on quality survivors) —
    // cold pays the same component builds plus the scoped pair join;
    // the media Hamming family (banded self-join, simhash's shape); and
    // the per-source ntile window (one reducer per source, ≈ linear)
    "curation_pipeline_staged", "media_phash", "media_near_dup",
    "media_near_dup_hi", "media_dedup_clusters", "media_decontam",
    "media_cluster_keepers",
    "len_quartiles_by_source",
    // r12 probe audit (verdict item 6): the remaining corpus-sized rows
    // without a ratio — the media scan pair (synth + header decode, one
    // codegen'd scan each), the events-scan JSON extraction, the
    // sharded-CSV ETL at harness scale (synthesizes its input from
    // `events`, so it scales with sf), and the new multimodal capstone
    // (text gates ∩ media keepers — cold pays every component family)
    "media_meta", "media_transform", "json_extract", "taxi_scaled_stats",
    "curation_pipeline_multimodal",
    // r12: the dense-grid hash siblings (uniform band keys — the ratio
    // should sit at or below the quantized _hi point's 2.1)
    "media_phash_dense", "media_near_dup_dense",
    // r12: staged across modalities — cold pays the staged text build
    // plus the survivor-scoped media stage; should track the staged row
    "curation_pipeline_staged_multimodal",
    // r12: reverse-image search — broadcast queries over one corpus
    // scan, salted top-k; should stay ≈ linear
    "media_hamming_knn",
    // r13: semantic decontam. NOTE the expected band: the exact row is
    // one corpus scan × the broadcast bench slice, and the HARNESS
    // bench slice grows with sf (vec_id % 29), so pair volume — and
    // the ratio — carries a quadratic-in-sf component BY CONSTRUCTION
    // (sf0.1→sf1 is 133k→13.3M pairs). A real eval set is fixed-size,
    // where the same plan is exactly linear in the corpus; the _ann
    // row prunes candidates to the probed lists (nprobe/L of the
    // corpus per bench item) and should sit well below the exact row
    "decontam_semantic", "decontam_semantic_ann",
    // the per-doc score row shares the exact row's pair volume but
    // folds it map-side to two-long partials — the ratio should track
    // decontam_semantic's
    "contam_semantic",
    // r13: the incremental-ingest family. incr_ingest_dedup's cold pays
    // the shared shingle/band build (the minhash family's fixed cost)
    // plus increment-sized joins — the ratio should sit at or below
    // minhash_near_dup's; the ANN append rows are a base-slice Lloyd
    // (broadcast-assign rounds, ≈ linear) plus batch-sized assignment,
    // so both should track ann_ivf_kmeans_topk's band
    "incr_ingest_dedup", "ann_index_append", "ann_ivf_append_topk",
    // r13 (this session): cluster-balanced sampling rides the cached
    // Lloyd (cold pays it) then is one broadcast-join scan — expect the
    // kmeans band; random projection is a stateless projection scan +
    // broadcast-query scoring (candidate volume n × nQueries × RpDim)
    // + a candidate-sized exact tail — expect ≈ linear
    "cluster_balanced_sample", "ann_rp_topk", "ann_rp_q8_topk",
    // incremental semantic dedup: exact bipartite cross stage is
    // O(batch × base / blocks) scoring — both sides grow 10× at sf1 so
    // the pair volume grows 100×; expect the quadratic-adjacent band of
    // its exact relation (emb_near_dup's), damped by fixed overhead —
    // the registered 0.47/0.8 division of labor note in the scaladoc
    "incr_ingest_semdedup",
    // training order: one order-preserving range exchange + pid-local
    // rank window + O(#partitions) driver prefix — expect ≈ linear
    "training_order",
    // curate → order → shard composition: cold pays the staged
    // capstone's component builds (its 2.1 band) + the sub-second
    // ordering of the survivor frame
    "curation_training_order",
    // decontam verdict: three doc_id left-joins over the component
    // frames (shingle/band/hash passes shared) — expect the decontam
    // family's band (decontam_neardup 4.7)
    "decontam_verdict",
    // DSIR resampling: rides the dsir_scores λ pass (probed 0.9,
    // overhead-dominated) + one 1-row aggregate + a stateless filter
    "dsir_sample",
    // r14: the probed incremental-semantic batch face (ratio should be
    // ≈ linear — probe rows are batch × L, cross candidates
    // nprobe·batch·n/L vs the exact row's batch×base), the learned
    // quality pair (one token explode + vocab-bounded aggregates), and
    // the semantic drift row (doc→cluster equi-join + aggregates
    // bounded by #sources × k)
    "incr_ingest_semdedup_ann", "incr_ingest_semdedup_ann_047",
    "quality_learned", "quality_learned_audit", "source_drift_semantic",
    // r14 session 2: the learned score inside the per-source prune
    // policy — rides the session-cached learned-score frame + the
    // histogram-cut plan, so its ratio should track the LM prune's —
    // and the quality-curriculum order (learned scores + the two-pass
    // rank; the ratio should track training_order's ≈ flat shape)
    "quality_prune_learned", "curriculum_order",
    // r15: the multi-batch accept-then-grow loop — per wave the batch
    // bands equi-join the grown base's band index, so the ratio should
    // track incr_ingest_dedup's join-bound band (never the quadratic
    // class: nothing re-pairs base×base as the base grows); the
    // artifact row should be ≈ the served search alone (write once per
    // session, L-row read-back); the safety gate is one stateless scan
    // (expect the gopher_filter ≈ linear band)
    "incr_ingest_dedup_multi", "ann_ivf_artifact_topk", "safety_filter",
    // the embedding-face multi: one intrinsic signature pass + K banded
    // equi-joins against the grown base — expect the banded family's
    // collision-physics band, not the text multi's 3×-explode blend
    "incr_ingest_semdedup_multi")

  /** Optional comma-separated subset (SPARK_GRAFT_PROBE_ONLY) — rerun a
    * few rows without repaying the whole sweep. */
  private def selected: Seq[String] = sys.env.get("SPARK_GRAFT_PROBE_ONLY")
    .fold(Probed)(Harness.only(_, SparkEntry.queries.keySet))

  /** Bump when the derivation itself changes: the marker must invalidate
    * stale trees generated by an older construction (v2 = per-copy sign
    * flips — a v1 shift-only tree would silently re-manifest the tied-
    * cosine rank swaps the flips exist to kill; v3 = TPC-H tables +
    * timestamp-encoded events, enabling the FULL-suite sf1 sweep). */
  val GeneratorVersion = 3

  def ensureGenerated(spark: SparkSession, srcDir: String, outDir: String): Unit = {
    // marker carries the SOURCE dir AND the generator version: a rerun
    // with a different SPARK_GRAFT_SF_DIR or an upgraded derivation must
    // regenerate, or the recorded "ratio"/sweep would silently use data
    // from a different scale or an obsolete construction
    val marker = Paths.get(s"$outDir/_PROBE_READY")
    val stamp = s"$srcDir v$GeneratorVersion"
    if (Files.exists(marker) && Files.readString(marker).trim == stamp) return

    val copies = spark.range(Copies).select(col("id").cast("int").as("k"))

    // documents: per-copy deterministic token permutation
    val docs = Tables.documents(spark, srcDir)
      .join(broadcast(copies), lit(true))
      .select(
        (col("doc_id") + col("k") * Stride).as("doc_id"),
        when(col("k") === 0, col("text")).otherwise(
          array_join(transform(
            array_sort(expr(
              // (hash(token, pos, copy), token) pairs — position-dependent
              "transform(split(text, ' '), (t, i) -> struct(xxhash64(t, i, k) AS h, t AS t))")),
            s => s.getField("t")), " ")).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    docs.write.mode(SaveMode.Overwrite).parquet(s"$outDir/documents.parquet")

    // embeddings: per-copy orthogonal transform (shift + sign flips, see
    // scaladoc) + list relabel
    val emb = Tables.embeddings(spark, srcDir)
      .join(broadcast(copies), lit(true))
      .select(
        (col("vec_id") + col("k") * Stride).as("vec_id"),
        when(col("k") === 0, col("embedding")).otherwise(expr(
          """transform(
            |  concat(slice(embedding, k + 1, size(embedding) - k),
            |         slice(embedding, 1, k)),
            |  (x, i) -> CASE WHEN pmod(xxhash64(i, k), 2) = 0
            |            THEN x ELSE -x END)""".stripMargin))
          .as("embedding"),
        (col("label") + col("k") * 10).cast("int").as("label"))
    emb.write.mode(SaveMode.Overwrite).parquet(s"$outDir/embeddings.parquet")

    // events: id-shifted disjoint copies; ts re-encoded as timestamp_ntz
    // micros — the DRIVER's encoding (timestamp[us], isAdjustedToUTC
    // false). Writing TimestampType instead would mark the column
    // adjusted-to-UTC, DuckDB would read TIMESTAMPTZ, and every temporal
    // oracle's output would grow a "+00" suffix the Spark dump lacks —
    // a whole-row hash mismatch with identical wall-clock values. Under
    // the UTC session the NTZ cast is wall-clock-exact.
    val ev = Tables.events(spark, srcDir)
      .join(broadcast(copies), lit(true))
      .select(
        (col("event_id") + col("k") * Stride).as("event_id"),
        timestamp_micros(
          unix_micros(col("ts")) + col("k").cast("long") * 366L * 86400L * 1000000L)
          .cast("timestamp_ntz").as("ts"),
        (col("user_id") + col("k") * Stride).as("user_id"),
        col("event_type"), col("value"), col("props"))
    ev.write.mode(SaveMode.Overwrite).parquet(s"$outDir/events.parquet")

    // TPC-H tables (v3): fixed dimensions copied verbatim; fact/entity
    // tables id-shifted per copy with FK-consistent strides. The `+ k`
    // on monetary doubles is an exact-integer increment (scaladoc).
    Tables.region(spark, srcDir).write.mode(SaveMode.Overwrite)
      .parquet(s"$outDir/region.parquet")
    Tables.nation(spark, srcDir).write.mode(SaveMode.Overwrite)
      .parquet(s"$outDir/nation.parquet")

    Tables.customer(spark, srcDir)
      .join(broadcast(copies), lit(true))
      .select(
        (col("c_custkey") + col("k") * Stride).as("c_custkey"),
        col("c_name"), col("c_nationkey"),
        (col("c_acctbal") + col("k")).as("c_acctbal"),
        col("c_mktsegment"))
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/customer.parquet")

    Tables.supplier(spark, srcDir)
      .join(broadcast(copies), lit(true))
      .select(
        (col("s_suppkey") + col("k") * Stride).as("s_suppkey"),
        col("s_name"), col("s_nationkey"),
        (col("s_acctbal") + col("k")).as("s_acctbal"))
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/supplier.parquet")

    Tables.part(spark, srcDir)
      .join(broadcast(copies), lit(true))
      .select(
        (col("p_partkey") + col("k") * Stride).as("p_partkey"),
        col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
        (col("p_retailprice") + col("k")).as("p_retailprice"))
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/part.parquet")

    Tables.orders(spark, srcDir)
      .join(broadcast(copies), lit(true))
      .select(
        (col("o_orderkey") + col("k") * Stride).as("o_orderkey"),
        (col("o_custkey") + col("k") * Stride).as("o_custkey"),
        col("o_orderstatus"),
        (col("o_totalprice") + col("k")).as("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/orders.parquet")

    Tables.lineitem(spark, srcDir)
      .join(broadcast(copies), lit(true))
      .select(
        (col("l_orderkey") + col("k") * Stride).as("l_orderkey"),
        (col("l_partkey") + col("k") * Stride).as("l_partkey"),
        (col("l_suppkey") + col("k") * Stride).as("l_suppkey"),
        col("l_linenumber"), col("l_quantity"),
        (col("l_extendedprice") + col("k")).as("l_extendedprice"),
        col("l_discount"), col("l_tax"),
        col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/lineitem.parquet")

    Files.writeString(Paths.get(s"$outDir/_PROBE_READY"), stamp + "\n")
  }

  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val sf1Dir = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/graft_sf1")
    // generate-only mode for the full-suite sf1 CORRECTNESS sweep:
    // build/refresh the derived tree, skip the timing sweep entirely
    // (Verify + scripts/local_verify.py then run against the tree)
    val genOnly = args.headOption.contains("gen")
    val spark = Harness.session("graft-scale-probe")

    ensureGenerated(spark, srcDir, sf1Dir)
    if (genOnly) { spark.stop(); return }

    def timed(s: SparkSession, fn: (SparkSession, String) => DataFrame,
        dir: String): Double = {
      val t0 = System.nanoTime()
      Harness.consume(fn(s, dir))
      (System.nanoTime() - t0) / 1e9
    }

    // codegen warm-up at smoke scale (untimed; see scaladoc). A failed
    // warm-up must be VISIBLE: silently skipping it would deflate every
    // ratio (sf0.1 cold pays all codegen compilation, sf1 cold none) —
    // the exact artifact the warm-up exists to prevent.
    val smokeDir = sys.env.getOrElse("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")
    selected.foreach { name =>
      try Harness.consume(SparkEntry.queries(name)(spark, smokeDir))
      catch { case NonFatal(e) =>
        System.err.println(s"[scale-probe] warm-up of $name at $smokeDir FAILED " +
          s"(${e.getMessage}) — this query's ratio will be codegen-skewed")
      }
    }

    val rows = selected.map { name =>
      val fn = SparkEntry.queries(name)
      // Each probed row runs in a FRESH child session: the SessionFrame
      // caches key on (SparkSession, …), so earlier rows in the sweep
      // can no longer subsidize this row's "cold" reading (measured:
      // semdedup_clustered's Lloyd run pre-filled the k-means caches
      // ann_ivf_kmeans_topk then inherited — its r6 "cold" time never
      // included Lloyd). Warm stays a same-session second run — that
      // IS the cache-hit measurement. Codegen compilation is JVM-wide
      // (CodeGenerator's static cache), so the smoke warm-up above
      // still covers every child session.
      //
      // Protocol v2 (r10): the fresh session alone was NOT enough —
      // persisted frames register in the SparkContext-SHARED
      // sharedState.cacheManager, and a later row's IDENTICAL canonical
      // plan gets a cache hit across sessions (measured: the per-source
      // prune's sf1 cold read 1.6 s while its lm_likelihood input alone
      // costs ~5 s — the mixer row before it had built and persisted the
      // frame). catalog.clearCache() before each COLD timing evicts the
      // shared cache; the warm reading that follows still measures this
      // row's own cache hits. Cold readings for every session-cached
      // family row are higher and HONEST under v2 — each row now pays
      // its own shared-frame build.
      val s = spark.newSession()
      s.catalog.clearCache()
      val c01 = timed(s, fn, srcDir)
      val w01 = timed(s, fn, srcDir)
      s.catalog.clearCache()
      val c1 = timed(s, fn, sf1Dir)
      val w1 = timed(s, fn, sf1Dir)
      val line = f"""{"query":"$name","sf01_cold":$c01%.2f,"sf01_warm":$w01%.2f,"sf1_cold":$c1%.2f,"sf1_warm":$w1%.2f,"ratio":${c1 / c01}%.1f,"consumer":"noop"}"""
      println(line)
      line
    }
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "scale_probe.json")
    // MERGE into the existing artifact keyed by query name (a PROBE_ONLY
    // rerun must refresh its rows, not clobber the other 60 — the full
    // sweep still replaces every row it measures). Existing rows are raw
    // JSON object lines; keep unknown-format lines verbatim.
    val merged = try {
      val p = Paths.get(out)
      if (Files.exists(p)) {
        val qOf = "\"query\":\"([^\"]+)\"".r
        val fresh = rows.map(l => qOf.findFirstMatchIn(l).get.group(1) -> l).toMap
        val kept = Files.readString(p)
          .stripPrefix("[").stripSuffix("\n").stripSuffix("]")
          .split(",\n").toSeq.filter(_.nonEmpty)
          .filter(l => qOf.findFirstMatchIn(l).forall(m => !fresh.contains(m.group(1))))
        (kept ++ rows).sortBy(l => qOf.findFirstMatchIn(l).map(_.group(1)).getOrElse(l))
      } else rows
    } catch { case NonFatal(e) =>
      // fall back to fresh rows only — but LOUDLY: a corrupt/unparseable
      // existing artifact means the merge is about to discard the rows it
      // exists to preserve, and a silent fallback hides that
      System.err.println(s"[scale-probe] existing $out unparseable ($e) — " +
        "writing fresh rows only; prior rows are being DISCARDED")
      rows
    }
    try Files.writeString(Paths.get(out), merged.mkString("[", ",\n", "]\n"))
    catch { case NonFatal(e) => System.err.println(s"[scale-probe] write failed: $e") }
    spark.stop()
  }
}
