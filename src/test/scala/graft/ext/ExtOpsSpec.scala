package graft.ext

import graft.SparkSpec

/** Behavior tests for the LLM-pipeline operators that have no SQL oracle
  * (approximate / hash-based), plus planted-fixture tests for the dedup
  * family (the harness `documents` table has no exact duplicates, so edge
  * cases are planted here). */
class ExtOpsSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** Write a documents-shaped fixture parquet and return its directory. */
  private def docsFixture(rows: Seq[(Long, String, String)]): String = {
    import spark.implicits._
    val dir = tmpDir("docs")
    rows.toDF("doc_id", "text", "lang")
      .selectExpr("doc_id", "text", "lang", "'src' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("exact dedup groups identical normalized texts, keeper = min doc_id") {
    val dir = docsFixture(Seq(
      (1L, "alpha beta gamma", "en"),
      (2L, "  ALPHA   beta GAMMA ", "en"), // same after lower+ws-normalize
      (3L, "unrelated text entirely", "en")))
    val out = DedupOps.exactDedup(spark, dir).collect()
    assert(out.length == 2)
    val grp = out.find(_.getAs[Long]("n_copies") == 2).get
    assert(grp.getAs[Long]("keeper_doc_id") == 1L)
  }

  test("minhash LSH reproduces exact jaccard pairs on planted near-dups") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 38).map(i => s"w$i").mkString(" ") + " x1 x2"
    val other = (100 to 140).map(i => s"v$i").mkString(" ")
    val dir = docsFixture(Seq(
      (1L, base, "en"), (2L, nearDup, "en"), (3L, other, "en"),
      (4L, "a b", "en"))) // < 3 tokens: no shingles, must not crash/pair
    val exact = DedupOps.jaccardPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = DedupOps.minhashNearDup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == Set((1L, 2L)))
    assert(lsh == exact)
  }

  test("dedup clusters: transitive chains collapse, singletons keep their id") {
    def doc(lo: Int): String = (lo until lo + 40).map(i => s"w$i").mkString(" ")
    // 1~2 and 2~3 are near-dups (jaccard ≈ 0.65/0.81) but 1~3 is NOT
    // (≈ 0.52 < 0.6): only transitive closure puts all three together
    val dir = docsFixture(Seq(
      (1L, doc(1), "en"), (2L, doc(9), "en"), (3L, doc(13), "en"),
      (4L, (100 to 140).map(i => s"v$i").mkString(" "), "en")))
    val pairs = DedupOps.minhashNearDup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 3L)))
    assert(!pairs.contains((1L, 3L)), s"1~3 directly similar: $pairs")
    val clusters = DedupOps.dedupClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L))
  }

  test("incremental ingest dedup: base check first, survivor-scoped batch " +
      "clusters, base never re-deduped") {
    import spark.implicits._
    def doc(lo: Int): String = (lo until lo + 40).map(i => s"w$i").mkString(" ")
    def zdoc(lo: Int): String = (lo until lo + 40).map(i => s"z$i").mkString(" ")
    // base carries an INTERNAL exact-dup pair (ids 1,2) — the incremental
    // contract: it must never surface in the output (base is never
    // re-deduped), but a batch doc colliding with it gets the MIN base id
    val base = Seq((1L, doc(1)), (2L, doc(1)),
      (3L, (200 to 240).map(i => s"u$i").mkString(" ")))
      .toDF("doc_id", "text")
    val incr = Seq(
      (100L, doc(9)),  // j vs base doc(1) ≈ 0.65 → dropped_base, dup_of 1
      (101L, doc(13)), // j vs doc(9) ≈ 0.81 but vs base doc(1) ≈ 0.52:
                       // its ONLY neighbor was dropped against base, and
                       // clustering runs over SURVIVORS → kept
      (102L, zdoc(1)), (103L, zdoc(9)), (104L, zdoc(13)), // in-batch chain:
                       // 102~103~104 transitively → keeper 102
      (105L, "a b"),   // < 3 tokens: no shingles, cannot near-dup → kept
      (106L, (300 to 340).map(i => s"q$i").mkString(" ")) // novel → kept
    ).toDF("doc_id", "text")
    val out = DedupOps.incrIngestDedup(base, incr).collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toMap
    assert(out.keySet == Set(100L, 101L, 102L, 103L, 104L, 105L, 106L),
      s"output must cover exactly the increment: $out")
    assert(out(100L) == ("dropped_base", Some(1L))) // min of base ids {1,2}
    assert(out(101L) == ("kept", None))
    assert(out(102L) == ("kept", None))
    assert(out(103L) == ("dropped_batch", Some(102L)))
    assert(out(104L) == ("dropped_batch", Some(102L))) // transitive loser
    assert(out(105L) == ("kept", None))
    assert(out(106L) == ("kept", None))
  }

  test("incremental semantic ingest dedup: base check first (min base id " +
      "through an internal base dup), survivor-scoped transitive clusters") {
    import spark.implicits._
    val c35 = math.cos(math.toRadians(35)).toFloat
    val s35 = math.sin(math.toRadians(35)).toFloat
    val c70 = math.cos(math.toRadians(70)).toFloat
    val s70 = math.sin(math.toRadians(70)).toFloat
    def e(i: Int): Array[Float] = { val a = Array.fill(8)(0f); a(i) = 1f; a }
    def inPlane(i: Int, j: Int, c: Float, s: Float): Array[Float] = {
      val a = Array.fill(8)(0f); a(i) = c; a(j) = s; a
    }
    // base holds an INTERNAL exact-dup pair (1, 5 both = e0): it must
    // never surface (base is never re-paired), but an increment vector
    // near it gets the MIN base id
    val base = Seq((1L, e(0)), (5L, e(0)), (3L, e(1)))
      .toDF("vec_id", "embedding")
    val incr = Seq(
      (100L, inPlane(0, 4, c35, s35)), // cos vs e0 = .819 → dropped_base(1)
      (110L, inPlane(0, 4, c70, s70)), // cos vs e0 = .342, vs 100 = .819:
                                       // only neighbor fell to base; the
                                       // cluster stage sees SURVIVORS → kept
      (102L, e(2)),                    // chain 102~104~106 (.819/.819,
      (104L, inPlane(2, 5, c35, s35)), // 102·106 = .342 transitive only)
      (106L, inPlane(2, 5, c70, s70)), // → keeper 102, losers 104, 106
      (108L, e(3))                     // novel → kept
    ).toDF("vec_id", "embedding")
    val out = SimilarityOps.incrIngestSemDedup(base, incr, threshold = 0.8)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))))
      .toMap
    assert(out.keySet == Set(100L, 102L, 104L, 106L, 108L, 110L),
      s"output must cover exactly the increment: $out")
    assert(out(100L) == (("dropped_base", Some(1L))))
    assert(out(110L) == (("kept", None)))
    assert(out(102L) == (("kept", None)))
    assert(out(104L) == (("dropped_batch", Some(102L))))
    assert(out(106L) == (("dropped_batch", Some(102L)))) // transitive loser
    assert(out(108L) == (("kept", None)))
  }

  test("incremental semdedup ANN: probed candidates drive both drop paths " +
      "at the production threshold when every list is probed") {
    val c35 = math.cos(math.toRadians(35)).toFloat
    val s35 = math.sin(math.toRadians(35)).toFloat
    val c70 = math.cos(math.toRadians(70)).toFloat
    val s70 = math.sin(math.toRadians(70)).toFloat
    def e(i: Int): Array[Float] = { val a = Array.fill(8)(0f); a(i) = 1f; a }
    def inPlane(i: Int, j: Int, c: Float, s: Float): Array[Float] = {
      val a = Array.fill(8)(0f); a(i) = c; a(j) = s; a
    }
    // base = odd ids (lists 0 and 1; nprobe = 3 >= L, so probe choice is
    // complete and the ANN verdict must equal the exact policy exactly —
    // the geometry of the exact row's spec, labels mapped onto base lists)
    val dir = embFixture(Seq(
      (1L, e(0), 0), (5L, e(0), 0), (3L, e(1), 1),           // base
      (100L, inPlane(0, 4, c35, s35), 0),  // cos .819 vs e0 → dropped_base(1)
      (110L, inPlane(0, 4, c70, s70), 0),  // .342 vs base; neighbor fell → kept
      (102L, e(2), 1),                     // chain 102~104~106
      (104L, inPlane(2, 5, c35, s35), 1),
      (106L, inPlane(2, 5, c70, s70), 0),
      (108L, e(3), 1)))                    // novel → kept
    val out = SimilarityOps.incrIngestSemDedupAnn(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))))
      .toMap
    assert(out.keySet == Set(100L, 102L, 104L, 106L, 108L, 110L), out.toString)
    assert(out(100L) == (("dropped_base", Some(1L)))) // min of the 1/5 dup pair
    assert(out(110L) == (("kept", None)))
    assert(out(102L) == (("kept", None)))
    assert(out(104L) == (("dropped_batch", Some(102L))))
    assert(out(106L) == (("dropped_batch", Some(102L)))) // transitive loser
    assert(out(108L) == (("kept", None)))
  }

  test("incremental semdedup BANDED: LSH collisions drive both drop paths " +
      "at the production threshold; banded pairs ⊆ exact") {
    def e(i: Int): Array[Float] = { val a = Array.fill(8)(0f); a(i) = 1f; a }
    val w0 = Array(0.6f, 0.48f, 0f, 0f, 0.64f, 0f, 0f, 0f)
    val v2 = Array(0f, 0f, 0.8f, 0f, 0f, 0.6f, 0f, 0f)
    // identical twins collide in EVERY band (equal keys) — deterministic
    // drops with no collision-probability argument needed: 100 is 1's
    // exact twin (dropped_base, min of the internal 1/5 dup), 104 is
    // 102's (dropped_batch); 108 is alone → kept
    val dir = embFixture(Seq(
      (1L, w0, 0), (5L, w0, 0), (3L, e(1), 1),   // base (odd ids)
      (100L, w0, 0), (102L, v2, 1), (104L, v2, 1), (108L, e(3), 0)))
    val out = SimilarityOps.incrIngestSemDedupBanded(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))))
      .toMap
    assert(out.keySet == Set(100L, 102L, 104L, 108L), out.toString)
    assert(out(100L) == (("dropped_base", Some(1L))))
    assert(out(102L) == (("kept", None)))
    assert(out(104L) == (("dropped_batch", Some(102L))))
    assert(out(108L) == (("kept", None)))
    // refinement law on the harness corpus, both thresholds: LSH
    // collisions can only MISS exact pairs, never invent them
    Seq(SimilarityOps.IncrSemProdThetaMilli,
        SimilarityOps.IncrSemLiveThetaMilli).foreach { th =>
      val x = SimilarityOps.incrSemExactCrossPairs(spark, sfDir, th)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val b = SimilarityOps.incrSemBandedCrossPairs(spark, sfDir, th)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(b.subsetOf(x), s"theta=$th: banded ⊄ exact")
    }
  }

  test("incremental semdedup ANN: a near-dup in an unprobed list is missed " +
      "— the recall-leg class — and probed pairs are always ⊆ exact") {
    def e(i: Int): Array[Float] = { val a = Array.fill(8)(0f); a(i) = 1f; a }
    // w pulls cos .4 toward lists 0/1/2 and its own mass to dim 5; its
    // exact twin (base id 9) hides in list 4 whose centroid is dominated
    // by six e4 members → cos(w, centroid_4) ≈ .17 < .4, so probes(100) =
    // {0, 1, 2} and the twin is never scored: the documented ANN miss
    val w = Array(0.4f, 0.4f, 0.4f, 0f, 0f, 0.72f, 0f, 0f)
    val base = Seq((1L, e(0), 0), (3L, e(1), 1), (5L, e(2), 2),
      (7L, e(3), 3), (9L, w, 4)) ++
      (11L to 21L by 2).map(id => (id, e(4), 4))
    val dir = embFixture(base ++ Seq((100L, w, 4)))
    val theta = SimilarityOps.IncrSemProdThetaMilli
    val exact = SimilarityOps.incrSemExactCrossPairs(spark, dir, theta)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val probed = SimilarityOps.incrSemAnnCrossPairs(spark, dir, theta)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == Set((9L, 100L)), exact.toString) // the twin pair exists
    assert(probed.isEmpty, probed.toString)          // ...and ANN misses it
    assert(probed.subsetOf(exact))                   // refinement law
    val verdict = SimilarityOps.incrIngestSemDedupAnn(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(verdict == Map(100L -> "kept"), verdict.toString)
    // on the harness corpus the same law must hold at both thresholds
    Seq(SimilarityOps.IncrSemProdThetaMilli,
        SimilarityOps.IncrSemLiveThetaMilli).foreach { th =>
      val x = SimilarityOps.incrSemExactCrossPairs(spark, sfDir, th)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val p = SimilarityOps.incrSemAnnCrossPairs(spark, sfDir, th)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(p.subsetOf(x), s"theta=$th: probed ⊄ exact")
    }
  }

  test("learned quality gate catches a rule-passing doc whose vocabulary " +
      "is fail-associated; clean unseen-vocab doc passes") {
    // train slice: 32 gibberish docs of pure 'zzzz' (fail every gopher
    // word-count rule) + 4 well-formed docs — so 'zzzz' carries a
    // near-zero learned ratio while stopwords/filler carry high ones
    val failDocs = (0 until 40).map(i =>
      (100L + i, Seq.fill(10)("zzzz").mkString(" "), "en"))
    val passDocs = (1 to 4).map(i =>
      (i.toLong, "the of " + (1 to 58).map(j => s"w${i}x$j").mkString(" "), "en"))
    // id 18 = EVAL slice: 48 'zzzz' + the 2 stopwords the rule gate
    // needs — 50 words, mwl 3.94, alpha 1.0, sym 0 → rules PASS, but the
    // token mass is fail-associated → learned gate drops it
    val trojan = (18L, (Seq.fill(48)("zzzz") ++ Seq("the", "of")).mkString(" "), "en")
    // id 28 = EVAL slice: well-formed with fresh vocabulary (unseen
    // tokens take the prior-odds weight) → learned gate passes it
    val clean = (28L, "the of " + (1 to 58).map(j => s"qual$j").mkString(" "), "en")
    val dir = docsFixture(failDocs ++ passDocs ++ Seq(trojan, clean))
    val rules = TextOps.gopherFilter(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getAs[Boolean]("keep")).toMap
    assert(rules(18L), "trojan must PASS the rule gate")
    assert(rules(28L), "clean doc must pass the rule gate")
    val learned = TextOps.qualityLearned(spark, dir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getBoolean(2)))).toMap
    assert(!learned(18L)._2,
      s"learned gate must catch the trojan: score ${learned(18L)._1}")
    assert(learned(28L)._2,
      s"clean doc must pass the learned gate: score ${learned(28L)._1}")
    // gibberish scores near zero, well-formed train docs score high
    assert(learned(18L)._1 < TextOps.QualityLearnedScale / 2)
    assert(learned(1L)._1 > TextOps.QualityLearnedScale)
  }

  test("learned safety gate catches a lexicon-free doc whose vocabulary " +
      "is flag-associated; clean unseen-vocab doc passes") {
    // train slice: 40 docs carrying the severe term 'dup' next to a
    // co-occurring marker token — the lexicon drops them, so the marker
    // accumulates flag-class mass (400 neg tokens vs 240 pos, mirroring
    // the quality trojan fixture's class balance so unseen vocabulary
    // takes a mildly passing prior-odds weight)
    val flagged = (0 until 40).map(i =>
      (100L + i, ("dup " + Seq.fill(9)("toxtok").mkString(" ")), "en"))
    val cleanTrain = (1 to 4).map(i =>
      (i.toLong, (1 to 60).map(j => s"s${i}x$j").mkString(" "), "en"))
    // id 18 = EVAL slice: pure marker vocabulary, NO lexicon term — the
    // rule gate passes it (zero severe, zero moderate), the distilled
    // model drops it: the paraphrase face rules are blind to
    val trojan = (18L, Seq.fill(50)("toxtok").mkString(" "), "en")
    // id 28 = EVAL slice: fresh vocabulary → prior-odds weight → passes
    val clean = (28L, (1 to 50).map(j => s"fresh$j").mkString(" "), "en")
    val dir = docsFixture(flagged ++ cleanTrain ++ Seq(trojan, clean))
    val rules = TextOps.safetyFilter(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getAs[Boolean]("keep")).toMap
    assert(rules(18L), "trojan must PASS the lexicon gate")
    assert(rules(28L), "clean doc must pass the lexicon gate")
    assert(!rules(100L), "flagged train docs must fail the lexicon gate")
    val learned = TextOps.safetyLearned(spark, dir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getBoolean(2)))).toMap
    assert(!learned(18L)._2,
      s"learned safety gate must catch the trojan: score ${learned(18L)._1}")
    assert(learned(28L)._2,
      s"clean doc must pass the learned gate: score ${learned(28L)._1}")
    assert(learned(18L)._1 < TextOps.QualityLearnedScale / 2)
    // harness corpus: the audit row is non-degenerate (cells on both
    // sides of the rule verdict exist at the spec scale)
    val audit = TextOps.safetyLearnedAudit(spark, sfDir).collect()
    assert(audit.map(_.getAs[Long]("n_docs")).sum > 0)
    assert(audit.map(_.getBoolean(0)).toSet == Set(true, false),
      audit.mkString("; "))
  }

  test("semantic source drift flags a content shift token-level drift " +
      "cannot see; identical half distributions score zero") {
    import spark.implicits._
    def e(i: Int, eps: Float): Array[Float] = {
      val a = Array.fill(8)(eps); a(i) = 1f; a
    }
    // every doc carries the SAME text — the two halves' token
    // distributions are bit-identical, so NO token-space statistic can
    // separate them (asserted below, not assumed); the embeddings split
    // by snapshot half (below/above the id midpoint): the early half
    // sits at e0, the late half at e1 (ids 0..7 seed the Lloyd run)
    val dir = tmpDir("driftsem")
    val n = 40
    val docs = (0 until n).map(i => (i.toLong, "alpha beta gamma delta", "en"))
    docs.toDF("doc_id", "text", "lang")
      .selectExpr("doc_id", "text", "lang", "'src' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def emb(shifted: Boolean) = (0 until n).map { i =>
      val home = if (shifted && i >= n / 2) 1 else 0
      (i.toLong, e(home, 0.01f * (i % 5)), home)
    }
    emb(shifted = true).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // token-space check: the halves really are indistinguishable
    val toks = graft.Tables.documents(spark, dir)
      .selectExpr(s"CAST(doc_id >= ${n / 2} AS INT) AS half",
        "explode(split(text, ' ')) AS t")
      .groupBy("half", "t").count().collect()
      .groupBy(_.getInt(0)).view
      .mapValues(_.map(r => (r.getString(1), r.getLong(2))).toSet).toMap
    assert(toks(0) == toks(1), "fixture broke: halves differ in tokens")
    val drift = SimilarityOps.sourceDriftSemantic(spark, dir).collect()
    assert(drift.length == 1)
    assert(drift.head.getAs[Double]("tv") == 1.0,
      s"disjoint cluster masses must give TV 1.0: ${drift.toSeq}")
    // control: same corpus, embeddings NOT shifted — both halves share
    // one cluster-mass distribution → TV exactly 0
    val dir2 = tmpDir("driftsem0")
    docs.toDF("doc_id", "text", "lang")
      .selectExpr("doc_id", "text", "lang", "'src' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir2/documents.parquet")
    emb(shifted = false).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir2/embeddings.parquet")
    val flat = SimilarityOps.sourceDriftSemantic(spark, dir2).collect()
    assert(flat.length == 1 && flat.head.getAs[Double]("tv") == 0.0,
      flat.toSeq.toString)
  }

  test("cluster keepers: argmax-quality representative per cluster") {
    def doc(lo: Int): String = (lo until lo + 40).map(i => s"w$i").mkString(" ")
    val dir = docsFixture(Seq(
      (1L, doc(1), "en"), (2L, doc(9), "en"), (3L, doc(13), "en"), // one cluster
      (4L, (100 to 140).map(i => s"v$i").mkString(" "), "en")))    // singleton
    val quality = TextOps.textQuality(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("quality_score")).toMap
    val out = DedupOps.clusterKeepers(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.map(_._1).toSeq == Seq(1L, 4L))
    val c1 = out.find(_._1 == 1L).get
    assert(c1._3 == 3L)
    assert(c1._4 == Seq(1L, 2L, 3L).map(quality).max)
    assert(quality(c1._2) == c1._4) // the keeper really is the best member
    assert(out.find(_._1 == 4L).get._2 == 4L)
  }

  test("vocab coverage: top tokens with exact cumulative shares") {
    val dir = docsFixture(Seq((1L, "a a b", "en"), (2L, "a c", "en")))
    val out = TextOps.vocabCoverage(spark, dir, k = 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq(("a", 3L, 0.6), ("b", 1L, 0.8), ("c", 1L, 1.0)))
  }

  test("lm likelihood: exact smoothed-bigram integer scores, repeated transitions rank higher") {
    // corpus: c2("a b")=2, c2("b a")=1, c2("a c")=1; c1(a)=3, c1(b)=1;
    // V = |{a,b,c,x}| = 4. Hand-computed with LmScale = 1e9:
    //   p("a b") = 3e9 div 7 = 428571428
    //   p("b a") = 2e9 div 5 = 400000000
    //   p("a c") = 2e9 div 7 = 285714285
    val dir = docsFixture(Seq(
      (1L, "a b a b", "en"),  // bigrams: (a b)x2, (b a)
      (2L, "a c", "en"),      // one rarer transition
      (3L, "x", "en")))       // < 2 tokens: no row
    val out = TextOps.lmLikelihood(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L) == ((3L, 2L * 428571428L + 400000000L, 419047618L)))
    assert(out(2L) == ((1L, 285714285L, 285714285L)))
    // the quality signal itself: the doc built from the corpus's common
    // transitions outscores the doc of rare ones
    assert(out(1L)._3 > out(2L)._3)
  }

  test("lm likelihood tri: stupid backoff fires exactly below the prune count") {
    // corpus trigram counts: "a b c"=2, "b c a"=1, "c a b"=1, "a b d"=1;
    // trigram prefix counts: "a b"=3, "b c"=1, "c a"=1. Bigram stats
    // (backoff leg): c23("c a")=1, c23("a b")=3, c23("b d")=1; prefix
    // counts c2n(c)=1, c2n(a)=3, c2n(b)=3; V=6.
    // Hand-computed with LmScale=1e9, TriMinCount=2, α=2/5:
    //   "a b c": c3=2 ≥ 2 → p = 2e9 div 3                  = 666666666 (MLE)
    //   "b c a": c3=1 → backoff: (2·(2e9 div (1+6))) div 5 = 114285714
    //   "c a b": c3=1 → backoff: (2·(4e9 div (3+6))) div 5 = 177777777
    //   "a b d": c3=1 → backoff: (2·(2e9 div (3+6))) div 5 =  88888888
    val dir = docsFixture(Seq(
      (1L, "a b c a b c", "en"), // trigrams: (a b c)x2, (b c a), (c a b)
      (2L, "a b d", "en"),       // one pruned (singleton) trigram
      (3L, "x y", "en")))        // < 3 tokens: no row
    val out = TextOps.lmLikelihoodTri(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L) ==
      ((4L, 2L * 666666666L + 114285714L + 177777777L, 406349205L)))
    assert(out(2L) == ((1L, 88888888L, 88888888L)))
    // the signal: the doc built from the corpus's repeated trigram
    // outscores the doc whose only trigram was pruned to backoff
    assert(out(1L)._3 > out(2L)._3)
  }

  test("connected components: 100-node chain collapses in O(log n) star rounds") {
    import spark.implicits._
    // a pure path graph is the adversarial diameter case that min-label
    // propagation needs 99 rounds for; large-star/small-star contracts it
    // within the maxRounds bound (~7 rounds), plus disjoint extras. The
    // star close is called directly: a graph this small takes the driver
    // close inside connectedComponents
    val chain = (1L until 100L).map(i => (i, i + 1))
    val extra = Seq((200L, 201L), (300L, 301L), (301L, 302L))
    val labels = DedupOps.starComponents((chain ++ extra).toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 100L).forall(labels(_) == 1L))
    assert(labels(200L) == 200L && labels(201L) == 200L)
    assert(Seq(300L, 301L, 302L).forall(labels(_) == 300L))
    assert(labels.size == 105)
  }

  test("simhash near-dup candidates recover most true jaccard pairs (recall)") {
    val truePairs = DedupOps.jaccardPairs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cands = DedupOps.simhashNearDup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truePairs.nonEmpty) // planted near-dup pairs in the harness data
    // 64-bit simhash over ~13-token docs is a noisy candidate generator —
    // recall is high but not guaranteed total (unlike the verified LSH
    // path). Deterministic on fixed data: measured 27/28 = 0.964.
    val recall = truePairs.intersect(cands).size.toDouble / truePairs.size
    assert(recall >= 0.9, s"recall=$recall over ${truePairs.size} pairs")
  }

  test("simhash of identical texts is identical, near-dup texts are close") {
    // 200 tokens with 4 edited: a 2% edit shifts each bit's ±1 vote sum by
    // at most 8 of 200, so only near-tied bits can flip (measured hamming
    // 3 under the md5-derived hashes — margin below the pairing bound 8)
    val base = (1 to 200).map(i => s"w$i").mkString(" ")
    val dir = docsFixture(Seq(
      (1L, base, "en"), (2L, base, "en"),
      (3L, (1 to 196).map(i => s"w$i").mkString(" ") + " x1 x2 x3 x4", "en")))
    val sigs = DedupOps.simhash(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(3L)) <= 8)
  }

  test("IVF top-k returns k ranked neighbors per query with plausible recall") {
    val brute = SimilarityOps.bruteTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = SimilarityOps.ivfTopk(spark, sfDir).collect()
    assert(ivf.length == 50) // 10 queries x k=5
    val ivfSet = ivf.map(r => (r.getLong(0), r.getLong(2))).toSet
    // harness vectors are unclustered, so recall ~ nprobe/nlists is the
    // honest expectation; the assertion guards against a broken probe
    // path. Deterministic on fixed data: measured 0.36.
    val recall = brute.intersect(ivfSet).size.toDouble / brute.size
    assert(recall >= 0.3, s"recall=$recall")
    // ranks are 1..k and unique per query
    val ranksOk = ivf.groupBy(_.getLong(0)).values
      .forall(rs => rs.map(_.getLong(1)).sorted.toSeq == (1L to 5L))
    assert(ranksOk)
  }

  test("full-probe IVF degenerates to exact brute force (row-for-row)") {
    val brute = SimilarityOps.bruteTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val full = SimilarityOps.ivfFullProbe(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // probing every list must reproduce the exact ranking EXACTLY — the
    // oracle-checked proof that the IVF machinery (centroids, probe
    // ranking, list join, salted top-k) introduces no error of its own
    assert(full == brute)
  }

  test("PQ top-k scores reconstructions with plausible recall vs exact") {
    val brute = SimilarityOps.bruteTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val pq = SimilarityOps.pqTopk(spark, sfDir).collect()
    assert(pq.length == 50) // 10 queries x k=5, every query served
    val pqSet = pq.map(r => (r.getLong(0), r.getLong(2))).toSet
    // 32-bit codes over unclustered harness vectors: reconstruction is
    // lossy by design, so the floor guards a broken LUT/codebook path,
    // not compression quality; deterministic on fixed data
    val recall = brute.intersect(pqSet).size.toDouble / brute.size
    assert(recall >= 0.2, s"recall=$recall")
    val ranksOk = pq.groupBy(_.getLong(0)).values
      .forall(rs => rs.map(_.getLong(1)).sorted.toSeq == (1L to 5L))
    assert(ranksOk)
    // exactness-of-arithmetic probe: identical codes must score as exact
    // ties — every tie in the output must be broken upward by vec_id
    // (the oracle's contract); verified implicitly by the oracle row,
    // asserted here on the planted-duplicate fixture below
    val dir = docsFixture(Seq((0L, "x", "en"))) // reuse tmp root
    import spark.implicits._
    val twins = (0L until 20L).map { i =>
      // vectors 10/11 are byte-identical -> identical codes -> exact tie
      val base = if (i == 11L) 10L else i
      (i, Array.tabulate(64)(d => (((base * 7 + d) % 13).toFloat - 6f) / 6f),
        (i % 3).toInt)
    }
    twins.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SimilarityOps.pqTopk(spark, dir, nQueries = 1, k = 19).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    val r10 = out.find(_._2 == 10L).get._1
    val r11 = out.find(_._2 == 11L).get._1
    assert(r11 == r10 + 1, s"identical codes must rank adjacently by id: $r10/$r11")
  }

  test("PQ + exact re-rank dominates plain PQ recall at the same k") {
    val brute = SimilarityOps.bruteTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val pq = SimilarityOps.pqTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val rr = SimilarityOps.pqRerankTopk(spark, sfDir).collect()
    assert(rr.length == 50)
    val rrSet = rr.map(r => (r.getLong(0), r.getLong(2))).toSet
    val pqRecall = brute.intersect(pq).size.toDouble / brute.size
    val rrRecall = brute.intersect(rrSet).size.toDouble / brute.size
    // stage 2 exactly re-scores a SUPERSET (R=20 > k=5) of stage 1's
    // output: any true neighbor PQ ranked in the top R is recovered, so
    // recall can only improve; deterministic on fixed data
    assert(rrRecall >= pqRecall, s"rerank=$rrRecall pq=$pqRecall")
    assert(rrRecall > pqRecall, s"no recall recovered: $rrRecall")
  }

  test("random projection: exact copy survives projection at rank 1, " +
      "deeper re-rank never loses recall") {
    // a byte-identical copy projects to the SAME 16 longs, so it tops the
    // projected ranking of its twin and the exact re-rank pins rank 1
    val rnd = new scala.util.Random(11)
    val base = Array.tabulate(64)(d => (((d * 7) % 13).toFloat - 6f) / 6f)
    val rows = Seq((0L, base, 0), (1L, base.clone(), 0)) ++
      (2L until 30L).map(i =>
        (i, Array.fill(64)((rnd.nextFloat() - 0.5f) * 2f), 0))
    val dir = embFixture(rows)
    val out = SimilarityOps.rpTopk(spark, dir, nQueries = 1, k = 5).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(out.find(_._1 == 1L).map(_._2).contains(1L),
      s"copy not at rank 1: ${out.mkString(",")}")
    // rank contiguity per query on harness data
    val h = SimilarityOps.rpTopk(spark, sfDir).collect()
    h.groupBy(_.getLong(0)).values.foreach { rs =>
      assert(rs.map(_.getLong(1)).sorted.toSeq == (1L to rs.size).toSeq)
    }
    // R=20 exactly re-scores a SUPERSET of R=5's candidate set, so
    // recall vs brute can only improve (the pqRerank dominance argument)
    val brute = SimilarityOps.bruteTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    def recall(rerank: Int): Double =
      SimilarityOps.rpTopk(spark, sfDir, rerank = rerank).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
        .intersect(brute).size.toDouble / brute.size
    assert(recall(20) >= recall(5), s"deeper rerank lost recall")
    // int8 projection: a byte-identical copy has the same per-vector
    // scale, hence the same 16 codes — still pinned to rank 1; ranks
    // stay contiguous on harness data
    val q8 = SimilarityOps.rpQuantizedTopk(spark, dir, nQueries = 1, k = 5)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(q8.find(_._1 == 1L).map(_._2).contains(1L),
      s"copy not at rank 1 under int8: ${q8.mkString(",")}")
    SimilarityOps.rpQuantizedTopk(spark, sfDir).collect()
      .groupBy(_.getLong(0)).values.foreach { rs =>
        assert(rs.map(_.getLong(1)).sorted.toSeq == (1L to rs.size).toSeq)
      }
  }

  test("IVF-PQ candidates are a subset of PQ's, full-rank queries still served") {
    val pq = SimilarityOps.pqTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivfpq = SimilarityOps.ivfPqTopk(spark, sfDir).collect()
    // every query emits ranks 1..m (m <= k when probed lists run short)
    val ranksOk = ivfpq.groupBy(_.getLong(0)).values.forall { rs =>
      rs.map(_.getLong(1)).sorted.toSeq == (1L to rs.size).toSeq
    }
    assert(ranksOk)
    assert(ivfpq.groupBy(_.getLong(0)).size == 10) // all 10 queries served
    // the coarse quantizer only PRUNES candidates; scoring is identical,
    // so overlap with unpruned PQ reflects probe recall (~nprobe/nlists
    // on unclustered harness data), and any shared (query, neighbor)
    // pair must appear in relative PQ-score order. Floor guards the
    // candidate path, deterministic on fixed data.
    val ivfpqSet = ivfpq.map(r => (r.getLong(0), r.getLong(2))).toSet
    val overlap = pq.intersect(ivfpqSet).size.toDouble / pq.size
    assert(overlap >= 0.25, s"overlap=$overlap")
  }

  test("IVF-PQ residual codes improve recall over raw-vector codes at equal config") {
    // harness vectors are UNCLUSTERED noise — residuals ≈ raw vectors
    // there, so recall is a wash by construction (measured ±1 hit of
    // raw at sf0.001/sf0.01). The regime residual encoding exists for
    // is clustered data: 8 tight clusters (= the coarse list count) at
    // center scale 1.0 with 0.02-scale offsets, so within-cluster NN
    // order is decided entirely by offsets FAR below raw-PQ codeword
    // resolution; residual codebooks spend all 16 codewords on the
    // shared offset distribution instead. Measured: res 44/50 vs raw
    // 30/50 (deterministic fixture, same formulas as the oracle can't
    // apply here — this is a Scala-side fixture test).
    import spark.implicits._
    val dir = tmpDir("resfix")
    def center(j: Long, d: Int): Double = (((j * 37 + d * 11 + 5) % 13) - 6) / 6.0
    def off(i: Long, d: Int): Double = ((((i * 101 + d * 17 + 3) % 19) - 9) / 9.0) * 0.02
    (0L until 240L).map { i =>
      val j = i % 8
      (i, Array.tabulate(64)(d => (center(j, d) + off(i, d)).toFloat), j.toInt)
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val brute = SimilarityOps.bruteTopk(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val raw = SimilarityOps.ivfPqTopk(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val res = SimilarityOps.ivfPqResTopk(spark, dir).collect()
    // same rank-contiguity/serving contract as the rest of the family
    val ranksOk = res.groupBy(_.getLong(0)).values.forall { rs =>
      rs.map(_.getLong(1)).sorted.toSeq == (1L to rs.size).toSeq
    }
    assert(ranksOk)
    assert(res.groupBy(_.getLong(0)).size == 10)
    val resSet = res.map(r => (r.getLong(0), r.getLong(2))).toSet
    val rawRecall = brute.intersect(raw).size.toDouble / brute.size
    val resRecall = brute.intersect(resSet).size.toDouble / brute.size
    assert(resRecall > rawRecall, s"res=$resRecall raw=$rawRecall")
    assert(resRecall >= 0.8, s"residual recall too low: $resRecall")
  }

  test("ANN recall report: exact-integer recall@k rows consistent with the frames") {
    val rows = SimilarityOps.annRecallReport(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows.keySet == Set("ann_pq", "ann_ivf_pq", "ann_ivf_pq_res",
      "ann_pq_rerank", "ann_rp", "ann_rp_q8"))
    // the row IS the test assertion rewritten as data: recompute one
    // family's hits independently and check the integer arithmetic
    val brute = SimilarityOps.bruteTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val pqHits = SimilarityOps.pqTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet.intersect(brute).size
    assert(rows("ann_pq") == ((pqHits.toLong, 50L, 10000L * pqHits / 50)))
    rows.values.foreach { case (hits, total, bp) =>
      assert(total == 50L && hits >= 0L && hits <= total)
      assert(bp == 10000L * hits / total)
    }
    // the dominance relations the family's tests assert, visible in the
    // telemetry itself: re-rank >= plain PQ
    assert(rows("ann_pq_rerank")._1 >= rows("ann_pq")._1)
  }

  test("ANN kNN ranks recover a plausible fraction of the exact ranks") {
    val exact = SimilarityOps.knnRanks(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ann = SimilarityOps.knnRanksAnn(spark, sfDir).collect()
    val annSet = ann.map(r => (r.getLong(0), r.getLong(2))).toSet
    // unclustered harness vectors: recall ~ nprobe/nlists is the honest
    // floor (the IVF contract); deterministic on fixed data
    val recall = exact.intersect(annSet).size.toDouble / exact.size
    assert(recall >= 0.25, s"recall=$recall")
    // ANN ranks are contiguous 1..m per query (m <= k when probed lists
    // hold fewer than k candidates)
    val ranksOk = ann.groupBy(_.getLong(0)).values.forall { rs =>
      rs.map(_.getLong(1)).sorted.toSeq == (1L to rs.size).toSeq
    }
    assert(ranksOk)
  }

  test("NN-descent round improves ANN recall without touching the exact stream") {
    val exact = SimilarityOps.knnRanks(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ann = SimilarityOps.knnRanksAnn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val refined = SimilarityOps.knnRefineNnd(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val annRecall = exact.intersect(ann).size.toDouble / exact.size
    val refRecall = exact.intersect(refined).size.toDouble / exact.size
    // the refinement re-ranks a SUPERSET of each query's candidates, so
    // per-query refined lists are at least as good; in aggregate the
    // round must not lose recall and should gain it (deterministic on
    // fixed data)
    assert(refRecall >= annRecall, s"refined=$refRecall ann=$annRecall")
    assert(refRecall > annRecall, s"no recall gained: $refRecall")
  }

  test("ANN mutual graph and hard-negative miner track their exact siblings") {
    val exactE = SimilarityOps.mutualKnn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val annE = SimilarityOps.mutualKnnAnn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // mutual edges need BOTH endpoints recovered, so edge recall sits
    // below single-ended rank recall; deterministic on fixed data
    val edgeRecall = exactE.intersect(annE).size.toDouble / exactE.size
    assert(edgeRecall >= 0.12, s"edge recall=$edgeRecall")
    val exactH = SimilarityOps.hardNegatives(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val annH = SimilarityOps.hardNegativesAnn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val hnRecall = exactH.intersect(annH).size.toDouble / exactH.size
    assert(hnRecall >= 0.25, s"hard-negative recall=$hnRecall")
    // the miner never emits a same-label pair — approximate in WHICH
    // negatives it finds, never in their hardness contract
    val labels = graft.Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "cast(label as long) as label").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(SimilarityOps.hardNegativesAnn(spark, sfDir).collect()
      .forall(r => labels(r.getLong(0)) != labels(r.getLong(2))))
  }

  test("k-means-IVF top-k: plausible recall, clusters balanced enough to bound lists") {
    val brute = SimilarityOps.bruteTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = SimilarityOps.ivfKmeansTopk(spark, sfDir).collect()
    val ivfSet = ivf.map(r => (r.getLong(0), r.getLong(2))).toSet
    // same honest floor as label-IVF: unclustered harness vectors give
    // recall ~ nprobe/k; deterministic on fixed data
    val recall = brute.intersect(ivfSet).size.toDouble / brute.size
    assert(recall >= 0.3, s"recall=$recall")
    // ranks contiguous from 1 per query
    assert(ivf.groupBy(_.getLong(0)).values.forall { rs =>
      rs.map(_.getLong(1)).sorted.toSeq == (1L to rs.size).toSeq
    })
    // the scale story needs per-cluster sizes bounded: no k-means list
    // may swallow the corpus (the semDedupClustered skew caveat)
    val sizes = SimilarityOps.kmeansAssign(spark, sfDir)
      .groupBy("cluster").count().collect().map(_.getLong(1))
    val n = sizes.sum
    assert(sizes.max <= n * 6 / 10, s"largest cluster ${sizes.max} of $n")
  }

  test("incremental index append: frozen-centroid argmin replayed " +
      "independently, appended vectors retrievable, index truly frozen") {
    import org.apache.spark.sql.functions.{col, floor, transform => atransform}
    val m = SimilarityOps.AnnAppendMod
    // independent argmin replay: collect the frozen centroids and the
    // increment's quantized vectors, recompute nearest-centroid with a
    // plain Scala loop (ties to the smaller cluster — the Lloyd metric)
    val cents = SimilarityOps.appendIndexCentroids(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).sortBy(_._1)
    val incr = graft.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % m === m - 1)
      .select(col("vec_id"),
        atransform(col("embedding"),
          x => floor(x.cast("double") * 1e6).cast("long")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
    def argmin(q: Array[Long]): Long =
      cents.minBy { case (c, cv) =>
        (q.zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum, c)
      }._1
    val expected = incr.map { case (id, q) => id -> argmin(q) }.toMap
    val appended = SimilarityOps.annIndexAppend(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(appended == expected)
    // the index is FROZEN: appending must not perturb the centroid
    // table (re-read after the append — bit-identical)
    val cents2 = SimilarityOps.appendIndexCentroids(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).sortBy(_._1)
    assert(cents.map(_._1).sameElements(cents2.map(_._1)) &&
      cents.zip(cents2).forall { case ((_, a), (_, b)) => a.sameElements(b) })
    // appended vectors are first-class retrieval citizens: the probed
    // top-k over the appended index returns increment neighbors
    val topk = SimilarityOps.annIvfAppendTopk(spark, sfDir).collect()
    assert(topk.exists(_.getLong(2) % m === m - 1),
      "no appended vector ever retrieved")
    // ranks contiguous from 1 per query, the family contract
    assert(topk.groupBy(_.getLong(0)).values.forall { rs =>
      rs.map(_.getLong(1)).sorted.toSeq == (1L to rs.size).toSeq
    })
  }

  test("clustered SemDeDup refines the exact components (pairs are a subset)") {
    val exact = SimilarityOps.semDedup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val clus = SimilarityOps.semDedupClustered(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(clus.length == exact.length) // one row per vector, both sides
    // within-cluster pairs ⊆ all pairs, so clustered components REFINE
    // the exact ones: every clustered non-keeper is a non-keeper in the
    // exact dedup too, and clustered keeps at least as many docs
    val exactKept = exact.filter(_._3).map(_._1).toSet
    val clusKept = clus.filter(_._3).map(_._1).toSet
    assert(exactKept.subsetOf(clusKept), "exact keepers must survive clustering")
    assert(clusKept.size >= exactKept.size)
    // a clustered merge (vec -> rep != self) implies the exact dedup
    // merged them too (possibly under a different representative)
    val exactRep = exact.map(r => r._1 -> r._2).toMap
    assert(clus.filter(r => !r._3).forall(r => exactRep(r._1) != r._1))
  }

  test("int8-quantized top-k preserves most of the exact ranking") {
    val brute = SimilarityOps.bruteTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val quant = SimilarityOps.quantizedTopk(spark, sfDir).collect()
    assert(quant.length == 50) // 10 queries x k=5
    val qSet = quant.map(r => (r.getLong(0), r.getLong(2))).toSet
    // int8 rounding perturbs cosines by ~1/127 per element; deterministic
    // on fixed data — measured 0.98
    val recall = brute.intersect(qSet).size.toDouble / brute.size
    assert(recall >= 0.9, s"recall=$recall")
    // rank-1 preservation: the nearest neighbor survives quantization for
    // every query (top-1 margins dwarf the rounding noise on harness data)
    val bruteR1 = SimilarityOps.bruteTopk(spark, sfDir).collect()
      .filter(_.getLong(1) == 1L).map(r => r.getLong(0) -> r.getLong(2)).toMap
    val quantR1 = quant.filter(_.getLong(1) == 1L)
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(quantR1 == bruteR1, s"rank-1 drift: $quantR1 vs $bruteR1")
  }

  test("winnowed rolling-hash fingerprints survive a prefix shift") {
    val base = (1 to 40).map(i => s"word$i").mkString(" ")
    val dir = docsFixture(Seq(
      (1L, base, "en"),
      (2L, base, "en"),                       // identical
      (3L, "inserted prefix " + base, "en"),  // shifted content
      (4L, "zz", "en")))                      // shorter than k: no grams
    val fps = TextOps.winnowFingerprints(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (id, rs) => id -> rs.map(_._2).toSet }
    assert(fps(1L) == fps(2L))
    // a fixed-offset chunking would share ~nothing after a shift; winnowed
    // rolling hashes keep most fingerprints in common
    val overlap = fps(1L).intersect(fps(3L)).size.toDouble / fps(1L).size
    assert(overlap >= 0.8, s"overlap=$overlap")
    assert(!fps.contains(4L)) // shorter than k: no grams, no rows
  }

  test("train/test split: content-hash based, duplicates co-assigned, fraction sane") {
    val dir = docsFixture(Seq(
      (1L, "alpha beta gamma", "en"),
      (2L, "  ALPHA   beta GAMMA ", "en"), // same normalized content as 1
      (3L, "something else", "en")))
    val splits = TextOps.trainTestSplit(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(splits(1L) == splits(2L)) // copies can never straddle the split
    val big = TextOps.trainTestSplit(spark, sfDir).collect()
    val testFrac = big.count(_.getString(1) == "test").toDouble / big.length
    // 25/256 = 9.77% expected; binomial noise at n=500
    assert(testFrac > 0.04 && testFrac < 0.17, s"testFrac=$testFrac")
  }

  test("near-dup-aware split: clusters are split-pure, singletons match the exact split") {
    // doc 2 is a NEAR (not exact) duplicate of doc 1: same normalized
    // content hash is impossible, so the exact split could strand them on
    // opposite sides — the cluster split must not
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val dir = docsFixture(Seq(
      (1L, base, "en"),
      (2L, (1 to 38).map(i => s"w$i").mkString(" ") + " x1 x2", "en"),
      (3L, (100 to 140).map(i => s"v$i").mkString(" "), "en")))
    val nd = DedupOps.trainTestSplitNearDup(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(nd(1L)._1 == 1L && nd(2L)._1 == 1L) // one cluster
    assert(nd(1L)._2 == nd(2L)._2) // near-dups co-assigned
    val exact = TextOps.trainTestSplit(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // the representative (and every singleton) keeps its exact split —
    // the op only refines WITHIN clusters
    assert(nd(1L)._2 == exact(1L))
    assert(nd(3L)._2 == exact(3L))
    // harness corpus: every cluster is split-pure and fractions stay sane
    val big = DedupOps.trainTestSplitNearDup(spark, sfDir).collect()
    val perCluster = big.groupBy(_.getLong(1))
      .map { case (_, rs) => rs.map(_.getString(2)).distinct.size }
    assert(perCluster.forall(_ == 1))
    val testFrac = big.count(_.getString(2) == "test").toDouble / big.length
    assert(testFrac > 0.04 && testFrac < 0.17, s"testFrac=$testFrac")
  }

  test("per-source quality prune: top-share kept, ties keep at least the share, short docs prunable") {
    // src_a: 4 docs built from one shared bigram vocabulary (high corpus
    // bigram counts → high LM scores) + 1 gibberish doc (unique bigrams →
    // low) + 1 single-token doc (no LM row → score 0). src_tie: 3
    // byte-identical docs — equal scores tie AT the cut, so all stay.
    val common = Seq.fill(10)("alpha beta gamma delta").mkString(" ")
    val fix = (1 to 4).map(i => (i.toLong, common, "en", "src_a")) ++ Seq(
      (5L, (1 to 30).map(j => s"zz$j yy$j").mkString(" "), "en", "src_a"),
      (6L, "solo", "en", "src_a")) ++
      (7 to 9).map(i => (i.toLong, "same text here every time", "en", "src_tie"))
    val dir = docsFixtureSrc(fix)
    val rows = TextOps.qualityPrunePerSource(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getBoolean(3)))
    val bySrc = rows.groupBy(_._2)
    // src_a: 6 docs, keep >= ceil(0.2*6)=2; zero-score doc 6 dropped;
    // every kept score >= every dropped score
    val a = bySrc("src_a")
    assert(a.count(_._4) >= 2)
    assert(!a.find(_._1 == 6L).get._4)
    assert(a.find(_._1 == 6L).get._3 == 0L)
    assert(a.filter(_._4).map(_._3).min >= a.filterNot(_._4).map(_._3).max)
    // src_tie: identical scores tie at the cut — ALL kept (>= share)
    assert(bySrc("src_tie").forall(_._4))
    // harness corpus: per source, keep count >= the exact ceil share and
    // the cut is a clean score threshold
    val big = TextOps.qualityPrunePerSource(spark, sfDir).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getBoolean(3)))
    big.groupBy(_._1).foreach { case (_, rs) =>
      val kept = rs.filter(_._3)
      assert(kept.size >= (rs.size * 20 + 99) / 100)
      if (kept.size < rs.size)
        assert(kept.map(_._2).min >= rs.filterNot(_._3).map(_._2).max)
    }
  }

  test("learned-score prune: same cut laws as the LM prune, learned ranking") {
    // the shared pruneBySource core must uphold the LM row's laws under
    // the learned scorer: per-source keep count >= the exact ceil share,
    // and keep ≡ score >= the source's cut (clean threshold — every kept
    // score >= every dropped score)
    val rows = TextOps.qualityPruneLearned(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getBoolean(3)))
    assert(rows.length == 500)
    rows.groupBy(_._2).foreach { case (src, rs) =>
      val kept = rs.filter(_._4)
      assert(kept.size >= (rs.size * 20 + 99) / 100, s"$src share")
      if (kept.size < rs.size)
        assert(kept.map(_._3).min >= rs.filterNot(_._4).map(_._3).max,
          s"$src cut not a clean threshold")
    }
    // the ranking really is the learned score, not the LM score
    val learned = TextOps.qualityLearned(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (id, _, s, _) => assert(s == learned(id)) }
  }

  test("curation pipeline: survivors are exactly the intersection of its four gates") {
    val out = TextOps.curationPipeline(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(out.nonEmpty) // the composition must not be vacuous at spec scale
    val ids = out.map(_._1).toSet
    val mixKeep = TextOps.qualityMixer(spark, sfDir).collect()
      .filter(_.getAs[Boolean]("keep")).map(_.getLong(0)).toSet
    val prKeep = TextOps.qualityPrunePerSource(spark, sfDir).collect()
      .filter(_.getAs[Boolean]("keep")).map(_.getLong(0)).toSet
    val exKeep = DedupOps.exactDedup(spark, sfDir).collect()
      .map(_.getAs[Long]("keeper_doc_id")).toSet
    val ndRows = DedupOps.trainTestSplitNearDup(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val repKeep = ndRows.collect { case (id, (cid, _)) if id == cid => id }.toSet
    assert(ids == (mixKeep & prKeep & exKeep & repKeep))
    // each survivor carries the near-dup-aware split, verbatim
    out.foreach { case (id, _, split) => assert(split == ndRows(id)._2) }
  }

  test("media near-dup: planted near-identical media pair up across formats") {
    val rnd = new scala.util.Random(11)
    def word() = (1 to (3 + rnd.nextInt(6)))
      .map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val base = (1 to 70).map(_ => word()).mkString(" ") // ~400 ASCII bytes
    val dir = docsFixture(Seq(
      (300L, base, "en"),              // png (300 % 3 == 0)
      (301L, base, "en"),              // bmp — same payload, other container
      (302L, base + " dup", "en"),     // wav — trailing append, same grid
      (303L, (1 to 70).map(_ => word()).mkString(" "), "en"))) // unrelated
    val pairs = JsonMediaOps.mediaNearDup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // identical payloads in different containers: Hamming 0 — the hash
    // is over the per-format-located payload region, so media dedup
    // sees through container changes
    assert(pairs.get((300L, 301L)).contains(0L), pairs.toString)
    // the lightly-edited copy pairs with both originals under the
    // banding threshold
    assert(pairs.contains((300L, 302L)) && pairs.contains((301L, 302L)),
      pairs.toString)
    // the unrelated doc pairs with nothing
    assert(!pairs.keysIterator.exists(p => p._1 == 303L || p._2 == 303L),
      pairs.toString)
    // harness corpus: the row is non-vacuous and every emitted pair is
    // within the threshold (first-band gate emits each pair exactly once)
    val corpus = JsonMediaOps.mediaNearDup(spark, sfDir).collect()
    assert(corpus.nonEmpty)
    assert(corpus.forall(_.getLong(2) <= JsonMediaOps.MediaHammingMax))
    val keys = corpus.map(r => (r.getLong(0), r.getLong(1)))
    assert(keys.distinct.length == keys.length)
    // the production operating point agrees with the default row at its
    // tighter threshold: same pair set where hamming <= 2 (no shards
    // engage at spec scale, so banding choice cannot change the output)
    val hi = JsonMediaOps.mediaNearDupHi(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = corpus.filter(_.getLong(2) <= JsonMediaOps.MediaHammingMaxHi)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hi == expect, s"hi=${hi.size} expect=${expect.size}")
    // clusters: the planted trio collapses to min-id 300 transitively;
    // the unrelated doc is its own singleton
    val cl = JsonMediaOps.mediaDedupClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl == Map(300L -> 300L, 301L -> 300L, 302L -> 300L, 303L -> 303L),
      cl.toString)
    // keeper policy: LARGEST blob wins across formats — the bmp copy
    // (54-byte header) beats the png original (45) and the longer wav
    // payload (+4 bytes, 44-byte header): 454 > 449 > 448
    val kp = JsonMediaOps.mediaClusterKeepers(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(kp(300L)._1 == 301L && kp(300L)._2 == 3L, kp.toString)
    assert(kp(303L)._1 == 303L && kp(303L)._2 == 1L, kp.toString)
  }

  test("dense media dHash: shared-grid copies pair, the 65·k straddle " +
      "trade is real in BOTH directions") {
    val rnd = new scala.util.Random(17)
    def randText(n: Int) = (1 to n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val base = randText(400)  // dense w = ceil(400/65) = 7, stable through 455
    val strad = randText(323) // dense w = 5; +4 bytes crosses 65*5 = 325 -> w = 6
    val dir = docsFixture(Seq(
      (600L, base, "en"),            // png (600 % 3 == 0)
      (601L, base, "en"),            // bmp — same payload, other container
      (602L, base + " dup", "en"),   // wav — trailing append, same dense grid
      (610L, strad, "en"),
      (611L, strad + " dup", "en"))) // straddles the 65*5 boundary
    val dn = JsonMediaOps.mediaNearDupDense(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // exact cross-container copies: Hamming 0; the append perturbs only
    // the tail segments of the SHARED w=7 grid and stays under threshold
    assert(dn.get((600L, 601L)).contains(0L), dn.toString)
    assert(dn.contains((600L, 602L)) && dn.contains((601L, 602L)), dn.toString)
    // the straddle pair gets DIFFERENT grids (w 5 vs 6) — missed, the
    // documented dense-grid trade (PERF.md r12: 12/15 sf1 losses)
    assert(!dn.keysIterator.exists(p => p._1 >= 610L || p._2 >= 610L),
      dn.toString)
    // ...while the quantized production point shares w = 8 across the
    // straddle (its boundaries are power-of-two doublings) and pairs it
    val hi = JsonMediaOps.mediaNearDupHi(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hi.contains((610L, 611L)), hi.toString)
    // harness corpus: non-vacuous, every emitted pair within threshold,
    // first-matching-band gate emits each pair exactly once
    val corpus = JsonMediaOps.mediaNearDupDense(spark, sfDir).collect()
    assert(corpus.nonEmpty)
    assert(corpus.forall(_.getLong(2) <= JsonMediaOps.MediaHammingMaxDense))
    val keys = corpus.map(r => (r.getLong(0), r.getLong(1)))
    assert(keys.distinct.length == keys.length)
  }

  test("media Hamming kNN: exact copy ranks first at distance 0, edited " +
      "copy next; harness ranks consecutive with non-decreasing distance") {
    val rnd = new scala.util.Random(23)
    def randText(n: Int) = (1 to n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val base = randText(400)
    val dir = docsFixture(Seq(
      (0L, base, "en"),            // query (doc_id < MediaKnnQueries), png
      (1L, base, "en"),            // bmp — same payload: Hamming 0
      (2L, base + " dup", "en"),   // wav — trailing append, small distance
      (3L, randText(350), "en")))  // unrelated
    val knn = JsonMediaOps.mediaHammingKnn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(knn((0L, 1L)) == (1L, 0L), knn.toString) // exact copy first, d=0
    val (n2, d2) = knn((0L, 2L))
    assert(n2 == 2L && d2 <= 2L, knn.toString)      // edited copy second
    // harness corpus: 10 queries × k ranks, consecutive, never self,
    // distance non-decreasing in rank per query
    val rows = JsonMediaOps.mediaHammingKnn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == JsonMediaOps.MediaKnnQueries * JsonMediaOps.MediaKnnK)
    rows.groupBy(_._1).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to JsonMediaOps.MediaKnnK).toSeq)
      assert(sorted.forall(_._3 != q))
      val ds = sorted.map(_._4).toSeq
      assert(ds == ds.sorted, s"query $q distances not monotone: $ds")
    }
  }

  test("staged curation: strict superset of order-free, splits agree, " +
      "extras are re-elections or splits") {
    // containment law: an order-free survivor passes quality, is its
    // exact group's GLOBAL min (so still min among quality survivors),
    // and is its full near-dup cluster's min (so min of any induced
    // sub-component containing it) — staged can only ADD docs
    val free = TextOps.curationPipeline(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val staged = TextOps.curationPipelineStaged(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(free.keySet.subsetOf(staged.keySet))
    // non-vacuous: staging must actually change the output on the
    // harness corpus (a re-elected keeper or a split cluster)
    assert(staged.size > free.size,
      s"staged == order-free (${free.size} rows) — the row proves nothing")
    // the split is the survivor's own content hash on both paths
    free.foreach { case (id, split) => assert(staged(id) == split) }
    // every extra is explained: it failed an order-free DEDUP gate (it
    // was not the global exact keeper, or not its full cluster's rep)
    // while passing both quality gates — never a quality disagreement
    val mixKeep = TextOps.qualityMixer(spark, sfDir).collect()
      .filter(_.getAs[Boolean]("keep")).map(_.getLong(0)).toSet
    val prKeep = TextOps.qualityPrunePerSource(spark, sfDir).collect()
      .filter(_.getAs[Boolean]("keep")).map(_.getLong(0)).toSet
    (staged.keySet -- free.keySet).foreach { id =>
      assert(mixKeep(id) && prKeep(id), s"staged extra $id fails quality")
    }
  }

  test("multimodal curation: the media keeper gate BINDS — a text-kept doc " +
      "is dropped when its blob loses its media cluster") {
    // quality-passing text via the mixer spec's stride construction: 60
    // tokens, every bigram distinct, top share 0.05, >= 2 stopwords
    def strideText(vocab: IndexedSeq[String]) = {
      def stride(k: Int) = (0 until 20).map(i => vocab((i * k) % 20))
      (stride(1) ++ stride(3) ++ stride(7)).mkString(" ")
    }
    val vocab = Vector("the", "and") ++ (1 to 18).map(i => f"word$i%02d")
    val tA = strideText(vocab)
    // SAME vocabulary (so tB stays inside the corpus top-20 OOV vocab)
    // walked in disjoint stride classes: no shared word bigrams/shingles
    // with tA, and a different payload byte ORDER, so the dHash segment
    // gradients diverge — text- and media-unrelated by construction
    val tB = {
      def stride(k: Int) = (0 until 20).map(i => vocab((i * k) % 20))
      (stride(9) ++ stride(11) ++ stride(13)).mkString(" ")
    }
    val dir = docsFixtureSrc(Seq(
      (300L, tA, "en", "s0"),   // png copy of tA's payload (300 % 3 == 0)
      (301L, tA, "en", "s1"),   // bmp copy — SAME payload, larger container
      (302L, tB, "en", "s2")))  // unrelated wav singleton
    // text-only capstone keeps 300 (exact keeper + near-dup rep of the
    // {300, 301} text-dup pair) and 302; per-source prune is per-doc here
    val textKept = TextOps.curationPipeline(spark, dir).collect()
      .map(_.getLong(0)).toSet
    assert(textKept == Set(300L, 302L), textKept.toString)
    // media: identical payloads pair at Hamming 0 across containers, and
    // the bmp twin (54-byte header) out-sizes the png original (45) — the
    // cluster's keeper is 301, NOT the text keeper 300
    val mk = JsonMediaOps.mediaClusterKeepers(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(mk == Map(300L -> 301L, 302L -> 302L), mk.toString)
    // so the multimodal pipeline drops 300 — text-kept, media-dropped —
    // which is exactly the case proving the media stage binds
    val mm = TextOps.curationPipelineMultimodal(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(mm.map(_._1).toSet == Set(302L), mm.toSeq.toString)
    assert(mm.head._2 == "s2")
    // harness corpus: the composition law — multimodal survivors are
    // exactly (text capstone) ∩ (media cluster keepers), splits verbatim
    val free = TextOps.curationPipeline(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val keepers = JsonMediaOps.mediaClusterKeepers(spark, sfDir).collect()
      .map(_.getAs[Long]("keeper_doc_id")).toSet
    val mmBig = TextOps.curationPipelineMultimodal(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(mmBig.keySet == free.keySet.filter(keepers))
    mmBig.foreach { case (id, split) => assert(free(id) == split) }
  }

  test("staged multimodal: a media cluster whose keeper fell to a text " +
      "stage RE-ELECTS its surviving copy — ordering observable") {
    // same construction as the order-free multimodal fixture: 300 (png)
    // and 301 (bmp, larger container) share payload AND text; 302 is an
    // unrelated wav singleton
    def strideText(vocab: IndexedSeq[String]) = {
      def stride(k: Int) = (0 until 20).map(i => vocab((i * k) % 20))
      (stride(1) ++ stride(3) ++ stride(7)).mkString(" ")
    }
    val vocab = Vector("the", "and") ++ (1 to 18).map(i => f"word$i%02d")
    val tA = strideText(vocab)
    val tB = {
      def stride(k: Int) = (0 until 20).map(i => vocab((i * k) % 20))
      (stride(9) ++ stride(11) ++ stride(13)).mkString(" ")
    }
    val dir = docsFixtureSrc(Seq(
      (300L, tA, "en", "s0"), (301L, tA, "en", "s1"), (302L, tB, "en", "s2")))
    // STAGED: text exact-dedup removes the bmp twin 301 BEFORE the media
    // stage votes, so 300's induced media cluster is the singleton {300}
    // and 300 survives — where the order-free composition dropped it to
    // the twin's larger blob (the multimodal fixture above)
    val staged = TextOps.curationPipelineStagedMultimodal(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(staged == Set(300L, 302L), staged.toString)
    val orderFree = TextOps.curationPipelineMultimodal(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(orderFree == Set(302L), orderFree.toString)
    // harness corpus laws: staged-multimodal ⊆ staged-text with splits
    // verbatim, and the drops are EXACTLY the staged survivors that are
    // not their induced media cluster's keeper
    val st = TextOps.curationPipelineStaged(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val stMm = TextOps.curationPipelineStagedMultimodal(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(stMm.keySet.subsetOf(st.keySet))
    stMm.foreach { case (id, split) => assert(st(id) == split) }
    import spark.implicits._
    val inducedKeepers = JsonMediaOps.mediaClusterKeepersScoped(spark, sfDir,
      st.keySet.toSeq.toDF("doc_id")).collect().map(_.getLong(0)).toSet
    assert(stMm.keySet == st.keySet.filter(inducedKeepers))
  }

  test("quality mixer: per-rule verdicts, first-fail precedence, planted failures") {
    // doc A: 20-token vocabulary walked in three different stride orders —
    // 60 tokens, every bigram distinct (dup ratio 0), each token 3/60
    // (top share 0.05), >= 2 gopher stopwords, all-alpha: passes all rules
    val vocab = Vector("the", "and") ++ (1 to 18).map(i => f"word$i%02d")
    def stride(k: Int) = (0 until 20).map(i => vocab((i * k) % 20))
    val docA = (stride(1) ++ stride(3) ++ stride(7)).mkString(" ")
    // doc B: passes every gopher rule but repeats one bigram 29 times
    val docB = "the and " + Seq.fill(29)("someword otherword").mkString(" ")
    // doc C: 3 words — fails the gopher 50-word floor; its missing LM row
    // must surface as reason 'gopher', never decide via a null
    val docC = "tiny doc here"
    val dir = docsFixture(Seq((1L, docA, "en"), (2L, docB, "en"), (3L, docC, "en")))
    val rows = TextOps.qualityMixer(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).getBoolean(rows(1L).fieldIndex("keep")),
      rows(1L).toString)
    assert(rows(2L).getString(rows(2L).fieldIndex("drop_reason")) == "rep_bigram")
    assert(!rows(2L).getBoolean(rows(2L).fieldIndex("r_rep_top"))) // swallowed but reported
    assert(rows(3L).getString(rows(3L).fieldIndex("drop_reason")) == "gopher")
    // harness corpus: keep == conjunction of the rule booleans, reason ==
    // first false in the fixed precedence, and the gate is non-degenerate
    val big = TextOps.qualityMixer(spark, sfDir).collect()
    val order = Seq("r_gopher" -> "gopher", "r_rep_bigram" -> "rep_bigram",
      "r_rep_top" -> "rep_top", "r_oov" -> "oov", "r_lm" -> "lm")
    big.foreach { r =>
      val bools = order.map { case (c, reason) =>
        reason -> r.getBoolean(r.fieldIndex(c)) }
      assert(r.getBoolean(r.fieldIndex("keep")) == bools.forall(_._2))
      val expected = bools.find(!_._2).map(_._1).orNull
      assert(r.getString(r.fieldIndex("drop_reason")) == expected)
    }
    assert(big.exists(_.getBoolean(big.head.fieldIndex("keep"))))
    assert(big.exists(!_.getBoolean(big.head.fieldIndex("keep"))))
  }

  test("multi-batch incremental ingest: later waves drop against EARLIER waves' survivors") {
    val m = DedupOps.IncrIngestMod
    val mod = m * DedupOps.IncrMultiK
    val rows = DedupOps.incrIngestDedupMulti(spark, "/root/testdata/sf0.01")
      .collect()
    // the waves partition exactly the single-step batch slice
    assert(rows.length == 125)
    rows.foreach { r =>
      val k = r.getAs[Long]("batch_k")
      assert(r.getLong(0) % mod == m * k - 1)
    }
    // accept-then-grow is LIVE, not vacuous: at least one dropped_base
    // verdict points at a dup_of that is itself a batch-slice doc (an
    // earlier wave's survivor — impossible in the single-step row, where
    // every base partner is outside the batch slice)
    val grownHits = rows.filter(r => r.getString(2) == "dropped_base"
      && !r.isNullAt(3) && r.getLong(3) % m == m - 1)
    assert(grownHits.nonEmpty, "no wave dropped against a grown base")
    grownHits.foreach { r =>
      val partnerWave = (r.getLong(3) % mod + 1) / m
      assert(partnerWave < r.getAs[Long]("batch_k"),
        s"grown-base partner must come from an EARLIER wave: $r")
      // and the partner itself was kept in its wave
      val partner = rows.find(_.getLong(0) == r.getLong(3)).get
      assert(partner.getString(2) == "kept")
    }
    // every wave has live drops at this scale (the non-vacuity gate)
    val dropsPerWave = rows.filter(_.getString(2) != "kept")
      .groupBy(_.getAs[Long]("batch_k")).view.mapValues(_.length).toMap
    assert((1 to DedupOps.IncrMultiK).forall(k => dropsPerWave.getOrElse(k.toLong, 0) > 0))
  }

  test("multi-batch semantic ingest: a later wave drops against an earlier wave's survivor") {
    val m = SimilarityOps.IncrSemIngestMod
    val mod = m * SimilarityOps.IncrSemMultiK
    val rows = SimilarityOps.incrIngestSemDedupMulti(spark, "/root/testdata/sf0.01")
      .collect()
    assert(rows.length == 250) // the waves partition the batch slice
    rows.foreach { r =>
      val k = r.getAs[Long]("batch_k")
      assert(r.getLong(0) % mod == (k - 1) * m)
    }
    // grown-base liveness: a dropped_base verdict whose dup_of is a
    // batch-slice vector (even id) — an earlier wave's KEPT survivor
    val grownHits = rows.filter(r => r.getString(2) == "dropped_base"
      && !r.isNullAt(3) && r.getLong(3) % m == 0)
    assert(grownHits.nonEmpty, "no wave dropped against a grown base")
    grownHits.foreach { r =>
      val partnerWave = r.getLong(3) % mod / m + 1
      assert(partnerWave < r.getAs[Long]("batch_k"), r.toString)
      assert(rows.find(_.getLong(0) == r.getLong(3)).get.getString(2) == "kept")
    }
    // both drop kinds live across the run at this scale
    val statuses = rows.map(_.getString(2)).toSet
    assert(statuses == Set("kept", "dropped_base", "dropped_batch"), statuses)
  }

  test("persisted IVF centroid artifact: a SECOND SparkSession serves the query from the artifact alone") {
    val expected = SimilarityOps.ivfTopk(spark, sfDir).collect()
      .map(_.toString).sorted.toSeq
    // the registered row: trains, writes the artifact, serves the
    // read-back table — bit-identical to the derive-in-session row
    val served = SimilarityOps.annIvfArtifactTopk(spark, sfDir).collect()
      .map(_.toString).sorted.toSeq
    assert(served == expected)
    assert(new java.io.File(
      SimilarityOps.ivfCentroidArtifactPath(sfDir)).exists())
    // a SECOND SparkSession (fresh session state, EMPTY session caches —
    // the frame caches key by session instance) serves the same result
    // through the serve-only path, which never invokes the training
    // aggregate: the artifact alone carries the index
    val spark2 = spark.newSession()
    val served2 = SimilarityOps.ivfTopkFromArtifact(spark2, sfDir).collect()
      .map(_.toString).sorted.toSeq
    assert(served2 == expected)
  }

  test("persisted incr-ingest base index: a SECOND SparkSession verdicts the batch from the artifact alone") {
    val expected = DedupOps.incrIngestDedupCorpus(spark, sfDir).collect()
      .map(_.toString).sorted.toSeq
    // the registered row: writes the base shingle + band index once,
    // then verdicts the batch against the read-back tables — identical
    // to the in-session row (shared incrIngestCore + oracle text)
    val served = DedupOps.incrIngestDedupServed(spark, sfDir).collect()
      .map(_.toString).sorted.toSeq
    assert(served == expected)
    assert(new java.io.File(DedupOps.incrBaseArtifactPath(sfDir)).exists())
    // a SECOND SparkSession (fresh session state — empty shingle/band
    // caches) verdicts the batch through the serve-only path, which
    // never runs the corpus-wide signature pass: the artifact alone
    // carries the accepted-set index
    val spark2 = spark.newSession()
    val served2 = DedupOps.incrIngestDedupFromArtifact(spark2, sfDir)
      .collect().map(_.toString).sorted.toSeq
    assert(served2 == expected)
  }

  test("persisted NB weight table: a SECOND SparkSession scores from the artifact alone") {
    val expected = TextOps.qualityLearned(spark, sfDir).collect()
      .map(_.toString).sorted.toSeq
    // the registered row: trains + writes the weight table once, then
    // scores from the read-back table — identical to the in-session row
    val served = TextOps.qualityLearnedServed(spark, sfDir).collect()
      .map(_.toString).sorted.toSeq
    assert(served == expected)
    // a SECOND SparkSession (fresh session state — empty learned-score
    // caches) scores through the serve-only path, which never runs the
    // token-class training aggregate: the weight table alone carries
    // the model
    val spark2 = spark.newSession()
    val served2 = TextOps.qualityLearnedFromArtifact(spark2, sfDir)
      .collect().map(_.toString).sorted.toSeq
    assert(served2 == expected)
  }

  test("artifact provenance sidecar: a stale artifact is refused at serve time") {
    DedupOps.incrIngestDedupServed(spark, sfDir).count() // ensure written
    val sc = java.nio.file.Paths.get(
      DedupOps.incrBaseArtifactPath(sfDir) + ".fingerprint")
    val good = java.nio.file.Files.readAllBytes(sc)
    try {
      // simulate an artifact left behind by a run over DIFFERENT data at
      // the same sanitized path: the stamped fingerprint no longer
      // matches the current corpus, and the serve path must refuse it
      java.nio.file.Files.write(sc, "0:0".getBytes("UTF-8"))
      val e = intercept[IllegalArgumentException] {
        DedupOps.incrIngestDedupFromArtifact(spark.newSession(), sfDir)
          .count()
      }
      assert(e.getMessage.contains("STALE"))
      // same corpus, band keys from another MinHash family: an index
      // stamped with the corpus fingerprint alone is refused too
      val scheme = ":" + graft.functions.MinHashSignature.SchemeId
      val stamp = new String(good, "UTF-8")
      assert(stamp.endsWith(scheme), stamp)
      java.nio.file.Files.write(sc, stamp.stripSuffix(scheme).getBytes("UTF-8"))
      val e2 = intercept[IllegalArgumentException] {
        DedupOps.incrIngestDedupFromArtifact(spark.newSession(), sfDir)
          .count()
      }
      assert(e2.getMessage.contains("STALE"))
    } finally java.nio.file.Files.write(sc, good)
  }

  test("safety gate: planted doc passes every quality gate but the safety gate catches it") {
    // same construction as the mixer's doc A (passes all quality rules:
    // 60+ tokens, distinct bigrams, >= 2 stopwords, all-alpha) — vocab
    // shares no term with the safety lexicon
    val vocab = Vector("the", "and") ++ (1 to 18).map(i => f"word$i%02d")
    def stride(k: Int) = (0 until 20).map(i => vocab((i * k) % 20))
    val base = stride(1) ++ stride(3) ++ stride(7)
    val docClean = base.mkString(" ")
    // severe tier: ONE occurrence of a severe term drops the doc even
    // though every quality gate still passes
    val docSevere = (base :+ "dup").mkString(" ")
    // moderate tier: no severe term, but 7 moderate hits in 67 tokens
    // (flag_milli = 104) breach the ratio cut
    val docModerate =
      (base ++ Seq("slow", "big", "slow", "big", "slow", "big", "slow"))
        .mkString(" ")
    val dir = docsFixture(Seq(
      (1L, docClean, "en"), (2L, docSevere, "en"), (3L, docModerate, "en")))
    // the quality gates all pass the severe-planted doc...
    assert(TextOps.gopherPrefilter(
      graft.Tables.documents(spark, dir)).collect().map(_.getLong(0)).toSet
      == Set(1L, 2L, 3L))
    val mixer = TextOps.qualityMixer(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getBoolean(r.fieldIndex("keep"))).toMap
    assert(mixer(2L), "quality mixer must keep the severe-planted doc")
    // ...and the safety gate catches it, with the right tier blamed
    val rows = TextOps.safetyFilter(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).getBoolean(rows(1L).fieldIndex("keep")))
    assert(!rows(2L).getBoolean(rows(2L).fieldIndex("r_severe")))
    assert(rows(2L).getBoolean(rows(2L).fieldIndex("r_ratio"))) // severe only
    assert(!rows(2L).getBoolean(rows(2L).fieldIndex("keep")))
    assert(rows(3L).getBoolean(rows(3L).fieldIndex("r_severe")))
    assert(!rows(3L).getBoolean(rows(3L).fieldIndex("r_ratio")))
    assert(rows(3L).getAs[Long]("flag_milli") == 7000L / 67L)
    // prefilter: survivors keep the input's exact columns
    val pre = TextOps.safetyPrefilter(graft.Tables.documents(spark, dir))
    assert(pre.columns.toSeq == graft.Tables.documents(spark, dir).columns.toSeq)
    assert(pre.collect().map(_.getLong(0)).toSeq == Seq(1L))
    // harness corpus: keep == conjunction, both paths live
    val big = TextOps.safetyFilter(spark, sfDir).collect()
    big.foreach { r =>
      assert(r.getBoolean(r.fieldIndex("keep")) ==
        (r.getBoolean(r.fieldIndex("r_severe"))
          && r.getBoolean(r.fieldIndex("r_ratio"))))
    }
    assert(big.exists(_.getBoolean(big.head.fieldIndex("keep"))))
    assert(big.exists(!_.getBoolean(big.head.fieldIndex("keep"))))
  }

  test("near-dup decontam: paraphrased bench doc is caught, corpus-only near-dups are not") {
    val m = DedupOps.DecontamBenchMod
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val dir = docsFixture(Seq(
      (2L * m, base, "en"), // bench slice (doc_id % mod == 0)
      // the next corpus doc is a NEAR (not exact) dup of the bench doc —
      // the case exact n-gram decontam can miss once any gram is perturbed
      (2L * m + 1, (1 to 38).map(i => s"w$i").mkString(" ") + " x1 x2", "en"),
      // these two near-dup EACH OTHER only — dedup's business, not decontam's
      (2L * m + 2, (200 to 240).map(i => s"u$i").mkString(" "), "en"),
      (2L * m + 3, (200 to 238).map(i => s"u$i").mkString(" ") + " y1 y2", "en"),
      (2L * m + 4, (300 to 340).map(i => s"v$i").mkString(" "), "en")))
    val hits = DedupOps.decontamNearDup(spark, dir).collect()
    assert(hits.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((2L * m + 1, 2L * m)))
    assert(hits.head.getDouble(2) >= 0.6)
    // harness corpus: non-vacuous at the spec scale, sides respect the
    // slice convention, scores clear the gate
    val big = DedupOps.decontamNearDup(spark, sfDir).collect()
    assert(big.nonEmpty)
    assert(big.forall(r => r.getLong(0) % m != 0 && r.getLong(1) % m == 0))
    assert(big.forall(_.getDouble(2) >= 0.6))
  }

  test("semantic decontam: a PARAPHRASE pair n-gram decontam misses is caught; " +
      "the probed-IVF sibling agrees on planted geometry") {
    import spark.implicits._
    // one fixture dir serving BOTH families: doc 2900 is in the bench
    // slice of decontam_ngram (% 100 == 0) AND decontam_semantic (% 29
    // == 0); 2901 is a paraphrase — ZERO shared words with the bench doc
    // (so no 4-gram overlap, by construction), but a near-identical
    // embedding; 2902 is unrelated in both modalities
    val dir = tmpDir("semdecon")
    Seq(
      (2900L, "the quick brown fox jumps over the lazy dog", "en"),
      (2901L, "a speedy russet vulpine leaped across one sleepy hound", "en"),
      (2902L, "unrelated words entirely different topic here now", "en"))
      .toDF("doc_id", "text", "lang")
      .selectExpr("doc_id", "text", "lang", "'src' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def v(x: Float, y: Float) = Array(x, y, 0f, 0f)
    Seq((2900L, v(1f, 0f), 0), (2901L, v(0.99f, 0.14f), 0),
        (2902L, v(0f, 1f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // n-gram decontam is BLIND to the paraphrase (no shared gram at all)
    assert(TextOps.decontamNgram(spark, dir).collect().isEmpty)
    // semantic decontam catches exactly the paraphrase, not the unrelated doc
    val sem = SimilarityOps.decontamSemantic(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(sem.map(p => (p._1, p._2)).toSeq == Seq((2901L, 2900L)), sem.toSeq.toString)
    assert(sem.head._3 >= SimilarityOps.SemDecontamThetaMilli)
    // planted geometry puts the paraphrase in the bench item's probed
    // list, so the ANN sibling reproduces the exact row VERBATIM
    val ann = SimilarityOps.decontamSemanticAnn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(ann.toSeq == sem.toSeq, s"ann=${ann.toSeq} exact=${sem.toSeq}")
  }

  test("semantic decontam on harness data: sides respect the slice, ANN is a " +
      "subset with identical scores") {
    val m = DedupOps.DecontamBenchMod
    val exact = SimilarityOps.decontamSemantic(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(exact.nonEmpty)
    exact.foreach { case ((d, b), cm) =>
      assert(d % m != 0 && b % m == 0)
      assert(cm >= SimilarityOps.SemDecontamThetaMilli)
    }
    // the probed sibling can only MISS pairs (unprobed lists), never
    // invent or re-score them — containment with score equality
    val ann = SimilarityOps.decontamSemanticAnn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    ann.foreach { case (k, cm) =>
      assert(exact.contains(k), s"ANN invented pair $k")
      assert(exact(k) == cm, s"score drift on $k: ann=$cm exact=${exact(k)}")
    }
  }

  test("semantic contam scores: drop set == the pair row's flagged docs, " +
      "max is attained by a pair, clean rows present at zero") {
    val m = DedupOps.DecontamBenchMod
    val scores = SimilarityOps.contamSemantic(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    val nCorpus = graft.Tables.embeddings(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("vec_id") % m =!= 0).count()
    // one row per corpus doc — the clean zero rows are the point
    assert(scores.size == nCorpus)
    val pairs = SimilarityOps.decontamSemantic(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val flagged = pairs.map(_._1).toSet
    scores.foreach { case (doc, (mx, hits, drop)) =>
      assert(drop == flagged(doc), s"doc $doc drop=$drop vs pair rows")
      assert(drop == (hits > 0))
      if (drop) {
        // the max is attained by one of the doc's own pair scores and
        // clears the threshold the pair row enforces
        val own = pairs.filter(_._1 == doc).map(_._2)
        assert(own.max == mx, s"doc $doc max=$mx pairs=${own.toSeq}")
        assert(mx >= SimilarityOps.SemDecontamThetaMilli)
      } else assert(mx < SimilarityOps.SemDecontamThetaMilli)
    }
    assert(flagged.nonEmpty && scores.size > flagged.size) // both classes present
  }

  test("winnow candidate pairs find shifted near-dups, ignore unrelated docs") {
    val base = (1 to 40).map(i => s"word$i").mkString(" ")
    val dir = docsFixture(Seq(
      (1L, base, "en"),
      (2L, "inserted prefix " + base, "en"),      // shifted copy
      (3L, (100 to 140).map(i => s"v$i").mkString(" "), "en"))) // unrelated
    val pairs = TextOps.winnowPairs(spark, dir, minShared = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
    // a shifted copy shares most fingerprints, far above the floor
    assert(pairs.head._3 >= 5L)
  }

  test("winnow pairs: zero false positives on an all-unrelated corpus") {
    // winnow grams are CHARACTER 8-grams, so "unrelated" must hold at the
    // character level (template tokens like tok1x1/tok2x1 share most of
    // their gram stream and DO pair — the first draft of this fixture
    // proved it). Seeded random letters: a cross-doc shared gram needs an
    // identical 8-char sequence (~26^-8 each) and a pair needs 5 of them
    val rnd = new scala.util.Random(7)
    def randDoc() = (0 until 40)
      .map(_ => (0 until 8).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)
      .mkString(" ")
    val dir = docsFixture((1L to 20L).map(i => (i, randDoc(), "en")))
    val pairs = TextOps.winnowPairs(spark, dir, minShared = 5).collect()
    assert(pairs.isEmpty, pairs.mkString(","))
  }

  test("PII redaction replaces emails/urls/phones with typed sentinels, counts on original") {
    val dir = docsFixture(Seq(
      (1L, "mail bob.smith+x@corp.example.org or see https://ex.io/a?b=1 now", "en"),
      (2L, "call +1 (555) 123-4567 today", "en"),
      (3L, "clean text with no pii at all", "en")))
    val out = TextOps.piiRedact(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_emails") == 1 && out(1L).getAs[Long]("n_urls") == 1)
    assert(out(1L).getAs[String]("clean_text") == "mail <EMAIL> or see <URL> now")
    assert(out(2L).getAs[Long]("n_phones") == 1)
    assert(out(2L).getAs[String]("clean_text") == "call <PHONE> today")
    assert(out(3L).getAs[String]("clean_text") == "clean text with no pii at all")
  }

  test("sequence packing: running offsets and context-window ids per source") {
    // 3 docs x 300 tokens in one source: offsets 0/300/600, packs 0/0/1
    val dir = docsFixture((1L to 3L).map(i =>
      (i, (1 to 300).map(j => s"t$j").mkString(" "), "en")))
    val out = TextOps.seqPack(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq((1L, 0L, 0L), (2L, 300L, 0L), (3L, 600L, 1L)))
  }

  test("chunking: overlapping token windows, short tail kept, empty docs dropped") {
    val dir = docsFixture(Seq(
      (1L, (1 to 40).map(i => s"w$i").mkString(" "), "en"),
      (2L, "   ", "en"))) // tokenless: no chunks
    val out = TextOps.chunkDocs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.map(c => (c._1, c._2)).toSeq == Seq((1L, 0L), (1L, 1L), (1L, 2L)))
    assert(out(0)._3 == (1 to 32).map(i => s"w$i").mkString(" "))
    assert(out(1)._3 == (17 to 40).map(i => s"w$i").mkString(" ")) // stride 16, short tail
    assert(out(2)._3 == (33 to 40).map(i => s"w$i").mkString(" "))
  }

  test("decontamination flags corpus docs sharing a 4-gram with the benchmark slice") {
    val dir = docsFixture(Seq(
      (100L, "the quick brown fox jumps over things", "en"), // benchmark (id % 100 == 0)
      (1L, "we saw the quick brown fox yesterday evening", "en"), // shares 2 grams
      (2L, "completely different content here today folks ok", "en")))
    val out = TextOps.decontamNgram(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // doc 1 shares "the quick brown fox" and "quick brown fox" is only 3
    // tokens — 4-grams are "the quick brown fox"/"quick brown fox yesterday"...
    // exactly one gram ("the quick brown fox") exists in both
    assert(out.toSeq == Seq((1L, 1L, 1L)))
  }

  test("bloom-prefiltered decontamination equals the exact op (FPs verified away)") {
    val dir = docsFixture(Seq(
      (100L, "the quick brown fox jumps over things", "en"),
      (1L, "we saw the quick brown fox yesterday evening", "en"),
      (2L, "completely different content here today folks ok", "en")) ++
      // bulk of clean docs so the prefilter has something to kill
      (10L to 60L).map(i => (i, s"clean doc $i with words w${i}a w${i}b w${i}c", "en")))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows(TextOps.decontamBloom(spark, dir)) ==
      rows(TextOps.decontamNgram(spark, dir)))
    assert(rows(TextOps.decontamBloom(spark, dir)) == Seq((1L, 1L, 1L)))
  }

  test("repetition metrics: spammy docs score high, clean docs near zero") {
    val dir = docsFixture(Seq(
      (1L, "buy now buy now buy now buy now", "en"), // 8 toks; 7 bigrams, 2 distinct
      (2L, "each word here appears exactly once", "en")))
    val out = TextOps.docRepetition(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_tokens") == 8)
    assert(out(1L).getAs[Double]("top_token_share") == 0.5)       // "buy" 4/8
    assert(out(1L).getAs[Double]("dup_bigram_ratio") == 1.0 - 2.0 / 7.0)
    assert(out(2L).getAs[Double]("top_token_share") == 1.0 / 6.0)
    assert(out(2L).getAs[Double]("dup_bigram_ratio") == 0.0)
  }

  test("stratified sample: exact ceil(pct·n) per source, content-deterministic") {
    val rows = (1L to 10L).map(i => (i, s"doc number $i text", "en")) ++
      (11L to 13L).map(i => (i, s"other corpus $i", "en"))
    val dir = docsFixture(rows)
    // fixture source is constant ("src"): 13 docs at 10% → ceil(1.3) = 2
    val out = TextOps.stratifiedSample(spark, dir).collect().map(_.getLong(0))
    assert(out.length == 2)
    // pure function of content: a second run draws the same documents
    assert(TextOps.stratifiedSample(spark, dir).collect()
      .map(_.getLong(0)).toSeq == out.toSeq)
    // 100% keeps everything, 0% keeps nothing
    assert(TextOps.stratifiedSample(spark, dir, pct = 100).count() == 13)
    assert(TextOps.stratifiedSample(spark, dir, pct = 0).count() == 0)
  }

  test("token budget: greedy best-first prefix stops at the first overflow") {
    // equal-quality 3-token docs, budget 7 → cum 3, 6, 9: exactly 2 kept,
    // and the monotone running sum never readmits later small docs
    val dir = docsFixture(Seq(
      (1L, "a b c", "en"), (2L, "d e f", "en"), (3L, "g h i", "en"),
      (4L, "j", "en"))) // 1 token, but arrives after the overflow
    val out = TextOps.tokenBudgetPerSource(spark, dir, budget = 7).collect()
      .map(r => (r.getLong(0), r.getLong(3)))
    assert(out.toSeq == Seq((1L, 3L), (2L, 6L)), out.mkString(", "))
  }

  test("per-source quartiles: equi-depth within source, order-consistent") {
    val rows = TextOps.lenQuartilesBySource(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (src, g) =>
      // ntile(4) depth law: bucket sizes differ by at most 1, larger first
      val sizes = g.groupBy(_._4).view.mapValues(_.length).toMap
      val n = g.length
      (1 to math.min(4, n)).foreach { q =>
        val want = n / 4 + (if (q <= n % 4) 1 else 0)
        assert(sizes.getOrElse(q.toLong, 0) == want,
          s"$src quartile $q: ${sizes.getOrElse(q.toLong, 0)} != $want")
      }
      // quartile is monotone in the (n_chars, doc_id) order within source
      val inOrder = g.sortBy(r => (r._3, r._1)).map(_._4)
      assert(inOrder.zip(inOrder.tail).forall { case (a, b) => a <= b })
    }
  }

  test("global quartiles: closed-form arithmetic equals the ntile(4) window") {
    // the two-pass rank + remainder arithmetic must be BIT-identical to
    // the single-reducer ntile it replaced (the oracle still replays
    // ntile) — asserted on the harness corpus (n % 4 = 0 there) AND on
    // fixtures hitting every remainder class including n < 4
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, ntile}
    def viaWindow(dir: String) =
      graft.Tables.documents(spark, dir)
        .select(col("doc_id"), col("n_chars"))
        .withColumn("quartile", ntile(4)
          .over(Window.orderBy(col("n_chars"), col("doc_id"))).cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def viaRank(dir: String) =
      TextOps.lenQuartiles(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaRank(sfDir) == viaWindow(sfDir))
    // remainder classes: n = 3 (q=0), 5, 6, 7 — ties included
    Seq(3, 5, 6, 7).foreach { n =>
      val dir = docsFixture((1 to n).map(i =>
        (i.toLong, ("x " * (1 + i % 3)).trim, "en")))
      assert(viaRank(dir) == viaWindow(dir), s"n=$n")
    }
  }

  test("approx percentiles sit within the GK rank-error bound of exact") {
    val exact = TextOps.sourceLenPercentiles(spark, sfDir).collect()
      .map(r => r.getString(0) -> r).toMap
    val sorted = graft.Tables.documents(spark, sfDir)
      .select("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val approx = TextOps.sourceLenApproxPercentiles(spark, sfDir).collect()
    assert(approx.nonEmpty)
    approx.foreach { r =>
      val (src, n) = (r.getString(0), r.getLong(1))
      val vals = sorted(src)
      // GK bound: the returned value's RANK is within n/accuracy of the
      // target rank (not the value itself)
      val tol = math.max(1, n / TextOps.ApproxPctAccuracy).toInt
      def rankOk(v: Long, q: Double): Boolean = {
        val target = math.ceil(q * n).toInt
        val lo = vals.count(_ < v) + 1 // lowest rank v could hold
        val hi = vals.count(_ <= v) // highest rank v could hold
        lo <= target + tol && hi >= target - tol
      }
      assert(rankOk(r.getLong(2), 0.5), s"$src median rank out of bound")
      assert(rankOk(r.getLong(3), 0.9), s"$src p90 rank out of bound")
      // and the sketch output is always one of the actual values
      assert(vals.contains(r.getLong(2)) && vals.contains(r.getLong(3)))
    }
  }

  test("snippets: window clamps at doc start, first occurrence wins, misses drop") {
    val dir = docsFixture(Seq(
      (1L, "dup a b c d e", "en"), // term at pos 1 -> clamped left edge
      (2L, "a b c dup d e dup f", "en"), // first occurrence at pos 4
      (3L, "a b c", "en"))) // no term -> no row
    val got = TextOps.snippets(spark, dir, term = "dup", width = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got === Seq(
      (1L, 1L, "dup a b"),
      (2L, 4L, "b c dup d e")))
  }

  test("oov rate: exact basis points against the top-k vocab, tokenless docs dropped") {
    // k-1 tokens seen at least twice, then p, q, z seen once each: the
    // top-k vocabulary (count desc, token) is the k-1 frequent tokens
    // plus p, the tie at count 1 going to the smallest token
    val k = TextOps.OovVocabK
    val twice = (0 until k - 1).map(i => f"t$i%02d")
    val dir = docsFixture(Seq(
      (1L, (twice ++ twice).mkString(" "), "en"), (2L, "p", "en"),
      (3L, "   ", "en"), (4L, "q z t00", "en")))
    val got = TextOps.docOovRate(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === Seq((1L, 2L * (k - 1), 0L, 0L), (2L, 1L, 0L, 0L),
      (4L, 3L, 2L, 6666L)))
  }

  test("source drift: hand-computed TV on overlapping and disjoint vocabularies") {
    import spark.implicits._
    val dir = tmpDir("drift")
    Seq((1L, "x x y", "a"), (2L, "x y y y", "b"), (3L, "z z", "c"))
      .toDF("doc_id", "text", "source")
      .selectExpr("doc_id", "text", "'en' AS lang", "source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextOps.sourceDrift(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    // a=(x:2,y:1,T=3)  b=(x:1,y:3,T=4): tv_scaled = |2*4-1*3|+|1*4-3*3| = 10,
    // tv = 10/24 = 5/12; disjoint vocab -> tv exactly 1
    assert(got === Seq(
      ("a", "b", 10L, 10.0 / 24.0),
      ("a", "c", 12L, 1.0),
      ("b", "c", 16L, 1.0)))
  }

  test("tfidf top-k: rare terms dominate, scores are exact integers") {
    // 4 docs, terms x (df 2) and y (df 4): idf_x = 1e6*4//2 = 2e6,
    // idf_y = 1e6*4//4 = 1e6. Scores: d1 = 2*2e6 + 1*1e6 = 5e6,
    // d2 = 1*2e6 + 1e6 = 3e6, d3 = 3*1e6 = 3e6 (tie -> doc_id), d4 = 1e6
    val dir = docsFixture(Seq(
      (1L, "x x y z", "en"), (2L, "x y z z", "en"),
      (3L, "y y y z", "en"), (4L, "y z z z", "en")))
    val got = TextOps.tfidfTopk(spark, dir, terms = Seq("x", "y"), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === Seq((1L, 5000000L), (2L, 3000000L), (3L, 3000000L)))
  }

  test("tfidf top-k: docs without any query term never appear") {
    val dir = docsFixture(Seq(
      (1L, "x a b", "en"), (2L, "a b c", "en"), (3L, "b c a", "en")))
    val got = TextOps.tfidfTopk(spark, dir, terms = Seq("x"), k = 10)
      .collect().map(_.getLong(0)).toSeq
    assert(got === Seq(1L))
  }

  test("mutual knn: edges need BOTH directions in top-k") {
    // two tight clusters of 3 + one outlier: with k=2, intra-cluster
    // pairs are mutual; the outlier's neighbors are in a cluster whose
    // members prefer each other, so the outlier gets no edge
    def v(x: Float, y: Float) = Array(x, y, 0f, 0f)
    val dir = embFixture(Seq(
      (1L, v(1f, 0f), 0), (2L, v(0.99f, 0.1f), 0), (3L, v(0.98f, 0.2f), 0),
      (11L, v(0f, 1f), 1), (12L, v(0.1f, 0.99f), 1), (13L, v(0.2f, 0.98f), 1),
      (99L, v(0.7f, 0.7f), 2)))
    val got = SimilarityOps.mutualKnn(spark, dir, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 2L), (1L, 3L), (2L, 3L), (11L, 12L), (11L, 13L), (12L, 13L)))
  }

  test("mutual knn on harness data: symmetric ranks consistent with brute force") {
    val rows = SimilarityOps.mutualKnn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getLong(2) >= 1 && r.getLong(2) <= SimilarityOps.KnnK)
      assert(r.getLong(3) >= 1 && r.getLong(3) <= SimilarityOps.KnnK)
    }
  }

  test("knn classify: planted clusters predict their own label; ties break low") {
    def v(x: Float, y: Float) = Array(x, y, 0f, 0f)
    val dir = embFixture(Seq(
      (1L, v(1f, 0f), 7), (2L, v(0.99f, 0.1f), 7), (3L, v(0.98f, 0.2f), 7),
      (11L, v(0f, 1f), 3), (12L, v(0.1f, 0.99f), 3), (13L, v(0.2f, 0.98f), 3)))
    val got = SimilarityOps.knnClassify(spark, dir, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(4)))
    assert(got.forall(_._4), got.mkString(","))
    assert(got.map(x => x._1 -> x._3).toMap ===
      Map(1L -> 7L, 2L -> 7L, 3L -> 7L, 11L -> 3L, 12L -> 3L, 13L -> 3L))
  }

  test("knn classify on harness data: one verdict per vector, bounded votes") {
    val rows = SimilarityOps.knnClassify(spark, sfDir).collect()
    val n = graft.Tables.embeddings(spark, sfDir).count()
    // one row per corpus vector; the winning vote count is within [1, k]
    assert(rows.length === n)
    assert(rows.map(_.getLong(0)).distinct.length === rows.length)
    rows.foreach { r =>
      assert(r.getLong(3) >= 1 && r.getLong(3) <= SimilarityOps.KnnK)
      assert(r.getBoolean(4) === (r.getLong(1) == r.getLong(2)))
    }
    // harness labels are hash-partitions, not geometric clusters: the
    // audit's expected signal here is DISAGREEMENT near chance level
    // (~1/#labels) — high agreement would mean the fixture changed
    val acc = rows.count(_.getBoolean(4)).toDouble / rows.length
    assert(acc < 0.5, s"harness labels unexpectedly cluster: $acc")
  }

  test("knn classify ANN: same contract as exact, predictions mostly agree") {
    val ann = SimilarityOps.knnClassifyAnn(spark, sfDir).collect()
    val n = graft.Tables.embeddings(spark, sfDir).count()
    // same shape contract as the exact classifier
    assert(ann.length === n)
    assert(ann.map(_.getLong(0)).distinct.length === ann.length)
    ann.foreach { r =>
      assert(r.getLong(3) >= 1 && r.getLong(3) <= SimilarityOps.KnnK)
      assert(r.getBoolean(4) === (r.getLong(1) == r.getLong(2)))
    }
    // label agreement vs the exact vote on HARNESS data: labels are
    // hash-partitions (noise), so the exact majority vote is itself
    // tie-unstable and the ANN vote only sees the nprobe probed labels —
    // agreement well above the ~1/#labels ≈ 0.1 chance floor is the
    // honest expectation here (measured 0.356; deterministic on fixed
    // data). The geometric-regime agreement contract is the planted
    // test below, where it must be perfect.
    val exact = SimilarityOps.knnClassify(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val agree = ann.count(r => exact(r.getLong(0)) == r.getLong(2)).toDouble / ann.length
    assert(agree >= 0.3, s"ann/exact label agreement=$agree")
  }

  test("knn classify ANN: planted clusters reproduce the exact classifier verbatim") {
    def v(x: Float, y: Float) = Array(x, y, 0f, 0f)
    // same planted geometry as the exact classifier's test: clusters
    // align with labels, so probed lists contain the true neighborhoods
    // and the ANN vote must agree with the exact vote row-for-row
    val dir = embFixture(Seq(
      (1L, v(1f, 0f), 7), (2L, v(0.99f, 0.1f), 7), (3L, v(0.98f, 0.2f), 7),
      (11L, v(0f, 1f), 3), (12L, v(0.1f, 0.99f), 3), (13L, v(0.2f, 0.98f), 3)))
    val exact = SimilarityOps.knnClassify(spark, dir, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val ann = SimilarityOps.knnClassifyAnn(spark, dir, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(ann == exact, s"ann=$ann exact=$exact")
    assert(ann.forall(r => r._2 == r._3), ann.toString) // all correct
  }

  test("hard negatives: nearest CROSS-label vectors, same-label neighbors excluded") {
    def v(x: Float, y: Float) = Array(x, y, 0f, 0f)
    // label-0 cluster near x-axis, label-1 cluster near y-axis, plus a
    // label-0 vector BETWEEN them that is every anchor's nearest
    // cross-label candidate only when labels differ
    val dir = embFixture(Seq(
      (1L, v(1f, 0f), 0), (2L, v(0.99f, 0.05f), 0),
      (11L, v(0f, 1f), 1), (12L, v(0.05f, 0.99f), 1),
      (20L, v(0.7f, 0.7f), 0)))
    val got = SimilarityOps.hardNegatives(spark, dir, m = 1).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    // label-0 anchors' nearest label-1 vector is 12 (tilted toward the
    // x-axis); label-1 anchors' nearest label-0 is the between-vector 20
    // — which is NEVER a negative for label-0 anchors despite being
    // their true nearest neighbor
    assert(got === Map(1L -> 12L, 2L -> 12L, 20L -> 12L, 11L -> 20L, 12L -> 20L))
  }

  test("rrf fusion: both-list docs sum contributions, single-list docs keep one") {
    import spark.implicits._
    val dir = tmpDir("hybrid")
    // doc 0 is the query; doc 1 shares its rare terms (keyword hit),
    // doc 3 shares its embedding direction (vector hit), doc 2 neither
    Seq((0L, "rare1 rare2", "en"), (1L, "rare1 rare2 filler", "en"),
        (2L, "aaa bbb", "en"), (3L, "ccc ddd", "en"))
      .toDF("doc_id", "text", "lang")
      .selectExpr("doc_id", "text", "lang", "'src' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Seq((0L, Array(1f, 0f, 0f, 0f), 0), (1L, Array(0f, 1f, 0f, 0f), 0),
        (2L, Array(1f, 1f, 0f, 0f), 0), (3L, Array(2f, 0f, 0f, 0f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = SimilarityOps.rrfFusion(spark, dir, nQueries = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // keyword list: [1]; vector list: [3 (cos 1), 2 (cos .707), 1 (cos 0)]
    // doc1 = 1e9/61 + 1e9/63, doc3 = 1e9/61, doc2 = 1e9/62
    assert(got === Seq(
      (0L, 1L, 1L, 1000000000L / 61 + 1000000000L / 63),
      (0L, 2L, 3L, 1000000000L / 61),
      (0L, 3L, 2L, 1000000000L / 62)))
  }

  test("rrf fusion on harness data: contiguous ranks, bounded depth per query") {
    val rows = SimilarityOps.rrfFusion(spark, sfDir).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.size === 10)
    byQ.values.foreach { qs =>
      val ranks = qs.map(_.getLong(1)).sorted.toSeq
      assert(ranks === (1L to ranks.size), ranks.toString)
      assert(ranks.size <= SimilarityOps.RrfTopF)
    }
  }

  test("top bigrams count corpus phrases with deterministic tie-break") {
    val dir = docsFixture(Seq(
      (1L, "a b a b c", "en"), (2L, "a b x", "en")))
    val out = TextOps.topNgrams(spark, dir, k = 3).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(out.head == ("a b", 3L)) // "a b" twice in doc 1, once in doc 2
    assert(out.map(_._1).toSeq == out.map(_._1).toSeq.distinct)
  }

  /** Write an embeddings-shaped fixture parquet and return its directory. */
  private def embFixture(rows: Seq[(Long, Array[Float], Int)]): String = {
    import spark.implicits._
    val dir = tmpDir("emb")
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("fuzzy match: small edits pair, same-block dissimilar text does not") {
    val base = "alpha beta " + (1 to 20).map(i => s"w$i").mkString(" ")
    val edited = base.replace("w7", "w7x").replace("w15", "q15") // few edits
    val sameBlockFar = "alpha beta " + (100 to 119).map(i => s"z$i").mkString(" ")
    val dir = docsFixture(Seq(
      (1L, base, "en"), (2L, edited, "en"), (3L, sameBlockFar, "en"),
      (4L, "solo", "en"))) // single token: null block key, excluded
    val out = DedupOps.fuzzyMatch(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 2L)), out.toString)
  }

  test("fuzzy match: oversized blocks are dropped, not exploded") {
    // 5k identical docs share one block — the cap must kill it before the
    // join, so candidates are zero (not 12.5M levenshtein calls)
    val rows = (1L to 5000L).map(i => (i, "same prefix here always", "en"))
    val dir = docsFixture(rows :+ (9001L, "other text entirely different", "en"))
    assert(DedupOps.fuzzyMatch(spark, dir).count() == 0)
  }

  test("fuzzy match: saturated blocks are refined by third token, not exploded or dropped") {
    // 60 equal-length docs share (tok1, tok2, len-bucket) — past the cap
    // (50), which without refinement dropped the whole block and lost
    // every pair. Occupancy-adaptive keying splits it by third token
    // into 30 two-doc blocks, each an obvious near-dup pair.
    val rows = (0 until 30).flatMap { k =>
      val body = (1 to 15).map(i => f"w$k%02dx$i%02d").mkString(" ")
      Seq((k * 2L, f"alpha beta g$k%02d $body extra", "en"),
        (k * 2L + 1L, f"alpha beta g$k%02d $body extrb", "en"))
    }
    val dir = docsFixture(rows)
    val out = DedupOps.fuzzyMatch(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == (0 until 30).map(k => (k * 2L, k * 2L + 1L)).toSet, out.toString)
    // and the telemetry row agrees: nothing dropped once refined
    val dropped = DedupOps.fuzzyDroppedBlocks(spark, dir).collect().head
    assert(dropped.getLong(0) == 0L && dropped.getLong(1) == 0L)
  }

  test("pagerank: hub outranks leaves, isolated docs sit at exact base rank") {
    // star in jaccard space: hub ~ each leaf (shared 32-token runs), but
    // the leaves mutate DIFFERENT positions so leaf~leaf < 0.6
    val w = (1 to 40).map(i => s"w$i")
    val hub = w.mkString(" ")
    val leaf1 = (w.take(32) ++ (1 to 8).map(i => s"a$i")).mkString(" ")
    val leaf2 = ((1 to 8).map(i => s"b$i") ++ w.drop(8)).mkString(" ")
    val iso = (100 to 140).map(i => s"v$i").mkString(" ")
    val dir = docsFixture(Seq(
      (0L, hub, "en"), (1L, leaf1, "en"), (2L, leaf2, "en"), (3L, iso, "en")))
    val pr = DedupOps.pagerankNearDup(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val base = (DedupOps.PrMass * (100 - DedupOps.PrDamp)) / (100L * 4)
    assert(pr(3L) == base, s"isolated doc not at base: ${pr(3L)} vs $base")
    assert(pr(0L) > pr(1L) && pr(1L) > pr(3L), pr.toString)
    assert(pr(1L) == pr(2L), "symmetric leaves must tie")
  }

  test("semdedup: transitive chain keeps one min-id representative") {
    // 1~2 and 2~3 at cos .866 >= 0.8, but 1~3 at cos .5 < 0.8 — only the
    // transitive closure puts all three in one component; 4 is orthogonal
    def v(th: Double) = Array(math.cos(th).toFloat, math.sin(th).toFloat, 0f, 0f)
    val dir = embFixture(Seq(
      (1L, v(0), 0), (2L, v(math.Pi / 6), 0), (3L, v(math.Pi / 3), 0),
      (4L, Array(0f, 0f, 0f, 1f), 0)))
    val out = SimilarityOps.semDedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(out == Seq((1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (4L, 4L, true)))
  }

  test("training order: positions replay the md5 rank independently, " +
      "permutation + shard law, deterministic") {
    val out = TextOps.trainingOrder(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = out.length
    // positions are exactly a permutation of 0..n-1, shards derived
    assert(out.map(_._2).sorted.toSeq == (0L until n.toLong).toSeq)
    assert(out.forall { case (_, pos, shard) =>
      shard == pos / TextOps.TrainingShardDocs })
    // independent replay: rank by (h32 of 'ord'+id, id) in plain Scala
    val md = java.security.MessageDigest.getInstance("MD5")
    def h32(id: Long): Long = java.lang.Long.parseLong(
      md.digest(s"ord$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8), 16)
    val expected = out.map(_._1).sortBy(id => (h32(id), id))
      .zipWithIndex.map { case (id, i) => id -> i.toLong }.toMap
    out.foreach { case (id, pos, _) =>
      assert(pos == expected(id), s"doc $id at $pos, replay says ${expected(id)}")
    }
    // reruns reproduce the order bit-for-bit (no sampling dependence)
    assert(TextOps.trainingOrder(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      out.map(t => (t._1, t._2)).toSeq)
  }

  test("dsir sample: independent inclusion replay, target-language " +
      "enrichment, zero-score docs never drawn") {
    val scores = TextOps.dsirScores(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getAs[String]("lang"),
        r.getAs[Long]("dsir_score")))
    val total = scores.map(_._3).sum
    val t = scores.length.toLong / TextOps.DsirSampleBudgetDen
    val md = java.security.MessageDigest.getInstance("MD5")
    def h32(id: Long): Long = java.lang.Long.parseLong(
      md.digest(s"dsir$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8), 16)
    val expected = scores.filter { case (id, _, w) =>
      BigInt(h32(id)) * total < BigInt(t) * w * 4294967296L
    }.map(_._1).toSet
    val kept = TextOps.dsirSample(spark, sfDir).collect()
      .map(_.getLong(0)).toSet
    assert(kept == expected, s"engine ${kept.size}, replay ${expected.size}")
    // a zero-score doc has inclusion rate 0 by the inequality
    val zeros = scores.filter(_._3 == 0L).map(_._1).toSet
    assert(zeros.intersect(kept).isEmpty)
    // the POINT of the operator: inclusion ∝ score, so the kept set's
    // mean importance exceeds the corpus mean (deterministic on fixed
    // data; the language-share enrichment shows at sf0.01+ — measured
    // 48.0% en kept vs 43.6% corpus — but is too noisy at this
    // fixture's 50 docs to pin)
    val scoreOf = scores.map(s => s._1 -> s._3).toMap
    val keptMean = kept.toSeq.map(scoreOf).sum.toDouble / kept.size
    val corpusMean = total.toDouble / scores.length
    assert(keptMean > corpusMean,
      s"no importance enrichment: $keptMean vs $corpusMean")
  }

  test("decontam verdict: keep iff no modality hit, fixed flag precedence, " +
      "exactly the clean-side corpus") {
    val m = DedupOps.DecontamBenchMod
    val ng = TextOps.decontamNgram(spark, sfDir).collect()
      .map(_.getLong(0)).toSet
    val nd = DedupOps.decontamNearDup(spark, sfDir).collect()
      .map(_.getLong(0)).toSet
    val md = JsonMediaOps.mediaDecontam(spark, sfDir).collect()
      .map(_.getLong(0)).toSet
    val sm = SimilarityOps.decontamSemantic(spark, sfDir).collect()
      .map(_.getLong(0)).toSet
    val out = TextOps.decontamVerdict(spark, sfDir).collect()
    val cleanSide = graft.Tables.documents(spark, sfDir)
      .collect().map(_.getLong(0))
      .filter(id => id % 100 != 0 && id % m != 0).toSet
    assert(out.map(_.getLong(0)).toSet == cleanSide)
    out.foreach { r =>
      val id = r.getLong(0)
      val (hn, hd, hm, hs) =
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4))
      assert(hn == ng(id) && hd == nd(id) && hm == md(id) && hs == sm(id),
        s"doc $id flags ($hn,$hd,$hm,$hs) vs components")
      val expFlag = if (hn) Some("ngram") else if (hd) Some("neardup")
        else if (hm) Some("media") else if (hs) Some("semantic") else None
      assert(Option(r.getString(5)) == expFlag, s"doc $id precedence")
      assert(r.getBoolean(6) == !(hn || hd || hm || hs))
    }
    // the precedence column must actually bind on multi-flag docs
    // somewhere in the harness corpus (measured: neardup ∩ media ≠ ∅)
    assert(out.exists(r => r.getBoolean(2) && r.getBoolean(3)),
      "no multi-modality doc — precedence untested on harness data")
    // the semantic column must be LIVE on harness data (it flags the
    // paraphrase class the other three miss — docs flagged ONLY by it)
    assert(out.exists(r => r.getBoolean(4) &&
      !r.getBoolean(1) && !r.getBoolean(2) && !r.getBoolean(3)),
      "no semantic-only hit — the fourth modality adds nothing here")
  }

  test("curation training order: exactly the staged survivors, ordered by " +
      "the md5 rank, sharded") {
    val surv = TextOps.curationPipelineStaged(spark, sfDir).collect()
      .map(_.getLong(0)).toSet
    val out = TextOps.curationTrainingOrder(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.map(_._1).toSet == surv,
      "ordered set must be exactly the staged survivor set")
    assert(out.map(_._2).sorted.toSeq == (0L until surv.size.toLong).toSeq)
    val md = java.security.MessageDigest.getInstance("MD5")
    def h32(id: Long): Long = java.lang.Long.parseLong(
      md.digest(s"ord$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8), 16)
    val expected = surv.toSeq.sortBy(id => (h32(id), id))
      .zipWithIndex.map { case (id, i) => id -> i.toLong }.toMap
    out.foreach { case (id, pos, shard) =>
      assert(pos == expected(id) && shard == pos / TextOps.TrainingShardDocs)
    }
  }

  test("curriculum order: ascending quality buckets, md5 shuffle within, " +
      "independent position replay") {
    val scores = TextOps.qualityLearned(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val out = TextOps.curriculumOrder(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length == scores.size)
    val md = java.security.MessageDigest.getInstance("MD5")
    def h32(id: Long): Long = java.lang.Long.parseLong(
      md.digest(s"ord$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8), 16)
    // independent replay: sort by (bucket, h, id) and compare positions
    val expected = scores.keys.toSeq
      .sortBy(id => (scores(id) / TextOps.CurriculumBucketMilli, h32(id), id))
      .zipWithIndex.map { case (id, i) => id -> i.toLong }.toMap
    out.foreach { case (id, bucket, pos, shard) =>
      assert(bucket == scores(id) / TextOps.CurriculumBucketMilli, s"doc $id")
      assert(pos == expected(id), s"doc $id position")
      assert(shard == pos / TextOps.TrainingShardDocs)
    }
    // the curriculum is non-degenerate on the harness corpus (several
    // buckets) and bucket is monotone in the global position
    val byPos = out.sortBy(_._3).map(_._2)
    assert(byPos.distinct.length >= 2, "single bucket — no curriculum")
    assert(byPos.zip(byPos.tail).forall { case (a, b) => a <= b })
  }

  test("cluster-balanced sample: independent inclusion replay, dense cluster " +
      "flattened, rare clusters kept whole (rate cap), summary consistent") {
    // 8 well-separated blobs, one Lloyd seed (ids 0-7) per blob; blob 0
    // gets 56 extra members (ids 8-63), blob 1 gets 3 (ids 64-66) —
    // sizes 57,4,1,1,1,1,1,1 → w=(7,2,1×6), Σw=15,
    // T = n_total div ClusterSampleBudgetDen = 67 div 2 = 33:
    // rate_0 = 33·7/(15·57) ≈ 0.27 (strict subset), every other cluster's
    // rate > 1 → the h32 < 2^32 bound keeps it whole
    def center(b: Int): Array[Float] = {
      val a = Array.fill(8)(0f); a(b) = 1f; a
    }
    val rnd = new scala.util.Random(7)
    def around(b: Int): Array[Float] =
      center(b).map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f)
    val rows = (0 until 8).map(b => (b.toLong, around(b), 0)) ++
      (8 until 64).map(i => (i.toLong, around(0), 0)) ++
      (64 until 67).map(i => (i.toLong, around(1), 0))
    val dir = embFixture(rows)
    val kept = SimilarityOps.clusterBalancedSample(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byCl = kept.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    // rare clusters survive at rate 1
    (1L to 7L).foreach { c =>
      val expectSize = if (c == 1L) 4 else 1
      assert(byCl.getOrElse(c, Set.empty).size == expectSize,
        s"cluster $c not kept whole: ${byCl.get(c)}")
    }
    // the dense blob is a strict, non-empty subset
    val kept0 = byCl.getOrElse(0L, Set.empty)
    assert(kept0.nonEmpty && kept0.size < 57, s"blob 0 kept ${kept0.size} of 57")
    // independent Scala replay of the inclusion inequality:
    // h32(v)·Σw·n_c < T·w_c·2^32 with h32 = first 8 md5 hex chars
    val md = java.security.MessageDigest.getInstance("MD5")
    def h32(id: Long): Long = {
      val hex = md.digest(s"cbs$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(8), 16)
    }
    val sizesByCluster = Map(0L -> 57L, 1L -> 4L) ++ (2L to 7L).map(_ -> 1L)
    // T derived exactly as the engine does (the replay must share the
    // inequality's every operand, not a by-coincidence neighbor value)
    val sumW = 15L
    val t = rows.size / SimilarityOps.ClusterSampleBudgetDen
    def wOf(n: Long): Long = math.floor(math.sqrt(n.toDouble)).toLong
    val expected = rows.map(_._1).map { id =>
      val c = if (id < 8) id else if (id < 64) 0L else 1L
      (id, c)
    }.filter { case (id, c) =>
      val n = sizesByCluster(c)
      BigInt(h32(id)) * sumW * n < BigInt(t) * wOf(n) * 4294967296L
    }
    assert(kept.toSet == expected.toSet,
      s"engine kept ${kept.length}, replay expects ${expected.length}")
    // summary agrees with the realised sample
    val summ = SimilarityOps.clusterBalancedSummary(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_vecs"),
        r.getAs[Long]("w_isqrt"), r.getAs[Long]("n_kept"))).toMap
    assert(summ(0L) == ((57L, 7L, kept0.size.toLong)))
    assert(summ(1L) == ((4L, 2L, 4L)))
    (2L to 7L).foreach(c => assert(summ(c) == ((1L, 1L, 1L))))
    // per-id hash ⇒ reruns reproduce the kept set bit-for-bit
    assert(SimilarityOps.clusterBalancedSample(spark, dir).collect()
      .map(_.getLong(0)).toSeq == kept.map(_._1).toSeq.sorted)
  }

  test("kmeans recovers planted well-separated blobs; deterministic across runs") {
    val rnd = new scala.util.Random(3)
    def around(c: Array[Float]): Array[Float] =
      c.map(x => x + (rnd.nextFloat() - 0.5f) * 0.05f)
    val centers = Seq(
      Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f), Array(0f, 0f, 1f, 0f))
    // ids interleaved so seeds 0,1,2 land one per blob
    val rows = (0 until 30).map(i => (i.toLong, around(centers(i % 3)), 0))
    val dir = embFixture(rows)
    def run() = SimilarityOps.kmeansAssign(spark, dir, k = 3, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val got = run()
    // every vector clusters with its blob's seed
    assert(got.forall { case (id, cl) => cl == id % 3 }, got.mkString(","))
    assert(got == run(), "assignment not deterministic across runs")
  }

  // ------------------------------------------------------------------
  // Hot-key guard (subSaltHotKeys): the adversarial degenerate regime —
  // every document identical, so every band key is shared by all m rows
  // and the uncapped self-join would emit C(m,2) candidate pairs per band.
  // Sub-salting at maxBandDf=c must bound TOTAL pairs by m·c (the same
  // within-shard set in every band), while keeping ≥ the balanced-shard
  // floor of ~m·(c-1)/2 pairs (local recall inside each shard) and leaving
  // cold keys — a planted ordinary near-dup pair — bit-identical.
  // ------------------------------------------------------------------

  test("minhash hot-key guard: 10k identical docs complete in bounded candidates") {
    val m = 10000
    val cap = 20
    // 3 tokens → exactly ONE shingle per doc: the "near-empty doc"
    // degenerate class from the 100 TB analysis
    val degenerate = (1L to m.toLong).map(i => (i, "alpha beta gamma", "en"))
    val near1 = (1 to 40).map(i => s"w$i").mkString(" ")
    val near2 = (1 to 38).map(i => s"w$i").mkString(" ") + " x1 x2"
    val dir = docsFixture(degenerate ++ Seq(
      (20001L, near1, "en"), (20002L, near2, "en")))
    val pairs = DedupOps.minhashNearDup(spark, dir, maxBandDf = cap).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val degeneratePairs = pairs.count(_._1 <= m)
    // ceil(m/cap)=500 shards: balanced floor 500·C(20,2)=95_000 (convexity:
    // any imbalance only raises the count), hard ceiling m·cap=200_000 —
    // versus C(10_000,2) = 49_995_000 uncapped
    assert(degeneratePairs >= 95000 && degeneratePairs <= m.toLong * cap,
      s"degenerate candidate volume out of bounds: $degeneratePairs")
    // cold keys (df=2 ≪ cap) are untouched: the ordinary planted pair
    // must still verify at jaccard ≈ 0.9
    assert(pairs.contains((20001L, 20002L)), "cold-key pair lost by the guard")
  }

  test("simhash hot-key guard bounds identical-doc candidates the same way") {
    val m = 10000
    val cap = 20
    val dir = docsFixture((1L to m.toLong).map(i => (i, "alpha beta gamma", "en")))
    val n = DedupOps.simhashNearDup(spark, dir, maxBandDf = cap).count()
    assert(n >= 95000 && n <= m.toLong * cap, s"simhash candidate volume: $n")
  }

  test("hyperplane LSH hot-key guard bounds identical-vector candidates") {
    val m = 2000
    val cap = 20
    val v = Array.tabulate(64)(i => (i % 7 + 1) / 10.0f)
    val dir = embFixture((1L to m.toLong).map(i => (i, v, 0)))
    val n = SimilarityOps.embLshNearDup(spark, dir, maxBandDf = cap).count()
    // 100 shards: floor 100·C(20,2)=19_000, ceiling m·cap=40_000,
    // versus C(2000,2) = 1_999_000 uncapped
    assert(n >= 19000 && n <= m.toLong * cap, s"embLsh candidate volume: $n")
  }

  test("production-regime LSH (0.8, 8-bit bands) finds planted pairs, no false positives") {
    val rnd = new scala.util.Random(11)
    def randVec() = Array.fill(64)(rnd.nextGaussian().toFloat)
    val base = randVec()
    val nearDup = base.map(x => x + 0.05f * rnd.nextGaussian().toFloat) // cos ≈ 0.997
    val mid = base.map(x => x + 0.8f * rnd.nextGaussian().toFloat)      // cos ≈ 0.8/1.28 < 0.8
    val dir = embFixture(Seq((1L, base, 0), (2L, nearDup, 0),
      (3L, mid, 0), (4L, randVec(), 0), (5L, randVec(), 0)))
    val hi = SimilarityOps.embLshNearDupHi(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact verification: membership is decided by true cosine, so the
    // planted pair is present and everything below 0.8 is absent
    assert(hi == Set((1L, 2L)), s"got $hi")
  }

  test("embedding LSH near-dup finds planted high-similarity pairs") {
    val rnd = new scala.util.Random(7)
    def randVec() = Array.fill(64)(rnd.nextGaussian().toFloat)
    val base = randVec()
    val nearDup = base.map(x => x + 0.05f * rnd.nextGaussian().toFloat)
    val dir = embFixture(Seq(
      (1L, base, 0), (2L, nearDup, 0), (3L, randVec(), 0), (4L, randVec(), 0)))
    val pairs = SimilarityOps.embLshNearDup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("embedding LSH near-dup vs exact blocked result: no false positives, high recall") {
    val exact = SimilarityOps.embNearDup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SimilarityOps.embLshNearDup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    // exact cosine verification of candidates: false positives impossible
    assert(lsh.subsetOf(exact), s"false positives: ${lsh -- exact}")
    // seeded hyperplanes → deterministic; per-pair P(miss) ≈ 4% at the
    // threshold itself, lower above it. Measured 1.0 on this data.
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall=$recall over ${exact.size} pairs")
  }

  test("blocked exact embedding near-dup is invariant to block count") {
    def run(b: Int) = SimilarityOps.embNearDup(spark, sfDir, nBlocks = b)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val p16 = run(16)
    assert(p16 == run(1), "single-block (degenerate) disagrees")
    assert(p16 == run(3), "non-divisor block count disagrees")
    assert(p16.nonEmpty)
  }

  test("media bytes: synthesized containers are byte-correct and decode round-trips") {
    import graft.functions.MediaBytes
    import java.nio.charset.StandardCharsets.UTF_8
    val payload = "hello media".getBytes(UTF_8)
    // PNG: signature + IHDR dims round-trip, and the IHDR CRC is valid
    val png = MediaBytes.png(123, 77, payload)
    val pngRow = MediaBytes.decode(png)
    assert(pngRow.getString(0) == "png" && pngRow.getInt(1) == 123 &&
      pngRow.getInt(2) == 77 && pngRow.getLong(3) == 1L)
    val crc = new java.util.zip.CRC32()
    crc.update(png, 12, 17) // IHDR type+data
    assert(java.nio.ByteBuffer.wrap(png).getInt(29) == crc.getValue.toInt)
    // BMP: little-endian dims at fixed offsets
    val bmpRow = MediaBytes.decode(MediaBytes.bmp(31, 17, payload))
    assert(bmpRow.getString(0) == "bmp" && bmpRow.getInt(1) == 31 &&
      bmpRow.getInt(2) == 17)
    // WAV: frames = payload / blockAlign(2)
    val wavRow = MediaBytes.decode(MediaBytes.wav(payload))
    assert(wavRow.getString(0) == "wav" &&
      wavRow.getLong(3) == payload.length / 2)
    // corrupt input degrades, never throws
    assert(MediaBytes.decode("not a container".getBytes(UTF_8)).getString(0) == "unknown")
  }

  test("seg dedup drops cross-doc duplicated segments, keeps first occurrence") {
    val segA = (1 to 16).map(i => s"a$i").mkString(" ")
    val segB = (1 to 16).map(i => s"b$i").mkString(" ")
    val segC = (1 to 16).map(i => s"c$i").mkString(" ")
    val dir = docsFixture(Seq(
      (1L, s"$segA $segB", "en"), // first occurrences of both: kept whole
      (2L, s"$segC $segA", "en"), // segA already seen in doc 1: dropped
      (3L, segB, "en")))          // entirely boilerplate: empties out
    val out = TextOps.segDedup(spark, dir).collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("n_segs"),
        r.getAs[Long]("n_dropped"), r.getAs[String]("clean_text"))).toList
    assert(out == List(
      (1L, 2L, 0L, s"$segA $segB"),
      (2L, 2L, 1L, segC),
      (3L, 1L, 1L, "")))
  }

  test("seg dedup: within-doc repeat keeps first; short tail is its own span") {
    val seg = (1 to 16).map(i => s"r$i").mkString(" ")
    val dir = docsFixture(Seq((7L, s"$seg $seg tail words", "en")))
    val r = TextOps.segDedup(spark, dir).collect().head
    assert(r.getAs[Long]("n_segs") == 3L)
    assert(r.getAs[Long]("n_dropped") == 1L)
    assert(r.getAs[String]("clean_text") == s"$seg tail words")
  }

  test("substring dedup: any-alignment cross-doc run removed from the loser only") {
    // docB embeds a 12-token run of docA at offset 3 (no block alignment
    // — segDedup's fixed 16-blocks would MISS this entirely)
    val a = (1 to 20).map(i => s"a$i").mkString(" ")
    val b = "x y z " + (5 to 16).map(i => s"a$i").mkString(" ") + " q r"
    val dir = docsFixture(Seq((1L, a, "en"), (2L, b, "en")))
    val out = TextOps.substringDedup(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_covered") == 0L)
    assert(out(1L).getAs[String]("clean_text") == a)
    assert(out(2L).getAs[Long]("n_covered") == 12L)
    assert(out(2L).getAs[String]("clean_text") == "x y z q r")
  }

  test("substring dedup: within-doc repeat keeps the first copy; short docs untouched") {
    val run = (1 to 8).map(i => s"r$i").mkString(" ")
    val dir = docsFixture(Seq(
      (1L, s"$run $run", "en"),
      (2L, "only seven tokens here not eight x", "en")))
    val out = TextOps.substringDedup(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_covered") == 8L)
    assert(out(1L).getAs[String]("clean_text") == run)
    assert(out(2L).getAs[Long]("n_covered") == 0L)
    assert(out(2L).getAs[Long]("n_toks") == 7L)
  }

  test("bpe learn: hand-computed merge sequence, left-fold run semantics, early stop") {
    // corpus: "abab" ×3, "abc" ×2. r1 pair freqs: (a,b)=8, (b,a)=3,
    // (b,c)=2 → merge ab. r2: (ab,ab)=3, (ab,c)=2 → merge abab.
    // r3: only (ab,c)=2 remains → merge abc. r4: no pairs anywhere →
    // rounds 4..8 must be absent (early stop on both engines)
    val dir = docsFixture(Seq(
      (1L, "abab abab abab abc abc", "en")))
    val out = TextOps.bpeLearn(spark, dir).collect()
      .map(r => (r.getAs[Long]("merge_rank"), r.getAs[String]("lhs"),
        r.getAs[String]("rhs"), r.getAs[String]("merged"), r.getAs[Long]("pair_freq")))
    assert(out.toSeq == Seq(
      (1L, "a", "b", "ab", 8L),
      (2L, "ab", "ab", "abab", 3L),
      (3L, "ab", "c", "abc", 2L)))
  }

  test("bpe learn: identical-symbol runs merge at even offsets (left fold)") {
    // "aaa" ×4: r1 pairs (a,a)=8 → merge aa; the fold turns a a a into
    // [aa, a] (NOT [a, aa]); r2 pairs (aa,a)=4 → merge aaa; r3: none
    val dir = docsFixture(Seq((1L, "aaa aaa aaa aaa", "en")))
    val out = TextOps.bpeLearn(spark, dir).collect()
      .map(r => (r.getAs[Long]("merge_rank"), r.getAs[String]("merged"),
        r.getAs[Long]("pair_freq")))
    assert(out.toSeq == Seq((1L, "aa", 8L), (2L, "aaa", 4L)))
  }

  test("batched bpe: disjoint pairs merge in one super-round") {
    // (a,b)=3 and (c,d)=2 share no symbol: one super-round elects both,
    // in (freq DESC, lhs, rhs) order — two merges, one driver round-trip
    val dir = docsFixture(Seq((1L, "ab ab ab cd cd", "en")))
    val out = TextOps.bpeLearnBatched(spark, dir).collect()
      .map(r => (r.getAs[Long]("merge_rank"), r.getAs[Long]("super_round"),
        r.getAs[String]("merged"), r.getAs[Long]("pair_freq")))
    assert(out.toSeq == Seq((1L, 1L, "ab", 3L), (2L, 1L, "cd", 2L)))
  }

  test("batched bpe: conflicting candidates defer, reproducing the sequential merges") {
    // same corpus as the sequential hand-computed test: every lower-ranked
    // candidate shares a symbol with the round's top pair, so each
    // super-round accepts exactly one merge and the batched output equals
    // bpeLearn's — with super_round recording the deferral
    val dir = docsFixture(Seq((1L, "abab abab abab abc abc", "en")))
    val out = TextOps.bpeLearnBatched(spark, dir).collect()
      .map(r => (r.getAs[Long]("merge_rank"), r.getAs[Long]("super_round"),
        r.getAs[String]("lhs"), r.getAs[String]("rhs"),
        r.getAs[String]("merged"), r.getAs[Long]("pair_freq")))
    assert(out.toSeq == Seq(
      (1L, 1L, "a", "b", "ab", 8L),
      (2L, 2L, "ab", "ab", "abab", 3L),
      (3L, 3L, "ab", "c", "abc", 2L)))
  }

  test("bpe encode: per-doc token counts under a 1-round vocab, hand-computed") {
    // r1 pairs: (a,b)=3, (c,d)=1, (e,e)=1 → merge ab only.
    // doc 1 = [ab, ab, cd] → ab:1 + ab:1 + cd:2 = 4 BPE tokens;
    // doc 2 = [ab, ee] → 1 + 2 = 3
    val dir = docsFixture(Seq(
      (1L, "ab ab cd", "en"),
      (2L, "ab ee", "en")))
    val out = TextOps.bpeEncode(spark, dir, rounds = 1).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_words"),
        r.getAs[Long]("n_bpe_tokens")))
    assert(out.toSeq == Seq((1L, 3L, 4L), (2L, 2L, 3L)))
  }

  test("bpe encode: word deeper than the merge budget keeps a symbol tail") {
    // single 10-char word, all pair freqs 1 → tie-break merges the
    // bytewise-smallest lhs each round, growing a prefix: after 8
    // rounds syms = [abcdefghi, j] → 2 BPE tokens from 1 word
    val dir = docsFixture(Seq((1L, "abcdefghij", "en")))
    val out = TextOps.bpeEncode(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_words"),
        r.getAs[Long]("n_bpe_tokens")))
    assert(out.toSeq == Seq((1L, 1L, 2L)))
  }

  test("lang confusion: cells, counts, and meta-row shares are exact") {
    // 2 'en'-labeled docs both predicted en (the/ing trigrams), 1 'de'
    // doc with english trigrams → predicted en: de row is 100% confused
    val dir = docsFixture(Seq(
      (1L, "the thing is doing fine", "en"),
      (2L, "another thing was doing rounds", "en"),
      (3L, "the thing looks english but is labeled de", "de")))
    val out = TextOps.langConfusion(spark, dir).collect()
      .map(r => (r.getAs[String]("lang_meta"), r.getAs[String]("lang_pred"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("share_milli")))
    assert(out.toSeq == Seq(
      ("de", "en", 1L, 1000L),
      ("en", "en", 2L, 1000L)))
  }

  test("learned lang profiles are selective and beat the hardcoded table on distinct text") {
    // the harness corpus carries no language signal (shared vocabulary —
    // see langProfilesLearned's caveat), so this fixture provides the
    // discriminative regime: four languages with genuinely distinct
    // trigram distributions, including zh (outside the hardcoded
    // en/de/es/fr table's reach). 10 docs per language, doc_id % 10 < 8
    // giving each language 8 train docs under the trainTestSplit rule.
    val vocab = Map(
      "de" -> Seq("schon", "nicht", "durch", "mich", "machen"),
      "en" -> Seq("the", "think", "with", "that", "they"),
      "es" -> Seq("que", "nacion", "para", "los", "cuando"),
      "zh" -> Seq("的一天", "是不好", "了人们", "我在这", "有他说"))
    val rows = for {
      (lang, li) <- Seq("de", "en", "es", "zh").zipWithIndex
      d <- 0 until 10
    } yield {
      val words = (0 until 12).map(w => vocab(lang)((d + w * (li + 1)) % 5))
      ((li * 10 + d).toLong, words.mkString(" "), lang)
    }
    val dir = docsFixture(rows)
    val prof = TextOps.langProfilesLearned(spark, dir).collect()
    // every labeled language learned a profile — including zh
    assert(prof.map(_.getAs[String]("lang")).toSet == Set("de", "en", "es", "zh"))
    // the lift gate operates in its SELECTIVE regime here: each language
    // is ~1/4 of the corpus, so a language-bound trigram's lift is
    // ~4000 milli — far above the 1050 gate (on the harness corpus every
    // lift is ~1000 ± noise, so this is the regime the gate exists for)
    assert(prof.map(_.getAs[Long]("lift_milli")).min > 2000)
    def diagonal(cells: Array[org.apache.spark.sql.Row]): Long =
      cells.filter(r => r.getAs[String]("lang_meta") == r.getAs[String]("lang_pred"))
        .map(_.getAs[Long]("n_docs")).sum
    val learned = diagonal(TextOps.langConfusionLearned(spark, dir).collect())
    val hardcoded = diagonal(TextOps.langConfusion(spark, dir).collect())
    assert(learned == 40L, s"learned diagonal $learned of 40")
    assert(learned > hardcoded,
      s"learned $learned must beat hardcoded $hardcoded")
  }

  test("contam fraction: per-doc overlap milli-ratio incl. zero and short docs") {
    // bench doc 100: "a b c d e" → grams {a b c d, b c d e}.
    // doc 1: 8 tokens → 5 grams, 1 shared (a b c d) → 1000/5 = 200;
    // doc 2: disjoint, 2 grams, 0 shared → 0;
    // doc 3: 2 tokens → 0 grams → all zeros
    val dir = docsFixture(Seq(
      (100L, "a b c d e", "en"),
      (1L, "a b c d x y z w", "en"),
      (2L, "p q r s t", "en"),
      (3L, "p q", "en")))
    val out = TextOps.contamFraction(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_grams"),
        r.getAs[Long]("n_shared_grams"), r.getAs[Long]("contam_milli")))
    assert(out.toSeq == Seq((1L, 5L, 1L, 200L), (2L, 2L, 0L, 0L), (3L, 0L, 0L, 0L)))
  }

  test("bpe fertility: per-language token-per-word ratio, hand-computed") {
    // 1-round vocab over "ab ab cd" + "ab ee" (same corpus as the
    // encode test, merge = ab): en doc [ab, ab, cd] → 3 words, 4 BPE
    // tokens → fertility 1333; de doc [ab, ee] → 2 words, 3 → 1500
    val dir = docsFixture(Seq(
      (1L, "ab ab cd", "en"),
      (2L, "ab ee", "de")))
    val out = TextOps.bpeFertility(spark, dir, rounds = 1).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_words"), r.getAs[Long]("n_bpe_tokens"),
        r.getAs[Long]("fertility_milli")))
    assert(out.toSeq == Seq(
      ("de", 1L, 2L, 3L, 1500L),
      ("en", 1L, 3L, 4L, 1333L)))
  }

  test("gopher filter: each rule binds on its planted violator") {
    val okText = (("the of " * 1) + ("alpha beta gamma delta " * 13)).trim // 54 words, 2 stopwords
    val shortText = "the of alpha beta gamma"                  // 5 words → r_len fails
    val noStopText = ("alpha beta gamma delta " * 13).trim     // 52 words, 0 stopwords
    val tinyWords = ("a " * 52).trim                           // mwl 1000 → r_wlen fails
    val dir = docsFixture(Seq(
      (1L, okText, "en"), (2L, shortText, "en"),
      (3L, noStopText, "en"), (4L, tinyWords, "en")))
    val out = TextOps.gopherFilter(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("r_len"), r.getAs[Boolean]("r_wlen"),
         r.getAs[Boolean]("r_alpha"), r.getAs[Boolean]("r_stop"),
         r.getAs[Boolean]("r_sym"), r.getAs[Boolean]("keep"))).toMap
    assert(out(1L) == ((true, true, true, true, true, true)))
    assert(out(2L) == ((false, true, true, true, true, false)))
    assert(out(3L) == ((true, true, true, false, true, false)))
    // 'a' × 52: mean word length 1 fails; 'a' is NOT a Gopher stopword
    assert(out(4L) == ((true, false, true, false, true, false)))
  }

  test("gopher filter: symbol ratio counts '#' and '...' occurrences") {
    // 52 words incl 2 stopwords; 6 '#' words + 1 '...' = 7 symbols
    // → 7000/52 = 134 milli ≥ 100 → r_sym fails
    val symText = ("the of " + "alpha beta gamma delta " * 11 +
      "# # # # # # ...").trim // 2 + 44 + 7 = 53 words
    val dir = docsFixture(Seq((1L, symText, "en")))
    val r = TextOps.gopherFilter(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_words") == 53L)
    assert(r.getAs[Long]("sym_milli") == 7000L / 53L)
    assert(!r.getAs[Boolean]("r_sym") && !r.getAs[Boolean]("keep"))
  }

  test("gopher prefilter: keeps input columns, rejects reserved-name collisions") {
    val dir = docsFixture(Seq(
      (1L, "the of " + (1 to 60).map(i => s"word$i").mkString(" "), "en")))
    val docs = graft.Tables.documents(spark, dir)
    // survivors come back with the input's exact columns
    assert(TextOps.gopherPrefilter(docs).columns.toSeq == docs.columns.toSeq)
    // an input already carrying a rule column would be clobbered and
    // restored WRONG by the final select — fail fast, naming the column
    val ex = intercept[IllegalArgumentException] {
      TextOps.gopherPrefilter(docs.withColumn("keep",
        org.apache.spark.sql.functions.lit(false)))
    }
    assert(ex.getMessage.contains("keep"), ex.getMessage)
  }

  /** documents fixture with explicit per-row source (the shared
    * [[docsFixture]] pins source='src', useless for mixture tests). */
  private def docsFixtureSrc(rows: Seq[(Long, String, String, String)]): String = {
    import spark.implicits._
    val dir = tmpDir("docs")
    rows.toDF("doc_id", "text", "lang", "source")
      .selectExpr("doc_id", "text", "lang", "source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("source mixture: tiny source kept whole (rate cap), giant subsampled, summary consistent") {
    val big = (1 to 40).map(i =>
      (i.toLong, (1 to 20).map(j => s"b${i}_$j").mkString(" "), "en", "big"))
    val small = Seq(
      (100L, "s1 s2 s3 s4 s5", "en", "small"),
      (101L, "s6 s7 s8 s9 s10", "en", "small"))
    val dir = docsFixtureSrc(big ++ small)
    // tokens: big 800 (w=28), small 10 (w=3); T=31, B=405
    // rate_small = 405·3/(31·10) > 1 → the cap keeps the whole source;
    // rate_big = 405·28/(31·800) ≈ 0.457 → a strict subset survives
    val sample = TextOps.sourceMixtureSample(spark, dir).collect()
    val bySrc = sample.groupBy(_.getAs[String]("source"))
    assert(bySrc.getOrElse("small", Array.empty[org.apache.spark.sql.Row]).length == 2)
    val keptBig = bySrc.getOrElse("big", Array.empty[org.apache.spark.sql.Row]).length
    assert(keptBig > 0 && keptBig < 40, s"big kept $keptBig of 40")
    val summary = TextOps.sourceMixtureSummary(spark, dir).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(summary("big").getAs[Long]("w_isqrt") == 28L)
    assert(summary("small").getAs[Long]("w_isqrt") == 3L)
    assert(summary("small").getAs[Long]("n_kept") == 2L)
    assert(summary("small").getAs[Long]("kept_tokens") ==
      summary("small").getAs[Long]("n_tokens"))
    assert(summary("big").getAs[Long]("n_kept") == keptBig.toLong)
    // per-doc hash ⇒ a rerun reproduces the kept set bit-for-bit
    assert(TextOps.sourceMixtureSample(spark, dir).collect()
      .map(_.getLong(0)).toSeq == sample.map(_.getLong(0)).toSeq)
  }

  test("dsir scores: exact λ arithmetic, target-like docs outscore off-target, empty doc = 0") {
    val dir = docsFixtureSrc(Seq(
      (1L, "tgt tgt tgt tgt", "en", "s"),
      (2L, "tgt tgt tgt tgt", "en", "s"),
      (3L, "off off off off", "de", "s"),
      (4L, "tgt tgt tgt off", "de", "s"),
      (5L, "off off off tgt", "de", "s"),
      (6L, "   ", "de", "s")))
    val out = TextOps.dsirScores(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("dsir_score")).toMap
    // raw: tgt 12, off 8, tot 20; target slice (en): tgt 8, off 0, tot 8
    // λ_tgt = (8+1)·20·1e6 // ((12+1)·8) = 1730769
    // λ_off = (0+1)·20·1e6 // ((8+1)·8)  =  277777
    val lamTgt = 9L * 20L * 1000000L / (13L * 8L)
    val lamOff = 1L * 20L * 1000000L / (9L * 8L)
    assert(out(1L) == 4 * lamTgt)
    assert(out(3L) == 4 * lamOff)
    assert(out(4L) == 3 * lamTgt + lamOff)
    assert(out(5L) == 3 * lamOff + lamTgt)
    assert(out(4L) > out(5L) && out(1L) > out(3L))
    assert(out(6L) == 0L) // token-less doc still present, score 0
  }

  test("media_meta: real header decode over synthesized blobs") {
    val out = JsonMediaOps.mediaMeta(spark, sfDir).collect()
    assert(out.map(_.getAs[String]("format")).toSet == Set("png", "bmp", "wav"))
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val n = r.getAs[Long]("n_bytes")
      val payload = n - (id % 3 match {
        case 0 => 45; case 1 => 54; case _ => 44 })
      id % 3 match {
        case 2 =>
          assert(r.getAs[Long]("width") == 0 && r.getAs[Long]("n_frames") == payload / 2)
        case _ =>
          assert(r.getAs[Long]("width") == payload % 640 + 16)
          assert(r.getAs[Long]("height") == (payload * 31) % 480 + 16)
          assert(r.getAs[Long]("n_frames") == 1L)
      }
    }
  }
}
