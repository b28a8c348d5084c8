package graft.ext

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** The two closes of [[DedupOps.connectedComponents]] (driver union-find
  * up to [[DedupOps.DriverCloseEdgeCap]] edges, star rounds above it) and
  * the Spark job budgets of the staged curation build that calls it and
  * of the cold quality mixer ahead of it. */
class ComponentsSpec extends SparkSpec {

  import spark.implicits._

  private def labels(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** One seeded graph per seed, each in its own id range: a chain, a
    * star, random bridging edges, duplicate and reversed copies,
    * self-loops and disjoint pairs, shuffled. */
  private def seededGraph(seed: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val base = seed * 100000L - 50000L // some ranges are negative
    val ids = rnd.shuffle((0L until 1000L).toVector).take(80).map(base + _)
    val chain = ids.take(25).sliding(2).map(p => (p(0), p(1))).toSeq
    val star = ids.slice(25, 40).tail.map(leaf => (ids(25), leaf))
    val bridges = Seq.fill(4)((ids(rnd.nextInt(40)), ids(40 + rnd.nextInt(20))))
    val pairs = ids.slice(60, 80).grouped(2).map(p => (p(0), p(1))).toSeq
    val core = chain ++ star ++ bridges ++ pairs
    val dups = Seq.fill(10)(core(rnd.nextInt(core.size)))
    val reversed = Seq.fill(10)(core(rnd.nextInt(core.size))).map(_.swap)
    val loops = Seq.fill(5)(ids(rnd.nextInt(ids.size))).map(i => (i, i))
    rnd.shuffle(core ++ dups ++ reversed ++ loops)
  }

  test("connected components: the driver close labels every graph like the star rounds") {
    val graph = (1 to 8).flatMap(seededGraph).toDF("doc_a", "doc_b")
    val driver = labels(DedupOps.connectedComponents(graph))
    val star = labels(DedupOps.starComponents(graph))
    assert(driver == star)
    // non-vacuous: many components, each labelled with its min, and a
    // node seen only in a self-loop gets no row on either path
    assert(driver.values.toSet.size > 8 * 10, driver.values.toSet.size)
    driver.foreach { case (n, l) => assert(l <= n && driver.getOrElse(l, l) == l) }
  }

  test("connected components: a graph under the edge cap closes on the driver") {
    val chain = (1L until 100L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val expected = (1L to 100L).map(_ -> 1L).toMap
    var driver, star = Map.empty[Long, Long]
    val nDriver = jobs { driver = labels(DedupOps.connectedComponents(chain)) }
    val nStar = jobs { star = labels(DedupOps.starComponents(chain)) }
    assert(driver == expected && star == expected)
    // driver close: round 0 plus one collect; star close: two or more
    // jobs per round, and the chain needs several rounds
    assert(99 <= DedupOps.DriverCloseEdgeCap)
    assert(nStar >= nDriver + 8, s"driver $nDriver, star $nStar jobs")
  }

  test("cold quality mixer build runs a bounded number of Spark jobs") {
    // a fresh copy of the harness corpus: every session cache is cold
    val dir = tmpDir("mixer")
    graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .write.parquet(s"$dir/documents.parquet")
    var rows = 0
    val n = jobs { rows = TextOps.qualityMixer(spark, dir).collect().length }
    assert(rows == graft.Tables.documents(spark, dir).count())
    // 26 jobs when each of the four signals scanned and tokenized on its
    // own; 14 with one scan, one round-robin deal, one gram explode and
    // one per-doc aggregate (the schema read and the cached frame's sort
    // included; two jobs of margin for AQE's stage order)
    assert(n <= 16, s"$n jobs")
  }

  test("cold staged curation build runs a bounded number of Spark jobs") {
    // a fresh copy of the harness corpus: every session cache is cold for
    // it, as in a first run
    val dir = tmpDir("staged")
    graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .write.parquet(s"$dir/documents.parquet")
    // the quality stages are session-cached and outside this budget
    TextOps.qualityMixer(spark, dir).collect()
    TextOps.qualityPrunePerSource(spark, dir).collect()
    var kept = 0
    val n = jobs { kept = TextOps.curationPipelineStaged(spark, dir).collect().length }
    assert(kept > 0)
    // 98 jobs when every branch re-derived the survivor scope and the
    // pair graph ran its star rounds; 39-46 with the scope built once and
    // the graph closed on the driver (AQE's stage completion order moves
    // the count by a few jobs)
    assert(n <= 55, s"$n jobs")
  }
}
