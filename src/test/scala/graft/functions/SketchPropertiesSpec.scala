package graft.functions

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Algebraic properties of the sketch expressions on generated inputs —
  * the invariants the LSH/dedup plans silently rely on. Generators are
  * sampled with fixed seeds (no scalatest-scalacheck bridge in the
  * offline cache). */
class SketchPropertiesSpec extends SparkSpec {

  import spark.implicits._

  private def samples[A](g: Gen[A], seeds: Seq[Long]): Seq[A] =
    seeds.map(s => g.pureApply(Gen.Parameters.default, Seed(s)))

  private val hashArray: Gen[List[Long]] =
    Gen.nonEmptyListOf(Gen.choose(Long.MinValue, Long.MaxValue))

  test("minhash signature is order- and duplicate-insensitive (set semantics)") {
    val arrays = samples(hashArray, Seq(1L, 7L, 42L, 99L))
    val perturbed = arrays.map(a => scala.util.Random.shuffle(a ++ a.take(3)))
    val df = arrays.zip(perturbed).toDF("a", "b")
      .select(
        SketchFunctions.minhashSignature(col("a")).as("sa"),
        SketchFunctions.minhashSignature(col("b")).as("sb"))
    df.collect().foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
  }

  test("minhash bands: no pair of 20-element sets at J = 0.82 misses every band") {
    // 18 shared elements, 2 private to each side: J = 18/22. With
    // independent permutations a band of 4 rows collides w.p. J^4 ≈ 0.45,
    // so a pair shares none of the 32 bands w.p. ≈ 6e-9; correlated
    // permutations lose whole pairs (the affine family a_j = 2j+1,
    // b_j = 104729(j+1) mod P misses 5 of these 3000)
    val pairs = (0 until 3000).map { seed =>
      val rnd = new scala.util.Random(seed)
      val shared = Seq.fill(18)(rnd.nextLong())
      (shared ++ Seq.fill(2)(rnd.nextLong()), shared ++ Seq.fill(2)(rnd.nextLong()))
    }
    val sigs = pairs.toDF("a", "b").select(
        SketchFunctions.minhashSignature(col("a")),
        SketchFunctions.minhashSignature(col("b")))
      .collect().map(r => (r.getSeq[Long](0), r.getSeq[Long](1)))
    val missed = sigs.count { case (sa, sb) =>
      (0 until 32).forall(b => sa.slice(4 * b, 4 * b + 4) != sb.slice(4 * b, 4 * b + 4))
    }
    assert(missed == 0, s"$missed of ${pairs.size} pairs share no band")
    // the interpreted path uses the same constants as the generated code
    val (a0, _) = pairs.head
    val interpreted = MinHashSignature(
        org.apache.spark.sql.catalyst.expressions.Literal.create(a0.toArray))
      .eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray().toSeq
    assert(interpreted == sigs.head._1)
  }

  test("simhash is permutation-invariant (vote sums commute)") {
    val arrays = samples(hashArray, Seq(3L, 11L, 55L))
    val df = arrays.map(a => (a, scala.util.Random.shuffle(a))).toDF("a", "b")
      .select(
        SketchFunctions.simhash64(col("a")).as("sa"),
        SketchFunctions.simhash64(col("b")).as("sb"))
    df.collect().foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("winnow fingerprints are invariant under whitespace renormalization") {
    val words = Gen.listOfN(30, Gen.alphaLowerStr.suchThat(_.nonEmpty).map(_.take(6)))
    val texts = samples(words, Seq(2L, 13L, 101L)).map(_.mkString(" "))
    val sloppy = texts.map(_.replace(" ", "   \t "))
    val norm = (c: org.apache.spark.sql.Column) =>
      regexp_replace(lower(trim(c)), "\\s+", " ")
    val df = texts.zip(sloppy).toDF("a", "b").select(
      SketchFunctions.winnowFingerprint(norm(col("a")), 8, 4).as("fa"),
      SketchFunctions.winnowFingerprint(norm(col("b")), 8, 4).as("fb"))
    df.collect().foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("int8 quantization perturbs cosine by less than 0.05 on random vectors") {
    val vec = Gen.listOfN(64, Gen.choose(-1.0, 1.0).map(_.toFloat))
    val pairs = samples(Gen.zip(vec, vec), Seq(4L, 21L, 77L, 123L))
    val df = pairs.map { case (a, b) => (a.toArray, b.toArray) }.toDF("a", "b")
    def quant(c: org.apache.spark.sql.Column) = {
      val scale = greatest(
        array_max(transform(c, x => abs(x.cast("double")))) / 127.0, lit(1e-12))
      transform(c, x => round(x.cast("double") / scale).cast("tinyint"))
    }
    def cos(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) = {
      def d(p: org.apache.spark.sql.Column, q: org.apache.spark.sql.Column) =
        VectorFunctions.vecDot(p, q)
      d(x, y) / (sqrt(d(x, x)) * sqrt(d(y, y)))
    }
    val out = df.select(
      cos(col("a"), col("b")).as("exact"),
      cos(quant(col("a")), quant(col("b"))).as("approx")).collect()
    out.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 0.05,
        s"exact=${r.getDouble(0)} approx=${r.getDouble(1)}")
    }
  }

  test("misra-gries holds its guarantees on random skewed streams (any k)") {
    val stream: Gen[(List[String], Int)] = for {
      k <- Gen.choose(2, 24)
      // zipf-ish: token index from a squared uniform over a small alphabet
      toks <- Gen.listOfN(4000, Gen.choose(0.0, 1.0)
        .map(u => s"t${(u * u * 60).toInt}"))
    } yield (toks, k)
    samples(stream, Seq(5L, 17L, 23L, 61L, 77L)).foreach { case (toks, k) =>
      val truth = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = toks.size
      val mg = toks.toDF("tok").repartition(7)
        .agg(FrequencyFunctions.misraGries(col("tok"), k))
        .collect().head.getAs[Map[String, Long]](0)
      assert(mg.size <= k)
      val guaranteed = truth.filter(_._2 > n / (k + 1)).keySet
      assert(guaranteed.subsetOf(mg.keySet),
        s"k=$k lost ${guaranteed -- mg.keySet}")
      mg.foreach { case (t, est) =>
        assert(est <= truth(t) && truth(t) - est <= n / (k + 1),
          s"k=$k $t est=$est true=${truth(t)}")
      }
    }
  }
}
