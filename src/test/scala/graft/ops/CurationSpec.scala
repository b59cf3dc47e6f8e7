package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.SparkSpec

/** Contracts of the round-3c curation operators: containment vs Jaccard on
  * subset duplication, the exact n-gram contamination screen, boilerplate
  * share, and the bounded-heap top-k-per-group's equality with the window
  * form (including tie-breaks).
  */
class CurationSpec extends SparkSpec {

  import spark.implicits._

  // doc 1: a long doc; doc 2: a verbatim excerpt of doc 1 (subset dup);
  // doc 3: unrelated; doc 4: exact copy of doc 3
  private val docs = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (2L, "gamma delta epsilon zeta"),
    (3L, "one two three four five six"),
    (4L, "one two three four five six")
  ).toDF("doc_id", "text")

  test("containmentPairs flags the subset dup that Jaccard misses") {
    val contain = Dedup.containmentPairs(docs, n = 3, minContainX10k = 9000L, maxDf = 100)
      .select("id_a", "id_b", "containment_x10k").as[(Long, Long, Long)].collect().toSet
    // doc 2's shingles ⊂ doc 1's → containment = 10000; docs 3/4 identical
    assert(contain == Set((1L, 2L, 10000L), (3L, 4L, 10000L)))

    val jacc = Dedup.jaccardPairs(docs, n = 3, minJaccardX10k = 9000L, maxDf = 100)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // Jaccard: |A∩B|=2, |A∪B|=8 → 2500 — far below the same threshold
    assert(jacc == Set((3L, 4L)))
    Materialize.releaseQuery(spark)
  }

  test("exactNgramOverlap: eval slice screened out, counts and flags exact") {
    // doc 2 is the eval set; doc 1 contains its shingles, docs 3/4 don't
    val tagged = docs.withColumn("is_eval", col("doc_id") === 2L)
    val got = Dedup.exactNgramOverlap(tagged, "is_eval", n = 3)
      .select("doc_id", "n_ngrams", "n_shared", "contaminated")
      .as[(Long, Long, Long, Int)].collect().sortBy(_._1).toSeq
    // doc 1: 8 distinct 3-grams, shares doc 2's 2 ("gamma delta epsilon",
    // "delta epsilon zeta"); docs 3/4: 4 each, none shared; doc 2 absent
    assert(got == Seq((1L, 8L, 2L, 1), (3L, 4L, 0L, 0), (4L, 4L, 0L, 0)))
    Materialize.releaseQuery(spark)
  }

  test("boilerplateShare counts n-grams at or above the distinct-doc frequency floor") {
    // "one two three ..." shingles appear in docs 3+4+5 (df=3); doc 1/2
    // shingles are unique (df<=2)
    val five = docs.union(Seq((5L, "one two three four five six")).toDF("doc_id", "text"))
    val got = Dedup.boilerplateShare(five, minDf = 3, n = 3)
      .select("doc_id", "n_ngrams", "n_boilerplate", "boilerplate_x10k")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 8L, 0L, 0L), (2L, 2L, 0L, 0L),
      (3L, 4L, 4L, 10000L), (4L, 4L, 4L, 10000L), (5L, 4L, 4L, 10000L)))
    Materialize.releaseQuery(spark)
  }

  test("topKPerGroup == the row_number window form, ties broken (ord DESC, id ASC)") {
    val rnd = new scala.util.Random(7)
    // duplicate values force tie-breaks; group sizes straddle k
    val rows = (1 to 400).map { i =>
      (rnd.nextInt(20).toLong, i.toLong, rnd.nextInt(10).toLong)
    }
    val df = rows.toDF("g", "id", "v").repartition(5)
    val got = Relational.topKPerGroup(df, Seq("g"), "v", "id", k = 3)
      .select("g", "rank", "id", "v").as[(Long, Long, Long, Long)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    val w = Window.partitionBy("g").orderBy(col("v").desc, col("id"))
    val want = df.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select("g", "rank", "id", "v").as[(Long, Long, Long, Long)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == want)
  }

  private def refShingles(t: String, n: Int): Set[String] = {
    val w = t.split("\\s+").toSeq
    (0 to w.size - n).map(i => w.slice(i, i + n).mkString(" ")).toSet
  }

  test("containment pairs == brute-force reference on random corpora (ScalaCheck)") {
    import org.scalacheck.{Gen, Test => SCTest}
    import org.scalacheck.Prop.forAll
    val word = Gen.choose(0, 20).map(i => s"w$i")
    val doc = Gen.choose(5, 25).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    val corpus = Gen.choose(3, 10).flatMap(n => Gen.listOfN(n, doc))
    val prop = forAll(corpus) { texts =>
      val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = Dedup.containmentPairs(d, n = 2, minContainX10k = 5000L)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(5)).toMap
      Materialize.releaseQuery(spark)
      val expected = (for {
        a <- texts.indices; b <- texts.indices if a < b
        sa = refShingles(texts(a), 2); sb = refShingles(texts(b), 2)
        if sa.nonEmpty && sb.nonEmpty
        inter = (sa & sb).size if inter > 0
        c = 10000L * inter / math.min(sa.size, sb.size) if c >= 5000L
      } yield (a.toLong, b.toLong) -> c).toMap
      got == expected
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(r.passed, r.status.toString)
  }

  test("exact n-gram overlap == brute-force reference on random split corpora (ScalaCheck)") {
    import org.scalacheck.{Gen, Test => SCTest}
    import org.scalacheck.Prop.forAll
    val word = Gen.choose(0, 12).map(i => s"w$i") // small vocab → real overlap
    val doc = Gen.choose(4, 20).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    val corpus = Gen.choose(4, 10).flatMap(n => Gen.listOfN(n, doc))
    val prop = forAll(corpus) { texts =>
      val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t, i % 3 == 0) }
        .toDF("doc_id", "text", "is_eval")
      val got = Dedup.exactNgramOverlap(d, "is_eval", n = 2)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      Materialize.releaseQuery(spark)
      val evalGrams = texts.indices.filter(_ % 3 == 0)
        .flatMap(i => refShingles(texts(i), 2)).toSet
      val expected = (for {
        i <- texts.indices if i % 3 != 0
        sh = refShingles(texts(i), 2) if sh.nonEmpty
      } yield i.toLong -> ((sh.size.toLong, (sh & evalGrams).size.toLong))).toMap
      got == expected
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(r.passed, r.status.toString)
  }

  test("topKPerGroup handles groups smaller than k and k = 1") {
    val df = Seq((1L, 10L, 5L), (1L, 11L, 5L), (2L, 20L, 9L))
      .toDF("g", "id", "v")
    val k1 = Relational.topKPerGroup(df, Seq("g"), "v", "id", k = 1)
      .select("g", "rank", "id").as[(Long, Long, Long)].collect().toSet
    // tie at v=5 in group 1 → lower id wins rank 1
    assert(k1 == Set((1L, 1L, 10L), (2L, 1L, 20L)))
    val k5 = Relational.topKPerGroup(df, Seq("g"), "v", "id", k = 5)
    assert(k5.count() == 3) // no padding beyond the group's rows
    // k <= 0 must fail fast at the API, not NPE inside the aggregate
    intercept[IllegalArgumentException] {
      Relational.topKPerGroup(df, Seq("g"), "v", "id", k = 0)
    }
  }
}
