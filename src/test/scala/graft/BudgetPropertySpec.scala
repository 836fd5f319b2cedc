package graft

import graft.pipeline.PipelineRelational
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property test for p44: over random corpora (random languages, token
  * counts, doc ids) and random budgets, the running-sum funnel (p44's
  * PRQL template, compiled by the front end) equals a Scala brute-force
  * greedy prefix in the same md5-hash order. Fixed seeds, same offline
  * pattern as the other property specs. */
class BudgetPropertySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private case class Corpus(docs: Seq[(Long, String, Int)], budget: Long)

  private val gen: Gen[Corpus] = for {
    n <- Gen.choose(5, 80)
    langs <- Gen.listOfN(n, Gen.oneOf("aa", "bb", "cc"))
    toks <- Gen.listOfN(n, Gen.choose(1, 40))
    budget <- Gen.choose(5L, 300L)
  } yield Corpus(langs.zip(toks).zipWithIndex.map { case ((l, t), i) => (i.toLong, l, t) }, budget)

  /** The hash-rank key the operator uses at its md5 default. */
  private def hk(id: Long): Long =
    java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString, 16)

  private def brute(docs: Seq[(Long, String, Int)], b: Long)
      : Seq[(String, Long, Long, Long, Long, Long)] =
    docs.groupBy(_._2).toSeq.sortBy(_._1).map { case (lang, ds) =>
      val ordered = ds.sortBy { case (id, _, _) => (hk(id), id) }
      var cum = 0L
      var kept = 0L; var tokKept = 0L; var idSum = 0L
      ordered.foreach { case (id, _, n) =>
        cum += n
        if (cum <= b) { kept += 1; tokKept += n; idSum += id }
      }
      (lang, ds.size.toLong, ds.map(_._3.toLong).sum, kept, tokKept, idSum)
    }

  for (seedVal <- Seq(13L, 29L, 47L, 61L, 83L)) {
    test(s"SQL budget funnel == brute-force greedy prefix (seed $seedVal)") {
      import spark.implicits._
      val Corpus(docs, budget) = gen.pureApply(Gen.Parameters.default, Seed(seedVal))
      docs.map { case (id, lang, t) => (id, lang, Seq.fill(t)("w").mkString(" ")) }
        .toDF("doc_id", "lang", "text").createOrReplaceTempView("documents")
      val got = Graft.compileSession(PipelineRelational.p44(budget), spark).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSeq
      val expected = brute(docs, budget)
      assert(got == expected, s"seed $seedVal budget=$budget")
    }
  }
}
