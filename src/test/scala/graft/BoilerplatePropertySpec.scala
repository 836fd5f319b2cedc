package graft

import graft.pipeline.PipelineOps
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property test for p47: over random corpora drawn from a TINY vocabulary
  * (so leading-words lines collide across documents with varying natural
  * frequencies, beyond the planted footer/promo fixtures) and random df
  * thresholds, the SQL boilerplate stripper equals a Scala brute-force
  * reference — per-document removal counts and the md5 checksum of the
  * surviving lines. Fixed seeds, like ChunkPropertySpec. */
class BoilerplatePropertySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private case class Case(docs: Seq[(Long, String)], dfMin: Int)

  private val caseGen: Gen[Case] = for {
    n <- Gen.choose(8, 60)
    // vocabulary of 5 tokens => only 5^6 leading-line shapes, but short
    // docs (< 6 words) produce shorter leading lines that collide HARD
    lens <- Gen.listOfN(n, Gen.choose(1, 9))
    seeds <- Gen.listOfN(n, Gen.choose(0, 4))
    dfMin <- Gen.choose(2, 25)
  } yield {
    val docs = lens.zip(seeds).zipWithIndex.map { case ((len, s), i) =>
      val words = (0 until len).map(j => s"w${(s + j) % 5}")
      (i.toLong, words.mkString(" "))
    }
    Case(docs, dfMin)
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The specification: p47's four constructed lines per document, df =
    * distinct-document frequency per line, strip lines with df >= dfMin. */
  private def bruteForce(docs: Seq[(Long, String)], dfMin: Int)
      : Seq[(Long, Long, Long, String)] = {
    def linesOf(id: Long, text: String): Seq[String] = Seq(
      text.trim.split("\\s+").take(6).mkString(" "),
      "copyright acme corp all rights reserved",
      s"promo code ${id % 7}",
      s"ref $id")
    val df = docs.flatMap { case (id, t) => linesOf(id, t).distinct.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
    docs.sortBy(_._1).map { case (id, t) =>
      val ls = linesOf(id, t)
      val kept = ls.filterNot(l => df(l) >= dfMin)
      (id, ls.length.toLong, (ls.length - kept.length).toLong,
        md5hex(kept.mkString("\n")))
    }
  }

  for (seedVal <- Seq(7L, 19L, 42L, 77L, 101L)) {
    test(s"SQL boilerplate stripper == brute-force df reference (seed $seedVal)") {
      import spark.implicits._
      val Case(docs, dfMin) = caseGen.pureApply(Gen.Parameters.default, Seed(seedVal))
      PipelineOps.gateFixture("p47_boilerplate_lines")(docs.toDF("doc_id", "text"))("documents")
        .createOrReplaceTempView("documents")
      val got = spark.sql(PipelineOps.p47Spark(dfMin)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
      val expected = bruteForce(docs, dfMin)
      assert(got == expected, s"seed $seedVal dfMin=$dfMin")
    }
  }
}
