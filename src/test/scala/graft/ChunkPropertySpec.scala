package graft

import graft.pipeline.PipelineRelational
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property test for p36: over random corpora and random (window, stride)
  * geometries with stride <= window, the chunker (p36's PRQL template,
  * compiled by the front end) equals a Scala brute-force sliding-window
  * reference — chunk count, indices, token counts, and content hashes.
  * Fixed seeds, like PackingPropertySpec (no scalatestplus bridge
  * offline). */
class ChunkPropertySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private case class Case(docs: Seq[(Long, Seq[String])], w: Int, st: Int)

  private val caseGen: Gen[Case] = for {
    n <- Gen.choose(3, 25)
    lens <- Gen.listOfN(n, Gen.choose(1, 150))
    w <- Gen.choose(1, 64)
    st <- Gen.choose(1, math.max(1, w))
  } yield {
    val docs = lens.zipWithIndex.map { case (len, i) =>
      // distinct-ish tokens so chunk hashes actually vary
      (i.toLong, (0 until len).map(j => s"t${(i * 31 + j * 7) % 97}"))
    }
    Case(docs, w, st)
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The specification: starts at 0, st, 2st, … while start < max(n, 1);
    * each chunk is tokens[start, start+w). */
  private def bruteForce(docs: Seq[(Long, Seq[String])], w: Int, st: Int)
      : Seq[(Long, Long, Long, String)] =
    docs.sortBy(_._1).flatMap { case (id, toks) =>
      val n = math.max(toks.length, 1)
      (0 until n by st).zipWithIndex.map { case (start, idx) =>
        val chunk = toks.slice(start, start + w)
        (id, idx.toLong, chunk.length.toLong, md5hex(chunk.mkString(" ")))
      }
    }

  for (seedVal <- Seq(11L, 22L, 33L, 44L, 55L)) {
    test(s"SQL chunker == brute-force sliding windows (seed $seedVal)") {
      import spark.implicits._
      val Case(docs, w, st) = caseGen.pureApply(Gen.Parameters.default, Seed(seedVal))
      docs.map { case (id, toks) => (id, toks.mkString(" ")) }
        .toDF("doc_id", "text").createOrReplaceTempView("documents")
      val got = Graft.compileSession(PipelineRelational.p36(w, st), spark).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
      val expected = bruteForce(docs, w, st)
      assert(got == expected, s"seed $seedVal w=$w st=$st")
    }
  }
}
