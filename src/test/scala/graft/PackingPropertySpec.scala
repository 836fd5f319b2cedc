package graft

import graft.pipeline.PipelineRelational
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property test for p23: over random corpora — GAPPY doc_ids (chunks of
  * wildly uneven fill, including empty chunk ranges) and random document
  * lengths — the two-level distributed prefix sum equals a Scala
  * brute-force global cumsum for RANDOM chunk sizes. Fixed seeds, like
  * DecontamChunkedPropertySpec (no scalatestplus bridge offline). */
class PackingPropertySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private case class Corpus(docs: Seq[(Long, Int)], chunkDocs: Long) // (doc_id, n_tokens)

  private val corpusGen: Gen[Corpus] = for {
    n <- Gen.choose(5, 60)
    gaps <- Gen.listOfN(n, Gen.choose(1L, 40L)) // sparse, uneven ids
    toks <- Gen.listOfN(n, Gen.choose(1, 120))
    chunk <- Gen.choose(1L, 200L)
  } yield {
    val ids = gaps.scanLeft(0L)(_ + _).tail
    Corpus(ids.zip(toks), chunk)
  }

  /** The specification: global concat order by doc_id, running offset,
    * floor-division window assignment, per-start-bin rollup. */
  private def bruteForce(docs: Seq[(Long, Int)], w: Long): Seq[(Long, Long, Long, Long, Long, Long)] = {
    val sorted = docs.sortBy(_._1)
    var off = 0L
    val rows = sorted.map { case (id, tok) =>
      val r = (id, tok.toLong, off)
      off += tok
      r
    }
    rows.groupBy { case (_, tok, o) => o / w }.toSeq.sortBy(_._1).map {
      case (bin, members) =>
        val straddle = members.count { case (_, tok, o) => (o + tok - 1) / w != bin }
        (bin, members.size.toLong, members.map(_._2).sum, straddle.toLong,
          members.map(_._1).min, members.map(_._1).max)
    }
  }

  for (seedVal <- Seq(101L, 202L, 303L, 404L, 505L)) {
    test(s"distributed prefix sum == global cumsum on a gappy corpus (seed $seedVal)") {
      import spark.implicits._
      val Corpus(docs, chunk) = corpusGen.pureApply(Gen.Parameters.default, Seed(seedVal))
      val expected = bruteForce(docs, 256L)
      docs.map { case (id, tok) => (id, Seq.fill(tok)("w").mkString(" ")) }
        .toDF("doc_id", "text").createOrReplaceTempView("documents")
      val got = Graft.compileSession(PipelineRelational.p23(chunk), spark).collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
      assert(got == expected,
        s"seed $seedVal chunkDocs=$chunk:\n got   $got\n expect $expected")
    }
  }
}
