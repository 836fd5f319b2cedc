package graft

import graft.streaming.BoundaryOverlapStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite

/** Streaming boundary-overlap (VERDICT r9 #8): the batch degradation must
  * be row-identical to batch p69 (plant off) on the same relation, the
  * streamed pairs must match in BOTH arrival orders, state must evict past
  * the watermark on both sides, and the exact-text verify must hold. */
class StreamingBoundaryOverlapSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def ws(tag: String, a: Int, b: Int) =
    (a to b).map(i => s"$tag$i").mkString(" ")

  // A = a1..a12; B continues A (prefix = A's last 8 = a5..a12); C unrelated
  private val textA = ws("a", 1, 12)
  private val textB = ws("a", 5, 12) + " " + ws("b", 1, 3)
  private val textC = ws("c", 1, 12)
  private val sfxA = ws("a", 5, 12)

  private def md5hex(s: String) = {
    val d = java.security.MessageDigest.getInstance("MD5")
    d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  private def batchDocs = {
    import spark.implicits._
    Seq((1L, textA), (2L, textB), (3L, textC),
      // exactly-8-word doc: prefix == suffix == whole text — must NOT
      // stitch to itself (the batch join's doc_id exclusion)
      (4L, ws("d", 1, 8)))
      .toDF("doc_id", "text")
      .withColumn("ts", F.timestamp_micros(F.lit(0L)))
  }

  test("batch path equals batch p69 (plant off) on the same relation; sig is the family hash") {
    val got = BoundaryOverlapStream.pairs(batchDocs, "text", "doc_id", "ts")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got == Set((1L, 2L, md5hex(sfxA))), s"got $got")
    batchDocs.select("doc_id", "text").createOrReplaceTempView("documents")
    spark.conf.set("spark.graft.plantFixtures", "false")
    try {
      val p69 = pipeline.PipelineOps.queries("p69_boundary_overlap")(spark, "unused")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(got == p69, s"stream batch path $got != batch p69 $p69")
    } finally spark.conf.unset("spark.graft.plantFixtures")
  }

  import StreamingBoundaryOverlapSpec.D

  test("streamed stitches pair in both arrival orders and evict state past the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val m = 60L * 1000000 // one minute in µs
    val B = 1000 * m
    val in = MemoryStream[D]
    val docs = in.toDS()
      .select($"doc_id", $"text", F.timestamp_micros($"tus").as("ts"))
    val q = BoundaryOverlapStream.pairs(docs, "text", "doc_id", "ts", "5 minutes")
      .writeStream.format("memory").queryName("bo_out").outputMode("append")
      .start()
    try {
      def rows = spark.table("bo_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // suffix first, prefix second (the natural crawl order)
      in.addData(D(1, textA, B))
      q.processAllAvailable()
      assert(rows.isEmpty, s"one-sided gram must not pair, got $rows")
      in.addData(D(2, textB, B + m))
      q.processAllAvailable()
      assert(rows == Set((1L, 2L)), s"got $rows")
      // prefix first, suffix second — the stream must pair the reverse
      // arrival order too (the batch join is order-free)
      in.addData(D(11, ws("x", 5, 12) + " tail words here", B + m))
      q.processAllAvailable()
      in.addData(D(10, ws("x", 1, 12), B + 2 * m))
      q.processAllAvailable()
      assert(rows == Set((1L, 2L), (10L, 11L)), s"got $rows")
      // advance the watermark far past the horizon (evicts all residents),
      // then present a continuation of doc 1: its suffix is gone — no pair
      in.addData(D(99, ws("z", 1, 12), B + 120 * m))
      q.processAllAvailable()
      in.addData(D(12, sfxA + " late continuation arrives", B + 121 * m))
      q.processAllAvailable()
      assert(rows == Set((1L, 2L), (10L, 11L)),
        s"evicted suffix must not pair, got $rows")
      // ...but a fresh suffix re-admits: doc 13 re-supplies A's text inside
      // the new horizon and stitches to ANOTHER fresh continuation
      in.addData(D(13, textA, B + 122 * m))
      q.processAllAvailable()
      in.addData(D(14, sfxA + " second continuation text", B + 123 * m))
      q.processAllAvailable()
      assert(rows.contains((13L, 14L)), s"post-eviction re-admit failed, got $rows")
      // doc 12's prefix (= sfxA) was still in horizon when 13 arrived:
      // 13→12 is a TRUE stitch the stream must also have found
      assert(rows.contains((13L, 12L)), s"in-horizon reverse pair missed, got $rows")
    } finally q.stop()
  }

  test("hot gram key: resident list is capped at the cap-lowest doc_ids per side (ADVICE r10)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val m = 60L * 1000000
    val B = 1000 * m
    spark.conf.set("spark.graft.boundaryResidentCap", "2")
    val in = MemoryStream[D]
    val docs = in.toDS()
      .select($"doc_id", $"text", F.timestamp_micros($"tus").as("ts"))
    val q = BoundaryOverlapStream.pairs(docs, "text", "doc_id", "ts", "5 minutes")
      .writeStream.format("memory").queryName("bo_cap_out").outputMode("append")
      .start()
    try {
      // four boilerplate documents share ONE suffix gram; with cap=2 only
      // the two lowest doc_ids stay resident — deterministic in the
      // horizon set, not in arrival order (the SimPairBucketCap rule)
      in.addData(D(24, textA, B), D(21, textA, B), D(23, textA, B), D(22, textA, B))
      q.processAllAvailable()
      in.addData(D(30, textB, B + m))
      q.processAllAvailable()
      val rows = spark.table("bo_cap_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows == Set((21L, 30L), (22L, 30L)),
        s"cap=2 must keep exactly the two lowest suffix residents, got $rows")
    } finally {
      q.stop()
      spark.conf.unset("spark.graft.boundaryResidentCap")
    }
  }

  test("input validation: missing columns are named errors") {
    val e = intercept[IllegalArgumentException](
      BoundaryOverlapStream.pairs(batchDocs.drop("ts"), "text", "doc_id", "ts"))
    assert(e.getMessage.contains("missing column 'ts'"))
  }
}

object StreamingBoundaryOverlapSpec {
  final case class D(doc_id: Long, text: String, tus: Long)
}
