package graft

import graft.streaming.LshPairsStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite

/** LshPairsStream: streaming MinHash-LSH candidate pairs (dedup-on-ingest,
  * p04's unbounded counterpart). Contracts proven here: (1) the streamed
  * pair set over shuffled uneven micro-batches equals the batch band
  * self-join replica when nothing evicts; (2) sig arithmetic matches
  * batch p04 — the stream's distinct candidate pairs at the default
  * agreement floor recover p04's true-Jaccard-verified pairs; (3) the
  * watermark horizon is real — a near-dup arriving past its partner's
  * eviction does not pair, the same pair inside the horizon does. */
class StreamingLshPairsSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"
  private lazy val spark = TestSpark.spark

  private def docsWithTs(n: Int) = {
    import org.apache.spark.sql.functions.col
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .where(col("doc_id") < n)
      .withColumn("ts", F.expr("timestamp_seconds(1700000000 + doc_id)"))
  }

  test("input validation: missing columns and bad minAgree are named errors") {
    import spark.implicits._
    val df = Seq((1L, "a b c d", new java.sql.Timestamp(0L))).toDF("doc_id", "text", "ts")
    val e1 = intercept[IllegalArgumentException](
      LshPairsStream.pairs(df, "body", "doc_id", "ts"))
    assert(e1.getMessage.contains("missing column 'body'"))
    val e2 = intercept[IllegalArgumentException](
      LshPairsStream.pairs(df, "text", "doc_id", "ts", minAgree = 17))
    assert(e2.getMessage.contains("minAgree"))
  }

  test("batch path recovers p04's verified pairs at the default agreement floor") {
    val batch = LshPairsStream.pairs(docsWithTs(Int.MaxValue), "text", "doc_id", "ts")
      .collect().map(p => (p.ida, p.idb)).toSet
    val p04 = graft.pipeline.PipelineOps.queries("p04_minhash_lsh")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p04.nonEmpty, "fixture corpus lost its near-dups")
    // 8/16 agreeing minhashes estimates jac >= 0.5 — p04's verify. The
    // estimator can disagree with true Jaccard near the threshold, but the
    // corpus and hashes are fixed, so this bound is deterministic.
    val recalled = p04.count(batch.contains)
    assert(recalled * 10 >= p04.size * 8,
      s"stream candidates recall ${recalled}/${p04.size} of p04's true pairs — below 0.8")
  }

  test("streamed over shuffled uneven batches == batch replica when nothing evicts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = docsWithTs(150)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2))).toSeq
    val expected = LshPairsStream.pairs(docsWithTs(150), "text", "doc_id", "ts")
      .collect().map(p => (p.band, p.ida, p.idb, p.n_agree)).sorted.toSeq
    // shuffled deterministically, split unevenly: arrival order within a
    // batch is free, and the horizon (1 year) out-spans every timestamp
    val shuffled = rows.sortBy(r => graft.functions.GraftMd5Util.h32(
      org.apache.spark.unsafe.types.UTF8String.fromString(r._1.toString)))
    val batches = Seq(shuffled.take(17), shuffled.slice(17, 110), shuffled.drop(110))
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val docs = in.toDS().toDF("doc_id", "text", "ts")
    val q = LshPairsStream.pairs(docs, "text", "doc_id", "ts", watermarkDelay = "365 days")
      .writeStream.format("memory").queryName("lsh_pairs_out")
      .outputMode("append").start()
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      val got = spark.table("lsh_pairs_out").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3))).sorted.toSeq
      assert(got == expected,
        s"streamed pair set diverged: ${got.length} vs ${expected.length} rows; " +
          s"first diff ${got.zip(expected).find(p => p._1 != p._2)}")
    } finally q.stop()
  }

  test("the horizon is real: a twin beyond eviction does not pair, inside it does") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val text = "the quick brown fox jumps over the lazy dog again and again today"
    def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000L)
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val docs = in.toDS().toDF("doc_id", "text", "ts")
    val q = LshPairsStream.pairs(docs, "text", "doc_id", "ts", watermarkDelay = "10 seconds")
      .writeStream.format("memory").queryName("lsh_pairs_evict")
      .outputMode("append").start()
    try {
      in.addData(Seq((1L, text, ts(0)))); q.processAllAvailable()
      // advance the watermark far past doc 1 (+1000s), then feed its twin:
      // doc 1's state is evicted, so the exact duplicate finds nobody
      in.addData(Seq((2L, "completely unrelated filler words marching forward", ts(1000))))
      q.processAllAvailable()
      in.addData(Seq((3L, text, ts(1001)))); q.processAllAvailable()
      assert(spark.table("lsh_pairs_evict").collect().isEmpty,
        "a twin past the horizon must NOT pair")
      // a second twin INSIDE the horizon pairs with doc 3 on every band
      in.addData(Seq((4L, text, ts(1002)))); q.processAllAvailable()
      val got = spark.table("lsh_pairs_evict").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getInt(3))).distinct
      assert(got.toSeq == Seq((3L, 4L, 16)),
        s"identical in-horizon twins must pair with full agreement, got ${got.toSeq}")
    } finally q.stop()
  }
}
