package graft

import graft.streaming.CdcChunkStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite

/** Streaming CDC chunk novelty: the fold-based chunking must be
  * chunk-identical to p73's posexplode+window formulation (same boundary
  * rule, same chunk text), the batch path must keep exactly the distinct
  * chunk set, and a MemoryStream drive proves in-horizon chunk-level
  * suppression plus watermark-driven state eviction — the bounded-state
  * property that keeps the operator viable on an unbounded feed. */
class StreamingCdcChunkSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"
  private lazy val spark = TestSpark.spark

  private def md5hex(s: String) = {
    val d = java.security.MessageDigest.getInstance("MD5")
    d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }
  private def h60(s: String) = java.lang.Long.parseLong(md5hex(s).take(15), 16)
  private def chunksOf(t: String): Seq[String] = {
    val ws = t.trim.split("\\s+").toSeq.filter(_.nonEmpty)
    val out = Seq.newBuilder[String]
    var cur = Vector.empty[String]
    ws.foreach { w =>
      cur :+= w
      if (h60(w) % graft.pipeline.PipelineOps.CdcDivisor == 0) {
        out += cur.mkString(" "); cur = Vector.empty
      }
    }
    if (cur.nonEmpty) out += cur.mkString(" ")
    out.result()
  }

  test("the chunking fold equals the JVM reference (and therefore p73's chunking)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    val got = spark.read.parquet(s"$dir/documents.parquet")
      .select(F.col("doc_id"), CdcChunkStream.chunks("text").as("cs")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
    docs.foreach { case (id, t) =>
      assert(got(id) == chunksOf(t), s"doc $id chunk sequence diverges from the fold")
    }
  }

  test("batch path: kept signature set is the distinct chunk set; p73's dups are inside it") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("ts", F.timestamp_micros(F.lit(0L)))
    val kept = CdcChunkStream.novelChunks(docs, "text", "ts", "10 seconds")
    val keptSigs = kept.select("chunk_sig").collect().map(_.getString(0)).toSet
    val allSigs = spark.read.parquet(s"$dir/documents.parquet")
      .select(F.explode(CdcChunkStream.chunks("text")).as("c"))
      .select(F.md5(F.col("c"))).distinct().collect().map(_.getString(0)).toSet
    assert(keptSigs == allSigs, "one representative per distinct chunk")
    val p73Sigs = pipeline.PipelineOps.queries("p73_cdc_chunks")(spark, dir)
      .select("chunk_sig").collect().map(_.getString(0)).toSet
    assert(p73Sigs.subsetOf(keptSigs), "p73's dup chunks are a subset of all chunks")
  }

  test("input validation: missing columns and chunk column clash are named errors") {
    import spark.implicits._
    val df = Seq((1L, "a b", java.sql.Timestamp.valueOf("2022-01-01 00:00:00")))
      .toDF("doc_id", "text", "ts")
    val e1 = intercept[IllegalArgumentException](
      CdcChunkStream.novelChunks(df.drop("ts"), "text", "ts", "10 seconds"))
    assert(e1.getMessage.contains("missing column 'ts'"))
    val e2 = intercept[IllegalArgumentException](
      CdcChunkStream.novelChunks(df.withColumn("chunk_sig", F.lit("x")),
        "text", "ts", "10 seconds"))
    assert(e2.getMessage.contains("chunk_sig"))
  }

  import StreamingCdcChunkSpec.D

  test("streamed chunks suppress in-horizon recurrences and evict state past the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val m = 60L * 1000000 // one minute in µs
    val in = MemoryStream[D]
    val docs = in.toDS()
      .select($"doc_id", $"text", F.timestamp_micros($"tus").as("ts"))
    val q = CdcChunkStream.novelChunks(docs, "text", "ts", "5 minutes")
      .writeStream.format("memory").queryName("cdc_out").outputMode("append")
      .start()
    try {
      val B = 1000 * m
      // 'merge' and 'order' are boundary words (h60 % 8 == 0) — doc X =
      // [alpha merge][beta] and doc Y = [gamma merge][beta]: the two docs
      // SHARE chunk "beta" but differ in their first chunk
      def rows = spark.table("cdc_out").collect()
        .map(r => (r.getLong(0), r.getString(2))).toSet
      in.addData(D(1, "alpha merge beta", B))
      q.processAllAvailable()
      assert(rows == Set((1L, "alpha merge"), (1L, "beta")), s"got $rows")
      // doc 2 shares "beta": only its novel first chunk may pass
      in.addData(D(2, "gamma merge beta", B + m))
      q.processAllAvailable()
      assert(rows == Set((1L, "alpha merge"), (1L, "beta"), (2L, "gamma merge")),
        s"in-horizon shared chunk must be suppressed, got $rows")
      // advance the watermark far past the horizon, evicting all state
      in.addData(D(3, "delta merge", B + 120 * m))
      q.processAllAvailable()
      // "beta" recurs after eviction: re-admitted (the bounded-state trade)
      in.addData(D(4, "beta", B + 121 * m))
      q.processAllAvailable()
      assert(rows.contains((4L, "beta")),
        s"post-eviction chunk must re-admit, got $rows")
    } finally q.stop()
  }
}

object StreamingCdcChunkSpec {
  final case class D(doc_id: Long, text: String, tus: Long)
}
