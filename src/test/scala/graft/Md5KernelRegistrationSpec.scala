package graft

import graft.pipeline.{PipelineOps, PipelineRelational}
import graft.streaming.{CdcChunkStream, LshPairsStream, WeightedReservoirStream}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.scalatest.funsuite.AnyFunSuite

/** The md5 row-hash kernels (`graft_md5h32` / `graft_md5h60`) are not Spark
  * built-ins: every caller that renders one registers it on its own
  * session (`GraftFunctions.registerMd5`). TestSpark injects them through
  * GraftExtensions, which would hide a missing registration, so each test
  * here runs on a `newSession()` with both kernels dropped from its
  * function registry, and compares the result with the injected
  * session's. */
class Md5KernelRegistrationSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"
  private lazy val spark = TestSpark.spark
  private val kernels = Seq("graft_md5h32", "graft_md5h60")

  private def resolves(s: SparkSession, k: String): Boolean =
    s.sessionState.functionRegistry.functionExists(FunctionIdentifier(k))

  /** A session without the kernels; the parent keeps its own copies. */
  private def bareSession(): SparkSession = {
    val s = spark.newSession()
    kernels.foreach(k => s.sessionState.functionRegistry.dropFunction(FunctionIdentifier(k)))
    kernels.foreach { k =>
      assert(!resolves(s, k), s"$k still resolves on the bare session")
      assert(resolves(spark, k), s"dropping $k on the bare session dropped the parent's")
    }
    s
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def docs(s: SparkSession): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  test("p01_dedup_exact and p73_cdc_chunks register the kernels on a bare session") {
    for (op <- Seq("p01_dedup_exact", "p73_cdc_chunks")) {
      val bare = bareSession()
      val got = rows(PipelineOps.queries(op)(bare, dir))
      kernels.foreach(k => assert(resolves(bare, k), s"$op left $k unregistered"))
      assert(got == rows(PipelineOps.queries(op)(spark, dir)), s"$op diverged")
    }
  }

  test("LshPairsStream resolves on a bare session and matches the injected session") {
    def pairs(s: SparkSession) = LshPairsStream.pairs(
      docs(s).withColumn("ts", F.expr("timestamp_seconds(1700000000 + doc_id)")),
      "text", "doc_id", "ts").collect().map(p => (p.ida, p.idb, p.band)).toSet
    val got = pairs(bareSession())
    assert(got.nonEmpty && got == pairs(spark))
  }

  test("CdcChunkStream.chunks registers on the active session") {
    def chunked(s: SparkSession) =
      rows(docs(s).select(F.col("doc_id"), CdcChunkStream.chunks("text")))
    val bare = bareSession()
    val prev = SparkSession.getActiveSession
    SparkSession.setActiveSession(bare)
    val got = try chunked(bare)
      finally prev.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
    assert(got == chunked(spark))
  }

  test("WeightedReservoirStream's key resolves on a bare session") {
    def picks(s: SparkSession) = rows(
      WeightedReservoirStream.weightedSampleByGroup(docs(s), "lang", "doc_id", "n_chars"))
    assert(picks(bareSession()) == picks(spark))
  }

  test("PipelineRelational texts compile on a bare session after registerKernels") {
    for (op <- Seq("p15_sample_stratified", "p73_cdc_chunks")) {
      def run(s: SparkSession) = {
        Graft.parquetCatalog(s, dir)("documents").createOrReplaceTempView("documents")
        PipelineRelational.registerKernels(s)
        rows(Graft.compileSession(PipelineRelational.prql(op), s))
      }
      val got = run(bareSession())
      assert(got.nonEmpty && got == run(spark), s"$op diverged")
    }
  }
}
