package graft.streaming

import graft.pipeline.PipelineOps
import org.apache.spark.sql.{DataFrame, functions => F}

/** Streaming decontamination — the unbounded counterpart of batch p21
  * (VERDICT r8 #5): flag in-flight training documents sharing any
  * 8-gram with a benchmark/eval corpus, ON INGEST, before they ever
  * land in the training mix.
  *
  * The interesting property vs the other streams: this one is
  * STATELESS. The eval-gram set is fixed per run (benchmarks don't
  * grow with the corpus — p21's broadcast contract), so flagging is a
  * pure map-side projection + filter per arriving row: no
  * flatMapGroupsWithState, no watermark, no eviction proof needed.
  * The state contract is `state = none`; batch equivalence is exact by
  * construction and the spec proves it over uneven MemoryStream
  * batches anyway.
  *
  * Gram semantics are SHARED with the batch operator
  * ([[PipelineOps.decontamWordHashExpr]] / [[PipelineOps.decontamGramExpr]]
  * — md5-once word hashes folded by the paired 31/37 polynomials), so a
  * document flags on the stream iff it flags in the batch screen.
  *
  * The eval-gram set rides as one array literal in the plan (the p21
  * single-array broadcast shape — fine for real benchmark suites, ≤ a
  * few 10^5 grams). A production-scale BLOCKLIST (10^8 grams) should
  * not be a literal; that regime belongs to the batch chunked path
  * (`spark.graft.decontamBuckets`) or a stream-static bucket join, the
  * same boundary p21's scaladoc draws for the batch fast path.
  */
object DecontamStream {

  /** Flag streaming (or batch) `docs` whose text shares >= 1 8-gram with
    * the STATIC `evalDocs` corpus. Output: (idCol, n_shared_grams) for
    * flagged documents only — p21's output contract. */
  def flag(docs: DataFrame, evalDocs: DataFrame,
           textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(!evalDocs.isStreaming,
      "DecontamStream.flag: evalDocs must be a static (batch) relation — " +
        "the eval set is fixed per run; re-run the job to pick up a new benchmark suite")
    def requireCol(df: DataFrame, c: String, side: String): Unit =
      require(df.columns.contains(c),
        s"DecontamStream.flag: $side is missing column '$c' (has: ${df.columns.mkString(", ")})")
    requireCol(docs, textCol, "docs"); requireCol(docs, idCol, "docs")
    requireCol(evalDocs, textCol, "evalDocs")
    val spark = docs.sparkSession
    graft.functions.GraftFunctions.registerMd5(spark)
    val minW = PipelineOps.decontamMinWords
    // one bounded driver-side action over the SMALL side only (the
    // sanctioned class: eval suites are fixed-size; the corpus never
    // collects) — sorted for a deterministic plan literal
    // the boundary the scaladoc draws (2^22 grams = 32 MB of plan
    // literal, well past any benchmark suite) is enforced ON THE ACTION:
    // the LIMIT bounds what the driver ever materializes, so a
    // blocklist-sized eval set fails fast instead of OOMing the driver
    // during an unbounded collect
    val GramCap = 1 << 22
    val earr: Array[Long] = evalDocs
      .select(F.expr(PipelineOps.decontamWordHashExpr(textCol)).as("hw"))
      .where(s"size(hw) >= $minW")
      .select(F.explode(F.expr(PipelineOps.decontamGramExpr("hw"))).as("g"))
      .distinct()
      .limit(GramCap + 1)
      .collect().map(_.getLong(0)).sorted
    require(earr.length <= GramCap,
      s"DecontamStream.flag: the eval set exceeds $GramCap distinct grams " +
        "(the plan-literal boundary). This is a blocklist, not a benchmark " +
        "suite - use batch p21's chunked path (spark.graft.decontamBuckets) " +
        "or a stream-static bucket join instead")
    docs
      .withColumn("hw", F.expr(PipelineOps.decontamWordHashExpr(textCol)))
      .where(s"size(hw) >= $minW")
      .withColumn("gs", F.expr(PipelineOps.decontamGramExpr("hw")))
      .withColumn("earr", F.typedLit(earr.toSeq))
      .where("arrays_overlap(gs, earr)")
      .select(F.col(idCol),
        F.expr("CAST(size(array_intersect(gs, earr)) AS BIGINT)").as("n_shared_grams"))
  }
}
