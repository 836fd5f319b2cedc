package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => F}

/** Streaming weighted sampling — the unbounded counterpart of the p46
  * A-ES weighted sample.
  *
  * A weighted sample without replacement over a stream is exactly the
  * A-ES reservoir: per group, keep the k smallest exponential race keys
  * -ln(u)/w seen SO FAR. The reservoir is the aggregation buffer of
  * [[graft.functions.GraftAesTopK]] — a capped sorted set, O(k) entries
  * per group in the state store FOREVER (the [[SketchStream]] contract:
  * state bounded by sketch size, not stream length). Partial reservoirs
  * merge associatively, and top-k(merge of top-ks) = top-k(all), so the
  * streamed selection after any prefix of micro-batches is IDENTICAL to
  * batch p46 over the rows fed so far — order- and batching-invariant,
  * which StreamingWeightedReservoirSpec asserts against the oracle-gated
  * p46 itself.
  *
  * The key is p46's deterministic hash uniform (md5-prefix family), so a
  * re-executed stream — or a re-fed row — selects the SAME sample: the
  * insert dedups identical (key, id, weight) triples, making re-ingest a
  * no-op (the p39 idempotence property, free from determinism).
  *
  * On a static DataFrame the same call degrades to a single-shuffle
  * map-side-partial top-k — no per-stratum sort anywhere, the aggregate
  * formulation's scale advantage over even the salted window.
  *
  * At feed scale: one shuffle on the group key per micro-batch, state is
  * |groups| × k entries, no driver action.
  */
object WeightedReservoirStream {

  /** p46's A-ES key: -ln((h+1)/2^32)/w over p46's 32-bit uniform
    * ([[graft.pipeline.PipelineOps.hSpark]]), so the stream NEVER selects
    * a different sample than batch. */
  def aesKey(idCol: String, weightCol: String): org.apache.spark.sql.Column = {
    val h = graft.pipeline.PipelineOps.hSpark(s"CAST($idCol AS STRING)")
    F.expr(s"-ln(($h + 1) / 4294967296.0) / CAST($weightCol AS DOUBLE)")
  }

  /** Per-group weighted top-k sample. Streaming input: complete/update-mode
    * aggregation, one O(k) reservoir per group in the state store, the
    * selection refines as batches arrive. Batch input: the p46 selection as
    * one map-side-partial aggregate. Output: (`groupCol`,
    * `picks` = array<struct<doc_id, weight, key_u>> in rank order). */
  def weightedSampleByGroup(docs: DataFrame, groupCol: String, idCol: String,
                            weightCol: String, k: Int = 8): DataFrame = {
    def requireCol(c: String): Unit =
      require(docs.columns.contains(c),
        s"weightedSampleByGroup: input is missing column '$c' (has: ${docs.columns.mkString(", ")})")
    requireCol(groupCol); requireCol(idCol); requireCol(weightCol)
    require(k >= 1, s"weightedSampleByGroup: k must be >= 1, got $k")
    graft.functions.GraftFunctions.registerAesTopK(docs.sparkSession, k)
    graft.functions.GraftFunctions.registerMd5(docs.sparkSession)
    // NULL id/weight rows are excluded — batch p46's explicit rule
    docs.where(F.col(idCol).isNotNull && F.col(weightCol).isNotNull)
      .select(F.col(groupCol),
        aesKey(idCol, weightCol).as("__aes_key"),
        F.col(idCol).cast("long").as("__aes_id"),
        F.col(weightCol).cast("long").as("__aes_w"))
      .groupBy(groupCol)
      .agg(F.expr("graft_aes_topk(__aes_key, __aes_id, __aes_w)").as("picks"))
  }
}
