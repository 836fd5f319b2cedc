package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => F}

/** Streaming distinct-count — the unbounded counterpart of the p35 KMV
  * sketch operator.
  *
  * Exact distinct counting on a stream is inherently unbounded-state
  * (every seen key must be remembered forever), which is why Spark
  * REFUSES `count(DISTINCT …)` in a streaming aggregation outright
  * (AnalysisException — StreamingSketchSpec pins that refusal as
  * documentation). The KMV sketch is what makes the operation feasible:
  * per-group state is the aggregation buffer of [[graft.functions.GraftKmv]]
  * — a capped sorted set of at most k 32-bit hash minima, O(k) longs per
  * group FOREVER, independent of stream length. Each micro-batch's
  * partial sketches merge into the state-store buffer with the same
  * associative merge the batch exchange uses, so the streamed estimate
  * after any prefix of micro-batches is IDENTICAL to the batch estimate
  * over the union of rows fed so far — the sketch is a deterministic
  * function of the distinct hash SET (order- and batching-invariant),
  * which the spec asserts against the batch operator on the same rows.
  *
  * No watermark is needed or used: the state key space is the GROUP set
  * (languages, sources — domain-bounded), not the document space, and
  * per-group state cannot grow past k. This is the state contract flip
  * side of [[DedupStream]]: dedup bounds state by TIME (watermark
  * eviction), distinct-count bounds it by SKETCH SIZE.
  *
  * On a static DataFrame the same call degrades to the batch aggregate —
  * per-group `graft_kmv`, the p35 estimator column.
  *
  * At 100 TB feed scale: one shuffle on the group key per micro-batch,
  * map-side partial sketches before it, state store holds |groups| × k
  * longs; no driver action anywhere.
  */
object SketchStream {

  /** Per-group distinct-count estimate of `textCol` values. Streaming
    * input: update-mode aggregation, one O(k) sketch per group in the
    * state store, estimate refines as batches arrive. Batch input: the
    * p35 aggregate. Output: (`groupCol`, `kmv_est`). */
  def kmvDistinctByGroup(docs: DataFrame, groupCol: String, textCol: String,
                         k: Int = 64): DataFrame = {
    def requireCol(c: String): Unit =
      require(docs.columns.contains(c),
        s"kmvDistinctByGroup: input is missing column '$c' (has: ${docs.columns.mkString(", ")})")
    requireCol(groupCol); requireCol(textCol)
    require(k >= 2, s"kmvDistinctByGroup: k must be >= 2, got $k")
    graft.functions.GraftFunctions.registerKmv(docs.sparkSession, k)
    graft.functions.GraftFunctions.registerMd5(docs.sparkSession)
    // p35's 32-bit hash of the sketched column (the engine-portable hash
    // that makes the sketch deterministic)
    docs.select(F.col(groupCol),
        F.expr(graft.pipeline.PipelineOps.hSpark(textCol)).as("__kmv_h"))
      .groupBy(groupCol)
      .agg(F.expr("graft_kmv(__kmv_h)").as("kmv_est"))
  }
}
