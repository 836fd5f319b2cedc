package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}

/** Streaming content-defined-chunk novelty — the unbounded counterpart of
  * the p73 batch operator. Each arriving document is chunked MAP-SIDE by
  * p73's boundary rule (a chunk ends after any word whose 60-bit md5 ≡ 0
  * mod [[graft.pipeline.PipelineOps.CdcDivisor]] — boundaries depend only
  * on local content, so a re-crawled page with an inserted paragraph still
  * produces the same chunks after the edit point), and the stream keeps
  * the FIRST arrival of each chunk signature within the watermark horizon:
  * the novel-content feed an incremental-ingest pipeline trains on, with
  * recurring boilerplate runs suppressed at CHUNK granularity (p63 needs
  * author paragraph breaks; this does not).
  *
  * State contract (the DedupStream rule): `dropDuplicatesWithinWatermark`
  * holds one entry per distinct chunk signature inside the horizon and
  * evicts past it — state is O(distinct chunks within the horizon),
  * independent of stream length. A chunk recurring after eviction is
  * re-admitted (exact-once within the horizon, at-least-once beyond — a
  * little redundancy, never lost content). On a static DataFrame the same
  * function degrades to `dropDuplicates(chunk_sig)`.
  *
  * At 100 TB feed scale: the chunking fold is one sequential pass per
  * document inside the ingest projection (no shuffle, no explode until
  * the chunk rows — ~n/D of the word count); the dedup is one shuffle on
  * the signature with watermark-driven state cleanup in the state store.
  */
object CdcChunkStream {

  private def divisor: Int = graft.pipeline.PipelineOps.CdcDivisor

  /** Array of CDC chunks of `textCol` — ONE sequential fold per document
    * (no explode, no window), chunk-identical to p73's posexplode+window
    * formulation: same tokenization, same 60-bit boundary rule, same
    * space-joined chunk text. The batch operator keeps
    * the window form because its corpus-wide rollup wants the positional
    * rows anyway; the stream wants the fold because ingest has no
    * business shuffling. The boundary key's kernel is registered on the
    * ACTIVE session (loud if none), the one a bare Column resolves in. */
  def chunks(textCol: String): Column = {
    graft.functions.GraftFunctions.registerMd5(org.apache.spark.sql.SparkSession.active)
    // p73's hKeySpark rule, so the boundary set matches batch
    val bkey = graft.pipeline.PipelineOps.hKeySpark("zw")
    // LINEAR formulation (r14, found by StreamingWideRowSpec's 10^6-token
    // monster): the original aggregate() fold array_append-ed each closed
    // chunk onto the accumulator — an immutable-array COPY per boundary,
    // O(chunks²) per document (~125k chunks at divisor 8 made one wide doc
    // effectively hang ingest; executor stacks sat in GenericArrayData
    // .copy). Rewritten as: boundary positions in one indexed transform,
    // then ONE slice per chunk — every word is copied into exactly one
    // chunk, total work linear in tokens. The nested transform(array(x),
    // v -> ...) wrappers are LET bindings: they bind the word array and
    // the ends array as lambda variables (O(1) access inside the inner
    // lambdas), where a repeated subexpression would re-evaluate per
    // element and go quadratic again. Chunk text is byte-identical to the
    // fold's (boundary word CLOSES its chunk, trailing partial chunk
    // flushed, space-joined) — StreamingCdcChunkSpec pins equality with
    // batch p73.
    F.expr(
      s"""element_at(transform(array(filter(split(trim($textCol), '\\\\s+'), w -> w != '')), zws ->
        element_at(transform(array(
            element_at(transform(array(
                filter(transform(zws, (zw, zi) -> IF($bkey % $divisor = 0, zi + 1, 0)), zp -> zp > 0)
              ), zpos ->
              CASE WHEN size(zws) = 0 THEN CAST(array() AS ARRAY<INT>)
                   WHEN size(zpos) > 0 AND element_at(zpos, -1) = size(zws) THEN zpos
                   ELSE concat(zpos, array(size(zws))) END), 1)
          ), zes ->
          IF(size(zes) = 0, CAST(array() AS ARRAY<STRING>),
            transform(sequence(1, size(zes)), zj -> array_join(slice(zws,
              IF(zj = 1, 1, element_at(zes, zj - 1) + 1),
              element_at(zes, zj) - IF(zj = 1, 0, element_at(zes, zj - 1))), ' ')))
        ), 1)
      ), 1)""")
  }

  /** Emit the first arrival of every distinct chunk. `docs` must carry
    * `textCol` and an event-time `tsCol`. Output = input columns minus the
    * text, plus `chunk` and `chunk_sig` (one row per novel chunk).
    * Streaming input: first arrival per signature within the watermark
    * horizon wins, state evicts past it. Batch input: one representative
    * per distinct chunk. */
  def novelChunks(docs: DataFrame, textCol: String, tsCol: String,
                  watermarkDelay: String): DataFrame = {
    def requireCol(c: String): Unit =
      require(docs.columns.contains(c),
        s"novelChunks: input is missing column '$c' (has: ${docs.columns.mkString(", ")})")
    requireCol(textCol); requireCol(tsCol)
    require(!docs.columns.contains("chunk") && !docs.columns.contains("chunk_sig"),
      "novelChunks: input already has a 'chunk'/'chunk_sig' column; rename it")
    // boundary rule and signature are p73's (the LshPairsStream rule:
    // streamed chunks must agree with batch p73)
    graft.functions.GraftFunctions.registerMd5(docs.sparkSession)
    val chunked = docs
      .withColumn("chunk", F.explode(chunks(textCol)))
      .withColumn("chunk_sig", F.expr(graft.pipeline.PipelineOps.hStrSpark("chunk")))
      .drop(textCol)
    if (docs.isStreaming)
      chunked.withWatermark(tsCol, watermarkDelay)
        .dropDuplicatesWithinWatermark("chunk_sig")
    else chunked.dropDuplicates("chunk_sig")
  }
}
