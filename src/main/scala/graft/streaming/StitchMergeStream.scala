package graft.streaming

import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{DataFrame, Row}

/** Streaming boundary-stitch merge — batch p76 behind a `foreachBatch`
  * consumer of [[BoundaryOverlapStream]]'s pair output (VERDICT r10 #4:
  * p76 was the one r10 operator whose upstream had a stream but which
  * itself had none; the stitch pair is precisely what a crawl-ingest
  * pipeline wants repaired on arrival).
  *
  * Shape: the docs stream feeds BoundaryOverlapStream's per-gram-key
  * pairing state (same horizon and caps); each micro-batch
  * of completed stitch pairs then joins back to `docStore` — the
  * batch-readable view of the ingested corpus (the sink this same
  * pipeline writes) — and [[graft.pipeline.PipelineOps.p76MergeOn]]
  * applies p76's EXACT tie gate and merge arithmetic within the batch.
  * The merged text never ships: output is (a_id, b_id, merged_sig,
  * merged_words), p76's checksum discipline.
  *
  * CROSS-BATCH TIE SEMANTICS (the documented divergence from batch p76,
  * the DedupStream trade): batch p76 picks each doc's global minimum
  * continuation / predecessor; a stream cannot wait for a better partner,
  * so FIRST-SEEN WINS WITHIN THE HORIZON — an endpoint claimed by an
  * earlier micro-batch is excluded from later gates (the claim filter
  * runs BEFORE the double-rank, so a claimed endpoint no longer blocks
  * new contenders), and claims EXPIRE once the claim horizon passes
  * (mirroring the pairing state's eviction: past the horizon the same
  * page re-presented may stitch again, exactly as BoundaryOverlapStream
  * re-admits). Within one micro-batch the gate is p76's simultaneous
  * double-rank — deterministic, not arrival-ordered.
  *
  * Driver-state contract: the claim table and the store-lag retry buffer
  * live on the driver — O(merges within the claim horizon) entries of
  * (id → last ts) plus a loudly-capped (pair → ts) pending set, the
  * same bounded class as DecontamStream's capped eval-gram collect; the
  * per-batch `collect()` is the merge OUTPUT (o(batch pairs) after the
  * gate), which the driver must see anyway to update claims. A
  * production deployment at larger merge rates would move the claim into
  * a state-store stage; the semantics documented here are what that
  * stage must preserve. */
object StitchMergeStream {

  private val PairsView = "graft_sm_pairs"

  /** Fixed global temp view names are application-wide: two concurrent
    * stitch queries would overwrite each other's doc store between
    * micro-batches (r11 ADVICE). Every start()/mergedBatch() call
    * registers its own suffixed view. */
  private val viewSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  private def freshStoreView(): String = s"graft_sm_store_${viewSeq.incrementAndGet()}"

  /** Driver-held pending-retry bound (the DecontamStream house rule: a
    * bounded-by-construction buffer still fails loudly, never OOMs). */
  val PendingCap: Int = 1 << 20

  /** Batch degradation: exact p76 (plant-free) over a static (idCol,
    * textCol) relation — rendered through the SAME PipelineOps fragments
    * as the batch operator, so the two cannot drift. */
  def mergedBatch(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val spark = docs.sparkSession
    graft.functions.GraftFunctions.registerMd5(spark)
    val storeView = freshStoreView()
    docs.selectExpr(s"$idCol AS doc_id", s"$textCol AS text")
      .createOrReplaceTempView(storeView)
    spark.sql(graft.pipeline.PipelineOps.p76SparkOn(storeView))
  }

  /** Start the streaming consumer. `docs` must be a streaming frame with
    * (idCol, textCol, event-time tsCol); `docStore` is re-read each batch
    * (it grows as the pipeline ingests). Each emitted micro-batch of
    * merges — columns (a_id, b_id, merged_sig, merged_words) — goes to
    * `sink`. `claimHorizonMs` bounds claim memory and defines re-admit;
    * align it with `watermarkDelay`. */
  def start(docs: DataFrame, textCol: String, idCol: String, tsCol: String,
            watermarkDelay: String, docStore: () => DataFrame,
            claimHorizonMs: Long, sink: DataFrame => Unit): StreamingQuery = {
    require(docs.isStreaming, "StitchMergeStream.start needs a streaming input; " +
      "use mergedBatch for static relations")
    require(claimHorizonMs > 0, s"claimHorizonMs must be positive, got $claimHorizonMs")
    val spark = docs.sparkSession
    val storeView = freshStoreView()
    // id -> completion ts of the claim; evicted past the claim horizon
    val claimedA = scala.collection.mutable.Map.empty[Long, Long]
    val claimedB = scala.collection.mutable.Map.empty[Long, Long]
    // (a_id, b_id) -> pair ts: completed stitch pairs whose doc text had
    // NOT yet landed in the store (store lag) — a pair is consumed by the
    // stream exactly once, so losing it here loses the merge silently
    // (r11 ADVICE). Retried each batch until matched, claimed-out, or
    // expired past the same claim horizon that bounds the claim maps.
    val pending = scala.collection.mutable.Map.empty[(Long, Long), Long]
    var maxTsMs = Long.MinValue
    val pairs = BoundaryOverlapStream
      .pairsWithTime(docs, textCol, idCol, tsCol, watermarkDelay)
      .select("a_id", "b_id", "ts_ms")
    pairs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val sess = batch.sparkSession
        import org.apache.spark.sql.{functions => F}
        // advance the horizon clock and EXPIRE stale claims before the
        // claim filter runs — otherwise a claim would outlive the horizon
        // by one batch and block a legitimate re-admit (the pairing state
        // already evicted its side by then)
        val batchMax = batch.agg(F.max("ts_ms")).head()
        if (!batchMax.isNullAt(0) && batchMax.getLong(0) > maxTsMs)
          maxTsMs = batchMax.getLong(0)
        if (maxTsMs != Long.MinValue) {
          val cut = maxTsMs - claimHorizonMs
          claimedA.filterInPlace((_, ts) => ts >= cut)
          claimedB.filterInPlace((_, ts) => ts >= cut)
          pending.filterInPlace((_, ts) => ts >= cut)
        }
        // re-queue the store-lag pairs into THIS batch's gate: a retried
        // pair competes with new contenders exactly like a fresh one
        // (first-seen-wins is the claim filter's job, not arrival order's)
        val withPend =
          if (pending.isEmpty) batch
          else {
            val pendDf = sess.createDataFrame(
              sess.sparkContext.parallelize(pending.toSeq.map {
                case ((a, b), ts) => Row(a, b, ts)
              }, 1), batch.schema)
            // a re-admitted duplicate keeps its FIRST ts (deterministic)
            batch.unionByName(pendDf)
              .groupBy("a_id", "b_id").agg(F.min("ts_ms").as("ts_ms"))
          }
        // claim filter BEFORE the gate (see the header contract)
        val aSet = claimedA.keySet.toSeq
        val bSet = claimedB.keySet.toSeq
        val open0 = if (aSet.isEmpty) withPend
          else withPend.filter(!withPend("a_id").isInCollection(aSet))
        val open = if (bSet.isEmpty) open0
          else open0.filter(!open0("b_id").isInCollection(bSet))
        open.createOrReplaceTempView(PairsView)
        // the store frame comes from the DRIVER session; the micro-batch
        // runs in a cloned session with its own temp-view catalog, so the
        // store must cross via the global_temp database. A re-crawled
        // doc_id may appear twice in the store — dedup BEFORE the merge
        // join or each duplicate fans out a duplicate winner row (r11
        // ADVICE). The store carries no version column, so the winner is
        // deterministic, not "latest": max by (length, text) — under the
        // usual re-crawl (same text) this is an exact dedup.
        val store = docStore()
          .selectExpr(s"$idCol AS doc_id", s"$textCol AS text")
          .groupBy("doc_id")
          .agg(F.max_by(F.col("text"),
            F.struct(F.length(F.col("text")), F.col("text"))).as("text"))
        store.createOrReplaceGlobalTempView(storeView)
        val winners = sess.sql(
          graft.pipeline.PipelineOps.p76MergeOn(PairsView, s"global_temp.$storeView"))
          .collect() // the merge output — the driver needs it for claims
        winners.foreach { r =>
          val ts = r.getLong(4)
          claimedA(r.getLong(0)) = ts
          claimedB(r.getLong(1)) = ts
          pending.remove((r.getLong(0), r.getLong(1)))
        }
        // pairs that survived the claim filter but had an endpoint MISSING
        // from the store wait for the store to catch up (never silently
        // dropped); gate LOSERS (both endpoints present, out-ranked) are
        // intentional drops and are not re-queued
        val storeIds = store.select("doc_id")
        val lagged = open
          .join(storeIds.withColumnRenamed("doc_id", "a_id"), Seq("a_id"), "left_anti")
          .select("a_id", "b_id", "ts_ms")
          .unionByName(open
            .join(storeIds.withColumnRenamed("doc_id", "b_id"), Seq("b_id"), "left_anti")
            .select("a_id", "b_id", "ts_ms"))
          .distinct()
          .collect()
        lagged.foreach(r => pending((r.getLong(0), r.getLong(1))) = r.getLong(2))
        require(pending.size <= PendingCap,
          s"StitchMergeStream: over $PendingCap store-lag pairs pending " +
            "retry (the driver-state boundary) - the doc store is not " +
            "keeping up with the pair stream; shorten claimHorizonMs or " +
            "feed the store from the same pipeline that emits the docs")
        val out = sess.createDataFrame(
          sess.sparkContext.parallelize(winners.toSeq.map(r =>
            Row(r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))), 1),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("a_id", org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("b_id", org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("merged_sig", org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("merged_words", org.apache.spark.sql.types.LongType))))
        sink(out)
      }
      .start()
  }
}
