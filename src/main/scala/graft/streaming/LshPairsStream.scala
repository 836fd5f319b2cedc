package graft.streaming

import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.{DataFrame, Dataset, functions => F}

/** Streaming MinHash-LSH near-duplicate candidate pairs — the unbounded
  * counterpart of the p04 batch operator: dedup-on-ingest, where each
  * arriving document is checked against the recent corpus WITHOUT
  * reprocessing it.
  *
  * Signature arithmetic is IDENTICAL to batch p04 (same shingles, same
  * shingle hash, same (a·x+b) mod P permutations via the `graft_minhash`
  * kernel, same 8×2 banding — the constants and hash render are shared
  * from PipelineOps, not copied), so a streamed document lands in exactly
  * the band buckets its batch self would. What CHANGES is the
  * verify: batch p04 re-joins the shingle sets and computes TRUE Jaccard
  * on candidates; a stream cannot hold shingle sets for every horizon
  * document, so the verify is the standard bounded-state substitute —
  * SIGNATURE AGREEMENT (matching minhash positions / k), the unbiased
  * estimator of Jaccard the signatures exist to provide. State per band
  * bucket = the (doc_id, event_time, 16-long sig) rows inside the
  * watermark horizon — O(horizon corpus × bands), evicted by event time
  * both on data arrival and via EventTimeTimeout when a bucket goes
  * quiet.
  *
  * Emission contract (order-insensitive, exactly what the batch replica
  * computes): one row per (band bucket, unordered doc pair) whose
  * signatures agree on >= `minAgree` of the 16 positions, provided the
  * two documents co-exist in the bucket's horizon — a pair sharing two
  * bands emits twice with different `band` values, like the pre-DISTINCT
  * band join in batch p04; consumers dedupe on (ida, idb) or ask for
  * `.distinct`. Within a micro-batch, arrival order is free (the fold
  * sorts each bucket's slice by event time then id); across batches the
  * earlier document must still be in state — a near-dup arriving beyond
  * the horizon after its partner is NOT paired (the [[DedupStream]]
  * eviction trade, spec-proven).
  *
  * On a static DataFrame the same call degrades to the batch band
  * self-join with the same agreement verify — one exchange on the band
  * key — and the spec holds the streamed output (union of micro-batches,
  * wide horizon) row-identical to it.
  *
  * At feed scale: per micro-batch one shuffle on the band key; the
  * candidate work per arrival is |bucket| sig comparisons (O(1) expected
  * when band width fits log2 N — p04's own geometry argument); no
  * driver-side action anywhere.
  */
object LshPairsStream {

  import graft.pipeline.PipelineOps.{Bands, MinhashK, MinhashP, hashA, hashB}

  final case class BandRow(bkey: String, band: Int, doc_id: Long,
                           ts: java.sql.Timestamp, sig: Seq[Long])
  final case class CandPair(band: Int, ida: Long, idb: Long, n_agree: Int)
  /** Bucket state: horizon residents as parallel lists (tsMs for
    * eviction). Public for the state encoder. */
  final case class Resident(doc_id: Long, tsMs: Long, sig: Seq[Long])
  final case class BucketState(docs: List[Resident])

  /** Default agreement floor: 8/16 agreeing minhashes estimates Jaccard
    * ~0.5 — p04's verify threshold. */
  val DefaultMinAgree = 8

  private def agree(a: Seq[Long], b: Seq[Long]): Int = {
    var n = 0; var i = 0
    while (i < MinhashK) { if (a(i) == b(i)) n += 1; i += 1 }
    n
  }

  /** Candidate near-dup pairs over `docs` (idCol, textCol, event-time
    * tsCol). Streaming: band-bucket state within `watermarkDelay`,
    * append-mode pair stream. Batch: the band self-join replica. */
  def pairs(docs: DataFrame, textCol: String, idCol: String, tsCol: String,
            watermarkDelay: String = "1 hour",
            minAgree: Int = DefaultMinAgree): Dataset[CandPair] = {
    def requireCol(c: String): Unit =
      require(docs.columns.contains(c),
        s"LshPairsStream.pairs: input is missing column '$c' (has: ${docs.columns.mkString(", ")})")
    requireCol(textCol); requireCol(idCol); requireCol(tsCol)
    require(minAgree >= 1 && minAgree <= MinhashK,
      s"LshPairsStream.pairs: minAgree must be in [1, $MinhashK], got $minAgree")
    val spark = docs.sparkSession
    import spark.implicits._
    graft.functions.GraftFunctions.registerMd5(spark)
    graft.functions.GraftFunctions.registerMinhash(spark,
      hashA.toArray, hashB.toArray, MinhashP)
    // a row without an id or event time cannot enter the band state (the
    // stateful path reads ts.getTime): routed out and COUNTED (NullGuard)
    // before the branch, so batch and stream see identical rows
    val guarded = NullGuard(docs, "lsh_pairs", Seq(idCol, tsCol))
    // p04's sig chain, column-native (no UDF): words -> distinct 3-shingles
    // -> shingle hash mod P -> graft_minhash kernel. Docs under 3 words have
    // no shingle set and are filtered exactly like batch p04's WHERE.
    val sigged = guarded
      .withColumn("__words", F.expr(s"split(trim($textCol), '\\\\s+')"))
      .where(F.expr("size(__words) >= 3"))
      .withColumn("__sh", F.expr(
        "array_distinct(transform(sequence(1, size(__words) - 2), " +
          "i -> concat(element_at(__words, i), ' ', element_at(__words, i + 1), ' ', element_at(__words, i + 2))))"))
      .withColumn("__hs", F.expr(
        s"transform(__sh, s -> pmod(${graft.pipeline.PipelineOps.hSpark("s")}, $MinhashP))"))
      .withColumn("sig", F.expr("graft_minhash(__hs)"))
      .withColumn("doc_id", F.col(idCol).cast("long"))
      .withColumn("ts", F.col(tsCol).cast("timestamp"))
    val bands = sigged
      .withColumn("band", F.explode(F.expr(s"sequence(0, ${Bands - 1})")))
      .withColumn("bkey", F.expr("concat(band, '|', element_at(sig, 2 * band + 1), '|', element_at(sig, 2 * band + 2))"))
      .select($"bkey", $"band", $"doc_id", $"ts", $"sig")
    if (docs.isStreaming) {
      bands.withWatermark("ts", watermarkDelay)
        .as[BandRow]
        .groupByKey(_.bkey)
        .flatMapGroupsWithState[BucketState, CandPair](
          OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
          (_, rows, state: GroupState[BucketState]) =>
            if (state.hasTimedOut) {
              // bucket quiet past the horizon: every resident is evictable
              state.remove()
              Iterator.empty
            } else {
              val wm = state.getCurrentWatermarkMs()
              var residents = state.getOption.map(_.docs).getOrElse(Nil)
                .filter(_.tsMs >= wm)
              val out = Seq.newBuilder[CandPair]
              rows.toSeq.sortBy(r => (r.ts.getTime, r.doc_id)).foreach { r =>
                val tsMs = r.ts.getTime
                residents.foreach { s =>
                  if (s.doc_id != r.doc_id) {
                    val n = agree(s.sig, r.sig)
                    if (n >= minAgree)
                      out += CandPair(r.band, math.min(s.doc_id, r.doc_id),
                        math.max(s.doc_id, r.doc_id), n)
                  }
                }
                residents ::= Resident(r.doc_id, tsMs, r.sig)
              }
              state.update(BucketState(residents))
              // schedule eviction for when the newest resident ages out:
              // residents are unpairable once the watermark passes their
              // event time (the arrival-path filter above drops them), and
              // the watermark ALREADY lags max event time by the delay —
              // adding the delay here would double-count it and hold quiet
              // buckets a full extra horizon
              val newest = residents.map(_.tsMs).max
              state.setTimeoutTimestamp(newest + 1)
              out.result().iterator
            }
        }
    } else {
      // batch degradation: the band self-join with the same agreement
      // verify — what the stream computes with an unbounded horizon
      bands.createOrReplaceTempView("graft_lsh_stream_bands")
      spark.sql(s"""
        SELECT band, ida, idb, n_agree FROM (
          SELECT a.band AS band, a.doc_id AS ida, b.doc_id AS idb,
            CAST(size(filter(zip_with(a.sig, b.sig, (x, y) -> IF(x = y, 1, 0)), v -> v = 1)) AS INT) AS n_agree
          FROM graft_lsh_stream_bands a JOIN graft_lsh_stream_bands b
            ON a.bkey = b.bkey AND a.doc_id < b.doc_id)
        WHERE n_agree >= $minAgree""").as[CandPair]
    }
  }
}
