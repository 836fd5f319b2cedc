package graft.streaming

import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.{DataFrame, functions => F}

/** Streaming boundary-overlap (suffix→prefix stitch) detection — the
  * unbounded counterpart of the p69 batch operator (the one r9 pair
  * generator that lacked a streaming form, VERDICT r9 #8). A crawl feed
  * where one page was split into two "documents" leaves the first's
  * K-token SUFFIX equal to the second's K-token PREFIX; this emits the
  * directed pair (a continued by b) as soon as BOTH sides have arrived
  * within the watermark horizon, without reprocessing the corpus.
  *
  * Gram arithmetic is IDENTICAL to batch p69: the same [[graft.pipeline.PipelineOps.BoundaryK]]
  * first-/last-K word grams (array slices — no K× explode), the same
  * 60-bit gram shuffle key ([[graft.pipeline.PipelineOps.hKeySpark]]), the
  * same exact-string verify on key-colliding candidates, and the same
  * `overlap_sig` render ([[graft.pipeline.PipelineOps.hStrSpark]]) — the
  * constants and hash fragments are shared from PipelineOps, not copied,
  * so a streamed pair is byte-identical to its batch self (the
  * LshPairsStream/CdcChunkStream rule).
  *
  * State contract (the LshPairsStream shape): one state entry per gram
  * KEY holding the horizon residents on each side — (side, doc_id,
  * event-time, gram text; the text is ≤ K words, so state per resident is
  * bounded). A suffix arrival pairs against resident prefixes, a prefix
  * arrival against resident suffixes; both arrival orders pair, exactly
  * like the order-free batch join. Eviction is two-way: arrivals drop
  * residents behind the current watermark, and EventTimeTimeout clears a
  * key whose newest resident has aged out — state is O(horizon grams),
  * independent of stream length. A stitch whose halves arrive further
  * apart than the horizon is NOT paired (the DedupStream eviction trade,
  * spec-proven).
  *
  * On a static DataFrame the same call degrades to p69's suffix×prefix
  * equi-join (one exchange on the 60-bit key — broadcast would be the
  * bug: both sides are corpus-sized, the p54 argument), and the spec
  * holds the streamed output (union of micro-batches, wide horizon)
  * row-identical to it.
  *
  * At feed scale: per micro-batch one shuffle on the gram key; pairing
  * work per arrival is |opposite-side residents of one gram| — O(1)
  * expected. A BOILERPLATE gram shared by many horizon documents is the
  * degenerate case (ADVICE r10): without a bound, one key's resident list
  * grows with the horizon and pairing goes O(|residents|²) per arrival —
  * the exact hot-bucket shape batch p04/p60 cap via LshBucketCap /
  * SimPairBucketCap. [[ResidentCapDefault]] (override:
  * `spark.graft.boundaryResidentCap`) bounds each key at the cap-LOWEST
  * doc_ids PER SIDE (deterministic by doc_id — the SimPairBucketCap
  * rule), so one hot key costs at most cap² pairs and O(cap) state.
  * The cap is far above any per-gram multiplicity at test SF (it never
  * binds there — batch/stream equality holds); a capped-out stitch is
  * deliberately dropped, bounded damage over unbounded state.
  */
object BoundaryOverlapStream {

  import graft.pipeline.PipelineOps.BoundaryK

  final case class GramRow(gkey: Long, side: String, doc_id: Long,
                           ts: java.sql.Timestamp, gram: String)
  /** a_id's suffix == b_id's prefix == `gram`; `ts_ms` is the pair's
    * COMPLETION event time (max of both sides' event times — safe for a
    * downstream watermark: never earlier than either constituent). */
  final case class StitchPair(a_id: Long, b_id: Long, gram: String, ts_ms: Long)
  /** Horizon resident of one gram key. Public for the state encoder. */
  final case class Resident(side: String, doc_id: Long, tsMs: Long, gram: String)
  final case class KeyState(docs: List[Resident])

  private val ViewName = "graft_boundary_stream_grams"

  /** Per-(gram-key, side) resident bound — see the hot-key note above. */
  private[graft] val ResidentCapDefault = 512

  /** Directed stitch pairs over `docs` (idCol, textCol, event-time tsCol):
    * columns (a_id, b_id, overlap_sig) — batch p69's output shape, minus
    * its gate fixture. Streaming: per-gram-key state within
    * `watermarkDelay`, append-mode pair stream. Batch: the p69 equi-join
    * replica. */
  def pairs(docs: DataFrame, textCol: String, idCol: String, tsCol: String,
            watermarkDelay: String = "1 hour"): DataFrame =
    pairsWithTime(docs, textCol, idCol, tsCol, watermarkDelay)
      .select("a_id", "b_id", "overlap_sig")

  /** [[pairs]] plus the pair's completion event time `ts_ms` — the richer
    * frame the stitch-merge consumer ([[StitchMergeStream]]) watermarks
    * and claims on. Same pairing machinery, caps, and horizon. */
  private[graft] def pairsWithTime(docs: DataFrame, textCol: String, idCol: String,
                                   tsCol: String,
                                   watermarkDelay: String = "1 hour"): DataFrame = {
    def requireCol(c: String): Unit =
      require(docs.columns.contains(c),
        s"BoundaryOverlapStream.pairs: input is missing column '$c' (has: ${docs.columns.mkString(", ")})")
    requireCol(textCol); requireCol(idCol); requireCol(tsCol)
    val spark = docs.sparkSession
    import spark.implicits._
    graft.functions.GraftFunctions.registerMd5(spark)
    val residentCap = spark.conf.getOption("spark.graft.boundaryResidentCap")
      .map(_.toInt).getOrElse(ResidentCapDefault)
    require(residentCap >= 1, s"spark.graft.boundaryResidentCap must be >= 1, got $residentCap")
    // p69's gram construction: two rows per document (suffix side 's',
    // prefix side 'p'), built from slices — never a per-word explode
    val grams = docs
      .withColumn("__words", F.expr(s"split(trim($textCol), '\\\\s+')"))
      .where(F.expr(s"size(__words) >= $BoundaryK"))
      .withColumn("__e", F.explode(F.expr(
        s"""array(
            named_struct('side', 's', 'gram', array_join(slice(__words, -$BoundaryK, $BoundaryK), ' ')),
            named_struct('side', 'p', 'gram', array_join(slice(__words, 1, $BoundaryK), ' ')))""")))
      .select(
        F.expr(graft.pipeline.PipelineOps.hKeySpark("__e.gram")).as("gkey"),
        F.col("__e.side").as("side"),
        F.col(idCol).cast("long").as("doc_id"),
        F.col(tsCol).cast("timestamp").as("ts"),
        F.col("__e.gram").as("gram"))
    val paired: DataFrame =
      if (docs.isStreaming) {
        grams.withWatermark("ts", watermarkDelay)
          .as[GramRow]
          .groupByKey(_.gkey)
          .flatMapGroupsWithState[KeyState, StitchPair](
            OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
            (_, rows, state: GroupState[KeyState]) =>
              if (state.hasTimedOut) {
                state.remove()
                Iterator.empty
              } else {
                val wm = state.getCurrentWatermarkMs()
                var residents = state.getOption.map(_.docs).getOrElse(Nil)
                  .filter(_.tsMs >= wm)
                val out = Seq.newBuilder[StitchPair]
                rows.toSeq.sortBy(r => (r.ts.getTime, r.doc_id, r.side)).foreach { r =>
                  residents.foreach { o =>
                    // exact-text verify: a 60-bit key collision between two
                    // different grams must not fabricate a stitch
                    if (o.doc_id != r.doc_id && o.side != r.side && o.gram == r.gram) {
                      val pts = math.max(r.ts.getTime, o.tsMs)
                      if (r.side == "s") out += StitchPair(r.doc_id, o.doc_id, r.gram, pts)
                      else out += StitchPair(o.doc_id, r.doc_id, o.gram, pts)
                    }
                  }
                  residents ::= Resident(r.side, r.doc_id, r.ts.getTime, r.gram)
                }
                // hot-key cap (ADVICE r10): keep the cap-LOWEST doc_ids per
                // side — deterministic in the horizon set, not in arrival
                // order (the SimPairBucketCap rule); never binds at test SF
                if (residents.length > residentCap) {
                  residents = residents.groupBy(_.side).valuesIterator
                    .flatMap(_.sortBy(_.doc_id).take(residentCap)).toList
                }
                state.update(KeyState(residents))
                // the LshPairsStream eviction rule: residents are unpairable
                // once the watermark passes their event time, and the
                // watermark already lags max event time by the delay
                val newest = residents.map(_.tsMs).max
                state.setTimeoutTimestamp(newest + 1)
                out.result().iterator
              }
          }.toDF()
      } else {
        // batch degradation: p69's suffix×prefix equi-join on the 60-bit
        // key with the exact-string verify
        grams.createOrReplaceTempView(ViewName)
        spark.sql(s"""
          SELECT s.doc_id AS a_id, p.doc_id AS b_id, s.gram AS gram,
            greatest(unix_millis(s.ts), unix_millis(p.ts)) AS ts_ms
          FROM $ViewName s JOIN $ViewName p
            ON s.gkey = p.gkey AND s.side = 's' AND p.side = 'p'
           AND s.doc_id != p.doc_id
          WHERE s.gram = p.gram""")
      }
    // overlap_sig rendered by the SHARED hash fragment, downstream of the
    // pairing (state carries the gram text, so the hash arithmetic lives in
    // one place — PipelineOps — for stream and batch alike)
    paired
      .withColumn("overlap_sig",
        F.expr(graft.pipeline.PipelineOps.hStrSpark("gram")))
      .select("a_id", "b_id", "ts_ms", "overlap_sig")
  }
}
