package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.{functions => F}

/** Streaming paragraph-level keep-first dedup — the unbounded counterpart
  * of the p63 batch operator (MassiveText/Dolma paragraph dedup on an
  * ingest feed). Each document splits into blank-line paragraphs; a
  * paragraph whose content was already seen — earlier in the stream, or
  * earlier in the same micro-batch by (doc_id, pos) order — is marked
  * DROPPED, the first sighting KEPT. The output is the per-occurrence
  * decision stream; [[reassemble]] rebuilds documents from their kept
  * paragraphs (run it per micro-batch via foreachBatch — documents arrive
  * whole, so all of a document's decisions land in one output batch;
  * chaining a second stateful aggregation after flatMapGroupsWithState is
  * the restricted-topology class this module avoids).
  *
  * State contract: ONE marker per distinct paragraph hash sighted within
  * the watermark horizon. A re-sighting refreshes the marker (hot
  * boilerplate paragraphs stay deduplicated for as long as they keep
  * recurring); a marker whose last sighting ages past the watermark is
  * evicted via EventTimeTimeout, so state is O(distinct paragraphs within
  * the horizon), independent of stream length. The explicit bounded-state
  * trade (DedupStream's): a duplicate arriving after its original's
  * marker evicts is re-admitted — exact keep-first within the horizon,
  * at-least-once beyond it, the right direction for a training feed.
  *
  * The dedup key is `xxhash64(para)` — decisions depend only on paragraph
  * string equality (any collision-negligible hash yields the identical
  * decision set), so the stream needs no session kernel registration and
  * cross-checks against batch p63.
  *
  * On a static DataFrame the same function degrades to EXACTLY the p63
  * mark phase: keep iff the occurrence's packed doc_id*2^32+pos is the
  * per-hash minimum (one window min, no state) — the spec holds both
  * paths to a JVM keep-first reference and to each other.
  *
  * At feed scale: one shuffle on the paragraph hash; per-batch group work
  * is one sort of that batch's occurrences of ONE paragraph (skew = a
  * paragraph recurring within a single batch — bounded by batch size,
  * and the state side stays one marker regardless).
  */
object ParagraphDedupStream {

  final case class Occ(ph: Long, doc_id: Long, pos: Int, para: String,
                       ts: java.sql.Timestamp)
  /** One row per paragraph occurrence: keep=false means the rewrite drops
    * it from its document. */
  final case class Decision(doc_id: Long, pos: Int, para: String, keep: Boolean)
  /** Last-sighting event time of an already-kept paragraph (ms). */
  final case class SeenState(tsMs: Long)

  /** Mark every paragraph occurrence of `docs` keep/drop. `docs` must
    * carry `idCol` (castable to long), `textCol` (paragraphs = blank-line
    * split, p63's deployment-mode unit) and an event-time `tsCol`. */
  def dedupParagraphs(docs: DataFrame, idCol: String, textCol: String,
                      tsCol: String, watermarkDelay: String): Dataset[Decision] = {
    def requireCol(c: String): Unit =
      require(docs.columns.contains(c),
        s"dedupParagraphs: input is missing column '$c' (has: ${docs.columns.mkString(", ")})")
    requireCol(idCol); requireCol(textCol); requireCol(tsCol)
    val spark = docs.sparkSession
    import spark.implicits._
    // id-less / clock-less / text-less rows cannot enter paragraph state
    // (the stateful fold reads ts.getTime): routed out and COUNTED
    // (NullGuard) before the branch — batch and stream see identical rows
    val guarded = NullGuard(docs, "para_dedup", Seq(idCol, tsCol, textCol))
    val occ = guarded
      .select(F.col(idCol).cast("long").as("doc_id"),
        F.col(tsCol).cast("timestamp").as("ts"), F.col(textCol).as("__text"))
      .selectExpr("doc_id", "ts", "posexplode(split(__text, '\\n\\n')) AS (pos, para)")
      .withColumn("ph", F.expr("xxhash64(para)"))
      .select($"ph", $"doc_id", $"pos", $"para", $"ts")
      .as[Occ]
    if (docs.isStreaming) {
      occ.withWatermark("ts", watermarkDelay)
        .groupByKey(_.ph)
        .flatMapGroupsWithState[SeenState, Decision](
          OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
          (_, rows, state: GroupState[SeenState]) =>
            if (state.hasTimedOut) {
              // paragraph unseen past the horizon: marker evicts, a later
              // duplicate re-admits (the documented bounded-state trade)
              state.remove()
              Iterator.empty
            } else {
              val wm = state.getCurrentWatermarkMs()
              // marker still live only if its last sighting is inside the
              // horizon (arrival and timeout race on the same clock)
              var seen: Option[Long] = state.getOption.map(_.tsMs).filter(_ >= wm)
              val out = rows.toSeq.sortBy(r => (r.doc_id, r.pos)).map { r =>
                val keep = seen.isEmpty
                seen = Some(seen.fold(r.ts.getTime)(m => math.max(m, r.ts.getTime)))
                Decision(r.doc_id, r.pos, r.para, keep)
              }
              state.update(SeenState(seen.get))
              state.setTimeoutTimestamp(math.max(seen.get + 1, wm + 1))
              out.iterator
            }
        }
    } else {
      // batch degradation: exactly p63's mark phase — keep iff the packed
      // (doc_id, pos) is the per-hash minimum (packing contract:
      // doc_id < 2^31, < 2^32 paragraphs per document)
      occ.withColumn("__pk", F.expr("doc_id * 4294967296 + pos"))
        .withColumn("__first", F.min("__pk").over(Window.partitionBy("ph")))
        .select($"doc_id", $"pos", $"para", ($"__pk" === $"__first").as("keep"))
        .as[Decision]
    }
  }

  /** Rebuild documents from their kept paragraphs (p63's reassembly):
    * (doc_id, n_paras, n_removed, clean_text). Batch-side — call it on a
    * static frame or inside foreachBatch on the decision stream. */
  def reassemble(decisions: Dataset[Decision]): DataFrame =
    decisions.groupBy("doc_id").agg(
      F.count(F.lit(1)).as("n_paras"),
      F.sum(F.expr("IF(keep, 0, 1)")).as("n_removed"),
      F.expr("array_join(transform(sort_array(collect_list(CASE WHEN keep THEN struct(pos, para) END)), s -> s.para), '\\n\\n')")
        .as("clean_text"))
}
