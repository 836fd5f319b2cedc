package graft

import graft.pipeline.{PipelineOps, PipelineRelational, Sinks}
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite

/** The capstone composition: a user assembling a training set runs the
  * operators in sequence, not one at a time. This spec drives the real
  * chain on real testdata — leakage-free split (p42) → quality gate
  * (p17) → sliding-window chunking (p36) → deterministic shard + layout
  * write (p27-rule + Sinks) — and asserts the conservation invariants
  * that make the composition trustworthy: monotone funnel, chunk
  * coverage of exactly the surviving documents, shard partition of
  * exactly the produced chunks, and pruned read-back. Each stage's
  * VALUES are already DuckDB-gated individually; this proves they
  * compose. */
class EndToEndPipelineSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"
  private lazy val spark = TestSpark.spark

  test("split -> quality gate -> chunk -> shard composes with conservation invariants") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val total = docs.count()

    // stage 1: leakage-free split, keep the training partition
    val frame = PipelineOps.p42Frame(spark, dir) // (doc_id, lang, split)
    val train = frame.where($"split" === "train").select("doc_id")
    val nTrain = train.count()
    assert(nTrain > 0 && nTrain < total, "the split must carve a strict subset")

    // stage 2: quality gate on the training docs
    val quality = PipelineOps.queries("p17_quality_filter")(spark, dir)
      .where($"keep").select("doc_id")
    val kept = train.join(quality, "doc_id")
    val nKept = kept.count()
    assert(nKept > 0 && nKept <= nTrain, "funnel must be monotone")

    // stage 3: chunk ONLY the surviving documents — rebind the documents
    // view to the filtered set, exactly what a composing user writes
    docs.join(kept, "doc_id").createOrReplaceTempView("documents")
    val chunks = Graft.compileSession(PipelineRelational.p36(32, 16), spark)
    val nChunks = chunks.count()
    val chunkDocs = chunks.select("doc_id").distinct().count()
    assert(chunkDocs == nKept, "every surviving doc must chunk, none resurrected")
    assert(nChunks >= nKept, "at least one chunk per doc")

    // stage 4: deterministic shard assignment + partitioned layout write
    val out = "/tmp/graft-e2e-train"
    val sharded = chunks.withColumn("shard",
      F.pmod(F.conv(F.substring(F.md5(F.concat_ws(":",
        $"doc_id", $"chunk_idx")), 1, 8), 16, 10).cast("long"), F.lit(4)))
    Sinks.writeSharded(sharded, out, "shard")
    val back = spark.read.parquet(out)
    assert(back.count() == nChunks, "shards must partition exactly the chunk set")
    assert(back.select("shard").distinct().count() == 4, "all shards populated")
    val one = back.where($"shard" === 2)
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("shard"),
      s"a single-shard dataloader read must prune:\n$plan")
    // chunk hashes survive the write bit-for-bit (content integrity of
    // the laid-out training set)
    val sumBefore = chunks.selectExpr(
      "sum(CAST(conv(substr(chunk_hash, 1, 8), 16, 10) AS BIGINT)) AS s").head.getLong(0)
    val sumAfter = back.selectExpr(
      "sum(CAST(conv(substr(chunk_hash, 1, 8), 16, 10) AS BIGINT)) AS s").head.getLong(0)
    assert(sumBefore == sumAfter, "chunk content checksums must survive the layout write")
  }

  test("dedup -> policy filter -> FIM augmentation -> token budget composes") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val total = docs.count()

    // stage 1: exact content dedup, one representative per canonical hash
    val unique = graft.streaming.DedupStream
      .dedupByContent(docs.withColumn("ts", F.expr("timestamp_seconds(1700000000)")),
        "text", "ts", "1 hour")
      .drop("content_hash", "ts")
    val nUnique = unique.count()
    assert(nUnique > 0 && nUnique <= total)

    // stage 2: blocklist policy filter on the survivors
    val policy = PipelineOps.queries("p59_blocklist")(spark, dir)
      .where($"keep" === 1).select("doc_id")
    val kept = unique.join(policy, "doc_id")
    val nKept = kept.count()
    assert(nKept > 0 && nKept <= nUnique, "funnel must be monotone")

    // stage 3: FIM augmentation over exactly the surviving documents
    kept.createOrReplaceTempView("documents")
    val fim = Graft.compileSession(PipelineRelational.p62("fim0"), spark).cache()
    assert(fim.count() == nKept, "one augmented row per survivor, none resurrected")
    val applied = fim.where($"fim_applied" === 1).count()
    assert(applied > 0 && applied < nKept, "both augmentation classes populated")
    // pass-through rows carry the ORIGINAL document bytes through the
    // funnel: checksum equals md5 of the stored text
    val mismatch = fim.where($"fim_applied" === 0)
      .join(kept.select($"doc_id", F.md5($"text").as("orig")), "doc_id")
      .where($"out_checksum" =!= $"orig").count()
    assert(mismatch == 0, "pass-through must not rewrite surviving documents")

    // stage 4: token-budget assembly on the same surviving view — the
    // budget must bind (usage <= budget) and count only surviving docs
    val budget = Graft.compileSession(PipelineRelational.p44(3000L), spark)
    val rows = budget.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val tokKept = r.getLong(r.fieldIndex("tok_kept"))
      assert(tokKept <= 3000L, s"budget must bind: $tokKept")
    }
    val nKeptBudget = budget.agg(F.sum("n_kept")).head.getLong(0)
    val nDocsBudget = budget.agg(F.sum("n_docs")).head.getLong(0)
    assert(nDocsBudget == nKept, "the budget pass sees exactly the funnel survivors")
    assert(nKeptBudget <= nKept)
    fim.unpersist()
  }

  test("deployment mode: plantFixtures=false composes on a user-bound catalog") {
    // the r9 deployment contract end-to-end: with planting off the
    // operators read whatever the session bound — raw corpus text, real
    // snapshot views — and the fixture machinery is simply absent
    import spark.implicits._
    spark.conf.set("spark.graft.plantFixtures", "false")
    try {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      docs.createOrReplaceTempView("documents")
      val total = docs.count()

      // PII scrub over the raw corpus: left intact (no natural PII), and
      // the audit trail says so instead of counting planted hits
      val pii = PipelineOps.queries("p38_pii_redact")(spark, dir).cache()
      assert(pii.count() == total)
      assert(pii.agg(F.sum($"n_emails" + $"n_ips" + $"n_phones")).head.getLong(0) == 0L)

      // NFC canonicalization: ASCII corpus is already canonical
      val nfc = PipelineOps.queries("p43_unicode_nfc")(spark, dir)
      assert(nfc.where($"len_raw" =!= $"len_nfc").count() == 0L)

      // snapshot diff against REAL versioned views derived from the
      // corpus: v2 adds the odd ids, nothing changes or is removed
      docs.where("doc_id % 2 = 0").createOrReplaceTempView("documents_v1")
      docs.createOrReplaceTempView("documents_v2")
      val diff = PipelineOps.queries("p52_snapshot_diff")(spark, dir)
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      val even = docs.where("doc_id % 2 = 0").count()
      assert(diff == Map("added" -> (total - even), "unchanged" -> even),
        s"real-snapshot diff must reflect the bound views exactly, got $diff")
      pii.unpersist()
    } finally spark.conf.unset("spark.graft.plantFixtures")
  }
}
