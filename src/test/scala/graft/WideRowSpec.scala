package graft

import graft.pipeline.PipelineOps
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite

/** The adversarial wide-row law (VERDICT r12 #7) — the dual of the
  * degenerate-corpus law: instead of an empty corpus, ONE pathological
  * document. Two monsters, each ~10^6 tokens:
  *
  *  - `varied` (doc 9001): mostly-distinct tokens with line/paragraph
  *    structure — the amplification probe. Every explode-family operator
  *    (p33 term stats, p36 sliding chunks, p47 line boilerplate, p54
  *    substring windows, p63 paragraph dedup) must hold its documented
  *    LINEAR bound: intermediates are K× tokens at worst, outputs are
  *    per-doc / per-group rollups, and the stride/tiling laws hold
  *    exactly (p36: ceil(n/stride) chunks).
  *  - `spam` (docs 9002/9003): the SAME single token repeated 10^6 times,
  *    twice, so every gram/line/paragraph collides into one hot key —
  *    the hot-bucket shape. Each operator must complete with its
  *    documented rollup semantics (a gram's df is counted per DISTINCT
  *    doc, paragraphs dedup to the first occurrence, term stats roll to
  *    one row), never materialize within-bucket pairs.
  *
  * Fixture planting is OFF here (spark.graft.plantFixtures=false) so
  * p47/p63 read the REAL line/paragraph structure of the monster.
  */
class WideRowSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val NTok = 1000000

  private lazy val dir: String = {
    val out = "/tmp/graft-widerow"
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(2)
    // varied monster: ~10^6 mostly-distinct tokens (vocab 37 x salt 997 =
    // 36,889 distinct), a newline every 20 tokens (lines for p47), a blank
    // line every 400 (paragraphs for p63)
    val varied = new StringBuilder(NTok * 8)
    var i = 0
    while (i < NTok) {
      varied.append('w').append(i % 37).append('s').append(i % 997)
      i += 1
      if (i % 400 == 0) varied.append("\n\n")
      else if (i % 20 == 0) varied.append('\n')
      else varied.append(' ')
    }
    val spam = ("spam " * NTok).trim
    import spark.implicits._
    // NOTE the .trim: the shared tokenizer is split(trim(text), '\\s+'),
    // and Spark's SQL trim strips ONLY spaces while split keeps trailing
    // empty strings — a doc ending in '\n' gains one phantom empty token
    // (pinned explicitly in the trailing-whitespace test below). The
    // monsters end clean so the tiling laws are exact.
    val monsters = Seq(
      (9001L, varied.toString.trim, "en", "web"),
      (9002L, spam, "en", "web"),
      (9003L, spam, "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", F.length(F.col("text")))
    base.unionByName(monsters.select(base.columns.map(F.col): _*))
      .coalesce(1).write.mode("overwrite").parquet(s"$out/documents.parquet")
    out
  }

  /** Planting off, p47/p54/p63 read the session's `documents` relation
    * (the deployment contract), so bind it to the monster corpus. */
  private def withRealStructure[T](body: => T): T = {
    spark.read.parquet(s"$dir/documents.parquet").createOrReplaceTempView("documents")
    spark.conf.set("spark.graft.plantFixtures", "false")
    try body finally spark.conf.unset("spark.graft.plantFixtures")
  }

  private def run(op: String) = PipelineOps.queries(op)(spark, dir)

  test("p36_chunk_sliding: tiling law holds exactly at 10^6 tokens") {
    val chunks = run("p36_chunk_sliding")
      .groupBy("doc_id").agg(F.count(F.lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // stride 16: ceil(10^6 / 16) chunk windows per monster — the exact
    // amplification the operator documents, no more
    val expected = math.ceil(NTok / 16.0).toLong
    for (id <- Seq(9001L, 9002L, 9003L))
      assert(chunks(id) === expected, s"doc $id chunk count")
  }

  test("p33_term_stats: output rows bounded by distinct terms, spam rolls to one row") {
    val s = run("p33_term_stats")
    val n = s.count()
    // distinct terms: <= 36,889 (varied) + 1 (spam) + base-doc vocab —
    // far below token count; a per-token (unaggregated) leak would be ~3e6
    assert(n < 50000, s"term-stats rows $n must be bounded by the vocabulary")
    val spamRow = s.where(F.col("term") === "spam").collect()
    assert(spamRow.length === 1, "one rollup row for the 2x10^6 spam tokens")
  }

  test("p54_substring_dedup: per-doc output, coverage <= n_tokens, spam twins fully covered") {
    withRealStructure {
      val rows = run("p54_substring_dedup")
        .where(F.col("doc_id") >= 9001L)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      assert(rows.size === 3, "exactly one audit row per monster")
      for ((id, (nTok, nDupW, nDupTok)) <- rows) {
        assert(nTok === NTok.toLong, s"doc $id token count")
        assert(nDupTok <= nTok, s"doc $id coverage can never exceed its positions")
        assert(nDupW <= nTok, s"doc $id window count bounded by positions")
      }
      // the spam twins share every 8-gram cross-doc: full coverage —
      // the hot gram key rolled up, not pair-exploded
      assert(rows(9002L)._3 === NTok.toLong, "spam doc fully covered")
      assert(rows(9003L)._3 === NTok.toLong, "spam twin fully covered")
      // the varied monster shares no 8-gram with any other doc
      assert(rows(9001L)._3 === 0L, "varied monster has no cross-doc duplicate windows")
    }
  }

  test("p47_boilerplate_lines: per-doc output over real lines; spam's one line rolls up") {
    withRealStructure {
      val rows = run("p47_boilerplate_lines")
        .where(F.col("doc_id") >= 9001L).collect()
      assert(rows.length === 3, "one row per monster document")
    }
  }

  test("p63_paragraph_dedup: real paragraphs; spam twins dedup to first occurrence") {
    withRealStructure {
      val rows = run("p63_paragraph_dedup")
        .where(F.col("doc_id") >= 9001L)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(rows.size === 3)
      val (variedParas, variedRemoved) = rows(9001L)
      // 10^6 tokens / 400 per paragraph = 2500 paragraphs; every paragraph
      // within the varied monster repeats (vocab period 36,889 < corpus) or
      // not — either way the counts are per-paragraph, bounded
      assert(variedParas >= 2000 && variedParas <= 3000,
        s"varied paragraphs $variedParas: linear in blank-line breaks")
      assert(variedRemoved < variedParas, "the first occurrence always survives")
      // spam doc 9002 arrives first (lower doc_id): its single giant
      // paragraph is the first occurrence; 9003's identical paragraph is
      // removed entirely
      val (spamParas, spamRemoved) = rows(9002L)
      assert(spamParas === 1L && spamRemoved === 0L, "first spam keeps its paragraph")
      val (twinParas, twinRemoved) = rows(9003L)
      assert(twinParas === 1L && twinRemoved === 1L, "twin spam fully deduped")
    }
  }

  test("shared-tokenizer trailing-whitespace quirk is pinned: a '\\n' tail adds one empty token") {
    // documented semantics, not an accident: SQL trim strips spaces only,
    // and split (limit -1) keeps trailing empty strings — so text ending
    // in non-space whitespace carries one empty token into every
    // words-based operator. Real web text ends in newlines constantly; if
    // this law ever changes (tokenizer filter), every frozen oracle must
    // move with it — this test is the tripwire.
    import spark.implicits._
    val n = spark.sql("SELECT size(split(trim('a b\nc\n'), '\\\\s+')) AS n")
      .collect()(0).getInt(0)
    assert(n === 4, "3 words + 1 phantom empty token from the newline tail")
  }
}
