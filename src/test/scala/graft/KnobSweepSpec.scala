package graft

import graft.pipeline.PipelineOps
import org.scalatest.funsuite.AnyFunSuite

/** The README deployment-knob table, executable (VERDICT r11 #4).
  *
  * Three properties turn the doc rows into tests:
  *   1. COMPLETENESS — the set of `spark.graft.*` keys the README documents
  *      equals the set the source actually reads (a new conf read without a
  *      doc row, or a doc row whose knob no longer exists, fails here).
  *   2. BOUNDS — for every knob with a documented legal range, a value just
  *      outside it (bound±1 / a non-member of the enum) raises a NAMED
  *      require that carries the knob's full key — never a raw cast error
  *      or a silent mis-run. Knobs with no bound (free thresholds, seeds,
  *      salts, paths) are listed with the reason no bound exists.
  *   3. MONOTONICITY — the cap-shaped knobs obey their documented
  *      direction: tightening the knob shrinks-or-preserves the output
  *      (and where the selection rule is a deterministic prefix, the
  *      tightened output IS a prefix of the loose one).
  */
class KnobSweepSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"
  private lazy val spark = TestSpark.spark

  private def run(name: String) =
    PipelineOps.queries(name)(spark, dir).collect()

  private def withKnob[T](knob: String, v: String)(body: => T): T = {
    spark.conf.set(knob, v)
    try body finally spark.conf.unset(knob)
  }

  /** One registry row per README knob: the cheapest operator that reads it,
    * plus the out-of-bounds probe values (empty = no bound, with reason). */
  private case class Knob(exercise: String, invalid: Seq[String],
                          noBoundReason: String = "")

  private val registry: Map[String, Knob] = Map(
    "spark.graft.barrier" -> Knob("p04_minhash_lsh", Seq("cache")),
    "spark.graft.checkpointDir" -> Knob("", Nil,
      "free path string; barrier=checkpoint without it raises a named " +
        "IllegalStateException (Barrier.materialize, PlanAuditSpec modes)"),
    "spark.graft.labelMaxRounds" -> Knob("p16_dedup_clusters", Seq("0")),
    "spark.graft.decontamBuckets" -> Knob("p21_decontam", Seq("-1")),
    "spark.graft.embDupThreshold" -> Knob("p22_embed_dedup", Seq("1.5", "-1.0")),
    "spark.graft.ivfLloydRounds" -> Knob("p19_ann_ivf", Seq("-1")),
    "spark.graft.ivfNProbe" -> Knob("p19_ann_ivf", Seq("0", "4097")),
    "spark.graft.ivfCentroidMod" -> Knob("p19_ann_ivf", Seq("0")),
    "spark.graft.semDupThreshold" -> Knob("p67_semantic_dedup", Seq("1.5", "-1.0")),
    "spark.graft.mixtureAlpha" -> Knob("p75_mixture_weights", Seq("0.0", "1.5")),
    "spark.graft.bitextKnnK" -> Knob("p77_bitext_margin", Seq("0", "65")),
    "spark.graft.boundaryResidentCap" -> Knob("", Seq("0")), // streaming: direct call below
    "spark.graft.packChunkDocs" -> Knob("p23_pack_sequences", Seq("0")),
    "spark.graft.shuffleSeed" -> Knob("", Nil,
      "any long is a legal epoch seed (p27's checksum pins the order law)"),
    "spark.graft.shuffleShards" -> Knob("p27_shuffle_shard", Seq("0")),
    "spark.graft.chunkTokens" -> Knob("p36_chunk_sliding", Seq("0")),
    "spark.graft.chunkStride" -> Knob("p36_chunk_sliding", Seq("0")),
    "spark.graft.domainQuota" -> Knob("p37_domain_quota", Seq("0")),
    "spark.graft.ingestFpTokens" -> Knob("p39_incremental_dedup", Seq("0")),
    "spark.graft.commonCfMin" -> Knob("p40_rare_token_score", Seq("0")),
    "spark.graft.tokenBudget" -> Knob("p44_token_budget", Seq("0")),
    "spark.graft.weightedK" -> Knob("p46_weighted_sample", Seq("0")),
    "spark.graft.weightedSaltBuckets" -> Knob("p46_weighted_sample", Seq("0")),
    "spark.graft.boilerplateDf" -> Knob("p47_boilerplate_lines", Seq("1")),
    "spark.graft.bloomFpp" -> Knob("p48_bloom_dedup", Seq("0.0", "0.5")),
    "spark.graft.bpeMerges" -> Knob("p50_bpe_learn", Seq("0", "65")),
    "spark.graft.substrK" -> Knob("p54_substring_dedup", Seq("1")),
    "spark.graft.ppxFlagMicro" -> Knob("", Nil,
      "threshold on the integer micro-nat scale; every value is a legal " +
        "(if unwise) cut, like CCNet's tercile knob"),
    "spark.graft.simhashBands" -> Knob("p60_simhash_pairs", Seq("2", "5")),
    "spark.graft.fimSalt" -> Knob("p62_fim_transform", Seq("")),
    "spark.graft.dsirSelectMicro" -> Knob("", Nil,
      "threshold on the integer micro-nat scale; every value is a legal cut"),
    "spark.graft.plantFixtures" -> Knob("p43_unicode_nfc", Seq("maybe")),
  )

  test("README knob table == the spark.graft.* keys the source reads == this registry") {
    import scala.jdk.CollectionConverters._
    val knobRe = """spark\.graft\.[A-Za-z0-9]+""".r
    val readme = knobRe.findAllIn(
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("README.md")))).toSet
    val srcRoot = java.nio.file.Paths.get("src/main/scala")
    val source = java.nio.file.Files.walk(srcRoot).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .flatMap { p =>
        val txt = new String(java.nio.file.Files.readAllBytes(p))
        // only QUOTED literals count as conf reads (plain-text mentions in
        // Scaladoc don't), and Barrier's ModeKey/DirKey constants are the
        // two reads hidden behind vals
        knobRe.findAllIn(txt).toSeq.filter(k => txt.contains("\"" + k + "\""))
      }.toSet
    assert(source.subsetOf(readme),
      s"source reads undocumented knobs: ${(source -- readme).mkString(", ")}")
    assert(readme.subsetOf(source),
      s"README documents dead knobs: ${(readme -- source).mkString(", ")}")
    assert(registry.keySet == source,
      s"registry drift: missing=${(source -- registry.keySet).mkString(", ")} " +
        s"extra=${(registry.keySet -- source).mkString(", ")}")
  }

  test("every bounded knob's require fires at bound±1 and names the knob") {
    for ((knob, kc) <- registry.toSeq.sortBy(_._1); v <- kc.invalid) {
      val e = intercept[IllegalArgumentException] {
        withKnob(knob, v) {
          if (knob == "spark.graft.boundaryResidentCap") {
            import spark.implicits._
            val docs = Seq((1L, "a b c d e f g h i j", 0L))
              .toDF("doc_id", "text", "ts_ms")
            graft.streaming.BoundaryOverlapStream
              .pairs(docs, "text", "doc_id", "ts_ms")
          } else run(kc.exercise)
        }
      }
      assert(e.getMessage != null && e.getMessage.contains(knob),
        s"$knob=$v raised a require that does not name the knob: ${e.getMessage}")
    }
  }

  test("unbounded knobs carry an explicit no-bound reason") {
    for ((knob, kc) <- registry if kc.invalid.isEmpty)
      assert(kc.noBoundReason.nonEmpty || knob == "spark.graft.boundaryResidentCap",
        s"$knob has neither an invalid probe nor a documented reason")
  }

  test("chunkStride > chunkTokens is rejected by name (windows must tile)") {
    val e = intercept[IllegalArgumentException] {
      withKnob("spark.graft.chunkStride", "33")(run("p36_chunk_sliding"))
    }
    assert(e.getMessage.contains("chunkStride"))
  }

  // ---- monotonicity: tightening a cap shrinks-or-preserves the output ----

  test("domainQuota: per-source kept count is exactly min(n_docs, quota) — monotone in the quota") {
    def kept(q: String) = withKnob("spark.graft.domainQuota", q) {
      run("p37_domain_quota").map(r =>
        r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    }
    val (k3, k10) = (kept("3"), kept("10"))
    assert(k3.keySet == k10.keySet)
    for ((src, (nDocs, nKept)) <- k3) {
      assert(nKept == math.min(nDocs, 3L), s"$src: kept $nKept of $nDocs at quota 3")
      assert(nKept <= k10(src)._2, s"$src: tightening the quota grew the kept set")
    }
  }

  test("tokenBudget: per-language kept tokens stay <= budget and grow monotonically with it") {
    def rows(b: String) = withKnob("spark.graft.tokenBudget", b) {
      run("p44_token_budget").map { r =>
        r.getString(0) -> (r.getLong(r.fieldIndex("n_kept")),
          r.getLong(r.fieldIndex("tok_kept")))
      }.toMap
    }
    val (tight, loose) = (rows("500"), rows("3000"))
    assert(tight.keySet == loose.keySet)
    for ((lang, (nT, tokT)) <- tight) {
      assert(tokT <= 500L, s"$lang: kept $tokT tokens over the 500 budget")
      assert(nT <= loose(lang)._1 && tokT <= loose(lang)._2,
        s"$lang: tightening the budget grew the kept prefix")
    }
  }

  test("weightedK: the k=4 sample is the rank-prefix of the k=8 sample per language") {
    def sample(k: String) = withKnob("spark.graft.weightedK", k) {
      run("p46_weighted_sample")
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    }
    val (s4, s8) = (sample("4"), sample("8"))
    assert(s4.nonEmpty)
    for (((lang, rk), docId) <- s4) {
      assert(rk <= 4)
      assert(s8.get((lang, rk)).contains(docId),
        s"($lang, rank $rk): k=4 picked doc $docId but k=8 picked ${s8.get((lang, rk))}")
    }
  }

  test("bpeMerges: the 4-merge table is the rank-prefix of the 8-merge table") {
    def merges(m: String) = withKnob("spark.graft.bpeMerges", m) {
      run("p50_bpe_learn").map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    val (m4, m8) = (merges("4"), merges("8"))
    assert(m4.size <= 4 && m4.nonEmpty)
    for ((rank, pair) <- m4)
      assert(m8.get(rank).contains(pair),
        s"merge rank $rank diverged: 4-round learned '$pair', 8-round '${m8.get(rank)}'")
  }

  test("substrK: widening the window shrinks-or-preserves every doc's duplicated coverage") {
    def cov(k: String) = withKnob("spark.graft.substrK", k) {
      run("p54_substring_dedup").map(r =>
        r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap // n_dup_windows, n_dup_tokens
    }
    val (k8, k12) = (cov("8"), cov("12"))
    assert(k8.keySet == k12.keySet)
    assert(k8.values.exists(_._1 > 0), "gate corpus should contain duplicated windows at k=8")
    for ((doc, (w12, t12)) <- k12) {
      val (w8, t8) = k8(doc)
      // every duplicated 12-window contains duplicated 8-subwindows covering
      // the same tokens, so both counts are monotone nonincreasing in K
      assert(w12 <= w8, s"doc $doc: dup windows grew ($w8 -> $w12) as K widened")
      assert(t12 <= t8, s"doc $doc: dup tokens grew ($t8 -> $t12) as K widened")
    }
  }

  test("chunkStride: doubling the stride shrinks-or-preserves every doc's chunk count") {
    def chunks(s: String) = withKnob("spark.graft.chunkStride", s) {
      run("p36_chunk_sliding").groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    }
    val (s16, s32) = (chunks("16"), chunks("32"))
    assert(s16.keySet == s32.keySet)
    for ((doc, n32) <- s32)
      assert(n32 <= s16(doc), s"doc $doc: chunk count grew as the stride widened")
  }

  test("boilerplateDf: raising the frequency floor shrinks-or-preserves every doc's removed lines") {
    def removed(t: String) = withKnob("spark.graft.boilerplateDf", t) {
      run("p47_boilerplate_lines").map(r => r.getLong(0) -> r.getLong(2)).toMap
    }
    val (t2, t200) = (removed("2"), removed("200"))
    assert(t2.keySet == t200.keySet)
    assert(t2.values.sum >= 1, "df=2 should strip the planted boilerplate")
    for ((doc, nHi) <- t200)
      assert(nHi <= t2(doc), s"doc $doc: removed lines grew as the floor rose")
  }
}
