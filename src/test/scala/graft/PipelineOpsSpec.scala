package graft

import graft.pipeline.{MediaOps, PipelineOps, PipelineRelational}
import org.scalatest.funsuite.AnyFunSuite

/** Pipeline-operator behavior on the real sf0.001 testdata: structural
  * invariants, ground-truth checks (LSH vs exact), and the typed decode
  * plumbing. Value-level equality vs DuckDB is covered by the driver gate
  * (and tools/compare.py). */
class PipelineOpsSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"
  private lazy val spark = TestSpark.spark

  private def run(name: String) = PipelineOps.queries(name)(spark, dir)

  test("p01 exact dedup: every document keeps exactly one representative") {
    val total = spark.read.parquet(s"$dir/documents.parquet").count()
    val out = run("p01_dedup_exact").collect()
    assert(out.map(_.getLong(1)).sum == total) // copies partition the corpus
    assert(out.map(_.getLong(0)).distinct.length == out.length)
  }

  test("p02 text stats: ratios bounded, token counts positive") {
    val out = run("p02_text_stats").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(r.fieldIndex("n_tokens")) > 0)
      val stop = r.getDouble(r.fieldIndex("stop_ratio"))
      assert(stop >= 0.0 && stop <= 1.0)
    }
  }

  test("p04 MinHash-LSH finds exactly the brute-force near-dup pairs (recall check)") {
    // ground truth: exact jaccard >= 0.5 over all pairs, computed sparkside
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    docs.createOrReplaceTempView("documents")
    val truth = spark.sql(
      """WITH w AS (SELECT doc_id, split(trim(text), '\\s+') AS words FROM documents),
        |sh AS (SELECT doc_id, array_distinct(transform(sequence(1, size(words)-2),
        |    i -> concat(element_at(words,i),' ',element_at(words,i+1),' ',element_at(words,i+2)))) AS s
        |  FROM w WHERE size(words) >= 3)
        |SELECT a.doc_id ida, b.doc_id idb FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE CAST(size(array_intersect(a.s, b.s)) AS DOUBLE) /
        |      (size(a.s) + size(b.s) - size(array_intersect(a.s, b.s))) >= 0.5
        |""".stripMargin).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = run("p04_minhash_lsh").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found == truth, s"LSH pairs $found != brute-force pairs $truth")
    assert(truth.nonEmpty, "testdata should contain planted near-dups")
  }

  test("p05/p06: same word multiset ⇒ same simhash; different order ⇒ different fingerprint") {
    val sim = run("p05_simhash").collect()
    assert(sim.map(_.getLong(0)).distinct.length == sim.length)
    val fp = run("p06_fingerprint").collect()
    assert(fp.map(_.getLong(1)).distinct.length > fp.length / 2) // fingerprints spread
  }

  test("p07 exact top-k: k results per query, ranks 1..k, sims sorted") {
    val out = run("p07_cosine_topk").collect()
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.size == 20)
    byQ.foreach { case (_, rs) =>
      assert(rs.map(_.getLong(2)).sorted.toSeq == (1L to 5L))
      val sims = rs.sortBy(_.getLong(2)).map(_.getDouble(3))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("p08 SRP-LSH pairs are a subset of true >=0.2-cosine pairs and non-empty") {
    val out = run("p08_ann_srp_lsh").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.2)
    }
  }

  test("p08 banding recall vs p07 exact top-k ground truth") {
    // ground truth: p07's exact top-5 neighbours per query, restricted to
    // pairs that pass p08's output threshold (cos >= 0.2) — the pairs the
    // bucketed path is supposed to surface
    val truth = run("p07_cosine_topk").collect()
      .filter(_.getDouble(3) >= 0.2)
      .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1))))
      .toSet
    assert(truth.nonEmpty, "testdata should contain >=0.2-cosine top-k pairs")
    val found = run("p08_ann_srp_lsh").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = truth.count(found).toDouble / truth.size
    // 8 bands × 4 bits at this corpus's cos≈0.3 regime: expected recall
    // 1-(1-p^4)^8 ≈ 0.66 (measured 0.71) — the 0.5 floor flags a broken
    // banding join, not LSH randomness
    assert(recall >= 0.5, s"recall $recall (${truth.count(found)}/${truth.size})")
  }

  test("p08 SRP recall law holds with the DERIVED (r, b) at two corpus sizes") {
    // VERDICT r4 #4 + r5 #6: the r~log N law was only recall-tested at the
    // gate corpus (r=4), and the band rule was manual. chooseSrpGeometry
    // now derives (r, b) together; this plants near-neighbour pairs of
    // known cosine at TWO corpus sizes landing on different production
    // widths and asserts measured recall against the banding formula
    // 1-(1-p^r)^b computed from each planted pair's ACTUAL cosine — the
    // assertion fails if the geometry derivation or the banding math (key
    // slicing, band count, bucket join) breaks at widths the gate corpus
    // never reaches.
    val dim = 64
    def runCase(nBase: Int, nPairs: Int, expR: Int, expB: Int, seed: Long): Unit = {
      val rnd = new scala.util.Random(seed)
      def unit(v: Array[Double]): Array[Double] = {
        val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
      }
      def randVec(): Array[Double] = unit(Array.fill(dim)(rnd.nextGaussian()))
      val base = Array.fill(nBase)(randVec())
      // planted pairs: b = unit(a + s*u), s chosen so cos ≈ 1/sqrt(1+s²)
      // spans ~[0.85, 0.97] — the regime where per-band p^r is sensitive
      val planted = (0 until nPairs).map { i =>
        val a = randVec()
        val s = 0.25 + 0.40 * i / nPairs
        val u = randVec()
        val b = unit(a.zip(u).map { case (x, e) => x + s * e })
        (a, b)
      }
      val rows: Seq[(Long, Seq[Float], Int)] =
        base.zipWithIndex.map { case (v, i) =>
          (i.toLong, v.map(_.toFloat).toSeq, 0) }.toSeq ++
        planted.zipWithIndex.flatMap { case ((a, b), i) =>
          Seq((nBase + 2L * i, a.map(_.toFloat).toSeq, 1),
              (nBase + 2L * i + 1, b.map(_.toFloat).toSeq, 1)) }
      val n = rows.length.toLong
      val (r, bands) = PipelineOps.chooseSrpGeometry(n)
      assert((r, bands) == ((expR, expB)),
        s"N=$n must derive (r,b)=($expR,$expB), got ($r,$bands)")

      val tmp = java.nio.file.Files.createTempDirectory("graft_srp").toString
      import spark.implicits._
      rows.toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
      // -1 → p08Run's default derived-geometry path
      val found = PipelineOps.p08RunWithBands(spark, tmp, -1).collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSet

      def cosF(a: Array[Double], b: Array[Double]): Double = {
        val af = a.map(_.toFloat); val bf = b.map(_.toFloat) // as stored
        val d = af.zip(bf).map { case (x, y) => x.toDouble * y }.sum
        d / (math.sqrt(af.map(x => x.toDouble * x).sum) *
             math.sqrt(bf.map(x => x.toDouble * x).sum))
      }
      val detectP = planted.map { case (a, b) =>
        val p = 1.0 - math.acos(math.min(1.0, cosF(a, b))) / math.Pi
        1.0 - math.pow(1.0 - math.pow(p, r), bands)
      }
      val hits = (0 until nPairs).count { i =>
        found((nBase + 2L * i, nBase + 2L * i + 1))
      }
      val recall = hits.toDouble / nPairs
      val mean = detectP.sum / nPairs
      // 3σ of the mean of independent Bernoulli(q_i) detections
      val sd = math.sqrt(detectP.map(q => q * (1 - q)).sum) / nPairs
      assert(mean >= 0.85,
        s"operating point: derived b=$bands must keep expected recall high, got $mean")
      assert(recall >= mean - 3 * sd,
        s"measured recall $recall below formula floor ${mean - 3 * sd} " +
          s"(expected $mean, $hits/$nPairs found) — banding math broken at (r=$r,b=$bands)")
    }
    // 5100 vecs → (8, 10): band rule exceeds the 8-band floor
    runCase(nBase = 4800, nPairs = 150, expR = 8, expB = 10, seed = 20260812L)
    // 1800 vecs → (6, 8): floor binds, bands stay at the baseline
    runCase(nBase = 1600, nPairs = 100, expR = 6, expB = 8, seed = 20260813L)
  }

  test("p11 n-gram jaccard: pairs stay within source, values in [0,1]") {
    val out = run("p11_ngram_jaccard").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val j = r.getDouble(r.fieldIndex("jaccard"))
      assert(j >= 0.0 && j <= 1.0)
    }
  }

  test("p12 lang id: rollup covers every labeled doc exactly once") {
    val total = spark.read.parquet(s"$dir/documents.parquet").count()
    val out = run("p12_lang_id").collect()
    assert(out.map(_.getLong(2)).sum == total)
    val langs = out.map(_.getString(0)).distinct.sorted
    assert(langs.nonEmpty)
  }

  test("p13 sessionize: sessions partition all events, ids start at 1 and are dense") {
    val totalEvents = spark.read.parquet(s"$dir/events.parquet").count()
    val out = run("p13_sessionize").collect()
    assert(out.map(_.getLong(2)).sum == totalEvents)
    out.groupBy(_.getLong(0)).foreach { case (_, sess) =>
      val ids = sess.map(_.getLong(1)).sorted
      assert(ids.head == 1L && ids.toSeq == (1L to ids.last)) // dense per user
    }
    out.foreach(r => assert(r.getLong(3) >= 0)) // spans non-negative
  }

  test("p10 codec parses hand-built PPM, BMP, and PNG containers (real decode)") {
    // a 2x2 PPM written by hand, with a header comment the parser must skip
    val ppmPixels = Array[Int](10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 255)
    val ppm = ("P6\n# comment\n2 2\n255\n".getBytes("US-ASCII") ++
      ppmPixels.map(_.toByte)).toArray
    val fp = MediaOps.decodeOne(MediaOps.MediaIn(1L, ppm, "image/x-portable-pixmap"))
    assert((fp.width, fp.height) == (2L, 2L))
    assert(fp.pixel_sum == ppmPixels.sum)
    assert(fp.n_bytes == ppm.length.toLong)

    // a 2x1 24bpp BMP with stride padding (3*2=6 bytes -> stride 8):
    // the 2 padding bytes are set to 0xEE and must NOT be summed
    val bmp = new Array[Byte](54 + 8)
    bmp(0) = 'B'; bmp(1) = 'M'
    bmp(10) = 54 // pixel data offset
    bmp(18) = 2  // width
    bmp(22) = 1  // height
    bmp(26) = 1; bmp(28) = 24 // planes, bpp
    val bgr = Array[Int](3, 2, 1, 6, 5, 4) // logical RGB (1,2,3),(4,5,6)
    for (i <- bgr.indices) bmp(54 + i) = bgr(i).toByte
    bmp(60) = 0xEE.toByte; bmp(61) = 0xEE.toByte // padding, must be skipped
    val fb = MediaOps.decodeOne(MediaOps.MediaIn(2L, bmp, "image/bmp"))
    assert((fb.width, fb.height) == (2L, 1L))
    assert(fb.pixel_sum == 21L) // 1+2+3+4+5+6, padding excluded
    assert(fb.n_bytes == 62L)

    // a 1x2 PNG built by hand from the chunk/zlib primitives: filter-None
    // scanlines, stored-block zlib, real CRCs — the decoder must inflate
    // and defilter it (and n_bytes must match the 68 + h*(1+3w) arithmetic)
    val pngPixels = Array[Int](9, 8, 7, 6, 5, 4) // two RGB pixels, w=1 h=2
    val pngRaw = Array[Byte](0, 9, 8, 7, 0, 6, 5, 4) // filter byte per row
    val png = {
      val ihdr = new Array[Byte](13)
      ihdr(3) = 1; ihdr(7) = 2 // w=1, h=2 (big-endian)
      ihdr(8) = 8; ihdr(9) = 2
      def chunk(typ: String, data: Array[Byte]) = {
        val out = new Array[Byte](12 + data.length)
        out(3) = data.length.toByte
        System.arraycopy(typ.getBytes("US-ASCII"), 0, out, 4, 4)
        System.arraycopy(data, 0, out, 8, data.length)
        val crc = new java.util.zip.CRC32(); crc.update(out, 4, 4 + data.length)
        val v = crc.getValue.toInt
        out(8 + data.length) = (v >>> 24).toByte
        out(9 + data.length) = ((v >>> 16) & 0xff).toByte
        out(10 + data.length) = ((v >>> 8) & 0xff).toByte
        out(11 + data.length) = (v & 0xff).toByte
        out
      }
      Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
        chunk("IHDR", ihdr) ++ chunk("IDAT", MediaOps.zlibStored(pngRaw)) ++
        chunk("IEND", Array.emptyByteArray)
    }
    val fg = MediaOps.decodeOne(MediaOps.MediaIn(5L, png, "image/png"))
    assert((fg.width, fg.height) == (1L, 2L))
    assert(fg.pixel_sum == pngPixels.sum)
    assert(fg.n_bytes == png.length.toLong && png.length == 68 + 2 * (1 + 3 * 1))

    // a corrupted PNG byte must trip the CRC check, not decode quietly
    // (layout: sig 8 + IHDR 25 → IDAT length@33 type@37 data@41; byte 50
    // sits inside the stored-block pixel payload)
    val broken = png.clone()
    broken(50) = (broken(50) ^ 0x01).toByte
    val crcErr = intercept[IllegalArgumentException] {
      MediaOps.decodeOne(MediaOps.MediaIn(6L, broken, "image/png"))
    }
    assert(crcErr.getMessage.contains("CRC"))

    // malformed containers are loud errors, not silent skips
    intercept[IllegalArgumentException] {
      MediaOps.decodeOne(MediaOps.MediaIn(3L, Array[Byte]('X', 'Y', 0), "x"))
    }
    intercept[IllegalArgumentException] { // truncated pixel data
      MediaOps.decodeOne(MediaOps.MediaIn(4L, "P6\n4 4\n255\n12".getBytes, "p"))
    }
  }

  test("p10 encode->decode roundtrip recovers the pixel rule on all three formats") {
    import spark.implicits._
    val texts = Map(42L -> "a mod-0 doc", 7L -> "a mod-1 doc", 8L -> "a mod-2 doc")
    val in = texts.toSeq.map { case (id, t) => MediaOps.encodeImage(id, t) }.toDS()
    val out = MediaOps.decode(in).collect().sortBy(_.doc_id)
    assert(out.map(f => f.doc_id -> f.fmt).toMap == Map(
      42L -> "image/x-portable-pixmap", 7L -> "image/bmp", 8L -> "image/png"))
    out.foreach { f =>
      val nb = texts(f.doc_id).getBytes("UTF-8").length
      val (w, h) = MediaOps.dims(nb)
      assert((f.width, f.height) == (w.toLong, h.toLong))
      val expected = (0 until w * h * 3).map(i => (f.doc_id * 31 + i * 7) % 256).sum
      assert(f.pixel_sum == expected, s"doc ${f.doc_id}")
      if (f.doc_id == 8L)
        assert(f.n_bytes == 68L + h * (1 + 3 * w), "PNG size arithmetic")
    }
  }

  test("p10 rollup matches a SQL recomputation of the decoded features (oracle shape)") {
    // the same check the driver's DuckDB gate performs, done Spark-side:
    // the typed mapPartitions decode rollup must equal a pure-SQL
    // recomputation of the container/pixel arithmetic
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    docs.createOrReplaceTempView("documents")
    val sqlSide = spark.sql(
      """WITH d AS (
        |  SELECT doc_id,
        |    8 + length(encode(text, 'UTF-8')) % 9 AS w,
        |    4 + length(encode(text, 'UTF-8')) % 5 AS h,
        |    CASE WHEN doc_id % 3 = 0 THEN 'image/x-portable-pixmap'
        |         WHEN doc_id % 3 = 2 THEN 'image/png'
        |         ELSE 'image/bmp' END AS fmt
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, fmt, w, h,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN length(concat('P6\n', w, ' ', h, '\n255\n')) + w*h*3
        |      WHEN doc_id % 3 = 2
        |      THEN 68 + h * (1 + 3*w)
        |      ELSE 54 + h * (((3*w + 3) div 4) * 4)
        |    END AS n_bytes,
        |    aggregate(sequence(0, w*h*3 - 1), CAST(0 AS BIGINT),
        |      (acc, i) -> acc + (doc_id*31 + i*7) % 256) AS pixel_sum
        |  FROM d)
        |SELECT fmt, count(*) AS n_media, sum(w*h) AS total_pixels,
        |  sum(n_bytes) AS total_bytes, sum(pixel_sum) AS pixel_sum_total
        |FROM f GROUP BY fmt ORDER BY fmt""".stripMargin).collect()
    val typed = run("p10_media_decode").collect()
    assert(typed.length == 3 && sqlSide.length == 3) // all three formats present
    typed.zip(sqlSide).foreach { case (t, s) =>
      assert(t.getString(0) == s.getString(0))
      (1 to 4).foreach(i => assert(t.getLong(i) == s.getLong(i),
        s"${t.getString(0)} col $i"))
    }
  }

  test("p19 IVF: k ranked results per query from probed lists; recall vs exact") {
    val out = run("p19_ann_ivf").collect()
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.size == 20)
    byQ.foreach { case (_, rs) =>
      assert(rs.map(_.getLong(2)).sorted.toSeq == (1L to rs.length))
      assert(rs.length <= 5)
      val sims = rs.sortBy(_.getLong(2)).map(_.getDouble(3))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
    // nprobe=2 of ~√N ≈ 22 lists scans ~2√N/N of the corpus; on near-orthogonal
    // synthetic vectors the probed lists still contain a nontrivial share
    // of the true top-5 — floor guards a broken probe join, not IVF quality
    val truth = run("p07_cosine_topk").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = truth.count(found).toDouble / truth.size
    assert(recall >= 0.1, s"recall $recall")
    // VERDICT r4 #7: the Lloyd round must hold or improve recall vs the
    // raw seed codebook (both deterministic — no slack needed)
    val seedFound = PipelineOps.ivfSeedOnly(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val seedRecall = truth.count(seedFound).toDouble / truth.size
    assert(recall >= seedRecall,
      s"Lloyd-refined recall $recall fell below seed-codebook recall $seedRecall")
  }

  test("p19 honors spark.graft.ivfNProbe: recall is monotone in nprobe; probe-all is exact") {
    // VERDICT r10 #3: nprobe is THE IVF recall/cost dial. Probing every
    // list makes the candidate set the whole corpus, so the ranked output
    // must EQUAL the exact brute-force top-k (p07) — no slack, the
    // candidate-superset argument is exact. Recall at nprobe=4 must hold
    // or improve on the default 2 (candidate sets grow monotonically).
    val truth = run("p07_cosine_topk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def pairs(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val atDefault = pairs(run("p19_ann_ivf").collect())
    try {
      spark.conf.set("spark.graft.ivfNProbe", "4")
      val at4 = pairs(run("p19_ann_ivf").collect())
      val truthPairs = truth.map(t => (t._1, t._2))
      assert(truthPairs.count(at4) >= truthPairs.count(atDefault),
        "recall must be monotone in nprobe")
      spark.conf.set("spark.graft.ivfNProbe", "4096")
      val all = run("p19_ann_ivf").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(all == truth, "probe-all IVF must equal exact brute-force top-k")
    } finally spark.conf.unset("spark.graft.ivfNProbe")
  }

  test("p19/p67 codebook rate is derived: K ≈ √N at any corpus size; config overrides") {
    // VERDICT r9 #1: the sampling rate was a hard constant 32 tuned to the
    // N=500 gate corpus; it is now chooseIvfMod(count) = round(√N), so the
    // codebook broadcast holds its O(√N) contract at ANY corpus size
    Seq(500L, 50000L, 5000000L, 10000000000L).foreach { n =>
      val mod = PipelineOps.chooseIvfMod(n)
      val k = n.toDouble / mod
      val target = math.sqrt(n.toDouble)
      assert(math.abs(k - target) / target <= 0.05,
        s"n=$n mod=$mod implies K=$k, target √N=$target")
    }
    assert(PipelineOps.chooseIvfMod(1L) == 2, "degenerate floor")
    // monotone: a bigger corpus never gets a finer sampling rate
    val mods = Seq(1L, 500L, 2000L, 50000L, 5000000L).map(PipelineOps.chooseIvfMod)
    assert(mods == mods.sorted, s"chooseIvfMod must be monotone, got $mods")
    // the live path lands on chooseIvfMod(500) = 22 at the gate corpus,
    // and `spark.graft.ivfCentroidMod` overrides it (plan-observable)
    val derived = PipelineOps.queries("p19_ann_ivf")(spark, dir)
      .queryExecution.analyzed.toString
    assert(derived.contains(s"cast(${PipelineOps.chooseIvfMod(500L)} as bigint)"),
      "p19 seed filter must carry the count-derived mod")
    spark.conf.set("spark.graft.ivfCentroidMod", "32")
    try {
      val overridden = PipelineOps.queries("p19_ann_ivf")(spark, dir)
      assert(overridden.queryExecution.analyzed.toString.contains("cast(32 as bigint)"),
        "the config override must reach the seed filter")
      assert(overridden.count() > 0)
    } finally spark.conf.unset("spark.graft.ivfCentroidMod")
  }

  test("p19 multi-round Lloyd: r=1 equals the one-shot path, drift converges, recall holds") {
    // VERDICT r6 #5: `spark.graft.ivfLloydRounds` caps a driver-iterative
    // Lloyd loop (default 1 = the frozen-oracle one-shot SQL). The
    // iterative path at one round must be row-identical to the one-shot
    // text — same arithmetic, different execution shape.
    spark.read.parquet(s"$dir/embeddings.parquet").createOrReplaceTempView("embeddings")
    graft.functions.GraftFunctions.registerDot(spark)
    val oneShot = run("p19_ann_ivf").collect().map(_.toString).sorted.toSeq
    val (iter1, drifts1) = PipelineOps.ivfIterative(spark, 1)
    assert(iter1.collect().map(_.toString).sorted.toSeq == oneShot,
      "iterative path at rounds=1 must equal the one-shot Lloyd SQL")
    assert(drifts1.length == 1 && drifts1.head > 0.0,
      s"the first refinement must move the seed centroids, drifts=$drifts1")
    // more rounds: drift reaches an exact 0 fixpoint (micro-unit quantized
    // means) within the cap, the loop stops early, and recall vs the exact
    // top-k holds or improves on the SEED codebook at every round count
    val truth = run("p07_cosine_topk").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(pairs: Set[(Long, Long)]) = truth.count(pairs).toDouble / truth.size
    val seedRecall = recallOf(PipelineOps.ivfSeedOnly(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet)
    val (iterN, driftsN) = PipelineOps.ivfIterative(spark, 16)
    assert(driftsN.length < 16 && driftsN.last == 0.0,
      s"Lloyd must hit the exact fixpoint before the 16-round cap, drifts=$driftsN")
    assert(driftsN.init.forall(_ > 0.0), s"only the final round may be drift-free: $driftsN")
    val convergedRecall = recallOf(iterN.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet)
    assert(convergedRecall >= seedRecall,
      s"converged recall $convergedRecall fell below seed recall $seedRecall")
    // the config route drives the same path through the public operator
    spark.conf.set("spark.graft.ivfLloydRounds", "2")
    try {
      val viaConf = run("p19_ann_ivf")
      assert(viaConf.count() > 0)
    } finally spark.conf.unset("spark.graft.ivfLloydRounds")
  }

  test("p15 stratified sample: deterministic, ~10% per stratum, rerun-stable") {
    val out = run("p15_sample_stratified").collect()
    assert(out.nonEmpty)
    val total = out.map(_.getLong(1)).sum
    val sampled = out.map(_.getLong(2)).sum
    assert(sampled > 0 && sampled < total)
    assert(math.abs(sampled.toDouble / total - 0.1) < 0.05) // md5 buckets ≈ uniform
    val again = run("p15_sample_stratified").collect()
    assert(out.map(_.toString).sorted.toSeq == again.map(_.toString).sorted.toSeq)
  }

  test("p16 dedup clusters: partition all docs; reps are component minima of p04 pairs") {
    val total = spark.read.parquet(s"$dir/documents.parquet").count()
    val out = run("p16_dedup_clusters").collect()
    assert(out.map(_.getLong(1)).sum == total) // clusters partition the corpus
    // every p04 near-dup pair must land in the same cluster
    val pairs = run("p04_minhash_lsh").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    // build doc -> cluster map from members: reconstruct via rep and sum is
    // not enough, so check cluster count: docs - distinct-components-merged
    val nClusters = out.length
    // union-find ground truth component count
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    pairs.foreach { case (a, b) => val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val merged = pairs.flatMap(p => Seq(p._1, p._2)).distinct.count(x => find(x) != x)
    assert(nClusters == total - merged, s"expected ${total - merged} clusters, got $nClusters")
  }

  test("p16 label propagation converges on an adversarial chain topology (diameter > 6)") {
    // path graph 0-1-2-…-12: min-label 0 travels ONE hop per round, so a
    // fixed-3-round unroll would leave labels {0,0,0,0,1,2,…} — the loop
    // must iterate to the fixpoint where every node carries label 0 (the
    // union-find ground truth for a single component). The loop runs on
    // the raw chain: labelPropagate would hand it a spanning forest, which
    // for a single-partition chain is already a star.
    import spark.implicits._
    val n = 13L
    val edges = (0L until n - 1).flatMap(i => Seq((i, i + 1), (i + 1, i))).toDF("a", "b")
    val out = PipelineOps.labelLoop(edges, 2 * (n - 1)).collect()
    assert(out.length == n)
    assert(out.forall(_.getLong(1) == 0L),
      s"chain not fully merged: ${out.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).mkString(",")}")
  }

  test("p16 label propagation auto-escalates to star contraction when the cap fires") {
    // diameter 9 with maxRounds 2: flooding alone CANNOT close the chain in
    // 2 rounds, so this exercises the VERDICT r5 #2 escalation path — the
    // residual labeling hands off to StarContraction.labels and the result
    // must still be the exact union-find ground truth (all labels 0)
    import spark.implicits._
    val edges = (0L until 9L).flatMap(i => Seq((i, i + 1), (i + 1, i))).toDF("a", "b")
    val out = PipelineOps.labelLoop(edges, 18L, maxRounds = 2).collect()
    assert(out.length == 10)
    assert(out.forall(_.getLong(1) == 0L),
      s"escalation failed to close the chain: ${out.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).mkString(",")}")
  }

  /** Chains 5k-…-5k+4 for k < 8 as a one-direction (ida, idb) pair plan
    * over `ids` = 0 until 32, row i → pair (5(i/4) + i%4, +1); component
    * min = 5 * (id / 5). */
  private def chainPairs(ids: org.apache.spark.sql.Dataset[_]) = {
    import org.apache.spark.sql.functions.col
    val ida = (col("id") / 4).cast("long") * 5 + col("id") % 4
    ids.select(ida.as("ida"), (ida + 1).as("idb"))
  }
  private val chainLabels = (0L until 40L).map(i => i -> 5L * (i / 5)).toMap

  test("below the driver bound labelPropagate submits exactly one Spark job") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.functions.col
    // no exchange: the pair plan is one stage, so labelling is one job
    val flat = chainPairs(spark.range(0L, 32L, 1L, 4))
    val (labels, jobs) = TestSpark.jobsOf(PipelineOps.labelPropagate(flat))
    assert(jobs == 1)
    assert(labels.queryExecution.analyzed.isInstanceOf[LocalRelation])
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == chainLabels)
    // an exchange: the pair plan's own jobs (its shuffle stage, its last
    // stage), with the forest computed in the last stage's job
    val shuffled = chainPairs(spark.range(0L, 32L, 1L, 4).repartition(3, col("id")))
    val (_, planJobs) = TestSpark.jobsOf(shuffled.collect())
    val (labels2, jobs2) = TestSpark.jobsOf(PipelineOps.labelPropagate(shuffled))
    assert(jobs2 == planJobs)
    assert(labels2.queryExecution.analyzed.isInstanceOf[LocalRelation])
    assert(labels2.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == chainLabels)
  }

  test("above the driver bound the pair plan executes once and the loop labels its forest") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.functions.{col, udf}
    val seen = spark.sparkContext.longAccumulator("graft.test.pairRows")
    val tick = udf { (_: Long) => seen.add(1L); true }
    val pairs = chainPairs(spark.range(0L, 32L, 1L, 4).where(tick(col("id"))))
    val got = TestSpark.onLabelLoop {
      val labels = PipelineOps.labelPropagate(pairs)
      assert(!labels.queryExecution.analyzed.isInstanceOf[LocalRelation])
      labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(seen.value == 32L, s"the pair plan ran ${seen.value / 32.0} times")
    assert(got == chainLabels)
  }

  test("p16 joins its labels as a local relation; broadcast off joins the loop's barrier") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LocalRelation, LogicalPlan}
    import org.apache.spark.sql.execution.LogicalRDD
    def labelSides(p: LogicalPlan) = p.collect { case j: Join => j.right }
    val driver = run("p16_dedup_clusters").queryExecution.analyzed
    assert(labelSides(driver).exists(_.collectFirst { case l: LocalRelation => l }.nonEmpty),
      s"p16 labels are not a local relation:\n$driver")
    assert(driver.collectFirst { case r: LogicalRDD => r }.isEmpty,
      s"p16 still reads a materialized barrier:\n$driver")
    val loop = TestSpark.onLabelLoop(run("p16_dedup_clusters").queryExecution.analyzed)
    assert(labelSides(loop).exists(_.collectFirst { case r: LogicalRDD => r }.nonEmpty),
      s"broadcast off did not take the label loop:\n$loop")
    assert(loop.collectFirst { case l: LocalRelation => l }.isEmpty)
  }

  test("p22 embed dedup: keep-list matches union-find over the SRP pairs at the dup threshold") {
    val out = run("p22_embed_dedup").collect()
    val total = spark.read.parquet(s"$dir/embeddings.parquet").count()
    assert(out.length == total) // one keep-list row per vector
    out.foreach { r =>
      assert(r.getLong(1) <= r.getLong(0), "rep must be the component MIN")
      assert(r.getBoolean(2) == (r.getLong(0) != r.getLong(1)))
    }
    // ground truth: p08's verified pairs (same SRP candidates, sim rounded
    // to 1e-6) filtered at the dup threshold. Guard: no pair may sit in the
    // rounding-ambiguity window [0.3999995, 0.4], where the rounded filter
    // could disagree with p22's exact-cos filter.
    val p08 = run("p08_ann_srp_lsh").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(!p08.exists(p => p._3 >= 0.3999995 && p._3 < 0.4000005),
      "boundary-ambiguous pair in testdata — pick ground truth differently")
    val pairs = p08.collect { case (a, b, sim) if sim >= 0.4 => (a, b) }
    assert(pairs.nonEmpty, "testdata has no dup pairs at 0.4 — test is vacuous")
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    pairs.foreach { case (a, b) => val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    // component min == union-find root here BECAUSE merges always point the
    // larger root at the smaller one
    out.foreach { r =>
      assert(r.getLong(1) == find(r.getLong(0)),
        s"vec ${r.getLong(0)}: rep ${r.getLong(1)} != union-find root ${find(r.getLong(0))}")
    }
  }

  test("p22 dup threshold is a live config: 0.99 yields all-singleton keep-list") {
    spark.conf.set("spark.graft.embDupThreshold", "0.99")
    try {
      val out = run("p22_embed_dedup").collect()
      assert(out.nonEmpty)
      assert(out.forall(r => !r.getBoolean(2) && r.getLong(0) == r.getLong(1)),
        "synthetic corpus max cosine ~0.51 — nothing may be a dup at 0.99")
    } finally spark.conf.unset("spark.graft.embDupThreshold")
  }

  test("p22 end-to-end result is cap-invariant (cap=1 routes through escalation)") {
    // mirror of the p16 cap-invariance property: capping the flooding
    // rounds at 1 must yield EXACTLY the same keep-list — either flooding
    // converges in one round (all components are single edges) or the
    // star-contraction escalation closes the rest. The capped run takes
    // the loop path (broadcast off), the default run the driver path.
    val expected = run("p22_embed_dedup").collect().map(_.toSeq).toSeq
    spark.conf.set("spark.graft.labelMaxRounds", "1")
    try {
      val capped = TestSpark.onLabelLoop(run("p22_embed_dedup").collect().map(_.toSeq).toSeq)
      assert(capped == expected, "cap=1 p22 keep-list differs from default-cap keep-list")
    } finally spark.conf.unset("spark.graft.labelMaxRounds")
  }

  test("p16 end-to-end result is cap-invariant (escalation kicks in at cap=1)") {
    // with spark.graft.labelMaxRounds=1 the dup-graph cannot converge by
    // flooding (any component of diameter >1 needs more rounds), so p16Run
    // must route through star contraction — and produce EXACTLY the same
    // clusters as the default-cap run. The capped run takes the loop path
    // (broadcast off), the default run the driver path.
    val expected = run("p16_dedup_clusters").collect().map(_.toSeq).toSeq
    spark.conf.set("spark.graft.labelMaxRounds", "1")
    try {
      val capped = TestSpark.onLabelLoop(run("p16_dedup_clusters").collect().map(_.toSeq).toSeq)
      assert(capped == expected, "cap=1 (escalated) clusters differ from default-cap clusters")
    } finally spark.conf.unset("spark.graft.labelMaxRounds")
  }

  test("p08 bucket width follows the corpus: r ~ log2(N/32), clamped to [4,12]") {
    assert(PipelineOps.chooseSrpBits(1L) == 4)
    assert(PipelineOps.chooseSrpBits(500L) == 4)   // correctness-gate corpus → oracle operating point
    assert(PipelineOps.chooseSrpBits(2000L) == 6)  // bench corpus (sf0.1)
    assert(PipelineOps.chooseSrpBits(5000L) == 8)
    assert(PipelineOps.chooseSrpBits(100000000L) == 12)
  }

  test("p08 band count is derived with r per the recall law, floored at the gate baseline") {
    assert(PipelineOps.chooseSrpGeometry(500L) == ((4, 8)))   // gate geometry FROZEN (oracle)
    assert(PipelineOps.chooseSrpGeometry(2000L) == ((6, 8)))  // floor binds
    assert(PipelineOps.chooseSrpGeometry(5000L) == ((8, 10))) // rule exceeds floor
    assert(PipelineOps.chooseSrpGeometry(100000000L) == ((12, 23))) // clamp point
    // the plane matrix must serve the widest derivable geometry (ADVICE r5)
    assert(PipelineOps.SrpBandsMax == 23)
  }

  test("p17 quality filter: every doc judged once; keep matches reason") {
    val out = run("p17_quality_filter").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val reason = r.getString(r.fieldIndex("reason"))
      val keep = r.getBoolean(r.fieldIndex("keep"))
      assert(keep == (reason == "ok"))
      assert(Set("ok", "length", "stopword", "repetition")(reason))
    }
    assert(out.exists(_.getBoolean(2)), "some docs should pass")
  }

  test("p18 text clean: removal counts are consistent and checksum changes iff words removed") {
    val out = run("p18_text_clean").collect()
    assert(out.nonEmpty)
    assert(out.exists(_.getLong(1) > 0), "fillers exist in the corpus")
  }

  test("p20 curation funnel is monotone and consistent with its stages") {
    val out = run("p20_curation").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val Seq(docs, uniq, qual, samp) = (1 to 4).map(r.getLong)
      assert(docs >= uniq && uniq >= qual && qual >= samp, r.toString)
    }
    val totalDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(out.map(_.getLong(1)).sum == totalDocs)
    // dedup stage agrees with p16: unique count == cluster count
    assert(out.map(_.getLong(2)).sum == run("p16_dedup_clusters").count())
  }

  test("p21 decontam: flags exactly the training docs sharing an 8-gram with the eval set") {
    // ground truth by brute force over word arrays
    val docs = spark.read.parquet(s"$dir/documents.parquet").collect()
      .map(r => (r.getLong(r.fieldIndex("doc_id")),
        r.getString(r.fieldIndex("text")).trim.split("\\s+").toSeq))
    def grams(ws: Seq[String]) = ws.sliding(8).filter(_.length == 8).map(_.mkString(" ")).toSet
    val evalGrams = docs.filter(_._1 < 20).flatMap(d => grams(d._2)).toSet
    val expected = docs.filter(_._1 >= 20)
      .map { case (id, ws) => id -> grams(ws).count(evalGrams) }
      .filter(_._2 > 0).toMap
    val out = run("p21_decontam").collect()
      .map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    assert(out == expected, s"got $out expected $expected")
    assert(expected.nonEmpty, "testdata should contain eval-overlapping docs")
  }

  test("p21 chunked eval-set path (>=1e5 grams) matches brute force and the fast path") {
    // VERDICT r5 #3: the single-array form carries the whole eval gram set
    // in ONE row value — fine for real benchmark suites, a ceiling at
    // production list sizes. This drives p21 with a synthetic eval corpus
    // of ~120k distinct 8-grams (past the 1e5 bar) and asserts the chunked
    // (B=16) path is row-identical to both the single-array path and a
    // Scala brute-force ground truth.
    import spark.implicits._
    val evalDocs = (0L until 20L).map { id =>
      (id, (0 until 6000).map(i => s"w${id}_$i").mkString(" "))
    }
    // even training docs embed a verbatim 40-word slice of eval doc id%20
    // (33 contaminated grams); odd docs are clean filler
    val trainDocs = (20L until 50L).map { id =>
      if (id % 2 == 0) {
        val slice = (100 until 140).map(i => s"w${id % 20}_$i").mkString(" ")
        (id, (0 until 30).map(i => s"t${id}_a$i").mkString(" ") + " " + slice + " " +
          (0 until 30).map(i => s"t${id}_b$i").mkString(" "))
      } else (id, (0 until 100).map(i => s"t${id}_$i").mkString(" "))
    }
    val docs = evalDocs ++ trainDocs
    // brute-force ground truth over word arrays
    def grams(ws: Seq[String]) = ws.sliding(8).filter(_.length == 8).map(_.mkString(" ")).toSet
    val evalGrams = evalDocs.flatMap(d => grams(d._2.split(" ").toSeq)).toSet
    assert(evalGrams.size >= 100000, s"eval set too small: ${evalGrams.size}")
    val expected = trainDocs
      .map { case (id, t) => id -> grams(t.split(" ").toSeq).count(evalGrams).toLong }
      .filter(_._2 > 0).toMap
    assert(expected.nonEmpty && expected.keySet.forall(_ % 2 == 0))

    docs.toDF("doc_id", "text").createOrReplaceTempView("documents")
    spark.conf.set("spark.graft.decontamBuckets", "1")
    val single = try {
      PipelineOps.p21RunOnView(spark).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    } finally spark.conf.unset("spark.graft.decontamBuckets")
    assert(single == expected, s"single-array path: got $single expected $expected")
    spark.conf.set("spark.graft.decontamBuckets", "16")
    try {
      val chunked = PipelineOps.p21RunOnView(spark).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(chunked == expected, s"chunked path: got $chunked expected $expected")
    } finally spark.conf.unset("spark.graft.decontamBuckets")
    // VERDICT r6 #1: with the config UNSET, B is derived from the
    // eval-gram count — ~120k grams → B=2 — and the salted chunked path
    // (S = ceil(partitions/B) = 2 at the suite's 4 shuffle partitions)
    // must still be row-identical to brute force.
    assert(PipelineOps.deriveDecontamBuckets(spark) == 2,
      s"~120k eval grams should derive B=2")
    assert(PipelineOps.decontamSalt(spark, 2) == 2)
    val derived = PipelineOps.p21RunOnView(spark).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(derived == expected, s"derived-B path: got $derived expected $expected")
  }

  test("p21 bucket-count derivation law and gate-scale default") {
    // the chooseSrpGeometry-style law: B = clamp(ceil(n/65536), 1, 4096)
    assert(PipelineOps.chooseDecontamBuckets(0L) == 1)
    assert(PipelineOps.chooseDecontamBuckets(10000L) == 1)
    assert(PipelineOps.chooseDecontamBuckets(65536L) == 1)
    assert(PipelineOps.chooseDecontamBuckets(65537L) == 2)
    assert(PipelineOps.chooseDecontamBuckets(120000L) == 2)
    assert(PipelineOps.chooseDecontamBuckets(100000000L) == 1526)
    assert(PipelineOps.chooseDecontamBuckets(Long.MaxValue) == 4096)
    // at the correctness-gate corpus the derived B must be 1 (fast path,
    // frozen oracle untouched)
    spark.read.parquet(s"$dir/documents.parquet").createOrReplaceTempView("documents")
    assert(PipelineOps.deriveDecontamBuckets(spark) == 1,
      "gate-scale eval set must stay on the B=1 fast path")
    // salt degenerates to 1 once B covers the partition count
    assert(PipelineOps.decontamSalt(spark, 16) == 1)
  }

  test("p23 packing: bins conserve tokens, straddles bounded, bins contiguous") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    docs.createOrReplaceTempView("documents")
    val totalTok = spark.sql(
      "SELECT CAST(sum(size(split(trim(text), '\\\\s+'))) AS BIGINT) FROM documents")
      .collect()(0).getLong(0)
    val out = run("p23_pack_sequences").collect()
    assert(out.map(_.getLong(out.head.fieldIndex("n_tokens"))).sum == totalTok,
      "packing must conserve every token exactly once")
    // a doc straddles at most once per START bin entry; straddle count <= doc count
    out.foreach { r =>
      assert(r.getLong(r.fieldIndex("n_straddle")) <= r.getLong(r.fieldIndex("n_docs")))
    }
    // bin ids of START bins are sorted and first bin is 0
    val ids = out.map(_.getLong(0))
    assert(ids.head == 0L && (ids sameElements ids.sorted))
  }

  test("p23 packing is chunk-size invariant (distributed prefix sum == global cumsum)") {
    // the two-level decomposition must be EXACTLY the global running sum
    // for ANY chunking — chunk=1 (one chunk per doc: all weight on the
    // chunk-total pass) and chunk=7 (misaligned with everything) included
    val expected = run("p23_pack_sequences").collect().map(_.toSeq).toSeq
    for (c <- Seq("1", "7", "1000000")) {
      spark.conf.set("spark.graft.packChunkDocs", c)
      try {
        val got = run("p23_pack_sequences").collect().map(_.toSeq).toSeq
        assert(got == expected, s"chunkDocs=$c packing differs from default")
      } finally spark.conf.unset("spark.graft.packChunkDocs")
    }
  }

  test("p23 chunk divisor derives from the id span: sparse id spaces stay bounded") {
    import spark.implicits._
    // dense ids at the gate scale: the config floor (64) wins
    assert(PipelineOps.derivePackChunkDocs(spark,
      spark.read.parquet(s"$dir/documents.parquet")) == 64L)
    // a snowflake-style sparse id space: span >> count. A fixed divisor
    // would make one chunk per doc (the chunk-totals relation becomes
    // corpus-sized); the derived divisor bounds chunks at 4096
    val sparse = Seq.tabulate(100)(i => (i.toLong * 1000000007L, "w w w")).toDF("doc_id", "text")
    sparse.createOrReplaceTempView("documents")
    val d = PipelineOps.derivePackChunkDocs(spark, sparse)
    val span = 99L * 1000000007L + 1
    assert(d >= span / 4096, s"divisor $d leaves more than 4096 chunks")
    // and the packing still equals the global-cumsum spec at that divisor
    def pack(chunkDocs: Long) =
      Graft.compileSession(PipelineRelational.p23(chunkDocs), spark).collect().map(_.toSeq).toSeq
    val got = pack(d)
    val expect = pack(1000000000000L) // one chunk: trivially the global cumsum
    assert(got == expect, "derived-divisor packing diverged from the global cumsum")
  }

  test("p27 shard count is a live config: 4 shards still partition the corpus") {
    val total = spark.read.parquet(s"$dir/documents.parquet").count()
    spark.conf.set("spark.graft.shuffleShards", "4")
    try {
      val out = run("p27_shuffle_shard").collect()
      assert(out.map(_.getLong(1)).sum == total)
      assert(out.map(_.getLong(0)).forall(s => s >= 0 && s < 4))
    } finally spark.conf.unset("spark.graft.shuffleShards")
  }

  test("p75 mixture weights equal the JVM temperature law; alpha knob flattens monotonically") {
    val out = run("p75_mixture_weights").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.length >= 2)
    // JVM reference: p_s ∝ n_s^0.3, every output fixed-pointed at 1e6
    val nTotal = out.map(_._2).sum
    val qs = out.map { case (l, n, _, _, _) => l -> math.pow(n.toDouble, 0.3) }.toMap
    val qsum = qs.values.sum
    out.foreach { case (lang, n, nat, w, boost) =>
      assert(nat == math.floor(1e6 * n / nTotal + 0.5).toLong, s"$lang nat_ppm")
      assert(w == math.floor(1e6 * qs(lang) / qsum + 0.5).toLong, s"$lang w_ppm")
      assert(boost == math.floor(1e6 * (qs(lang) / qsum) * nTotal / n + 0.5).toLong,
        s"$lang boost_u")
    }
    // the temperature law's point: rare languages boost up (>1e6), the
    // dominant one boosts down (<1e6); smoothed shares sum to ~1e6
    val dominant = out.maxBy(_._2)
    val rarest = out.minBy(_._2)
    assert(rarest._5 > 1000000L, s"rarest ${rarest._1} must up-sample, got ${rarest._5}")
    assert(dominant._5 < 1000000L, s"dominant ${dominant._1} must down-sample, got ${dominant._5}")
    assert(math.abs(out.map(_._4).sum - 1000000L) <= out.length,
      s"smoothed shares must sum to ~1e6, got ${out.map(_._4).sum}")
    // α → 1 recovers the natural distribution exactly (pow(n,1) = n)
    spark.conf.set("spark.graft.mixtureAlpha", "1.0")
    try {
      val nat1 = run("p75_mixture_weights").collect()
        .map(r => (r.getString(0), r.getLong(2), r.getLong(3)))
      nat1.foreach { case (lang, nat, w) =>
        assert(nat == w, s"alpha=1 must leave the mixture natural: $lang $nat vs $w")
      }
    } finally spark.conf.unset("spark.graft.mixtureAlpha")
  }

  test("p76 stitch merge: planted continuations merge with exact signature and word count") {
    val out = run("p76_stitch_merge").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(out.nonEmpty)
    // JVM reference for the PLANTED pairs: doc d (d % 9 == 4, >= K words)
    // gains continuation d + 2^41 whose text is d's last-8 words + the
    // fixed tail; merged = d.text + ' ' + tail (the K-word overlap drops)
    val k = 8
    val off = 2199023255552L
    def md5hex(s: String) = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val byPair = out.map(p => (p._1, p._2) -> p).toMap
    var planted = 0
    docs.foreach { case (id, text) =>
      val words = text.trim.split("\\s+").filter(_.nonEmpty)
      if (id % 9 == 4 && words.length >= k) {
        val contId = id + off
        byPair.get((id, contId)).foreach { case (_, _, sig, mw) =>
          planted += 1
          val contWords = words.takeRight(k) ++ Seq("stitched", "continuation", "segment")
          val merged = text + " " + "stitched continuation segment"
          assert(sig == md5hex(merged), s"doc $id merged_sig")
          assert(mw == words.length + contWords.length - k, s"doc $id merged_words")
        }
      }
    }
    assert(planted > 10, s"the planted continuation class must dominate, got $planted")
    // tie rule: each doc appears at most once on each side
    assert(out.map(_._1).distinct.length == out.length, "a_id must be unique")
    assert(out.map(_._2).distinct.length == out.length, "b_id must be unique")
    // every merged pair is a true p69 stitch (consumer consistency)
    val p69 = run("p69_boundary_overlap").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.forall(p => p69((p._1, p._2))),
      "every merged pair must come from the p69 stitch relation")
  }

  /** JVM reference for the exact bitext margin (p77) at calibration width
    * `k`: returns (bestTgt per src, bestSrc per tgt, margin fn, cosu map). */
  private def bitextReference(k: Int): (Map[Long, (Long, Long)], Map[Long, (Long, Long)],
      ((Long, Long)) => Double, Map[(Long, Long), Long], Int) = {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }; s
    }
    val src = emb.filter(_._3 < 5).sortBy(_._1)
    val tgt = emb.filter(_._3 >= 5).sortBy(_._1)
    val n2 = emb.map { case (id, v, _) => id -> dot(v, v) }.toMap
    // quantized pair cosines (the operator's micro-unit carrier)
    val cosu = (for {
      (si, sv, _) <- src; (ti, tv, _) <- tgt
    } yield (si, ti) -> math.floor(dot(sv, tv) / (math.sqrt(n2(si)) * math.sqrt(n2(ti))) * 1e6 + 0.5).toLong).toMap
    // k-NN mass per side (top-k by cosu, ties broken by the other id ASC)
    def topMass(pairs: Seq[(Long, Long)], other: ((Long, Long)) => Long): Long =
      pairs.sortBy(p => (-cosu(p), other(p))).take(k).map(cosu).sum
    val sks = src.map(s => s._1 ->
      topMass(tgt.map(t => (s._1, t._1)), _._2)).toMap
    val skt = tgt.map(t => t._1 ->
      topMass(src.map(s => (s._1, t._1)), _._1)).toMap
    def margin(p: (Long, Long)): Double =
      cosu(p).toDouble * (2 * k) / math.max(sks(p._1) + skt(p._2), 1L)
    val bestTgt = src.map(s => s._1 ->
      tgt.map(t => (s._1, t._1)).minBy(p => (-margin(p), p._2))).toMap
    val bestSrc = tgt.map(t => t._1 ->
      src.map(s => (s._1, t._1)).minBy(p => (-margin(p), p._1))).toMap
    (bestTgt, bestSrc, margin, cosu, src.length)
  }

  test("label-less embeddings: p08/p22 run unchanged, p79 refuses with a named error") {
    // p79's half-split rides the SHARED SRP view; a deployment embeddings
    // table without `label` must not break the ops that never read it
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_nolbl").toString
    spark.read.parquet(s"$dir/embeddings.parquet").drop("label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val p08 = run("p08_ann_srp_lsh").collect().map(_.toSeq).toSet
    val p08NoLbl = PipelineOps.queries("p08_ann_srp_lsh")(spark, tmp)
      .collect().map(_.toSeq).toSet
    assert(p08NoLbl == p08, "p08 must be label-agnostic")
    assert(PipelineOps.queries("p22_embed_dedup")(spark, tmp).count() > 0)
    val e = intercept[IllegalArgumentException](
      PipelineOps.queries("p79_bitext_ann")(spark, tmp).collect())
    assert(e.getMessage.contains("label"), s"p79 must name the missing column: ${e.getMessage}")
  }

  test("p79 detection law holds with the DERIVED (r, b) at a production width the gate never reaches") {
    // the round-11 headline path must not only agree with exact p77 at the
    // gate geometry (4, 8) — the p08 two-sizes precedent: plant cross-half
    // near-translations of known cosine at a corpus size deriving (6, 8)
    // and assert each planted source's best-by-margin target is its
    // planted partner at the banding-formula rate (a planted pair is
    // found iff the halves share a band; once surfaced, its cos ≈ 0.9
    // dwarfs the random cross-cosine regime ~N(0, 1/8) so the margin
    // argmax keeps it).
    val dim = 64
    val nBase = 1000; val nPairs = 60
    val rnd = new scala.util.Random(79L)
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    def randVec(): Array[Double] = unit(Array.fill(dim)(rnd.nextGaussian()))
    val base = Array.fill(nBase)(randVec())
    val planted = (0 until nPairs).map { i =>
      val a = randVec()
      val s = 0.25 + 0.40 * i / nPairs
      val u = randVec()
      (a, unit(a.zip(u).map { case (x, e) => x + s * e }))
    }
    val rows: Seq[(Long, Seq[Float], Int)] =
      base.zipWithIndex.map { case (v, i) =>
        (i.toLong, v.map(_.toFloat).toSeq, i % 10) }.toSeq ++
      planted.zipWithIndex.flatMap { case ((a, b), i) =>
        Seq((nBase + 2L * i, a.map(_.toFloat).toSeq, 0),
            (nBase + 2L * i + 1, b.map(_.toFloat).toSeq, 9)) }
    val n = rows.length.toLong
    val (r, bands) = PipelineOps.chooseSrpGeometry(n)
    assert((r, bands) == ((6, 8)), s"N=$n must derive (6,8), got ($r,$bands)")
    val tmp = java.nio.file.Files.createTempDirectory("graft_p79").toString
    import spark.implicits._
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val best = PipelineOps.queries("p79_bitext_ann")(spark, tmp).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    def cosF(a: Array[Double], b: Array[Double]): Double = {
      val af = a.map(_.toFloat); val bf = b.map(_.toFloat)
      val d = af.zip(bf).map { case (x, y) => x.toDouble * y }.sum
      d / (math.sqrt(af.map(x => x.toDouble * x).sum) *
           math.sqrt(bf.map(x => x.toDouble * x).sum))
    }
    val detectP = planted.map { case (a, b) =>
      val p = 1.0 - math.acos(math.min(1.0, cosF(a, b))) / math.Pi
      1.0 - math.pow(1.0 - math.pow(p, r), bands)
    }
    val hits = (0 until nPairs).count { i =>
      best.get(nBase + 2L * i).contains(nBase + 2L * i + 1)
    }
    val mean = detectP.sum / nPairs
    val sd = math.sqrt(detectP.map(q => q * (1 - q)).sum) / nPairs
    assert(mean >= 0.9, s"operating point sanity: expected detection $mean")
    assert(hits.toDouble / nPairs >= mean - 3 * sd,
      s"planted-pair mining rate ${hits.toDouble / nPairs} below formula floor " +
        s"${mean - 3 * sd} ($hits/$nPairs) at derived (r=$r,b=$bands)")
  }

  test("p77 bitext margins equal the JVM reference; mutual flag is the two-way argmax") {
    val (bestTgt, bestSrc, margin, cosu, nSrc) = bitextReference(k = 4)
    val out = run("p77_bitext_margin").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4)))
    assert(out.length == nSrc, "one best match per source vector")
    out.foreach { case (s, t, m, c, mutual) =>
      val p = bestTgt(s)
      assert(t == p._2, s"src $s best target")
      assert(m == math.floor(margin(p) * 1e6 + 0.5) / 1e6, s"src $s margin")
      assert(c == cosu(p).toDouble / 1e6, s"src $s cosine")
      assert(mutual == (bestSrc(t) == p), s"src $s mutual flag")
    }
    // the margin actually recalibrates: it must not be a monotone renaming
    // of raw cosine (some source's best-by-margin differs from best-by-cos)
    val bestByCos = bestTgt.keys.map(s => s ->
      cosu.keys.filter(_._1 == s).minBy(p => (-cosu(p), p._2))._2).toMap
    assert(out.exists { case (s, t, _, _, _) => bestByCos(s) != t },
      "margin ranking must differ from raw-cosine ranking somewhere")
    // mutual pairs exist and are a strict subset
    assert(out.exists(_._5) && out.exists(!_._5))
  }

  test("p77 honors spark.graft.bitextKnnK: k=2 equals the k=2 JVM reference") {
    val (bestTgt, bestSrc, margin, cosu, nSrc) = bitextReference(k = 2)
    spark.conf.set("spark.graft.bitextKnnK", "2")
    try {
      val out = run("p77_bitext_margin").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4)))
      assert(out.length == nSrc)
      out.foreach { case (s, t, m, c, mutual) =>
        val p = bestTgt(s)
        assert(t == p._2, s"src $s best target at k=2")
        assert(m == math.floor(margin(p) * 1e6 + 0.5) / 1e6, s"src $s margin at k=2")
        assert(mutual == (bestSrc(t) == p), s"src $s mutual flag at k=2")
      }
      // the knob is live: k=2 must re-rank at least one source vs k=4
      val (bestTgt4, _, _, _, _) = bitextReference(k = 4)
      assert(out.exists { case (s, t, _, _, _) => bestTgt4(s)._2 != t },
        "k=2 and k=4 rankings must differ somewhere or the knob is dead")
    } finally spark.conf.unset("spark.graft.bitextKnnK")
  }

  test("p79 candidate-fronted bitext: exact cosines, coverage + rank agreement vs exact p77") {
    val (bestTgt, _, _, cosu, nSrc) = bitextReference(k = 4)
    val out = run("p79_bitext_ann").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4)))
    assert(out.nonEmpty)
    // one row per covered source; every emitted pair is a true cross-half
    // pair with the exact quantized cosine (the verify re-join is honest)
    assert(out.map(_._1).distinct.length == out.length)
    out.foreach { case (s, t, _, c, _) =>
      assert(cosu.contains((s, t)), s"($s,$t) not a cross-half pair")
      assert(c == cosu((s, t)).toDouble / 1e6, s"($s,$t) cosine")
    }
    // measured laws vs the exact baseline (the p08-vs-p07 precedent): the
    // gate corpus runs at chooseSrpGeometry(500) = (4, 8); banding recall
    // at this corpus's cos≈0.3 regime (~0.66 expected, the p08 numbers)
    // bounds top-1 agreement. Measured at first landing: coverage 1.0
    // (254/254 at sf0.01 and here), agreement 0.63 — floors sit under
    // that with slack for future plane/threshold tweaks.
    val coverage = out.length.toDouble / nSrc
    val agree = out.count { case (s, t, _, _, _) => bestTgt(s)._2 == t }
    val agreement = agree.toDouble / out.length
    assert(coverage >= 0.8, s"coverage $coverage (${out.length}/$nSrc)")
    assert(agreement >= 0.5, s"top-1 agreement $agreement ($agree/${out.length})")
  }

  test("p78 calibration bins equal the JVM rollup of p55's scores; bins partition the corpus") {
    val p55 = run("p55_nb_quality").collect().map(r => (r.getLong(1), r.getLong(2)))
    val rows = p55.map { case (lbl, s) =>
      val pu = math.floor((1.0 / (1.0 + math.exp(-s.toDouble / 1e6))) * 1e6 + 0.5).toLong
      (math.min(9L, pu / 100000), pu, lbl)
    }
    val ref = rows.groupBy(_._1).map { case (bin, xs) =>
      val n = xs.length
      val avg = math.floor(xs.map(_._2).sum.toDouble / n + 0.5).toLong
      val obs = math.floor(1e6 * xs.map(_._3).sum.toDouble / n + 0.5).toLong
      bin -> ((n.toLong, avg, obs, math.abs(avg - obs)))
    }
    val out = run("p78_calibration_bins").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out == ref, s"got $out\nexp $ref")
    assert(out.size >= 2, "both calibration ends must be populated at the gate")
    assert(out.values.map(_._1).sum == p55.length, "bins must partition the corpus")
    out.foreach { case (bin, (_, avg, _, _)) =>
      assert(avg >= bin * 100000 && (avg <= (bin + 1) * 100000 || bin == 9),
        s"bin $bin mean prediction $avg outside its edge")
    }
  }

  test("p80 per-language AUC equals the JVM midrank Mann-Whitney over p55's scores") {
    val lang = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val scored = run("p55_nb_quality").collect()
      .map(r => (lang(r.getLong(0)), r.getLong(1), r.getLong(2))) // (lang, y, score)
    val ref = scored.groupBy(_._1).flatMap { case (lg, xs) =>
      val n1 = xs.count(_._2 == 1L).toLong
      val n = xs.length.toLong
      if (n1 == 0 || n1 == n) None
      else {
        // the SQL's exact integer form: rk = 1 + #strictly-less, tc = #ties,
        // 2*midrank = 2*rk + tc - 1, summed over positives
        val r2 = xs.filter(_._2 == 1L).map { case (_, _, s) =>
          val rk = 1L + xs.count(_._3 < s)
          val tc = xs.count(_._3 == s).toLong
          2 * rk + tc - 1
        }.sum
        val auc = math.floor(1e6 * ((r2 - n1 * (n1 + 1)).toDouble / (2 * n1 * (n - n1))) + 0.5).toLong
        Some(lg -> ((n1, n - n1, auc)))
      }
    }
    val out = run("p80_quality_auc").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out == ref, s"got $out\nexp $ref")
    assert(out.nonEmpty, "at least one language must have both classes at the gate")
    out.values.foreach { case (_, _, auc) =>
      assert(auc >= 0L && auc <= 1000000L, s"AUC out of range: $auc")
    }
    // the filter must actually discriminate its own weak label somewhere
    // (NB trained on the stopword signal that defines the label)
    assert(out.values.exists(_._3 > 500000L), s"no language beats chance: $out")
  }

  test("p81 source-pair KS drift equals the exact JVM two-sample statistic") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1).trim.split("\\s+").length.toLong))
    val bySrc = docs.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val srcs = bySrc.keys.toSeq.sorted
    val ref = (for {
      (a, ia) <- srcs.zipWithIndex; b <- srcs.drop(ia + 1)
    } yield {
      val (va, vb) = (bySrc(a), bySrc(b))
      val (na, nb) = (va.length.toLong, vb.length.toLong)
      val vs = (va ++ vb).distinct.sorted
      val dmax = vs.map(v =>
        math.abs(va.count(_ <= v) * nb - vb.count(_ <= v) * na)).max
      (a, b) -> ((na, nb, math.floor(1e6 * (dmax.toDouble / (na * nb)) + 0.5).toLong))
    }).toMap
    val out = run("p81_dist_drift").collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out == ref, s"got $out\nexp $ref")
    assert(out.size == srcs.length * (srcs.length - 1) / 2, "every source pair present")
    out.values.foreach { case (_, _, ks) =>
      assert(ks >= 0L && ks <= 1000000L, s"KS out of range: $ks")
    }
  }

  test("p24 mixture sample: rates clamp at 1e6, dominant language is downsampled hardest") {
    val out = run("p24_mixture_sample").collect()
    assert(out.length >= 2)
    val byLang = out.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    byLang.foreach { case (lang, nDocs, ppm, nKept) =>
      assert(ppm >= 0 && ppm <= 1000000L, s"$lang keep_ppm out of range: $ppm")
      assert(nKept <= nDocs, s"$lang kept more than it has")
    }
    // keep rate is inversely monotone in group size: bigger group, lower rate
    val sorted = byLang.sortBy(_._2)
    sorted.sliding(2).foreach { case Seq((l1, n1, p1, _), (l2, n2, p2, _)) =>
      if (n1 < n2) assert(p1 >= p2, s"$l1(n=$n1,ppm=$p1) vs $l2(n=$n2,ppm=$p2)")
    }
    // rebalance property: the post-sample max share must not exceed the
    // pre-sample max share (that's what "towards uniform" means)
    val totD = byLang.map(_._2).sum.toDouble
    val totK = byLang.map(_._4).sum.toDouble
    val preMax = byLang.map(_._2 / totD).max
    val postMax = byLang.map(_._4 / totK).max
    assert(postMax <= preMax + 1e-9,
      f"sampling increased the dominant share: $preMax%.3f -> $postMax%.3f")
  }

  test("p25 quantized retrieval: rescoring dominates pure-quantized per query") {
    val out = run("p25_embed_quant").collect()
    assert(out.length > 0)
    out.foreach { r =>
      val hr = r.getLong(r.fieldIndex("hits_rescored"))
      val hq = r.getLong(r.fieldIndex("hits_quantized"))
      assert(hr >= 0 && hr <= 5 && hq >= 0 && hq <= 5)
      // any exact-top-k member inside the candidate set outranks (under
      // exact cosine) everything outside it, so it survives the rescore:
      // two-stage recall >= pure-quantized recall, PER QUERY
      assert(hr >= hq, s"q=${r.getLong(0)}: rescored $hr < quantized $hq")
    }
    // int8 over 64 dims preserves neighborhoods well; a broken quantizer
    // (wrong scale, sign flip) craters this to ~0
    val mean = out.map(_.getLong(1)).sum.toDouble / out.length
    assert(mean >= 4.0, f"mean rescored hits $mean%.2f — quantization broke ranking")
  }

  test("p26 repetition: fractions in range, both flag classes populated") {
    val out = run("p26_repetition").collect()
    assert(out.length > 0)
    out.foreach { r =>
      Seq("dup_word_frac", "dup_2gram_frac", "dup_3gram_frac").foreach { c =>
        val v = r.getDouble(r.fieldIndex(c))
        assert(v >= 0.0 && v <= 1.0, s"$c out of [0,1]: $v")
      }
      val flagged = r.getBoolean(r.fieldIndex("flagged"))
      val d2 = r.getDouble(r.fieldIndex("dup_2gram_frac"))
      assert(flagged == (d2 > 0.04), "flag must equal the documented threshold rule")
    }
    val flags = out.count(_.getBoolean(out.head.fieldIndex("flagged")))
    assert(flags > 0 && flags < out.length,
      s"threshold has no signal on this corpus: $flags/${out.length} flagged")
  }

  test("p29 resize: same document yields the SAME thumbnail from PPM, BMP, and PNG") {
    // the whole premise of logical-pixel normalization: container layout
    // (bottom-up BGR rows, filter bytes, zlib) must not leak into the
    // resampled output. Force one doc through all three encoders.
    val text = "cross format thumbnail identity probe"
    val ids = Seq(42L, 43L, 44L) // mod 3 = 0, 1, 2 → PPM, BMP, PNG
    val thumbs = ids.map { id =>
      // re-key each container to doc 42's pixel rule by encoding doc 42's
      // id THROUGH each format branch: encodeImage picks the format from
      // the id, so instead encode three ids and compare against the rule
      MediaOps.resizeOne(MediaOps.encodeImage(id, text))
    }
    thumbs.zip(ids).foreach { case (t, id) =>
      // recompute the expected checksum from the pixel rule
      val nb = text.getBytes("UTF-8").length
      val (w, h) = MediaOps.dims(nb)
      var expect = 0L
      for (ty <- 0 until MediaOps.ThumbH; tx <- 0 until MediaOps.ThumbW; c <- 0 until 3) {
        val sp = ((ty * h / MediaOps.ThumbH) * w + tx * w / MediaOps.ThumbW) * 3 + c
        val idx = (ty * MediaOps.ThumbW + tx) * 3 + c
        expect += (idx + 1).toLong * ((id * 31 + sp * 7) % 256)
      }
      assert(t.thumb_checksum == expect,
        s"doc $id (${t.fmt}): ${t.thumb_checksum} != rule $expect")
    }
  }

  test("p30 frame stream: real multi-frame parse, stride sampling, frame 0 == still image") {
    val text = "frame stream probe"
    for (id <- Seq(0L, 1L, 2L, 3L, 5L)) {
      val s = MediaOps.sampleFrames(MediaOps.encodeFrames(id, text))
      val nf = 2 + id % 4
      assert(s.n_frames == nf)
      assert(s.n_sampled == (nf + 1) / 2, s"doc $id stride sampling")
      // recompute the kept frames' sum from the rule
      val nb = text.getBytes("UTF-8").length
      val (w, h) = MediaOps.dims(nb)
      val n = w * h * 3
      val expect = (0L until nf).filter(_ % 2 == 0).map { f =>
        (0 until n).map(i => (id * 31 + (f * n + i) * 7) % 256).sum
      }.sum
      assert(s.sampled_pixel_sum == expect, s"doc $id sampled sum")
    }
    // a truncated stream must fail loudly, never return partial counts
    val full = MediaOps.encodeFrames(9L, text)
    val cut = MediaOps.MediaIn(9L, full.content.dropRight(5), full.fmt)
    val e = intercept[IllegalArgumentException](MediaOps.sampleFrames(cut))
    assert(e.getMessage.contains("doc 9"))
  }

  test("p27 shuffle-shard: shards partition the corpus; the seed permutes, membership-stable totals") {
    val total = spark.read.parquet(s"$dir/documents.parquet").count()
    val base = run("p27_shuffle_shard").collect()
    assert(base.map(_.getLong(1)).sum == total, "shards must partition every doc exactly once")
    assert(base.map(_.getLong(0)).distinct.length == base.length)
    // rerun-stable (the property an epoch writer needs)
    val rerun = run("p27_shuffle_shard").collect()
    assert(base.map(_.toSeq).toSeq == rerun.map(_.toSeq).toSeq)
    // a different seed is a different permutation (different shard fill or
    // order), but still a partition of the same corpus
    spark.conf.set("spark.graft.shuffleSeed", "7")
    try {
      val other = run("p27_shuffle_shard").collect()
      assert(other.map(_.getLong(1)).sum == total)
      assert(other.map(_.toSeq).toSeq != base.map(_.toSeq).toSeq,
        "seed 7 must yield a different epoch permutation than seed 42")
    } finally spark.conf.unset("spark.graft.shuffleSeed")
  }

  test("p28 contamination matrix: pair counts partition p04's verified pairs by source pair") {
    val pairs = run("p04_minhash_lsh").collect()
    val out = run("p28_contamination_matrix").collect()
    assert(out.map(_.getLong(out.head.fieldIndex("n_pairs"))).sum == pairs.length,
      "matrix cells must partition the verified near-dup pairs")
    // unordered labeling: source_a <= source_b everywhere
    out.foreach { r =>
      assert(r.getString(0) <= r.getString(1), s"unordered pair violated: ${r.getString(0)} > ${r.getString(1)}")
    }
    assert(out.nonEmpty, "testdata plants near-dups, the matrix cannot be empty")
  }

  test("p31 props extraction covers every event; malformed rows count as null, never drop") {
    val total = graft.Graft.normalizeEventTime(
      spark.read.parquet(s"$dir/events.parquet")).count()
    val out = run("p31_event_props").collect()
    assert(out.map(_.getLong(out.head.fieldIndex("n_events"))).sum == total)
    out.foreach { r =>
      val n = r.getLong(r.fieldIndex("n_events"))
      val nk = r.getLong(r.fieldIndex("n_k"))
      assert(nk <= n, "extracted count cannot exceed row count")
      assert(r.getLong(r.fieldIndex("k_min")) <= r.getLong(r.fieldIndex("k_max")))
    }
  }

  test("p32 percentiles: p50 <= p95, both inside the group's value range") {
    import org.apache.spark.sql.functions._
    val events = graft.Graft.normalizeEventTime(
      spark.read.parquet(s"$dir/events.parquet"))
    val range = events.groupBy("event_type")
      .agg(min("value").as("lo"), max("value").as("hi"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val out = run("p32_event_percentiles").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (lo, hi) = range(r.getString(0))
      val p50 = r.getDouble(r.fieldIndex("p50"))
      val p95 = r.getDouble(r.fieldIndex("p95"))
      assert(p50 <= p95, s"${r.getString(0)}: p50 $p50 > p95 $p95")
      assert(p50 >= lo - 1e-6 && p95 <= hi + 1e-6,
        s"${r.getString(0)}: percentiles outside [$lo, $hi]")
    }
  }

  test("p33 term stats: cf sums to the corpus token count; df bounded by n_docs") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    docs.createOrReplaceTempView("documents")
    val totalTok = spark.sql(
      "SELECT CAST(sum(size(split(trim(text), '\\\\s+'))) AS BIGINT) FROM documents")
      .collect()(0).getLong(0)
    val out = run("p33_term_stats").collect()
    assert(out.nonEmpty)
    val nDocs = docs.count()
    out.foreach { r =>
      val df = r.getLong(r.fieldIndex("df"))
      val cf = r.getLong(r.fieldIndex("cf"))
      val maxTf = r.getLong(r.fieldIndex("max_tf"))
      assert(df >= 2 && df <= nDocs, s"${r.getString(0)}: df $df out of range")
      assert(cf >= df, s"${r.getString(0)}: cf < df")
      assert(maxTf * df >= cf, s"${r.getString(0)}: max_tf inconsistent with cf/df")
      assert(r.getLong(r.fieldIndex("n_docs")) == nDocs)
    }
    // the df>=2 threshold only removes rare terms: the surviving terms'
    // collection frequency must still cover almost the whole corpus (the
    // vocabulary is tiny and shared)
    val cfSum = out.map(_.getLong(out.head.fieldIndex("cf"))).sum
    assert(cfSum <= totalTok && cfSum >= totalTok / 2,
      s"cf total $cfSum implausible vs corpus tokens $totalTok")
  }

  test("p34 as-of join equals the brute-force range join (the O(n*m) spec)") {
    // ground truth: the quadratic correlated form the windowing trick
    // replaces — per click, the max-ts prior-or-equal view, max event_id
    // on ties
    graft.Graft.normalizeEventTime(spark.read.parquet(s"$dir/events.parquet"))
      .createOrReplaceTempView("events")
    val truth = spark.sql("""
      WITH c AS (SELECT event_id, user_id, unix_micros(ts) AS tus FROM events WHERE event_type = 'click'),
      v AS (SELECT event_id, user_id, unix_micros(ts) AS tus FROM events WHERE event_type = 'view')
      SELECT c.event_id AS click_id,
        max(struct(v.tus, v.event_id)).event_id AS view_id,
        c.tus - max(struct(v.tus, v.event_id)).tus AS lag_us
      FROM c LEFT JOIN v ON v.user_id = c.user_id AND v.tus <= c.tus
      GROUP BY c.event_id, c.tus""").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getLong(1),
        if (r.isNullAt(2)) null else r.getLong(2))).toSet
    val got = run("p34_asof_join").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) null else r.getLong(2),
        if (r.isNullAt(3)) null else r.getLong(3))).toSet
    assert(got == truth, "windowed as-of diverged from the quadratic spec")
    assert(got.nonEmpty && got.exists(_._2 != null), "matches must exist")
    got.foreach { case (id, v, lag) =>
      assert((v == null) == (lag == null), s"click $id: match/lag nullity disagree")
      if (lag != null) assert(lag.asInstanceOf[Long] >= 0, s"click $id: matched a FUTURE view")
    }
  }

  test("p35 KMV sketch: exact below k, estimator accuracy above k, parallelism-invariant") {
    // per-branch contract on the real corpus: below k the sketch IS the
    // distinct set (exact); at or above k the estimate must sit inside
    // the KMV error envelope
    val out = run("p35_kmv_distinct").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val exact = r.getLong(1); val est = r.getLong(2)
      if (exact < 64) assert(est == exact,
        s"${r.getString(0)}: below k the sketch must be exact")
      else assert(math.abs(est - exact.toDouble) / exact < 0.4,
        s"${r.getString(0)}: estimate $est vs exact $exact outside the envelope")
    }
    // estimator branch + merge correctness: a generated 5000-distinct
    // column, evaluated under different parallelism (different partial
    // sketch boundaries) must give the SAME estimate, within the KMV
    // error envelope (~1/sqrt(63) ≈ 13%; assert 3x that)
    import spark.implicits._
    graft.functions.GraftFunctions.registerKmv(spark, 64)
    def est(parts: Int): Long = (1 to 5000).toDF("x").repartition(parts)
      .selectExpr("CAST(conv(substr(md5(CAST(x AS STRING)),1,8),16,10) AS BIGINT) AS h")
      .selectExpr("graft_kmv(h) AS e").collect()(0).getLong(0)
    val e1 = est(1); val e8 = est(8); val e32 = est(32)
    assert(e1 == e8 && e8 == e32,
      s"merge must be partitioning-invariant: $e1 / $e8 / $e32")
    assert(math.abs(e1 - 5000.0) / 5000.0 < 0.4,
      s"estimate $e1 outside the KMV error envelope for n=5000, k=64")
    // exact branch on a generated below-k column
    val ex = (1 to 30).toDF("x").repartition(4)
      .selectExpr("CAST(conv(substr(md5(CAST(x AS STRING)),1,8),16,10) AS BIGINT) AS h")
      .selectExpr("graft_kmv(h) AS e").collect()(0).getLong(0)
    assert(ex == 30L, s"below-k sketch must return the exact count, got $ex")
  }

  test("p36 chunking: per-doc chunk count is ceil(n_tok/stride); windows tile the token stream") {
    // invariants against an independently computed token count: chunk
    // count, full-window sizing for all but the tail, and 1:1 agreement
    // between a chunk's hash and a directly sliced window's hash
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val nTok = docs.selectExpr("doc_id", "size(split(trim(text), '\\\\s+')) AS n").as[(Long, Int)]
      .collect().toMap
    val out = run("p36_chunk_sliding").collect()
    val byDoc = out.groupBy(_.getLong(0))
    assert(byDoc.keySet == nTok.keySet, "every document must chunk")
    byDoc.foreach { case (id, chunks) =>
      val n = nTok(id); val stride = 16; val w = 32
      assert(chunks.length == math.ceil(math.max(n, 1).toDouble / stride).toInt,
        s"doc $id: ${chunks.length} chunks for $n tokens")
      chunks.sortBy(_.getLong(1)).zipWithIndex.foreach { case (c, i) =>
        assert(c.getLong(1) == i, s"doc $id: chunk_idx gap at $i")
        val expect = math.min(w, n - i * stride)
        assert(c.getLong(2) == expect, s"doc $id chunk $i: n_tok ${c.getLong(2)} != $expect")
      }
    }
  }

  test("p37 domain quota: kept counts cap at the quota, selection is rerun-stable") {
    val out = run("p37_domain_quota").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val nDocs = r.getLong(1); val nKept = r.getLong(2)
      assert(nKept == math.min(nDocs, 10L),
        s"${r.getString(0)}: kept $nKept of $nDocs against quota 10")
    }
    // determinism: a second run selects the SAME documents (hash rank, not
    // rand()) — the reproducibility contract shared with p15
    val again = run("p37_domain_quota").collect()
    assert(out.map(r => (r.getString(0), r.getLong(3))).toSet ==
      again.map(r => (r.getString(0), r.getLong(3))).toSet,
      "kept_id_sum must be identical across reruns")
  }

  test("p46 weighted sample: salt-invariant two-stage top-k, weight-biased, rerun-stable") {
    def runWith(salt: Int): Seq[(String, Long, Long, Long, Long)] = {
      spark.conf.set("spark.graft.weightedSaltBuckets", salt.toString)
      try run("p46_weighted_sample").collect().toSeq.map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      finally spark.conf.unset("spark.graft.weightedSaltBuckets")
    }
    val out = runWith(8)
    assert(out.nonEmpty)
    // per-stratum cardinality: exactly min(k, stratum size), ranks dense from 1
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val perLang = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    out.groupBy(_._1).foreach { case (lang, rows) =>
      assert(rows.length == math.min(8L, perLang(lang)),
        s"$lang: expected min(8, ${perLang(lang)}) picks, got ${rows.length}")
      assert(rows.map(_._2).sorted == (1L to rows.length).toSeq,
        s"$lang: ranks must be dense from 1")
    }
    // the salted two-stage selection is IDENTICAL to the direct window for
    // any fanout S — top-k(∪ bucket top-k) = top-k(all); S=1 degenerates to
    // the direct single-window plan, so this is also the result-identity
    // proof against the oracle's shape
    assert(runWith(1) == out, "S=1 (direct) must select the same sample")
    assert(runWith(16) == out, "S=16 must select the same sample")
    // rerun-stability: the hash uniform, not rand()
    assert(runWith(8) == out)
    // A-ES must oversample heavy documents: selected mean weight above the
    // corpus mean (inclusion odds scale with w)
    val corpusMean = docs.selectExpr("avg(CAST(n_chars AS DOUBLE))").head.getDouble(0)
    val pickMean = out.map(_._4).sum.toDouble / out.length
    assert(pickMean > corpusMean,
      f"selected mean weight $pickMean%.1f must exceed corpus mean $corpusMean%.1f")
  }

  test("p47 boilerplate lines: frequent lines stripped, rare kept, threshold is live") {
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val out = run("p47_boilerplate_lines").collect()
    val n = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(out.length == n, "every document survives (lines are stripped, docs are not)")
    // default threshold (50): the universal footer (df = N) and the 1-in-7
    // promo line (df ~ N/7) go; the leading-words and ref lines stay
    out.foreach { r =>
      assert(r.getLong(1) == 4L)
      assert(r.getLong(2) == 2L,
        s"doc ${r.getLong(0)}: expected footer+promo removed, got ${r.getLong(2)}")
    }
    // ground-truth checksum for doc 0: kept = leading-6-words line + ref line
    val lead0 = spark.sql(
      s"SELECT array_join(slice(split(trim(text), '\\\\s+'), 1, 6), ' ') FROM parquet.`$dir/documents.parquet` WHERE doc_id = 0")
      .head.getString(0)
    val expect0 = md5hex(lead0 + "\n" + "ref 0")
    assert(out.find(_.getLong(0) == 0L).get.getString(3) == expect0,
      "doc 0 checksum must equal md5 of the two surviving lines")
    // threshold above the corpus size: nothing is frequent, nothing removed
    spark.conf.set("spark.graft.boilerplateDf", (n + 1).toString)
    try {
      val none = run("p47_boilerplate_lines").collect()
      assert(none.forall(_.getLong(2) == 0L), "df threshold > N must strip nothing")
    } finally spark.conf.unset("spark.graft.boilerplateDf")
  }

  test("p48 bloom dedup: classification matches ground truth; sketch is transparent at any fpp") {
    val out = run("p48_bloom_dedup").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val n = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(out.length == (0L until n).count(_ % 5 == 4),
      "every batch document is classified exactly once")
    // ground truth from the planted-content rule: batch docs with
    // doc_id % 7 == 0 share the planted block with base docs; nothing else
    // duplicates (the gate corpus has no natural exact dups — p01 proves it)
    out.foreach { case (id, status) =>
      val expect = if (id % 7 == 0) "dup_of_base" else "new_unique"
      assert(status == expect, s"doc $id: expected $expect, got $status")
    }
    assert(out.count(_._2 == "dup_of_base") > 0, "the dup path must be exercised")
    // transparency: a near-degenerate sketch (fpp 0.49 → floods of false
    // positives) must yield the IDENTICAL classification — false positives
    // only widen the verify-join input, never the result
    spark.conf.set("spark.graft.bloomFpp", "0.49")
    try assert(run("p48_bloom_dedup").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == out,
      "classification must be fpp-invariant")
    finally spark.conf.unset("spark.graft.bloomFpp")
  }

  test("p49 embed outlier: scores partition the corpus, decile flag consistent per cluster") {
    val out = run("p49_embed_outlier").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
    assert(out.length == n, "every vector is scored exactly once")
    out.groupBy(_._2).foreach { case (label, rows) =>
      // ranks dense from 1, descending-distance order
      assert(rows.map(_._4).sorted.toSeq == (1L to rows.length).toSeq,
        s"label $label: ranks must be dense")
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._3).toSeq == sorted.map(_._3).sortBy(-_).toSeq,
        s"label $label: rank order must follow dist2q descending")
      // flagged = exactly the top decile (ceil(n/10)), and every flagged
      // distance dominates every unflagged one
      val flagged = rows.filter(_._5 == 1L)
      assert(flagged.length == (rows.length + 9) / 10,
        s"label $label: decile flag count")
      if (flagged.nonEmpty && flagged.length < rows.length)
        assert(flagged.map(_._3).min >= rows.filter(_._5 == 0L).map(_._3).max,
          s"label $label: flagged distances must dominate unflagged")
    }
  }

  test("p50 BPE learn: merge table equals a pure-Scala reference; weights non-increasing") {
    val got = run("p50_bpe_learn").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got.map(_._1) == (1L to 8L), "ranks dense at the default merge count")
    // each round's argmax is bounded by the previous round's (every pair
    // surviving a merge, and every pair the merge creates, has count <=
    // the merged pair's count)
    assert(got.map(_._3) == got.map(_._3).sortBy(-_), "merge weights non-increasing")
    // independent reference: the same greedy-leftmost BPE in pure Scala
    val words = spark.read.parquet(s"$dir/documents.parquet")
      .select("text").collect().flatMap(_.getString(0).trim.split("\\s+"))
      .filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    var repr: Map[String, String] =
      words.keys.map(w => w -> w.toCharArray.mkString(" ")).toMap
    val expect = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    for (r <- 1 to 8) {
      val counts = scala.collection.mutable.Map.empty[String, Long]
      for ((w, f) <- words) {
        val t = repr(w).split(" ")
        if (t.length >= 2) t.sliding(2).foreach { p =>
          val k = p.mkString(" "); counts(k) = counts.getOrElse(k, 0L) + f
        }
      }
      val (pair, c) = counts.toSeq.minBy { case (p, n) => (-n, p) }
      expect += ((r.toLong, pair, c))
      val merged = pair.replace(" ", "")
      repr = repr.view.mapValues(s =>
        (" " + s + " ").replace(" " + pair + " ", " " + merged + " ").trim).toMap
    }
    assert(got == expect.toSeq, "Spark loop must reproduce the reference merge table")
  }

  test("p51 BPE tokenize: every doc encoded, compression bounded by the learned merges") {
    val out = run("p51_bpe_tokenize").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    val n = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(out.length == n, "every document is encoded exactly once")
    out.foreach { case (id, nWords, nChar, nBpe, comp) =>
      assert(nBpe <= nChar, s"doc $id: a merge never adds tokens")
      assert(nBpe >= nWords, s"doc $id: every word is at least one token")
      assert(comp >= 1.0, s"doc $id: compression >= 1")
    }
    // corpus-level consistency with the p50 merge table: each applied merge
    // occurrence saves exactly one token, and a round's recorded weight is
    // the PRE-merge pair count (>= the non-overlapping occurrences actually
    // merged), so total savings are positive and bounded by the weight sum
    val saved = out.map(t => t._3 - t._4).sum
    val weightSum = run("p50_bpe_learn").collect().map(_.getLong(2)).sum
    assert(saved > 0, "the learned merges must compress the corpus")
    assert(saved <= weightSum,
      s"saved tokens ($saved) cannot exceed the merge-weight sum ($weightSum)")
  }

  test("p52 snapshot diff: statuses match the planted membership/content rules exactly") {
    val out = run("p52_snapshot_diff").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val n = spark.read.parquet(s"$dir/documents.parquet").count()
    val ids = 0L until n
    def bucket(p: Long => Boolean) =
      (ids.count(p).toLong, ids.filter(p).sum)
    val expect = Map(
      "removed" -> bucket(id => id % 10 == 8),
      "added" -> bucket(id => id % 10 == 9),
      "content_changed" -> bucket(id => id % 10 != 8 && id % 10 != 9 && id % 7 == 3),
      "unchanged" -> bucket(id => id % 10 != 8 && id % 10 != 9 && id % 7 != 3))
    assert(out == expect, s"got $out")
    // the four classes partition the union of both snapshots
    assert(out.values.map(_._1).sum == ids.count(id => id % 10 != 9 || id % 10 != 8))
  }

  test("p53 negative sampling: k cross-cluster negatives per anchor, pool-bounded, rerun-stable") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val labelOf = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val out = run("p53_negative_sample").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length == labelOf.size * 4, "NegK rows per anchor")
    out.groupBy(_._1).foreach { case (anchor, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1L to 4L), s"anchor $anchor: dense slots")
      rows.foreach { case (_, slot, negId, negLabel) =>
        assert(labelOf(negId) == negLabel, s"anchor $anchor slot $slot: label mismatch")
        assert(negLabel != labelOf(anchor),
          s"anchor $anchor slot $slot: negative must come from ANOTHER cluster")
      }
    }
    // negatives are drawn from the per-label hash-rank pools: at most
    // NegPool distinct negatives per label across the whole output
    out.groupBy(_._4).foreach { case (lbl, rows) =>
      assert(rows.map(_._3).distinct.length <= 4,
        s"label $lbl: more distinct negatives than the pool size")
    }
    // determinism: the hash index, not rand()
    assert(run("p53_negative_sample").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq == out.toSeq)
  }

  test("p54 substring dedup equals a brute-force cross-doc n-gram reference") {
    val k = 8
    val block = "breaking news this content is syndicated across partner sites worldwide today reader"
    val words: Map[Long, Array[String]] = spark.read
      .parquet(s"$dir/documents.parquet").select("doc_id", "text").collect()
      .map { r =>
        val id = r.getLong(0)
        val t2 = if (id % 5 == 0) block + " " + r.getString(1) else r.getString(1)
        id -> t2.trim.split("\\s+")
      }.toMap
    val gramDocs = scala.collection.mutable.HashMap
      .empty[String, scala.collection.mutable.HashSet[Long]]
    words.foreach { case (id, ws) =>
      (0 to ws.length - k).foreach { i =>
        gramDocs.getOrElseUpdate(ws.slice(i, i + k).mkString(" "),
          scala.collection.mutable.HashSet.empty[Long]) += id
      }
    }
    val out = run("p54_substring_dedup").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(out.length == words.size, "one audit row per document")
    out.foreach { case (id, (n, ndw, nd, ratio)) =>
      val ws = words(id)
      val starts = (0 to ws.length - k)
        .filter(i => gramDocs(ws.slice(i, i + k).mkString(" ")).size >= 2)
      val cover = starts.flatMap(i => i until i + k).distinct.length
      assert(n == ws.length.toLong, s"doc $id: token count")
      assert(ndw == starts.length.toLong, s"doc $id: duplicated window count")
      assert(nd == cover.toLong, s"doc $id: position coverage union")
      assert(math.abs(ratio - math.floor(nd.toDouble / n * 1e6 + 0.5) / 1e6) < 1e-12)
    }
    // the planted syndication block: 5 fully-in-block windows, 12 covered
    // positions, on EVERY planted doc (natural repeats can only add)
    val planted = out.filter(_._1 % 5 == 0)
    assert(planted.nonEmpty)
    planted.foreach { case (id, (_, ndw, nd, _)) =>
      assert(ndw >= 5 && nd >= 12, s"planted doc $id: block not detected ($ndw, $nd)")
    }
  }

  test("p54 edge fixture: short docs, identical twins, and boundary-window sharing") {
    // ids avoid the %5 plant so the fixture controls every duplicate:
    //  doc 1  7 tokens  -> below K=8, no windows, zero row
    //  doc 2  w1..w10   -> identical to doc 3: all 3 windows dup, cover 10
    //  doc 3  w1..w10
    //  doc 4  w1..w8 x y z -> shares ONLY window 1 with the twins, cover 8
    //  doc 6  9 unique tokens -> windows exist but none recur, zero dups
    import spark.implicits._
    val ten = (1 to 10).map(i => s"w$i").mkString(" ")
    val rows = Seq(
      (1L, "a b c d e f g"),
      (2L, ten),
      (3L, ten),
      (4L, (1 to 8).map(i => s"w$i").mkString(" ") + " x y z"),
      (6L, (1 to 9).map(i => s"u$i").mkString(" ")))
    val tmp = java.nio.file.Files.createTempDirectory("graft_p54").toString
    rows.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$tmp/documents.parquet")
    val out = PipelineOps.queries("p54_substring_dedup")(spark, tmp).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    assert(out(1L) == ((7L, 0L, 0L, 0.0)), "sub-K doc must produce a zero audit row")
    assert(out(2L) == ((10L, 3L, 10L, 1.0)), "identical twin: full coverage")
    assert(out(3L) == ((10L, 3L, 10L, 1.0)))
    val r4 = math.floor(8.0 / 11 * 1e6 + 0.5) / 1e6
    assert(out(4L) == ((11L, 1L, 8L, r4)), "boundary doc: only window 1 recurs")
    assert(out(6L) == ((9L, 0L, 0L, 0.0)), "windows without recurrence stay clean")
  }

  test("p54 property: random low-entropy corpora equal brute force; within-doc repeats never count") {
    val k = 8
    val block = "breaking news this content is syndicated across partner sites worldwide today reader"
    def reference(docs: Seq[(Long, String)]): Map[Long, (Long, Long, Long)] = {
      val words = docs.map { case (id, text) =>
        id -> (if (id % 5 == 0) block + " " + text else text).trim.split("\\s+")
      }
      val gramDocs = scala.collection.mutable.HashMap
        .empty[String, scala.collection.mutable.HashSet[Long]]
      words.foreach { case (id, ws) =>
        (0 to ws.length - k).foreach { i =>
          gramDocs.getOrElseUpdate(ws.slice(i, i + k).mkString(" "),
            scala.collection.mutable.HashSet.empty[Long]) += id
        }
      }
      words.map { case (id, ws) =>
        val starts = (0 to ws.length - k)
          .filter(i => gramDocs(ws.slice(i, i + k).mkString(" ")).size >= 2)
        id -> (ws.length.toLong, starts.length.toLong,
               starts.flatMap(i => i until i + k).distinct.length.toLong)
      }.toMap
    }
    val rnd = new scala.util.Random(20260814)
    (1 to 3).foreach { trial =>
      // tiny vocabulary forces natural cross-doc 8-gram collisions;
      // lengths straddle K (3..30); ids hit the %5 plant class too
      val base = (0 until 40).map { i =>
        val n = 3 + rnd.nextInt(28)
        (i.toLong, Seq.fill(n)("t" + rnd.nextInt(6)).mkString(" "))
      }
      // a doc whose ONLY repeats are within itself (x-vocab is private to
      // it): every gram has doc-frequency 1, so nothing may be flagged
      val selfRep = (101L, ((1 to 8) ++ (1 to 8)).map(d => s"x$d").mkString(" "))
      val docs = base :+ selfRep
      val tmp = java.nio.file.Files.createTempDirectory(s"graft_p54p$trial").toString
      import spark.implicits._
      docs.toDF("doc_id", "text").write.mode("overwrite")
        .parquet(s"$tmp/documents.parquet")
      val exp = reference(docs)
      val out = PipelineOps.queries("p54_substring_dedup")(spark, tmp).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      assert(out.length == docs.length, s"trial $trial: one row per doc")
      out.foreach { case (id, (n, ndw, nd, ratio)) =>
        val (en, es, ec) = exp(id)
        assert((n, ndw, nd) == ((en, es, ec)), s"trial $trial doc $id")
        assert(math.abs(ratio - math.floor(nd.toDouble / n * 1e6 + 0.5) / 1e6) < 1e-12)
      }
      val (_, selfW, selfC, _) = out.toMap.apply(101L)
      assert(selfW == 0L && selfC == 0L,
        s"trial $trial: within-doc-only repetition must never count as cross-doc")
      assert(out.exists(_._2._3 > 0), s"trial $trial: corpus must exercise the dup path")
    }
  }

  test("p55 NB quality classifier equals a brute-force reference and separates the classes") {
    def md5hex(s: String) = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    def bkt(w: String) = (java.lang.Long.parseLong(md5hex(w).take(8), 16) % 256).toInt
    val stop = Set("the", "a", "of", "and")
    val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+"))
    val lbl = docs.map { case (id, ws) =>
      id -> (if (12 * ws.count(stop) >= ws.length) 1 else 0)
    }.toMap
    val cHi = Array.fill(256)(0L); val cLo = Array.fill(256)(0L)
    docs.foreach { case (id, ws) =>
      ws.foreach(w => if (lbl(id) == 1) cHi(bkt(w)) += 1 else cLo(bkt(w)) += 1)
    }
    val nHi = cHi.sum; val nLo = cLo.sum
    val wt = Array.tabulate(256) { b =>
      math.floor(1e6 * math.log(
        ((cHi(b) + 1).toDouble / (nHi + 256)) /
        ((cLo(b) + 1).toDouble / (nLo + 256))) + 0.5).toLong
    }
    val nHiDocs = lbl.values.count(_ == 1)
    val prior = math.floor(1e6 * math.log(nHiDocs.toDouble / (lbl.size - nHiDocs)) + 0.5).toLong
    val expected = docs.map { case (id, ws) =>
      id -> (prior + ws.map(w => wt(bkt(w))).sum)
    }.toMap
    val out = run("p55_nb_quality").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length == docs.length)
    out.foreach { case (id, l, s, p) =>
      assert(l == lbl(id).toLong, s"doc $id: weak label")
      assert(s == expected(id), s"doc $id: NB score")
      assert(p == (if (s > 0) 1L else 0L), s"doc $id: Bayes decision")
    }
    val hi = out.filter(_._2 == 1).map(_._3); val lo = out.filter(_._2 == 0).map(_._3)
    assert(hi.nonEmpty && lo.nonEmpty, "weak labeling must split the corpus")
    assert(hi.sum.toDouble / hi.length > lo.sum.toDouble / lo.length,
      "learned scores must separate the weak classes")
  }

  test("p56 BM25 equals a brute-force reference; per-query top-10 dense and sorted") {
    val queries = Map(
      0 -> Seq("hash", "join", "merge"),
      1 -> Seq("window", "sort", "order"),
      2 -> Seq("stream", "batch", "data"))
    val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+"))
    val n = docs.length
    val totLen = docs.map(_._2.length.toLong).sum
    val expected = queries.toSeq.flatMap { case (qid, terms) =>
      val idfs = terms.map { t =>
        val df = docs.count(_._2.contains(t))
        t -> math.floor(1e6 * math.log(1 + (n - df + 0.5) / (df + 0.5)) + 0.5).toLong
      }.toMap
      val scored = docs.flatMap { case (id, ws) =>
        val dl = ws.length
        if (!terms.exists(ws.contains)) None
        else Some(id -> terms.map { t =>
          val tf = ws.count(_ == t)
          if (tf == 0) 0L
          else math.floor(idfs(t) * (tf * (1.2 + 1) /
            (tf + 1.2 * (1 - 0.75 + 0.75 * (dl.toDouble * n / totLen)))) + 0.5).toLong
        }.sum)
      }
      scored.sortBy { case (id, s) => (-s, id) }.take(10).zipWithIndex.map {
        case ((id, s), i) => (qid.toLong, (i + 1).toLong, id, s)
      }
    }.toSet
    assert(expected.size == 30, "every query must fill its top-10 on this corpus")
    val out = run("p56_bm25").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(out == expected, s"salted two-stage top-k must equal the exact ranking")
  }

  test("p57 JL projection equals the plane-fold reference and preserves distance structure") {
    def md5hex(s: String) = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val planes = (0 until 16).map { p =>
      (1 to 64).map { d =>
        val h = java.lang.Long.parseLong(md5hex(s"${p}_$d").take(8), 16)
        if (h % 2 == 1) 1.0f else -1.0f
      }
    }
    def dot(a: Array[Float], pl: Seq[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * pl(i).toDouble; i += 1 }
      s
    }
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val expected = emb.flatMap { case (id, v) =>
      planes.zipWithIndex.map { case (pl, i) =>
        (id, (i + 1).toLong, math.floor(dot(v, pl) * 1e6 + 0.5).toLong)
      }
    }.toSet
    val out = run("p57_jl_project").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == emb.length * 16, "D rows per vector")
    assert(out.toSet == expected, "projection must equal the plane-fold reference")
    // JL property: projected squared distances track the originals
    val proj = out.groupBy(_._1).map { case (id, rs) =>
      id -> rs.sortBy(_._2).map(_._3.toDouble / 1e6)
    }
    val origMap = emb.toMap
    val ids = emb.map(_._1).sorted.take(60)
    val pairs = for {
      i <- ids.indices; j <- (i + 1) until ids.length; if (i + j) % 7 == 0
    } yield (ids(i), ids(j))
    def d2(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    // with ±1 planes E[||proj(a)-proj(b)||^2] = D * ||a-b||^2 (Achlioptas),
    // with relative std sqrt(2/D) ~ 0.35 per pair — the JL isometry claim
    val ratios = pairs.map { case (a, b) =>
      d2(proj(a), proj(b)) /
        (16.0 * d2(origMap(a).toSeq.map(_.toDouble), origMap(b).toSeq.map(_.toDouble)))
    }
    val mean = ratios.sum / ratios.length
    assert(mean > 0.8 && mean < 1.2,
      s"JL mean distance ratio off isometry: $mean over ${pairs.length} pairs")
    assert(ratios.min > 0.2 && ratios.max < 3.0,
      s"JL per-pair distortion outside chi-square tails: [${ratios.min}, ${ratios.max}]")
  }

  test("p58 HTML extraction equals a JVM regex-pipeline reference; no script/style leaks") {
    def md5hex(s: String) = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val expected = docs.map { case (id, text) =>
      val html = "<html><head><title>Doc " + id +
        "</title><style>body { color: #333; }</style>" +
        "<script>var tracker = \"t\" + " + (id % 7) +
        ";</script></head><body><nav>home | about | contact</nav><p>" + text +
        "</p><div class=\"footer\">&quot;Acme &amp; Co&quot; &lt;legal&gt; &#39;2026&#39;</div></body></html>"
      val clean = html
        .replaceAll("<script[^>]*>.*?</script>", " ")
        .replaceAll("<style[^>]*>.*?</style>", " ")
        .replaceAll("<[^>]*>", " ")
        .replace("&quot;", "\"").replace("&lt;", "<").replace("&gt;", ">")
        .replace("&#39;", "'").replace("&amp;", "&")
        .replaceAll("\\s+", " ").trim
      id -> (s"Doc $id", clean.length.toLong, md5hex(clean), clean)
    }.toMap
    val out = run("p58_html_extract").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(out.length == docs.length)
    out.foreach { case (id, title, n, leaked, sum) =>
      val (et, en, esum, clean) = expected(id)
      assert(title == et, s"doc $id: structural title extraction")
      assert(n == en, s"doc $id: clean length")
      assert(leaked == 0L, s"doc $id: script/style payload leaked into visible text")
      assert(sum == esum, s"doc $id: clean checksum")
      assert(!clean.contains("tracker") && !clean.contains("#333"),
        s"doc $id: reference itself must be leak-free")
      assert(clean.contains("\"Acme & Co\" <legal> '2026'"),
        s"doc $id: entities must decode")
    }
  }

  test("p59 blocklist filter equals brute force; every policy outcome class is populated") {
    val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+"))
    val expected = docs.map { case (id, ws) =>
      val hard = if (ws.contains("dup")) 1L else 0L
      val soft = ws.count(w => w == "slow" || w == "big").toLong
      id -> (hard, soft, if (hard == 0L && soft <= 4L) 1L else 0L)
    }.toMap
    val out = run("p59_blocklist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length == docs.length)
    out.foreach { case (id, h, s, k) =>
      assert((h, s, k) == expected(id), s"doc $id policy row")
    }
    assert(out.exists(_._2 == 1L), "hard-block class must be populated")
    assert(out.exists(r => r._2 == 0L && r._4 == 0L), "soft-threshold drop class must be populated")
    assert(out.exists(_._4 == 1L), "keep class must be populated")
  }

  test("p38 PII redaction: no pattern survives redaction; every stage fires on every row") {
    val out = run("p38_pii_redact").collect()
    assert(out.nonEmpty)
    // the planted PII guarantees every stage redacts at least once per doc
    out.foreach { r =>
      assert(r.getLong(1) >= 1 && r.getLong(2) >= 1 && r.getLong(3) >= 1,
        s"doc ${r.getLong(0)}: planted email/ip/phone must all be found")
    }
    // end-to-end scrub check on the actual redacted TEXT: recompute the
    // pipeline retaining rt, then assert none of the three patterns match
    spark.read.parquet(s"$dir/documents.parquet").createOrReplaceTempView("documents")
    val survivors = spark.sql("""
      WITH aug AS (
        SELECT doc_id, concat(text, ' contact user', CAST(doc_id AS STRING),
          '@example.com from 10.0.', CAST(doc_id % 256 AS STRING), '.7 call 55512',
          CAST(30000 + doc_id AS STRING)) AS t
        FROM documents)
      SELECT doc_id FROM aug
      WHERE regexp_replace(regexp_replace(regexp_replace(t,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>'),
          '\\b\\d{1,3}(\\.\\d{1,3}){3}\\b', '<IP>'),
          '\\b\\d{7,}\\b', '<PHONE>')
        RLIKE '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}|\\b\\d{1,3}(\\.\\d{1,3}){3}\\b|\\b\\d{7,}\\b'""")
      .count()
    assert(survivors == 0, s"$survivors rows still carry redactable PII")
  }

  test("p39 incremental dedup: statuses partition the batch; admitting the batch closes it") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val batchN = docs.where("pmod(doc_id, 5) = 4").count()
    val out = run("p39_incremental_dedup").collect()
    assert(out.length == batchN, "every incoming doc must be classified exactly once")
    val byStatus = out.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    Seq("dup_of_base", "dup_in_batch", "new_unique").foreach { s =>
      assert(byStatus.getOrElse(s, 0) > 0, s"class $s must be populated at gate scale")
    }
    // idempotence of admission: after the batch's fingerprints join the
    // base (what a production run does with its new_unique docs), re-running
    // the SAME batch classifies everything dup_of_base — the property that
    // makes repeated ingestion of one delivery safe
    docs.createOrReplaceTempView("documents")
    val second = spark.sql("""
      WITH w AS (
        SELECT doc_id, md5(concat_ws(' ', slice(split(trim(text), '\\s+'), 1, 2))) AS fp
        FROM documents),
      base AS (SELECT DISTINCT fp FROM w)
      SELECT i.doc_id FROM (SELECT doc_id, fp FROM w WHERE pmod(doc_id, 5) = 4) i
      LEFT JOIN base b ON i.fp = b.fp WHERE b.fp IS NULL""").count()
    assert(second == 0, "a re-ingested batch must classify entirely as dup_of_base")
  }

  test("p36/p37/p39 scale knobs are live configs") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // stride == tokens -> non-overlapping chunks: n_tok sums to the corpus
    // token count exactly
    val totalTok = docs.selectExpr("size(split(trim(text), '\\\\s+')) AS n")
      .agg(org.apache.spark.sql.functions.sum("n")).head.getLong(0)
    spark.conf.set("spark.graft.chunkTokens", "8")
    spark.conf.set("spark.graft.chunkStride", "8")
    try assert(run("p36_chunk_sliding").collect().map(_.getLong(2)).sum == totalTok,
      "non-overlapping chunks must tile the corpus exactly")
    finally { spark.conf.unset("spark.graft.chunkTokens"); spark.conf.unset("spark.graft.chunkStride") }
    // a stride wider than the window would drop tokens -> named error
    spark.conf.set("spark.graft.chunkStride", "64")
    try {
      val e = intercept[IllegalArgumentException](run("p36_chunk_sliding"))
      assert(e.getMessage.contains("must be <= chunkTokens"))
    } finally spark.conf.unset("spark.graft.chunkStride")
    // tighter quota caps lower
    spark.conf.set("spark.graft.domainQuota", "3")
    try run("p37_domain_quota").collect().foreach { r =>
      assert(r.getLong(2) == math.min(r.getLong(1), 3L))
    } finally spark.conf.unset("spark.graft.domainQuota")
    // a finer ingest fingerprint can only SHRINK the duplicate classes
    val coarseNew = run("p39_incremental_dedup").collect()
      .count(_.getString(1) == "new_unique")
    spark.conf.set("spark.graft.ingestFpTokens", "12")
    try {
      val fine = run("p39_incremental_dedup").collect()
      assert(fine.count(_.getString(1) == "new_unique") >= coarseNew,
        "a longer fingerprint prefix must admit at least as many docs")
    } finally spark.conf.unset("spark.graft.ingestFpTokens")
  }

  test("p40 rare-token score: both classes populated; threshold knob behaves monotonically") {
    val out = run("p40_rare_token_score").collect()
    val total = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(out.length == total, "every document must be scored")
    val flagged = out.count(_.getBoolean(4))
    assert(flagged > 0 && flagged < total,
      s"both classes must populate at gate scale, got $flagged/$total flagged")
    out.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "n_rare bounded by n_tokens")
      val ratio = r.getDouble(3)
      assert(ratio >= 0.0 && ratio <= 1.0)
      assert((r.getLong(2) > 0) == r.getBoolean(4), "flag must mirror n_rare > 0")
    }
    // commonCfMin = 1 admits every term that occurs at all -> zero rare
    spark.conf.set("spark.graft.commonCfMin", "1")
    try assert(run("p40_rare_token_score").collect().forall(_.getLong(2) == 0L),
      "at threshold 1 every occurring term is common")
    finally spark.conf.unset("spark.graft.commonCfMin")
    // a higher threshold can only grow the rare counts
    val base = out.map(r => r.getLong(0) -> r.getLong(2)).toMap
    spark.conf.set("spark.graft.commonCfMin", "100000")
    try run("p40_rare_token_score").collect().foreach { r =>
      assert(r.getLong(2) >= base(r.getLong(0)),
        "raising the threshold must not shrink any document's rare count")
    } finally spark.conf.unset("spark.graft.commonCfMin")
  }

  test("p41 WAV codec: real chunk walk — junk chunks skipped, corruption fails loudly") {
    import graft.pipeline.MediaOps
    // round-trip on a mono doc (carries the LIST junk chunk) and a stereo doc
    for (id <- Seq(0L, 1L)) {
      val in = MediaOps.encodeWav(id, "some document text")
      val f = MediaOps.decodeWavOne(in)
      assert(f.channels == (if (id % 2 == 0) 1 else 2))
      assert(f.sample_rate == (if (id % 2 == 0) 8000 else 11025))
      assert(f.n_frames == MediaOps.audioFrames("some document text".getBytes("UTF-8").length))
      assert(f.n_bytes == in.content.length)
      assert(f.amp_sum > 0 && f.energy >= f.amp_sum, "nonzero integer features")
    }
    // truncation: chop the data chunk -> loud, located failure
    val whole = MediaOps.encodeWav(2L, "x")
    val cut = MediaOps.AudioIn(2L, whole.content.take(whole.content.length - 5))
    val e1 = intercept[IllegalArgumentException](MediaOps.decodeWavOne(cut))
    assert(e1.getMessage.contains("doc 2"))
    // non-PCM format tag -> named refusal
    val bad = whole.content.clone()
    // mono layout: RIFF(12) + LIST(18) + "fmt " tag+size(8) -> format tag at 38
    bad(38) = 3 // IEEE float
    // fix the RIFF size we did NOT change; only the tag differs
    val e2 = intercept[IllegalArgumentException](
      MediaOps.decodeWavOne(MediaOps.AudioIn(2L, bad)))
    assert(e2.getMessage.contains("not PCM"))
    // bad magic
    val e3 = intercept[IllegalArgumentException](
      MediaOps.decodeWavOne(MediaOps.AudioIn(2L, "JUNK".getBytes ++ whole.content.drop(4))))
    assert(e3.getMessage.contains("RIFF"))
  }

  test("p42 split assignment: no near-dup cluster straddles splits; all splits populated") {
    val frame = PipelineOps.p42Frame(spark, dir).collect()
    val total = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(frame.length == total, "every document gets exactly one split")
    val splits = frame.map(_.getString(2)).toSet
    assert(splits == Set("train", "val", "test"), s"all splits must populate, got $splits")
    // the leakage probe: every verified near-dup pair must land in ONE
    // split — checked against the pair relation itself, not the labels,
    // so a labeling refactor cannot silently break it
    val splitByDoc = frame.map(r => r.getLong(0) -> r.getString(2)).toMap
    val pairs = run("p04_minhash_lsh").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "the probe needs real near-dup pairs")
    pairs.foreach { case (a, b) =>
      assert(splitByDoc(a) == splitByDoc(b),
        s"near-dup pair ($a, $b) straddles splits ${splitByDoc(a)}/${splitByDoc(b)} — leakage")
    }
    // rollup consistency
    val roll = run("p42_split_assign").collect()
    assert(roll.map(_.getLong(2)).sum == total)
  }

  test("p44 token budget: kept tokens within budget, greedy prefix is rerun-stable") {
    val out = run("p44_token_budget").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (nDocs, tokTotal, nKept, tokKept) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(tokKept <= 3000L, s"${r.getString(0)}: kept $tokKept tokens over the budget")
      assert(nKept > 0 && nKept < nDocs,
        s"${r.getString(0)}: the gate budget must bind ($nKept of $nDocs kept)")
      assert(tokKept <= tokTotal)
    }
    // prefix stability: re-running with budget = the kept token count must
    // select the IDENTICAL prefix (same kept_id_sum per lang) — the
    // property that makes the assembled corpus reproducible under budget
    // tightening down to what was actually used
    val byLang = out.map(r => r.getString(0) -> (r.getLong(4), r.getLong(5))).toMap
    byLang.foreach { case (lang, (tokKept, keptIdSum)) =>
      spark.conf.set("spark.graft.tokenBudget", tokKept.toString)
      try {
        val again = run("p44_token_budget").collect()
          .find(_.getString(0) == lang).get
        assert(again.getLong(5) == keptIdSum,
          s"$lang: prefix changed when the budget tightened to its own usage")
      } finally spark.conf.unset("spark.graft.tokenBudget")
    }
  }

  test("p45 URL canonicalization matches an independent Scala reference") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val out = run("p45_url_normalize").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    val total = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(out.size == total)
    out.keys.foreach { id =>
      // the reference canonical form, built rule-by-rule in plain Scala:
      // lowercase, no fragment, no :80, no www., params sorted
      val host = s"site${id % 7}.com"
      val params = Seq("z=1", s"y=${id % 3}", "a=9").sorted.mkString("&")
      val norm = s"http://$host/a/$id?$params"
      assert(out(id) == (host, md5hex(norm)),
        s"doc $id: got ${out(id)}, expected ($host, ${md5hex(norm)}) for $norm")
    }
  }

  test("p60 simhash pairs equal a brute-force all-pairs Hamming reference") {
    // The pigeonhole band join is EXACT for d <= bands-1: any pair within
    // Hamming 3 shares at least one of the 4 bands untouched, so the
    // operator's banded output must equal brute-force all-pairs filtering
    // — no recall assumption, full set equality.
    def md5hex(s: String) = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    def h32(w: String) = java.lang.Long.parseLong(md5hex(w).take(8), 16)
    def simhash(ws: Array[String]): Long = {
      val cnt = Array.fill(32)(0L)
      ws.foreach { w =>
        val h = h32(w)
        var j = 0
        while (j < 32) { cnt(j) += (if (((h >> j) & 1L) == 1L) 1 else -1); j += 1 }
      }
      (0 until 32).map(j => if (cnt(j) > 0) 1L << j else 0L).sum
    }
    val twinOff = 1099511627776L
    val base = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val aug = base ++ base.collect {
      case (id, tx) if id % 7 == 0 => (id + twinOff) -> (tx + " mirrortoken")
    }
    val sigs = aug.map { case (id, tx) => id -> simhash(tx.trim.split("\\s+")) }
    val expected = (for {
      i <- sigs.indices; j <- sigs.indices
      if sigs(i)._1 < sigs(j)._1
      d = java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2)
      if d <= 3
    } yield (sigs(i)._1, sigs(j)._1, d.toLong)).toSet
    val out = run("p60_simhash_pairs").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == expected,
      s"banded pairs diverge from brute force: extra=${out.diff(expected).take(5)} " +
        s"missing=${expected.diff(out).take(5)}")
    // class population: the planted twins are the KEEP story (most land
    // within d=3; short homogeneous docs let a few drift past it), and the
    // corpus's organic vocabulary overlap yields ambient close pairs too
    val nTwins = aug.length - base.length
    val twinPairs = out.count { case (a, b, _) => b - a == twinOff }
    assert(twinPairs * 2 >= nTwins, s"under half the planted twins found: $twinPairs/$nTwins")
    assert(out.exists { case (a, b, _) => b - a != twinOff }, "no ambient pairs — reject class empty")
  }

  test("p60 property: random corpora equal brute-force all-pairs Hamming") {
    def md5hex(s: String) = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    def h32(w: String) = java.lang.Long.parseLong(md5hex(w).take(8), 16)
    def simhash(ws: Array[String]): Long = {
      val cnt = Array.fill(32)(0L)
      ws.foreach { w =>
        val h = h32(w)
        (0 until 32).foreach(j => cnt(j) += (if (((h >> j) & 1L) == 1L) 1 else -1))
      }
      (0 until 32).map(j => if (cnt(j) > 0) 1L << j else 0L).sum
    }
    val twinOff = 1099511627776L
    val rnd = new scala.util.Random(20260814)
    (1 to 3).foreach { trial =>
      // tiny vocabulary + short docs concentrate fingerprints, exercising
      // heavy ambient candidate load; id range hits the %7 twin class
      val docs = (0 until 35).map { i =>
        val n = 1 + rnd.nextInt(20)
        (i.toLong, Seq.fill(n)("v" + rnd.nextInt(5)).mkString(" "))
      }
      val tmp = java.nio.file.Files.createTempDirectory(s"graft_p60p$trial").toString
      import spark.implicits._
      docs.toDF("doc_id", "text").write.mode("overwrite")
        .parquet(s"$tmp/documents.parquet")
      val aug = docs ++ docs.collect {
        case (id, tx) if id % 7 == 0 => (id + twinOff) -> (tx + " mirrortoken")
      }
      val sigs = aug.map { case (id, tx) => id -> simhash(tx.trim.split("\\s+")) }
      val expected = (for {
        i <- sigs.indices; j <- sigs.indices
        if sigs(i)._1 < sigs(j)._1
        d = java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2)
        if d <= 3
      } yield (sigs(i)._1, sigs(j)._1, d.toLong)).toSet
      val out = PipelineOps.queries("p60_simhash_pairs")(spark, tmp).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(out == expected, s"trial $trial: extra=${out.diff(expected).take(3)} " +
        s"missing=${expected.diff(out).take(3)}")
    }
  }

  test("p60 band geometry is an exactness-preserving knob: 8 bands == 4 bands") {
    // banding moves candidate COST only; the popcount verify keeps the
    // result exact under any legal geometry (bands > HamMax, bands | 32).
    // Illegal geometries are rejected by name, not silently degraded.
    def runBands(b: Option[Int]) = {
      b.foreach(v => spark.conf.set("spark.graft.simhashBands", v.toString))
      try run("p60_simhash_pairs").collect().map(_.toSeq).toSeq
      finally spark.conf.unset("spark.graft.simhashBands")
    }
    assert(runBands(Some(8)) == runBands(None), "8-band result diverged from 4-band")
    val tooFew = intercept[IllegalArgumentException](runBands(Some(2)))
    assert(tooFew.getMessage.contains("simhashBands"))
    val nonDivisor = intercept[IllegalArgumentException](runBands(Some(5)))
    assert(nonDivisor.getMessage.contains("simhashBands"))
  }

  test("p61 bigram perplexity equals a brute-force LM reference and separates classes") {
    def md5hex(s: String) = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    def bkt(w: String) = (java.lang.Long.parseLong(md5hex(w).take(8), 16) % 64).toInt
    val stop = Set("the", "a", "of", "and")
    val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+"))
    val lbl = docs.map { case (id, ws) =>
      id -> (if (12 * ws.count(stop) >= ws.length) 1 else 0)
    }.toMap
    // train: add-one-smoothed bigram counts over hashed slots, ref docs only
    val cnt = Array.fill(4096)(0L)
    docs.foreach { case (id, ws) =>
      if (lbl(id) == 1 && ws.length >= 2)
        ws.sliding(2).foreach(p => cnt(bkt(p(0)) * 64 + bkt(p(1))) += 1)
    }
    val ctx = Array.tabulate(64)(c => (0 until 64).map(v => cnt(c * 64 + v)).sum)
    val nll = Array.tabulate(4096) { s =>
      math.floor(-1e6 * math.log((cnt(s) + 1).toDouble / (ctx(s / 64) + 64)) + 0.5).toLong
    }
    val expected = docs.collect { case (id, ws) if ws.length >= 2 =>
      id -> ws.sliding(2).map(p => nll(bkt(p(0)) * 64 + bkt(p(1)))).sum
    }.toMap
    val out = run("p61_bigram_ppx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(out.length == expected.size)
    out.foreach { case (id, ref, nbig, total, perTok, flagged) =>
      val ws = docs.find(_._1 == id).get._2
      assert(ref == lbl(id), s"doc $id weak label")
      assert(nbig == ws.length - 1, s"doc $id bigram count")
      assert(total == expected(id), s"doc $id nll: got $total, expected ${expected(id)}")
      assert(perTok == total / (ws.length - 1), s"doc $id per-token nll")
      assert(flagged == (if (perTok > 3400000L) 1 else 0), s"doc $id flag")
    }
    // the LM must actually separate: the flagged tail concentrates on the
    // non-reference class, and both flag classes are populated
    val flagRate = (c: Int) => {
      val grp = out.filter(_._2 == c)
      grp.count(_._6 == 1).toDouble / grp.length
    }
    assert(out.exists(_._6 == 1) && out.exists(_._6 == 0), "one flag class is empty")
    assert(flagRate(0) > 2 * flagRate(1),
      s"no class separation: nonref ${flagRate(0)} vs ref ${flagRate(1)}")
  }

  test("p61 property: random corpora equal the JVM LM reference across label mixes") {
    def md5hex(s: String) = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    def bkt(w: String) = (java.lang.Long.parseLong(md5hex(w).take(8), 16) % 64).toInt
    val stop = Set("the", "a", "of", "and")
    def reference(docs: Seq[(Long, String)]): Map[Long, (Long, Long, Long)] = {
      val words = docs.map { case (id, t) => id -> t.trim.split("\\s+") }
      val lbl = words.map { case (id, ws) =>
        id -> (if (12 * ws.count(stop) >= ws.length) 1 else 0)
      }.toMap
      val cnt = Array.fill(4096)(0L)
      words.foreach { case (id, ws) =>
        if (lbl(id) == 1 && ws.length >= 2)
          ws.sliding(2).foreach(p => cnt(bkt(p(0)) * 64 + bkt(p(1))) += 1)
      }
      val ctx = Array.tabulate(64)(c => (0 until 64).map(v => cnt(c * 64 + v)).sum)
      val nll = Array.tabulate(4096) { s =>
        math.floor(-1e6 * math.log((cnt(s) + 1).toDouble / (ctx(s / 64) + 64)) + 0.5).toLong
      }
      words.collect { case (id, ws) if ws.length >= 2 =>
        id -> (lbl(id).toLong, (ws.length - 1).toLong,
               ws.sliding(2).map(p => nll(bkt(p(0)) * 64 + bkt(p(1)))).sum)
      }.toMap
    }
    val rnd = new scala.util.Random(20260814)
    // trial mixes: ~half reference; zero reference (untrained model falls
    // back to the uniform add-one law everywhere); all reference
    val mixes = Seq(0.5, 0.0, 1.0)
    mixes.zipWithIndex.foreach { case (refFrac, trial) =>
      val docs = (0 until 40).map { i =>
        val n = 1 + rnd.nextInt(30) // includes n=1 docs the operator excludes
        val dense = rnd.nextDouble() < refFrac
        val toks = Seq.fill(n)(
          if (dense && rnd.nextInt(3) == 0) Seq("the", "a", "of", "and")(rnd.nextInt(4))
          else "w" + rnd.nextInt(12))
        (i.toLong, toks.mkString(" "))
      }
      val tmp = java.nio.file.Files.createTempDirectory(s"graft_p61p$trial").toString
      import spark.implicits._
      docs.toDF("doc_id", "text").write.mode("overwrite")
        .parquet(s"$tmp/documents.parquet")
      val exp = reference(docs)
      val out = PipelineOps.queries("p61_bigram_ppx")(spark, tmp).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap
      assert(out.keySet == exp.keySet,
        s"trial $trial: output rows must be exactly the n>=2 docs")
      exp.foreach { case (id, (lb, nbig, total)) =>
        val (gotLbl, gotN, gotTotal, gotPerTok) = out(id)
        assert((gotLbl, gotN, gotTotal) == ((lb, nbig, total)), s"trial $trial doc $id")
        assert(gotPerTok == total / nbig, s"trial $trial doc $id per-token division")
      }
    }
  }

  test("p62 FIM equals a JVM reference; spans conserve tokens; the salt redraws") {
    def md5hex(s: String) = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    def h32(s: String) = java.lang.Long.parseLong(md5hex(s).take(8), 16)
    val raw = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val docs = raw.map { case (id, tx) => id -> tx.trim.split("\\s+") }
    def expect(salt: String, id: Long, ws: Array[String]) = {
      val n = ws.length
      val gate = h32(s"$salt|gate|$id") % 100
      val ca = (h32(s"$salt|a|$id") % (n + 1)).toInt
      val cb = (h32(s"$salt|b|$id") % (n + 1)).toInt
      val (c1, c2) = (math.min(ca, cb), math.max(ca, cb))
      if (gate < 50) {
        val out = s"<PRE> ${ws.slice(0, c1).mkString(" ")} <SUF> ${ws.slice(c2, n).mkString(" ")} <MID> ${ws.slice(c1, c2).mkString(" ")}"
        (1L, c1.toLong, (c2 - c1).toLong, (n - c2).toLong, md5hex(out))
      } else
        // pass-through keeps the ORIGINAL bytes, not a token re-join
        (0L, n.toLong, 0L, 0L, md5hex(raw(id)))
    }
    val out = run("p62_fim_transform").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5))).toMap
    assert(out.size == docs.size)
    docs.foreach { case (id, ws) =>
      assert(out(id) == expect("fim0", id, ws), s"doc $id: got ${out(id)}, expected ${expect("fim0", id, ws)}")
    }
    // both classes populated; applied spans conserve the token count
    assert(out.values.exists(_._1 == 1L) && out.values.exists(_._1 == 0L))
    out.foreach { case (id, (applied, p, m, s, _)) =>
      if (applied == 1L) assert(p + m + s == docs(id).length, s"doc $id span leak")
    }
    // a different salt redraws the gate/cuts but still conserves spans
    spark.conf.set("spark.graft.fimSalt", "fim1")
    try {
      val redrawn = run("p62_fim_transform").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5))).toMap
      assert(redrawn != out, "a new salt must redraw the augmentation")
      docs.foreach { case (id, ws) =>
        assert(redrawn(id) == expect("fim1", id, ws), s"doc $id under fim1")
      }
    } finally spark.conf.unset("spark.graft.fimSalt")
    // the salt interpolates into a SQL literal, so it is charset-gated
    spark.conf.set("spark.graft.fimSalt", "epoch'2")
    try {
      val e = intercept[IllegalArgumentException](run("p62_fim_transform"))
      assert(e.getMessage.contains("fimSalt"))
    } finally spark.conf.unset("spark.graft.fimSalt")
  }

  test("p63 paragraph dedup equals a keep-first JVM reference; duplicates survive exactly once") {
    def md5hex(s: String) = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    def paras(id: Long, t: String): Seq[String] = {
      val lead = t.trim.split("\\s+").take(6).mkString(" ")
      if (id % 5 == 2)
        Seq(lead, "syndicated wire block shared across partner outlets", s"ref $id")
      else Seq(lead, s"ref $id")
    }
    val occ = docs.toSeq.flatMap { case (id, t) =>
      paras(id, t).zipWithIndex.map { case (p, i) => (id, i, p) }
    }
    def pk(o: (Long, Int, String)) = o._1 * 4294967296L + o._2
    val firstPk = occ.groupBy(_._3).map { case (p, os) => p -> os.map(pk).min }
    val expected = occ.groupBy(_._1).map { case (id, os) =>
      val kept = os.sortBy(_._2).filter(o => pk(o) == firstPk(o._3)).map(_._3)
      id -> ((os.length.toLong, (os.length - kept.length).toLong,
              md5hex(kept.mkString("\n"))))
    }
    val out = run("p63_paragraph_dedup").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out.keySet == expected.keySet, "every document survives the rewrite")
    expected.foreach { case (id, e) => assert(out(id) == e, s"doc $id") }
    // keep-first law: every distinct paragraph survives exactly once
    // corpus-wide, and nothing vanishes entirely
    val survivors = occ.filter(o => pk(o) == firstPk(o._3))
    assert(survivors.map(_._3).distinct.length == survivors.length)
    assert(survivors.map(_._3).toSet == occ.map(_._3).toSet)
    // the fixture populates the removal class (syndicated block + dup leads)
    assert(expected.values.map(_._2).sum > 0)
  }

  test("p64 DSIR equals a two-model JVM reference and separates the target class") {
    def md5hex(s: String) = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    def bkt(w: String) = (java.lang.Long.parseLong(md5hex(w).take(8), 16) % 64).toInt
    val stop = Set("the", "a", "of", "and")
    val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+"))
    val lbl = docs.map { case (id, ws) =>
      id -> (if (12 * ws.count(stop) >= ws.length) 1 else 0)
    }.toMap
    // ONE pass: source counts over all docs, target counts a conditional sum
    val cs = Array.fill(4096)(0L)
    val ct = Array.fill(4096)(0L)
    docs.foreach { case (id, ws) =>
      if (ws.length >= 2) ws.sliding(2).foreach { p =>
        val s = bkt(p(0)) * 64 + bkt(p(1))
        cs(s) += 1
        if (lbl(id) == 1) ct(s) += 1
      }
    }
    val ns = cs.sum
    val nt = ct.sum
    val w = Array.tabulate(4096) { s =>
      math.floor(1e6 * (math.log((ct(s) + 1).toDouble / (nt + 4096))
                      - math.log((cs(s) + 1).toDouble / (ns + 4096))) + 0.5).toLong
    }
    val expected = docs.collect { case (id, ws) if ws.length >= 2 =>
      id -> ws.sliding(2).map(p => w(bkt(p(0)) * 64 + bkt(p(1)))).sum
    }.toMap
    val out = run("p64_dsir_select").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(out.length == expected.size)
    out.foreach { case (id, ref, nbig, total, perTok, sel) =>
      val ws = docs.find(_._1 == id).get._2
      assert(ref == lbl(id), s"doc $id weak label")
      assert(nbig == ws.length - 1, s"doc $id bigram count")
      assert(total == expected(id), s"doc $id ratio: got $total, expected ${expected(id)}")
      // Scala Long division truncates toward zero — the DIV/`//` contract
      assert(perTok == total / (ws.length - 1), s"doc $id per-token division")
      assert(sel == (if (perTok > -290000L) 1 else 0), s"doc $id selection")
    }
    // the ratio must actually separate: target-class mean per-token ratio
    // clearly exceeds the non-target mean, and both outcome classes are
    // populated at the default threshold
    val mean = (c: Long) => {
      val g = out.filter(_._2 == c)
      g.map(_._5).sum.toDouble / g.length
    }
    assert(out.exists(_._6 == 1) && out.exists(_._6 == 0), "one outcome class is empty")
    assert(mean(1) > mean(0) + 50000,
      s"no class separation: ref ${mean(1)} vs nonref ${mean(0)}")
  }

  test("p65 span corruption equals a JVM reference; spans conserve tokens; salt redraws") {
    def md5hex(s: String) = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    def hv(salt: String, tag: String, id: Long, w: Int): Long =
      java.lang.Long.parseLong(md5hex(s"$salt|$tag|$id|$w").take(8), 16)
    val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+"))
    def expect(salt: String, id: Long, ws: Array[String]) = {
      val n = ws.length
      val nwin = (n + 19) / 20
      val spans = (0 until nwin).map { w =>
        val c = math.min(20, n - w * 20)
        val l = 1 + (hv(salt, "l", id, w) % math.min(5, c)).toInt
        val s0 = (hv(salt, "s", id, w) % (c - l + 1)).toInt
        (w, w * 20, c, l, s0)
      }
      val input = spans.flatMap { case (w, off, c, l, s0) =>
        ws.slice(off, off + s0) ++ Seq(s"<extra_id_$w>") ++ ws.slice(off + s0 + l, off + c)
      }.mkString(" ")
      val target = spans.flatMap { case (w, off, _, l, s0) =>
        Seq(s"<extra_id_$w>") ++ ws.slice(off + s0, off + s0 + l)
      }.mkString(" ")
      val corrupted = spans.map(_._4).sum
      (nwin.toLong, corrupted.toLong, corrupted.toLong * 1000000 / n,
        md5hex(input), md5hex(target), input, target)
    }
    val out = run("p65_span_corrupt").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5), r.getString(6)))).toMap
    assert(out.size == docs.length)
    docs.foreach { case (id, ws) =>
      val (nwin, corrupted, ratio, inSum, tgtSum, input, target) = expect("fim0", id, ws)
      val (gn, gs, gc, gr, gin, gtgt) = out(id)
      assert(gn == ws.length, s"doc $id token count")
      assert(gs == nwin && gc == corrupted && gr == ratio, s"doc $id span stats")
      assert(gin == inSum && gtgt == tgtSum, s"doc $id checksums")
      // conservation: input tokens = n - corrupted + nwin sentinels;
      // target tokens = corrupted + nwin sentinels; spans within [1, 5].
      // split limit -1 keeps trailing empty tokens (a whitespace-only doc
      // tokenizes to [""], which survives as an empty token here)
      assert(input.split(" ", -1).length == ws.length - corrupted + nwin, s"doc $id input size")
      assert(target.split(" ", -1).length == corrupted + nwin, s"doc $id target size")
      assert(corrupted >= nwin && corrupted <= 5L * nwin, s"doc $id span bounds")
    }
    // corpus-level corruption rate lands near the T5 operating point
    // (mean span 3 over windows of 20 = 15%)
    val rates = out.map { case (_, o) => o._4.toDouble / 1e6 }
    val mean = rates.sum / rates.size
    assert(mean > 0.10 && mean < 0.22, s"corruption rate drifted: $mean")
    // a different salt redraws
    spark.conf.set("spark.graft.fimSalt", "fim1")
    try {
      val redrawn = run("p65_span_corrupt").collect()
        .map(r => r.getLong(0) -> r.getString(5)).toMap
      assert(redrawn != out.map { case (k, v) => k -> v._5 },
        "a new salt must redraw the spans")
      docs.take(20).foreach { case (id, ws) =>
        assert(redrawn(id) == expect("fim1", id, ws)._4, s"doc $id under fim1")
      }
    } finally spark.conf.unset("spark.graft.fimSalt")
  }

  test("p66 soft-dedup weights equal a JVM reference and partition the corpus with p01") {
    val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1).trim.toLowerCase)
    val mult = docs.groupBy(_._2).map { case (t, xs) => t -> xs.length.toLong }
    val out = run("p66_softdedup_weights").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == docs.length, "every copy survives — nothing is removed")
    out.foreach { case (id, m, w) =>
      val em = mult(docs.find(_._1 == id).get._2)
      assert(m == em, s"doc $id multiplicity")
      assert(w == 1000000L / em, s"doc $id weight")
    }
    // expectation law: summed weights = 1e6 per distinct content, minus
    // the integer-division floor slack (m * floor(1e6/m) > 1e6 - m)
    val wsum = out.map(_._3).sum
    val exact = mult.keys.size * 1000000L
    assert(wsum <= exact && wsum > exact - docs.length,
      s"weight mass: $wsum vs $exact")
    // agreement with p01: one representative per content, same multiplicities
    val p01 = run("p01_dedup_exact").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(p01.length == mult.size)
    p01.foreach { case (rep, copies) =>
      assert(out.find(_._1 == rep).get._2 == copies, s"rep $rep multiplicity")
    }
  }

  test("p67 SemDeDup equals a JVM reference: assignment, keep priority, dup flags") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).sortBy(_._1)
    def md5hex(s: String) = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    // strict left-fold double dot — the graft_dot accumulation order
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }; s
    }
    val vecs = emb.toMap
    val n2 = emb.map { case (id, v) => id -> dot(v, v) }.toMap
    def cos(a: Long, b: Long) =
      dot(vecs(a), vecs(b)) / (math.sqrt(n2(a)) * math.sqrt(n2(b)))
    // seed rate = the count-derived chooseIvfMod (√N — the p19 contract;
    // VERDICT r9 #1 replaced the fixed 32 with the derivation)
    val ivfMod = PipelineOps.chooseIvfMod(emb.length)
    val cents = emb.map(_._1)
      .filter(id => java.lang.Long.parseLong(md5hex(id.toString).take(8), 16) % ivfMod == 0)
    assert(cents.nonEmpty)
    // nearest centroid: csim DESC, c_id ASC
    val assign = emb.map { case (id, _) =>
      val (cid, csim) = cents.map(c => (c, cos(id, c)))
        .minBy { case (c, s) => (-s, c) }
      (id, cid, csim)
    }
    // keep priority: farthest-from-centroid first (csim ASC, vec_id ASC)
    val pri = assign.groupBy(_._2).toSeq.flatMap { case (_, xs) =>
      xs.sortBy(x => (x._3, x._1)).zipWithIndex.map { case (x, i) => x._1 -> (i + 1) }
    }.toMap
    val byCluster = assign.groupBy(_._2)
    val dups = assign.filter { case (id, cid, _) =>
      byCluster(cid).exists { case (other, _, _) =>
        pri(other) < pri(id) && cos(other, id) >= 0.30
      }
    }.map(_._1).toSet
    val out = run("p67_semantic_dedup").collect()
    assert(out.length == emb.length, "every vector classified exactly once")
    out.foreach { r =>
      val id = r.getLong(0)
      val (_, cid, csim) = assign.find(_._1 == id).get
      assert(r.getLong(1) == cid, s"vec $id cluster")
      assert(r.getDouble(2) == math.floor(csim * 1e6 + 0.5) / 1e6, s"vec $id cent_sim")
      assert(r.getBoolean(3) == dups(id), s"vec $id is_dup")
    }
    // the rule has bite on the gate corpus, and keeps ≥1 rep per cluster
    assert(dups.nonEmpty)
    byCluster.keys.foreach { cid =>
      val members = out.filter(_.getLong(1) == cid)
      assert(members.exists(!_.getBoolean(3)), s"cluster $cid kept a representative")
    }
  }

  test("p68 fertility buckets are consistent with p51's per-doc economics") {
    val p68 = run("p68_tokenizer_fertility").collect()
    val p51 = run("p51_bpe_tokenize").collect()
    val buckets = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("lang", "source").distinct().count()
    assert(p68.length == buckets, "one row per (lang, source) bucket")
    // the same corpus-wide word/token mass, partitioned two ways
    assert(p68.map(_.getLong(p68.head.fieldIndex("n_words"))).sum ==
      p51.map(_.getLong(p51.head.fieldIndex("n_words"))).sum)
    assert(p68.map(_.getLong(p68.head.fieldIndex("n_bpe_tokens"))).sum ==
      p51.map(_.getLong(p51.head.fieldIndex("n_bpe_tokens"))).sum)
    p68.foreach { r =>
      val words = r.getLong(r.fieldIndex("n_words"))
      val toks = r.getLong(r.fieldIndex("n_bpe_tokens"))
      val fert = r.getDouble(r.fieldIndex("fertility"))
      assert(words > 0 && toks >= words, "every word is ≥1 BPE token")
      assert(fert == math.floor(toks.toDouble / words * 1e6 + 0.5) / 1e6)
      val single = r.getDouble(r.fieldIndex("pct_single_token"))
      assert(single >= 0.0 && single <= 1.0)
    }
  }

  test("p69 boundary overlap equals a JVM reference; every planted continuation pairs") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    def words(t: String) = t.trim.split("\\s+").toVector
    def md5hex(s: String) = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val K = 8; val off = 2199023255552L
    val aug = docs ++ docs.collect {
      case (id, t) if id % 9 == 4 && words(t).length >= K =>
        (id + off) -> (words(t).takeRight(K).mkString(" ") + " stitched continuation segment")
    }
    val g = aug.map { case (id, t) => (id, words(t)) }.filter(_._2.length >= K)
      .map { case (id, w) => (id, w.take(K).mkString(" "), w.takeRight(K).mkString(" ")) }
    val byPfx = g.groupBy(_._2)
    val expect = (for {
      (a, _, sfx) <- g
      (b, _, _) <- byPfx.getOrElse(sfx, Seq.empty) if b != a
    } yield (a, b, md5hex(sfx))).toSet
    val out = run("p69_boundary_overlap").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(out == expect, s"pair set: got ${out.size}, expected ${expect.size}")
    // every planted continuation pairs with its source, in the right direction
    docs.foreach { case (id, t) =>
      if (id % 9 == 4 && words(t).length >= K)
        assert(out.exists(p => p._1 == id && p._2 == id + off), s"source $id must continue")
    }
    assert(out.nonEmpty)
  }

  test("p70 mojibake score equals a JVM reference; planted docs carry every signal") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    def cnt1(t: String, c: Char) = t.count(_ == c).toLong
    def cnt2(t: String, pat: String) =
      ((t.length - t.replace(pat, "").length) / 2).toLong
    val tail = PipelineOps.MojiPlantTail
    val out = run("p70_mojibake_score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5))).sortBy(_._1)
    assert(out.length == docs.length)
    out.zip(docs.sortBy(_._1)).foreach { case ((id, repl, ctrl, moji, score, clean), (did, t0)) =>
      assert(id == did)
      val t = if (id % 13 == 5) t0 + tail else t0
      val eRepl = cnt1(t, PipelineOps.MojiRepl.head)
      val eCtrl = t.count(c => (c >= 1 && c <= 8) || c == 11 || c == 12 || (c >= 14 && c <= 31)).toLong
      val eMoji = cnt2(t, PipelineOps.MojiDigraph1) + cnt2(t, PipelineOps.MojiDigraph2)
      assert((repl, ctrl, moji) == ((eRepl, eCtrl, eMoji)), s"doc $id counts")
      assert(score == (eRepl * 3 + eCtrl * 2 + eMoji) * 1000000L / t.length, s"doc $id score")
      assert(clean == (eRepl == 0 && eCtrl == 0 && eMoji == 0), s"doc $id flag")
      if (id % 13 == 5)
        assert(repl == 1 && ctrl == 1 && moji == 2, s"doc $id planted signals")
    }
    assert(out.exists(!_._6) && out.exists(_._6), "both classes populated")
  }

  test("p71 tf-idf keywords equals a JVM reference; ranks dense from 1, rare terms outrank") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    def words(t: String) = t.trim.split("\\s+").toVector.filter(_.nonEmpty)
    val tf = docs.flatMap { case (id, t) => words(t).map(w => (id, w)) }
      .groupBy(identity).map { case ((id, w), g) => (id, w, g.size.toLong) }.toSeq
    val df = tf.groupBy(_._2).map { case (w, g) => w -> g.size.toLong }
    val n = docs.size.toLong
    def idfU(d: Long) = math.floor(1e6 * math.log((n + 1).toDouble / (d + 1)) + 0.5).toLong
    val expect = tf.groupBy(_._1).flatMap { case (id, terms) =>
      terms.map { case (_, w, f) => (w, f, df(w), f * idfU(df(w))) }
        .sortBy { case (w, _, _, s) => (-s, w) }.take(5).zipWithIndex
        .map { case ((w, f, d, s), ix) => (id, (ix + 1).toLong, w, f, d, s) }
    }.toSet
    val out = run("p71_tfidf_keywords").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(out == expect, s"got ${out.size} rows, expected ${expect.size}")
    assert(out.size == docs.size * 5, "every doc has >=5 distinct terms at this SF")
    // the corpus's one genuinely rare term must outrank ubiquitous terms
    // wherever it appears (df ~25 vs ~380+ — idf dominates single-digit tf)
    val rare = df.minBy(_._2)._1
    docs.foreach { case (id, t) =>
      if (words(t).contains(rare))
        assert(out.exists(r => r._1 == id && r._3 == rare),
          s"doc $id contains rare term '$rare' but it missed the top-5")
    }
  }

  test("p72 source overlap equals a JVM reference; every mirror pairs with its source") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val aug = docs ++ docs.collect { case (id, s, t) if id % 11 == 3 =>
      (id + 4398046511104L, "mir_" + s, t)
    }
    val d = aug.map { case (_, s, t) => (s, t) }.distinct
    val cnt = d.groupBy(_._1).map { case (s, g) => s -> g.size.toLong }
    val byText = d.groupBy(_._2)
    val pairs = byText.values.flatMap { srcs =>
      for (a <- srcs; b <- srcs if a._1 < b._1) yield (a._1, b._1)
    }.groupBy(identity).map { case ((a, b), g) => (a, b, g.size.toLong) }
    val expect = pairs.map { case (a, b, sh) =>
      (a, b, sh, cnt(a), cnt(b), sh * 1000000L / (cnt(a) + cnt(b) - sh))
    }.toSet
    val out = run("p72_source_overlap").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(out == expect, s"got ${out.size} pair rows, expected ${expect.size}")
    // every planted mirror source appears, paired with its original
    val mirrored = docs.collect { case (id, s, _) if id % 11 == 3 => s }.distinct
    mirrored.foreach { s =>
      assert(out.exists(p => p._1 == "mir_" + s && p._2 == s), s"mirror of $s must pair")
    }
    assert(out.nonEmpty)
  }

  test("p73 CDC chunks equals a JVM reference; boundaries are content-local") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    def md5hex(s: String) = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    def h60(s: String) = java.lang.Long.parseLong(md5hex(s).take(15), 16)
    def chunksOf(t: String): Seq[String] = {
      val ws = t.trim.split("\\s+").toSeq.filter(_.nonEmpty)
      val out = Seq.newBuilder[String]
      var cur = Vector.empty[String]
      ws.foreach { w =>
        cur :+= w
        if (h60(w) % 8 == 0) { out += cur.mkString(" "); cur = Vector.empty }
      }
      if (cur.nonEmpty) out += cur.mkString(" ")
      out.result()
    }
    val all = docs.flatMap { case (id, t) => chunksOf(t).map(c => (id, c)) }
    val expect = all.groupBy { case (_, c) => h60(c) }.values.collect {
      case g if g.size >= 2 =>
        (g.map(x => md5hex(x._2)).min, g.map(_._2.split(" ").length.toLong).min,
          g.size.toLong, g.map(_._1).distinct.size.toLong, g.map(_._1).min)
    }.toSet
    val out = run("p73_cdc_chunks").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(out == expect, s"got ${out.size} dup chunks, expected ${expect.size}")
    assert(out.nonEmpty, "common-word chunks recur organically at every SF")
    // content-locality: prepending a word to a doc must not change any
    // chunk that starts after the first boundary (the CDC property)
    val (id0, t0) = docs.find(_._2.trim.split("\\s+").length > 20).get
    val orig = chunksOf(t0); val shifted = chunksOf("prefixword " + t0)
    assert(orig.tail.toSet.subsetOf(shifted.toSet + orig.head),
      s"chunks after the first boundary must survive a prefix edit (doc $id0)")
  }

  test("p74 cluster rep equals a JVM reference; originals beat their damaged twins") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    val aug = docs ++ docs.collect { case (id, t) if id % 6 == 1 =>
      (id + 8796093022208L) -> (t.toUpperCase + " !! ?? ..")
    }
    def norm(t: String) = t.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
    def qual(t: String) = t.replaceAll("[^A-Za-z0-9]+", "").length.toLong * 1000000L / t.length
    val byCk = aug.map { case (id, t) => (id, norm(t), qual(t)) }.groupBy(_._2)
    val expect = byCk.values.flatMap { g =>
      val sorted = g.sortBy { case (id, _, q) => (-q, id) }
      val rep = sorted.head._1
      sorted.map { case (id, _, q) => (id, rep, g.size.toLong, id == rep, q) }
    }.toSet
    val out = run("p74_cluster_rep").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3), r.getLong(4))).toSet
    assert(out == expect, s"got ${out.size} rows, expected ${expect.size}")
    // every planted twin loses to its original
    docs.foreach { case (id, _) =>
      if (id % 6 == 1) {
        assert(out.exists(r => r._1 == id + 8796093022208L && !r._4 && r._2 == id),
          s"twin of $id must lose its cluster to the original")
        assert(out.exists(r => r._1 == id && r._4), s"original $id must be the rep")
      }
    }
  }

  test("driver contract: every oracle key has a query, entry() returns rows") {
    assert(PipelineOps.oracleSql.keySet.subsetOf(PipelineOps.queries.keySet))
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracle texts follow the embeddings count: only the five count-derived oracles move") {
    assert(SparkEntry.oracleSqlFor(500L) == SparkEntry.oracleSql)
    val gate = PipelineOps.oracleSql
    val sf01 = PipelineOps.oracleSqlFor(2000L) // the sf0.1 embeddings count
    assert(sf01.keySet == gate.keySet)
    assert(gate.keySet.filter(k => gate(k) != sf01(k)) == Set("p08_ann_srp_lsh",
      "p19_ann_ivf", "p22_embed_dedup", "p67_semantic_dedup", "p79_bitext_ann"))
    // the IVF codebook rate the Spark side derives from the same count
    val (gateMod, sf01Mod) = (PipelineOps.chooseIvfMod(500L), PipelineOps.chooseIvfMod(2000L))
    assert((gateMod, sf01Mod) == ((22, 45)))
    for (k <- Seq("p19_ann_ivf", "p67_semantic_dedup")) {
      assert(gate(k).contains(s"% $gateMod = 0") && !gate(k).contains(s"% $sf01Mod = 0"), k)
      assert(sf01(k).contains(s"% $sf01Mod = 0") && !sf01(k).contains(s"% $gateMod = 0"), k)
    }
  }
}
