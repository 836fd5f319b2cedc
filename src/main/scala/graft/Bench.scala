package graft
import org.apache.spark.sql.DataFrame

/** Per-round benchmark: one JSON line with per-query wall seconds.
  *
  * Bench times the suite, records per-query med/min/max (plus one
  * settle-retry for a query whose runs disagree wildly), runs the p79
  * fidelity and recall gates and writes its artifact. It does not judge its
  * own window or compare itself with earlier runs: window noise is
  * perfbench's job (seeded repeats, IQR bounds, loadavg and [[calibrate]]
  * around each run), cross-run comparison is `tools/trend.py`'s (same sf
  * and same `cpus` only), and an interleaved A/B is [[Sampler]]'s.
  *
  * Methodology (VERDICT r1 #2, r2 #6):
  *  - execution sink is a noop write, not `.count()` — count() lets Catalyst
  *    prune unreferenced projections, so expression-heavy queries would never
  *    compute their expressions;
  *  - a full untimed warm-up pass precedes the timed passes, so the first
  *    query measured doesn't absorb JVM/Spark class-loading (~6 s in r1);
  *  - each query reports the MEDIAN of 3 consecutive timed runs (r2 showed
  *    ±2-3x single-run noise on sub-second queries; medians separate real
  *    regressions from scheduler jitter);
  *  - errors propagate: a failed query records -1 AND lands in "errors";
  *    nothing is silently swallowed.
  */
object Bench {
  /** Base timed runs per query; sub-2s queries get [[FastTimedRuns]] (r5 #4:
    * median-of-3 is too coarse for sub-second queries on a shared host —
    * q47 read 0.59/0.67/1.64 s across three same-code measurements). */
  private val TimedRuns = 3
  private val FastTimedRuns = 5
  private val FastQueryThresholdSec = 2.0

  /** One query's timed runs: median/min/max seconds over `runs` (all -1
    * when a run failed, with the first failure's message in `error`). */
  final case class QStat(median: Double, min: Double, max: Double, runs: Int,
                         error: Option[String] = None)

  /** The runs policy, free of Spark: `run()` times one run in seconds, or
    * throws. [[TimedRuns]] runs, promoted to [[FastTimedRuns]] when ANY
    * completed run is under [[FastQueryThresholdSec]] (ADVICE r6:
    * classifying on the first run alone let one contention spike lock a
    * sub-second query into 3-run mode). The first failure stops the query
    * and records -1: a median of the surviving runs would report a
    * healthy-looking time for a flaky query. */
  def timeRuns(run: () => Double): QStat = {
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    var target = TimedRuns
    var error: Option[String] = None
    while (error.isEmpty && times.length < target) {
      try {
        times += run()
        if (times.last < FastQueryThresholdSec) target = FastTimedRuns
      } catch { case e: Throwable =>
        error = Some(Option(e.getMessage).getOrElse(e.getClass.getName))
      }
    }
    if (error.nonEmpty) QStat(-1.0, -1.0, -1.0, target, error)
    else {
      val s = times.sorted
      QStat(s(s.length / 2), s.head, s.last, target)
    }
  }

  /** Settle-retry rule: the query's own runs disagree wildly (max/min > 3)
    * and the slow run is material (max > 0.5 s), so 20 ms-scale jitter on
    * a fast query never qualifies. */
  def unstable(s: QStat): Boolean = s.min > 0 && s.max > 0.5 && s.max / s.min > 3.0

  private def execute(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Compile latency (parse + plan-build, no execution) on the reference's
    * own compile-bench query (prql-compiler/benches/bench.rs:11-21 uses
    * variables-0.prql; ~300us/query on the author's laptop). Tables are
    * pre-resolved so this measures the compiler, not parquet footer I/O.
    * Returns (parseUs, totalUs) per query: parse is pure Scala (~60-160us
    * warmed — the axis comparable to the reference's parse+render); total
    * adds ONE Spark analyzer run over the single unresolved plan the fold
    * builds (single-pass resolver where eligible — Planner.toDf), ~1.1 ms —
    * the price of emitting an analyzed, Catalyst-optimizable plan instead
    * of SQL text. Shared with CompileLatencyProbe so the two measurements
    * cannot diverge methodologically.
    *
    * VERDICT r9 #6 (close the three-round compile-latency item with a
    * profile): the 4-way split below names where the microseconds go —
    * (parse, lower = parse + the planner's fold to an UNRESOLVED Catalyst
    * plan, sqlgen = parse + render ONE Spark SQL string, total = lower +
    * the analyzer run). The reference's ~300 µs compile emits SQL TEXT
    * with no catalog resolution — its artifact-comparable path here is
    * `sqlgen`; `total − lower` is the Spark analyzer's per-query floor, a
    * cost class the reference never pays (and the reason `total` is not
    * the number to compare against bench.rs). Returns (parseUs, lowerUs,
    * sqlgenUs, totalUs) after `compileSrc`, which names the query timed:
    * `reference` (variables-0.prql) or `fallback` — a 4-line stand-in used
    * when the reference checkout is absent, announced on stderr and NOT
    * comparable to a `reference` number. */
  def measureCompileLatency(spark: org.apache.spark.sql.SparkSession, warm: Int = 400,
                            n: Int = 400): (String, Double, Double, Double, Double) = {
    var compileSrc = "reference"
    val src = try {
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        "/root/reference/book/tests/prql/examples/variables-0.prql")), "UTF-8")
    } catch { case _: java.io.IOException =>
      compileSrc = "fallback"
      System.err.println("[bench] compile latency: variables-0.prql absent, " +
        "timing the 4-line fallback query (compile_src=fallback)")
      "from employees\nfilter country == \"USA\"\nderive [gross_salary = salary + payroll_tax]\ntake 20"
    }
    val employees = spark.range(1).selectExpr("CAST(1 AS DOUBLE) salary",
      "CAST(1 AS DOUBLE) payroll_tax", "CAST(1 AS DOUBLE) benefits_cost",
      "'USA' country", "'e' title", "CAST(1 AS DOUBLE) gross_salary",
      "CAST(1 AS DOUBLE) gross_cost")
    val cat: String => DataFrame = _ => employees
    (1 to warm).foreach { _ =>
      Graft.compile(src, spark, cat); Graft.toSparkSql(src) // warm JIT
      Graft.lowerUnresolved(src, spark, cat)
    }
    var t0 = System.nanoTime()
    (1 to n).foreach(_ => graft.parse.Parser.parseWithSpans(src))
    val parseUs = (System.nanoTime() - t0) / 1e3 / n
    t0 = System.nanoTime()
    (1 to n).foreach(_ => Graft.lowerUnresolved(src, spark, cat))
    val lowerUs = (System.nanoTime() - t0) / 1e3 / n
    t0 = System.nanoTime()
    (1 to n).foreach(_ => Graft.toSparkSql(src))
    val sqlgenUs = (System.nanoTime() - t0) / 1e3 / n
    t0 = System.nanoTime()
    (1 to n).foreach(_ => Graft.compile(src, spark, cat))
    val totalUs = (System.nanoTime() - t0) / 1e3 / n
    (compileSrc, parseUs, lowerUs, sqlgenUs, totalUs)
  }

  /** Host-speed calibration canary: a fixed, pure-Spark workload
    * independent of graft code paths — a CPU-bound range-sum (2e8 rows
    * through whole-stage codegen) + one fixed parquet scan-agg over
    * lineitem (I/O + decode + hash-agg). Bench records one sample before
    * its warm-up and one after the suite (tag + timestamp + duration, plus
    * min/median/max) so a reader can see the host's speed in that window;
    * it draws no conclusion from them. perfbench's `Runner` calls
    * [[calibrate]] before and after each run for the same purpose. */
  private def calibWork(spark: org.apache.spark.sql.SparkSession, sfDir: String): Unit = {
    execute(spark.range(200000000L).selectExpr("sum(id) AS s"))
    execute(spark.read.parquet(s"$sfDir/lineitem.parquet")
      .selectExpr("sum(l_quantity) AS q", "sum(l_extendedprice * (1 - l_discount)) AS rev",
        "count(*) AS c"))
  }

  /** One timed calibration sample (callers warm once via [[calibWork]] first). */
  private def calibSample(spark: org.apache.spark.sql.SparkSession, sfDir: String): Double = {
    val t0 = System.nanoTime(); calibWork(spark, sfDir); (System.nanoTime() - t0) / 1e9
  }

  /** Median-of-3 canary, kept as the standalone API (warm + 3 samples). */
  def calibrate(spark: org.apache.spark.sql.SparkSession, sfDir: String): Double = {
    calibWork(spark, sfDir) // warm: JIT + parquet footer cache
    val times = (1 to 3).map(_ => calibSample(spark, sfDir))
    times.sorted.apply(1)
  }

  /** p79-vs-p77 fidelity floors (VERDICT r11 #2). Floors apply to coverage
    * and to the SHIPPED HEAD (top decile by margin — the pairs a miner
    * actually emits); the full-set organic top-1/Spearman are recorded but
    * NOT floored. The first ×10 measurement showed why: on the Walsh ×K
    * corpus the cross-replica cosine tail (energy-fluctuation pairs up to
    * ≈0.8) beats most sources' organic best match, so full-set top-1 is
    * argmax over decorrelated noise (measured 0.184 at ×10) — a regime no
    * miner ships from, and exactly the artifact the banding recall law
    * predicts: per-pair recall at the head's cos 0.6–0.8 is 0.4–0.8 at the
    * derived geometry, rising toward 1 at the reference cos 0.85. Head
    * floors are regression pins set just under the first quiet ×10
    * measurement (the p08-vs-p07 recall-floor precedent). */
  /** Graded-corpus organic fidelity floors (VERDICT r12 #2) and ×100
    * planted-pair recall floors (VERDICT r12 #1): -1 = record-only until
    * pinned just under the first quiet measurement (the p08-vs-p07
    * recall-floor precedent). */
  // graded (first quiet sf0.1 measurement, stride 2 → derived (7,8):
  // top1 0.794, spearman 0.850, tier-0.95 agreement 0.997 — each tier
  // tracks the banding law 1-(1-p^r)^b at its cosine: 0.994/0.834/0.516
  // predicted vs 0.997/0.853/0.532 measured)
  private val P79GradedTop1Floor = 0.78
  private val P79GradedSpearmanFloor = 0.83
  private val P79GradedTier95Floor = 0.99
  // ×100 recall probe (first quiet measurement at derived (12,23),
  // bench_1786864227187_probe.json): p08 top-cos-bin 1.000 (law 1.000),
  // p04 top-jaccard-bin 0.985 (law 1.000), p22 same-rep 1.000.
  // r14 cap sweep (bench_1786900572243_probe.json): recall per bin is
  // IDENTICAL at cap 2048/4096/uncapped (0.907/0.937/0.985) and within
  // 0.3% at 1024 — the r13 hypothesis that LshBucketCap caused the
  // law-gap is REFUTED by measurement; the stable few-% shortfall vs
  // 1-(1-j^2)^8 is the fixed 16-affine-hash minhash family vs the law's
  // independent-permutation assumption, a property of the estimator, not
  // a clamp artifact. The cap's job stays degenerate-bucket bounding;
  // uncapped paid +10% runtime for zero recall on this corpus.
  private val RecallP08TopBinFloor = 0.99
  private val RecallP04TopBinFloor = 0.97
  private val RecallP22SameRepFloor = 0.99

  private val P79CoverageFloor = 0.95
  private val P79PlantedFloor = 0.95     // first quiet ×10 measurement: 0.976
  // Head floors are K-dependent (ADVICE r13): the ×10 deep probe measured
  // head_top1 0.976 / shipped_jaccard 0.953 (floors 0.95/0.90 — margin),
  // but the RECURRING k=1 block's first quiet measurement sat EXACTLY on
  // those floors (0.950/0.905, bench_1786868944858.json) — zero margin, so
  // any benign tie-order shift in the ~100-row head would fail the round
  // bench spuriously. k=1 floors are re-pinned just under that first quiet
  // k=1 measurement per the repo's own pinning rule; the ×10-derived pair
  // still gates the env-driven deep probe.
  private val P79HeadAgreeFloorDeep = 0.95      // ×10 first quiet: 0.976
  private val P79ShippedJaccardFloorDeep = 0.90 // ×10 first quiet: 0.953
  private val P79HeadAgreeFloorK1 = 0.93        // k=1 first quiet: 0.950
  private val P79ShippedJaccardFloorK1 = 0.88   // k=1 first quiet: 0.905

  /** Average-rank ranking (ties are real: margins are 1e-6-quantized). */
  private def ranks(xs: Seq[Double]): Array[Double] = {
    val idx = xs.zipWithIndex.sortBy(_._1)
    val out = new Array[Double](xs.size)
    var i = 0
    while (i < idx.size) {
      var j = i
      while (j + 1 < idx.size && idx(j + 1)._1 == idx(i)._1) j += 1
      val avg = (i + j + 2) / 2.0
      (i to j).foreach(t => out(idx(t)._2) = avg)
      i = j + 1
    }
    out
  }

  /** Spearman rank correlation over paired sequences; -2 = undefined. */
  private def spearman(xsIn: Seq[Double], ysIn: Seq[Double]): Double = {
    val rx = ranks(xsIn); val ry = ranks(ysIn)
    if (rx.length < 2) return -2.0
    val n = rx.length
    val mx = rx.sum / n; val my = ry.sum / n
    val cov = rx.indices.map(i => (rx(i) - mx) * (ry(i) - my)).sum
    val vx = rx.map(v => (v - mx) * (v - mx)).sum
    val vy = ry.map(v => (v - my) * (v - my)).sum
    if (vx > 0 && vy > 0) cov / math.sqrt(vx * vy) else -2.0
  }

  /** The fixed orthogonal fast-JL mixer H·D_s (64-point Walsh-Hadamard
    * after a golden-ratio sign scramble) — see the buildScaledDir comment.
    * Hoisted so the graded-cosine corpus builder spreads with the SAME
    * mixer the ×K corpus uses. */
  private val spreadExpr =
    "transform(sequence(0, 63), i -> CAST(aggregate(" +
      "zip_with(embedding, sequence(0, 63), (x, j) -> struct(CAST(x AS DOUBLE) AS x, j AS j)), " +
      "CAST(0.0 AS DOUBLE), " +
      "(acc, e) -> acc + (CASE WHEN pmod(bit_count(i & e.j) + (shiftright(-7046029254386353131, e.j) & 1), 2) = 0 THEN e.x ELSE -e.x END)" +
      ") / 8.0 AS FLOAT)) AS embedding"

  /** Writes an ≈×`k` copy of documents and embeddings under `out` and
    * returns `out` (GenScale, the p79 fidelity blocks, the recall probe and
    * perfbench build their corpora here). Replicas get remapped ids
    * (`id·k + r`) and stay artifact-free:
    *  - texts get a per-replica suffix token, so replicas are near-dups,
    *    not exact dups — the duplicate-cluster size distribution stays
    *    ~flat instead of every cluster growing ×k;
    *  - embeddings get a per-replica Walsh ±1 sign pattern (a diagonal
    *    orthogonal transform): intra-replica geometry is preserved EXACTLY,
    *    while cross-replica dot products — including a vector against its
    *    own other replicas — decorrelate, because the relative pattern
    *    between replicas r1≠r2 is the balanced Walsh function of r1⊕r2. A
    *    circular rotation fails this: smooth vectors autocorrelate under
    *    shift, so every vector's k copies formed a near-dup CLIQUE and the
    *    true pair count grew ×k², which reads as super-linear operator
    *    scaling when it is a data artifact. */
  private[graft] def buildScaledDir(spark: org.apache.spark.sql.SparkSession,
                                    sfDir: String, k: Int, out: String): String = {
    // The Walsh patterns live on the 6 index bits of a 64-dim embedding —
    // 64 mutually-balanced sign patterns, so replicas r and r+64 would get
    // IDENTICAL signs (exact duplicate vectors, the clique artifact all
    // over again). For the second decade (VERDICT r11 #1, K=100) the
    // family extends to 128 by multiplying the high replica group
    // (h = r div 64) with a BENT function g(i) = (-1)^(i0·i1 ⊕ i2·i3 ⊕
    // i4·i5): a bent function's Walsh spectrum is flat at |2^{d/2}| = 8 of
    // 64, so the relative pattern between any low-group and high-group
    // replica (Walsh(w⊕w')·g) has bias at most 8/64 — worst-case
    // cross-replica cosine ≈ 0.125 for flat vectors, far below every
    // near-dup threshold, while same-group pairs keep the exact-balanced
    // Walsh guarantee. Intra-replica geometry stays EXACT (diagonal ±1 is
    // orthogonal) in both groups.
    // k = 1 is the degenerate "spread only" point (no replication; replica
    // 0's Walsh pattern is the identity) — the recurring p79 fidelity block
    // runs there so its planted-partner cosines stay predictable on
    // energy-flat vectors without paying a ×K corpus per round.
    require(k >= 1 && k <= 128,
      s"buildScaledDir: k must be in [1, 128] (64 Walsh patterns x 2 bent groups), got $k")
    // Diagonal ±1 bias bounds hold exactly for FLAT vectors only; for real
    // coordinates the same-vector cross-replica cosine is the energy-
    // fluctuation quadratic form |Σ q_i y_i²|/Σ y_i² — mean ≈ cv/8 ≈ 0.16
    // for Gaussian-like coords, tail to ≈0.8 measured on the gate corpus
    // (ScaleCorpusSpec pins the law). That is noise-CLASS, the faithful
    // target: organic unrelated pairs here sit at mean |cos| ≈ 0.10 with
    // the same tail shape, and a genuinely ×K corpus multiplies noise-
    // threshold neighbor degrees by K anyway. The artifact this kills is
    // the cos≈1 clique (naive copies), which no replica pair approaches.
    // A vector CONCENTRATED on few coordinates would break even that
    // (measured |cos| 0.71 seed before the fix), so every vector is first
    // spread once with the fixed orthogonal fast-JL mixer H·D_s (64-point
    // Walsh-Hadamard after a fixed non-Walsh golden-ratio sign scramble —
    // a Walsh-pattern scramble would reduce to a row permutation of H).
    // Q_r = D_r·H·D_s stays orthogonal, so intra-replica geometry is
    // EXACT — replica 0 is an isometric image of the original corpus, no
    // longer the identity.
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val docCols = docs.columns.map {
      case "doc_id" => s"doc_id * ${k}L + r AS doc_id"
      case "text"   => "concat(text, ' zq', CAST(r AS STRING)) AS text"
      case c        => s"`$c`"
    }
    docs.selectExpr(s"explode(sequence(0, ${k - 1})) AS r" +: docs.columns.map(c => s"`$c`"): _*)
      .selectExpr(docCols: _*)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val embs0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
    // spread FIRST (once per original vector), then replicate
    val embs = embs0.selectExpr(
      embs0.columns.map(c => if (c == "embedding") spreadExpr else s"`$c`"): _*)
    val embCols = embs.columns.map {
      case "vec_id" => s"vec_id * ${k}L + r AS vec_id"
      case "embedding" =>
        // Walsh ±1 sign flip per replica on the SPREAD vector: s_i(r) =
        // (-1)^popcount(i & (r mod 64)) · g(i)^(r div 64) with g the 6-bit
        // inner-product bent function (see the require above)
        "transform(embedding, (x, i) -> CASE WHEN pmod(bit_count(i & (r % 64)) " +
          "+ (r DIV 64) * (CAST((i & 3) = 3 AS INT) + CAST((i & 12) = 12 AS INT) + CAST((i & 48) = 48 AS INT)), 2) = 0 " +
          "THEN x ELSE -x END) AS embedding"
      case c => s"`$c`"
    }
    embs.selectExpr(s"explode(sequence(0, ${k - 1})) AS r" +: embs.columns.map(c => s"`$c`"): _*)
      .selectExpr(embCols: _*)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    out
  }

  /** local[N] width of every main's session: SPARK_GRAFT_CPUS, default 4. */
  private[graft] def envCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** (scale dir, local[N] session) from SPARK_GRAFT_SF_DIR (default sf0.1)
    * and [[envCpus]] — shared by Bench, PlanDump and Sampler so their
    * defaults cannot drift. */
  private[graft] def envSession(): (String, org.apache.spark.sql.SparkSession) = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    (sfDir, Graft.localSession(envCpus))
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, spark) = envSession()

    val benchEpochMs = System.currentTimeMillis()
    val benchT0 = System.nanoTime()
    def nowS: Double = (System.nanoTime() - benchT0) / 1e9

    // Optional args = exact query names to bench (local hotspot iteration:
    // `runMain graft.Bench p26_repetition`). The driver passes none, so the
    // per-round artifact always covers the full suite.
    val queries = {
      val all = SparkEntry.queries.toSeq.sortBy(_._1)
      if (args.isEmpty) all
      else {
        val want = args.toSet
        val unknown = want -- all.map(_._1).toSet
        require(unknown.isEmpty, s"unknown bench queries: ${unknown.mkString(",")}")
        all.filter(kv => want(kv._1))
      }
    }
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // (tag, t_rel_s at sample start, duration_s)
    val calibSamples = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Double)]
    def takeCalib(tag: String): Unit =
      try {
        val t = nowS; val d = calibSample(spark, sfDir)
        calibSamples += ((tag, t, d))
        System.err.println(f"[bench:calib] $tag t=$t%.1fs dur=$d%.3fs")
      } catch { case e: Throwable =>
        System.err.println(s"[bench] calibration ($tag) failed: ${e.getMessage}")
      }

    // calibration warm (JIT + parquet footer cache), then sample #0 BEFORE
    // the warm-up pass — the suite's whole window must be bracketed
    try calibWork(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[bench] calibration warm failed: ${e.getMessage}")
    }
    takeCalib("pre-warmup")

    // warm-up pass: JIT + parquet footer caches + codegen, untimed
    queries.foreach { case (name, fn) =>
      try execute(fn(spark, sfDir))
      catch { case e: Throwable =>
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[bench:warmup] $name failed: ${errors(name)}")
      }
    }

    // timed suite under the runs policy (see timeRuns); the run count adapts
    // on the timed runs, not the warm-up, which absorbs plan compile and
    // first-touch cost and would misclassify sub-second queries as slow
    def timeOnce(fn: (org.apache.spark.sql.SparkSession, String) => DataFrame): Double = {
      val t0 = System.nanoTime()
      execute(fn(spark, sfDir))
      (System.nanoTime() - t0) / 1e9
    }
    val results: Seq[(String, QStat, Double)] = queries.map { case (name, fn) =>
      val tStart = nowS
      val stat = timeRuns(() => timeOnce(fn))
      stat.error.foreach { e =>
        errors.getOrElseUpdate(name, e)
        System.err.println(s"[bench] $name failed: ${errors(name)}")
      }
      (name, stat, tStart)
    }
    takeCalib("post-suite")

    def f3(d: Double): String = if (d < 0) "-1" else f"$d%.3f"

    // ---- p79 shipped-set fidelity vs exact p77 (VERDICT r11 #2): the
    // gate-scale spec measures agreement at the GATE geometry; what a
    // CCMatrix-style miner ships is the high-margin head at the PRODUCTION
    // geometry. This block (env SPARK_GRAFT_P79_FIDELITY=1) builds the ×K
    // corpus (default ×10), PLANTS deterministic cross-half partners for
    // 10% of source vectors (one-coordinate sign flip of the source — the
    // only true pairs a decorrelated Walsh corpus can carry; the first
    // un-planted run measured full-set top-1 agreement 0.184 at ×10,
    // i.e. argmax over noise, a regime no miner ships from), then runs
    // exact p77 and p79 and records:
    //  - coverage (sources p79 emits a best-pair for, over p77's),
    //  - planted ship agreement (of the planted sources, how often each
    //    path's top-1 IS the planted partner, and how often both agree),
    //  - head metrics over the top margin decile (the shipped set):
    //    top-1 agreement and pair-set Jaccard,
    //  - the full-set organic top-1/Spearman, recorded but NOT floored
    //    (see P79CoverageFloor doc).
    // Floors are regression pins set just under the first quiet planted
    // measurement (the p08-vs-p07 recall-floor precedent).
    var p79FidelityJson = "null"
    // VERDICT r12 #6: the block is RECURRING — default-on for every
    // full-suite sf0.1 run (the per-round artifact), not just env-gated
    // probe runs, so shipped-set fidelity is floor-gated every round.
    // Default ×K is 1 there (spread-only corpus;
    // exact p77 costs ~3 s at sf0.1, so the block adds ~10 s to the round
    // bench); the ×10 deep probe remains env-driven
    // (SPARK_GRAFT_P79_FIDELITY=1 with SPARK_GRAFT_P79_FIDELITY_K=10).
    val fidelityDefault = args.isEmpty && sfDir.endsWith("sf0.1")
    val fidelityExplicit = sys.env.get("SPARK_GRAFT_P79_FIDELITY").contains("1")
    if (fidelityExplicit || (sys.env.get("SPARK_GRAFT_P79_FIDELITY").isEmpty && fidelityDefault)) {
      try {
        // ADVICE r13: an explicit SPARK_GRAFT_P79_FIDELITY=1 without _K
        // means the historical ×10 deep probe, not the shallow recurring
        // k=1 block — only the implicit per-round default runs at k=1.
        val fk = sys.env.get("SPARK_GRAFT_P79_FIDELITY_K").map(_.toInt)
          .getOrElse(if (fidelityExplicit) 10 else 1)
        val fdir0 = buildScaledDir(spark, sfDir, fk, "target/p79fidelity")
        // plant partners: every 10th source vector gets a target-half twin
        // (vec_id + PlantOffset, label 9) whose embedding flips ONE
        // coordinate (pmod(vec_id, 64)) — cos ≈ 1 - 2/64 for spread
        // (energy-flat) vectors, far above the cross-replica noise tail
        val PlantOffset = 1000000000L
        val fdir = "target/p79fidelity_planted"
        val emb0 = spark.read.parquet(s"$fdir0/embeddings.parquet")
        val partnerCols = emb0.columns.map {
          case "vec_id" => s"vec_id + ${PlantOffset}L AS vec_id"
          case "label"  => "label * 0 + 9 AS label" // keep the column type
          case "embedding" =>
            "transform(embedding, (x, i) -> CASE WHEN CAST(i AS BIGINT) = " +
              "pmod(vec_id, 64) THEN -x ELSE x END) AS embedding"
          case c => s"`$c`"
        }
        emb0.unionByName(
            emb0.where("label < 5 AND vec_id % 10 = 0").selectExpr(partnerCols: _*))
          .write.mode("overwrite").parquet(s"$fdir/embeddings.parquet")
        def bestPairs(name: String): (Map[Long, (Long, Double)], Double) = {
          val t0 = System.nanoTime()
          val m = SparkEntry.queries(name)(spark, fdir).collect()
            .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
          (m, (System.nanoTime() - t0) / 1e9)
        }
        val (exact, exactS) = bestPairs("p77_bitext_margin")
        val (approx, approxS) = bestPairs("p79_bitext_ann")
        val common = exact.keySet.intersect(approx.keySet).toSeq.sorted
        val coverage =
          if (exact.nonEmpty) common.size.toDouble / exact.size else -1.0
        val agree =
          if (common.nonEmpty)
            common.count(s => exact(s)._1 == approx(s)._1).toDouble / common.size
          else -1.0
        // planted ship agreement: for each planted source, is the path's
        // emitted top-1 the planted partner?
        val plantedSrcs = exact.keySet.filter(s => s < PlantOffset && s % 10 == 0).toSeq
        def frac(n: Int) =
          if (plantedSrcs.nonEmpty) n.toDouble / plantedSrcs.size else -1.0
        val pExact = frac(plantedSrcs.count(s => exact(s)._1 == s + PlantOffset))
        val pApprox = frac(plantedSrcs.count(s =>
          approx.get(s).exists(_._1 == s + PlantOffset)))
        val pBoth = frac(plantedSrcs.count(s => exact(s)._1 == s + PlantOffset &&
          approx.get(s).exists(_._1 == s + PlantOffset)))
        // shipped head: the top decile by margin on each side, tie-broken
        // by source id (margins are 1e-6-quantized) — the set a
        // CCMatrix-style miner would actually emit
        val m = math.max(1, math.ceil(exact.size * 0.1).toInt)
        def head(mp: Map[Long, (Long, Double)]) =
          mp.toSeq.sortBy { case (s, (_, mg)) => (-mg, s) }.take(m)
        val exactHead = head(exact)
        val headSrcs = exactHead.map(_._1).filter(approx.contains)
        val headAgree =
          if (headSrcs.nonEmpty)
            headSrcs.count(s => exact(s)._1 == approx(s)._1).toDouble / headSrcs.size
          else -1.0
        val exactPairs = exactHead.map { case (s, (t, _)) => (s, t) }.toSet
        val approxPairs = head(approx).map { case (s, (t, _)) => (s, t) }.toSet
        val shippedJaccard =
          if ((exactPairs ++ approxPairs).nonEmpty)
            (exactPairs & approxPairs).size.toDouble / (exactPairs ++ approxPairs).size
          else -1.0
        // ADVICE r12: the planted partners are ~10% of sources at cos far
        // above the organic tail, so the decile head is planted-dominated
        // and the three head metrics largely re-measure planted recovery.
        // Also grade the ORGANIC members of a top-QUINTILE head (the
        // planted sources removed) so a regression in organic shipped-pair
        // fidelity just below the planted band has its own number.
        val plantedSet = plantedSrcs.toSet
        val m20 = math.max(1, math.ceil(exact.size * 0.2).toInt)
        val organicHeadSrcs = exact.toSeq.sortBy { case (s, (_, mg)) => (-mg, s) }
          .take(m20).map(_._1).filterNot(plantedSet.contains).filter(approx.contains)
        val organicHeadAgree =
          if (organicHeadSrcs.nonEmpty)
            organicHeadSrcs.count(s => exact(s)._1 == approx(s)._1).toDouble / organicHeadSrcs.size
          else -1.0
        val fullSpearman =
          spearman(common.map(s => exact(s)._2), common.map(s => approx(s)._2))
        val headFloor =
          if (fk >= 10) P79HeadAgreeFloorDeep else P79HeadAgreeFloorK1
        val shippedFloor =
          if (fk >= 10) P79ShippedJaccardFloorDeep else P79ShippedJaccardFloorK1
        val passed = coverage >= P79CoverageFloor && pBoth >= P79PlantedFloor &&
          headAgree >= headFloor && shippedJaccard >= shippedFloor
        // floors ENFORCED (VERDICT r12 #6): fidelity is deterministic
        // (recall, not timing), so a floor breach is a real regression —
        // it joins `errors` and fails the bench exit code like a broken
        // query would
        if (!passed)
          errors("p79_fidelity") =
            f"below floor: coverage=${coverage}%.3f planted_both=${pBoth}%.3f head_top1=${headAgree}%.3f shipped_jaccard=${shippedJaccard}%.3f"
        p79FidelityJson =
          s"""{"k":$fk,"srcs_exact":${exact.size},"srcs_common":${common.size},"head_m":$m,""" +
          s""""planted":{"n":${plantedSrcs.size},"exact_top1":${f3(pExact)},"approx_top1":${f3(pApprox)},"both_top1":${f3(pBoth)},"construction":"one-coordinate sign flip, cos ~ 1-2/64 for spread vectors"},""" +
          s""""coverage":${f3(coverage)},"head_top1_agreement":${f3(headAgree)},""" +
          s""""organic_head_top1":${f3(organicHeadAgree)},"organic_head_n":${organicHeadSrcs.size},""" +
          s""""organic_head_note":"top-quintile head minus planted sources (ADVICE r12); floored organic fidelity lives in p79_graded, whose corpus plants graded-cosine partners for EVERY source",""" +
          s""""shipped_jaccard":${f3(shippedJaccard)},""" +
          s""""fullset_top1_agreement":${f3(agree)},"fullset_margin_spearman":${f3(fullSpearman)},""" +
          s""""fullset_note":"recorded, not floored: on the Walsh xK corpus the full set is argmax over decorrelated noise (cross-replica energy tail to cos~0.8) - see P79CoverageFloor doc",""" +
          s""""exact_s":${f3(exactS)},"approx_s":${f3(approxS)},""" +
          s""""floors":{"coverage":$P79CoverageFloor,"planted_both_top1":$P79PlantedFloor,"head_top1_agreement":$headFloor,"shipped_jaccard":$shippedFloor,"floor_tier":"${if (fk >= 10) "deep_x10" else "k1"}"},""" +
          s""""passed":$passed}"""
        System.err.println(f"[bench:p79-fidelity] k=$fk coverage=${f3(coverage)} planted=${f3(pExact)}/${f3(pApprox)}/${f3(pBoth)} head_top1=${f3(headAgree)} shipped_jaccard=${f3(shippedJaccard)} fullset_top1=${f3(agree)} fullset_spearman=${f3(fullSpearman)} exact=${f3(exactS)}s approx=${f3(approxS)}s passed=$passed")
      } catch { case e: Throwable =>
        System.err.println(s"[bench] p79 fidelity failed: ${e.getMessage}")
      }
    }

    // ---- p79 graded-cosine organic fidelity (VERDICT r12 #2): the Walsh
    // ×K corpus has no organic cross-half structure — full-set top-1 there
    // is argmax over decorrelated noise (recorded UNFLOORED above). This
    // block builds the regime a miner actually ships from,
    // deterministically: every (strided) source vector gets a TARGET-half
    // partner at a GRADED exact cosine — tier by pmod(vec_id, 3):
    // 0.95 / 0.8 / 0.6, constructed by Gram-Schmidt against a
    // Walsh-flipped copy of the vector so cos(v, partner) = c up to float
    // — plus one decorrelated distractor target per source (Walsh pattern
    // 21 sign flip), so the target half is 2x the source half and top-1 is
    // non-trivial. Full-set top-1 agreement and margin-Spearman vs exact
    // p77 become floorable laws on graded organic structure, retiring the
    // unfloored argmax-over-noise reading as the only full-set evidence.
    var p79GradedJson = "null"
    if (sys.env.get("SPARK_GRAFT_P79_GRADED").map(_ == "1").getOrElse(fidelityDefault)) {
      try {
        val stride = sys.env.getOrElse("SPARK_GRAFT_P79_GRADED_STRIDE", "2").toLong
        val GradedOffset = 1000000000L
        val gdir = "target/p79graded"
        val tGen0 = System.nanoTime()
        spark.read.parquet(s"$sfDir/embeddings.parquet")
          .createOrReplaceTempView("embeddings")
        spark.sql(s"""
          WITH sp AS (
            SELECT vec_id, $spreadExpr FROM embeddings WHERE pmod(vec_id, ${stride}L) = 0),
          st AS (
            SELECT vec_id, embedding AS v,
              aggregate(embedding, CAST(0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS n2,
              aggregate(zip_with(embedding, sequence(0, 63), (x, i) ->
                CASE WHEN pmod(bit_count((pmod(vec_id, 63) + 1) & i), 2) = 0
                     THEN CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                     ELSE -(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) END),
                CAST(0 AS DOUBLE), (a, x) -> a + x) AS dvw
            FROM sp),
          wt AS (
            SELECT vec_id, v, n2,
              zip_with(v, sequence(0, 63), (x, i) ->
                (CASE WHEN pmod(bit_count((pmod(vec_id, 63) + 1) & i), 2) = 0
                      THEN CAST(x AS DOUBLE) ELSE -CAST(x AS DOUBLE) END)
                - dvw / n2 * CAST(x AS DOUBLE)) AS w
            FROM st WHERE n2 > 0),
          tiers AS (
            SELECT vec_id, v, n2, w,
              aggregate(w, CAST(0 AS DOUBLE), (a, x) -> a + x * x) AS n2w,
              CASE CAST(pmod(vec_id, 3) AS INT) WHEN 0 THEN CAST(0.95 AS DOUBLE)
                   WHEN 1 THEN CAST(0.8 AS DOUBLE) ELSE CAST(0.6 AS DOUBLE) END AS c
            FROM wt)
          SELECT vec_id, CAST(0 AS INT) AS label, v AS embedding FROM tiers
          UNION ALL
          SELECT vec_id + ${GradedOffset}L AS vec_id, CAST(9 AS INT) AS label,
            CASE WHEN n2w < 1e-12 THEN v
                 ELSE zip_with(v, w, (x, y) ->
                   CAST(c * CAST(x AS DOUBLE) + sqrt(1 - c * c) * sqrt(n2 / n2w) * y AS FLOAT)) END AS embedding
          FROM tiers
          UNION ALL
          SELECT vec_id + ${2 * GradedOffset}L AS vec_id, CAST(9 AS INT) AS label,
            transform(zip_with(v, sequence(0, 63), (x, i) ->
              CASE WHEN pmod(bit_count(21 & i), 2) = 0 THEN CAST(x AS DOUBLE) ELSE -CAST(x AS DOUBLE) END),
              x -> CAST(x AS FLOAT)) AS embedding
          FROM tiers""")
          .write.mode("overwrite").parquet(s"$gdir/embeddings.parquet")
        val genS = (System.nanoTime() - tGen0) / 1e9
        def bestPairsG(name: String): (Map[Long, (Long, Double)], Double) = {
          val t0 = System.nanoTime()
          val m = SparkEntry.queries(name)(spark, gdir).collect()
            .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
          (m, (System.nanoTime() - t0) / 1e9)
        }
        val (gx, gxS) = bestPairsG("p77_bitext_margin")
        val (ga, gaS) = bestPairsG("p79_bitext_ann")
        val common = gx.keySet.intersect(ga.keySet).toSeq.sorted
        val coverage = if (gx.nonEmpty) common.size.toDouble / gx.size else -1.0
        val top1 =
          if (common.nonEmpty)
            common.count(sid => gx(sid)._1 == ga(sid)._1).toDouble / common.size
          else -1.0
        val gSpearman =
          spearman(common.map(sid => gx(sid)._2), common.map(sid => ga(sid)._2))
        def tierOf(sid: Long): Int = (sid % 3).toInt
        // tier index by cosine: tier 0 = 0.95, 1 = 0.8, 2 = 0.6
        val tierJson = (0 to 2).map { t =>
          val cos = t match { case 0 => 0.95; case 1 => 0.8; case _ => 0.6 }
          val srcs = common.filter(tierOf(_) == t)
          val agree =
            if (srcs.nonEmpty) srcs.count(sid => gx(sid)._1 == ga(sid)._1).toDouble / srcs.size
            else -1.0
          val xAll = gx.keySet.toSeq.filter(tierOf(_) == t)
          val hitX =
            if (xAll.nonEmpty) xAll.count(sid => gx(sid)._1 == sid + GradedOffset).toDouble / xAll.size
            else -1.0
          val aAll = ga.keySet.toSeq.filter(tierOf(_) == t)
          val hitA =
            if (aAll.nonEmpty) aAll.count(sid => ga(sid)._1 == sid + GradedOffset).toDouble / aAll.size
            else -1.0
          (t, cos, srcs.size, agree, hitX, hitA)
        }
        val tier95Agree = tierJson.head._4
        val gPassed =
          (P79GradedTop1Floor < 0 || top1 >= P79GradedTop1Floor) &&
          (P79GradedSpearmanFloor < 0 || gSpearman >= P79GradedSpearmanFloor) &&
          (P79GradedTier95Floor < 0 || tier95Agree >= P79GradedTier95Floor)
        if (!gPassed)
          errors("p79_graded") = f"below floor: top1=$top1%.3f spearman=$gSpearman%.3f tier95=$tier95Agree%.3f"
        val tiersStr = tierJson.map { case (t, cos, n, agree, hitX, hitA) =>
          s"""{"tier":$t,"cos":$cos,"n":$n,"top1_agreement":${f3(agree)},"exact_planted_hit":${f3(hitX)},"approx_planted_hit":${f3(hitA)}}"""
        }.mkString("[", ",", "]")
        p79GradedJson =
          s"""{"stride":$stride,"gen_s":${f3(genS)},"srcs_exact":${gx.size},"srcs_common":${common.size},""" +
          s""""coverage":${f3(coverage)},"fullset_top1_agreement":${f3(top1)},"fullset_margin_spearman":${f3(gSpearman)},""" +
          s""""tiers":$tiersStr,"exact_s":${f3(gxS)},"approx_s":${f3(gaS)},""" +
          s""""floors":{"fullset_top1":$P79GradedTop1Floor,"fullset_spearman":$P79GradedSpearmanFloor,"tier95_top1":$P79GradedTier95Floor},""" +
          s""""passed":$gPassed}"""
        System.err.println(f"[bench:p79-graded] top1=${f3(top1)} spearman=${f3(gSpearman)} " +
          s"tiers=${tierJson.map(t => s"${t._2}:${f3(t._4)}").mkString(",")} " +
          s"exact=${f3(gxS)}s approx=${f3(gaS)}s passed=$gPassed")
      } catch { case e: Throwable =>
        System.err.println(s"[bench] p79 graded fidelity failed: ${e.getMessage}")
      }
    }

    // ---- ×K planted-pair recall probe (VERDICT r12 #1): the ×100 scale
    // probe measured that the r=12 clamp + SrpBucketCap flatten RUNTIME;
    // this measures whether planted-pair RECALL survives the same clamps
    // at the same derived geometry. Partners are planted on the ×K corpus
    // (sources at pmod(id, mod) = 0):
    //  - embeddings: flip m coordinates (tier by pmod(vec_id, 3):
    //    m = 1/3/5 → cos ≈ 1 − 2m/64 for energy-flat spread vectors);
    //  - documents: replace every k-th word (tier k = 40/24/14) with a
    //    doc-local sentinel, degrading the 3-gram shingle set by a
    //    controlled fraction.
    // Ground truth per pair is MEASURED (PipelineOps.plantedCosine /
    // plantedShingleJaccard — the operator's own feature space), recall is
    // binned by measured similarity, and each bin carries the banding-law
    // prediction (1-(1-p^r)^b) so cap-induced loss is readable as
    // measured-vs-law. p22 additionally reports the operator-level law:
    // planted partners land in the SAME component (rep equality).
    var recallProbeJson = "null"
    if (sys.env.getOrElse("SPARK_GRAFT_RECALL_PROBE", "0") == "1") {
      try {
        val rk = sys.env.getOrElse("SPARK_GRAFT_RECALL_K", "100").toInt
        val rmod = sys.env.getOrElse("SPARK_GRAFT_RECALL_MOD", "20").toLong
        val PlantOffset = 1000000000L
        val rdir = "target/recallprobe_planted"
        val tGen0 = System.nanoTime()
        val rdir0 = buildScaledDir(spark, sfDir, rk, "target/recallprobe")
        val emb0 = spark.read.parquet(s"$rdir0/embeddings.parquet")
        val embPartnerCols = emb0.columns.map {
          case "vec_id" => s"vec_id + ${PlantOffset}L AS vec_id"
          case "embedding" =>
            "transform(embedding, (x, i) -> IF(array_contains(" +
              "transform(sequence(0, CASE CAST(pmod(vec_id, 3) AS INT) WHEN 0 THEN 0 WHEN 1 THEN 2 ELSE 4 END), " +
              "j -> CAST(pmod(vec_id + j * 7, 64) AS INT)), i), -x, x)) AS embedding"
          case c => s"`$c`"
        }
        emb0.unionByName(
            emb0.where(s"pmod(vec_id, $rmod) = 0").selectExpr(embPartnerCols: _*))
          .write.mode("overwrite").parquet(s"$rdir/embeddings.parquet")
        val doc0 = spark.read.parquet(s"$rdir0/documents.parquet")
        val docPartnerCols = doc0.columns.map {
          case "doc_id" => s"doc_id + ${PlantOffset}L AS doc_id"
          case "text" =>
            "array_join(transform(split(trim(text), '\\\\s+'), (w, j) -> " +
              "CASE WHEN pmod(j, CASE CAST(pmod(doc_id, 3) AS INT) WHEN 0 THEN 40 WHEN 1 THEN 24 ELSE 14 END) = 0 " +
              "THEN concat('qx', pmod(doc_id, 97), 'x', j) ELSE w END), ' ') AS text"
          case c => s"`$c`"
        }
        doc0.unionByName(
            doc0.where(s"pmod(doc_id, $rmod) = 0").selectExpr(docPartnerCols: _*))
          .write.mode("overwrite").parquet(s"$rdir/documents.parquet")
        val genS = (System.nanoTime() - tGen0) / 1e9
        val trueCos = graft.pipeline.PipelineOps.plantedCosine(spark, rdir, PlantOffset, rmod)
          .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
        val trueJac = graft.pipeline.PipelineOps.plantedShingleJaccard(spark, rdir, PlantOffset, rmod)
          .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
        val embN = spark.read.parquet(s"$rdir/embeddings.parquet").count()
        val (srpR, srpB) = graft.pipeline.PipelineOps.chooseSrpGeometry(embN)
        def timedFound(q: String): (Map[Long, Double], Double) = {
          val t0 = System.nanoTime()
          val m = SparkEntry.queries(q)(spark, rdir)
            .where(s"idb = ida + ${PlantOffset}L")
            .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
          (m, (System.nanoTime() - t0) / 1e9)
        }
        // SRP banding law: per-plane agreement p = 1 - acos(cos)/pi
        def srpLaw(cos: Double): Double = {
          val pp = 1.0 - math.acos(math.min(1.0, cos)) / math.Pi
          1.0 - math.pow(1.0 - math.pow(pp, srpR), srpB)
        }
        // minhash banding law at (rows-per-band 2, 8 bands): per-band
        // collision p = j^2; truth below is admitted at the SAME cut p04's
        // verify stage uses (PipelineOps.LshJaccardCut), so the law curve
        // and the ground truth move together if the cut ever moves
        def lshLaw(j: Double): Double = 1.0 - math.pow(1.0 - j * j, 8)
        def binJson(truth: Map[Long, Double], found: Map[Long, Double],
                    bins: Seq[(Double, Double)], law: Double => Double): (String, Double) = {
          val rows = bins.map { case (lo, hi) =>
            val ids = truth.filter { case (_, v) => v >= lo && v < hi }.keys.toSeq
            val hit = ids.count(found.contains)
            val recall = if (ids.nonEmpty) hit.toDouble / ids.size else -1.0
            val mid = truth.collect { case (id, v) if v >= lo && v < hi => v } match {
              case vs if vs.nonEmpty => vs.sum / vs.size
              case _ => (lo + hi) / 2
            }
            (recall,
              s"""{"lo":$lo,"hi":$hi,"n":${ids.size},"found":$hit,"recall":${f3(recall)},"law_at_mean":${f3(law(mid))}}""")
          }
          // ADVICE r13: the top bin is bins.last BY POSITION, not "any bin
          // with hi > 0.9" — the old heuristic let a lower bin's recall
          // stand in when the true top bin was empty. An empty top bin now
          // surfaces as -1, which fails the floor check loudly (a planted
          // corpus with no top-bin pairs is a broken corpus, not a pass).
          (rows.map(_._2).mkString("[", ",", "]"), rows.last._1)
        }
        val (p08Found, p08S) = timedFound("p08_ann_srp_lsh")
        val (cosBinsJson, p08Top) = binJson(trueCos, p08Found,
          Seq((0.80, 0.88), (0.88, 0.95), (0.95, 1.01)), srpLaw)
        val (p04Found, p04S) = timedFound("p04_minhash_lsh")
        val jacCut = graft.pipeline.PipelineOps.LshJaccardCut // ADVICE r13: one constant, three backends, one probe
        val jacTruth = trueJac.filter(_._2 >= jacCut)
        val jacBins = Seq((jacCut, 0.6), (0.6, 0.75), (0.75, 1.01))
        val (jacBinsJson, p04Top) = binJson(jacTruth, p04Found, jacBins, lshLaw)
        // p22 same-component law over the same candidate machinery
        val t22 = System.nanoTime()
        val p22Reps = SparkEntry.queries("p22_embed_dedup")(spark, rdir)
          .where(s"pmod(vec_id, $rmod) = 0 OR vec_id >= ${PlantOffset}L")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val p22S = (System.nanoTime() - t22) / 1e9
        val p22Thresh = graft.pipeline.PipelineOps.embDupThreshold(spark)
        val p22Eligible = trueCos.filter(_._2 >= p22Thresh).keys.toSeq
        val sameRep =
          if (p22Eligible.nonEmpty)
            p22Eligible.count(id =>
              p22Reps.get(id).zip(p22Reps.get(id + PlantOffset)).exists(t => t._1 == t._2)
            ).toDouble / p22Eligible.size
          else -1.0
        val rPassed =
          (RecallP08TopBinFloor < 0 || p08Top >= RecallP08TopBinFloor) &&
          (RecallP04TopBinFloor < 0 || p04Top >= RecallP04TopBinFloor) &&
          (RecallP22SameRepFloor < 0 || sameRep >= RecallP22SameRepFloor)
        if (!rPassed)
          errors("recall_probe") = f"below floor: p08_top=$p08Top%.3f p04_top=$p04Top%.3f p22_same_rep=$sameRep%.3f"
        recallProbeJson =
          s"""{"k":$rk,"mod":$rmod,"gen_s":${f3(genS)},"emb_n":$embN,"geometry":{"r":$srpR,"b":$srpB},""" +
          s""""planted_emb":${trueCos.size},"planted_doc_ge_cut":${jacTruth.size},""" +
          s""""p08":{"runtime_s":${f3(p08S)},"bins_by_true_cos":$cosBinsJson},""" +
          s""""p04":{"runtime_s":${f3(p04S)},"jaccard_cut":$jacCut,"bins_by_true_jaccard":$jacBinsJson},""" +
          s""""p22":{"runtime_s":${f3(p22S)},"threshold":$p22Thresh,"planted_ge_threshold":${p22Eligible.size},"same_rep":${f3(sameRep)}},""" +
          s""""floors":{"p08_top_bin":$RecallP08TopBinFloor,"p04_top_bin":$RecallP04TopBinFloor,"p22_same_rep":$RecallP22SameRepFloor},""" +
          s""""passed":$rPassed}"""
        System.err.println(s"[bench:recall-probe] k=$rk geom=($srpR,$srpB) " +
          s"p08_top=${f3(p08Top)} p04_top=${f3(p04Top)} p22_same_rep=${f3(sameRep)} " +
          s"p08=${f3(p08S)}s p04=${f3(p04S)}s p22=${f3(p22S)}s passed=$rPassed")
      } catch { case e: Throwable =>
        System.err.println(s"[bench] recall probe failed: ${e.getMessage}")
        e.printStackTrace()
      }
    }

    // Compile latency — see measureCompileLatency. Guarded: a failure here
    // must not discard the collected timings.
    var parseUs: Double = -1.0
    var lowerUs: Double = -1.0
    var sqlgenUs: Double = -1.0
    var compileSrc = "unmeasured"
    val compileUs: Double = try {
      val (src, p, l, s, t) = measureCompileLatency(spark)
      compileSrc = src; parseUs = p; lowerUs = l; sqlgenUs = s; t
    } catch { case e: Throwable =>
      System.err.println(s"[bench] compile-latency measure failed: ${e.getMessage}")
      -1.0
    }

    val calibDurs = calibSamples.map(_._3).toSeq
    val calibS = // backwards-compatible scalar: median over ALL samples
      if (calibDurs.isEmpty) -1.0
      else calibDurs.sorted.apply(calibDurs.length / 2)
    val calibSpread =
      if (calibDurs.size >= 2 && calibDurs.min > 0) calibDurs.max / calibDurs.min else 1.0

    // settle-retry (VERDICT r6 #2): each unstable query gets ONE more timed
    // run after the suite (and after the post-suite calib sample), so the
    // artifact carries a reading from a later window — if a spike passed,
    // `retry` shows what the query actually costs without re-running
    // anything. Every run's min/max stays in query_detail either way.
    val unstableSpikes = results.collect { case (name, s, _) if unstable(s) => name }
    val queryByName = queries.toMap
    val retries: Map[String, Double] = unstableSpikes.flatMap { name =>
      try {
        val d = timeOnce(queryByName(name))
        System.err.println(f"[bench:retry] $name dur=$d%.3fs")
        Some(name -> d)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] settle-retry $name failed: ${e.getMessage}")
        None
      }
    }.toMap

    // lower-envelope total (VERDICT r13 #1 fallback): the sum of per-query
    // MINIMA — on a host that never goes quiet, the min over runs (plus
    // query_detail.retry) is the documented best-available reading, since
    // contention only ever inflates
    val totalMinEnvelope = results.collect { case (_, s, _) if s.min >= 0 => s.min }.sum

    // stdout gets millisecond precision: full doubles (~13 chars each) were
    // half the reason the one-line JSON outgrew the driver's tail capture
    // (VERDICT r15 #1) — the full-precision values stay in the persisted
    // artifact's query_detail
    val qs = results.map { case (k, v, _) => s"\"$k\":${f3(v.median)}" }.mkString("{", ",", "}")
    val qDetail = results.map { case (k, s, tStart) =>
      val retry = retries.get(k).map(d => s",\"retry\":${f3(d)}").getOrElse("")
      s"\"$k\":{\"med\":${f3(s.median)},\"min\":${f3(s.min)},\"max\":${f3(s.max)},\"runs\":${s.runs},\"t_s\":${f3(tStart)}$retry}"
    }.mkString("{", ",", "}")
    val calibJson = calibSamples
      .map { case (tag, t, d) => s"{\"tag\":${util.Json.quote(tag)},\"t_s\":${f3(t)},\"dur_s\":${f3(d)}}" }
      .mkString("[", ",", "]")
    val calibStats =
      if (calibDurs.isEmpty) "null"
      else s"{\"min\":${f3(calibDurs.min)},\"median\":${f3(calibS)},\"max\":${f3(calibDurs.max)},\"spread\":${f3(calibSpread)}}"
    val total = results.collect { case (_, s, _) if s.median >= 0 => s.median }.sum
    val errJson = errors
      .map { case (k, v) => s"${util.Json.quote(k)}:${util.Json.quote(v.take(200))}" }
      .mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":$total,"value_min_envelope":${f3(totalMinEnvelope)},"unit":"sec","queries":$qs,"query_detail":$qDetail,"errors":$errJson,"compile_us_per_query":${compileUs.round},"compile_src":"$compileSrc","parse_us_per_query":${parseUs.round},"lower_us_per_query":${lowerUs.round},"sqlgen_us_per_query":${sqlgenUs.round},"calib_s":$calibS,"calib_samples":$calibJson,"calib_stats":$calibStats,"unstable_spikes":${unstableSpikes.map(util.Json.quote).mkString("[", ",", "]")},"p79_fidelity":$p79FidelityJson,"p79_graded":$p79GradedJson,"recall_probe":$recallProbeJson,"epoch_ms":$benchEpochMs,"runs_per_query":$TimedRuns,"fast_runs":$FastTimedRuns,"fast_threshold_s":$FastQueryThresholdSec,"runs_policy":"median over runs_per_query timed runs; promoted to fast_runs when any timed run < fast_threshold_s; unstable queries re-timed once post-suite (query_detail.retry)","aggregation":"median","sf":"$sfDir","cpus":${util.Json.quote(envCpus)}}"""
    // stdout carries a COMPACT summary line (suite value + per-query
    // medians) — a log tail that captures stdout is finite and the full line
    // had grown to ~19 KB (VERDICT r15 #1: BENCH_r14/r15 both parsed:null,
    // tail starts mid-line). Every diagnostic block still lands in the
    // self-persisted artifacts below (target/bench.json + bench_history/).
    val compactLine = s"""{"metric":"total","value":$total,"value_min_envelope":${f3(totalMinEnvelope)},"unit":"sec","queries":$qs,"errors":$errJson,"calib_s":$calibS,"epoch_ms":$benchEpochMs,"sf":"$sfDir"}"""
    println(compactLine)
    // the full per-query record also lands on disk: the r3 driver artifact
    // lost its tail to log truncation, and a file survives that
    try {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
      java.nio.file.Files.writeString(java.nio.file.Paths.get("target/bench.json"), line + "\n")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write target/bench.json: ${e.getMessage}")
    }
    // ...and a DURABLE copy outside target/ (VERDICT r8 #1): target/bench.json
    // is overwritten by the next run. bench_history/ is committed, one file
    // per run keyed by epoch, so per-query med/min/max/retry for every round
    // survives for tools/trend.py. Hotspot-mode runs (explicit query args)
    // skip it — only full-suite runs are round artifacts worth keeping —
    // unless they ran a fidelity or recall block: the measured block IS the
    // artifact. Those land under a `_probe` suffix that tools/trend.py skips,
    // so a few-query artifact never becomes a full-suite run's baseline.
    val fidelityRan = p79FidelityJson != "null" || p79GradedJson != "null" ||
      recallProbeJson != "null"
    if (args.isEmpty || fidelityRan) try {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get("bench_history"))
      val fname = if (args.isEmpty) s"bench_$benchEpochMs.json"
                  else s"bench_${benchEpochMs}_probe.json"
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"bench_history/$fname"), line + "\n")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write bench_history: ${e.getMessage}")
    }
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
