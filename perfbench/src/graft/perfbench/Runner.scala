package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.{Bench, Graft, SparkEntry}

/** One closed-loop benchmark run in one driver JVM: one client thread
  * submits an op, waits for it, then submits the next. Set-up (session
  * start, input preparation, one untimed warm-up pass) is timed as a
  * whole; the warm-up pass is the check pass: it writes every op's output
  * once (batch) or drains every stream into a memory sink and compares it
  * with the batch path. The session then runs whole passes over the
  * workload's op list, in a seeded order, until `seconds` have elapsed
  * and at least two passes have run.
  *
  * Every layer is reached through its public entry point and timed from
  * here: `Graft.parse`/`Lexer.lex` (parse), `Graft.compileDir` (parse +
  * fold + analysis), `SparkEntry.queries` builders (pipeline), forced
  * `queryExecution.optimizedPlan`/`executedPlan` (Catalyst), the physical
  * plan's RDD run under a SQL execution id (execution, seen through
  * [[ExecListener]]), and `StreamingQueryProgress` (streaming).
  *
  * Usage: Runner <workload> <seed> <seconds> <trace 0|1> <dataDir> <outDir>
  *        <cpus> <k> <batches>
  * Writes `outDir/raw.json` (samples, provenance) and, traced, `spans.json`.
  */
object Runner {
  final case class Doc(doc_id: Long, text: String, ts: java.sql.Timestamp)

  /** One timed op execution. Times in ms; counts as plain numbers. */
  final class Sample(val op: String, val pass: Int, val traced: Boolean) {
    val f = mutable.LinkedHashMap.empty[String, Double]
    var error: Option[String] = None
  }

  final class PassRec(val pass: Int, val traced: Boolean, val wallS: Double) {
    var rowsIn = 0.0
  }

  private var spark: SparkSession = _
  private val tracerOff = new Tracer(false)
  private val tracerOn = new Tracer(true)
  private var tracer = tracerOff
  private val listener = new ExecListener

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  private def setTag(tag: String): Unit =
    spark.sparkContext.setLocalProperty(listener.TagKey, tag)

  /** Runs the already-planned physical plan under its own SQL execution id
    * and consumes every row, as the `noop` sink does, without re-planning
    * the query the way a fresh `df.write` would. Returns rows produced. */
  private def execute(df: DataFrame): Long = {
    val qe = df.queryExecution
    val acc = spark.sparkContext.longAccumulator
    SQLExecution.withNewExecutionId(qe, Some("perfbench")) {
      qe.executedPlan.execute().foreachPartition(it => acc.add(it.size.toLong))
    }
    acc.value
  }

  private def nodes(p: org.apache.spark.sql.catalyst.trees.TreeNode[_]): Int = {
    var n = 0
    p.foreach(_ => n += 1)
    n
  }

  /** Builds, plans and executes one batch op, timing each layer. `build`
    * returns the analyzed DataFrame (PRQL compile or pipeline builder). */
  private def runBatchOp(s: Sample, tag: String, prql: Option[String],
                         build: () => DataFrame): Unit = {
    val t0 = System.nanoTime()
    tracer.span(s.op) {
      prql.foreach { src =>
        if (tracer.on) {
          val tp = System.nanoTime()
          tracer.span("parse") { Graft.parse(src) }
          s.f("parse_ms") = ms(tp)
          s.f("parse_tokens") = graft.parse.Lexer.lex(src).size.toDouble
        }
      }
      setTag(s"$tag|build")
      val tb = System.nanoTime()
      val df = tracer.span(if (prql.isDefined) "fold" else "build") {
        if (tracer.on) s.f("build_span") = tracer.current
        build()
      }
      s.f("compile_ms") = ms(tb)
      val qe = df.queryExecution
      qe.tracker.phases.get("analysis").foreach { ph =>
        s.f("analysis_ms") = ph.durationMs.toDouble
        tracer.addEpochMs("analysis", s.f.get("build_span").fold(0)(_.toInt),
          ph.startTimeMs, ph.endTimeMs)
      }
      setTag(s"$tag|exec")
      val to = System.nanoTime()
      val opt = tracer.span("optimization") { qe.optimizedPlan }
      s.f("optimization_ms") = ms(to)
      val tpl = System.nanoTime()
      tracer.span("planning") { qe.executedPlan }
      s.f("planning_ms") = ms(tpl)
      val te = System.nanoTime()
      val rows = tracer.span("exec") {
        if (tracer.on) s.f("exec_span") = tracer.current
        execute(df)
      }
      s.f("exec_ms") = ms(te)
      s.f("output_rows") = rows.toDouble
      if (tracer.on) {
        s.f("analyzed_nodes") = nodes(qe.analyzed).toDouble
        s.f("optimized_nodes") = nodes(opt).toDouble
      }
    }
    s.f("op_ms") = ms(t0)
  }

  // ---- workloads -------------------------------------------------------

  /** A workload: op names, how to run one op, and its untimed check. */
  trait Workload {
    def ops: Seq[String]
    /** Runs one op; a batch op yields one sample, a stream one per batch. */
    def run(op: String, pass: Int, traced: Boolean, tag: String): Seq[Sample]
    /** Check of one op's output in the given session: Some(failure) or
      * None. Batch ops write their output for the oracle comparison. */
    def check(op: String, session: SparkSession, outDir: String): Option[String]
    /** op → DuckDB oracle SQL, for ops whose output `check` wrote to
      * `outDir/check/<op>` for the runner to compare. */
    def oracle: Map[String, String] = Map.empty
    /** op → why its output is not compared with an oracle. */
    def unchecked: Map[String, String] = Map.empty
    def streamOps: Set[String] = Set.empty
  }

  /** Batch ops: one sample per op run, errors recorded on the sample. */
  abstract class BatchWorkload extends Workload {
    protected def prql(op: String): Option[String] = None
    protected def build(op: String, session: SparkSession): DataFrame
    def run(op: String, pass: Int, traced: Boolean, tag: String): Seq[Sample] = {
      val s = new Sample(op, pass, traced)
      try runBatchOp(s, tag, prql(op), () => build(op, spark))
      catch { case e: Throwable => s.error = Some(String.valueOf(e.getMessage)) }
      Seq(s)
    }
    def check(op: String, session: SparkSession, outDir: String): Option[String] = {
      build(op, session).write.mode("overwrite").parquet(s"$outDir/check/$op")
      None
    }
  }

  /** PRQL queries of the corpus, one per feature family (projection + take,
    * grouped aggregation, inner and full joins, running and ranking windows,
    * CTEs, join_asof): one pass of them plus the stream fits a run, where
    * Spark's per-query floor dominates. */
  val prqlOps: Seq[String] = Seq("q01_select_take", "q05_group_agg", "q10_join_inner",
    "q13_join_full", "q16_window_expanding", "q19_rank", "q27_cte", "q49_asof_transform")

  final class PrqlCorpus(dir: String) extends BatchWorkload {
    private val texts: Map[String, String] =
      (SparkEntry.prqlTexts :+ ("q49_asof_transform" -> SparkEntry.asofPrql)).toMap
      .filter(kv => prqlOps.contains(kv._1))
    require(texts.size == prqlOps.size, s"PRQL corpus lacks ${prqlOps.filterNot(texts.contains)}")
    val ops: Seq[String] = prqlOps
    override protected def prql(op: String): Option[String] = Some(texts(op))
    protected def build(op: String, session: SparkSession): DataFrame =
      Graft.compileDir(texts(op), session, dir)
    override def oracle: Map[String, String] = SparkEntry.oracleSql.filter(kv => texts.contains(kv._1))
  }

  final class CurationHeavy(scaledDir: String, embeddings: Long) extends BatchWorkload {
    // banded MinHash join, connected components (loopParts sizing job),
    // SRP banded self-join
    val ops: Seq[String] = Seq("p04_minhash_lsh", "p16_dedup_clusters", "p22_embed_dedup")
    private val builders = SparkEntry.queries
    protected def build(op: String, session: SparkSession): DataFrame =
      builders(op)(session, scaledDir)
    /** The SRP operator derives (bits, bands) from the embeddings count,
      * while its oracle is pinned to the geometry of the 500-vector gate
      * corpus; at any other derived geometry the oracle computes a
      * different candidate set, so the op is reported unchecked. */
    private val gateGeometry = graft.pipeline.PipelineOps.chooseSrpGeometry(500L)
    private val runGeometry = graft.pipeline.PipelineOps.chooseSrpGeometry(embeddings)
    override val unchecked: Map[String, String] =
      if (runGeometry == gateGeometry) Map.empty
      else Map("p22_embed_dedup" ->
        s"oracle pinned to SRP geometry $gateGeometry; this input derives $runGeometry")
    override def oracle: Map[String, String] =
      SparkEntry.oracleSql.filter(kv => ops.contains(kv._1) && !unchecked.contains(kv._1))
  }

  /** Streaming ops fed through MemoryStream in fixed micro-batches; each
    * batch is added only after the previous one is fully processed. */
  final class StreamFeed(sp: SparkSession, docs: Array[Doc],
                         batches: Int, seed: Long) extends Workload {
    import sp.implicits._
    // custom per-key state with event-time timeouts (LSH band buckets)
    val ops: Seq[String] = Seq("lsh_pairs")
    override def streamOps: Set[String] = ops.toSet

    /** Contiguous batches (event time only moves forward across batches, so
      * the watermark drops nothing), cut at seeded boundaries with sizes
      * within ±20% of the mean, each batch in seeded arrival order. */
    private def cut[T](rows: Array[T], salt: Int): Seq[Seq[T]] = {
      val rng = new Random(seed * 1000003L + salt)
      val w = Array.fill(batches)(0.8 + 0.4 * rng.nextDouble())
      val ends = w.scanLeft(0.0)(_ + _).tail.map(x => math.round(x / w.sum * rows.length).toInt)
      ends.indices.map { i =>
        val from = if (i == 0) 0 else ends(i - 1)
        rng.shuffle(rows.slice(from, ends(i)).toSeq)
      }
    }
    private val docBatches = cut(docs, 1)

    private def query(op: String, sink: String, session: SparkSession)
        : (StreamingQuery, Seq[() => Unit]) = {
      val m = MemoryStream[Doc](session)
      val out = graft.streaming.LshPairsStream.pairs(m.toDF(), "text", "doc_id", "ts").toDF()
      val feeders = docBatches.map(b => () => { m.addData(b); () })
      val w = out.writeStream.outputMode("append").format(sink)
      ((if (sink == "memory") w.queryName(s"check_$op") else w).start(), feeders)
    }

    /** One stream op = start, feed every batch (one sample per batch), stop. */
    def run(op: String, pass: Int, traced: Boolean, tag: String): Seq[Sample] =
      try {
        // the stream thread reads this tag for its jobs until the query stops
        setTag(s"$tag|stream")
        val tb = System.nanoTime()
        val (q, feeders) = tracer.span(s"$op.start") { query(op, "noop", spark) }
        val buildMs = ms(tb)
        val samples = try feeders.zipWithIndex.map { case (add, i) =>
          val s = new Sample(op, pass, traced)
          val t0 = System.nanoTime()
          tracer.span(op) {
            if (tracer.on) s.f("exec_span") = tracer.current
            add(); q.processAllAvailable()
          }
          s.f("op_ms") = ms(t0)
          if (i == 0) s.f("compile_ms") = buildMs
          s
        } finally q.stop()
        val progress = q.recentProgress.filter(_.numInputRows > 0)
        require(progress.length == samples.length,
          s"$op: ${samples.length} batches fed but ${progress.length} progress records")
        samples.zip(progress).foreach { case (s, p) => fillProgress(s, p) }
        samples
      } catch { case e: Throwable =>
        val s = new Sample(op, pass, traced)
        s.error = Some(String.valueOf(e.getMessage))
        Seq(s)
      }

    private def fillProgress(s: Sample, p: StreamingQueryProgress): Unit = {
      def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      s.f("batch_id") = p.batchId.toDouble
      s.f("batch_ms") = d("triggerExecution")
      s.f("add_batch_ms") = d("addBatch")
      s.f("stream_planning_ms") = d("queryPlanning")
      s.f("commit_ms") = d("walCommit") + d("commitOffsets")
      s.f("input_rows") = p.numInputRows.toDouble
      val st = p.stateOperators
      s.f("state_rows") = st.map(_.numRowsTotal).sum.toDouble
      s.f("state_bytes") = st.map(_.memoryUsedBytes).sum.toDouble
      s.f("state_updated_rows") = st.map(_.numRowsUpdated).sum.toDouble
      s.f("state_commit_ms") = st.map(_.commitTimeMs).sum.toDouble
      s.f("rows_dropped_by_watermark") = st.map(_.numRowsDroppedByWatermark).sum.toDouble
    }

    /** The stream's complete output against the same operator's batch path
      * over all rows (the law the streaming spec proves): the same candidate
      * pairs, since every document stays inside the 1-hour horizon. */
    def check(op: String, session: SparkSession, outDir: String): Option[String] = {
      val (q, feeders) = query(op, "memory", session)
      try feeders.foreach { add => add(); q.processAllAvailable() } finally q.stop()
      def rows(df: DataFrame) = df.select("ida", "idb").collect().map(_.toSeq).toSet
      val (ga, gb) = (rows(session.table(s"check_$op")), rows(graft.streaming.LshPairsStream
        .pairs(docs.toSeq.toDF(), "text", "doc_id", "ts").toDF()))
      if (ga.nonEmpty && ga == gb) None
      else Some(s"stream output (${ga.size} distinct rows) differs from the batch path (${gb.size})")
    }

    override val unchecked: Map[String, String] = ops.map(_ ->
      "no DuckDB oracle for streaming ops; checked against the operator's batch path").toMap
  }

  /** Several workloads' ops interleaved in one pass. */
  final class Mix(parts: Seq[Workload]) extends Workload {
    private val owner = parts.flatMap(p => p.ops.map(_ -> p)).toMap
    val ops: Seq[String] = parts.flatMap(_.ops)
    def run(op: String, pass: Int, traced: Boolean, tag: String): Seq[Sample] =
      owner(op).run(op, pass, traced, tag)
    def check(op: String, session: SparkSession, outDir: String): Option[String] =
      owner(op).check(op, session, outDir)
    override def oracle: Map[String, String] = parts.flatMap(_.oracle).toMap
    override def unchecked: Map[String, String] = parts.flatMap(_.unchecked).toMap
    override def streamOps: Set[String] = parts.flatMap(_.streamOps).toSet
  }

  // ---- main --------------------------------------------------------------

  def main(args: Array[String]): Unit = {
    require(args.length == 9, "usage: Runner <workload> <seed> <seconds> <trace> " +
      "<dataDir> <outDir> <cpus> <k> <batches>")
    val Array(workload, seedS, secondsS, traceS, dataDir, outDir, cpus, kS, batchesS) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val k = kS.toInt
    Files.createDirectories(Paths.get(outDir))
    Seq("lineitem", "documents", "embeddings", "events").foreach { t =>
      require(Files.exists(Paths.get(s"$dataDir/$t.parquet")), s"missing input $dataDir/$t.parquet")
    }

    // ---- set-up: session, inputs, warm-up + check pass
    val t0 = System.nanoTime()
    spark = Graft.localSession(cpus)
    val sessionS = (System.nanoTime() - t0) / 1e9
    var scaledDir = dataDir
    val wl: Workload = workload match {
      case "prql_stream" =>
        val sp = spark
        import sp.implicits._
        // documents arrive one per second of event time, so the whole feed
        // fits inside the stream's 1-hour watermark horizon
        val docs = spark.read.parquet(s"$dataDir/documents.parquet")
          .select(F.col("doc_id"), F.col("text"))
          .withColumn("ts", F.expr("timestamp_seconds(1700000000 + doc_id)"))
          .as[Doc].collect().sortBy(_.doc_id)
        new Mix(Seq(new PrqlCorpus(dataDir), new StreamFeed(sp, docs, batchesS.toInt, seed)))
      case "curation_heavy" =>
        scaledDir = Bench.buildScaledDir(spark, dataDir, k, s"$outDir/scaled")
        val n = spark.read.parquet(s"$scaledDir/embeddings.parquet").count()
        new CurationHeavy(scaledDir, n)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val inputsS = (System.nanoTime() - t0) / 1e9 - sessionS
    val checks = checkAll(wl, outDir, cpus.toInt)
    val setupS = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.addSparkListener(listener)

    val ctx = mutable.ArrayBuffer.empty[String]
    def context(when: String): Unit = {
      val load = new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.US_ASCII).trim
      setTag("calibrate")
      val cal = Bench.calibrate(spark, dataDir)
      setTag("")
      ctx += Out.obj(Seq("when" -> Out.str(when), "loadavg" -> Out.str(load), "calibrate_s" -> Out.num(cal)))
    }
    context("before")

    // ---- timed passes
    val rng = new Random(seed)
    val samples = mutable.ArrayBuffer.empty[Sample]
    val passes = mutable.ArrayBuffer.empty[PassRec]
    var peakHeap = 0L
    val tTimed = System.nanoTime()
    var pass = 0
    // at least two passes, so every run reports the same statistic (the
    // first timed pass is still slower than later ones); traced runs
    // alternate untraced and traced passes, at least U T, so each traced
    // pass has an untraced neighbour for the overhead
    while ((System.nanoTime() - tTimed) / 1e9 < seconds || pass < 2) {
      val tracedPass = traced && pass % 2 == 1
      tracer = if (tracedPass) tracerOn else tracerOff
      val order = rng.shuffle(wl.ops)
      val t0 = System.nanoTime()
      tracer.span("pass") {
        order.foreach { op =>
          samples ++= wl.run(op, pass, tracedPass, s"$pass:$op")
          setTag("")
        }
      }
      passes += new PassRec(pass, tracedPass, (System.nanoTime() - t0) / 1e9)
      pass += 1
      peakHeap = math.max(peakHeap, retainedHeap())
    }
    tracer = tracerOff
    listener.drain(spark)
    attribute(samples.toSeq, passes.toSeq, wl.streamOps)
    context("after")

    write(s"$outDir/raw.json", Out.obj(Seq(
      "workload" -> Out.str(workload),
      "seed" -> Out.num(seed.toDouble),
      "seconds" -> Out.num(seconds),
      "cpus" -> Out.str(cpus),
      "k" -> Out.num(k),
      "scaled_dir" -> Out.str(scaledDir),
      "spark_version" -> Out.str(spark.version),
      "max_heap_mb" -> Out.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "graft_conf" -> Out.obj(spark.conf.getAll.toSeq.filter(_._1.startsWith("spark.graft."))
        .sortBy(_._1).map { case (kk, v) => kk -> Out.str(v) }),
      "setup_s" -> Out.num(setupS),
      "setup_phases_s" -> Out.nums(Map("session" -> sessionS, "inputs" -> inputsS,
        "warmup_check" -> (setupS - sessionS - inputsS))),
      "peak_heap_mb" -> Out.num(peakHeap / 1048576.0),
      "context" -> ctx.mkString("[", ",", "]"),
      "passes" -> passes.map(p => Out.obj(Seq("pass" -> Out.num(p.pass), "traced" -> p.traced.toString,
        "wall_s" -> Out.num(p.wallS), "rows_in" -> Out.num(p.rowsIn)))).mkString("[", ",\n", "]"),
      "samples" -> samples.map(s => Out.obj(Seq("op" -> Out.str(s.op), "pass" -> Out.num(s.pass),
        "traced" -> s.traced.toString, "error" -> s.error.map(Out.str).getOrElse("null"),
        "f" -> Out.nums(s.f)))).mkString("[", ",\n", "]"),
      "checks" -> Out.obj(checks.toSeq.sortBy(_._1).map { case (o, r) => o -> r.map(Out.str).getOrElse("null") }),
      "oracle" -> Out.obj(wl.oracle.toSeq.sortBy(_._1).map { case (o, q) => o -> Out.str(q) }),
      "unchecked" -> Out.obj(wl.unchecked.toSeq.sortBy(_._1).map { case (o, r) => o -> Out.str(r) }),
    )))
    if (traced) write(s"$outDir/spans.json", tracerOn.toJson)
    spark.stop()
  }

  /** Runs every op's check once, `threads` at a time, each in its own
    * session (builders register temp views under fixed names). This is
    * the set-up's warm-up pass. */
  private def checkAll(wl: Workload, outDir: String, threads: Int): Map[String, Option[String]] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try wl.ops.map { op =>
      op -> pool.submit(() => {
        setTag(s"check|$op")
        try wl.check(op, spark.newSession(), outDir)
        catch { case e: Throwable => Some(s"check run threw: ${e.getMessage}") }
      })
    }.map { case (op, f) => op -> f.get() }.toMap
    finally pool.shutdown()
  }

  /** Folds listener totals into each sample (by its tag) and each pass,
    * and adds job/stage spans under the traced op spans. */
  private def attribute(samples: Seq[Sample], passes: Seq[PassRec], streamOps: Set[String]): Unit =
    samples.groupBy(s => (s.pass, s.op)).foreach { case ((pass, op), ss) =>
      val tag = s"$pass:$op"
      val rec = passes.find(_.pass == pass).get
      if (streamOps.contains(op)) {
        // jobs carry their micro-batch id; attribute them to that batch
        val jobsByBatch = listener.jobsFor(s"$tag|stream").groupBy(_.batch)
        val stagesByBatch = listener.stagesFor(s"$tag|stream").groupBy(_.batch)
        ss.foreach { s =>
          val b = s.f.getOrElse("batch_id", -2.0).toLong
          val st = stagesByBatch.getOrElse(b, Nil)
          fillExec(s, jobsByBatch.getOrElse(b, Nil), st, st, s.f.getOrElse("op_ms", 0.0))
        }
        rec.rowsIn += ss.map(_.f.getOrElse("input_rows", 0.0)).sum
      } else {
        val s = ss.head
        val build = listener.jobsFor(s"$tag|build")
        val exec = listener.jobsFor(s"$tag|exec")
        val execStages = listener.stagesFor(s"$tag|exec")
        val allStages = listener.stagesFor(s"$tag|build") ++ execStages
        s.f("eager_jobs") = build.size.toDouble
        s.f("eager_ms") = build.map(j => (j.endMs - j.startMs).toDouble).sum
        fillExec(s, exec, execStages, allStages, s.f.getOrElse("exec_ms", 0.0))
        if (s.traced) {
          sqlPlanStats(s, build ++ exec)
          jobSpans(s.f.get("build_span"), build, allStages)
        }
        rec.rowsIn += allStages.map(_.recordsRead.toDouble).sum
      }
    }

  /** Job spans, with their stage spans, under the span that submitted them. */
  private def jobSpans(parent: Option[Double], jobs: Seq[JobStat], stages: Seq[StageStat]): Unit =
    parent.foreach { p =>
      jobs.foreach { j =>
        val id = tracerOn.addEpochMs("job", p.toInt, j.startMs, j.endMs, Map("job_id" -> j.jobId.toDouble))
        stages.filter(st => j.stageIds.contains(st.stageId)).foreach { st =>
          tracerOn.addEpochMs("stage", id, st.submittedMs, st.completedMs,
            Map("stage_id" -> st.stageId.toDouble, "tasks" -> st.tasks.toDouble))
        }
      }
    }

  private def fillExec(s: Sample, jobs: Seq[JobStat], execStages: Seq[StageStat],
                       allStages: Seq[StageStat], wallMs: Double): Unit = {
    s.f("jobs") = jobs.size.toDouble
    s.f("stages") = execStages.size.toDouble
    s.f("tasks") = execStages.map(_.tasks).sum.toDouble
    s.f("task_run_ms") = execStages.map(_.runMs).sum.toDouble
    s.f("job_ms") = jobs.map(j => (j.endMs - j.startMs).toDouble).sum
    s.f("util_wall_ms") = wallMs
    s.f("shuffle_write_bytes") = allStages.map(_.shuffleWrite).sum.toDouble
    s.f("shuffle_read_bytes") = allStages.map(_.shuffleRead).sum.toDouble
    s.f("spill_bytes") = allStages.map(_.spill).sum.toDouble
    s.f("fetch_wait_ms") = allStages.map(_.fetchWaitMs).sum.toDouble
    s.f("gc_ms") = allStages.map(_.gcMs).sum.toDouble
    val longest = execStages.filter(_.tasks > 0)
      .sortBy(st => -(st.completedMs - st.submittedMs)).headOption
    s.f("task_skew") = longest.map { st =>
      val t = st.taskMs.sorted
      t.last.toDouble / math.max(1L, t(t.size / 2)).toDouble
    }.getOrElse(1.0)
    if (s.traced) jobSpans(s.f.get("exec_span"), jobs, allStages)
  }

  /** Exchanges and join row volume from the SQL plan graphs of every SQL
    * execution the op ran (its eager builder jobs included). */
  private def sqlPlanStats(s: Sample, jobs: Seq[JobStat]): Unit = {
    val store = spark.sharedState.statusStore
    var exchanges = 0.0
    var joinRows = 0.0
    jobs.map(_.sqlExec).filter(_ >= 0).distinct.foreach { id =>
      val deadline = System.nanoTime() + 10L * 1000000000L
      while (store.execution(id).forall(_.completionTime.isEmpty) && System.nanoTime() < deadline)
        Thread.sleep(5)
      val metrics = store.executionMetrics(id)
      store.planGraph(id).allNodes.foreach { n =>
        if (n.name == "Exchange" || n.name == "BroadcastExchange") exchanges += 1
        if (n.name.contains("Join") || n.name == "CartesianProduct")
          n.metrics.find(_.name == "number of output rows").flatMap(m => metrics.get(m.accumulatorId))
            .foreach(v => joinRows += v.replaceAll("[^0-9]", "").toDoubleOption.getOrElse(0.0))
      }
    }
    s.f("exchanges") = exchanges
    s.f("join_rows") = joinRows
  }

  /** Heap still in use after full collections: retained data, not how far
    * the young generation happened to fill. Collections repeat, with pauses
    * in which Spark's cleaner drops blocks of RDDs the previous collection
    * found unreachable, until the reading stops falling. */
  private def retainedHeap(): Long = {
    def used(): Long = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
    var prev = Long.MaxValue
    var cur = used()
    var rounds = 1
    while (cur < prev * 0.99 && rounds < 6) {
      Thread.sleep(200)
      prev = cur
      cur = used()
      rounds += 1
    }
    cur
  }

  private def write(path: String, txt: String): Unit =
    Files.write(Paths.get(path), txt.getBytes(StandardCharsets.UTF_8))

}
