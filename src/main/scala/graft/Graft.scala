package graft

import graft.ast.Query
import graft.parse.{LexError, ParseError, Parser, SpanMap}
import graft.plan.{PlanError, Planner}
import org.apache.spark.sql.{DataFrame, GraftPlanBridge, SparkSession}

/** Public API: compile PRQL straight to a Spark DataFrame.
  *
  * The reference (prql/prql v0.2.2) compiles PRQL → SQL string and delegates
  * execution to a database (prql-compiler/src/lib.rs:19-27). Here the
  * "database" is Spark: we parse + resolve the same language and fold each
  * transform into DataFrame operations, so Catalyst/Tungsten provide the
  * optimizer and execution engine.
  */
object Graft {

  /** Parse only — returns the AST. Lex/parse errors are rethrown with a
    * located, annotated message (line/col + underlined source line). */
  def parse(prql: String): Query = parseLocated(prql)._1

  /** Parse with located lex/parse errors, keeping the span side-table. */
  private def parseLocated(prql: String): (Query, SpanMap) =
    try Parser.parseWithSpans(prql)
    catch {
      case e: LexError =>
        throw new LexError(ErrorRender.annotateAt(prql, e.getMessage, e.pos), e.pos)
      case e: ParseError =>
        throw new ParseError(ErrorRender.annotateAt(prql, e.getMessage, e.pos), e.pos)
    }

  /** Compile against an explicit table resolver (`from name` → DataFrame). */
  def compile(prql: String, spark: SparkSession,
              catalog: String => DataFrame): DataFrame =
    compileWithDiagnostics(prql, spark, catalog)._1

  /** Parse + plan with located, annotated errors; returns the planner (for
    * diagnostics/stage traces) and the planned main DataFrame. Single entry
    * for compile and the CLI annotate modes. */
  private[graft] def plannedFor(prql: String, spark: SparkSession,
                                catalog: String => DataFrame): (Planner, DataFrame) = {
    val (query, spans) = parseLocated(prql)
    val planner = new Planner(spark, catalog, query, spans)
    val df =
      try planner.planMain()
      catch {
        case e: PlanError =>
          e.span match {
            case Some(sp) =>
              throw new PlanError(ErrorRender.annotate(prql, e.getMessage, sp), e.span)
            case None => throw e
          }
      }
    (planner, df)
  }

  /** Compile and also return compile-time scale diagnostics: warnings about
    * plans that execute correctly but concentrate work on one partition at
    * cluster scale (global-sort windows, deep positional offsets). */
  def compileWithDiagnostics(prql: String, spark: SparkSession,
                             catalog: String => DataFrame): (DataFrame, Seq[String]) = {
    val (planner, df) = plannedFor(prql, spark, catalog)
    (df, planner.diagnostics.toSeq)
  }

  /** Parse + lower to an UNRESOLVED Catalyst plan (no analyzer run) — the
    * latency probe's split point between the pure-Scala compiler fold and
    * Spark's analysis ([[Bench.measureCompileLatency]], VERDICT r9 #6). */
  private[graft] def lowerUnresolved(
      prql: String, spark: SparkSession, catalog: String => DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    val (query, spans) = parseLocated(prql)
    new Planner(spark, catalog, query, spans).planMainUnresolved()
  }

  /** Render PRQL to ONE runnable Spark SQL string — the reference's actual
    * artifact shape (translator.rs:32-49). A debug/parity surface: the
    * DataFrame path (compile) is the primary backend; SqlBackendSpec proves
    * `spark.sql(toSparkSql(q))` row-equals it across the corpus. */
  def toSparkSql(prql: String): String =
    new graft.plan.SqlGen(parse(prql)).render()

  /** Compile with `from name` resolving to `$dir/name.parquet`
    * (the TESTDATA.md convention), falling back to temp views. */
  def compileDir(prql: String, spark: SparkSession, dir: String): DataFrame =
    compile(prql, spark, parquetCatalog(spark, dir))

  /** Compile with `from name` resolving against the session catalog
    * (temp views / tables). */
  def compileSession(prql: String, spark: SparkSession): DataFrame =
    compile(prql, spark, name => spark.table(name))

  /** `from name` resolution order: `$dir/name.parquet`, then `.orc`
    * (typed schema like parquet — ORC ships in Spark's core jars), then
    * `.csv` (header + schema inference), then `.json` (JSON-lines), then
    * the session catalog (temp views/tables). `dir` is a local path or any
    * Hadoop URI (`file:`, `hdfs:`, `s3a:`): existence is checked on the
    * path's own FileSystem. Parquet goes through [[readParquet]], so
    * resolving a `from` submits no Spark job. The reference has no source
    * formats at all (it emits SQL text — SURVEY §2.9); the parquet-first
    * convention is the driver's, the rest are the formats a Spark-native
    * engine reads without extra dependencies.
    *
    * The parquet tables named in `spread` are read through [[scanSpread]];
    * the caller chooses. By default nothing spreads, which is what the
    * q01–q49 corpus, `compileDir` and the CLI get (r15 A/B: the relational
    * corpus' per-row work is columnar-cheap, so one round-robin exchange
    * of the rows costs more than the 1-task scan it fixes; q04/q05/q28/q33
    * all read worse under the spread). The pipeline operators compiled
    * from their PRQL text pass the tables their per-row HOF work reads
    * (`PipelineOps.queries`). */
  def parquetCatalog(spark: SparkSession, dir: String,
                     spread: Set[String] = Set.empty): String => DataFrame =
    name => {
      def p(ext: String) = s"$dir/$name.$ext"
      def exists(ext: String) = GraftPlanBridge.pathExists(spark, p(ext))
      if (exists("parquet")) {
        val df = readParquet(spark, p("parquet"))
        normalizeEventTime(if (spread(name)) scanSpread(df) else df)
      }
      else if (exists("orc"))
        // ORC ships in Spark's core jars (no extra dependency) and keeps
        // the full typed schema like parquet — same event-time treatment
        normalizeEventTime(spark.read.orc(p("orc")))
      else if (exists("csv"))
        spark.read.option("header", "true").option("inferSchema", "true")
          .csv(p("csv"))
      else if (exists("json"))
        spark.read.json(p("json"))
      else spark.table(name)
    }

  /** The program's one parquet input read: `spark.read.parquet(path)` with
    * the schema taken from the file footer on the driver
    * ([[GraftPlanBridge.parquetFooterSchema]]) instead of Spark's schema
    * inference, which submits one Spark job per read to open that same
    * footer. Same schema, same rows, same plan; no job until the
    * DataFrame runs. Layouts that need Spark's own inference (missing path,
    * partitioned or empty directory) read plainly, with Spark's behaviour
    * and errors. */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    GraftPlanBridge.parquetFooterSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None         => spark.read.parquet(path)
    }

  /** Canonicalize the `events.ts` event-time column to a microsecond
    * TIMESTAMP (session-TZ = UTC), whichever physical schema the driver's
    * parquet carries:
    *   - TIMESTAMP(NANOS) → Spark reads it only as a nanos-since-epoch long
    *     (spark.sql.legacy.parquet.nanosAsLong); convert with integer `div`
    *     (ns values overflow a double mantissa). µs truncation matches
    *     DuckDB's TIMESTAMP_NS::TIMESTAMP cast.
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false) → Spark 4 infers
    *     TIMESTAMP_NTZ; cast to TIMESTAMP so `unix_micros`/window logic
    *     applies (lossless under the UTC session TZ both engines pin).
    * Downstream code can then assume `ts` is TimestampType everywhere. */
  private[graft] def normalizeEventTime(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    if (!df.columns.contains("ts")) df
    else df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }
  }

  /** Compressed bytes per spread partition. */
  private val SpreadTaskBytes = 64L * 1024

  /** Scale-adaptive scan spread (optimization r15; guide §2.2/§2.4/§6.1).
    *
    * Parquet scans split only at row-group boundaries, and the driver's
    * testdata ships every table as ONE file with ONE row group — so every
    * scan stage is exactly 1 task, and all pre-Exchange work (tokenize /
    * shingle / hash HOFs, SRP plane products, filters, partial aggregation)
    * serializes on one core of local[N]. The spread inserts one round-robin
    * repartition directly above the scan. Catalyst pushes filters and
    * column pruning THROUGH `Repartition` (`PushDownPredicates`/
    * `ColumnPruning` both list it), so PushedFilters/ReadSchema at the scan
    * are unchanged and the exchange carries only the pruned, filtered rows.
    *
    * Sizing: target = clamp(total bytes / [[SpreadTaskBytes]] (64 KiB), 1,
    * cores), so tiny relations keep few partitions (a many-task stage on
    * kilobytes pays pure scheduling overhead, multiplied by every round of
    * an iterative op) and big ones fill the machine. Any table under
    * 128 KiB sizes to one partition and is never spread — dictionary
    * tables (nation/region) among them, where an exchange costs more than
    * the 1-task scan. The result is the IDENTITY whenever target <= 1 or
    * the estimated scan tasks (Σ ceil(file/maxPartitionBytes), min one
    * task per file) already reach the target — any table past
    * ~cores×128 MB, i.e. every real deployment — so a 100 TB scan never
    * pays an extra shuffle; the trigger is the file layout, not a constant
    * tuned to local mode.
    *
    * Whether to spread is the caller's choice, fixed per operator in code
    * (`PipelineOps.readSpread`, or the `spread` tables of
    * [[parquetCatalog]] for the operators compiled from PRQL).
    *
    * Results are unaffected: spread only changes row-to-partition
    * assignment. The corpus' own determinism rules (exact/decimal sums,
    * rounded AVG/STDDEV, total-order output sorts, tie-broken windows,
    * array-internal left folds — SparkEntry/PipelineOps headers) make every
    * declared query order-independent. At gate scale the spread rarely
    * fires: documents.parquet is 65 KB at sf0.01 and sf0.001, so its target
    * is 1 (identity) and only embeddings (193 KB, p77) spread there;
    * PlanAuditSpec asserts the spread itself on sized fixtures and at
    * sf0.1. File sizes come from the scan's own file index
    * ([[GraftPlanBridge.scanFileSizes]]), so any Hadoop URI sizes. */
  private[graft] def scanSpread(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val sizes = GraftPlanBridge.scanFileSizes(df)
    val target = math.min(cores.toLong, math.max(1L, sizes.sum / SpreadTaskBytes)).toInt
    if (target <= 1) return df
    val maxPB = df.sparkSession.sessionState.conf.filesMaxPartitionBytes
    val estTasks = sizes.map(s => math.max(1L, (s + maxPB - 1) / maxPB)).sum
    if (estTasks >= target) df else df.repartition(target)
  }

  /** Shared local-mode session builder for the driver-contract mains (Bench,
    * Verify, Main, Dev) — one place for the configs the determinism contract
    * depends on (UTC session TZ, nanos-as-long parquet reads). */
  def localSession(cpus: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      // deployment-style kernel registration: every graft_* function that
      // doesn't need corpus-derived geometry is available in plain SQL on
      // any session (incl. newSession() isolation) with no register call
      .withExtensions(new functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // Single-pass analyzer where the ResolverGuard approves the plan
      // (tentative mode falls back to the fixed-point analyzer otherwise —
      // identical results either way, the whole test suite runs under this
      // conf). Cuts the one analysis run of a compile ~6.3 ms → ~1.1 ms on
      // the reference's compile-bench query. Validation stays ON: the
      // resolver is experimental in 4.1 and its internal assertions are the
      // only guard against a SILENT mis-resolution (a wrong-but-non-throwing
      // result bypasses Planner.toDf's exception fallback entirely).
      .config("spark.sql.analyzer.singlePassResolver.enabledTentatively", "true")
      .config("spark.sql.analyzer.singlePassResolver.validationEnabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
