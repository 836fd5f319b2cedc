package org.apache.spark.sql

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.spark.sql.catalyst.expressions.{Expression, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Bridge into Spark's `private[sql]` classic API, used by graft's planner
  * to assemble ONE unresolved LogicalPlan per query and analyze it exactly
  * once (the compile-latency contract — Planner's class doc). Spark scopes
  * `classic.Dataset.ofRows` and the Column→Expression converter to the sql
  * package; this object lives there to re-export the two entry points. It
  * also reaches the session's Hadoop and SQL confs for the driver-side
  * parquet footer read. No Spark internals are modified. */
object GraftPlanBridge {
  /** Eagerly convert a Column to its Catalyst Expression through the
    * session's ColumnNode converter (ExpressionUtils.expression alone
    * returns a lazy ColumnNodeExpression placeholder that only Dataset API
    * entry points resolve). */
  def expression(spark: SparkSession, c: Column): Expression =
    spark.asInstanceOf[classic.SparkSession].expression(c)

  /** Wrap in UnresolvedAlias unless already named — exactly what
    * Dataset.select does to its projection list. */
  def toNamed(e: Expression): NamedExpression = classic.ExpressionUtils.toNamed(e)

  /** Analyze `plan` once and wrap it as a DataFrame (Dataset.ofRows). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Analyze with per-call SQLConf overrides applied through the
    * THREAD-LOCAL conf (`SQLConf.withExistingConf` over a clone of the
    * session conf) rather than by mutating the session conf — concurrent
    * compiles on the same session never observe each other's overrides.
    * Catalyst reads analysis-time flags via `SQLConf.get`, which prefers
    * the thread-local conf over the active session's. */
  def ofRowsWithConf(spark: SparkSession, plan: LogicalPlan,
                     overrides: Map[String, String]): DataFrame = {
    val classicSpark = spark.asInstanceOf[classic.SparkSession]
    val conf = classicSpark.sessionState.conf.clone()
    overrides.foreach { case (k, v) => conf.setConfString(k, v) }
    internal.SQLConf.withExistingConf(conf) {
      classic.Dataset.ofRows(classicSpark, plan)
    }
  }

  /** The analyzed logical plan of a DataFrame — used by the planner when a
    * sub-plan must be analyzed early (e.g. dropping a helper column whose
    * siblings have no reliable symbolic names) and the resulting resolved
    * subtree is spliced back into the ongoing unresolved fold (analysis is
    * idempotent over resolved subtrees). */
  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** The InMemoryRelation LEAF for an already-persisted DataFrame, wrapped
    * as a new DataFrame — or None if `df` is not in the cache. Consumers
    * planned over the leaf always read the cached blocks: relying on the
    * CacheManager's analysis-time substitution instead is fragile — a
    * consumer-side CTE (`WITH x AS (SELECT … FROM view)`) hides the view
    * subtree from `useCachedData` in Spark 4.1, silently re-inlining the
    * producing plan (observed on p12's rollup; PlanAuditSpec's barrier-mode
    * test locks the fix in). */
  def cachedLeaf(df: DataFrame): Option[DataFrame] = {
    val classicDf = df.asInstanceOf[classic.Dataset[_]]
    val session = classicDf.sparkSession
    session.sharedState.cacheManager.lookupCachedData(classicDf)
      .map(cd => classic.Dataset.ofRows(session, cd.cachedRepresentation))
  }

  /** Byte sizes of the files a file-source scan reads, from the relation's
    * own file index — the listing Spark already did on its FileSystem when
    * the DataFrame was built (so `file:`, `hdfs:`, `s3a:` and bare local
    * paths alike), with the index's own data-file rule (hidden `_`/`.`
    * names and empty files skipped). Empty when `df` scans no file source. */
  def scanFileSizes(df: DataFrame): Seq[Long] =
    analyzed(df).collectFirst { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r.location }.toSeq
      .flatMap(_.listFiles(Nil, Nil)).flatMap(_.files).map(_.getLen)

  /** Whether `path` exists on its own Hadoop FileSystem (`file:`, `hdfs:`,
    * `s3a:` URIs and bare local paths alike), under the session's Hadoop
    * conf. */
  def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(hadoopConf(spark)).exists(p)
  }

  /** The schema `spark.read.parquet(path)` infers, read on the driver from
    * ONE footer with no Spark job. Spark's own inference
    * (`ParquetUtils.inferSchema` with `mergeSchema` off) submits a job that
    * reads exactly one footer and converts it with
    * `ParquetFileFormat.readSchemaFromFooter`; this is the same conversion
    * with the same session-conf converter (nanosAsLong, INT96, NTZ), on the
    * file Spark would pick: `_common_metadata`, then `_metadata`, then the
    * first data file by sorted path, hidden `_`/`.` names skipped the way
    * `InMemoryFileIndex` skips them.
    *
    * None — the caller reads with plain `spark.read.parquet`, so Spark's
    * behaviour and errors apply unchanged — when the layout needs Spark's
    * own inference: the path is missing (or a glob), the directory has a
    * visible subdirectory (a partitioned layout, whose partition columns
    * Spark infers), the directory has no data file, or the session merges
    * schemas (`spark.sql.parquet.mergeSchema`, which touches every file). */
  def parquetFooterSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.asInstanceOf[classic.SparkSession].sessionState.conf
    if (conf.isParquetSchemaMergingEnabled) return None
    val hconf = hadoopConf(spark)
    val p = new Path(path)
    val fs = p.getFileSystem(hconf)
    val root =
      try fs.getFileStatus(p)
      catch { case _: FileNotFoundException => return None }
    val file: Option[FileStatus] =
      if (!root.isDirectory) Some(root)
      else {
        val visible = fs.listStatus(p)
          .filterNot(f => HadoopFSUtils.shouldFilterOutPathName(f.getPath.getName))
          .sortBy(_.getPath.toString)
        if (visible.exists(_.isDirectory)) None
        else {
          val summaries = Seq("_common_metadata", "_metadata")
          summaries.flatMap(n => visible.find(_.getPath.getName == n)).headOption
            .orElse(visible.find(f => !summaries.contains(f.getPath.getName)))
        }
      }
    file.map { f =>
      val footer = ParquetFileReader.readFooter(hconf, f, SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
        new ParquetToSparkSchemaConverter(conf))
    }
  }

  private def hadoopConf(spark: SparkSession) =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()
}
