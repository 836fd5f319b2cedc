package graft
import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json (at the data dir's embeddings count), for the
  * DuckDB hash compare (`tools/compare.py`). */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Graft.localSession(Bench.envCpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // the oracle texts at the geometries the Spark side derives from this
    // corpus' embeddings count (p08/p19/p22/p67/p79), so the compare holds
    // at every scale, not only at the gate's
    val embeddingsN = Graft.parquetRowCount(spark, s"$sfDir/embeddings.parquet")
    val json = SparkEntry.oracleSqlFor(embeddingsN)
      .map { case (k, v) => s"${util.Json.quote(k)}: ${util.Json.quote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Two-backend dump of the pipeline operators' relational texts: for
    // each PipelineRelational.prql entry, the SQL-text backend's result
    // (`__sql`) and, where the text is not itself the operator, the
    // DataFrame fold's (`__df`; for PipelineRelational.operators the fold
    // IS the operator output dumped above). tools/compare.py checks each
    // against that output. Each entry reads the corpus views of sfDir with
    // its gate fixture's planted relations bound over them — the relations
    // the operator read above. `relback_names.json` lists every entry, so
    // the compare fails an entry whose dump is missing, not just a wrong one.
    Files.writeString(Paths.get(s"$outDir/relback_names.json"),
      pipeline.PipelineRelational.prql.keys.toSeq.sorted.map(util.Json.quote)
        .mkString("[", ",", "]"))
    pipeline.PipelineRelational.registerKernels(spark)
    // the relational texts hardcode default knobs; pin the session to
    // defaults so the dump is comparable to the operators' (ADVICE r8)
    pipeline.PipelineRelational.pinDefaults(spark)
    val catalog = Graft.parquetCatalog(spark, sfDir)
    pipeline.PipelineRelational.prql.foreach { case (name, prql) =>
      try {
        for (t <- Seq("documents", "events", "embeddings"))
          catalog(t).createOrReplaceTempView(t)
        pipeline.PipelineOps.gateRelations(spark, sfDir, name)
          .foreach { case (t, df) => df.createOrReplaceTempView(t) }
        if (!pipeline.PipelineRelational.operators(name))
          Graft.compileSession(prql, spark).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/relback/${name}__df")
        spark.sql(Graft.toSparkSql(prql)).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/relback/${name}__sql")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] relback $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
