package graft

import java.nio.file.{Files, Paths}

/** Measurement tool (optimization rounds): dump `.explain("formatted")` for
  * declared queries to files, so plan claims in OPTIMIZATION_r*.md are
  * checkable without running Spark.
  *
  * Usage: runMain graft.PlanDump <outDir> [key=value ...] [query ...]
  * (no names = all; key=value args become session confs — r16, so an A/B
  * arm's plans are diffable without recompiling)
  * Reads SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS like Bench.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PlanDump <outDir> [key=value ...] [query ...]")
    val outDir = args.head
    val (sfDir, spark) = Bench.envSession()
    new java.io.File(outDir).mkdirs()
    val (confs, queryArgs) = args.tail.partition(_.contains("="))
    confs.foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
      System.err.println(s"[plandump] conf $k=$v")
    }
    val all = SparkEntry.queries
    val names =
      if (queryArgs.nonEmpty) queryArgs.toSeq
      else all.keys.toSeq.sorted
    names.foreach { name =>
      all.get(name) match {
        case None => System.err.println(s"[plandump] unknown query: $name")
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            Files.writeString(Paths.get(s"$outDir/$name.txt"), txt)
            System.err.println(s"[plandump] wrote $outDir/$name.txt")
          } catch { case e: Throwable =>
            System.err.println(s"[plandump] $name failed: ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }
}
