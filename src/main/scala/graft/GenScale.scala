package graft

/** One-off ×K test-data generator (VERDICT r9 #9): materializes an
  * ≈sf(K×src) copy of EVERY table under an output dir, so the bench suite
  * can run at a larger scale point
  * (`SPARK_GRAFT_SF_DIR=<outDir> runMain graft.Bench`).
  *
  * documents/embeddings use the artifact-free replication of
  * [[Bench.buildScaledDir]] (near-dup text suffix tokens, Walsh ±1
  * decorrelated embeddings — see its doc for why naive copies read as
  * super-linear operator scaling). The relational tables replicate with a
  * consistent key remap `key → key·K + r`, so per-replica join integrity
  * is EXACT (an orders row's replica r joins precisely its lineitem rows'
  * replica r) and cross-replica keys never alias; `nation`/`region` are
  * shared dimensions (25/5 rows) referenced by unscaled foreign keys, so
  * they copy verbatim — the star shape's 1:N fan-outs are preserved, only
  * multiplied.
  *
  * Usage: `runMain graft.GenScale /root/testdata/sf0.1 target/sf1 10`
  */
object GenScale {

  /** table → key columns remapped as key·K + r (empty = copy verbatim). */
  private val keyCols: Map[String, Seq[String]] = Map(
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "events" -> Seq("event_id", "user_id"),
    "nation" -> Seq.empty,
    "region" -> Seq.empty)

  def main(args: Array[String]): Unit = {
    // ADVICE r10: fail with the usage string, not a MatchError
    if (args.length != 3 || args(2).toIntOption.isEmpty) {
      System.err.println("usage: runMain graft.GenScale <srcDir> <outDir> <k:int>")
      sys.exit(2)
    }
    val Array(srcDir, outDir, kStr) = args
    val k = kStr.toInt
    val spark = Graft.localSession(Bench.envCpus)
    Bench.buildScaledDir(spark, srcDir, k, outDir) // documents + embeddings
    keyCols.foreach { case (table, keys) =>
      val src = spark.read.parquet(s"$srcDir/$table.parquet")
      val scaled =
        if (keys.isEmpty) src
        else {
          val cols = src.columns.map {
            case c if keys.contains(c) => s"`$c` * ${k}L + r AS `$c`"
            case c => s"`$c`"
          }
          src.selectExpr(s"explode(sequence(0, ${k - 1})) AS r" +:
              src.columns.map(c => s"`$c`"): _*)
            .selectExpr(cols: _*)
        }
      scaled.write.mode("overwrite").parquet(s"$outDir/$table.parquet")
      System.err.println(s"[genscale] $table -> $outDir (${if (keys.isEmpty) "verbatim" else s"x$k"})")
    }
    spark.stop()
  }
}
