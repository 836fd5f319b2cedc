package graft

import graft.pipeline.{PipelineOps, PipelineRelational}
import org.scalatest.funsuite.AnyFunSuite

/** VERDICT r6 #3: the pipeline operators' relational shapes must run
  * through BOTH query-language backends. For every PipelineRelational.prql
  * entry, the DataFrame fold, the SQL-text backend, and the operator's own
  * PipelineOps implementation must be row-identical on real testdata (md5
  * family — the driver gate's default); for the entries that ARE their
  * operator (`PipelineRelational.operators`, pinned to the `queries`
  * wiring here) the fold is the operator, so the SQL-text backend is
  * checked against it. Every entry reads the relations its operator reads
  * at the gate: the corpus with its gate fixture planted. The exclusion
  * list is pinned total-and-disjoint so a new operator cannot silently
  * skip the check. */
class PipelineRelationalSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"
  private lazy val spark = TestSpark.spark

  /** (Re-)register the catalog views the PRQL text backends compile
    * against, with `op`'s gate fixture planted over them — the PipelineOps
    * operator runs register RAW parquet views under the same names
    * (events.ts as nanos BIGINT, not the catalog's µs TIMESTAMP), so this
    * must run after each operator invocation. */
  private def registerTables(op: String): Unit = {
    for (t <- Seq("documents", "events", "embeddings"))
      Graft.parquetCatalog(spark, dir)(t).createOrReplaceTempView(t)
    PipelineOps.gateRelations(spark, dir, op)
      .foreach { case (t, df) => df.createOrReplaceTempView(t) }
    PipelineRelational.registerKernels(spark)
    PipelineRelational.pinDefaults(spark)
  }

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val cols = df.columns.sorted.toSeq
    df.select(cols.map(org.apache.spark.sql.functions.col): _*)
      .collect()
      .map(_.toSeq.map {
        case null => "NULL"
        case d: Double => f"$d%.9f"
        case b: Array[Byte] => b.map("%02x".format(_)).mkString
        case x => x.toString
      }.mkString("|"))
      .sorted
      .toSeq
  }

  test("prql + excluded exactly cover the pipeline operator set, disjointly") {
    val all = PipelineOps.queries.keySet
    val covered = PipelineRelational.prql.keySet
    val excluded = PipelineRelational.excluded.keySet
    assert(covered.intersect(excluded).isEmpty,
      s"operators both covered and excluded: ${covered.intersect(excluded)}")
    assert(covered ++ excluded == all,
      s"uncovered: ${all.diff(covered ++ excluded)}; stale: ${(covered ++ excluded).diff(all)}")
  }

  test("pinDefaults makes the gate immune to live knob configs (ADVICE r8)") {
    // a non-default fim salt redraws p62's gate + cut points; without the
    // pin the relational text (hardcoded 'fim0') would false-diff
    spark.conf.set("spark.graft.fimSalt", "fim1")
    try {
      val tampered = canon(PipelineOps.queries("p62_fim_transform")(spark, dir))
      PipelineRelational.pinDefaults(spark)
      assert(spark.conf.getOption("spark.graft.fimSalt").isEmpty)
      val pinned = canon(PipelineOps.queries("p62_fim_transform")(spark, dir))
      registerTables("p62_fim_transform")
      val text = canon(Graft.compileDir(
        PipelineRelational.prql("p62_fim_transform"), spark, dir))
      assert(tampered != pinned, "fim1 salt should change p62's output")
      assert(text == pinned, "pinned operator must match the relational text")
    } finally PipelineRelational.pinDefaults(spark)
  }

  test("operators are exactly the entries the queries wiring compiles from their text") {
    // the operator's plan is its text's, compiled over the same gate
    // catalog, exactly for the entries the set names. Analyzed plans: the
    // optimizer does not collapse p62's leading Projects the same way in
    // every build of one text (CHANGES.md), so optimized plans would flake
    PipelineRelational.pinDefaults(spark)
    val compiled = PipelineRelational.prql.toSeq.sortBy(_._1).collect {
      case (name, prql) if {
        val op = PipelineOps.queries(name)(spark, dir).queryExecution.analyzed
        PipelineRelational.registerFunctions(spark)
        val text = Graft.compile(prql, spark, PipelineOps.gateCatalog(spark, dir, name))
        op.sameResult(text.queryExecution.analyzed)
      } => name
    }.toSet
    assert(compiled == PipelineRelational.operators,
      s"compiled from their text but not in the set: ${compiled -- PipelineRelational.operators}; " +
        s"in the set but not their text: ${PipelineRelational.operators -- compiled}")
  }

  test("a planted operator leaves the session's own documents view bound") {
    // with planting on, the gate fixture is the operator's input, not a
    // rebinding of the session's `documents`: a sentinel bound before the
    // build is still bound after it, and the output is the gate output
    import spark.implicits._
    PipelineRelational.pinDefaults(spark)
    val sentinel = Seq((424242L, "sentinel text", "xx", "sentinel", 13))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    for (name <- PipelineOps.gateFixture.keys.toSeq.sorted) {
      spark.catalog.dropTempView("documents")
      val gate = canon(PipelineOps.queries(name)(spark, dir))
      sentinel.createOrReplaceTempView("documents")
      val got = canon(PipelineOps.queries(name)(spark, dir))
      assert(spark.table("documents").as[(Long, String, String, String, Int)].collect().toSeq ==
        Seq((424242L, "sentinel text", "xx", "sentinel", 13)),
        s"$name rebound the session's documents view")
      assert(got == gate, s"$name read the session's documents instead of its gate fixture")
    }
  }

  for ((name, prql) <- PipelineRelational.prql.toSeq.sortBy(_._1)) {
    test(s"both backends row-equal the operator: $name") {
      // the operator side reads knobs from session config; the texts
      // hardcode the defaults — pin BEFORE the operator runs too
      PipelineRelational.pinDefaults(spark)
      val op = canon(PipelineOps.queries(name)(spark, dir))
      registerTables(name)
      if (!PipelineRelational.operators(name)) {
        val dfPath = canon(Graft.compileSession(prql, spark))
        assert(dfPath == op,
          s"DataFrame path != operator (${dfPath.length} vs ${op.length} rows); " +
            s"first diff: ${dfPath.zip(op).find(p => p._1 != p._2)}")
      }
      val sql = Graft.toSparkSql(prql)
      val sqlPath =
        try canon(spark.sql(sql))
        catch { case e: Throwable =>
          fail(s"generated SQL failed to run:\n$sql\n${e.getMessage.take(500)}")
        }
      assert(sqlPath == op,
        s"SQL-text path != operator (${sqlPath.length} vs ${op.length} rows)\nSQL:\n$sql\n" +
          s"first diff: ${sqlPath.zip(op).find(p => p._1 != p._2)}")
    }
  }
}
