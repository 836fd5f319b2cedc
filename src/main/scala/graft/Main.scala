package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** CLI — the reference's `prql-compiler compile` edge (src/cli.rs:38-56),
  * Spark-flavored. Input PRQL comes from a file argument or stdin.
  *
  * {{{
  * sbt "runMain graft.Main compile query.prql --data-dir /root/testdata/sf0.001 --show 20"
  * sbt "runMain graft.Main ast query.prql"        # JSON AST (to_json)
  * sbt "runMain graft.Main plan query.prql ..."   # Spark optimized plan
  * }}}
  *
  * Formats mirror the reference's `--format ast|sql`: `ast` needs no Spark
  * session; `plan`/`compile` build the DataFrame against the parquet-dir
  * catalog and print the Catalyst plan / the executed result.
  */
object Main {

  private def usage(): Nothing = {
    System.err.println(
      """usage: graft.Main <command> [query.prql|-] [options]
        |commands:
        |  ast       print the JSON AST (round-trips via AstJson.fromJson)
        |  fmt       re-print formatted PRQL (round-trip-checked)
        |  plan      print the analyzed + optimized Spark plan
        |  compile   execute and print rows
        |  sql       print the equivalent Spark SQL (no Spark session needed)
        |  frames    annotate source with the frame after each stage
        |  refs      list resolved identifier references (line/col -> kind)
        |  pipeline  run a pipeline operator by name over --data-dir
        |            (`pipeline list` prints the operator names)
        |options:
        |  --data-dir DIR   parquet catalog dir (default /root/testdata/sf0.001)
        |  --show N         rows to print for `compile` (default 20)""".stripMargin)
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) usage()
    val cmd = args(0)
    var file = "-"
    var dataDir = "/root/testdata/sf0.001"
    var show = 20
    def optArg(i: Int): String =
      if (i + 1 < args.length) args(i + 1)
      else { System.err.println(s"missing value for ${args(i)}"); usage() }
    var i = 1
    while (i < args.length) {
      args(i) match {
        case "--data-dir" => dataDir = optArg(i); i += 2
        case "--show" =>
          show = try optArg(i).toInt catch {
            case _: NumberFormatException =>
              System.err.println("--show expects an integer"); usage()
          }
          i += 2
        case f0 => file = f0; i += 1
      }
    }
    // `pipeline` takes an operator name, not a PRQL file — dispatch before
    // the source read
    lazy val src =
      if (file == "-") scala.io.Source.stdin.mkString
      else new String(Files.readAllBytes(Paths.get(file)), "UTF-8")

    cmd match {
      case "pipeline" =>
        val names = pipeline.PipelineOps.queries.keys.toSeq.sorted
        if (file == "-" || file == "list") names.foreach(println)
        else if (!names.contains(file)) {
          System.err.println(
            s"unknown pipeline operator '$file' (run `graft.Main pipeline list`)")
          sys.exit(2)
        } else {
          val spark = Graft.localSession(Bench.envCpus)
          spark.sparkContext.setLogLevel("ERROR")
          pipeline.PipelineOps.queries(file)(spark, dataDir).show(show, truncate = false)
          spark.stop()
        }
      case "ast" =>
        val q = Graft.parse(src)
        val json = ast.AstJson.toJson(q)
        require(ast.AstJson.fromJson(json) == q, "AST json round-trip mismatch")
        println(json)
      case "fmt" =>
        val q = Graft.parse(src)
        val printed = ast.PrqlPrinter.print(q)
        require(Graft.parse(printed) == q, "fmt round-trip mismatch")
        println(printed)
      case "sql" =>
        println(Graft.toSparkSql(src))
      case "plan" | "compile" =>
        val spark = Graft.localSession(Bench.envCpus)
        spark.sparkContext.setLogLevel("ERROR")
        val (df, diags) = Graft.compileWithDiagnostics(src, spark,
          Graft.parquetCatalog(spark, dataDir))
        diags.foreach(d => System.err.println(s"[graft diagnostic] $d"))
        if (cmd == "plan") df.explain("extended")
        else df.show(show, truncate = false)
        spark.stop()
      case "frames" | "refs" =>
        // the reference CLI's prql-frames / prql-refs annotate modes
        // (cli.rs:20-36); ours resolve against real parquet schemas
        val spark = Graft.localSession(Bench.envCpus)
        spark.sparkContext.setLogLevel("ERROR")
        val cat = Graft.parquetCatalog(spark, dataDir)
        println(if (cmd == "frames") Annotate.frames(src, spark, cat)
                else Annotate.refs(src, spark, cat))
        spark.stop()
      case _ => usage()
    }
  }
}
