package graft

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, GraftPlanBridge}
import org.scalatest.funsuite.AnyFunSuite

/** `Graft.readParquet` takes the schema from the file footer on the driver:
  * it must read exactly what `spark.read.parquet` reads (schema and rows),
  * fall back to Spark's own inference where the layout needs it, and keep
  * `compileDir` free of Spark jobs. `Graft.parquetRowCount` sums the
  * footers' row counts the same way: `count()`'s value, no job. */
class ParquetFooterSchemaSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def withTempDir(body: File => Unit): Unit = {
    val dir = Files.createTempDirectory("graft_footer").toFile
    def rm(f: File): Unit = { Option(f.listFiles).foreach(_.foreach(rm)); f.delete() }
    try body(dir) finally rm(dir)
  }

  private def sameAsSpark(path: String): Unit = {
    val ours = Graft.readParquet(spark, path)
    val theirs = spark.read.parquet(path)
    assert(ours.schema == theirs.schema, path)
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(ours) == rows(theirs), path)
  }

  private def sample = {
    import spark.implicits._
    (1 to 40).map(i => (i.toLong, s"t$i", i * 0.5, i % 3)).toDF("id", "txt", "score", "k")
  }

  test("a single parquet file: footer schema and rows equal spark.read.parquet") {
    withTempDir { dir =>
      val out = new File(dir, "out")
      sample.coalesce(1).write.parquet(out.getPath)
      val part = out.listFiles.find(_.getName.startsWith("part-")).get
      val single = new File(dir, "single.parquet")
      Files.copy(part.toPath, single.toPath)
      assert(GraftPlanBridge.parquetFooterSchema(spark, single.getPath).isDefined)
      sameAsSpark(single.getPath)
    }
  }

  test("a multi-part directory with _SUCCESS: footer schema and rows equal spark.read.parquet") {
    withTempDir { dir =>
      val out = new File(dir, "multi.parquet")
      sample.repartition(3).write.parquet(out.getPath)
      assert(new File(out, "_SUCCESS").exists)
      assert(out.listFiles.count(_.getName.startsWith("part-")) == 3)
      assert(GraftPlanBridge.parquetFooterSchema(spark, out.getPath).isDefined)
      sameAsSpark(out.getPath)
    }
  }

  test("a session that merges schemas falls back: every part's columns are read") {
    withTempDir { dir =>
      val out = new File(dir, "merged.parquet").getPath
      sample.select("id", "txt").write.parquet(out)
      sample.select("id", "score").write.mode("append").parquet(out)
      spark.conf.set("spark.sql.parquet.mergeSchema", "true")
      try {
        assert(GraftPlanBridge.parquetFooterSchema(spark, out).isEmpty)
        assert(Graft.readParquet(spark, out).schema.fieldNames.toSet == Set("id", "txt", "score"))
        sameAsSpark(out)
      } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
    }
  }

  test("a partitioned k=v directory falls back to Spark's inference") {
    withTempDir { dir =>
      val out = new File(dir, "parts.parquet")
      sample.write.partitionBy("k").parquet(out.getPath)
      assert(GraftPlanBridge.parquetFooterSchema(spark, out.getPath).isEmpty)
      assert(Graft.readParquet(spark, out.getPath).schema.fieldNames.last == "k")
      sameAsSpark(out.getPath)
    }
  }

  test("an empty directory falls back, with spark.read.parquet's own error") {
    withTempDir { dir =>
      val empty = new File(dir, "empty.parquet")
      assert(empty.mkdir())
      assert(GraftPlanBridge.parquetFooterSchema(spark, empty.getPath).isEmpty)
      val ours = intercept[Exception](Graft.readParquet(spark, empty.getPath))
      val theirs = intercept[Exception](spark.read.parquet(empty.getPath))
      assert(ours.getClass == theirs.getClass)
      assert(ours.getMessage == theirs.getMessage)
    }
  }

  test("a missing path falls back, with spark.read.parquet's own error") {
    val missing = s"$sfDir/no_such_table.parquet"
    assert(GraftPlanBridge.parquetFooterSchema(spark, missing).isEmpty)
    val ours = intercept[Exception](Graft.readParquet(spark, missing))
    val theirs = intercept[Exception](spark.read.parquet(missing))
    assert(ours.getMessage == theirs.getMessage)
  }

  test("every sf0.001 table: footer schema and rows equal spark.read.parquet") {
    val tables = new File(sfDir).listFiles.map(_.getName).filter(_.endsWith(".parquet")).sorted
    assert(tables.length == 10)
    tables.foreach(t => sameAsSpark(s"$sfDir/$t"))
  }

  test("compileDir resolves `from` against a file: URI data dir") {
    val uri = new File(sfDir).toURI.toString
    assert(uri.startsWith("file:"))
    val viaUri = Graft.compileDir("from region\nsort r_regionkey", spark, uri).collect()
    val viaPath = Graft.compileDir("from region\nsort r_regionkey", spark, sfDir).collect()
    assert(viaUri.nonEmpty)
    assert(viaUri.toSeq == viaPath.toSeq)
  }

  test("compileDir of q10_join_inner (2 tables) submits no Spark job") {
    val prql = SparkEntry.prqlTexts.find(_._1 == "q10_join_inner").get._2
    val (_, jobs) = TestSpark.jobsOf(Graft.compileDir(prql, spark, sfDir))
    assert(jobs == 0)
  }

  test("footer row counts equal count(), with no Spark job; other relations fall back") {
    def same(path: String): Unit = {
      val (n, jobs) = TestSpark.jobsOf(Graft.parquetRowCount(spark, path))
      assert(jobs == 0, path)
      assert(n == spark.read.parquet(path).count(), path)
    }
    val sf001 = "/root/testdata/sf0.01"
    val tables = new File(sf001).listFiles.map(_.getName).filter(_.endsWith(".parquet")).sorted
    assert(tables.length == 10)
    tables.foreach(t => same(s"$sf001/$t"))
    withTempDir { dir =>
      val out = Bench.buildScaledDir(spark, sf001, 2, dir.getPath)
      Seq("documents.parquet", "embeddings.parquet").foreach(t => same(s"$out/$t"))
      // the x2 tables come out one file each; split the documents into 3
      val multi = s"$out/documents_3.parquet"
      spark.read.parquet(s"$out/documents.parquet").repartition(3).write.parquet(multi)
      assert(new File(multi).listFiles.count(_.getName.startsWith("part-")) == 3)
      same(multi)
    }
    val docs = Graft.readParquet(spark, s"$sfDir/documents.parquet")
    assert(GraftPlanBridge.parquetRowCount(docs).contains(docs.count()))
    assert(GraftPlanBridge.parquetRowCount(docs.where("doc_id > 3")).isEmpty)
    assert(GraftPlanBridge.parquetRowCount(docs.select("doc_id")).isEmpty)
    assert(GraftPlanBridge.parquetRowCount(spark.range(5).toDF()).isEmpty)
    withTempDir { dir =>
      val json = new File(dir, "t.json").getPath
      sample.write.json(json)
      assert(GraftPlanBridge.parquetRowCount(spark.read.json(json)).isEmpty)
    }
  }
}
