package graft

import graft.pipeline.PipelineOps
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite

/** The null-field corpus law (the DegenerateCorpusSpec pattern, second
  * axis): every pipeline operator, fed a corpus where one row carries NULL
  * in every non-key column (null text, null lang, null embedding, …),
  * either returns a well-formed result or raises a NAMED require — never a
  * raw NPE from a typed codec or a null-ordering surprise deep in a stage.
  *
  * Ingest pipelines produce such rows constantly (a crawler timeout leaves
  * text null, a failed encoder leaves the embedding null); at 1000
  * executors a NullPointerException inside a mapPartitions codec is the
  * single worst-to-debug failure class. The corpora are the REAL gate
  * tables (two rows) plus one synthetic all-null-payload row per table, so
  * every operator sees the production schema with the hazard planted.
  */
class NullFieldCorpusSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val srcDir = "/root/testdata/sf0.001"
  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private lazy val dir: String = {
    val out = "/tmp/graft-nullfield"
    for (t <- tables) {
      val src = s"$srcDir/$t.parquet"
      if (new java.io.File(src).exists) {
        val base = spark.read.parquet(src).limit(2)
        val nullRow = base.limit(1).select(base.schema.fields.zipWithIndex.map {
          case (f, 0) => // the leading column is the table's id by convention:
            // keep it non-null (shifted when numeric) so the row is a real,
            // addressable record whose PAYLOAD is what failed upstream
            if (f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
              (F.col(f.name) + F.lit(900000)).cast(f.dataType).as(f.name)
            else F.col(f.name)
          case (f, _) => F.lit(null).cast(f.dataType).as(f.name)
        }: _*)
        base.unionByName(nullRow).coalesce(1)
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
      }
    }
    out
  }

  private def isNamedRefusal(e: Throwable): Boolean = e match {
    case _: IllegalArgumentException | _: IllegalStateException |
         _: UnsupportedOperationException =>
      e.getMessage != null && e.getMessage.trim.nonEmpty
    case _ => false
  }

  // ADVICE r12: the media codecs must not just survive a null payload —
  // the DROP must be counted, or a growing upstream-encoder failure rate
  // silently shrinks the corpus. Each codec publishes the count as an
  // observed metric (CollectMetrics — no output-schema change, so the
  // frozen DuckDB oracles are untouched); this pins metric name, column,
  // and value: exactly the one planted null-payload row.
  for ((key, tag) <- Seq("p10_media_decode" -> "decode",
                         "p29_media_resize" -> "resize",
                         "p30_frame_sample" -> "frames",
                         "p41_audio_decode" -> "audio")) {
    test(s"$key counts its null-payload drops in observed metric graft_null_media_$tag") {
      val df = PipelineOps.queries(key)(spark, dir)
      df.collect()
      val metrics = df.queryExecution.observedMetrics
      val row = metrics.getOrElse(s"graft_null_media_$tag",
        fail(s"$key published no graft_null_media_$tag metric; has: ${metrics.keys.mkString(", ")}"))
      val drops = row.getAs[Long]("null_payload_drops")
      val rows = row.getAs[Long]("payload_rows")
      // the corpus is 2 real rows + 1 planted null payload; raw counts may
      // be execution-multiplied (a sort's range sampler re-runs a
      // shuffle-free lineage — see the nonNullMedia doc), but the RATE is
      // invariant: exactly 1 in 3
      assert(drops >= 1L && rows === 3L * drops,
        s"$key drop rate should be exactly 1/3 (drops=$drops rows=$rows)")
    }
  }

  // The gate fixture plants p47's lines and p63's paragraphs as ONE text
  // that the operator splits again, and a text cannot hold a NULL line:
  // for a NULL-text row the leading-words line (NULL in the DuckDB oracle's
  // in-query array) is simply absent. The rows read (lines/paras, removed,
  // checksum); the oracles' rows are noted beside each.
  test("gate fixture on a NULL-text row: p47 plants 3 lines where its oracle has 4; p63 equals its oracle") {
    def nullRow(key: String) = PipelineOps.queries(key)(spark, dir)
      .where("doc_id = 900000").collect().toSeq
      .map(r => (r.getLong(1), r.getLong(2), r.getString(3)))
    // the oracle reads (4, 1, same checksum): its NULL line counts as a
    // line, and its NULL hash drops it from `kept` as if removed
    assert(nullRow("p47_boilerplate_lines") === Seq((3L, 0L,
      md5("copyright acme corp all rights reserved\npromo code 3\nref 900000"))))
    // the oracle's NULL paragraph hash joins nothing, so it too counts
    // only the ref paragraph (900000 % 5 = 0: no wire block)
    assert(nullRow("p63_paragraph_dedup") === Seq((1L, 0L, md5("ref 900000"))))
  }

  private def md5(s: String): String = java.security.MessageDigest.getInstance("MD5")
    .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)).map(b => f"${b & 0xff}%02x").mkString

  for (key <- PipelineOps.queries.keys.toSeq.sorted) {
    test(s"$key on a null-payload row: well-formed result or a named require") {
      try {
        val df = PipelineOps.queries(key)(spark, dir)
        df.collect()
        assert(df.schema.fields.nonEmpty, s"$key returned a zero-column frame")
      } catch {
        case e: Throwable if isNamedRefusal(e) => // loud and named: acceptable
        case e: Throwable =>
          fail(s"$key on a null-payload row died with a raw ${e.getClass.getName}: " +
            s"${Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" | ")}")
      }
    }
  }
}
