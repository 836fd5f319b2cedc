package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.{functions => F}

/** Interleaved A/B sampler: the one measurement main for "does this
  * session conf change the time of these targets?". In ONE session, each
  * (arm, target) pair runs once untimed (plan + parquet footer cache + JIT),
  * then `runs` timed rounds alternate every arm over every target, so host
  * drift hits all arms equally.
  *
  * A target is a [[SparkEntry.queries]] name (timed: build + execute to a
  * `noop` sink, Bench's methodology) or `stream:lsh` / `stream:cdc` (the
  * sf corpus's documents fed through a MemoryStream in 10 micro-batches,
  * one processAllAvailable per batch; timed: the whole drain). For a
  * stateful stream `spark.sql.shuffle.partitions` at query start fixes the
  * state-store partition count, so that key is the stream-sizing lever.
  *
  * A failing sample is counted against its own (arm, target) cell and every
  * other sample still runs: an invalid arm reports `failed`, never aborts
  * the comparison.
  *
  * Usage: runMain graft.Sampler <runs> <confKey> <setting,...|unset> <target> [target ...]
  * (`unset` removes the conf — the operator's default). Reads
  * SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS like Bench. Prints
  * `target,setting,median,min,max,n,failed` rows on stdout; every timed
  * sample is logged on stderr as `[sampler] run=R target setting seconds`.
  */
object Sampler {

  /** One (target, arm) cell: its timed samples (seconds) and failed samples. */
  final case class Cell(target: String, arm: String, samples: Vector[Double], failed: Int)

  /** The sampling loop, free of Spark: `time(target, arm)` runs one sample
    * and returns its seconds, or throws. Warm-up failures are logged only;
    * a timed failure counts in its cell's `failed`. */
  def sample(runs: Int, arms: Seq[String], targets: Seq[String])
            (time: (String, String) => Double): Seq[Cell] = {
    def attempt(tag: String, target: String, arm: String): Option[Double] =
      try Some(time(target, arm))
      catch { case NonFatal(e) =>
        System.err.println(s"[sampler] $tag $target@$arm failed: ${e.getMessage}")
        None
      }
    for (a <- arms; t <- targets) attempt("warm", t, a)
    val cells = scala.collection.mutable.LinkedHashMap.empty[(String, String), Cell]
    for (t <- targets; a <- arms) cells((t, a)) = Cell(t, a, Vector.empty, 0)
    for (r <- 1 to runs; a <- arms; t <- targets) {
      val c = cells((t, a))
      cells((t, a)) = attempt(s"run=$r", t, a) match {
        case Some(d) =>
          System.err.println(f"[sampler] run=$r $t%-26s $a%-8s $d%8.3f s")
          c.copy(samples = c.samples :+ d)
        case None => c.copy(failed = c.failed + 1)
      }
    }
    cells.values.toSeq
  }

  /** `target,setting,median,min,max,n,failed`; an all-failed cell prints NA. */
  def render(c: Cell): String = {
    val v = c.samples.sorted
    val stats =
      if (v.isEmpty) "NA,NA,NA"
      else f"${v(v.size / 2)}%.3f,${v.head}%.3f,${v.last}%.3f"
    s"${c.target},${c.arm},$stats,${v.size},${c.failed}"
  }

  final case class Doc(doc_id: Long, text: String, ts: java.sql.Timestamp)
  private val StreamBatches = 10

  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: Sampler <runs> <confKey> <setting,...|unset> <target> [target ...]")
    val runs = args(0).toInt
    val key = args(1)
    val arms = args(2).split(",").toSeq
    val targets = args.drop(3).toSeq
    val unknown = targets.filterNot(t =>
      SparkEntry.queries.contains(t) || t == "stream:lsh" || t == "stream:cdc")
    require(unknown.isEmpty, s"unknown targets: ${unknown.mkString(",")}")
    val (sfDir, spark) = Bench.envSession()

    lazy val batches: Seq[Seq[Doc]] = {
      import spark.implicits._
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(F.col("doc_id"), F.col("text"))
        .withColumn("ts", F.expr("timestamp_seconds(1700000000 + doc_id)"))
        .as[Doc].collect().sortBy(_.doc_id)
      docs.grouped(math.max(1, docs.length / StreamBatches)).map(_.toSeq).toSeq
    }

    def time(target: String, arm: String): Double = {
      if (arm == "unset") spark.conf.unset(key) else spark.conf.set(key, arm)
      target match {
        case "stream:lsh" | "stream:cdc" => drain(spark, target, batches)
        case q =>
          val t0 = System.nanoTime()
          SparkEntry.queries(q)(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
      }
    }

    val cells = sample(runs, arms, targets)(time)
    println("target,setting,median,min,max,n,failed")
    cells.foreach(c => println(render(c)))
    spark.stop()
  }

  /** Start the stream (untimed), then time feeding every batch through it. */
  private def drain(spark: SparkSession, target: String, batches: Seq[Seq[Doc]]): Double = {
    import spark.implicits._
    val in = MemoryStream[Doc](spark)
    val out =
      if (target == "stream:lsh")
        graft.streaming.LshPairsStream.pairs(in.toDF(), "text", "doc_id", "ts").toDF()
      else graft.streaming.CdcChunkStream.novelChunks(in.toDF(), "text", "ts", "1 hour")
    val q = out.writeStream.format("noop").outputMode("append").start()
    try {
      val t0 = System.nanoTime()
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      (System.nanoTime() - t0) / 1e9
    } finally q.stop()
  }
}
