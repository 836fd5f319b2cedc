package graft

import graft.pipeline.{PipelineOps, StarContraction}
import org.scalatest.funsuite.AnyFunSuite

/** VERDICT r4 #8 (stretch): star contraction must agree label-for-label
  * with both labelPropagate paths (the driver's union-find over the
  * per-partition forest, and the min-label loop over that forest), the
  * bare loop AND union-find ground truth on random graphs, and must
  * converge logarithmically where flooding is linear. */
class StarContractionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import org.apache.spark.sql.functions._

  private def df(nodes: Seq[Long], edges: Seq[(Long, Long)]) = {
    import spark.implicits._
    (nodes.toDF("doc_id").select(col("doc_id"), col("doc_id").as("lbl")),
     edges.toDF("a", "b"))
  }

  /** union-find ground truth: doc_id -> component-min label */
  private def unionFind(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    nodes.map(n => n -> find(n)).toMap
  }

  test("star contraction == labelPropagate == union-find on random graphs") {
    val rnd = new scala.util.Random(20260813L)
    for (trial <- 1 to 4) {
      val n = 60 + trial * 40
      val nodes = (0L until n).toSeq
      // sparse random graph: ~0.8 edges/node → many nontrivial components
      val edges = Seq.fill((n * 0.8).toInt)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).filter(e => e._1 != e._2)
      val (init, e) = df(nodes, edges)
      val truth = unionFind(nodes, edges)
      val star = StarContraction.labels(init, e).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // labelPropagate takes the one-direction pair relation, split over
      // 1, 4 and 7 partitions (each partition's forest differs); labelLoop
      // and star contraction take the edges as given. Labels cover
      // edge-incident nodes only: isolated nodes rejoin as their own label
      // through the left join + coalesce p16/p22 use.
      def withSingletons(sub: org.apache.spark.sql.DataFrame): Map[Long, Long] =
        init.select("doc_id").join(sub, Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("lbl"), col("doc_id"))).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(star == truth, s"trial $trial: star contraction != union-find")
      for (parts <- Seq(1, 4, 7)) {
        import spark.implicits._
        val pairs = spark.sparkContext.parallelize(edges, parts).toDF("ida", "idb")
        assert(withSingletons(PipelineOps.labelPropagate(pairs, maxRounds = n)) == truth,
          s"trial $trial, $parts partitions: labelPropagate (driver path) != union-find")
        assert(TestSpark.onLabelLoop(
            withSingletons(PipelineOps.labelPropagate(pairs, maxRounds = n))) == truth,
          s"trial $trial, $parts partitions: labelPropagate (loop path) != union-find")
      }
      val sym = e.union(e.select(col("b").as("a"), col("a").as("b")))
      assert(withSingletons(PipelineOps.labelLoop(sym, 2L * edges.size, maxRounds = n)) == truth,
        s"trial $trial: labelLoop != union-find")
    }
  }

  test("star contraction honors non-identity initial labels (min init label per component)") {
    // component {0,1,2} with init labels {10,7,9} → everyone gets 7
    import spark.implicits._
    val init = Seq((0L, 10L), (1L, 7L), (2L, 9L), (3L, 3L)).toDF("doc_id", "lbl")
    val edges = Seq((0L, 1L), (1L, 2L)).toDF("a", "b")
    val out = StarContraction.labels(init, edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(0L -> 7L, 1L -> 7L, 2L -> 7L, 3L -> 3L))
  }

  test("star contraction is logarithmic on a chain that would exhaust flooding") {
    // a 512-node chain has diameter 511: min-label flooding needs ~511
    // rounds; alternating star contraction must finish in O(log n)
    val n = 512L
    val edges = (0L until n - 1).map(i => (i, i + 1))
    import spark.implicits._
    val e = edges.toDF("a", "b")
    val (stars, rounds) = StarContraction.contract(e, maxRounds = 30)
    // every non-zero node must point straight at the component min (0)
    val pointed = stars.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pointed.forall(_._2 == 0L) && pointed.map(_._1).sorted.toSeq == (1L until n),
      "fixpoint is not a single star centered at 0")
    assert(rounds <= 15, s"expected O(log n) rounds on the chain, took $rounds")
  }
}
