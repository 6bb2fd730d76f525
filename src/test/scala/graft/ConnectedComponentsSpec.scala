package graft

import graft.graph.{ConnectedComponents, GraphAlgs}

class ConnectedComponentsSpec extends GraftSuite {
  import spark.implicits._

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents.run(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap

  test("two components + chain") {
    val got = cc(Seq((1L, 2L), (2L, 3L), (10L, 11L), (3L, 4L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("self loops and duplicate edges are harmless") {
    val got = cc(Seq((5L, 5L), (5L, 6L), (6L, 5L), (5L, 6L)))
    assert(got == Map(5L -> 5L, 6L -> 5L))
  }

  test("long path converges (log-round star contraction)") {
    val n = 200L
    val got = cc((0L until n - 1).map(i => (i, i + 1)))
    assert(got.size == n && got.values.forall(_ == 0L))
  }

  test("superseded per-round checkpoints are released eagerly") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // a 300-node path needs several large-star/small-star rounds — without
    // per-round release each round would strand one checkpointed edge set
    val result = ConnectedComponents.run(
      (0L until 299L).map(i => (i, i + 1)).toDF("src", "dst"))
    assert(result.count() == 300)
    val leaked = sc.getPersistentRDDs.keySet -- before
    // only the final fixpoint's checkpoint (which backs `result`) may live
    assert(leaked.size <= 1, s"per-round checkpoints leaked: $leaked")
  }

  test("hot-root star, chain and detached pair get their min-id labels") {
    // the hot-root star is the skew case the map-side-combined per-source
    // min exists for: its root's adjacency is the whole component
    val star = (2L to 40L).map(i => (1L, i))
    val edges = star ++ Seq((41L, 42L), (42L, 43L), (100L, 101L))
    val want = (1L to 40L).map(_ -> 1L) ++ (41L to 43L).map(_ -> 41L) ++
      Seq(100L -> 100L, 101L -> 100L)
    val got = cc(edges)
    assert(got == want.toMap, s"labels: ${got.toSeq.sorted}")
  }

  test("matches GraphX CC on random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 150
      val edges = Seq.fill(200)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val ours = cc(edges)
      val theirs = GraphAlgs.connectedComponents(spark, edges.toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
      assert(ours == theirs, s"trial $trial")
    }
  }
}
