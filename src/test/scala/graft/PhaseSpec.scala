package graft

import graft.core.Phase
import graft.dbscan.{Cc, ClusterMode, Dbscan, Outputs, Scc}
import graft.kmeans.ConstrainedKMeans
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

/** Every Spark job of the three anonymizations carries the pipeline phase
  * that submitted it ([[Phase.Key]]), including the jobs a lazy checkpoint
  * runs when it is declared and AQE's map-stage jobs. */
class PhaseSpec extends GraftSuite {
  import spark.implicits._

  private val Outer = "caller.outer"
  private val EngineTag = """(dbscan|cc|scc|kmeans|sink)\..+""".r

  /** (job group, phase) of every job start. Listener delivery is
    * asynchronous, so [[tagsOf]] runs a marker job and waits for its
    * start: the bus delivers events in order. */
  private final class Tags extends SparkListener {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      seen.add((p.map(_.getProperty("spark.jobGroup.id")).orNull,
        p.map(_.getProperty(Phase.Key)).orNull))
    }
    def of(group: String): Seq[String] = {
      import scala.jdk.CollectionConverters._
      seen.asScala.toSeq.filter(_._1 == group).map(_._2)
    }
  }

  /** The phase of every Spark job `body` starts, in start order, with
    * [[Outer]] as the calling thread's phase; checks that the thread's
    * phase is [[Outer]] again afterwards. */
  private def tagsOf(group: String)(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val tags = new Tags
    sc.addSparkListener(tags)
    sc.setLocalProperty(Phase.Key, Outer)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      assert(sc.getLocalProperty(Phase.Key) == Outer,
        s"$group left the thread's phase at ${sc.getLocalProperty(Phase.Key)}")
      sc.setJobGroup(s"$group-marker", "listener marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      var i = 0
      while (tags.of(s"$group-marker").isEmpty && i < 400) {
        Thread.sleep(25); i += 1
      }
      assert(tags.of(s"$group-marker").nonEmpty, "listener never saw the marker")
      val got = tags.of(group)
      assert(got.nonEmpty, s"$group started no job")
      val untagged = got.filterNot(t => t != null && EngineTag.matches(t))
      if (untagged.nonEmpty) fail(s"$group: jobs without an engine tag: " +
        untagged.groupBy(identity).view.mapValues(_.size).toMap)
      got
    } finally {
      sc.setLocalProperty(Phase.Key, null)
      sc.removeSparkListener(tags)
    }
  }

  /** The CC round numbers in `tags`, which must run 1..R with no gap. */
  private def rounds(tags: Seq[String]): Seq[Int] = {
    val r = tags.collect { case s"cc.round.$i" => i.toInt }.distinct.sorted
    assert(r == (1 to r.size), s"CC round tags $r")
    r
  }

  /** 40 points on a line, 1 apart, plus 4 far away: at ε = 1.5 the line is
    * a 40-vertex path, so the CC fixpoint takes several rounds. */
  private def chain: DataFrame =
    ((0 until 40).map(i => (i.toLong, Array(i.toDouble, 0.0))) ++
      (40 until 44).map(i => (i.toLong, Array(500.0 + 50 * i, 500.0))))
      .toDF("id", "qi")

  private def sweepTags(mode: ClusterMode): Seq[String] = {
    var model: graft.dbscan.DbscanModel = null
    val tags = tagsOf(s"phase-sweep-$mode") {
      val (recs, best) = Dbscan.sweep(chain, "id", "qi", Seq(1.5, 2.5),
        minPts = 3, k = 3, mode = mode)
      assert(recs.size == 2)
      model = best.get._2
    }
    val dir = java.nio.file.Files.createTempDirectory("phase-json").toString
    val sink = tagsOf(s"phase-sink-$mode") {
      Outputs.writeAnonymizedJson(model, 2, dir)
    }
    model.unpersist()
    assert(sink.toSet == Set("sink.json"), s"sink tags ${sink.distinct}")
    tags
  }

  test("a DBSCAN sweep, a run and a sink tag every Spark job, CC rounds 1..R") {
    val cc = sweepTags(Cc)
    assert(rounds(cc).size >= 2, s"CC sweep tags ${cc.distinct}")
    for (step <- Seq("dbscan.input", "dbscan.core", "dbscan.centroids",
        "dbscan.stats", "dbscan.publish"))
      assert(cc.contains(step), s"no $step job in ${cc.distinct}")

    val scc = sweepTags(Scc)
    assert(rounds(scc).nonEmpty, s"SCC sweep tags ${scc.distinct}")
    for (step <- Seq("scc.mutual", "dbscan.centroids", "dbscan.publish"))
      assert(scc.contains(step), s"no $step job in ${scc.distinct}")

    val run = tagsOf("phase-run") {
      Dbscan.run(chain, "id", "qi", eps = 1.5, minPts = 3, k = 3).unpersist()
    }
    // (run's `dim` read over a local relation runs no Spark job)
    assert(rounds(run).size >= 2 && run.contains("dbscan.publish"),
      s"run tags ${run.distinct}")
  }

  test("a k-means sweep tags each pool thread's jobs with its fit's steps") {
    // 60 points in [0, 100)²: with k=8 some iterations repair
    val rnd = new scala.util.Random(1)
    val pts = (0 until 60).map(i => (i.toLong,
      Array(rnd.nextDouble() * 100, rnd.nextDouble() * 100))).toDF("id", "qi")
    var iters = 0
    val tags = tagsOf("phase-kmeans") {
      val m = ConstrainedKMeans.sweep(pts, "id", "qi", clusterRange = Seq(5, 6),
        restarts = 1, kAnon = 8, seed = 1, maxLloyd = 4)
      iters = m.lloydIters
      m.unpersist()
    }
    val lloyd = tags.collect { case s"kmeans.lloyd.$i" => i.toInt }.distinct
    assert(lloyd.sorted == (1 to lloyd.size) && lloyd.size >= iters,
      s"Lloyd tags ${lloyd.sorted}")
    assert(tags.exists(_.startsWith("kmeans.repair.")),
      s"no repair round in ${tags.distinct}")
    tags.filter(_.startsWith("kmeans.repair.")).foreach { t =>
      assert(t.matches("""kmeans\.repair\.\d+\.\d+"""), t)
    }
    // two fits: each samples its initial centroids (a count and a sample
    // job at least) and runs its last iteration's cost pass
    assert(tags.count(_ == "kmeans.init") >= 4, s"tags ${tags.distinct}")
    assert(tags.contains("kmeans.cost") && tags.contains("kmeans.input"))
  }

  test("Phase restores the previous phase and description when its block throws") {
    val sc = spark.sparkContext
    sc.setLocalProperty(Phase.Key, Outer)
    sc.setJobDescription("outer description")
    try {
      intercept[IllegalStateException] {
        Phase(sc, "dbscan.stats", "inner description") {
          assert(sc.getLocalProperty(Phase.Key) == "dbscan.stats")
          assert(sc.getLocalProperty("spark.job.description") ==
            "inner description")
          throw new IllegalStateException("boom")
        }
      }
      assert(sc.getLocalProperty(Phase.Key) == Outer)
      assert(sc.getLocalProperty("spark.job.description") ==
        "outer description")
    } finally {
      sc.setLocalProperty(Phase.Key, null)
      sc.setJobDescription(null)
    }
  }
}
