package anonbench

import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .appName("anonbench-spec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  private lazy val tmp: Path = Files.createTempDirectory("anonbench-spec")

  override def afterAll(): Unit = {
    spark.stop()
    Main.deleteTree(tmp)
  }

  private def rows(df: DataFrame) =
    df.orderBy("id").collect().map(_.toSeq).toSeq

  test("generated rows do not depend on the partition count") {
    val one = rows(Gen.points(spark, 7L, 500, 1))
    assert(one.length == 500)
    for (parts <- Seq(3, 8)) assert(rows(Gen.points(spark, 7L, 500, parts)) == one)
    assert(rows(Gen.points(spark, 8L, 500, 1)) != one, "seed must matter")
    // every value inside its column's range
    for (((_, lo, hi), j) <- Gen.Columns.zipWithIndex; r <- one) {
      val v = r(j + 1).asInstanceOf[Int]
      assert(v >= lo && v <= hi)
    }
  }

  /** A DBSCAN-shaped published table: two groups of k rows; returns its
    * path and its true information loss. */
  private def dbscanOutput(name: String, k: Int,
                           tamper: DataFrame => DataFrame = identity)
  : (String, Double) = {
    import spark.implicits._
    val pts = (0 until 2 * k).map { i =>
      val g = i / k
      (Seq.tabulate(6)(j => (10 * g + j + i % 3).toDouble), 1 + i % 5, g)
    }
    val cents = pts.groupBy(_._3).map { case (g, ms) =>
      g -> Seq.tabulate(6)(j => ms.map(_._1(j)).sum / ms.length)
    }
    val loss = pts.map { case (p, _, g) =>
      p.zip(cents(g)).map { case (a, b) => math.abs(a - b) }.sum
    }.sum
    def struct6(c: String) = struct(
      (0 until 6).map(j => element_at(col(c), j + 1).as(s"_${j + 1}")) :+
        col("label").as("_7"): _*)
    val df = pts.map { case (p, l, g) => (p, cents(g), l) }
      .toDF("pt", "an", "label")
      .select(struct6("pt").as("pt"), struct6("an").as("an_pt"))
    val path = tmp.resolve(name).toString
    tamper(df).coalesce(1).write.mode(SaveMode.Overwrite).json(path)
    (path, loss)
  }

  test("the checker passes an intact table and rejects tampered ones") {
    val (good, loss) = dbscanOutput("good", k = 4)
    val v = Check.dbscanJson(spark, good, 8, 4, loss)
    assert(v.ok, v.failures)
    assert(v.rows == 8 && v.groups == 2 && math.abs(v.infoLoss - loss) < 1e-9)
    // the same table checked against a wrong reported error
    assert(!Check.dbscanJson(spark, good, 8, 4, loss * 1.01).ok)
    // a row dropped: too few rows and a group below k
    val (dropped, _) = dbscanOutput("dropped", 4, _.limit(7))
    val d = Check.dbscanJson(spark, dropped, 8, 4, loss)
    assert(d.failures.exists(_.contains("published 7 rows")))
    assert(d.failures.exists(_.contains("fewer than 4 rows")))
    // one published value moved: loss differs, digest differs, and the
    // moved row forms a group of one
    val (moved, _) = dbscanOutput("moved", 4, df =>
      df.withColumn("an_pt", when(col("pt._1") === 0.0,
        col("an_pt").withField("_1", lit(99.0))).otherwise(col("an_pt"))))
    val m = Check.dbscanJson(spark, moved, 8, 4, loss)
    assert(!m.ok && m.digest != v.digest)
    assert(m.failures.exists(_.contains("information loss")))
  }

  test("the k-means check ties the published table to the assignment") {
    import spark.implicits._
    val input = Gen.points(spark, 3L, 40, 2).cache()
    // one published group: every row gets the column means
    val means = input.agg(avg("x0"), avg("x1"), avg("x2"), avg("x3"),
      avg("x4"), avg("x5")).head().toSeq.map(_.asInstanceOf[Double])
    val loss = input.collect().map(r =>
      (0 until 6).map(j => math.abs(r.getInt(j + 1) - means(j))).sum).sum
    val link = tmp.resolve("link").toString
    input.select(col("id"), array(means.map(lit(_)): _*).as("an_qi"))
      .write.mode(SaveMode.Overwrite).parquet(link)
    val pub = tmp.resolve("pub").toString
    val published = Seq.fill(40)(means).map(m => (m(0), m(1), m(2), m(3), m(4), m(5)))
      .toDF(Gen.Headers: _*)
    published.write.mode(SaveMode.Overwrite).parquet(pub)
    val v = Check.kmeans(spark, pub, link, input, 40, 10, loss)
    assert(v.ok, v.failures)

    // a published row that the assignment does not hold
    published.limit(39).union(Seq((0.0, 0.0, 0.0, 0.0, 0.0, 0.0))
      .toDF(Gen.Headers: _*)).write.mode(SaveMode.Overwrite).parquet(pub)
    val t = Check.kmeans(spark, pub, link, input, 40, 10, loss)
    assert(t.failures.exists(_.contains("differs from the assignment")))
  }

  test("the result line names every metric of BENCHMARK.json with its unit") {
    val spec = new ObjectMapper().readTree(Paths.get("..", "BENCHMARK.json").toFile)
    def declared(key: String) = {
      val it = spec.get(key).elements()
      val b = Seq.newBuilder[(String, String)]
      while (it.hasNext) {
        val m = it.next(); b += m.get("name").asText -> m.get("unit").asText
      }
      b.result()
    }
    assert(declared("end_to_end") == Main.EndToEnd)
    val wls = spec.get("workloads").elements()
    while (wls.hasNext) {
      val w = wls.next()
      assert(Workloads.byName(w.get("name").asText).why == w.get("why").asText)
    }
    assert(declared("per_layer") == Main.PerLayer)

    for (metrics <- Seq(Main.EndToEnd, Main.PerLayer)) {
      val line = Main.resultJson(correct = true, 3, 0,
        metrics.zipWithIndex.map { case ((n, u), i) => (n, u, i + 0.5) })
      val parsed = new ObjectMapper().readTree(line)
      assert(parsed.get("correct").asBoolean && parsed.get("attempted").asInt == 3)
      val ms = parsed.get("metrics")
      assert(ms.size == metrics.length)
      for (((n, u), i) <- metrics.zipWithIndex) {
        assert(ms.get(n).get("unit").asText == u)
        assert(ms.get(n).get("value").asDouble == i + 0.5)
      }
    }
  }
}
