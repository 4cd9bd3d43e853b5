package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ScopedConf
import org.apache.spark.sql.functions.{broadcast, col}

/** A broadcast of rows the driver already holds (a `createDataFrame`
  * relation) starts no Spark job, with AQE on, with AQE off, and in a
  * `ScopedConf` clone; a broadcast of distributed rows keeps its job. A
  * global sort of such rows starts no job either and gives the
  * distributed sort's sequence.
  */
class LocalBroadcastSpec extends SparkSpec {
  import spark.implicits._

  private def join(s: org.apache.spark.sql.SparkSession, build: DataFrame): DataFrame =
    s.range(0, 50).toDF("k").join(broadcast(build), "k")

  private def localBuild(s: org.apache.spark.sql.SparkSession): DataFrame =
    s.createDataFrame(Seq((3L, "c"), (7L, "g"), (11L, "k"), (70L, "none")))
      .toDF("k", "v")

  /** The rows and job count of collecting a new `df`, which must plan a
    * broadcast hash join. (A frame collected twice reuses its broadcast.)
    */
  private def run(df: => DataFrame): (Set[Seq[Any]], Int) = {
    df.collect() // warm codegen
    val d = df
    val (rows, jobs) = jobsDuring(d.collect())
    d.queryExecution.executedPlan.toString should include("BroadcastHashJoin")
    (rows.map(_.toSeq).toSet, jobs)
  }

  private val want = Set(Seq(3L, "c"), Seq(7L, "g"), Seq(11L, "k"))

  "A broadcast of a local relation" should "start no job with AQE on" in {
    spark.conf.get("spark.sql.adaptive.enabled") shouldBe "true"
    run(join(spark, localBuild(spark))) shouldBe (want -> 1)
  }

  it should "start no job with AQE off" in {
    val off = spark.newSession()
    off.conf.set("spark.sql.adaptive.enabled", "false")
    run(join(off, localBuild(off))) shouldBe (want -> 1)
  }

  it should "start no job inside a ScopedConf scope" in {
    ScopedConf.withConf(spark, "spark.sql.adaptive.enabled" -> "false") { sc =>
      run(join(sc.session, sc.in(localBuild(spark)))) shouldBe (want -> 1)
    }
  }

  "A broadcast of distributed rows" should "keep its broadcast job" in {
    def build = spark.range(0, 12, 4).toDF("k").select($"k", $"k".cast("string").as("v"))
    run(join(spark, build)) shouldBe
      (Set(Seq(0L, "0"), Seq(4L, "4"), Seq(8L, "8")) -> 2)
  }

  "A global sort of a local relation" should
      "start no job and give the distributed sort's sequence" in {
    // string keys whose UTF-8 and UTF-16 orders disagree (U+FFFD vs
    // U+1F600), nulls in both key columns, and a unique id last so every
    // order is total
    val rows = Seq[(String, java.lang.Long, Long)](
      ("b", 3L, 1), (null, 2L, 2), ("\uFFFD", null, 3), ("a", 3L, 4),
      ("\uD83D\uDE00", -1L, 5), ("a", null, 6), (null, 7L, 7), ("", 0L, 8))
    val local = rows.toDF("s", "n", "id")
    val spread = spark.createDataFrame(local.rdd.repartition(3), local.schema)
    Seq(
      Seq(col("s").asc, col("id")), Seq(col("s").desc, col("id")),
      Seq(col("s").asc_nulls_last, col("id")), Seq(col("s").desc_nulls_first, col("id")),
      Seq(col("n").asc, col("id").desc), Seq(col("n").desc_nulls_last, col("s"), col("id")),
      Seq(col("n").asc_nulls_last, col("s").desc_nulls_first, col("id"))
    ).foreach { order =>
      val sorted = local.orderBy(order: _*)
      sorted.collect() // warm codegen
      val (got, jobs) = jobsDuring(sorted.collect())
      jobs shouldBe 0
      sorted.queryExecution.optimizedPlan.getClass.getSimpleName shouldBe "LocalRelation"
      got.toSeq shouldBe spread.orderBy(order: _*).collect().toSeq
    }
  }
}
