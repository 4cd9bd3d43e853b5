package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ScopedConf
import org.apache.spark.sql.functions.broadcast

/** A broadcast of rows the driver already holds (a `createDataFrame`
  * relation) starts no Spark job, with AQE on, with AQE off, and in a
  * `ScopedConf` clone; a broadcast of distributed rows keeps its job.
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
}
