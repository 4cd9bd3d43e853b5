package graft

import graft.ops.{GraphOps, ReasonOps}
import graft.sparql.Sparql
import graft.store.GraftStore
import org.apache.spark.sql.DataFrame

/** Ops that need their own SQL settings — the maintenance pins (AQE
  * off for the materializing count) — run them in a clone of the
  * caller's session. Two properties follow: concurrent work on the
  * caller's session never sees those settings, and the scoped work
  * still sees every runtime conf the caller set. Job properties carry
  * the SQL confs an execution was planned under, so both are asserted
  * per job. SCC rides along as a concurrent writer on its distributed
  * plan (the graph cap seam at -1), whose backward fixpoint runs on a
  * second driver thread.
  */
class SessionScopeSpec extends SparkSpec {
  import spark.implicits._

  private val Aqe = "spark.sql.adaptive.enabled"
  private val Parts = "spark.sql.shuffle.partitions"
  private val Reliable = "spark.graft.pins.reliable"
  private val Role = "graft.spec.role"

  private def digest(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private lazy val base = Seq(
    ("Student", "rdfs:subClassOf", "Person"),
    ("Teacher", "rdfs:subClassOf", "Person"),
    ("teaches", "rdfs:domain", "Teacher"),
    ("advises", "rdfs:range", "Student"),
    ("ann", "a", "Student"), ("bob", "teaches", "c1"),
    ("cat", "advises", "dan"), ("bob", "a", "Student")
  ).toDF("s", "p", "o")
  private lazy val closure = ReasonOps.rdfsClosure(base).localCheckpoint(true)
  private lazy val inserts =
    Seq(("eve", "teaches", "c2"), ("fay", "advises", "gus")).toDF("s", "p", "o")
  private lazy val deletes = Seq(("bob", "a", "Student")).toDF("s", "p", "o")

  // 3 directed 4-rings bridged one-way: two peeling passes
  private lazy val edges = ((0 until 3).flatMap { g =>
    val b = g * 4 + 1L
    (0 until 4).map(i => (b + i, if (i == 3) b else b + i + 1))
  } ++ Seq((1L, 5L), (5L, 9L))).toDF("a", "b")

  private lazy val quads = Seq[(String, String, String, String)](
    ("a", "p", "1", "g1"), ("b", "p", "2", "g1"), ("c", "q", "3", null)
  ).toDF("s", "p", "o", "g")
  private val script =
    """PREFIX : <>
      |INSERT DATA { GRAPH <g2> { <d> :p "4" } } ;
      |DELETE { GRAPH <g1> { ?x :p ?y } } INSERT { GRAPH <g1> { ?x :r ?y } }
      |WHERE { GRAPH <g1> { ?x :p ?y } }""".stripMargin

  private lazy val store = GraftStore.ingestTriples(spark, Seq(
    ("a", "knows", "b"), ("b", "knows", "c"), ("c", "knows", "a"),
    ("a", "name", "\"Ann\"")).toDF("s", "p", "o"))

  private def maintain(): Seq[String] = {
    val novel = ReasonOps.incrementNovel(closure,
      ReasonOps.rdfsDelta(base, inserts))
    digest(novel) ++ digest(ReasonOps.rdfsRetract(closure, base, deletes))
  }
  private def sccDistributed(): DataFrame =
    GraphOps.graphDriverCap.withValue(-1)(
      GraphOps.stronglyConnectedComponents(spark, edges))
  private def scc(): Seq[String] = digest(sccDistributed())
  private def update(): Seq[String] =
    digest(Sparql.updateQuads(spark, quads, script))
  // a variable predicate keeps the read off the driver matcher, so it
  // starts jobs whose properties the spec can check
  private def read(): Seq[String] = digest(Sparql.execute(spark,
    store, "PREFIX : <>\nSELECT ?x ?p ?y WHERE { ?x ?p ?y }"))

  /** The properties of every job started while `body` runs. */
  private def jobProps[T](body: => T): (T, Seq[java.util.Properties]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(Option(j.properties).getOrElse(new java.util.Properties))
    }
    spark.sparkContext.addSparkListener(l)
    val out =
      try body
      finally {
        Thread.sleep(300)
        spark.sparkContext.removeSparkListener(l)
      }
    import scala.jdk.CollectionConverters._
    (out, seen.asScala.toSeq)
  }

  "Scoped-settings ops on N threads of one session" should
      "keep the serial results and leave the other threads' settings alone" in {
    val serial = Seq(maintain(), scc(), update())
    val serialRead = read()
    val confBefore = spark.conf.getAll
    val sessionAqe = spark.conf.get(Aqe)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val writersDone = new java.util.concurrent.CountDownLatch(3)
    def submit[T](f: => T) = pool.submit(new java.util.concurrent.Callable[T] {
      def call() = f
    })
    val (results, props) = jobProps {
      try {
        val writers = Seq(() => maintain(), () => scc(), () => update())
          .map(w => submit { try w() finally writersDone.countDown() })
        val reads = submit {
          spark.sparkContext.setLocalProperty(Role, "read")
          try {
            val out = Seq.newBuilder[Seq[String]]
            do out += read() while (writersDone.getCount > 0)
            out.result()
          } finally spark.sparkContext.setLocalProperty(Role, null)
        }
        (writers.map(_.get()), reads.get())
      } finally pool.shutdown()
    }
    results._1 shouldBe serial
    results._2.foreach(_ shouldBe serialRead)
    val readJobs = props.filter(p => p.getProperty(Role) == "read")
    readJobs should not be empty
    readJobs.map(p => Option(p.getProperty(Aqe))).distinct shouldBe
      Seq(Some(sessionAqe))
    spark.conf.getAll shouldBe confBefore
  }

  "Scoped-settings ops" should
      "run under the caller's runtime confs and return caller-bound frames" in {
    val expected = Seq(scc(), maintain())
    val saved = Seq(Parts, Reliable).map(k => k -> spark.conf.getOption(k))
    spark.conf.set(Parts, "3")
    spark.conf.set(Reliable, "false")
    val (frames, props) =
      try jobProps {
        val sccOut = sccDistributed()
        // the pinned plans: their pins are the scoped (AQE-off) jobs
        val (inc, novel, kept) = ReasonOps.rdfsDriverCap.withValue(-1) {
          val inc = ReasonOps.rdfsDelta(base, inserts)
          (inc, ReasonOps.incrementNovel(closure, inc),
            ReasonOps.rdfsRetract(closure, base, deletes))
        }
        Seq(digest(sccOut), digest(novel) ++ digest(kept)) shouldBe expected
        Seq(sccOut, inc, novel, kept)
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    frames.foreach(_.sparkSession should be theSameInstanceAs spark)
    val sqlJobs = props.filter(_.getProperty("spark.sql.execution.id") != null)
    // the scoped jobs ran (AQE off) ...
    sqlJobs.count(_.getProperty(Aqe) == "false") should be > 0
    // ... and every job, scoped or not, saw the caller's runtime confs
    sqlJobs.map(p => (p.getProperty(Parts), p.getProperty(Reliable)))
      .distinct shouldBe Seq(("3", "false"))
  }

  "Tables.events" should "read its nanosecond timestamps without changing the caller's session" in {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(key)
    val ev = Tables.events(spark, sfDir)
    ev.schema("ts").dataType shouldBe org.apache.spark.sql.types.TimestampType
    ev.where(org.apache.spark.sql.functions.col("ts").isNotNull)
      .count() should be > 0L
    spark.conf.getOption(key) shouldBe before
  }
}
