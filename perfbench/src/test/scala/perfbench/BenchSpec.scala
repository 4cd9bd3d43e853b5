package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

class BenchSpec extends AnyFlatSpec with Matchers with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
  private lazy val dir = Files.createTempDirectory("perfbench-spec").toString

  override def afterAll(): Unit = {
    spark.stop()
    Main.deleteTree(new java.io.File(dir))
  }

  private def query(seed: Long) = new Query(new Gen.Data(seed, 40), dir, seed, 4)
  private def opList(q: Query) =
    for (c <- 0 until 4; k <- 0L until 60L) yield { val (t, v) = q.pick(c, k); s"${t.name}|$v" }

  "the op list" should "be identical for one seed and differ across seeds" in {
    opList(query(7)) shouldBe opList(query(7))
    opList(query(7)) should not be opList(query(8))
    val a = new Gen.Data(7, 40)
    Maintain.script(a, 7, 12, 2) shouldBe Maintain.script(new Gen.Data(7, 40), 7, 12, 2)
    Maintain.script(a, 7, 12, 2).map(_.update) should not be
      Maintain.script(new Gen.Data(8, 40), 8, 12, 2).map(_.update)
  }

  "the tail" should "be the highest whole percentile with at least ten samples beyond it" in {
    Stats.tail((1 to 10).map(_.toDouble)) shouldBe None
    Stats.tail((1 to 100).map(_.toDouble)) shouldBe Some((90, 90.0))
    Stats.tail((1 to 20).map(_.toDouble)) shouldBe Some((50, 10.0))
    for (n <- 11 to 3000 by 7) {
      val xs = (1 to n).map(_.toDouble)
      val (p, v) = Stats.tail(xs).get
      xs.count(_ > v) should be >= 10
      // one whole percentile higher would leave fewer than ten beyond it
      if (p < 99) xs.count(_ > xs(math.ceil((p + 1) * n / 100.0).toInt - 1)) should be < 10
    }
  }

  "self time" should "subtract the part of each span its children cover" in {
    val spans = Seq(Span(1, 0, 9, "op.x", 0, 100), Span(2, 1, 9, "sparql.compile", 10, 50),
      Span(3, 2, 9, "dict.encode", 20, 30), Span(4, 1, 9, "sparql.exec", 60, 90))
    // one job inside sparql.compile, two overlapping ones inside sparql.exec
    val jobs = Seq((35L, 45L), (62L, 80L), (70L, 85L))
    SelfTime.ofOp(spans, jobs) shouldBe Map("uncovered" -> 30L, "sparql" -> 27L,
      "dict" -> 10L, "spark" -> 33L)
    SelfTime.covered(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 8, 35) shouldBe 17L
  }

  "job attribution" should "charge jobs on helper threads to the op that ran them" in {
    val sc = spark.sparkContext
    val ledger = new JobLedger
    sc.addSparkListener(ledger)
    val tr = new Tracer(true)
    def job(): Unit = sc.parallelize(1 to 10, 2).count()
    var pooled: java.util.concurrent.ExecutorService = null
    val (_, a0, a1) = tr.op(sc, 1, "op.a") {
      job()
      // a thread started by the op inherits its tag
      val t = new Thread(() => job()); t.start(); t.join()
      // a pool thread created now keeps op 1's tag for later ops
      pooled = java.util.concurrent.Executors.newSingleThreadExecutor()
      pooled.submit(new Runnable { def run(): Unit = job() }).get()
    }
    val (_, b0, b1) = tr.op(sc, 2, "op.b") {
      pooled.submit(new Runnable { def run(): Unit = job() }).get()
    }
    pooled.shutdown()
    ledger.drain(sc)
    val jobs = ledger.snapshot.filter(_.start >= a0 - Attribution.Slack)
    jobs.size shouldBe 4
    val charged = Attribution.charge(jobs, Seq(OpWindow(1, a0, a1), OpWindow(2, b0, b1)))
    charged.values.count(_.contains(1L)) shouldBe 3
    charged.values.count(_.contains(2L)) shouldBe 1
    charged.values.forall(_.isDefined) shouldBe true
    sc.removeSparkListener(ledger)
  }

  "verification" should "count a wrong answer as a failure" in {
    val data = new Gen.Data(3, 40)
    data.write(dir)
    val q = new Query(data, dir, 3, 1)
    val ctx = new q.Ctx(spark, null)
    val (t, c) = q.pick(0, 1)
    Oracle.register(spark, dir)
    val right = Oracle.digests(spark, t.oracle(Seq(c))).getOrElse(c, Digest.empty)
    val op = new Op(t.name, write = false, s"${t.name}|$c", _ => (), Calls.evidence)
    val done = Seq(Done(1, 0, op, 0, 1, Right(right)),
      Done(2, 0, op, 0, 1, Right(right + Digest(1, 42))))
    q.verify(ctx, done).keySet shouldBe Set(2L)
  }

  "BENCHMARK.json" should "declare exactly the metrics the benchmark prints" in {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("../BENCHMARK.json"))
    def names(section: String) = {
      val it = root.get(section).elements()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().get("name").asText()).toSeq
    }
    names("end_to_end") shouldBe Metrics.EndToEnd
    names("per_layer") shouldBe Metrics.PerLayer
  }

  "the graph oracles" should "agree with hand-worked answers" in {
    // 1 -> 2 -> 3 -> 1 is one SCC; 4 hangs off it
    Graphs.scc(Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 4L)).toMap shouldBe
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L)
    Graphs.components(Seq(5L -> 6L, 7L -> 8L, 6L -> 5L)).toMap shouldBe
      Map(5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 7L)
    Graphs.bfs(Seq(1L -> 2L, 2L -> 3L, 3L -> 4L), Seq(1L), 2).toMap shouldBe
      Map(1L -> 0L, 2L -> 1L, 3L -> 2L)
    val pr = Graphs.pageRank(Seq(1L -> 2L, 2L -> 1L), 3)
    pr(1L) shouldBe 0.5 +- 1e-9
  }
}
