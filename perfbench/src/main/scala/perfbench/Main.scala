package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** The benchmark driver:
  * `Main --workload W --seed N --seconds S --trace 0|1 --work DIR`.
  *
  * It generates the tables from the seed, builds the workload's state
  * cold `SetupRepeats` times in fresh sessions (median = `setup_s`),
  * warms up, then runs closed-loop clients for `S` seconds (ending on a
  * round boundary, with at least the workload's minimum reads). It then
  * checks every answer and prints report lines followed by one JSON
  * line. With `--trace 1` it also keeps spans and writes them, with
  * per-op self times, under `DIR/traces/`.
  */
object Main {
  val SetupRepeats = 3
  val Customers = 200

  final case class Opts(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Opts(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", m.getOrElse("--work", "perfbench/.work"))
  }

  def main(args: Array[String]): Unit = {
    val code =
      try run(parse(args))
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] failed: $e")
          e.printStackTrace()
          2
      }
    System.out.flush()
    System.exit(code)
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.cleaner.periodicGC.interval", "60min")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val started = System.nanoTime()
  def stage(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%7.2f s  $what")

  def run(o: Opts): Int = {
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val runDir = new File(o.work, s"run-${o.workload}-s${o.seed}-t${if (o.trace) 1 else 0}")
    val dataDir = new File(runDir, "data").getAbsolutePath
    val spark = session(cores, runDir.getAbsolutePath)
    val sc = spark.sparkContext
    val ledger = new JobLedger
    sc.addSparkListener(ledger)
    stage("session up")
    val data = new Gen.Data(o.seed, Customers)
    data.write(dataDir)
    stage("tables written")
    val wl: Workload = o.workload match {
      case "query"    => new Query(data, dataDir, o.seed, cores)
      case "maintain" => new Maintain(data, dataDir, o.seed)
      case w          => throw new IllegalArgumentException(s"unknown workload $w")
    }

    val (st, setupRuns, setupParts) = setUp(spark, wl)
    stage("set up")
    wl.prepare(st)
    warmUp(sc, wl)(st)
    stage("warmed up")
    val tr = new Tracer(o.trace)
    val ph = timedPhase(sc, wl, tr, o.seconds)(st)
    ledger.drain(sc)
    val pinnedMb = pinnedBytes(spark) / 1e6
    stage("phase done")

    // ---- checks, outside the timed phase
    val ops = ph.ops
    val errors = ops.collect { case d if d.out.isLeft => d.id -> s"threw ${d.out.swap.toOption.get}" }
    val failed = errors.toMap ++ wl.verify(st, ops.filter(_.out.isRight))
    val finalWrong = wl.finalCheck(st)
    failed.toSeq.sortBy(_._1).take(10).foreach { case (id, why) =>
      System.err.println(s"[perfbench] op $id failed: $why") }
    finalWrong.foreach(w => System.err.println(s"[perfbench] final check failed: $w"))
    // every job of the phase must belong to one op
    val phaseJobs = ledger.snapshot.filter(j =>
      j.start >= ph.start - Attribution.Slack && j.start <= ph.end)
    val charged = Attribution.charge(phaseJobs, ops.map(d => OpWindow(d.id, d.start, d.end)))
    val unattributed = charged.count(_._2.isEmpty)
    if (unattributed > 0)
      System.err.println(s"[perfbench] $unattributed of ${phaseJobs.size} jobs not attributable to an op")
    stage("checked")

    // ---- metrics
    val n = ops.size
    val phaseS = (ph.end - ph.start) / 1e9
    val readMs = ops.filterNot(_.op.write).map(_.ms)
    val writeMs = ops.filter(_.op.write).map(_.ms)
    val nFailed = failed.size + finalWrong.size
    val readTail = Stats.tail(readMs).getOrElse(
      throw new IllegalStateException(s"only ${readMs.size} reads: too few for a tail"))
    val writeTail = Stats.tail(writeMs)
    val report = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (Stats.median(setupRuns), "s"),
      "read_p50_ms" -> (Stats.median(readMs), "ms"),
      "read_tail_ms" -> (readTail._2, "ms"))
    if (writeMs.nonEmpty) report("write_p50_ms") = (Stats.median(writeMs), "ms")
    writeTail.foreach(t => report("write_tail_ms") = (t._2, "ms"))
    report("ops_per_s") = ((n - failed.size) / phaseS, "ops/s")
    report("jobs_per_op") = (phaseJobs.size.toDouble / n, "jobs")
    report("failed_op_frac") = (nFailed.toDouble / n, "ratio")
    report("pinned_mb") = (pinnedMb, "MB")

    val facts = hostFacts(spark, o, dataDir) ++ Map(
      "ops" -> n.toString, "reads" -> readMs.size.toString,
      "writes" -> writeMs.size.toString, "phase_s" -> f"$phaseS%.3f",
      "read_tail_pct" -> readTail._1.toString,
      "write_tail_pct" -> writeTail.map(_._1.toString).getOrElse("-"),
      "clients" -> wl.clients.toString, "setup_runs" -> setupRuns.map(x => f"$x%.3f").mkString(","),
      "jobs" -> phaseJobs.size.toString, "unattributed_jobs" -> unattributed.toString)
    val factsJson = Json.obj(facts.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) })
    println("# host " + factsJson)
    report.foreach { case (k, (v, u)) =>
      val extra = k match {
        case "read_tail_ms"  => s"  (p${readTail._1} of ${readMs.size} reads)"
        case "write_tail_ms" => s"  (p${writeTail.get._1} of ${writeMs.size} writes)"
        case _               => ""
      }
      println(f"# $k%-16s $v%14.4f $u$extra")
    }

    val metrics: Seq[(String, (Double, String))] =
      if (!o.trace) Metrics.EndToEnd.map(k => k -> report(k))
      else {
        val layer = Layers.metrics(tr, ops, phaseJobs, charged, setupParts, ph.gcMs, readMs)
        Layers.write(new File(o.work, s"traces/${o.workload}-s${o.seed}"), tr, ops,
          phaseJobs, charged, facts)
        Layers.All.foreach { case (k, u) => println(f"# $k%-32s ${layer(k)._1}%14.4f $u") }
        Metrics.PerLayer.map(k => k -> layer(k))
      }
    val correct = nFailed == 0 && unattributed == 0
    val line = Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> n.toString,
      "failed" -> nFailed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })))
    val resFile = new File(o.work, s"results/${o.workload}-s${o.seed}-t${if (o.trace) 1 else 0}.json")
    resFile.getParentFile.mkdirs()
    val pw = new PrintWriter(resFile)
    try pw.println(Json.obj(Seq("host" -> factsJson, "result" -> line)))
    finally pw.close()
    spark.stop()
    deleteTree(runDir)
    println(line)
    if (correct) 0 else 1
  }

  /** `SetupRepeats` cold builds, each in a fresh session; all but the last
    * are freed. Returns the last state, each build's seconds, and the
    * median seconds of each built part.
    */
  def setUp(spark: SparkSession, wl: Workload): (wl.State, Seq[Double], Map[String, Double]) = {
    val sc = spark.sparkContext
    val builds = (1 to SetupRepeats).map { r =>
      System.gc()
      val before = sc.getPersistentRDDs.keySet
      val t0 = System.nanoTime()
      val (st, parts) = wl.setup(spark.newSession())
      val secs = (System.nanoTime() - t0) / 1e9
      if (r < SetupRepeats) {
        sc.getPersistentRDDs.foreach { case (id, rdd) =>
          if (!before.contains(id)) rdd.unpersist(blocking = true) }
        graft.store.GraftStore.invalidate()
      }
      (st, secs, parts)
    }
    (builds.last._1, builds.map(_._2), builds.flatMap(_._3).groupBy(_._1).map {
      case (k, v) => k -> Stats.median(v.map(_._2)) })
  }

  /** Every client runs its untimed warm-up ops (JIT, codegen, caches),
    * concurrently, like the phase.
    */
  def warmUp(sc: SparkContext, wl: Workload)(st: wl.State): Unit = {
    val tr = new Tracer(false)
    (0 until wl.clients).map { c =>
      val t = new Thread(() => wl.warmup.foreach { k =>
        val op = wl.op(st, c, k)
        tr.op(sc, -1 - k, op.template)(op.run(tr))
      }, s"perfbench-warmup-$c")
      t.start(); t
    }.foreach(_.join())
  }

  final case class Phase(ops: Seq[Done], start: Long, end: Long, gcMs: Long)

  /** Closed-loop clients from `k = roundSize` on. Each stops on a round
    * boundary once `seconds` have passed and the phase holds enough reads.
    */
  def timedPhase(sc: SparkContext, wl: Workload, tr: Tracer, seconds: Int)
                (st: wl.State): Phase = {
    val done = new java.util.concurrent.ConcurrentLinkedQueue[Done]()
    val ids = new java.util.concurrent.atomic.AtomicLong(0)
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    val gc0 = gcMillis
    val start = Clock.now
    def enough = Clock.now >= start + seconds * 1000000000L && reads.get >= wl.minReads
    (0 until wl.clients).map { c =>
      val t = new Thread(() => {
        var k = wl.roundSize.toLong
        while (!(k % wl.roundSize == 0 && enough)) {
          val op = wl.op(st, c, k)
          val id = ids.incrementAndGet()
          val (res, t0, t1) = tr.op(sc, id, "op." + op.template) {
            try Right(op.run(tr)) catch { case e: Exception => Left(e) }
          }
          val out = res.flatMap(r =>
            try Right(op.evidence(r)) catch { case e: Exception => Left(e) })
          done.add(Done(id, c, op, t0, t1, out))
          if (!op.write) reads.incrementAndGet()
          k += 1
        }
      }, s"perfbench-client-$c")
      t.start(); t
    }.foreach(_.join())
    Phase(done.asScala.toSeq.sortBy(_.id), start, Clock.now, gcMillis - gc0)
  }

  def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Block-manager memory in use once a GC has let the context cleaner
    * free every unreachable block: polled until it stops changing.
    */
  def pinnedBytes(spark: SparkSession): Long = {
    def used = spark.sparkContext.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
    System.gc()
    var last = -1L
    var stable = 0
    var tries = 0
    while (stable < 3 && tries < 100) {
      Thread.sleep(50)
      val u = used
      if (u == last) stable += 1 else { stable = 0; last = u }
      tries += 1
    }
    last
  }

  def hostFacts(spark: SparkSession, o: Opts, dataDir: String): Map[String, String] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors().toString,
    "master" -> spark.sparkContext.master,
    "heap_mb" -> (Runtime.getRuntime.maxMemory() / (1L << 20)).toString,
    "spark" -> spark.version,
    "jdk" -> System.getProperty("java.version"),
    "sf_dir" -> dataDir,
    "scale" -> s"$Customers customers (generated)",
    "seed" -> o.seed.toString,
    "workload" -> o.workload,
    "trace" -> (if (o.trace) "1" else "0"),
    "commit" -> sys.env.getOrElse("PERFBENCH_COMMIT", "unknown"),
    "source_sha256" -> sys.env.getOrElse("PERFBENCH_SOURCE_SHA", "unknown"))

  def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** The metric names BENCHMARK.json declares, in its order. */
object Metrics {
  val EndToEnd: Seq[String] = Seq("setup_s", "read_p50_ms", "read_tail_ms",
    "ops_per_s", "jobs_per_op", "pinned_mb")
  val PerLayer: Seq[String] = Layers.Declared.map(_._1)
}

/** Just enough JSON writing for flat result objects. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) throw new IllegalArgumentException(s"not a number: $d")
    else BigDecimal(d).bigDecimal.toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
