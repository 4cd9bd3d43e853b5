package perfbench

import java.io.{File, PrintWriter}

/** Per-layer metrics of a traced run, and the trace files it leaves. */
object Layers {
  /** Span names whose median duration is reported as `<name>_ms`. */
  val Timed: Seq[String] = Seq("store.compact", "dict.encode", "dict.decode",
    "bgp.compile", "bgp.exec", "sparql.parse", "sparql.compile", "sparql.plan",
    "sparql.exec", "sparql.ask", "sparql.update", "reason.delta", "reason.retract",
    "graph.pagerank", "graph.cc", "graph.scc", "graph.bfs")

  val SelfLayers: Seq[String] = Seq("store", "dict", "bgp", "sparql", "reason",
    "graph", "spark", "uncovered")

  /** Every per-layer metric a traced run prints, with its unit. */
  val All: Seq[(String, String)] =
    Seq("store.ingest_s" -> "s", "store.artifact_s.closure" -> "s") ++
      Timed.map(n => s"${n}_ms" -> "ms") ++
      Seq("bgp.rows_per_result" -> "ratio", "sparql.compile_jobs" -> "jobs",
        "reason.novel_ratio" -> "ratio", "graph.jobs_per_call" -> "jobs",
        "spark.jobs" -> "jobs", "spark.stages" -> "count", "spark.tasks" -> "count",
        "spark.in_job_ms" -> "ms", "spark.driver_ms" -> "ms",
        "spark.task_busy_ms" -> "ms", "spark.sched_delay_ms" -> "ms",
        "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
        "spark.spill_bytes" -> "bytes", "spark.failed_tasks" -> "count",
        "jvm.gc_ms" -> "ms") ++
      SelfLayers.map(l => s"self.${l}_ms" -> "ms") ++
      Seq("trace.read_p50_ms" -> "ms")

  /** Printed on `#` lines but kept out of the JSON line: `query` never
    * runs these layers (they write, or change session settings), so they
    * would read a constant zero on every `query` run; spill and failed
    * tasks are zero at this scale.
    */
  val PrintedOnly: Set[String] = Set("store.artifact_s.closure", "store.compact_ms",
    "sparql.update_ms", "reason.delta_ms", "reason.retract_ms", "reason.novel_ratio",
    "graph.pagerank_ms", "graph.cc_ms", "graph.scc_ms", "graph.bfs_ms",
    "graph.jobs_per_call", "self.store_ms", "self.reason_ms", "self.graph_ms",
    "spark.spill_bytes", "spark.failed_tasks")

  /** The per-layer metrics of the JSON line, in BENCHMARK.json's order. */
  val Declared: Seq[(String, String)] = All.filterNot(m => PrintedOnly(m._1))

  /** The deepest span of the job's op running when the job started. */
  private def parentOf(spans: Seq[Span], t: Long): Option[Span] = {
    def depth(s: Span): Int =
      if (s.parent == 0) 0 else spans.find(_.id == s.parent).map(depth).getOrElse(0) + 1
    spans.filter(s => s.start <= t && t <= s.end).maxByOption(depth)
  }

  final case class OpTrace(done: Done, spans: Seq[Span], jobs: Seq[JobRec],
                           self: Map[String, Long], inJob: Long)

  def perOp(tr: Tracer, ops: Seq[Done], jobs: Seq[JobRec],
            charged: Map[Int, Option[Long]]): Seq[OpTrace] = {
    val spansBy = tr.allSpans.groupBy(_.op)
    val jobsBy = jobs.groupBy(j => charged(j.id))
    ops.map { d =>
      val sp = spansBy.getOrElse(d.id, Seq.empty)
      val js = jobsBy.getOrElse(Some(d.id), Seq.empty)
      val ivs = js.map(j => (j.start, j.end))
      OpTrace(d, sp, js, SelfTime.ofOp(sp, ivs), SelfTime.covered(ivs, d.start, d.end))
    }
  }

  def metrics(tr: Tracer, ops: Seq[Done], jobs: Seq[JobRec],
              charged: Map[Int, Option[Long]], setupParts: Map[String, Double],
              gcMs: Long, readMs: Seq[Double]): Map[String, (Double, String)] = {
    val traced = perOp(tr, ops, jobs, charged)
    val n = ops.size.toDouble
    val spans = traced.flatMap(_.spans)
    val unit = All.toMap
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    out("store.ingest_s") = setupParts.getOrElse("store.ingest", 0.0)
    out("store.artifact_s.closure") = setupParts.getOrElse("store.artifact.closure", 0.0)
    Timed.foreach { name =>
      val ds = spans.filter(_.name == name).map(_.dur / 1e6)
      out(s"${name}_ms") = if (ds.isEmpty) 0.0 else Stats.median(ds)
    }
    // jobs per call of a span kind: each job counts under the deepest
    // span of its op that was running when it started
    def jobsPerCall(kind: Span => Boolean): Double = {
      val calls = spans.count(kind)
      val js = traced.map(t => t.jobs.count(j => parentOf(t.spans, j.start).exists(kind))).sum
      if (calls == 0) 0.0 else js.toDouble / calls
    }
    def ratio(a: String, b: String) =
      if (tr.counter(b) == 0) 0.0 else tr.counter(a) / tr.counter(b)
    out("bgp.rows_per_result") = ratio("bgp.join_rows", "bgp.result_rows")
    out("sparql.compile_jobs") = jobsPerCall(_.name == "sparql.compile")
    out("reason.novel_ratio") = ratio("reason.novel_rows", "reason.increment_rows")
    out("graph.jobs_per_call") = jobsPerCall(_.layer == "graph")
    def perOpSum(f: JobRec => Double) = jobs.map(f).sum / n
    out("spark.jobs") = jobs.size / n
    out("spark.stages") = perOpSum(_.stages)
    out("spark.tasks") = perOpSum(_.tasks)
    out("spark.in_job_ms") = traced.map(_.inJob).sum / 1e6 / n
    out("spark.driver_ms") = traced.map(t => t.done.end - t.done.start - t.inJob).sum / 1e6 / n
    out("spark.task_busy_ms") = perOpSum(_.taskBusyMs)
    out("spark.sched_delay_ms") = perOpSum(_.schedDelayMs)
    out("spark.shuffle_write_bytes") = perOpSum(_.shuffleWrite)
    out("spark.shuffle_read_bytes") = perOpSum(_.shuffleRead)
    out("spark.spill_bytes") = perOpSum(_.spill)
    out("spark.failed_tasks") = perOpSum(_.failedTasks)
    out("jvm.gc_ms") = gcMs / n
    SelfLayers.foreach { l =>
      out(s"self.${l}_ms") = traced.map(_.self.getOrElse(l, 0L)).sum / 1e6 / n }
    out("trace.read_p50_ms") = Stats.median(readMs)
    out.map { case (k, v) => k -> (v, unit(k)) }.toMap
  }

  /** Writes `spans.jsonl` (op roots, layer spans and jobs as leaf spans),
    * `ops.jsonl` (per op: wall time, jobs, layer self times and the
    * uncovered part) and `host.json` into `dir`.
    */
  def write(dir: File, tr: Tracer, ops: Seq[Done], jobs: Seq[JobRec],
            charged: Map[Int, Option[Long]], facts: Map[String, String]): Unit = {
    dir.mkdirs()
    def file(name: String)(f: PrintWriter => Unit): Unit = {
      val pw = new PrintWriter(new File(dir, name))
      try f(pw) finally pw.close()
    }
    val traced = perOp(tr, ops, jobs, charged)
    def n(x: Long) = x.toString
    file("spans.jsonl") { pw =>
      traced.foreach { t =>
        t.spans.sortBy(_.start).foreach { s =>
          pw.println(Json.obj(Seq("id" -> n(s.id), "parent" -> n(s.parent),
            "op" -> n(s.op), "name" -> Json.str(s.name), "start_ns" -> n(s.start),
            "end_ns" -> n(s.end))))
        }
        t.jobs.foreach { j =>
          pw.println(Json.obj(Seq("job" -> j.id.toString,
            "parent" -> n(parentOf(t.spans, j.start).map(_.id).getOrElse(0L)),
            "op" -> n(t.done.id), "name" -> Json.str("spark.job"),
            "start_ns" -> n(j.start), "end_ns" -> n(j.end),
            "stages" -> j.stages.toString, "tasks" -> j.tasks.toString)))
        }
      }
    }
    file("ops.jsonl") { pw =>
      traced.foreach { t =>
        pw.println(Json.obj(Seq("op" -> n(t.done.id), "client" -> t.done.client.toString,
          "template" -> Json.str(t.done.op.template), "write" -> t.done.op.write.toString,
          "wall_ms" -> Json.num(t.done.ms), "jobs" -> t.jobs.size.toString,
          "self_ms" -> Json.obj(SelfLayers.map(l =>
            l -> Json.num(t.self.getOrElse(l, 0L) / 1e6)))) ))
      }
    }
    file("host.json")(_.println(Json.obj(facts.toSeq.sortBy(_._1).map {
      case (k, v) => k -> Json.str(v) })))
  }
}
