package graft.tools

import org.apache.spark.sql.SparkSession

/** Scale-evidence spot-run: execute the iterative / heaviest gates at
  * two scale factors and record, per gate, the wall time AND the
  * fixpoint ROUND count (connected-components rounds, transitive-closure
  * squaring rounds). Connected components and transitive closures take
  * their distributed fixpoints at every size here: their rounds are
  * under test. The design
  * claim under test is that round counts track graph DIAMETER, not row
  * count — so at 10× the data the rounds must stay ~flat and only
  * per-round work grows; a round count that climbs with SF (or a plan
  * that flips to a nested-loop join) is the scale bug this probe exists
  * to catch before a 100× cluster run does.
  *
  *   sbt "runMain graft.tools.ScaleProbe"         # sf0.01 then sf0.1
  *
  * Prints one JSON line per (sf, gate): {"sf":..,"gate":..,"sec":..,
  * "ccRounds":..,"fixpointRounds":..} (min of REPEAT runs, rounds from
  * the final run).
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "2").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.cleaner.periodicGC.interval", "60min")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)
    spark.range(1000).selectExpr("sum(id)").collect()
    // local-iteration filters (same contract as Bench):
    // SPARK_GRAFT_ONLY=q_a,q_b scopes the gate list; SPARK_GRAFT_SFS
    // scopes the scale factors (e.g. "sf0.01"); SPARK_GRAFT_PROBES=0
    // skips the candidate-volume probes
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val sfs = sys.env.getOrElse("SPARK_GRAFT_SFS", "sf0.01,sf0.1")
      .split(",").toSeq
    val runProbes = sys.env.getOrElse("SPARK_GRAFT_PROBES", "1") != "0"
    val gates = Seq(
      // pointer-jumped CC + the wedge join: the slowest judge gates
      "q_components", "q_triangles", "q_pagerank", "q_label_prop",
      // reasoning: materialization, O(Δ) maintenance, DRed, per-graph
      "q_rdfs_closure", "q_owl_closure", "q_rdfs_delta", "q_rdfs_delta_del",
      "q_owl_delta", "q_owl_delta_del", "q_rdfs_quads_delta",
      "q_owl_quads_del", "q_store_diff",
      // property chains: materialize fixpoint + seminaive delta loop
      "q_owl_chain", "q_owl_chain_delta",
      // restriction + joint fixpoints and their O(Δ) twins
      "q_owl_rl", "q_owl_rl_delta", "q_owl_full", "q_owl_full_delta",
      // entity resolution: batch fixpoints + incremental maintenance
      "q_owl_functional", "q_owl_functional_delta",
      "q_owl_haskey", "q_owl_haskey_delta", "q_sameas_delta",
      // round-12 second session: the four-source ER capstone, batch
      // validation, directed components
      "q_owl_er_full", "q_consistency_delta", "q_scc",
      // round-13: the delete side of identity/validation, the lazy
      // joint rewrite, self-chain DRed
      "q_er_retract", "q_consistency_del", "q_owl_full_rewrite",
      "q_owl_selfchain_del",
      // round-14: stratified cross-chain DRed
      "q_owl_xchain_del")
    // per-run Spark JOB counter: driver-latency floors are jobs ×
    // scheduling latency, so a gate whose job count is flat at 10× and
    // whose wall tracks jobs is latency-bound, not data-bound
    val jobCounter = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobCounter.incrementAndGet()
      })
    for (sf <- sfs) {
      val dir = s"/root/testdata/$sf"
      for (g <- gates.filter(n => only.forall(_.contains(n)))) {
        val fn = graft.SparkEntry.queries(g)
        var best = Double.MaxValue
        var cc = 0L
        var fp = 0L
        var fr = 0L
        var ch = 0L
        var rl = 0L
        var fu = 0L
        var fn2 = 0L
        var scc = 0L
        var jobs = 0L
        var erEvd = 0L
        var erSub = 0L
        var strata = 0L
        for (i <- 1 to repeat) {
          System.gc()
          graft.ops.GraphOps.lastCcRounds.set(0)
          graft.ops.GraphOps.lastSccRounds.set(0)
          graft.ops.GraphOps.lastFixpointRounds.set(0)
          graft.ops.ReasonOps.lastFrontierRounds.set(0)
          graft.ops.ReasonOps.lastChainRounds.set(0)
          graft.ops.ReasonOps.lastRlRounds.set(0)
          graft.ops.ReasonOps.lastFullRounds.set(0)
          graft.ops.ReasonOps.lastFunctionalRounds.set(0)
          jobCounter.set(0)
          val t0 = System.nanoTime()
          // the graph ops take their distributed plans (not the driver
          // algorithms), so ccRounds, sccRounds and fixpointRounds count
          // fixpoint rounds
          graft.ops.GraphOps.graphDriverCap.withValue(-1)(
            fn(spark, dir).collect())
          val sec = (System.nanoTime() - t0) / 1e9
          if (sec < best) best = sec
          // counters from the FIRST (cold) run: session artifacts cache
          // from run 2 on, so later runs under-report derivation rounds
          if (i == 1) {
            cc = graft.ops.GraphOps.lastCcRounds.get()
            fp = graft.ops.GraphOps.lastFixpointRounds.get()
            fr = graft.ops.ReasonOps.lastFrontierRounds.get()
            ch = graft.ops.ReasonOps.lastChainRounds.get()
            rl = graft.ops.ReasonOps.lastRlRounds.get()
            fu = graft.ops.ReasonOps.lastFullRounds.get()
            fn2 = graft.ops.ReasonOps.lastFunctionalRounds.get()
            scc = graft.ops.GraphOps.lastSccRounds.get()
            erEvd = graft.ops.ReasonOps.lastErRetractEvidenceRows.get()
            erSub = graft.ops.ReasonOps.lastErRetractSliceRows.get()
            strata = graft.ops.ReasonOps.lastRetractStrata.get()
          }
          // jobs from the LAST (warm) run: the steady-state floor the
          // repeat-min wall time reflects (cold runs add artifact
          // jobs); listener delivery is async — a short drain keeps the
          // count honest without private APIs
          Thread.sleep(100)
          jobs = jobCounter.get()
        }
        println(f"""{"sf":"$sf","gate":"$g","sec":$best%.2f,""" +
          s""""ccRounds":$cc,"fixpointRounds":$fp,"frontierRounds":$fr,""" +
          s""""chainRounds":$ch,"rlRounds":$rl,"fullRounds":$fu,""" +
          s""""fnRounds":$fn2,"sccRounds":$scc,"jobs":$jobs,""" +
          s""""erEvidenceRows":$erEvd,"erSliceRows":$erSub,""" +
          s""""retractStrata":$strata}""")
      }
      if (runProbes) {
      // ---- pipeline-family candidate volumes (r10-verdict #7) ----
      // The dedup/ANN 100 TB claims rest on CANDIDATE volume staying
      // near-linear in corpus size: PPJoin prefix postings, LSH band
      // buckets, and IVF probe lists each quietly go quadratic when the
      // data distribution defeats the blocking. Measure the candidate
      // set itself (the verified output hides it) at both SFs.
      {
        import org.apache.spark.sql.functions._
        import graft.ops.{DedupOps, VectorOps}
        import graft.store.GraftStore
        def probe(name: String, docs: Long)(mk: => org.apache.spark.sql.DataFrame): Unit = {
          val t0 = System.nanoTime()
          val pairs = mk.count()
          val sec = (System.nanoTime() - t0) / 1e9
          println(f"""{"sf":"$sf","probe":"$name","rows":$docs,""" +
            f""""candidates":$pairs,"sec":$sec%.2f}""")
        }
        val g = GraftStore.docGrams(spark, dir)
        val nDocs = g.count()
        probe("cand_ngram_prefix", nDocs) {
          DedupOps.prefixCandidates(g, threshold = 0.5)
        }
        probe("cand_minhash_lsh", nDocs) {
          DedupOps.minhashCandidates(g)
        }
        val emb = graft.Tables.loadPar(spark, dir, "embeddings")
        val nVec = emb.count()
        val (cent, cells) = GraftStore.ivfIndex(spark, dir)
        probe("cand_ivf_probe2", nVec) {
          VectorOps.ivfAssign(emb.where(col("vec_id") < 8), cent, probes = 2)
            .select(col("vec_id").as("query_id"), col("cell"))
            .join(cells.select(col("vec_id").as("neighbor_id"), col("cell")),
              Seq("cell"))
            .where(col("neighbor_id") =!= col("query_id"))
        }
        // ---- ER candidate volumes (r11-verdict #7): the identity
        // pairs the collision-group aggregations emit must stay linear
        // in corpus size (star edges to group minima, never all-pairs
        // within a group — a quadratic count here means a group's
        // members paired against each other)
        import graft.ops.ReasonOps
        val cu = graft.Tables.loadPar(spark, dir, "customer")
        val k = col("c_custkey")
        val ck = concat(lit("customer:"), k)
        val nCust = cu.count()
        probe("cand_er_ifp", nCust) {
          val dupk = cu.where(k % 3 === 0)
          ReasonOps.functionalIdentityPairs(
            cu.select(ck.as("s"), lit("email").as("p"),
                concat(lit("em:"), k).as("o"))
              .unionAll(dupk.select(concat(lit("dup:"), k).as("s"),
                lit("email").as("p"), concat(lit("em:"), k).as("o")))
              .unionAll(spark.createDataFrame(Seq(("email", "a",
                ReasonOps.InverseFunctionalProperty))).toDF("s", "p", "o")))
        }
        probe("cand_er_haskey", nCust) {
          val keyTbox = Seq(
            ("Cust", ReasonOps.HasKey, "_:hk0"),
            ("_:hk0", ReasonOps.RdfFirst, "city"),
            ("_:hk0", ReasonOps.RdfRest, "_:hk1"),
            ("_:hk1", ReasonOps.RdfFirst, "code"),
            ("_:hk1", ReasonOps.RdfRest, ReasonOps.RdfNil))
          ReasonOps.hasKeyIdentityPairs(
            cu.select(ck.as("s"), lit("a").as("p"), lit("Cust").as("o"))
              .unionAll(cu.select(ck.as("s"), lit("city").as("p"),
                concat(lit("city:"), k % 12).as("o")))
              .unionAll(cu.select(ck.as("s"), lit("code").as("p"),
                concat(lit("code:"), k % 30).as("o")))
              .unionAll(spark.createDataFrame(keyTbox).toDF("s", "p", "o")))
        }
      }
      }
    }
    spark.stop()
  }
}
