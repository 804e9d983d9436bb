package graft

import graft.cdc.{CdcEngine, ChangeLogGen, CdcPipeline, GenConfig, MessageParser}

/** Two-cluster-size scaling evidence (BASELINE.md): the same CDC job on the
  * same deterministic input at local[N] and local[4N] (sandbox stand-in for
  * N vs 4N executors — no real cluster here). Prints throughput at both and
  * efficiency = T(4N) / (4 · T(N)).
  */
object ScalingBench {
  def main(args: Array[String]): Unit = {
    val nSmall = sys.env.getOrElse("SPARK_GRAFT_N", "8").toInt
    val conversations = sys.env.getOrElse("SPARK_GRAFT_CDC_CONV", "200000").toLong
    val epochs = sys.env.getOrElse("SPARK_GRAFT_EPOCHS", "4").toInt
    val day = 24L * 3600 * 1000000L
    val cfg = GenConfig(numConversations = conversations,
      hotConversations = 4, hotFragments = 4096, epochs = epochs)

    val fused = sys.env.get("SPARK_GRAFT_FUSED").contains("1")

    // task-CPU totals per timed phase: wall-clock on this shared box swings
    // with disk/neighbor contention, task CPU doesn't — and the 2c-vs-8c
    // CPU ratio for the IDENTICAL epoch is the direct measure of the
    // sandbox's memory-system contention (the round-6 profile: 199s vs
    // 339s, +70% at 8 threads, while the pure-compute control scales
    // cleanly). A real 4N cluster brings 4N sockets' bandwidth, so the
    // CPU-normalized efficiency T(N)·CPU(4N) / (4·T(4N)·CPU(N)) is the
    // cluster-predictive number; both raw and normalized are reported.
    def run(cpus: Int): (Long, Double, Double, Double, Double) = {
      val spark = Bench.session(cpus.toString)
      spark.sparkContext.setLogLevel("WARN")
      val cpuNs = new java.util.concurrent.atomic.AtomicLong()
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (te.taskMetrics != null) cpuNs.addAndGet(te.taskMetrics.executorCpuTime)
      })
      def drained(): Long = {
        // deterministic listener drain before reading the counter — a
        // sleep-settle undercounts whenever the async bus lags longer
        org.apache.spark.sql.graftbridge.GraftBridge
          .drainListenerBus(spark.sparkContext)
        cpuNs.get()
      }
      def cpuSince(mark: Long): Double = (drained() - mark) / 1e9
      // over-partition the shuffle for tail balance; AQE coalesces small ones
      spark.conf.set("spark.sql.shuffle.partitions", (cpus * 4).toString)
      import spark.implicits._
      if (sys.env.get("SPARK_GRAFT_MODE").contains("narrow")) {
        // no-shuffle pipeline: generate → parse → reduce. isolates allocation/
        // GC scaling from shuffle-machinery scaling
        import org.apache.spark.sql.functions._
        val warm = ChangeLogGen.generate(spark, cfg.copy(numConversations = 1000))
        warm.map(e => MessageParser.parse(e.content).timeMicros).agg(max("value")).collect()
        val n = ChangeLogGen.generate(spark, cfg).count()
        val mark = drained()
        val sec = Bench.timed(
          ChangeLogGen.generate(spark, cfg)
            .map(e => MessageParser.parse(e.content).timeMicros)
            .agg(max("value")).collect())
        val cCpu = cpuSince(mark)
        spark.stop()
        return (n, sec, -1.0, cCpu, -1.0)
      }
      if (fused) {
        // compute-bound end-to-end measurement: generate → shuffle → fold in
        // one uncached pass (no cache-pressure artifacts at large inputs)
        val warm = ChangeLogGen.generate(spark, cfg.copy(numConversations = 1000))
        CdcPipeline.classify(warm, 14 * day).write.mode("overwrite").format("noop").save()
        val n = ChangeLogGen.generate(spark, cfg).count()
        val mark = drained()
        val sec = Bench.timed(
          CdcPipeline.classify(ChangeLogGen.generate(spark, cfg), 14 * day)
            .write.mode("overwrite").format("noop").save())
        val cCpu = cpuSince(mark)
        spark.stop()
        return (n, sec, -1.0, cCpu, -1.0)
      }
      val log = ChangeLogGen.generate(spark, cfg)
        .repartition(cpus * 2).cache()
      val n = log.count()
      val cMark = drained()
      val classifySec = Bench.timed(CdcPipeline.classify(log, 14 * day).write
        .mode("overwrite").format("noop").save())
      val classifyCpu = cpuSince(cMark)
      // per-epoch batch caches: a real binlog tail hands the engine each
      // epoch's batch once — filtering the full mixed cache per epoch would
      // charge the timed region 4× the feed's bytes (and the columnar scan
      // can't prune randomly-partitioned batches), a harness artifact that
      // is pure memory-bandwidth burn on the parallel leg
      import org.apache.spark.sql.functions.col
      val byEpoch = (0L until cfg.epochs.toLong)
        .map(e => e -> log.where(col("epoch") === e).cache())
      byEpoch.foreach(_._2.count())
      log.unpersist()
      var applyCpu = -1.0
      val applySec = if (sys.env.get("SPARK_GRAFT_APPLY").contains("0")) -1.0 else {
        // SPARK_GRAFT_WH_BASE redirects the warehouse (e.g. to /dev/shm for
        // the tmpfs A/B that separates plan-scaling from the sandbox's one
        // shared disk — BENCH/BASELINE.md §2)
        val wh = sys.env.get("SPARK_GRAFT_WH_BASE") match {
          case Some(base) => java.nio.file.Files
            .createTempDirectory(java.nio.file.Paths.get(base), s"scale-$cpus")
          case None => java.nio.file.Files.createTempDirectory(s"scale-$cpus")
        }
        val eng = new CdcEngine(wh.toString, numBuckets = 32, cutoffMicros = 14 * day)
        // pipelined epochs by default; SPARK_GRAFT_PIPELINE=0 = sequential A/B
        val aMark = drained()
        val sec = Bench.timed(
          if (sys.env.get("SPARK_GRAFT_PIPELINE").contains("0"))
            byEpoch.foreach { case (e, b) => eng.applyEpoch(spark, b, e) }
          else
            eng.applyEpochs(spark, byEpoch))
        applyCpu = cpuSince(aMark)
        val walk = java.nio.file.Files.walk(wh)
        try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
        finally walk.close()
        sec
      }
      byEpoch.foreach(_._2.unpersist())
      spark.stop()
      (n, classifySec, applySec, classifyCpu, applyCpu)
    }

    // SPARK_GRAFT_LEG=<cpus>: run exactly ONE leg in THIS JVM and exit —
    // the per-core-heap protocol (BENCH/BASELINE.md §2, round 6). The north
    // rule compares a cluster of N executors to one of 4N: aggregate heap
    // scales with the cluster. A single JVM with a fixed -Xmx hands the 4N
    // leg a quarter of the N leg's per-core memory, and the round-6 profile
    // showed exactly that artifact (fold job scaling 2.2× under GC pressure
    // at a shared 8g, 0.75→0.78+ the moment the heap grows). The wrapper
    // launches each leg as its own JVM with -Xmx ∝ cores (constant
    // heap-per-core = real executor sizing) and combines the legs.
    sys.env.get("SPARK_GRAFT_LEG").foreach { legCpus =>
      val (n, c, a, cCpu, aCpu) = run(legCpus.toInt)
      println(
        f"""{"metric":"scaling_leg","cpus":${legCpus.toInt},"events":$n,""" +
        f""""classify_sec":$c%.3f,"apply_sec":$a%.3f,""" +
        f""""classify_cpu_sec":$cCpu%.3f,"apply_cpu_sec":$aCpu%.3f,""" +
        f""""heap_mb":${Runtime.getRuntime.maxMemory() / (1024 * 1024)}}""")
      return
    }

    // SPARK_GRAFT_BRACKET=1: run N, 4N, N and average the two N legs — the
    // sandbox VM's speed drifts monotonically within a session (measured
    // 131k→171k ev/s across seven otherwise-identical runs), so a ratio of
    // two legs minutes apart inherits the drift; bracketing the 4N leg with
    // N legs on both sides cancels a linear drift term
    val bracket = sys.env.get("SPARK_GRAFT_BRACKET").contains("1")
    val (n1, c1, a1, cc1, ac1) = run(nSmall)
    val (_, c4, a4, cc4, ac4) = run(nSmall * 4)
    val (c1e, a1e, cc1e, ac1e) = if (!bracket) (c1, a1, cc1, ac1) else {
      val (_, c1b, a1b, cc1b, ac1b) = run(nSmall)
      ((c1 + c1b) / 2.0, (a1 + a1b) / 2.0, (cc1 + cc1b) / 2.0, (ac1 + ac1b) / 2.0)
    }
    val effClassify = c1e / (4.0 * c4)
    val effApply = a1e / (4.0 * a4)
    println(
      f"""{"metric":"scaling_efficiency","events":$n1,"n":$nSmall,"n4":${nSmall * 4},""" +
      f""""classify_sec_n":$c1e%.2f,"classify_sec_4n":$c4%.2f,"classify_eff":$effClassify%.3f,""" +
      f""""apply_sec_n":$a1e%.2f,"apply_sec_4n":$a4%.2f,"apply_eff":$effApply%.3f,""" +
      f""""classify_cpu_sec_n":$cc1e%.2f,"classify_cpu_sec_4n":$cc4%.2f,""" +
      f""""apply_cpu_sec_n":$ac1e%.2f,"apply_cpu_sec_4n":$ac4%.2f,""" +
      f""""classify_eps_n":${(n1 / c1e).toLong},"classify_eps_4n":${(n1 / c4).toLong},""" +
      f""""apply_eps_n":${(n1 / a1e).toLong},"apply_eps_4n":${(n1 / a4).toLong}}""")
  }
}
