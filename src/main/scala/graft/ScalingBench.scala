package graft

import graft.cdc.{CdcEngine, ChangeLogGen, CdcPipeline, GenConfig, MessageParser}

/** Two-cluster-size scaling evidence (BASELINE.md): the same CDC job on the
  * same deterministic input at local[N] and local[4N] (sandbox stand-in for
  * N vs 4N executors — no real cluster here). Prints throughput at both and
  * efficiency = T(4N) / (4 · T(N)).
  */
object ScalingBench {
  /** One leg's readings, wall and task-CPU seconds; `apply` is absent when
    * the leg did not run the apply phase (narrow, fused, SPARK_GRAFT_APPLY=0).
    */
  final case class Leg(events: Long, classifySec: Double, classifyCpuSec: Double,
                       apply: Option[(Double, Double)])

  /** The combined `scaling_efficiency` line for an N leg (bracketed legs
    * already averaged) and a 4N leg. Apply fields are null unless both legs
    * ran apply: a ratio of the -1 sentinels would read as a plausible 0.250.
    */
  def efficiencyLine(n: Int, small: Leg, large: Leg): String = {
    val ev = small.events
    def num(v: Option[Double], fmt: String): String = v.fold("null")(fmt.format(_))
    val applies = for (a <- small.apply; b <- large.apply) yield (a, b)
    val sec = applies.map { case ((s1, _), (s4, _)) => (s1, s4) }
    val cpu = applies.map { case ((_, c1), (_, c4)) => (c1, c4) }
    f"""{"metric":"scaling_efficiency","events":$ev,"n":$n,"n4":${n * 4},""" +
    f""""classify_sec_n":${small.classifySec}%.2f,"classify_sec_4n":${large.classifySec}%.2f,""" +
    f""""classify_eff":${small.classifySec / (4.0 * large.classifySec)}%.3f,""" +
    s""""apply_sec_n":${num(sec.map(_._1), "%.2f")},"apply_sec_4n":${num(sec.map(_._2), "%.2f")},""" +
    s""""apply_eff":${num(sec.map { case (s1, s4) => s1 / (4.0 * s4) }, "%.3f")},""" +
    f""""classify_cpu_sec_n":${small.classifyCpuSec}%.2f,"classify_cpu_sec_4n":${large.classifyCpuSec}%.2f,""" +
    s""""apply_cpu_sec_n":${num(cpu.map(_._1), "%.2f")},"apply_cpu_sec_4n":${num(cpu.map(_._2), "%.2f")},""" +
    f""""classify_eps_n":${(ev / small.classifySec).toLong},"classify_eps_4n":${(ev / large.classifySec).toLong},""" +
    s""""apply_eps_n":${sec.fold("null")(t => (ev / t._1).toLong.toString)},""" +
    s""""apply_eps_4n":${sec.fold("null")(t => (ev / t._2).toLong.toString)}}"""
  }

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
    def run(cpus: Int): Leg = {
      val spark = Bench.session(cpus.toString)
      spark.sparkContext.setLogLevel("WARN")
      // (wall s, task-CPU s) of one timed region
      def measured(body: => Unit): (Double, Double) = {
        var sec = 0.0
        val jobs = JobProbe(spark) { sec = Bench.timed(body) }
        (sec, jobs.totalTaskCpuSec)
      }
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
        val (sec, cCpu) = measured(
          ChangeLogGen.generate(spark, cfg)
            .map(e => MessageParser.parse(e.content).timeMicros)
            .agg(max("value")).collect())
        spark.stop()
        return Leg(n, sec, cCpu, None)
      }
      if (fused) {
        // compute-bound end-to-end measurement: generate → shuffle → fold in
        // one uncached pass (no cache-pressure artifacts at large inputs)
        val warm = ChangeLogGen.generate(spark, cfg.copy(numConversations = 1000))
        CdcPipeline.classify(warm, 14 * day).write.mode("overwrite").format("noop").save()
        val n = ChangeLogGen.generate(spark, cfg).count()
        val (sec, cCpu) = measured(
          CdcPipeline.classify(ChangeLogGen.generate(spark, cfg), 14 * day)
            .write.mode("overwrite").format("noop").save())
        spark.stop()
        return Leg(n, sec, cCpu, None)
      }
      val log = ChangeLogGen.generate(spark, cfg)
        .repartition(cpus * 2).cache()
      val n = log.count()
      val (classifySec, classifyCpu) = measured(CdcPipeline.classify(log, 14 * day).write
        .mode("overwrite").format("noop").save())
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
      val applied = if (sys.env.get("SPARK_GRAFT_APPLY").contains("0")) None else {
        // SPARK_GRAFT_WH_BASE redirects the warehouse (e.g. to /dev/shm for
        // the tmpfs A/B that separates plan-scaling from the sandbox's one
        // shared disk — BENCH/BASELINE.md §2)
        val wh = sys.env.get("SPARK_GRAFT_WH_BASE") match {
          case Some(base) => java.nio.file.Files
            .createTempDirectory(java.nio.file.Paths.get(base), s"scale-$cpus")
          case None => java.nio.file.Files.createTempDirectory(s"scale-$cpus")
        }
        val eng = new CdcEngine(wh.toString, numBuckets = 32, cutoffMicros = 14 * day)
        val secCpu = measured(eng.applyEpochs(spark, byEpoch))
        val walk = java.nio.file.Files.walk(wh)
        try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
        finally walk.close()
        Some(secCpu)
      }
      byEpoch.foreach(_._2.unpersist())
      spark.stop()
      Leg(n, classifySec, classifyCpu, applied)
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
      val leg = run(legCpus.toInt)
      // the -1 sentinels stay here: lib_scaling_leg.sh tests apply_* > 0
      val (a, aCpu) = leg.apply.getOrElse((-1.0, -1.0))
      println(
        f"""{"metric":"scaling_leg","cpus":${legCpus.toInt},"events":${leg.events},""" +
        f""""classify_sec":${leg.classifySec}%.3f,"apply_sec":$a%.3f,""" +
        f""""classify_cpu_sec":${leg.classifyCpuSec}%.3f,"apply_cpu_sec":$aCpu%.3f,""" +
        f""""heap_mb":${Runtime.getRuntime.maxMemory() / (1024 * 1024)}}""")
      return
    }

    // SPARK_GRAFT_BRACKET=1: run N, 4N, N and average the two N legs — the
    // sandbox VM's speed drifts monotonically within a session (measured
    // 131k→171k ev/s across seven otherwise-identical runs), so a ratio of
    // two legs minutes apart inherits the drift; bracketing the 4N leg with
    // N legs on both sides cancels a linear drift term
    val bracket = sys.env.get("SPARK_GRAFT_BRACKET").contains("1")
    val small = run(nSmall)
    val large = run(nSmall * 4)
    val smallAvg = if (!bracket) small else {
      val again = run(nSmall)
      def avg(x: Double, y: Double) = (x + y) / 2.0
      Leg(small.events, avg(small.classifySec, again.classifySec),
        avg(small.classifyCpuSec, again.classifyCpuSec),
        for ((s1, c1) <- small.apply; (s2, c2) <- again.apply) yield (avg(s1, s2), avg(c1, c2)))
    }
    println(efficiencyLine(nSmall, smallAvg, large))
  }
}
