package graft

import graft.pipeline.{GraftConfig, Pipeline}
import graft.synth.Corpus
import org.apache.spark.sql.SparkSession

/** Benchmark main. Emits ONE JSON line:
  *   {"metric":"total","value":<sec>,"unit":"sec","queries":{...},"sf":...,
  *    "pipeline":{"docs":N,"wall_sec":S,"docs_per_sec":D,"trials":[...]},
  *    "errors":{...},"cpus":C}
  *
  * Knobs (env):
  *   SPARK_GRAFT_SF_DIR   table dir for the operator queries (default sf0.1)
  *   SPARK_GRAFT_CPUS     local[N] parallelism — the two-cluster-size
  *                        scaling protocol runs this main at 8 and 32
  *                        (BASELINE.md): same input, report
  *                        efficiency = (thru_32 / thru_8) / 4
  *   SPARK_GRAFT_BENCH_ENTITIES  synthetic-corpus size for the end-to-end
  *                        pipeline throughput measurement (default 60000)
  *   SPARK_GRAFT_BENCH_ZIPF_TYPES  > 0 switches the pipeline corpus to the
  *                        natural-vocabulary mode (Zipf(1.07) over ~this
  *                        many types, Corpus.Params.zipfTypes) — the
  *                        heavy-tailed-blocks stress leg: hot MinHash
  *                        bands are ~7× larger than the uniform draw
  *                        (DiagStringBands census), so this measures the
  *                        salted self-join under realistic skew. Default
  *                        0 = the uniform corpus every recorded headline
  *                        uses; the two are not comparable numbers.
  *   SPARK_GRAFT_BENCH_TRIALS    pipeline trials; the reported docs/sec is
  *                        the MEDIAN (default 5 — trial 1 carries JIT/page
  *                        warmup, ~2.5-4x slower, and a loaded box can
  *                        stretch trial 2 as well: BENCH_r02's 3-trial
  *                        median landed on a cold trial and read 3.5x
  *                        below the warm rate). The JSON also reports the
  *                        best trial (wall_sec_min / docs_per_sec_best) so
  *                        load-noise is visible instead of silently folded
  *                        into the headline. The run is additionally
  *                        load-robust: per-trial 1-min loadavg is recorded
  *                        into the JSON, and when the warm-trial spread
  *                        exceeds 1.5x the fastest warm trial the bench
  *                        auto-extends (up to 9 trials) and emits
  *                        "load_suspect":true — a loaded-box artifact
  *                        self-identifies instead of reading as a
  *                        regression (BENCH_r01-r03 lineage).
  *   SPARK_GRAFT_BENCH_MAXWAIT_SEC  quiet-window bound (default 600):
  *                        before any work the bench waits for the 1-min
  *                        loadavg to drop below SPARK_GRAFT_BENCH_QUIET_FRAC
  *                        (default 0.25) × host cores; an exhausted wait
  *                        runs anyway and reports
  *                        "quiet_wait_sec"/"wait_expired":true alongside
  *                        the load flag (r4 verdict item 2: detect AND
  *                        avoid, not just detect).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val entities = sys.env.getOrElse("SPARK_GRAFT_BENCH_ENTITIES", "60000").toInt
    val trials = sys.env.getOrElse("SPARK_GRAFT_BENCH_TRIALS", "5").toInt
    val zipfTypes = sys.env.getOrElse("SPARK_GRAFT_BENCH_ZIPF_TYPES", "0").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", "64") // fixed plan shape across the two scaling runs
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.local.dir", sys.env.getOrElse("SPARK_LOCAL_DIRS",
        if (new java.io.File("/dev/shm").canWrite) "/dev/shm/spark-graft"
        else System.getProperty("java.io.tmpdir")))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // production parity: SQL function registry + HammingJoinRule
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Quiet-window wait (BENCH_r01-r04 lineage: the harness DETECTED load
    // but still MEASURED under it — four rounds of depressed driver
    // medians). Before any work, poll the 1-min loadavg and delay until
    // the box is quiet (below quietFrac × host cores, default 0.25×),
    // bounded by SPARK_GRAFT_BENCH_MAXWAIT_SEC (default 600 s). If the
    // wait expires the run proceeds anyway and the JSON carries BOTH the
    // load flag and the exhausted-wait evidence (quiet_wait_sec +
    // wait_expired), so a loaded-box artifact shows it tried. This runs
    // BEFORE corpus generation: the generation burst is this JVM's own
    // load and would otherwise leave a 1-min-average ghost the wait
    // would pointlessly sit out.
    def loadAvg1m: Double =
      try {
        val src = scala.io.Source.fromFile("/proc/loadavg")
        try src.getLines().next().split(" ")(0).toDouble finally src.close()
      } catch {
        case _: Throwable =>
          java.lang.management.ManagementFactory
            .getOperatingSystemMXBean.getSystemLoadAverage
      }
    // /proc/loadavg is HOST-wide, so the bar must scale with HOST cores:
    // availableProcessors() is cgroup-scoped and would set an impossibly
    // low bar inside a CPU-quota container on a busy host (waiting the
    // full timeout on every run while the container's own cores idle).
    // /proc/cpuinfo reports physical host cores regardless of quota.
    val hostCores = {
      val cpuinfo = try {
        val src = scala.io.Source.fromFile("/proc/cpuinfo")
        try src.getLines().count(_.startsWith("processor")) finally src.close()
      } catch { case _: Throwable => 0 }
      math.max(cpuinfo, Runtime.getRuntime.availableProcessors())
    }
    val quietBar = sys.env.getOrElse("SPARK_GRAFT_BENCH_QUIET_FRAC", "0.25").toDouble * hostCores
    val maxWaitSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAXWAIT_SEC", "600").toInt
    val waitT0 = System.nanoTime()
    var waitExpired = false
    def waitedSec: Double = (System.nanoTime() - waitT0) / 1e9
    while (loadAvg1m >= quietBar && !waitExpired) {
      if (waitedSec >= maxWaitSec) waitExpired = true
      else {
        System.err.println(f"[bench] loadavg $loadAvg1m%.1f >= quiet bar $quietBar%.1f " +
          f"($hostCores cores) — waiting (${waitedSec}%.0f/$maxWaitSec s)")
        Thread.sleep(15000)
      }
    }
    val quietWaitSec = waitedSec

    // end-to-end pipeline throughput on the deterministic labeled corpus
    // (north rule: block → score → cluster docs/sec at two cluster sizes)
    // KB-scale interleaved docs (realistic per-doc compute; see BASELINE.md),
    // synthesized DISTRIBUTED (no driver materialization — scales to the
    // 500k+-entity stress runs without driver heap)
    val docs = Corpus.generateDistributed(spark,
        Corpus.Params(entities = entities, minWords = 150, maxWords = 400, seed = 42,
          zipfTypes = zipfTypes))
      .map(_.doc)(org.apache.spark.sql.Encoders.product[graft.model.Doc])
      .cache()
    val nDocs = docs.count() // materialize input outside the timed window
    // Load-robust trials (BENCH_r01-r03 each read 2-3.5x below quiet-box
    // re-runs of IDENTICAL code because the box was loaded during the
    // driver's window): record the 1-min system load at each trial start,
    // and when the warm-trial spread exceeds 1.5x the fastest warm trial,
    // run extra trials (9 total cap) and mark the artifact load-suspect so
    // a noisy measurement self-identifies instead of reading as a
    // regression.
    val trialSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val trialLoads = scala.collection.mutable.ArrayBuffer.empty[Double]
    def runTrial(): Unit = {
      trialLoads += loadAvg1m
      val t0 = System.nanoTime()
      val result = Pipeline.run(spark, docs, Corpus.RecommendedConfig)
      val outRows = result.clusters.count()
      require(outRows == nDocs)
      result.release()
      trialSecs += (System.nanoTime() - t0) / 1e9
    }
    val baseTrials = math.max(1, trials)
    (1 to baseTrials).foreach(_ => runTrial())
    // trial 1 carries JIT/page-cache warmup by protocol; spread is judged
    // on a sliding window of the most recent warm trials (a full-history
    // max/min is monotone — one early loaded trial would force every run
    // to the cap even after the box recovers)
    def spreadSuspect: Boolean = {
      val warm = if (trialSecs.length > 1) trialSecs.drop(1) else trialSecs.toSeq
      val win = warm.takeRight(math.min(4, warm.length))
      win.max > 1.5 * win.min
    }
    var extended = false
    while (spreadSuspect && trialSecs.length < 9) { extended = true; runTrial() }
    val loadSuspect = spreadSuspect || extended
    val loadEnd = loadAvg1m
    // true median: for EVEN trial counts, the mean of the two middle
    // elements — sorted(len/2) alone is the upper-middle (slower) trial,
    // which on a 2-trial leg makes the warmup trial the whole headline
    val sortedSecs = trialSecs.sorted
    val pipelineSec =
      if (sortedSecs.length % 2 == 1) sortedSecs(sortedSecs.length / 2)
      else (sortedSecs(sortedSecs.length / 2 - 1) + sortedSecs(sortedSecs.length / 2)) / 2.0
    docs.unpersist()

    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val q0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch {
        case e: Throwable =>
          errors(name) = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(160)}"
      }
      name -> (System.nanoTime() - q0) / 1e9
    }
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val qs = results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
      .mkString("{", ",", "}")
    val trialsJson = trialSecs.map(t => f"$t%.3f").mkString("[", ",", "]")
    val loadsJson = (trialLoads :+ loadEnd).map(l => f"$l%.2f").mkString("[", ",", "]")
    // cross-round comparability: "value" counts only the BASE trials, so a
    // load-extended run does not read tens of seconds heavier than the
    // same code on a quiet box (extended trials stay visible in "trials")
    val total = results.map(_._2).sum + trialSecs.take(baseTrials).sum
    val dps = nDocs / pipelineSec
    val minSec = trialSecs.min
    val dpsBest = nDocs / minSec
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"errors":$errJson,"sf":"$sfDir","pipeline":{"docs":$nDocs,"zipf_types":$zipfTypes,"wall_sec":$pipelineSec%.3f,"docs_per_sec":$dps%.1f,"wall_sec_min":$minSec%.3f,"docs_per_sec_best":$dpsBest%.1f,"trials":$trialsJson,"loadavg":$loadsJson,"load_suspect":$loadSuspect,"quiet_wait_sec":$quietWaitSec%.1f,"wait_expired":$waitExpired},"cpus":$cpus}""")
    spark.stop()
    if (errors.nonEmpty) {
      System.err.println(s"[bench] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
      sys.exit(2)
    }
  }
}
