package graft.bench

import graft.model.Doc
import graft.pipeline.{BenchAccess, Blocking, Components, GraftConfig, Pairs, Pipeline, Signatures}
import graft.media.DefaultMedia
import graft.streaming.StreamIngest
import graft.synth.Corpus
import graft.synth.Corpus.LabeledDoc
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** The benchmark harness: one workload in one JVM at local[nproc], with the
  * Bench.scala session config. Every workload is a closed loop with one
  * caller. The last stdout line is a JSON object with `correct`,
  * `attempted`, `failed` and `metrics` (name → value); perfbench/run.py
  * attaches the units declared in BENCHMARK.json.
  *
  * --trace 0 measures the end-to-end metrics with no spans.
  * --trace 1 makes one untraced and one traced run of the same operation
  * and reports the per-layer metrics plus the tracing overhead.
  */
object Harness {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String)

  /** Sizes for a 4-core box: each dedup pass is one Pipeline.run. */
  val UniformEntities = 1500
  val HardEntities = 1500
  val HardCopies = 250
  /** Docs sharing the footer band: just over cfg.hotBlockSize. */
  val HardFooterEntities = 300
  val IngestSeedEntities = 800
  val WarmEntities = 60
  val IngestBatches = 2
  val IngestNewPerBatch = 8
  val IngestCopiesPerBatch = 6
  val KernelEntities = 300
  val SetupReps = 3

  /** Corpus.RecommendedConfig with the hot-block threshold scaled to these
    * corpora: the default 2048-row threshold would need a block of over
    * 2 million within-block pairs, which alone costs more than a whole
    * dedup_uniform pass on a 4-core box. No dedup_uniform block comes near
    * 256 rows, so that workload's plan is the default one.
    */
  val cfg: GraftConfig = Corpus.RecommendedConfig.copy(hotBlockSize = 256)

  final class Outcome {
    var attempted = 0
    var failed = 0
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    def check(ok: Boolean, what: => String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; System.err.println(s"[perfbench] FAILED: $what") }
    }
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1", kv("work"))
    val loadStart = Stats.loadAvg1m
    val t0 = System.nanoTime()
    val spark = session(o.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val probe = new Probe(spark.sparkContext)
    spark.sparkContext.addSparkListener(probe)
    val tracer = new Tracer(spark.sparkContext, probe)
    val out = new Outcome
    try {
      o.workload match {
        case "dedup_uniform" => dedup(spark, o, probe, tracer, out, sessionS, hard = false)
        case "dedup_hard" => dedup(spark, o, probe, tracer, out, sessionS, hard = true)
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        out.check(ok = false, s"${o.workload}: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    spark.stop()
    if (o.trace) {
      val f = new java.io.File(s"${o.work}/../../traces/${o.workload}-seed${o.seed}.json")
      f.getParentFile.mkdirs()
      java.nio.file.Files.writeString(f.toPath, tracer.toJson)
    }
    val loadEnd = Stats.loadAvg1m
    System.err.println(f"[perfbench] summary {" +
      s""""workload":"${o.workload}","seed":${o.seed},"trace":${o.trace},""" +
      f""""loadavg_start":$loadStart%.2f,"loadavg_end":$loadEnd%.2f,"cores":${cores}}""")
    val ms = out.metrics.map { case (k, v) => s""""$k":${fmt(v)}""" }.mkString("{", ",", "}")
    println(s"""{"correct":${out.failed == 0},"attempted":${math.max(out.attempted, 1)},""" +
      s""""failed":${if (out.attempted == 0) 1 else out.failed},"metrics":$ms}""")
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def cores: Int = Runtime.getRuntime.availableProcessors()

  /** Bench.scala's session: 64 shuffle partitions, AQE on, 64m broadcast
    * threshold, GraftExtensions — at local[nproc], with Spark scratch in
    * the run's own directory. Bench.scala keeps that scratch on tmpfs; here
    * it is on disk inside the checkout, where the bypass-merge shuffle
    * writer's one file per reducer (64 per map task) made every shuffle
    * ~25% slower, so the sort-based writer is forced. Plans and results are
    * unchanged by it.
    */
  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.local.dir", s"$work/tmp")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def seconds[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  // --------------------------------------------------------------- quality

  final case class Quality(rows: Long, clusters: Long, predPairs: Long, f1: Double)

  private def c2(n: Long): Long = n * (n - 1) / 2

  /** Pairwise F1 of `clusters` (doc_id, cluster_id) against the generator's
    * labels, from contingency counts: TP = Σ C(n,2) over (cluster, label)
    * cells, so a copy farm never enumerates its pairs.
    */
  def quality(clusters: DataFrame, labels: DataFrame): Quality = {
    val cells = clusters.select("doc_id", "cluster_id").join(labels, Seq("doc_id"), "left")
      .groupBy("cluster_id", "label").count().collect()
      .map(r => (r.get(0), r.get(1), r.getLong(2)))
    val rows = cells.map(_._3).sum
    val tp = cells.map(c => c2(c._3)).sum
    val pred = cells.groupBy(_._1).values.map(g => c2(g.map(_._3).sum)).sum
    val truth = cells.groupBy(_._2).values.map(g => c2(g.map(_._3).sum)).sum
    val f1 = if (pred + truth == 0) 1.0 else 2.0 * tp / (pred + truth)
    Quality(rows, cells.map(_._1).distinct.length.toLong, pred, f1)
  }

  private def labelsOf(ds: Dataset[LabeledDoc]): DataFrame =
    ds.toDF().select(col("doc.doc_id").as("doc_id"), col("label"))

  // ----------------------------------------------------------------- dedup

  private final case class OpStat(wall: Double, cpu: Double, peakMb: Double)

  def dedup(spark: SparkSession, o: Opts, probe: Probe, tracer: Tracer, out: Outcome,
            sessionS: Double, hard: Boolean): Unit = {
    implicit val s: SparkSession = spark
    def build(entities: Int, seed: Long): (Dataset[LabeledDoc], Option[Inputs.HardShape]) =
      if (hard) {
        val full = entities == HardEntities
        val (ds, shape) = Inputs.hard(spark, seed, entities, if (full) HardCopies else 0,
          if (full) HardFooterEntities else 0)
        (ds, Some(shape))
      } else {
        val ds = Corpus.generateDistributed(spark, Inputs.params(seed, entities)).cache()
        ds.count()
        (ds, None)
      }

    // Set-up: input generation, repeated so setup_s is a median (a traced
    // run builds once: setup_s is end-to-end only). The end-to-end pass has
    // no warm-up: a graft batch job makes one pass per JVM, so the timed pass
    // pays class loading, code generation and JIT as a spark-submit user
    // does. A traced run compares a traced with an untraced pass, so it
    // first warms the JVM with a pass over a small corpus of the same family.
    val builds = (1 to (if (o.trace) 1 else SetupReps))
      .map(_ => seconds(build(if (hard) HardEntities else UniformEntities, o.seed)))
    builds.init.foreach(_._1._1.unpersist())
    val (labeled, shape) = builds.last._1
    if (o.trace) {
      val (w, _) = build(WarmEntities, o.seed ^ 0x5741524dL)
      val r = Pipeline.run(spark, w.map(_.doc)(Inputs.docEnc), cfg)
      r.clusters.count()
      r.release()
      w.unpersist()
    }
    val docs = labeled.map(_.doc)(Inputs.docEnc).persist(StorageLevel.MEMORY_AND_DISK)
    val nDocs = docs.count()
    val labels = labelsOf(labeled).persist(StorageLevel.MEMORY_AND_DISK)
    labels.count()
    val setupS = sessionS + Stats.median(builds.map(_._2))
    System.err.println(f"[perfbench] setup: session=$sessionS%.2f builds=${builds.map(b => f"${b._2}%.2f").mkString(",")}")
    shape.foreach { sh =>
      System.err.println(f"[perfbench] dedup_hard shape: docs=${sh.docs} near_miss=${sh.nearMissPairs.size} " +
        f"copies=${sh.copies} exact_copy_share=${sh.copies.toDouble / sh.docs}%.4f footer_docs=${sh.footerDocs}")
    }

    /** One closed-loop operation: Pipeline.run through clusters.count(). */
    def op(): (OpStat, Pipeline.Result) = {
      val cpu0 = Stats.processCpuNs
      val ((r, wall), peak) = probe.peakCached(seconds {
        val r = Pipeline.run(spark, docs, cfg)
        r.clusters.count()
        r
      })
      val cpu = (Stats.processCpuNs - cpu0) / 1e9
      (OpStat(wall, cpu, peak), r)
    }

    def checkQuality(r: Pipeline.Result): Quality = {
      val q = quality(r.clusters, labels)
      out.check(q.rows == nDocs, s"clusters.count ${q.rows} != input docs $nDocs")
      out.check(q.f1 >= 0.99, f"pair_f1 ${q.f1}%.5f < 0.99")
      q
    }

    // dedup_hard exists to drive the salting path: a pass that salts no hot
    // block is a failed operation, not a quiet change of workload
    def checkSalting(st: Blocking.BlockStats): Unit =
      if (hard) out.check(st.saltedBlocks >= 1, "dedup_hard salted no hot block")

    if (!o.trace) {
      val stats = mutable.ArrayBuffer.empty[OpStat]
      val f1s = mutable.ArrayBuffer.empty[Double]
      val deadline = System.nanoTime() + o.seconds * 1000000000L
      while (stats.isEmpty || System.nanoTime() < deadline) {
        val (st, r) = op()
        stats += st
        f1s += checkQuality(r).f1
        checkSalting(r.stats)
        r.release()
      }
      val opS = Stats.median(stats.map(_.wall).toSeq)
      out.metrics ++= Seq(
        "op_s" -> opS,
        "docs_per_s" -> nDocs / opS,
        "cpu_s" -> Stats.median(stats.map(_.cpu).toSeq),
        "peak_cached_mb" -> stats.map(_.peakMb).max,
        "pair_f1" -> f1s.min,
        "success_rate" -> (out.attempted - out.failed).toDouble / out.attempted,
        "setup_s" -> setupS)
      System.err.println(s"[perfbench] ops=${stats.size} walls=${stats.map(x => f"${x.wall}%.2f").mkString(",")}")
    } else {
      val (u, ru) = op()
      val qu = checkQuality(ru)
      checkSalting(ru.stats)
      val edgesU = ru.edges.count()
      ru.release()
      val traced = stagedRun(spark, docs, tracer)
      val tracedS = tracer.named("pipeline").head.seconds
      val qt = quality(traced.clusters, labels)
      out.check(traced.edges == edgesU && qt.clusters == qu.clusters && qt.predPairs == qu.predPairs,
        s"traced run differs: edges ${traced.edges} vs $edgesU, clusters ${qt.clusters} vs ${qu.clusters}")
      val m = out.metrics
      m ++= stageMetrics(tracer)
      m("pipeline.self_s") = tracer.selfSeconds(tracer.named("pipeline").head)
      m("trace.overhead_s") = tracedS - u.wall
      m("trace.edges") = traced.edges.toDouble
      m("trace.clusters") = qt.clusters.toDouble
      m("trace.pairs") = qt.predPairs.toDouble
      m ++= traced.extras
      shape.foreach { sh =>
        m ++= nearMissMetrics(spark, traced.scored, sh)
        m("hard.exact_copy_share") = sh.copies.toDouble / sh.docs
        m("hard.salted_row_share") = traced.extras("blocking.salted_band_rows") / traced.extras("blocking.band_rows")
      }
      m.remove("blocking.salted_band_rows")
      traced.release()
      if (!hard) {
        m ++= Kernels.run(o.seed, KernelEntities, cfg, reps = 3)
        m ++= ingestLayers(spark, o, tracer, out)
      }
    }
  }

  private val Stages = Seq("collapse", "signatures", "blocking.census", "blocking.join_vote",
    "scoring", "components", "joinback")

  private def stageMetrics(tracer: Tracer): Seq[(String, Double)] = Stages.flatMap { name =>
    val sp = tracer.named(name).head
    val st = tracer.stats(sp)
    Seq(s"$name.wall_s" -> tracer.selfSeconds(sp),
      s"$name.cpu_s" -> st.cpuNs / 1e9,
      s"$name.shuffle_write_mb" -> st.shuffleWriteBytes / 1e6,
      s"$name.spill_mb" -> st.spillBytes / 1e6,
      s"$name.task_skew" -> st.taskSkew)
  }

  final case class Traced(clusters: DataFrame, edges: Long, scored: DataFrame,
                          extras: Map[String, Double], release: () => Unit)

  /** Pipeline.run's stages, called in the same order and materialized the
    * way Pipeline.materialize does (persist, then count), each inside its
    * own span. Counts that need extra jobs run after the spans close.
    */
  def stagedRun(spark: SparkSession, docs: Dataset[Doc], tr: Tracer): Traced = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val cached = mutable.ArrayBuffer.empty[DataFrame]
    val rows = mutable.LinkedHashMap.empty[String, Double]
    def materialize(name: String)(df: => DataFrame): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      rows(s"$name.rows_out") = p.count().toDouble
      cached += p
      p
    }
    var stats = Blocking.BlockStats(0L, 0L, 0L)
    val (reps, sigs, scored, clusters) = tr("pipeline") {
      val (reps, expansion) = tr("collapse")(BenchAccess.precollapse(docs))
      expansion.foreach(cached += _)
      val sigResults = tr("signatures")(materialize("signatures") {
        Signatures.derive(reps, cfg, DefaultMedia).toDF()
      })
      val sigs = sigResults.select("sig.*").as[graft.model.DocSig]
      val (cands, st, releaseBlocks) = tr("blocking.census")(Blocking.candidatePairs(sigs, cfg))
      stats = st
      val candidates = tr("blocking.join_vote")(materialize("blocking.join_vote")(cands))
      releaseBlocks()
      val scored = tr("scoring")(materialize("scoring")(Pairs.score(candidates, sigs, cfg)))
      val assignments = tr("components")(materialize("components") {
        Components.connectedComponents(Pairs.edges(scored), cfg.maxCcIterations)
      })
      val clusters = tr("joinback") {
        val c = BenchAccess.expandClusters(docs.toDF(), expansion, assignments)
          .select("doc_id", "cluster_id", "spans")
        rows("joinback.rows_out") = c.count().toDouble
        c
      }
      (reps, sigs, scored, clusters)
    }
    val nDocs = docs.count()
    val nReps = reps.count()
    rows("collapse.rows_out") = nReps.toDouble
    val bandRows = Blocking.bandRowsDF(sigs, cfg)
    val blockSizes = bandRows.groupBy("block_key").count()
    val nBand = bandRows.count()
    rows("blocking.census.rows_out") = nBand.toDouble
    val saltedRows = blockSizes.filter(col("count") > cfg.hotBlockSize && col("count") <= cfg.maxBlockSize)
      .agg(coalesce(sum("count"), lit(0L))).head().getLong(0)
    val preVote = BenchAccess.preVotePairs(sigs, cfg).count()
    val nCand = rows("blocking.join_vote.rows_out")
    val nEdges = Pairs.edges(scored).count()
    val extras = rows.toMap ++ Map(
      "blocking.band_rows" -> nBand.toDouble,
      "blocking.salted_band_rows" -> saltedRows.toDouble,
      "blocking.pair_yield" -> (if (preVote == 0) 0.0 else nCand / preVote),
      "blocking.salted_blocks" -> stats.saltedBlocks.toDouble,
      "blocking.dropped_rows" -> stats.droppedRows.toDouble,
      "scoring.text_scored" -> scored.filter(col("jw").isNotNull).count().toDouble,
      "scoring.dup_ratio" -> (if (nCand == 0) 0.0 else nEdges / nCand),
      "collapse.copies" -> (nDocs - nReps).toDouble,
      "components.clusters" -> clusters.select("cluster_id").distinct().count().toDouble)
    Traced(clusters.select("doc_id", "cluster_id"), nEdges, scored, extras,
      () => cached.foreach(_.unpersist()))
  }

  /** Share of generated (near-miss, base) pairs that reached text scoring,
    * and the share of those the scorer rejected.
    */
  private def nearMissMetrics(spark: SparkSession, scored: DataFrame,
                              sh: Inputs.HardShape): Seq[(String, Double)] = {
    import spark.implicits._
    val nm = sh.nearMissPairs.map { case (n, b) => (if (n < b) n else b, if (n < b) b else n) }
      .toDF("a", "b")
    val hit = scored.join(nm, Seq("a", "b")).filter(col("jw").isNotNull)
    val reached = hit.count()
    val rejected = hit.filter(!col("is_dup")).count()
    System.err.println(s"[perfbench] near-miss pairs=${sh.nearMissPairs.size} text_scored=$reached rejected=$rejected")
    Seq("hard.near_miss_scored_share" -> reached.toDouble / math.max(sh.nearMissPairs.size, 1),
      "hard.near_miss_rejected_share" -> (if (reached == 0) 0.0 else rejected.toDouble / reached))
  }

  // ---------------------------------------------------------------- ingest

  private def dirBytes(p: java.nio.file.Path): Long = {
    if (!java.nio.file.Files.exists(p)) return 0L
    val w = java.nio.file.Files.walk(p)
    try {
      var s = 0L
      w.forEach(f => if (java.nio.file.Files.isRegularFile(f)) s += java.nio.file.Files.size(f))
      s
    } finally w.close()
  }

  /** Ingest layers, measured inside the dedup_uniform traced run: seed a
    * generation with StreamIngest.seed, then fold IngestBatches batches with
    * compactEvery = IngestBatches, so every fold but the last writes a delta
    * generation and the last compacts the chain. Spans go around each call;
    * generation sizes are read from disk.
    */
  def ingestLayers(spark: SparkSession, o: Opts, tracer: Tracer, out: Outcome): Seq[(String, Double)] = {
    import spark.implicits._
    val set = Inputs.ingest(o.seed, IngestSeedEntities, IngestBatches, IngestNewPerBatch, IngestCopiesPerBatch)
    val labels = set.all.map(ld => (ld.doc.doc_id, ld.label)).toDF("doc_id", "label")
    val batches = set.batches.map(b => spark.createDataset(b.map(_.doc))(Inputs.docEnc).cache())
    batches.foreach(_.count())
    val dir = s"${o.work}/state"
    val seedDocs = spark.createDataset(set.seed.map(_.doc))(Inputs.docEnc)
    val folds = tracer("ingest") {
      tracer("seed")(StreamIngest.seed(spark, seedDocs, dir, cfg))
      batches.indices.map { b =>
        val name = if (b == batches.size - 1) "compact" else "fold"
        tracer(name)(StreamIngest.foldBatch(spark, batches(b), b.toLong, dir, cfg,
          compactEvery = IngestBatches))
        (tracer.named(name).last, dirBytes(java.nio.file.Paths.get(StreamIngest.currentDir(dir))) / 1e6,
          Inputs.rawBytes(set.batches(b)))
      }
    }
    val (_, assign) = StreamIngest.readCurrentState(spark, dir)
    val q = quality(assign, labels)
    out.check(q.rows == set.all.size, s"ingest state holds ${q.rows} docs, expected ${set.all.size}")
    out.check(q.f1 >= 0.99, f"ingest pair_f1 ${q.f1}%.5f < 0.99")
    batches.foreach(_.unpersist())
    val deltas = folds.init
    val (compact, compactMb, _) = folds.last
    def med(f: ((Span, Double, Long)) => Double) = Stats.median(deltas.map(f))
    def st(sp: Span) = tracer.stats(sp)
    Seq(
      "fold.wall_s" -> med(_._1.seconds),
      "fold.cpu_s" -> med(f => st(f._1).cpuNs / 1e9),
      "fold.shuffle_write_mb" -> med(f => st(f._1).shuffleWriteBytes / 1e6),
      "fold.read_mb" -> med(f => st(f._1).inputBytes / 1e6),
      "fold.write_mb" -> med(_._2),
      "fold.write_amp" -> med(f => f._2 * 1e6 / f._3),
      "compact.wall_s" -> compact.seconds,
      "compact.write_mb" -> compactMb,
      "state.mb" -> chainBytes(dir) / 1e6,
      "seed.wall_s" -> tracer.named("seed").head.seconds,
      "seed.write_mb" -> dirBytes(java.nio.file.Paths.get(dir, "gen-00000000")) / 1e6,
      "ingest.pair_f1" -> q.f1)
  }

  /** Bytes of the generations the current state reads: CURRENT and its
    * PARENT chain.
    */
  private def chainBytes(dir: String): Long = {
    var gen: Option[java.nio.file.Path] = Some(java.nio.file.Paths.get(StreamIngest.currentDir(dir)))
    var total = 0L
    while (gen.isDefined) {
      val g = gen.get
      total += dirBytes(g)
      val parent = g.resolve("PARENT")
      gen = if (java.nio.file.Files.exists(parent))
        Some(java.nio.file.Paths.get(dir, java.nio.file.Files.readString(parent).trim))
      else None
    }
    total
  }
}
