package graft

import org.apache.spark.sql.SparkSession

/** Per-query isolation bench (guide §1.4) — NOT the driver's harness.
  * [[Bench]] is frozen for measurement; this main exists so optimization
  * rounds can (a) time individual queries with the same session config and
  * the same `.count()` action the driver uses, repeated warm, and (b) dump
  * `.explain("formatted")` for plan-diff evidence, without touching the
  * hashed harness.
  *
  * Env:
  *   SPARK_GRAFT_SF_DIR      table dir (default /root/testdata/sf0.1)
  *   SPARK_GRAFT_CPUS        local[N] (default: the JVM's available
  *                           processors, so an unset variable never
  *                           oversubscribes the host)
  *   GRAFT_BENCHX_ONLY       comma-separated query subset (default: all)
  *   GRAFT_BENCHX_REPS       timed repetitions per query (default 2)
  *   GRAFT_BENCHX_PLANDIR    if set, write <query>.txt explain(formatted)
  *   GRAFT_BENCHX_OUT        if set, write the JSON line to this file too
  *   GRAFT_BENCHX_EVENTLOG   if set, write Spark event logs to this dir;
  *                           jobs carry the description `benchx:<query>`
  *                           and the local property `graft.benchx.rep`
  *                           (tools/jobs_per_query.py counts them)
  *
  * Output: one JSON line {"queries":{name:[sec,...]},"sf":...} — every rep
  * is reported (rep 1 carries the session's cold caches, like the driver's
  * alphabetical sweep does for its first consumer).
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val reps = sys.env.getOrElse("GRAFT_BENCHX_REPS", "2").toInt
    val planDir = sys.env.get("GRAFT_BENCHX_PLANDIR")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.local.dir", sys.env.getOrElse("SPARK_LOCAL_DIRS",
        if (new java.io.File("/dev/shm").canWrite) "/dev/shm/spark-graft"
        else System.getProperty("java.io.tmpdir")))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // GRAFT_BENCHX_EVENTLOG=<dir>: write Spark event logs for offline
    // job/stage attribution (the UI is disabled in the bench protocol)
    sys.env.get("GRAFT_BENCHX_EVENTLOG").foreach { d =>
      new java.io.File(d).mkdirs()
      // uncompressed (Spark 4 defaults to zstd), so plain JSON-lines
      // readers like tools/jobs_per_query.py can parse it
      builder.config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", d)
        .config("spark.eventLog.compress", "false")
    }
    val spark = builder
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    planDir.foreach(d => new java.io.File(d).mkdirs())
    // GRAFT_BENCHX_ONLY order is respected (warm-up / cold-attribution
    // experiments depend on it); the full sweep stays alphabetical like
    // the driver's
    val names = sys.env.get("GRAFT_BENCHX_ONLY") match {
      case Some(list) =>
        list.split(',').map(_.trim).filter(SparkEntry.queries.contains).toSeq
      case None => SparkEntry.queries.keys.toSeq.sorted
    }
    val results = names.map { name =>
      val fn = SparkEntry.queries(name)
      planDir.foreach { d =>
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(d, s"$name.txt"), plan)
      }
      val times = (1 to reps).map { rep =>
        spark.sparkContext.setJobDescription(s"benchx:$name")
        spark.sparkContext.setLocalProperty("graft.benchx.rep", rep.toString)
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      spark.sparkContext.setJobDescription(null)
      spark.sparkContext.setLocalProperty("graft.benchx.rep", null)
      System.err.println(f"[benchx] $name%-24s ${times.map(t => f"$t%.2f").mkString(" ")}")
      name -> times
    }
    val qs = results.map { case (k, v) =>
      "\"" + k + "\":" + v.map(t => f"$t%.3f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val line = s"""{"queries":$qs,"sf":"$sfDir","cpus":$cpus,"reps":$reps}"""
    println(line)
    sys.env.get("GRAFT_BENCHX_OUT").foreach(f =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(f), line + "\n"))
    spark.stop()
  }
}
