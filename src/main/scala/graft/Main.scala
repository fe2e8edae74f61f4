package graft

import graft.model.{Doc, Span}
import graft.pipeline.{GraftConfig, Pipeline}
import graft.sinks.{FileActions, Report}
import graft.sources.MediaSource
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** spark-submit front door mirroring the reference CLI
  * (`/root/reference/cmd/dedupe/main.go:30-95,164-236`):
  *
  *   spark-submit --class graft.Main graft.jar \
  *     [--recursive] [--search] [--hash dct|dhash] [--threshold N] \
  *     [--csv DIR|-] [--move DIR|--copy DIR|--delete|--delete-all] \
  *     [--output] [--quiet] [--verbose] [--version] \
  *     <image|dir|-> [<image|dir> ...]
  *
  * Semantics preserved from the reference:
  *  - first arg is an image and no --search → targeted compare (E2): which
  *    of the remaining images/dirs duplicate it;
  *  - otherwise full dedup (E1): block → score → cluster over every image
  *    found, one CSV row per duplicate group, keeper (min path) first;
  *  - `-` as an argument reads whitespace-separated targets from stdin
  *    (the reference's list source);
  *  - --threshold overrides the hash radius (F4); --hash picks dct
  *    (radius 22) or dhash (radius 10) — `hash/hash.go:29-39`;
  *  - --move/--copy relocate every member of each group into a per-group
  *    directory; --delete removes all but the keeper; --delete-all removes
  *    every member (`cmd/dedupe/main.go:208-236`);
  *  - exit 0 when duplicates were found, 1 when none (the reference returns
  *    an error for the no-duplicates case so callers can branch on it);
  *  - --output/-o prints result rows only (info → discard, main.go:176-180),
  *    --quiet/-q prints nothing, -v/--verbose enables info logging,
  *    --version prints `v<version>` and exits 0.
  *
  * Everything is dataflow: directory listing is the distributed binaryFile
  * index, survivorship is an anti-join plan, file actions run as a
  * mapPartitions sink — the driver never walks directories or loops groups.
  */
object Main {

  /** Library version, printed by --version (the reference prints
    * `v<utils.Version>`, main.go:106-113).
    */
  val Version = "0.5.0"

  final case class CliConfig(
      targets: Seq[String] = Vector.empty,
      recursive: Boolean = false,
      search: Boolean = false,
      hashName: String = "dct",
      threshold: Int = 0,
      csvOut: String = "", // "" = print groups to stdout; else a directory for the CSV sink
      moveTo: String = "",
      copyTo: String = "",
      delete: Boolean = false,
      deleteAll: Boolean = false,
      // reference output tiers (main.go:63-77,176-199): --output/-o keeps
      // the result rows but routes info lines to /dev/null (pipe-friendly);
      // --quiet/-q suppresses info AND rows (exit code only); --verbose/-v
      // turns info logging on; --version prints the version and exits.
      output: Boolean = false,
      quiet: Boolean = false,
      verbose: Boolean = false,
      version: Boolean = false,
      // graft extensions beyond the reference CLI: resumable stage
      // checkpointing (TableIO), optionally with bucketed state tables so
      // a later incremental fold's id joins read co-located
      checkpointDir: String = "",
      bucketed: Boolean = false) {
    /** Reference gate for info lines (`output || quiet` → discard). */
    def suppressInfo: Boolean = output || quiet
  }

  val usage: String =
    """usage: graft.Main [--recursive] [--search] [--hash dct|dhash] [--threshold N]
      |                  [--csv DIR|-] [--move DIR|--copy DIR|--delete|--delete-all]
      |                  [--checkpoint DIR [--bucketed]]
      |                  [--output] [--quiet] [--verbose] [--version]
      |                  <image|dir|-> [<image|dir> ...]""".stripMargin

  /** Pure argument parser (no I/O except the lazily-read stdin for `-`). */
  def parse(args: Seq[String], stdin: => Iterator[String]): Either[String, CliConfig] = {
    @annotation.tailrec
    def loop(rest: List[String], acc: CliConfig): Either[String, CliConfig] = rest match {
      case Nil => Right(acc)
      case ("--recursive" | "-r") :: t => loop(t, acc.copy(recursive = true))
      case "--search" :: t => loop(t, acc.copy(search = true))
      case ("--quiet" | "-q") :: t => loop(t, acc.copy(quiet = true))
      case "--output" :: t => loop(t, acc.copy(output = true))
      case "-o" :: t =>
        // transition guard: -o took a CSV path before the reference-parity
        // change made it boolean. An old-style `-o /reports/dups.csv
        // /photos` invocation now parses CLEANLY with the path joining the
        // scan targets — which --delete/--move would then act on. Make the
        // reinterpretation loud (stderr: never mixes into the rows-only
        // stdout this flag selects) for ANY pathlike next token: an
        // existing directory, an existing file, OR a not-yet-existing
        // .csv destination (the commonest old-style spelling).
        t.headOption.filter(p => !p.startsWith("-") &&
            (new java.io.File(p).exists() ||
              p.toLowerCase.endsWith(".csv"))).foreach { p =>
          System.err.println(s"[graft] note: -o is now the boolean rows-only " +
            s"output flag (reference semantics); '$p' will be scanned as a " +
            s"TARGET. To write a CSV file use --csv <path>.")
        }
        loop(t, acc.copy(output = true))
      case ("--verbose" | "-v") :: t => loop(t, acc.copy(verbose = true))
      case "--version" :: t => loop(t, acc.copy(version = true))
      case "--hash" :: h :: t if h == "dct" || h == "dhash" => loop(t, acc.copy(hashName = h))
      case "--hash" :: h :: _ => Left(s"unknown hash type '$h' (dct, dhash)")
      case "--threshold" :: v :: t =>
        // Try, not an isDigit guard: "99999999999" and non-ASCII Unicode
        // digits pass isDigit but blow up toInt — that must be a usage
        // error (exit 2), never an uncaught crash (exit 1 = "no dups")
        scala.util.Try(v.toInt).toOption.filter(_ >= 0) match {
          case Some(n) => loop(t, acc.copy(threshold = n))
          case None => Left(s"invalid --threshold '$v' (expected a non-negative int)\n$usage")
        }
      case "--checkpoint" :: p :: t => loop(t, acc.copy(checkpointDir = p))
      case "--bucketed" :: t => loop(t, acc.copy(bucketed = true))
      // NOTE: -o is the reference's boolean output flag (above), NOT an
      // alias for --csv — graft's file sink is its own extension flag
      case "--csv" :: p :: t => loop(t, acc.copy(csvOut = p))
      case ("--move" | "-m") :: p :: t => loop(t, acc.copy(moveTo = p))
      case ("--copy" | "-c") :: p :: t => loop(t, acc.copy(copyTo = p))
      case ("--delete" | "-d") :: t => loop(t, acc.copy(delete = true))
      case "--delete-all" :: t => loop(t, acc.copy(delete = true, deleteAll = true))
      case "-" :: t => loop(t, acc.copy(targets = acc.targets :+ "-"))
      // a known value-taking flag given as the LAST token fails the
      // two-element patterns above; without this case it would read as
      // "unknown flag" (--csv)
      case f :: Nil if Set("--hash", "--threshold", "--checkpoint",
          "--csv", "--move", "-m", "--copy", "-c")(f) =>
        Left(s"flag $f requires a value\n$usage")
      case f :: _ if f.startsWith("--") => Left(s"unknown flag $f\n$usage")
      case f :: t => loop(t, acc.copy(targets = acc.targets :+ f))
    }
    loop(args.toList, CliConfig())
      .map { acc =>
        // stdin list source (reference cmd/dedupe/main.go:110-117): when `-`
        // appears ANYWHERE among the targets, the whitespace-separated stdin
        // list REPLACES the positional targets entirely (slices.Contains
        // semantics — positional args alongside `-` are ignored)
        if (acc.targets.contains("-"))
          acc.copy(targets = stdin.flatMap(_.split("\\s+")).filter(_.nonEmpty).toVector)
        else acc
      }
      // --version needs no targets (the reference prints and exits before
      // the "no arguments provided" check, main.go:106-118)
      .filterOrElse(c => c.version || c.targets.nonEmpty, s"no targets provided\n$usage")
      .filterOrElse(c => !(c.bucketed && c.checkpointDir.isEmpty),
        s"--bucketed requires --checkpoint DIR\n$usage")
  }

  /** Stage-checkpoint wiring from the CLI flags: plain-parquet TableIO for
    * --checkpoint, bucketed state tables (assignments/clusters by doc_id,
    * bands by block_key — the co-location later incremental folds ride)
    * when --bucketed is also given.
    */
  private def checkpointIoOf(spark: SparkSession, cli: CliConfig)
      : Option[graft.pipeline.TableIO] =
    if (cli.checkpointDir.isEmpty) None
    else if (cli.bucketed)
      Some(new graft.pipeline.BucketedParquetTableIO(cli.checkpointDir,
        buckets = graft.pipeline.Parallelism.width(spark)))
    else Some(new graft.pipeline.ParquetTableIO(cli.checkpointDir))

  private val imageExts = Seq(".png", ".jpg", ".jpeg")

  /** Hadoop-FS target classification: works for local paths AND remote URIs
    * (hdfs://, s3a://) — java.io.File would silently drop remote targets
    * while the sink layer ships the Hadoop conf precisely to support them.
    * One driver-side status call per explicit CLI target.
    */
  private def fsStatus(spark: SparkSession, p: String): Option[org.apache.hadoop.fs.FileStatus] = {
    val path = new org.apache.hadoop.fs.Path(p)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) Some(fs.getFileStatus(path)) else None
  }
  /** Case-SENSITIVE like the directory scan's ImageGlob (and the
    * reference's `filepath.Ext` equality) — a case-insensitive check here
    * would accept CAT.JPG as an explicit target while the scan never
    * discovers such files, a silent asymmetry.
    */
  private def isImageFile(spark: SparkSession, p: String): Boolean =
    imageExts.exists(p.endsWith) && fsStatus(spark, p).exists(_.isFile)
  /** Canonical form for local paths (resolves `..` and symlinks — an alias
    * like photos/../photos/x.jpg must get the SAME doc_id as the scanned
    * /abs/photos/x.jpg, or exact-dedup clusters the two aliases and
    * --delete destroys the only physical copy); remote URIs pass through.
    */
  private def canonical(p: String): String =
    if (p.contains("://")) p
    else try new java.io.File(p).getCanonicalPath
    catch { case _: java.io.IOException => new java.io.File(p).getAbsolutePath }

  /** GraftConfig for the CLI's media-only pipeline: dct/dhash radius with
    * the reference defaults, --threshold override (strict `<`, F4).
    */
  def graftConfig(cli: CliConfig): GraftConfig = {
    val useDct = cli.hashName == "dct"
    val defaultThreshold = if (useDct) 22 else 10
    GraftConfig(useDct = useDct,
      mediaThreshold = if (cli.threshold > 0) cli.threshold else defaultThreshold)
  }

  /** Targets → Dataset[Doc]: directories become distributed binaryFile
    * scans, explicit image paths become single-span docs. doc_id = path.
    */
  def collectDocs(spark: SparkSession, cli: CliConfig): Dataset[Doc] = {
    import spark.implicits._
    val classified = cli.targets.map(t => (t, fsStatus(spark, t)))
    classified.collect { case (t, None) => t }.foreach(t =>
      System.err.println(s"[graft] skipping missing target: $t"))
    val dirs = classified.collect { case (t, Some(st)) if st.isDirectory => t }
    val imageFiles = classified.collect {
      case (t, Some(st)) if st.isFile && imageExts.exists(t.endsWith) => t
    }
    val dirDocs = dirs.map(d =>
      MediaSource.asDocs(spark, MediaSource.scanImages(spark, d, cli.recursive)))
    val fileDocs =
      if (imageFiles.isEmpty) None
      else Some(spark.createDataset(imageFiles.map { p =>
        val c = canonical(p)
        Doc(c, Seq(Span.media(c, 0)))
      }))
    // overlapping targets (dir dir, or a file also inside a scanned dir)
    // must not enter the pipeline twice: duplicate doc_ids make every
    // singleton read as a 2-member "duplicate group" and double-plan
    // destructive actions
    (dirDocs ++ fileDocs).reduceOption(_ union _)
      .getOrElse(spark.emptyDataset[Doc])
      .dropDuplicates("doc_id")
  }

  /** E1: duplicate groups over every target image —
    * (cluster_id, n_members, members) for multi-member clusters, eagerly
    * materialized so the pipeline's cached stage tables can be released
    * before returning (long-lived sessions would otherwise accumulate
    * storage memory per call). NOTE: `members` is display-capped by
    * Report.groups' maxMembers — action planning inside [[run]] uses the
    * uncapped cluster relation, never this.
    */
  def duplicateGroups(spark: SparkSession, cli: CliConfig): DataFrame = {
    val result = Pipeline.run(spark, collectDocs(spark, cli), graftConfig(cli),
      checkpoint = checkpointIoOf(spark, cli))
    val groups = Report.groups(result.clusters).localCheckpoint(true)
    result.release()
    groups
  }

  /** E2: paths among `candidates` that duplicate the single target image. */
  def compareTarget(spark: SparkSession, cli: CliConfig): DataFrame = {
    val target = canonical(cli.targets.head)
    val rest = cli.copy(targets = cli.targets.tail)
    val targetDoc = Doc(target, Seq(Span.media(target, 0)))
    Pipeline.compare(spark, targetDoc, collectDocs(spark, rest), graftConfig(cli))
  }

  private def cliAction(cli: CliConfig): Option[(String, String, Boolean)] =
    if (cli.moveTo.nonEmpty) Some(("move", cli.moveTo, true))
    else if (cli.copyTo.nonEmpty) Some(("copy", cli.copyTo, true))
    else if (cli.delete) Some(("delete", "", !cli.deleteAll))
    else None

  /** Plan + execute one file action; returns the failure count. */
  private def runActions(spark: SparkSession, members: DataFrame,
                         kind: String, dest: String, keepFirst: Boolean,
                         minGroupSize: Int, suppressInfo: Boolean,
                         out: java.io.PrintStream): Int = {
    // eager checkpoint: the mapPartitions sink is SIDE-EFFECTING, so it
    // must execute exactly once — a second action on the raw plan would
    // re-run every move/copy/delete
    val results = FileActions.execute(spark,
      FileActions.plan(members, kind, dest, keepFirst, minGroupSize)).localCheckpoint(true)
    val failed = results.filter(!_.ok).collect()
    failed.foreach(r => System.err.println(s"[graft] $kind failed: ${r.src}: ${r.error}"))
    val verb = kind match {
      case "copy" => "copied"
      case "delete" => "deleted"
      case k => k + "d"
    }
    if (!suppressInfo) out.println(s"${results.count() - failed.length} files $verb")
    failed.length
  }

  private def emitRows(groups: DataFrame, cli: CliConfig,
                       out: java.io.PrintStream): Long = {
    if (cli.csvOut.nonEmpty && cli.csvOut != "-") {
      // sink path: the report never rides through the driver — persist the
      // groups relation so the count (exit-code decision) and the CSV write
      // compute it once, and collect nothing
      groups.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = groups.count()
      if (n > 0) Report.writeGroupsCsv(groups, cli.csvOut, coalesce1 = true)
      groups.unpersist()
      n
    } else if (cli.quiet) {
      // reference --quiet: rows AND info are discarded — only the exit
      // code speaks (main.go:176-199 routes the csv writer to /dev/null);
      // nothing is collected, the count is the only job
      groups.count()
    } else {
      // stdout path (the reference CLI's default, and --output's rows-only
      // mode): the report is printed, so a driver collect is inherent;
      // fields quoted like the CSV sink
      val rows = groups.select(col("cluster_id").cast("string"),
          Report.csvRow(col("members")).as("row"))
        .orderBy("cluster_id")
      val collected = rows.select("row").collect().map(_.getString(0))
      collected.foreach(out.println)
      collected.length.toLong
    }
  }

  /** Execute the parsed CLI against a session. Exit codes: 0 = duplicates
    * found (and every requested action succeeded), 1 = no duplicates (the
    * reference returns an error here so callers can branch), 2 = usage
    * error (from [[main]]), 3 = duplicates found but one or more file
    * actions FAILED — mirroring the reference's errors.Join(err) nonzero
    * exit; a cleanup script must not read all-actions-failed as success.
    * 4 = unexpected runtime error (caught in [[main]] — never conflated
    * with 1).
    */
  def run(spark: SparkSession, cli: CliConfig,
          out: java.io.PrintStream = System.out): Int = {
    import spark.implicits._
    val compareMode = isImageFile(spark, cli.targets.head) && !cli.search

    if (compareMode) {
      if (cli.checkpointDir.nonEmpty)
        System.err.println(
          "[graft] --checkpoint/--bucketed are ignored in targeted-compare mode " +
            "(stage checkpointing applies to the full-dedup pipeline only)")
      val dups = compareTarget(spark, cli).select("doc_id")
        .collect().map(_.getString(0)).sorted
      if (dups.isEmpty) {
        if (!cli.suppressInfo) out.println("No duplicate images found")
        return 1
      }
      if (!cli.suppressInfo)
        out.println(s"These ${dups.length} images are duplicates of ${canonical(cli.targets.head)}")
      val groupsDf = Seq(("target", dups.length.toLong, dups.toSeq))
        .toDF("cluster_id", "n_members", "members")
      emitRows(groupsDf, cli, out)
      // reference compare-mode actions (main.go:208-236 over the single
      // results group): they apply to the DUPLICATES only — never the
      // target — keep-first keeps the first duplicate, and a 1-duplicate
      // group is still acted on (hence minGroupSize = 1)
      val failures = cliAction(cli).map { case (kind, dest, keepFirst) =>
        val members = dups.toSeq.toDF("doc_id")
          .select(col("doc_id"), lit("target").as("cluster_id"),
            col("doc_id").as("path"))
        runActions(spark, members, kind, dest, keepFirst, 1, cli.suppressInfo, out)
      }.getOrElse(0)
      if (failures > 0) 3 else 0
    } else {
      val result = Pipeline.run(spark, collectDocs(spark, cli), graftConfig(cli),
        checkpoint = checkpointIoOf(spark, cli))
      try {
        val clusters = result.clusters
          .select(col("doc_id").cast("string").as("doc_id"),
            col("cluster_id").cast("string").as("cluster_id"))
          .localCheckpoint(true) // consumed by report AND action plan
        val groups = Report.groups(clusters).localCheckpoint(true)
        // reference header (main.go:190): total = duplicate MEMBERS, and it
        // prints BEFORE the rows — an info line, so --output/-q drop it
        if (!cli.suppressInfo) {
          val total = groups.agg(sum(col("n_members"))).collect()(0)
          if (!total.isNullAt(0) && total.getLong(0) > 0)
            out.println(s"These ${total.getLong(0)} images are duplicates")
        }
        if (emitRows(groups, cli, out) == 0) {
          if (!cli.suppressInfo) out.println("No duplicate images found")
          return 1
        }
        // actions plan from the UNCAPPED cluster relation — the report's
        // maxMembers display cap must never truncate a delete plan
        val failures = cliAction(cli).map { case (kind, dest, keepFirst) =>
          val members = clusters.withColumn("path", col("doc_id"))
          runActions(spark, members, kind, dest, keepFirst, 2, cli.suppressInfo, out)
        }.getOrElse(0)
        if (failures > 0) 3 else 0
      } finally result.release()
    }
  }

  def main(args: Array[String]): Unit = {
    parse(args.toIndexedSeq, scala.io.Source.stdin.getLines()) match {
      case Left(err) =>
        System.err.println(err)
        sys.exit(2)
      case Right(cli) if cli.version =>
        // reference main.go:106-113: print the version and exit cleanly
        // BEFORE any engine spin-up
        println(s"v$Version")
        sys.exit(0)
      case Right(cli) =>
        val spark = SparkSession.builder()
          .appName("graft-dedupe")
          .config("spark.sql.adaptive.enabled", "true")
          // SQL function registry + the Hamming-join optimizer rule
          .withExtensions(new graft.functions.GraftExtensions)
          .getOrCreate()
        // reference -v/--verbose (main.go:122-129): info-level logging on
        // request, warnings otherwise
        spark.sparkContext.setLogLevel(if (cli.verbose) "INFO" else "WARN")
        // a crash must NOT exit 1 — that code means "no duplicates found"
        // and a cleanup script branching on it would read the failed run as
        // a clean no-dup result; unexpected errors get their own code (4)
        val code =
          try run(spark, cli)
          catch {
            case e: Throwable =>
              System.err.println(s"[graft] error: ${e.getClass.getSimpleName}: ${e.getMessage}")
              4
          }
        spark.stop()
        sys.exit(code)
    }
  }
}
