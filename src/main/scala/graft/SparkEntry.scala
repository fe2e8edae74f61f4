package graft

import graft.media.SynthMedia
import graft.model.{Doc, Span}
import graft.pipeline.{Canopy, CappedSlices, Components, GraftConfig, Pipeline, Swoosh}
import graft.pipeline.Parallelism.{spread, widen, width}
import graft.text.{JaroWinkler, MinHash, SimHash, TextStats, Tokenize}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — one `queries` entry per implemented operator
  * (SURVEY.md §2 + the training-data-pipeline additions), with DuckDB
  * oracle SQL wherever the semantics are ANSI-SQL-expressible.
  *
  * Parity conventions (so the driver's value-hash compare is exact):
  *  - every aggregate/computed column is aliased identically in both;
  *  - double aggregations go through DECIMAL sums (order-independent,
  *    engine-independent) before the final cast to double;
  *  - every query ends in a total ORDER BY;
  *  - 60-bit hashes derive from md5 hex (identical in both engines).
  */
object SparkEntry {

  private[graft] def docsTable(spark: SparkSession, dir: String): DataFrame =
    fixtureTable(spark, s"$dir/documents.parquet")
  private def embTable(spark: SparkSession, dir: String): DataFrame =
    fixtureTable(spark, s"$dir/embeddings.parquet")

  /** A fixture table read with its parquet schema inferred once per
    * session and table generation: inference spends one Spark job per
    * read, and most queries read a table more than once. The key is the
    * table's file listing ([[tableKey]]), so a table rewritten in place,
    * with a new schema or not, is inferred again.
    */
  private def fixtureTable(spark: SparkSession, path: String): DataFrame = {
    val schema = SessionCache.value(spark, "fixtureSchema", (path, tableKey(spark, path, 0L))) {
      spark.read.parquet(path).schema
    }
    spark.read.schema(schema).parquet(path)
  }

  /** Digest of a table's data files (name, length, modification time),
    * seeded with `seed`: it changes whenever the table is rewritten. One
    * file-system listing, no Spark job.
    */
  private def tableKey(s: SparkSession, path: String, seed: Long): Long = {
    val tablePath = new org.apache.hadoop.fs.Path(path)
    val hfs = tablePath.getFileSystem(s.sparkContext.hadoopConfiguration)
    hfs.listStatus(tablePath)
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
      .sortBy(_.getPath.getName)
      .foldLeft(seed) { (acc, st) =>
        graft.text.Hashing.hash64(
          s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}", acc)
      }
  }

  /** American Soundex (census rule) of an UPPER-CASE word, as the same
    * translate/regexp chain the DuckDB oracle runs — see q_soundex_blocks.
    * Run collapse is one replace per digit: the oracle's RE2 has no
    * backreferences, and runs are single-digit so the per-digit passes
    * compose exactly. Position 1 keeps its code char (even the h/w marker
    * 9) so a leading H/W does not shift the second letter's code into the
    * first-position drop.
    */
  private def soundexCol(w: Column): Column = {
    val m = translate(w, "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "01230129022455012623019202")
    val m1 = concat(substring(m, 1, 1),
      regexp_replace(m.substr(lit(2), length(m)), "9", ""))
    val collapsed = (1 to 6).foldLeft(m1)((c, d) =>
      regexp_replace(c, s"$d$d+", d.toString))
    val digits = regexp_replace(collapsed.substr(lit(2), length(collapsed)), "0", "")
    substring(concat(substring(w, 1, 1), digits, lit("000")), 1, 4)
  }

  /** 64-d float embedding → 63-bit sign hash (bit i set iff v(i) > 0);
    * random-hyperplane-LSH style signature, SQL-expressible in both engines.
    */
  private def signHash(c: Column): Column =
    aggregate(zip_with(slice(c, 1, 63), sequence(lit(0), lit(62)),
        (v, i) => when(v > lit(0.0f), call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))),
      lit(0L), (acc, v) => acc.bitwiseOR(v))

  /** Dot product over fixed-width (64-d) embeddings, unrolled into 64
    * codegen'd element_at products. Left-to-right addition order is the same
    * sequential fold as DuckDB's list_sum(list_transform(...)), so the
    * resulting doubles are bit-identical to the oracle — while running in
    * whole-stage codegen instead of the interpreted higher-order-function
    * path (~10× on the all-pairs joins).
    */
  private val EmbDim = 64
  private def dotCol(a: Column, b: Column): Column =
    (0 until EmbDim).map(i =>
      element_at(a, i + 1).cast("double") * element_at(b, i + 1).cast("double"))
      .reduceLeft(_ + _)

  private def normCol(a: Column): Column =
    sqrt((0 until EmbDim).map { i =>
      val v = element_at(a, i + 1).cast("double"); v * v
    }.reduceLeft(_ + _))

  /** Round-6 cosine of two embedding columns (the IVF rescoring measure). */
  private def cosRound(a: Column, b: Column): Column =
    round(dotCol(a, b) / (normCol(a) * normCol(b)), 6)

  /** Banded-MinHash blocking for the string-scorer query family
    * (q_lev_pairs, q_jw_pairs, q_ngram_jaccard, levEdges → CC/report/
    * survivorship). Round 2 blocked these on (lang, len-bucket, 4-char
    * prefix); BASELINE.md's census showed that key family's max block size
    * growing 2.8× per 10× docs (vocabulary saturation — a quadratic regime
    * at 100 TB). These keys are 4 bands × 3 rows of a 12-function MinHash
    * over 8-char character shingles of the first 120 chars; base hash =
    * 28 bits of md5 hex, rows = affine transforms mod a <2³⁰ prime (all
    * arithmetic stays < 2⁶³ — overflow-free in BOTH engines). Candidacy
    * (shares ≥ 1 band) is DEFINED identically in the DuckDB oracles (the
    * LSH-candidacy-contract pattern proven on q_embed_near_dup), so the
    * engines agree bit-exactly by construction.
    *
    * Measured (DuckDB, all-pairs ground truth lev<15 on 60-char prefixes):
    * recall 25/25 at sf0.01 and 256/256 at sf0.1 — versus the prefix key's
    * 6/25 — with max band-block size 3 → 7 (flat) and ~0.1 candidates/doc.
    */
  private[graft] val SBandP = 1073741789L // prime < 2^30
  private[graft] val SBandAB: IndexedSeq[(Long, Long)] = Vector(
    (686579304L, 119540831L), (26855093L, 796233790L), (295310486L, 262950628L),
    (239670712L, 149827706L), (790779947L, 110053353L), (726600540L, 795285932L),
    (957970517L, 585582861L), (93349857L, 634036506L), (453035111L, 34126396L),
    (31994524L, 100604502L), (234760739L, 249817734L), (542621109L, 646412689L))

  /** Position-tagged band keys (array of 4 strings) for one text column.
    *
    * ONE udf call per document: a column-expression formulation
    * (12 × array_min(transform(..md5..))) re-evaluates the interpreted
    * higher-order md5 pass per hash function — measured 25-30 s per query
    * at sf0.1 vs ~1 s for this kernel. The kernel reproduces the SQL
    * definition bit-for-bit: shingle i (1-based, 8 chars, shorter only when
    * the whole text is < 8 chars) → md5 → first 7 hex chars as a 28-bit
    * int (= top 28 bits of the digest) → 12 affine mins mod SBandP →
    * "pos:m:m:m" keys. Indexing is by Unicode CODE POINTS to match SQL
    * `substr` in both engines (Spark's UTF8String and DuckDB both count
    * code points) — UTF-16 indexing would silently desync band parity on
    * any non-BMP text (emoji, CJK ext-B); BandParitySpec pins the
    * non-ASCII case against the Spark-SQL-expression derivation.
    */
  private val sBandUdf = udf { (text: String) =>
    val full = if (text == null) "" else text
    val cps = full.codePoints().toArray
    val len = math.min(120, cps.length)
    val n = math.max(len - 7, 1)
    val md = java.security.MessageDigest.getInstance("MD5")
    val mins = Array.fill(12)(Long.MaxValue)
    var i = 0
    while (i < n) {
      md.reset()
      val d = md.digest(new String(cps, i, math.min(8, len - i)).getBytes("UTF-8"))
      val h = ((d(0) & 0xffL) << 20) | ((d(1) & 0xffL) << 12) |
        ((d(2) & 0xffL) << 4) | ((d(3) & 0xffL) >>> 4)
      var j = 0
      while (j < 12) {
        val v = (SBandAB(j)._1 * h + SBandAB(j)._2) % SBandP
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    Array.tabulate(4)(b => s"$b:${mins(3 * b)}:${mins(3 * b + 1)}:${mins(3 * b + 2)}")
  }

  private[graft] def sBandKeys(text: Column): Column = sBandUdf(text)

  /** The DISTINCT 8-char character shingles of the first 120 chars — the
    * exact set family the 12-function MinHash behind [[sBandKeys]] sketches
    * (same window, same shingle width, pre-hash). Queries that claim to
    * audit or exactly reproduce the banded candidacy (q_prefix_join,
    * q_minhash_err) must measure Jaccard on THIS set, not on word unigrams:
    * the synthetic corpus has a ~126-word vocabulary, so unigram blocks
    * saturate (measured 34M candidate pairs at sf0.1), while the shingle
    * vocabulary grows with the corpus and keeps blocks small. Pure
    * substring HOF — cheap per element, unlike the md5-per-element trap
    * documented on [[sBandKeys]].
    */
  private[graft] def shingleSet(text: Column): Column = {
    val t = substring(text, 1, 120)
    array_distinct(transform(
      sequence(lit(1), greatest(length(t) - 7, lit(1))),
      i => t.substr(i, lit(8))))
  }

  /** The THRESHOLD-INDEPENDENT half of the PPJoin prefix: per doc, the
    * ascending-(df, token) ordered shingle list and its size. Extracted so
    * the df census + ordered-list build (the expensive, thr-free part of
    * the PPJoin) can be derived once and shared across thresholds — the
    * 0.8 (q_prefix_join) and 0.9 (evaluation family) PPJoins previously
    * each rebuilt it (~3 s apiece at sf0.1).
    */
  private def shingleOrd(d: DataFrame): DataFrame = {
    val tok = d.select(col("doc_id"), explode(col("toks")).as("token"))
    // explicit key spread: AQE otherwise coalesces this exchange to a
    // couple of tasks (the token-join output is byte-small) and the
    // collect_list+sort aggregate runs nearly serial
    spread(tok.join(tok.groupBy("token").agg(count(lit(1)).as("df")), "token"), col("doc_id"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("token")))).as("ord"))
      .withColumn("n", size(col("ord")))
  }

  /** The per-threshold prefix explode over a [[shingleOrd]] relation. */
  private def prefixFromOrd(ordRel: DataFrame, thr: Double): DataFrame =
    ordRel
      .withColumn("plen",
        (col("n") - ceil(col("n") * lit(thr) - lit(1e-9)) + lit(1)).cast("int"))
      .select(col("doc_id"), col("n"),
        posexplode(slice(transform(col("ord"), _.getField("token")), lit(1), col("plen"))))
      .withColumnRenamed("col", "ptok")
      .withColumn("pos", col("pos") + 1)

  /** Prefix-block equi-join + positional filter over a [[prefixFromOrd]]
    * relation (doc_id, n, pos, ptok): the candidate (a, b) pairs that can
    * still reach Jaccard ≥ thr.
    */
  private def positionalCandidates(pref: DataFrame, thr: Double): DataFrame =
    // explicit key spread: the prefix-hit relation is the volume peak of
    // the PPJoin (2.23M rows at sf0.1/0.8) but byte-small, so AQE folds
    // the aggregate to ~6 tasks without this
    spread(pref.select(col("doc_id").as("a"), col("ptok"), col("pos").as("ia"), col("n").as("na"))
      .join(pref.select(col("doc_id").as("b"), col("ptok"), col("pos").as("jb"), col("n").as("nb")), Seq("ptok"))
      .filter(col("a") < col("b")), col("a"), col("b"))
      .groupBy("a", "b")
      .agg(min("ia").as("ia"), min("jb").as("jb"), min("na").as("na"), min("nb").as("nb"))
      .filter(least(col("na") - col("ia") + 1, col("nb") - col("jb") + 1).cast("double") >=
        lit(thr / (1.0 + thr)) * (col("na") + col("nb")) - lit(1e-9))
      .select("a", "b")

  /** The one session cache of the query surface: every expensive
    * derivation several queries share (band relation, levEdges, the PPJoin
    * truth, flagship CC, FS vectors, PQ codebooks, ...) is derived once per
    * Spark application through [[SessionCache.value]] or, for relations
    * materialized once for all their consumers, [[SessionCache.pinned]].
    *
    * Contract, for every entry:
    *  - the key is (applicationId, name, key): `name` names the
    *    derivation, so two derivations over equal keys never collide, and
    *    a fresh application derives afresh;
    *  - table dirs are IMMUTABLE within an application (the driver writes
    *    each sf dir once), so entries are never invalidated — rewriting a
    *    dir in-session would serve the pre-rewrite value;
    *  - racing first callers derive once: the map holds an inert lazy cell
    *    per key and only the winning cell evaluates, while unrelated keys
    *    derive in parallel (no map-wide monitor held over a multi-second
    *    derivation);
    *  - pinned relations are localCheckpoint-materialized once, here, and
    *    their blocks live until the application ends; entries whose
    *    SparkContext has stopped are evicted on the next access, so a JVM
    *    that runs applications one after another (the test suite) never
    *    holds pins across them.
    */
  private[graft] object SessionCache {
    private final class Cell(thunk: () => Any) { lazy val value: Any = thunk() }
    private final class Entry(val ctx: org.apache.spark.SparkContext, val cell: Cell)
    private val m = scala.collection.concurrent.TrieMap.empty[(String, String, Any), Entry]

    def value[V](s: SparkSession, name: String, key: Any)(derive: => V): V = {
      m.filterInPlace((_, e) => !e.ctx.isStopped)
      val ctx = s.sparkContext
      // getOrElseUpdate is atomic on TrieMap; only the winning entry's
      // lazy cell ever derives
      m.getOrElseUpdate((ctx.applicationId, name, key), new Entry(ctx, new Cell(() => derive)))
        .cell.value.asInstanceOf[V]
    }

    def pinned(s: SparkSession, name: String, key: Any)(derive: => DataFrame): DataFrame =
      value(s, name, key)(derive.localCheckpoint(true))
  }

  /** Deterministic hash stratum for the bounded evaluator mode: the first
    * 15 md5 hex digits of "esample:" + doc_id as int64 (the bucket recipe
    * q_cluster_split already proved across engines); a doc is IN the
    * 1/k stratum iff bucket % k == 0. Mirrored verbatim by
    * [[sampleSqlPred]] in the oracles.
    */
  private[graft] def sampleBucket(id: Column): Column =
    conv(substring(md5(concat(lit("esample:"), id.cast("string"))), 1, 15), 16, 10)
      .cast("long")
  private[graft] def sampleSqlPred(k: Int, idCol: String = "doc_id"): String =
    s"CAST(('0x' || substr(md5('esample:' || CAST($idCol AS VARCHAR)),1,15)) AS BIGINT) % $k = 0"

  /** Stratum denominator for the brute-force evaluator legs
    * (q_blocking_recall, q_lsh_empirical, q_er_f1_sampled): the evaluators
    * measure a deterministic 1/k md5 stratum ([[sampleBucket]] % k == 0),
    * so their O((N/k)²) truth cost is set by one constant the Spark
    * queries and the dumped oracle SQL ([[sampleSqlPred]]) share — at 100×
    * data, raise k instead of paying 10⁴× work. 2 = the Verify protocol.
    */
  private[graft] val evalSampleK: Int = 2

  /** n_true / n_pred / n_hit plus rounded precision/recall/F1 from two
    * pinned (a, b) pair relations — the pairwise-metric block shared by
    * q_er_f1, q_er_f1_sampled and q_strategy_f1. Ratios are UNROUNDED
    * doubles of exact integer counts, rounded once — identical bits in
    * both engines.
    */
  private def pairwisePrf(truth: DataFrame, pred: DataFrame): DataFrame = {
    val hit = truth.join(pred, Seq("a", "b"), "left_semi")
    // broadcast hints pin the build sides: left to AQE, a one-row side whose
    // runtime size lands first can flip a join's build side and cost one
    // more broadcast job, depending on stage completion order
    truth.agg(count(lit(1)).as("n_true"))
      .crossJoin(broadcast(pred.agg(count(lit(1)).as("n_pred"))))
      .crossJoin(broadcast(hit.agg(count(lit(1)).as("n_hit"))))
      .withColumn("p", when(col("n_pred") > 0, col("n_hit") / col("n_pred")).otherwise(lit(0.0)))
      .withColumn("r", when(col("n_true") > 0, col("n_hit") / col("n_true")).otherwise(lit(0.0)))
      .select(col("n_true"), col("n_pred"), col("n_hit"),
        round(col("p"), 6).as("prec"), round(col("r"), 6).as("rec"),
        round(when(col("p") + col("r") > 0,
          lit(2.0) * col("p") * col("r") / (col("p") + col("r")))
          .otherwise(lit(0.0)), 6).as("f1"))
  }

  /** (a < b) pairs of docs that share a cluster in a (doc_id, cluster_id)
    * assignment — the predicted side of the pairwise evaluators.
    * Quadratic only within a cluster.
    */
  private def sameClusterPairs(assign: DataFrame): DataFrame =
    assign.select(col("doc_id").as("a"), col("cluster_id"))
      .join(assign.select(col("doc_id").as("b"), col("cluster_id")), "cluster_id")
      .filter(col("a") < col("b"))
      .select("a", "b")

  /** ONE pinned [[shingleOrd]] relation per (dir, sampleK) — the thr-free
    * half of the PPJoin, shared by every threshold over the same doc
    * population. The ordered token arrays double as the verify side's
    * token sets (array_intersect is order-insensitive and the lists are
    * distinct by construction), so the PPJoin never re-derives
    * [[shingleSet]] either.
    */
  private def sShingleOrd(s: SparkSession, dir: String, sampleK: Int): DataFrame =
    SessionCache.pinned(s, "shingleOrd", (dir, sampleK)) {
      val all = docsTable(s, dir)
      val base = if (sampleK <= 1) all
        else all.filter(sampleBucket(col("doc_id")) % sampleK === 0)
      // widen: the shingle HOF below is scan-rooted on the one-split table
      val d = widen(base.select("doc_id", "text"))
        .select(col("doc_id"), shingleSet(col("text")).as("toks"))
      shingleOrd(d)
    }

  /** EXACT set-similarity self-join over [[shingleSet]] sets at Jaccard ≥
    * `thr` — PPJoin (Bayardo, Ma & Srikant, WWW'07; Xiao et al., WWW'08)
    * with both lossless filters:
    *
    *  - PREFIX filter: tokens get a global total order by ascending
    *    document frequency (rarest first, ties by token); a doc with n
    *    distinct tokens joins only on its first p = n − ⌈t·n⌉ + 1 ordered
    *    tokens. For a pair with Jaccard ≥ t the overlap o ≥ t·n on BOTH
    *    sides, so the globally-smallest shared token must sit inside both
    *    prefixes (else one side's prefix holds p all-unshared tokens,
    *    forcing o ≤ n − p = ⌈t·n⌉ − 1 < o).
    *  - POSITIONAL filter: that smallest shared token w is exactly the
    *    join match with minimal positions (ia, jb); every shared token
    *    ranks ≥ w on both sides, so o ≤ min(nA−ia+1, nB−jb+1), while
    *    jac ≥ t needs o ≥ t·(nA+nB)/(1+t). Pairs failing the bound are
    *    dropped BEFORE the array_intersect verify (measured at sf0.1:
    *    2.23M prefix candidates → the handful of true near-dups).
    *
    * Both ε=1e-9 slacks err toward KEEPING candidates (longer prefix,
    * looser bound), so double rounding can never prune an integer
    * boundary — candidacy stays lossless and the verify step restores
    * exactness. Scale shape: df is one token-keyed map-side-combined
    * groupBy; the per-doc order is a local sort of the ~113-shingle list
    * (never a global window); the equi-join keys on the RAREST shingles
    * by construction and the shingle vocabulary GROWS with the corpus,
    * so block sizes shrink as data grows — word unigrams here saturated
    * at 126 tokens / 34M candidate pairs / 97 s at sf0.1.
    *
    * Pinned once per (dir, thr, sampleK): the PPJoin is the shared truth
    * generator for q_prefix_join (0.8) and the q_er_f1 / q_bcubed /
    * q_strategy_f1 evaluation family (0.9) — without the pin each consumer
    * re-ran the full prefix+verify derivation (~6 s each at sf0.1, three
    * times per bench sweep).
    *
    * @param sampleK 1 = full corpus (default). k > 1 = the deterministic
    *                1/k hash stratum ([[sampleBucket]]) — the bounded
    *                evaluator mode for real scale: prefix-candidate volume
    *                is quadratic in doc count on saturated vocabularies
    *                (BASELINE census: 131× candidates for 10× docs), so at
    *                100 TB the evaluator family measures a stratum while
    *                production candidacy stays banded. The PPJoin stays
    *                lossless WITHIN the stratum (df order is re-derived on
    *                the stratum, and prefix/positional losslessness holds
    *                for any consistent global token order).
    */
  private[graft] def exactShinglePairs(s: SparkSession, dir: String, thr: Double,
      sampleK: Int = 1): DataFrame =
    SessionCache.pinned(s, "exactShinglePairs", (dir, thr, sampleK)) {
      // the pinned thr-free ordered relation serves the prefix explode AND
      // both verify sides (ord's token list is the distinct shingle set,
      // just df-ordered — intersection sizes are order-insensitive)
      val ordRel = sShingleOrd(s, dir, sampleK)
      val toksOf = transform(col("ord"), _.getField("token"))
      positionalCandidates(prefixFromOrd(ordRel, thr), thr)
        .join(ordRel.select(col("doc_id").as("a"), toksOf.as("tA")), "a")
        .join(ordRel.select(col("doc_id").as("b"), toksOf.as("tB")), "b")
        .withColumn("inter", size(array_intersect(col("tA"), col("tB"))))
        .withColumn("jac", round(col("inter").cast("double") /
          (size(col("tA")) + size(col("tB")) - col("inter")), 6))
        .filter(col("jac") >= thr)
        .select("a", "b", "jac")
    }

  /** ONE pinned band relation per table dir: the exploded (doc_id, band
    * key) rows, materialized once so every consumer — both sides of a
    * self-join AND every subsequent band query in the session — reads the
    * same blocks instead of re-running the md5 band UDF over the corpus
    * (the persist-the-block-relation treatment the pipeline applies,
    * hoisted to the query surface).
    */
  private def sBandRelation(s: SparkSession, dir: String): DataFrame =
    SessionCache.pinned(s, "bandRelation", dir) {
      // not widened: in paired sf0.1 runs (4 cores) the one-split derive
      // and its one-partition pin were faster for the cold derive and for
      // every band-relation leaf than a 64-way spread of the scan
      docsTable(s, dir).select(col("doc_id"), explode(sBandKeys(col("text"))).as("bk"))
    }

  /** Strict-cut (lev < 8) CC over the pinned levEdges — shared by
    * q_threshold_sweep and q_cluster_stability, so the iterative CC over
    * the strict edge set runs once per dir like its loose sibling
    * [[sFlagshipCC]]. Cached, not pinned.
    */
  private def sStrictCC(s: SparkSession, dir: String): DataFrame =
    SessionCache.value(s, "strictCC", dir) {
      Components.connectedComponents(
        levEdges(s, dir).filter(col("d") < 8).select("src", "dst"))(s)
        .withColumnRenamed("cluster_id", "strict_id")
    }

  /** ONE pinned flagship clustering per table dir: CC over the shared
    * band+lev edge contract ([[levEdges]]). Ten query-surface consumers
    * (cluster reports, survivorship, the whole evaluation family)
    * previously each re-ran the candidate join, the levenshtein scoring,
    * AND the iterative CC; the assignment relation is O(docs)-narrow.
    */
  private[graft] def sFlagshipCC(s: SparkSession, dir: String): DataFrame =
    SessionCache.pinned(s, "flagshipCC", dir) {
      Components.connectedComponents(levEdges(s, dir).select("src", "dst"))(s)
    }

  /** ONE pinned (doc_id, pred-cluster `c`, truth-cluster `tt`) evaluation
    * assignment per table dir, shared by the contingency-cell evaluators
    * (q_bcubed, q_ari, q_nmi): truth = CC over the exact shingle-Jaccard ≥
    * 0.9 pairs, predicted = [[sFlagshipCC]], unmatched docs singletons on
    * both sides. Mirrored by [[evalAssignCte]] in both oracles so the two
    * evaluators can never desynchronize.
    */
  private def sEvalAssignment(s: SparkSession, dir: String): DataFrame =
    SessionCache.pinned(s, "evalAssignment", dir) {
        val tcc = Components.connectedComponents(
          exactShinglePairs(s, dir, 0.9).select(col("a").as("src"), col("b").as("dst")))(s)
        val pcc = sFlagshipCC(s, dir)
        docsTable(s, dir).select(col("doc_id"))
          .join(pcc.withColumnRenamed("cluster_id", "c"), Seq("doc_id"), "left")
          .join(tcc.withColumnRenamed("cluster_id", "tt"), Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("c"), col("doc_id")).as("c"),
            coalesce(col("tt"), col("doc_id")).as("tt"))
    }

  /** ONE pinned flagship `Pipeline.run` assignment per (dir, config):
    * q_pipeline_clusters and q_retract_clusters previously each ran the
    * FULL block → score → cluster pipeline from scratch with the identical
    * config — the two slowest bench queries (~5.7 s + 9.9 s at sf0.1 on a
    * quiet box). The retraction query needs the clustering only as its
    * starting state, so both now ride one run. A plain cached value: the
    * O(docs)-narrow assignment must be pinned BEFORE the run's internal
    * state is released, so the pin stays inside the derivation.
    */
  private[graft] def sFlagshipAssignment(s: SparkSession, dir: String,
      cfg: GraftConfig): DataFrame =
    SessionCache.value(s, "flagshipRun", (dir, cfg)) {
      // widen the one-split scan so the signature map parallelizes
      val full = Pipeline.run(s, widen(asDocs(s, dir)), cfg)
      val assign = full.clusters.select("doc_id", "cluster_id").localCheckpoint(true)
      full.release()
      assign
    }

  // one monitor per index root, JVM-wide (bounded: one entry per distinct
  // table generation ever queried)
  private val ivfRootMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** ONE persisted IVF index per table dir: centroids + corpus cell
    * assignment checkpointed as TableIO generation stages
    * (`ivf_centroids` / `ivf_cells`) under a per-table root, resumed from
    * disk by [[graft.ann.Ivf.fitOrLoad]] on every call — the k-means fit
    * and the corpus-wide argmin are paid once per GENERATION, by this
    * session or any later one over the same embeddings table; a later call
    * pays the manifest checks and the k-row centroid read-back. Staleness
    * and concurrency, explicitly:
    *
    *  - the root is [[ivfIndexRoot]], recomputed per call from a FILE
    *    FINGERPRINT of the embeddings parquet, so a table regenerated at
    *    the same path — in this session or another, even with an
    *    unchanged row count — selects a new root and refits; fit params
    *    are mixed in by fitOrLoad from the values actually applied;
    *  - a stage a tmp cleaner deleted has no manifest, so fitOrLoad
    *    rebuilds it;
    *  - an OS file lock under the index root serializes the
    *    check-then-write across JVMs (a Verify run and a test suite over
    *    the same table race Checkpoints.stage otherwise), behind a JVM-wide
    *    monitor per root: FileChannel.lock THROWS
    *    OverlappingFileLockException, it does not wait, when this JVM
    *    already holds the lock, so same-JVM contenders (two sessions, or
    *    concurrent queries over one dir) must be serialized before it.
    *
    * @param emb `dir`'s embeddings table as the caller already read it
    */
  private def sIvfIndex(s: SparkSession, dir: String,
      emb: DataFrame): (graft.ann.Ivf.Model, DataFrame) = {
    val (root, dataKey) = ivfIndexRoot(s, dir)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    ivfRootMonitors.computeIfAbsent(root, _ => new Object).synchronized {
      val lockCh = java.nio.channels.FileChannel.open(
        java.nio.file.Paths.get(root, ".graft_ivf_lock"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      val lock = lockCh.lock()
      try {
        graft.ann.Ivf.fitOrLoad(s, new graft.pipeline.ParquetTableIO(root),
          emb, "embedding", "vec_id", k = 8, dataKey = dataKey)
      } finally {
        lock.release(); lockCh.close()
      }
    }
  }

  /** (index root, data key) of [[sIvfIndex]] for a table dir. The data key
    * is a parquet-file fingerprint — every data file's name:length:mtime,
    * order-stable; O(#files) driver metadata, no data scan — so a
    * regenerated table at the same path changes it even when the row
    * count does not. The root carries user + data key: (a) two users over
    * one table never fight for a world-shared path; (b) a REGENERATED
    * table selects a brand-new root instead of mode("overwrite")-rewriting
    * files a sibling JVM may be lazily scanning — the old root lingers in
    * tmp (bounded by table regenerations), which is the price of never
    * pulling parquet files out from under a reader.
    */
  private[graft] def ivfIndexRoot(s: SparkSession, dir: String): (String, Long) = {
    val dataKey = tableKey(s, s"$dir/embeddings.parquet", graft.text.Hashing.hash64(dir, 0L))
    val dirKey = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    val user = Option(System.getProperty("user.name")).getOrElse("nouser")
      .replaceAll("[^A-Za-z0-9_-]", "_")
    (s"${System.getProperty("java.io.tmpdir")}/graft-ivf-$user-$dirKey-" +
      java.lang.Long.toHexString(dataKey), dataKey)
  }

  /** k-word-gram 60-bit md5 keys for one tokenized doc, ONE udf call per
    * doc (the interpreted transform+md5 column form costs ~4× more — the
    * sBandKeys lesson); "first 15 md5 hex chars" == top 60 bits of the
    * digest, identical to the oracles'
    * CAST('0x'||substr(md5(...),1,15) AS BIGINT). Shared by q_decontam /
    * q_decontam_bloom (k = 13) and q_dup_spans (k = 8).
    */
  private def gramHashUdf(k: Int) = udf { (w: Seq[String]) =>
    if (w == null || w.length < k) Array.empty[Long]
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
      Array.tabulate(w.length - (k - 1)) { i =>
        md.reset()
        val d = md.digest(w.slice(i, i + k).mkString(" ").getBytes("UTF-8"))
        ((d(0) & 0xffL) << 52) | ((d(1) & 0xffL) << 44) | ((d(2) & 0xffL) << 36) |
          ((d(3) & 0xffL) << 28) | ((d(4) & 0xffL) << 20) | ((d(5) & 0xffL) << 12) |
          ((d(6) & 0xffL) << 4) | ((d(7) & 0xffL) >>> 4)
      }
    }
  }

  /** Candidate (a, b) pairs sharing ≥ 1 band: explode → equi-join →
    * distinct. Payload columns are rejoined by id AFTER the distinct —
    * the band shuffle only ever carries (doc_id, band_key) from the
    * shared pinned relation ([[sBandRelation]]).
    */
  private[graft] def sBandCandidates(s: SparkSession, dir: String): DataFrame = {
    val d = sBandRelation(s, dir)
    d.select(col("doc_id").as("a"), col("bk"))
      .join(d.select(col("doc_id").as("b"), col("bk")), Seq("bk"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** DuckDB mirror of [[sBandKeys]]/[[sBandCandidates]]: CTEs `raw`→`m`→`d`
    * (d has band0..band3 + t + toks) and the shared ≥1-band join predicate.
    */
  private val sBandCte: String = {
    val mins = SBandAB.zipWithIndex.map { case ((a, b), j) =>
      s"list_min(list_transform(H, h -> ($a*h + $b) % $SBandP)) AS m$j"
    }.mkString(",\n      ")
    s"""raw AS (
       |  SELECT doc_id, lang, n_chars, substr(text,1,60) AS t,
       |    list_distinct(string_split_regex(trim(substr(text,1,120)), '\\s+')) AS toks,
       |    list_distinct(list_transform(range(1, greatest(length(substr(text,1,120))-7,1)+1),
       |      i -> substr(substr(text,1,120), CAST(i AS INT), 8))) AS shs,
       |    list_transform(range(1, greatest(length(substr(text,1,120))-7,1)+1),
       |      i -> CAST(('0x' || substr(md5(substr(substr(text,1,120), CAST(i AS INT), 8)),1,7)) AS BIGINT)) AS H
       |  FROM documents),
       |m AS (SELECT doc_id, lang, n_chars, t, toks, shs,
       |      $mins
       |      FROM raw),
       |d AS (SELECT doc_id, lang, n_chars, t, toks,
       |        concat_ws(':', 0, m0, m1, m2) AS band0,
       |        concat_ws(':', 1, m3, m4, m5) AS band1,
       |        concat_ws(':', 2, m6, m7, m8) AS band2,
       |        concat_ws(':', 3, m9, m10, m11) AS band3 FROM m)""".stripMargin
  }
  private val sBandCond =
    "(l.band0 = r.band0 OR l.band1 = r.band1 OR l.band2 = r.band2 OR l.band3 = r.band3)"

  /** DuckDB mirror of [[sEvalAssignment]]: the truth transitive closure
    * over brute-force exact shingle-Jaccard >= 0.9 pairs, the predicted CC
    * over the shared band+lev contract, and the singleton-coalesced
    * `assign(doc_id, c, tt)` relation. Interpolated after `$sBandCte`
    * under a WITH RECURSIVE; shared verbatim by the q_bcubed and q_ari
    * oracles so the evaluators cannot desynchronize.
    */
  private val evalAssignCte: String =
    s"""tp AS (
       |  SELECT l.doc_id AS src, r.doc_id AS dst
       |  FROM m l JOIN m r ON l.doc_id < r.doc_id
       |  WHERE round(CAST(len(list_intersect(l.shs, r.shs)) AS DOUBLE) /
       |        (len(l.shs) + len(r.shs) - len(list_intersect(l.shs, r.shs))), 6) >= 0.9),
       |tsym AS (SELECT src AS u, dst AS v FROM tp UNION SELECT dst, src FROM tp),
       |treach(u, v) AS (
       |  SELECT u, v FROM tsym
       |  UNION
       |  SELECT r.u, s.v FROM treach r JOIN tsym s ON r.v = s.u),
       |tcc AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM treach GROUP BY u),
       |e AS (
       |  SELECT l.doc_id AS src, r.doc_id AS dst
       |  FROM d l JOIN d r ON l.doc_id < r.doc_id
       |  WHERE $sBandCond AND levenshtein(l.t, r.t) < 15),
       |sym AS (SELECT src AS u, dst AS v FROM e UNION SELECT dst, src FROM e),
       |reach(u, v) AS (
       |  SELECT u, v FROM sym
       |  UNION
       |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u),
       |cc AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u),
       |assign AS (
       |  SELECT d0.doc_id,
       |         coalesce(p.cluster_id, d0.doc_id) AS c,
       |         coalesce(t.cluster_id, d0.doc_id) AS tt
       |  FROM documents d0
       |  LEFT JOIN cc p ON p.doc_id = d0.doc_id
       |  LEFT JOIN tcc t ON t.doc_id = d0.doc_id)""".stripMargin

  /** The exact-arithmetic ARI tail shared VERBATIM by the q_ari and
    * q_cluster_stability oracles (the SQL mirror of [[ariOf]]): expects a
    * CTE `assign(doc_id, c, tt)` in scope and closes the WITH chain —
    * contingency-cell C(n,2) sums as exact BIGINT, one identically-ordered
    * double expression, den==0 → 1.0, rounded once. Extracted so a fix to
    * the rounding or zero-denominator branch cannot desynchronize the two.
    */
  private val ariSqlTail: String =
    """agg AS (SELECT
      |  (SELECT count(*) FROM assign) AS n_docs,
      |  (SELECT CAST(sum(n * (n - 1) // 2) AS BIGINT)
      |     FROM (SELECT count(*) AS n FROM assign GROUP BY c, tt)) AS sum_cells_c2,
      |  (SELECT CAST(sum(n * (n - 1) // 2) AS BIGINT)
      |     FROM (SELECT count(*) AS n FROM assign GROUP BY c)) AS sum_pred_c2,
      |  (SELECT CAST(sum(n * (n - 1) // 2) AS BIGINT)
      |     FROM (SELECT count(*) AS n FROM assign GROUP BY tt)) AS sum_truth_c2),
      |f AS (SELECT n_docs, sum_cells_c2, sum_pred_c2, sum_truth_c2,
      |        CAST(n_docs AS DOUBLE) * CAST(n_docs - 1 AS DOUBLE) / 2.0 AS t2,
      |        CAST(sum_cells_c2 AS DOUBLE) AS sij,
      |        CAST(sum_pred_c2 AS DOUBLE) AS sa,
      |        CAST(sum_truth_c2 AS DOUBLE) AS sb
      |      FROM agg)
      |SELECT n_docs, sum_cells_c2, sum_pred_c2, sum_truth_c2,
      |       round(CASE WHEN t2 * (sa + sb) - 2.0 * sa * sb = 0.0 THEN 1.0
      |             ELSE (2.0 * (t2 * sij - sa * sb)) /
      |                  (t2 * (sa + sb) - 2.0 * sa * sb) END, 6) AS ari
      |FROM f""".stripMargin

  /** DuckDB mirror of [[fsVectors]] (the `p` CTE body shared by the
    * q_fellegi_sunter and q_fs_em oracles).
    */
  private val fsPairCte: String =
    s"""SELECT l.doc_id AS a, r.doc_id AS b,
       |    l.lang = r.lang AS lang_agree,
       |    (l.n_chars // 100) = (r.n_chars // 100) AS len_agree,
       |    CAST(len(list_intersect(l.toks, r.toks)) AS DOUBLE) /
       |      (len(l.toks) + len(r.toks) - len(list_intersect(l.toks, r.toks))) >= 0.6 AS jac_agree,
       |    levenshtein(l.t, r.t) < 15 AS lev_agree
       |  FROM d l JOIN d r ON l.doc_id < r.doc_id
       |  WHERE $sBandCond""".stripMargin

  /** DuckDB mirror of q_fs_em: the 20 EM iterations of [[graft.pipeline.FsEm]]
    * unrolled into a chain of single-row MATERIALIZED CTEs (MATERIALIZED is
    * load-bearing — DuckDB inlines once-referenced CTEs, and substituting a
    * 16-term expression chain 20 levels deep blows up the optimizer). Every
    * sum/product is emitted in the same ascending-pattern left-associated
    * order FsEm evaluates, so the doubles are bit-identical across engines
    * (verified in a standalone DuckDB-vs-sequential-fold prototype).
    */
  private val (fsEmChain, fsEmUnion): (String, String) = {
    import graft.pipeline.FsEm
    def bit(p: Int, k: Int) = FsEm.bit(p, k)
    val cells = 0 until FsEm.Cells
    val fields = 0 until FsEm.Fields
    val flags = Seq("lang_agree", "len_agree", "jac_agree", "lev_agree")
    val nDefs = cells.map { p =>
      val cond = flags.zipWithIndex.map { case (f, k) => s"$f = ${bit(p, k)}" }.mkString(" AND ")
      s"CAST(sum(CASE WHEN $cond THEN 1 ELSE 0 END) AS DOUBLE) AS n$p"
    }.mkString(",\n    ")
    val carry = cells.map(p => s"n$p").mkString(", ")
    def rExpr(p: Int): String = {
      val fm = fields.map(k => if (bit(p, k)) s"m$k" else s"(1.0 - m$k)").mkString(" * ")
      val fu = fields.map(k => if (bit(p, k)) s"u$k" else s"(1.0 - u$k)").mkString(" * ")
      s"((lam * $fm)) / (((lam * $fm)) + (((1.0 - lam) * $fu)))"
    }
    val rDefs = cells.map(p => s"${rExpr(p)} AS r$p").mkString(", ")
    val sTerms = cells.map(p => s"n$p * r$p").mkString(" + ")
    val dTerms = cells.map(p => s"n$p * (1.0 - r$p)").mkString(" + ")
    val totTerms = carry.replace(", ", " + ")
    val init = (Seq(s"CAST(${FsEm.LamInit} AS DOUBLE) AS lam") ++
      fields.map(k => s"CAST(${FsEm.MInit} AS DOUBLE) AS m$k") ++
      fields.map(k => s"CAST(${FsEm.UInit} AS DOUBLE) AS u$k")).mkString(", ")
    val iters = (1 to FsEm.Iters).flatMap { t =>
      val mDefs = fields.flatMap { k =>
        val mT = cells.filter(bit(_, k)).map(p => s"n$p * r$p").mkString(" + ")
        val uT = cells.filter(bit(_, k)).map(p => s"n$p * (1.0 - r$p)").mkString(" + ")
        Seq(s"(($mT)) / (($sTerms)) AS m$k", s"(($uT)) / (($dTerms)) AS u$k")
      }.mkString(", ")
      Seq(
        s"e$t AS MATERIALIZED (SELECT $carry, $rDefs FROM i${t - 1})",
        s"i$t AS MATERIALIZED (SELECT $carry, (($sTerms)) / (($totTerms)) AS lam, $mDefs FROM e$t)")
    }.mkString(",\n")
    val unions = cells.map { p =>
      val lits = flags.zipWithIndex.map { case (f, k) => s"${bit(p, k)} AS $f" }.mkString(", ")
      s"SELECT $lits, CAST(n$p AS BIGINT) AS n, round(r$p, 6) AS p_match FROM f"
    }.mkString("\n  UNION ALL ")
    val chain =
      s"""$sBandCte,
         |p AS ($fsPairCte),
         |c AS (SELECT
         |    $nDefs
         |  FROM p),
         |i0 AS MATERIALIZED (SELECT $carry, $init FROM c),
         |$iters,
         |f AS MATERIALIZED (SELECT $carry, $rDefs FROM i${FsEm.Iters})""".stripMargin
    (chain, unions)
  }

  private val fsEmOracle: String =
    s"""WITH $fsEmChain
       |SELECT lang_agree, len_agree, jac_agree, lev_agree, n, p_match FROM (
       |  $fsEmUnion)
       |WHERE n > 0 ORDER BY lang_agree, len_agree, jac_agree, lev_agree""".stripMargin

  /** DuckDB mirror of q_pprl: Bloom lanes via bit_or (the 1<<63 case needs
    * the min-long literal — DuckDB's << raises on overflow), byte-pair
    * keys, ≥6 vote, Dice scoring. Generated so the 112-key family is
    * spelled once per engine.
    */
  private val pprlOracle: String = {
    val lanes = (0 until 4).map(w =>
      s"bit_or(CASE WHEN p//64=$w THEN (CASE WHEN p%64=63 THEN CAST(-9223372036854775808 AS BIGINT) " +
        s"ELSE (CAST(1 AS BIGINT) << CAST(p%64 AS INT)) END) ELSE CAST(0 AS BIGINT) END) AS w$w")
      .mkString(",\n      ")
    val keyList = (for { li <- 0 until 4; i <- 0 until 8; j <- (i + 1) until 8 } yield
      s"concat_ws(':', '$li-$i-$j', (w$li >> ${8 * i}) & 255, (w$li >> ${8 * j}) & 255)")
      .mkString("[", ",\n        ", "]")
    // DuckDB bit_count returns TINYINT — the 8-term sum overflows 127 without the cast
    val interBits = (0 until 4).map(w => s"CAST(bit_count(x.w$w & y.w$w) AS INT)").mkString(" + ")
    val pops = ((0 until 4).map(w => s"CAST(bit_count(x.w$w) AS INT)") ++
      (0 until 4).map(w => s"CAST(bit_count(y.w$w) AS INT)")).mkString(" + ")
    s"""WITH t AS (SELECT doc_id, lower(substr(text,1,40)) AS t FROM documents),
       |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(length(t)-7,1)+1),
       |        i -> substr(t, CAST(i AS INT), 8)))) AS f FROM t),
       |pos AS (SELECT doc_id, unnest([('0x'||substr(md5(f),1,7))::BIGINT % 256,
       |                               ('0x'||substr(md5(f),8,7))::BIGINT % 256]) AS p FROM sh),
       |bloom AS (SELECT doc_id,
       |      $lanes
       |    FROM pos GROUP BY doc_id),
       |keys AS (SELECT * FROM (SELECT doc_id, unnest($keyList) AS k FROM bloom)
       |         WHERE NOT k LIKE '%:0:0'),
       |cand AS (SELECT l.doc_id AS a, r.doc_id AS b FROM keys l JOIN keys r
       |           ON l.k = r.k AND l.doc_id < r.doc_id
       |         GROUP BY 1, 2 HAVING count(*) >= 6),
       |sets AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(length(t)-7,1)+1),
       |        i -> substr(t, CAST(i AS INT), 8))) AS fs FROM t),
       |scored AS (SELECT c.a, c.b,
       |    round(2.0*($interBits) / ($pops), 6) AS dice_enc,
       |    round(2.0*len(list_intersect(sa.fs, sb.fs)) / (len(sa.fs)+len(sb.fs)), 6) AS dice_txt
       |  FROM cand c JOIN bloom x ON c.a = x.doc_id JOIN bloom y ON c.b = y.doc_id
       |  JOIN sets sa ON c.a = sa.doc_id JOIN sets sb ON c.b = sb.doc_id)
       |SELECT a, b, dice_enc, dice_txt FROM scored WHERE dice_enc >= 0.8 ORDER BY a, b""".stripMargin
  }

  /** PII regexes shared verbatim between the Spark queries (Java regex) and
    * the DuckDB oracles (RE2) — restricted to character classes + bounded
    * quantifiers, which the two engines interpret identically.
    */
  private[graft] val PiiEmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val PiiDigitsPat = "[0-9]{8}"

  /** Fellegi-Sunter m/u parameters and their log2 agreement/disagreement
    * weights (Fellegi & Sunter, JASA 1969). Computed ONCE here and inlined
    * as identical double literals into the oracle SQL (Scala's Double
    * toString is shortest-round-trip, so DuckDB parses back the exact same
    * IEEE double) — both engines then run the same CASE/+ arithmetic on
    * the same bits.
    */
  private[graft] object Fs {
    private def w(m: Double, u: Double): (Double, Double) =
      (math.log(m / u) / math.log(2.0), math.log((1 - m) / (1 - u)) / math.log(2.0))
    val (wLangA, wLangD) = w(0.95, 0.40)
    val (wLenA, wLenD) = w(0.90, 0.05)
    val (wJacA, wJacD) = w(0.85, 0.01)
    val (wLevA, wLevD) = w(0.90, 0.01)
  }

  /** EM-fitted per-pattern posteriors (the q_fs_em core, shared with
    * q_fs_decisions): distributed comparison-vector pattern counting
    * (map-side-combined groupBy — the only corpus-scale work), then the
    * driver-side 20-iteration [[graft.pipeline.FsEm]] fit over the ≤16
    * aggregated cells. Returns one row per OBSERVED pattern:
    * (lang_agree, len_agree, jac_agree, lev_agree, n, p_match·rounded-6).
    */
  private def fsEmPosteriors(s: SparkSession, vecs: DataFrame): DataFrame = {
    import graft.pipeline.FsEm
    val cells = vecs
      .groupBy("lang_agree", "len_agree", "jac_agree", "lev_agree")
      .count().collect()
    val nL = new Array[Long](FsEm.Cells)
    cells.foreach { row =>
      val p = (0 until FsEm.Fields).foldLeft(0) { (acc, k) =>
        (acc << 1) | (if (row.getBoolean(k)) 1 else 0)
      }
      nL(p) = row.getLong(FsEm.Fields)
    }
    val (lam, m, u) = FsEm.fit(nL.map(_.toDouble))
    val r = FsEm.posteriors(lam, m, u)
    import s.implicits._
    (0 until FsEm.Cells).filter(nL(_) > 0L)
      .map(p => (FsEm.bit(p, 0), FsEm.bit(p, 1), FsEm.bit(p, 2), FsEm.bit(p, 3), nL(p), r(p)))
      .toDF("lang_agree", "len_agree", "jac_agree", "lev_agree", "n", "p_match")
      .withColumn("p_match", round(col("p_match"), 6))
  }

  /** Scale-safe global rank without a single-partition sort: range
    * partition on the order keys, per-partition row_number, plus a
    * collected per-partition count → offset map (bounded: one row per
    * shuffle partition). localCheckpoint pins the range partitioning so
    * every consumer reads the same sampled range bounds, making the
    * pid → offset mapping definitionally stable. Adds column `rn`
    * (1-based, total order by `order` columns).
    */
  private def globalRank(s: SparkSession, df: DataFrame, order: Seq[String]): DataFrame = {
    val nPart = width(s)
    val part = df.repartitionByRange(nPart, order.map(col): _*)
      .withColumn("pid", spark_partition_id())
      .localCheckpoint(true)
    val counts = part.groupBy("pid").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 until nPart).map { p =>
      (p, (0 until p).map(counts.getOrElse(_, 0L)).sum)
    }
    val offDf = broadcast(s.createDataFrame(offsets).toDF("pid", "off"))
    part
      .withColumn("lrn", row_number().over(
        Window.partitionBy("pid").orderBy(order.map(col): _*)))
      .join(offDf, "pid")
      .withColumn("rn", col("lrn") + col("off"))
      .drop("pid", "lrn", "off")
  }

  /** Milli-nat integer weights for q_tf_adjust (floor(1000·ln(·))): the
    * fixed Fs fields become integer literals shared verbatim by both
    * engines; only the lang-agreement weight is data-dependent
    * (ln(m/p(v)), the Splink term-frequency adjustment) and is
    * floor-quantized in-engine with the identical expression.
    */
  private[graft] object TfW {
    private def mn(x: Double): Long = math.floor(1000.0 * x).toLong
    val langM = 0.95
    val langD = mn(math.log((1 - 0.95) / (1 - 0.40)))
    val lenA = mn(math.log(0.90 / 0.05))
    val lenD = mn(math.log((1 - 0.90) / (1 - 0.05)))
    val jacA = mn(math.log(0.85 / 0.01))
    val jacD = mn(math.log((1 - 0.85) / (1 - 0.01)))
    val levA = mn(math.log(0.90 / 0.01))
    val levD = mn(math.log((1 - 0.90) / (1 - 0.01)))
  }

  /** Comparison vectors for the Fellegi-Sunter family: banded candidate
    * pairs × four agreement flags (lang, n_chars div-100 bucket,
    * token-Jaccard ≥ 0.6, prefix-60 edit distance < 15). One band join
    * plus two id-keyed payload joins; shared by the scoring query
    * (q_fellegi_sunter) and the EM estimation query (q_fs_em), and
    * mirrored verbatim by [[fsPairCte]] in both oracles. Four queries
    * consume this corpus-scale relation, so it is pinned once per dir.
    */
  private def fsVectors(s: SparkSession, dir: String): DataFrame =
    SessionCache.pinned(s, "fsVectors", dir) {
      val d = fsDocFeatures(s, dir)
      sBandCandidates(s, dir)
        .join(d.select(col("doc_id").as("a"), col("lang").as("langA"), col("lb").as("lbA"),
          col("t").as("tA"), col("toks").as("toksA")), "a")
        .join(d.select(col("doc_id").as("b"), col("lang").as("langB"), col("lb").as("lbB"),
          col("t").as("tB"), col("toks").as("toksB")), "b")
        .withColumn("inter", size(array_intersect(col("toksA"), col("toksB"))))
        .withColumn("lang_agree", col("langA") === col("langB"))
        .withColumn("len_agree", col("lbA") === col("lbB"))
        .withColumn("jac_agree",
          col("inter").cast("double") /
            (size(col("toksA")) + size(col("toksB")) - col("inter")) >= 0.6)
        .withColumn("lev_agree", levLt15(col("tA"), col("tB")))
        .select("a", "b", "langA", "lang_agree", "len_agree", "jac_agree", "lev_agree")
    }

  /** ARI over a (doc_id, c, tt) assignment: contingency cells + marginals
    * as exact int64 pair counts (three map-side-combined groupBys, no pair
    * expansion), then the Hubert-Arabie index as one double expression over
    * the four counts — num = 2·(T₂·Σᵢⱼ − ΣA·ΣB), den = T₂·(ΣA+ΣB) −
    * 2·ΣA·ΣB — evaluated in the identical operation order as the oracle
    * tail and rounded once. Extracted from q_ari so the chance-correction
    * branch is unit-testable on constructed disagreeing partitions (on the
    * corpus the flagship clustering equals truth → ari is pinned at 1.0).
    */
  private[graft] def ariOf(assign: DataFrame): DataFrame = {
    val cij = assign.groupBy("c", "tt").agg(count(lit(1)).as("n"))
      .agg(sum(expr("n * (n - 1) div 2")).as("sum_cells_c2"))
    val ca = assign.groupBy("c").agg(count(lit(1)).as("n"))
      .agg(sum(expr("n * (n - 1) div 2")).as("sum_pred_c2"))
    val cb = assign.groupBy("tt").agg(count(lit(1)).as("n"))
      .agg(sum(expr("n * (n - 1) div 2")).as("sum_truth_c2"))
    assign.agg(count(lit(1)).as("n_docs"))
      .crossJoin(cij).crossJoin(ca).crossJoin(cb)
      .withColumn("t2",
        col("n_docs").cast("double") * (col("n_docs") - 1).cast("double") / lit(2.0))
      .withColumn("sij", col("sum_cells_c2").cast("double"))
      .withColumn("sa", col("sum_pred_c2").cast("double"))
      .withColumn("sb", col("sum_truth_c2").cast("double"))
      .withColumn("num", lit(2.0) * (col("t2") * col("sij") - col("sa") * col("sb")))
      .withColumn("den",
        col("t2") * (col("sa") + col("sb")) - lit(2.0) * col("sa") * col("sb"))
      .select(col("n_docs"), col("sum_cells_c2"), col("sum_pred_c2"),
        col("sum_truth_c2"),
        round(when(col("den") === 0.0, lit(1.0))
          .otherwise(col("num") / col("den")), 6).as("ari"))
  }

  /** NMI over a (doc_id, c, tt) assignment: the three entropies as exact
    * int64 occurrence-weighted milli-nat sums (Σ m·⌊1000·ln(N/m)⌋ over the
    * pred / truth / joint cells — the q_source_kl quantization, so both
    * engines add identical integer addends in any order), then
    * NMI = 2·(H_C + H_T − H_CT)/(H_C + H_T) as one double expression over
    * the exact sums, identically ordered and rounded once. H_C + H_T = 0
    * only when both partitions are single-cluster (identical) → NMI := 1.
    * Extracted from q_nmi for unit tests on constructed disagreeing
    * partitions (the corpus pins nmi at 1.0, like ariOf).
    */
  private[graft] def nmiOf(assign: DataFrame): DataFrame = {
    val n = assign.agg(count(lit(1)).as("n_docs"))
    def ent(groupCols: Seq[String], name: String): DataFrame =
      assign.groupBy(groupCols.map(col): _*).agg(count(lit(1)).as("m"))
        .crossJoin(broadcast(n))
        .agg(sum(col("m") * floor(lit(1000.0) *
          log(col("n_docs").cast("double") / col("m").cast("double")))).as(name))
    n.crossJoin(ent(Seq("c"), "h_pred_milli"))
      .crossJoin(ent(Seq("tt"), "h_truth_milli"))
      .crossJoin(ent(Seq("c", "tt"), "h_joint_milli"))
      .select(col("n_docs"), col("h_pred_milli"), col("h_truth_milli"),
        col("h_joint_milli"),
        round(when(col("h_pred_milli") + col("h_truth_milli") === 0L, lit(1.0))
          .otherwise(lit(2.0) *
            (col("h_pred_milli") + col("h_truth_milli") - col("h_joint_milli"))
              .cast("double") /
            (col("h_pred_milli") + col("h_truth_milli")).cast("double")), 6)
          .as("nmi"))
  }

  /** Purity / inverse purity over a (doc_id, c, tt) assignment — the only
    * evaluator in the family with NO floating point at all until the final
    * harmonic mean: purity = (1/N)·Σ_c max_t n_ct (each predicted
    * cluster's share of its dominant truth class), inverse purity the
    * transpose; both reported as exact micro-unit integers
    * ((10⁶·Σmax) div N). The harmonic mean is one double expression over
    * the two exact micro ints, guarded against the degenerate 0+0 case
    * (reachable only when N > 10⁶·Σmax) and rounded once. Cells are
    * pinned once for the two rollups.
    */
  private[graft] def purityOf(assign: DataFrame): DataFrame = {
    val cells = assign.groupBy("c", "tt").agg(count(lit(1)).as("m"))
      .localCheckpoint(true)
    val pm = cells.groupBy("c").agg(max(col("m")).as("mx"))
      .agg(sum(col("mx")).as("sum_max_pred"))
    val tm = cells.groupBy("tt").agg(max(col("m")).as("mx"))
      .agg(sum(col("mx")).as("sum_max_truth"))
    // broadcast hints pin the build sides, as in [[pairwisePrf]]
    assign.agg(count(lit(1)).as("n_docs")).crossJoin(broadcast(pm)).crossJoin(broadcast(tm))
      .withColumn("purity_micro", expr("(1000000 * sum_max_pred) div n_docs"))
      .withColumn("inv_purity_micro", expr("(1000000 * sum_max_truth) div n_docs"))
      .select(col("n_docs"), col("sum_max_pred"), col("sum_max_truth"),
        col("purity_micro"), col("inv_purity_micro"),
        round(when(col("purity_micro") + col("inv_purity_micro") === 0L, lit(0.0))
          .otherwise(lit(2.0) * col("purity_micro").cast("double") *
            col("inv_purity_micro").cast("double") /
            (col("purity_micro") + col("inv_purity_micro")).cast("double")), 6)
          .as("purity_f_micro"))
  }

  /** The per-document FS comparison-field projection (lang, 100-char
    * length bucket, 60-char prefix, distinct 120-prefix tokens) shared by
    * every consumer of the FS comparison space — [[fsVectors]] for blocked
    * pairs and q_u_sample for random pairs — so the fields can never
    * silently diverge between the m-side and u-side estimators.
    */
  private def fsDocFeatures(s: SparkSession, dir: String): DataFrame =
    docsTable(s, dir).select(col("doc_id"), col("lang"),
      expr("n_chars div 100").as("lb"),
      substring(col("text"), 1, 60).as("t"),
      array_distinct(split(trim(substring(col("text"), 1, 120)), "\\s+")).as("toks"))

  /** Shared near-dup edge relation for the CC/report/survivorship queries:
    * band candidates → levenshtein < 15 on 60-char prefixes. Mirrored
    * exactly by the recursive-CTE oracles. Five direct consumers (the
    * [[sFlagshipCC]] builder, center clustering, q_strategy_f1's center
    * leg, q_cross_source_dups, q_lev_pairs) — so the corpus-scale
    * candidate join + levenshtein scan is pinned once per table dir. Rows are (src, dst,
    * d): the distance rides along (it is computed by the filter anyway,
    * one int per edge) so threshold-sensitivity consumers
    * (q_threshold_sweep's strict cut) reuse the pinned scan instead of
    * re-running the candidate join + levenshtein pass.
    */
  private[graft] def levEdges(s: SparkSession, dir: String): DataFrame =
    SessionCache.pinned(s, "levEdges", dir) {
      val t = docsTable(s, dir)
        .select(col("doc_id"), substring(col("text"), 1, 60).as("t"))
      sBandCandidates(s, dir)
        .join(t.select(col("doc_id").as("a"), col("t").as("ta")), "a")
        .join(t.select(col("doc_id").as("b"), col("t").as("tb")), "b")
        // bounded form: -1 (> threshold) rows are exactly the d >= 15 rows
        // the filter dropped; surviving d values are the exact distances
        .withColumn("d", levenshtein(col("ta"), col("tb"), 14))
        .filter(col("d") >= 0)
        .select(col("a").as("src"), col("b").as("dst"), col("d"))
    }

  /** Cluster-cohesion audit (ER precision proxy): per cluster, the pairwise
    * edit-distance profile of its members — n_pairs, sum/avg distance, and
    * the minimum round-6 similarity (1 − lev/maxlen). A merged cluster with
    * low min_sim is a probable over-merge; this is the report a reviewer
    * reads before approving a survivorship delete.
    *
    * Members are capped at `cap` per cluster ([[CappedSlices.membership]],
    * doc_id order; the text is joined after the cap) BEFORE the pair
    * expansion, so an adversarial million-member cluster costs O(cap·k)
    * rows and O(cap²) scored pairs, never O(k²); n_members still reports
    * the true cluster size. All aggregates are exact integer
    * sums; the only doubles are per-pair round-6 quotients — bit-identical
    * across engines.
    *
    * @param cc (doc_id, cluster_id) membership, e.g. from
    *           [[Components.connectedComponents]]
    * @param t  (doc_id, t) comparison text
    */
  private[graft] def clusterCohesion(cc: DataFrame, t: DataFrame,
                                     cap: Int = 32): DataFrame = {
    val sz = cc.groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
    val mem = CappedSlices.membership(cc, cap)._1.join(t, "doc_id")
    val l = mem.select(col("cluster_id"), col("doc_id").as("a"), col("t").as("ta"))
    val r = mem.select(col("cluster_id"), col("doc_id").as("b"), col("t").as("tb"))
    val pairs = l.join(r, "cluster_id").filter(col("a") < col("b"))
      .withColumn("d", levenshtein(col("ta"), col("tb")))
      .withColumn("sim", round(lit(1.0) - col("d").cast("double") /
        greatest(length(col("ta")), length(col("tb"))), 6))
    pairs.groupBy("cluster_id")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("d")).as("sum_dist"),
        round(sum(col("d")).cast("double") / count(lit(1)), 6).as("avg_dist"),
        min(col("sim")).as("min_sim"))
      .join(sz, "cluster_id")
      .select(col("cluster_id"), col("n_members"), col("n_pairs"),
        col("sum_dist"), col("avg_dist"), col("min_sim"))
      .orderBy("cluster_id")
  }

  /** (doc_id, w, sdx) — the first-token American-Soundex blocking key of
    * each doc (non-ASCII stripped BEFORE upper-casing; empty skeletons
    * dropped), shared by q_soundex_blocks / q_dup_rate_cr /
    * q_blocking_scheme so the Spark derivation cannot drift between them;
    * the oracles mirror it with the shared n0/n1 + [[soundexCteSql]] CTEs.
    */
  private def firstTokenSdx(df: DataFrame): DataFrame =
    // substring_index takes the first token without materializing the
    // full ~300-element split array per doc (equivalent: both yield "" on
    // a leading space and the whole text when no space exists). No
    // spread: the chain is cheap enough that a round-robin exchange costs
    // more than the one-split scan saves.
    df.select(col("doc_id"), upper(regexp_replace(
        substring_index(col("text"), " ", 1), "[^A-Za-z]", "")).as("w"))
      .filter(length(col("w")) > 0)
      .withColumn("sdx", soundexCol(col("w")))

  /** `levenshtein(a, b) < 15` as a BOUNDED predicate (guide §1.2 "per-task
    * work"): the 3-arg levenshtein runs the banded DP and abandons once the
    * distance provably exceeds the threshold, returning -1 there — so
    * `>= 0` is exactly the `< 15` predicate, and the returned value equals
    * the exact distance on every surviving row. Measured (60-char
    * pairs, 1M): 32.9 s → 4.0 s on non-matching pairs (the dominant
    * population of every verify leg), 32.1 → 23.1 s on true near-dups.
    * Only predicate/filtered sites use this; sites that consume unbounded
    * distances (q_cand_hist buckets, cluster cohesion sums, Pairs.score's
    * lev_norm) keep the exact 2-arg form.
    */
  private def levLt15(a: Column, b: Column): Column =
    levenshtein(a, b, 14) >= 0

  /** Survivors of the shared lev < 15 edge contract over candidate pairs:
    * joins the 60-prefix relation `t` on both endpoints (columns a, b),
    * keeps every other pair column. One definition for every audit that
    * claims "verified by the shared edge contract".
    */
  private def levVerify(pairs: DataFrame, t: DataFrame): DataFrame =
    pairs.join(t.select(col("doc_id").as("a"), col("t").as("ta")), "a")
      .join(t.select(col("doc_id").as("b"), col("t").as("tb")), "b")
      .filter(levLt15(col("ta"), col("tb")))
      .drop("ta", "tb")

  /** ONE pinned (scheme, a, b) stratum candidate-pair relation per dir
    * for the four blocking-scheme predicates — MinHash band,
    * first-token Soundex, 8-char prefix, (lang, len-bucket) — restricted to
    * the deterministic 1/[[evalSampleK]] md5 stratum, pairs distinct within
    * each scheme. Shared by q_blocking_scheme (all four schemes) and
    * q_dup_rate_cr (band + soundex1 capture legs): before r6 each query
    * re-ran its own candidate self-joins, and every aggregate leg within a
    * query re-derived the whole unpinned tree (the q_dup_rate_cr plan held
    * 132 Exchange nodes). A doc's scheme key does not depend on the
    * stratum, so keys-then-restrict ≡ restrict-then-keys; the pinned
    * relation is O(stratum candidates), bounded by the 1/k dial at scale.
    */
  private def sStratumSchemePairs(s: SparkSession, dir: String): DataFrame =
    SessionCache.pinned(s, "stratumSchemePairs", dir) {
      val d = docsTable(s, dir)
      val strat = d.filter(sampleBucket(col("doc_id")) % evalSampleK === 0)
      val band = sBandRelation(s, dir).join(strat.select("doc_id"), "doc_id")
        .select(lit("band").as("scheme"), col("doc_id"), col("bk").as("k"))
      val sdx = firstTokenSdx(strat)
        .select(lit("soundex1").as("scheme"), col("doc_id"), col("sdx").as("k"))
      val pre = strat.select(lit("prefix8").as("scheme"), col("doc_id"),
        substring(col("text"), 1, 8).as("k"))
      val ll = strat.select(lit("lenlang4").as("scheme"), col("doc_id"),
        concat_ws(":", col("lang"), expr("n_chars div 4")).as("k"))
      val skeys = band.unionByName(sdx).unionByName(pre).unionByName(ll)
      // NOT spread before the pin: a 64-way checkpoint makes every one of
      // q_dup_rate_cr's four tiny aggregate legs schedule 64 tasks over a
      // few-thousand-row relation (measured +0.6 s warm, in-sweep), while
      // the wider cold derive bought nothing in-sweep — the narrow pin is
      // the right trade for pinned relations this small
      skeys.select(col("scheme"), col("doc_id").as("a"), col("k"))
        .join(skeys.select(col("scheme"), col("doc_id").as("b"), col("k")),
          Seq("scheme", "k"))
        .filter(col("a") < col("b"))
        .select("scheme", "a", "b").distinct()
    }

  /** ONE pinned verified-pair relation per dir: the DISTINCT
    * (a, b) pairs of the four-scheme stratum candidate union that pass the
    * shared lev < 15 edge contract. The levenshtein pass over the stratum
    * candidates runs once per session; q_blocking_scheme's per-scheme
    * verified legs and q_dup_rate_cr's capture legs are semi-joins against
    * it (membership is the same pair-level predicate whichever candidate
    * superset carried the pair there).
    */
  private def sStratumVerified(s: SparkSession, dir: String): DataFrame =
    SessionCache.pinned(s, "stratumVerified", dir) {
      val t = docsTable(s, dir)
        .select(col("doc_id"), substring(col("text"), 1, 60).as("t"))
      // the bounded-lev pass runs on the distinct's AQE partitioning; a
      // spread here was measured a wash in-sweep (the pass is ~1 s once
      // per session) and cost the tiny downstream aggregates more than it
      // saved — see the sStratumSchemePairs note
      levVerify(sStratumSchemePairs(s, dir).select("a", "b").distinct(), t)
    }

  /** ONE review-queue pair derivation shared by q_constrained_cc and
    * q_constrained_must (so the two queues cannot drift), pinned per dir
    * like every sibling shared derivation: one
    * representative (min doc_id) per (flagship component, source), capped
    * at 16 reps/component BEFORE the pair expansion so the relation is
    * O(components), with each rep pair carrying whether the two reps agree
    * on lang. Returns (a, b, same_lang), a < b within one component.
    */
  private def repPairs(s: SparkSession, dir: String): DataFrame =
    SessionCache.pinned(s, "repPairs", dir) {
      val cc = sFlagshipCC(s, dir)
      val src = docsTable(s, dir).select(col("doc_id"), col("source"), col("lang"))
      val reps = cc.join(src, "doc_id")
        .groupBy("cluster_id", "source")
        .agg(min(struct(col("doc_id"), col("lang"))).as("m"))
        .select(col("cluster_id"), col("m.doc_id").as("rep"), col("m.lang").as("lang"))
        .withColumn("rrk", row_number().over(
          Window.partitionBy("cluster_id").orderBy("rep")))
        .filter(col("rrk") <= 16)
        .select("cluster_id", "rep", "lang")
      reps.as("l").join(reps.as("r"),
          col("l.cluster_id") === col("r.cluster_id") && col("l.rep") < col("r.rep"))
        .select(col("l.rep").as("a"), col("r.rep").as("b"),
          (col("l.lang") === col("r.lang")).as("same_lang"))
    }

  /** Per-(dir, m) PQ codebook — the fit collects a 512-row seeded sample
    * and runs driver-side Lloyd's; q_ann_pq (3 widths) and q_ann_ivfpq
    * (m=16) share the m=16 fit instead of re-deriving it.
    */
  private def sPqModel(s: SparkSession, dir: String, m: Int): graft.ann.Pq.Model =
    SessionCache.value(s, "pqModel", (dir, m)) {
      graft.ann.Pq.fit(embTable(s, dir), "embedding", "vec_id", m = m, k = 16)
    }

  /** Pinned (vec_id, code) PQ corpus relation per (dir, m) — the
    * corpus-wide encode pass runs once per session like [[sBandRelation]].
    */
  private def sPqCodes(s: SparkSession, dir: String, m: Int): DataFrame =
    SessionCache.pinned(s, "pqCodes", (dir, m)) {
      graft.ann.Pq.encode(embTable(s, dir), "embedding", sPqModel(s, dir, m))
        .select(col("vec_id"), col("code"))
    }

  /** Pinned exact neighbours of the 50-query ANN sample (vec_id < 50):
    * every (q, n ≠ q) pair against the whole corpus is scored once, with
    * the sequential-fold [[dotCol]] and the round-6 cosine over norms
    * computed once per vector, and kept when n is in q's top 10 by either
    * measure — (q, n, dot, cos, cos_rank, dot_rank), ranks tie-broken on
    * n. Its consumers filter by rank: q_cosine_topk (cos_rank ≤ 3),
    * q_ann_recall's cosine truth (cos_rank ≤ 10) and the exact
    * inner-product truth both PQ evaluators measure against (dot_rank ≤
    * 10, [[ipTruth]]), so the 50×N cross join runs once per dir instead of
    * once per consumer.
    */
  private def sExactNeighbours(s: SparkSession, dir: String): DataFrame =
    SessionCache.pinned(s, "exactNeighbours", dir) {
      val e = embTable(s, dir)
        .select(col("vec_id"), col("embedding"), normCol(col("embedding")).as("nrm"))
      // widen: BroadcastNestedLoopJoin parallelizes over LEFT partitions
      // only, and the query side reads as one split — the 50×N scoring pass
      // otherwise runs in a single task (measured 2.6 s in one stage)
      val q = widen(e.filter(col("vec_id") < 50))
        .select(col("vec_id").as("q"), col("embedding").as("qv"), col("nrm").as("nq"))
      val byCos = Window.partitionBy("q").orderBy(col("cos").desc, col("n"))
      val byDot = Window.partitionBy("q").orderBy(col("dot").desc, col("n"))
      q.join(e.select(col("vec_id").as("n"), col("embedding").as("nv"), col("nrm").as("nn")),
          col("q") =!= col("n"))
        .select(col("q"), col("n"), dotCol(col("qv"), col("nv")).as("dot"), col("nq"), col("nn"))
        .withColumn("cos", round(col("dot") / (col("nq") * col("nn")), 6))
        .withColumn("cos_rank", row_number().over(byCos))
        .withColumn("dot_rank", row_number().over(byDot))
        .filter(col("cos_rank") <= 10 || col("dot_rank") <= 10)
        .select("q", "n", "dot", "cos", "cos_rank", "dot_rank")
    }

  /** (q, n) exact inner-product top-10 truth of the ANN sample. */
  private def ipTruth(s: SparkSession, dir: String): DataFrame =
    sExactNeighbours(s, dir).filter(col("dot_rank") <= 10).select("q", "n")

  /** Recall curve of an ANN evaluator: for each setting v of `grid`,
    * `topK(v)`'s (q, n) rows are matched against the (q, n) `truth` —
    * (key, n_hits, n_truth, recall), recall rounded once from exact
    * counts. The literal grid keeps a zero-hit setting's row.
    */
  private def recallCurve(s: SparkSession, truth: DataFrame, key: String, grid: Seq[Int])(
      topK: Int => DataFrame): DataFrame = {
    import s.implicits._
    val gots = grid.map(v => topK(v).select(lit(v).as(key), col("q"), col("n")))
      .reduce(_ unionByName _)
    val hits = truth.join(gots, Seq("q", "n")).groupBy(key).agg(count(lit(1)).as("n_hits"))
    grid.toDF(key).join(hits, Seq(key), "left").na.fill(0L, Seq("n_hits"))
      .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
      .select(col(key), col("n_hits"), col("n_truth"),
        round(col("n_hits").cast("double") / col("n_truth"), 6).as("recall"))
  }

  /** Pinned sign-LSH candidate pairs of the embeddings: (a < b) sharing at
    * least one of 8 8-bit bands of the 63-bit [[signHash]], with their
    * UNROUNDED cosine and label agreement — (a, b, cos, same_label). The
    * band predicate is part of the q_embed_near_dup / q_semdedup /
    * q_ann_lsh contract (the oracles define candidacy identically); each
    * consumer applies only its own cosine cut.
    *
    * The band shuffle carries bare (vec_id, bucket) rows, the up-to-8×
    * replicated pairs dedup on the two ids alone, and the 64-float vectors
    * rejoin by id after the distinct, so they never ride the band
    * explode/shuffle.
    */
  private def sSignBandPairs(s: SparkSession, dir: String): DataFrame =
    SessionCache.pinned(s, "signBandPairs", dir) {
      val e = embTable(s, dir).select(col("vec_id"), col("label"), col("embedding"),
        normCol(col("embedding")).as("nrm"), signHash(col("embedding")).as("h"))
      val bands = e.select(col("vec_id"),
        explode(array((0 until 8).map(i =>
          concat_ws(":", lit(i), shiftright(col("h"), i * 8).bitwiseAND(lit(0xffL)))): _*)).as("bucket"))
      // spread after the distinct: AQE coalesces the byte-small pair
      // exchange to one partition, serializing the 64-d cosine verify
      // (event-log: a 2.05 s single-task stage)
      val cand = spread(bands.select(col("vec_id").as("a"), col("bucket"))
        .join(bands.select(col("vec_id").as("b"), col("bucket")), Seq("bucket"))
        .filter(col("a") < col("b"))
        .select("a", "b").distinct())
      val ea = e.select(col("vec_id").as("a"), col("label").as("la"),
        col("embedding").as("ea"), col("nrm").as("na"))
      val eb = e.select(col("vec_id").as("b"), col("label").as("lb"),
        col("embedding").as("eb"), col("nrm").as("nb"))
      cand.join(ea, "a").join(eb, "b")
        .select(col("a"), col("b"),
          (dotCol(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cos"),
          (col("la") === col("lb")).as("same_label"))
    }

  /** Bipartite linkage match relation (left_id, right_id, jw): even-id docs
    * linked against odd-id docs via shared MinHash bands, scored with the
    * native Jaro-Winkler expression, thresholded at 0.9 on the ROUNDED value
    * (both engines threshold the same 6-decimal quantity). Shared by
    * q_record_linkage and q_linkage_best.
    */
  private def linkagePairs(s: SparkSession, dir: String): DataFrame = {
    val bands = sBandRelation(s, dir) // shared pinned relation, both sides
    val lhs = bands.filter(col("doc_id") % 2 === 0).select(col("doc_id").as("a"), col("bk"))
    val rhs = bands.filter(col("doc_id") % 2 === 1).select(col("doc_id").as("b"), col("bk"))
    val cand = lhs.join(rhs, Seq("bk")).select("a", "b").distinct()
    val t = docsTable(s, dir).select(col("doc_id"), substring(col("text"), 1, 60).as("t"))
    cand.join(t.select(col("doc_id").as("a"), col("t").as("ta")), "a")
      .join(t.select(col("doc_id").as("b"), col("t").as("tb")), "b")
      .withColumn("jw", round(graft.functions.GraftFunctions.jw(col("ta"), col("tb")), 6))
      .filter(col("jw") >= 0.9)
      .select(col("a").as("left_id"), col("b").as("right_id"), col("jw"))
  }

  /** Documents table → Dataset[Doc]: one text span per row; every 10th doc
    * also carries a deterministic synthetic media span keyed by doc_id —
    * exercises the interleaved text+media path end-to-end.
    */
  private[graft] def asDocs(spark: SparkSession, dir: String) = {
    import spark.implicits._
    // NOT spread here: full-corpus consumers (the flagship run, compare)
    // repartition at their call sites; q_retract_clusters re-evaluates
    // this subtree piecemeal over small member sets, where a 64-way
    // exchange per evaluation is pure scheduling overhead (measured:
    // retract 4.0 → 5.9 s with the spread here, reverted)
    docsTable(spark, dir).select($"doc_id".cast("string"), $"text")
      .as[(String, String)].map { case (id, text) =>
        val spans = Seq(Span.text(text, 0)) ++
          (if (id.toLong % 10 == 0) Seq(Span.media(s"synth://doc-${id.toLong / 10}", 1)) else Nil)
        Doc(id, spans)
      }
  }

  /** Flagship: full record-linkage pipeline (signatures → LSH blocking →
    * salted pair scoring → connected components) on sf0.001 documents.
    */
  def entry(spark: SparkSession): DataFrame = {
    val docs = asDocs(spark, "/root/testdata/sf0.001")
    Pipeline.run(spark, docs, GraftConfig(mediaThreshold = 11))
      .clusters.select("doc_id", "cluster_id").orderBy("doc_id")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- ER / dedupe operators ------------------------------------------

    // exact dedup + survivorship (S10 keep-first policy, A1-A3 over exact key)
    "q_exact_dedup" -> ((s, dir) => {
      val w = Window.partitionBy("h")
      docsTable(s, dir).withColumn("h", md5(col("text")))
        .withColumn("grp_size", count(lit(1)).over(w))
        .withColumn("keeper", min(col("doc_id")).over(w))
        .withColumn("is_dup", col("doc_id") =!= col("keeper"))
        .select("doc_id", "grp_size", "keeper", "is_dup")
        .orderBy("doc_id")
    }),

    // Hamming radius self-join on embedding sign-hashes (P5/P6 + F1/F2 + J2)
    "q_hamming_pairs" -> ((s, dir) => {
      val e = embTable(s, dir).select(col("vec_id"), col("label"),
        signHash(col("embedding")).as("h"))
      val a = e.select(col("vec_id").as("a"), col("label").as("la"), col("h").as("ha"))
      val b = e.select(col("vec_id").as("b"), col("label").as("lb"), col("h").as("hb"))
      a.join(b, col("a") < col("b"))
        .withColumn("d", bit_count(col("ha").bitwiseXOR(col("hb"))))
        .filter(col("d") < 18)
        .groupBy((col("la") === col("lb")).as("same_label"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("d")).as("sum_dist"))
        .orderBy("same_label")
    }),

    // banded blocking on the sign hash: block key = top 15 bits (J2 blocking)
    "q_sign_blocks" -> ((s, dir) => {
      embTable(s, dir)
        .select(col("vec_id"), shiftright(signHash(col("embedding")), 48).as("block_key"))
        .groupBy("block_key").agg(count(lit(1)).as("n_docs"), min("vec_id").as("min_vec"))
        .filter(col("n_docs") > 1)
        .orderBy("block_key")
    }),

    // edit-distance near-dup pairs over banded-MinHash blocks (graft text scorer)
    "q_lev_pairs" -> ((s, dir) => {
      levEdges(s, dir).select(col("src").as("a"), col("dst").as("b"), col("d"))
        .orderBy("a", "b")
    }),

    // Jaro-Winkler scoring over banded-MinHash blocks (graft-added scorer,
    // §2.8); per-lang stats keyed by the SMALLER doc_id's lang (pairs can
    // cross langs now that the block key is purely content-derived)
    "q_jw_pairs" -> ((s, dir) => {
      val d = docsTable(s, dir)
        .select(col("doc_id"), col("lang"), substring(col("text"), 1, 60).as("t"))
      sBandCandidates(s, dir)
        .join(d.select(col("doc_id").as("a"), col("lang"), col("t").as("ta")), "a")
        .join(d.select(col("doc_id").as("b"), col("t").as("tb")), "b")
        .withColumn("jw", graft.functions.GraftFunctions.jw(col("ta"), col("tb")))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("jw") >= 0.8, 1L).otherwise(0L)).as("n_close"),
          round(sum(round(col("jw"), 6)), 2).as("sum_jw"))
        .orderBy("lang")
    }),

    // Monge-Elkan token-set similarity (Monge & Elkan, KDD 1996) over the
    // banded candidates: per direction, the mean over source tokens of the
    // best Jaro-Winkler match among target tokens — the classic hybrid
    // scorer for multi-token fields that survives token reordering where
    // whole-string JW fails. Per-token best-match values are
    // floor-quantized to integer micro-units so both engines aggregate
    // EXACT int64 sums (the q_tfidf quantization treatment); the inner max
    // is a transform+array_max HOF over the ≤~20-token target array, so
    // per-pair work is |A|·|B| short-token JWs on the already-bounded
    // candidate relation — never a corpus-scale explode.
    "q_monge_elkan" -> ((s, dir) => {
      val d = docsTable(s, dir).select(col("doc_id"),
        array_distinct(split(trim(substring(col("text"), 1, 120)), "\\s+")).as("toks"))
      val base = sBandCandidates(s, dir)
        .join(d.select(col("doc_id").as("a"), col("toks").as("tA")), "a")
        .join(d.select(col("doc_id").as("b"), col("toks").as("tB")), "b")
        .localCheckpoint(true) // two directional consumers below
      def dirMean(src: String, dst: String, out: String) =
        base.select(col("a"), col("b"), explode(col(src)).as("tok"), col(dst))
          .withColumn("mx", floor(array_max(transform(col(dst),
            t => graft.functions.GraftFunctions.jw(col("tok"), t))) * 1000000.0))
          .groupBy("a", "b")
          .agg(round(sum(col("mx")).cast("double") / count(lit(1)) / 1000000.0, 6).as(out))
      dirMean("tA", "tB", "me_ab")
        .join(dirMean("tB", "tA", "me_ba"), Seq("a", "b"))
        .withColumn("me", round((col("me_ab") + col("me_ba")) / 2.0, 6))
        .select("a", "b", "me_ab", "me_ba", "me")
        .orderBy("a", "b")
    }),

    // word n-gram Jaccard near-dup (set ops on token arrays) over
    // banded-MinHash blocks
    "q_ngram_jaccard" -> ((s, dir) => {
      val d = docsTable(s, dir).select(col("doc_id"),
        array_distinct(split(trim(substring(col("text"), 1, 120)), "\\s+")).as("toks"))
      sBandCandidates(s, dir)
        .join(d.select(col("doc_id").as("a"), col("toks").as("tA")), "a")
        .join(d.select(col("doc_id").as("b"), col("toks").as("tB")), "b")
        .withColumn("inter", size(array_intersect(col("tA"), col("tB"))))
        .withColumn("uni", size(col("tA")) + size(col("tB")) - col("inter"))
        .withColumn("jac", round(col("inter").cast("double") / col("uni"), 6))
        .filter(col("jac") >= 0.6)
        .select("a", "b", "jac")
        .orderBy("a", "b")
    }),

    // asymmetric containment near-dup (the directed complement of Jaccard):
    // quote/subset/boilerplate-expansion detection — doc A "contained in"
    // doc B when |toks(A) ∩ toks(B)| / |toks(A)| ≥ 0.7, which symmetric
    // Jaccard misses whenever |B| ≫ |A| (a page quoting a paragraph).
    // Candidacy is the shared banded-MinHash contract (O(N·bucket)); the
    // token sets are already distinct so intersect size = set intersection
    // in both engines. Emits both directions so survivorship can keep the
    // superset doc.
    "q_containment" -> ((s, dir) => {
      val d = docsTable(s, dir).select(col("doc_id"),
        array_distinct(split(trim(substring(col("text"), 1, 120)), "\\s+")).as("toks"))
      sBandCandidates(s, dir)
        .join(d.select(col("doc_id").as("a"), col("toks").as("tA")), "a")
        .join(d.select(col("doc_id").as("b"), col("toks").as("tB")), "b")
        .withColumn("inter", size(array_intersect(col("tA"), col("tB"))))
        .withColumn("cont_a_in_b", round(col("inter").cast("double") / size(col("tA")), 6))
        .withColumn("cont_b_in_a", round(col("inter").cast("double") / size(col("tB")), 6))
        .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= 0.7)
        .select("a", "b", "cont_a_in_b", "cont_b_in_a")
        .orderBy("a", "b")
    }),

    // PPJoin-style prefix-filtered EXACT set-similarity self-join over the
    // SAME 8-char shingle sets the MinHash bands sketch — the exact
    // counterpart of the probabilistic candidacy, at the Jaccard ≥ 0.8
    // regime the banded blocking targets (a 0.8-pair shares ≥ 2 of the 4
    // bands w.p. ~1). Kernel + lossless prefix/positional-filter proof:
    // [[exactShinglePairs]]. The DuckDB oracle is deliberately pure brute
    // force — NO shared candidacy contract — so the driver compare proves
    // the Spark-side filters drop nothing.
    "q_prefix_join" -> ((s, dir) =>
      exactShinglePairs(s, dir, 0.8).orderBy("a", "b")),

    // MinHash estimator calibration over the banded candidates: per exact-
    // Jaccard decile, how many candidate pairs land there and how far the
    // 12-function MinHash estimate (#matching mins / 12) sits from truth
    // (sum_abs_err / n_pairs = MAE). Truth = exact Jaccard of the 8-char
    // shingle sets the signature actually sketches ([[shingleSet]]), and
    // the mins are recovered from the shared band keys ("b:m:m:m") — so
    // both sides of the audit are EXACTLY what the blocking layer uses;
    // this is the report a tuner reads before moving the band/row split.
    // Cost: one pass over the banded candidates (O(N·bucket)).
    "q_minhash_err" -> ((s, dir) => {
      val d = docsTable(s, dir).select(col("doc_id"),
        shingleSet(col("text")).as("toks"),
        flatten(transform(sBandKeys(col("text")),
          b => slice(split(b, ":"), 2, 3))).as("mins"))
      sBandCandidates(s, dir)
        .join(d.select(col("doc_id").as("a"), col("toks").as("tA"), col("mins").as("mA")), "a")
        .join(d.select(col("doc_id").as("b"), col("toks").as("tB"), col("mins").as("mB")), "b")
        .withColumn("k", aggregate(zip_with(col("mA"), col("mB"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, v) => acc + v))
        .withColumn("est", col("k").cast("double") / 12)
        .withColumn("inter", size(array_intersect(col("tA"), col("tB"))))
        .withColumn("jac", col("inter").cast("double") /
          (size(col("tA")) + size(col("tB")) - col("inter")))
        .withColumn("bucket", floor(col("jac") * 10).cast("int"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_pairs"),
          round(sum(round(col("est"), 6).cast("decimal(28,10)")).cast("double"), 4).as("sum_est"),
          round(sum(round(col("jac"), 6).cast("decimal(28,10)")).cast("double"), 4).as("sum_jac"),
          round(sum(round(abs(col("est") - col("jac")), 6).cast("decimal(28,10)")).cast("double"), 4).as("sum_abs_err"))
        .orderBy("bucket")
    }),

    // transitive clustering over the lev-edges (A1 → large-star/small-star CC)
    "q_cc_clusters" -> ((s, dir) =>
      sFlagshipCC(s, dir).orderBy("doc_id")),

    // center clustering over the same lev-edges — the radius-1 clustering
    // strategy (greedy lex-first-MIS centers + min-adjacent-center
    // assignment; see [[Components.centerClusters]]): the over-merge-proof
    // complement to q_cc_clusters from the ER clustering-strategy
    // literature (Hassanzadeh & Miller, VLDB'09). Golden-backed (the
    // non-monotonic MIS fixpoint has no recursive-CTE form);
    // ComponentsSpec proves the distributed rounds ≡ the sequential
    // greedy, and CrossCheckSpec re-derives this output independently.
    "q_center_clusters" -> ((s, dir) =>
      Components.centerClusters(levEdges(s, dir).select("src", "dst"))(s)
        .orderBy("doc_id")),

    // canopy blocking (McCallum et al., KDD 2000) over the shared-band-count
    // cheap metric: tight = shares ≥ 2 of 4 MinHash bands, loose = shares
    // ≥ 1 — the two-threshold, deliberately-OVERLAPPING alternative to
    // single-key blocking (a doc loose-close to two tight-separated centers
    // is scored in BOTH canopies, so borderline pairs the single-threshold
    // cut would split are retained). Membership is the OVERLAPPING-SUPERSET
    // variant: docs removed from the pool by the tight threshold still join
    // later centers' canopies here, whereas the paper's loop excludes them —
    // canopies are strictly larger (recall-safe; CanopySpec pins the
    // variant). Centers = lex-first MIS of the tight
    // graph + tight-isolated docs ([[graft.pipeline.Canopy]]); golden-backed
    // (the MIS fixpoint has no recursive-CTE form), CanopySpec proves
    // distributed ≡ sequential greedy and the membership/overlap laws.
    "q_canopy" -> ((s, dir) => {
      val d = sBandRelation(s, dir)
      val counted = d.select(col("doc_id").as("a"), col("bk"))
        .join(d.select(col("doc_id").as("b"), col("bk")), Seq("bk"))
        .filter(col("a") < col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("nb"))
        .localCheckpoint(true)
      val loose = counted.select(col("a").as("src"), col("b").as("dst"))
      val tight = counted.filter(col("nb") >= 2)
        .select(col("a").as("src"), col("b").as("dst"))
      Canopy.canopies(loose, tight, docsTable(s, dir).select("doc_id"))(s)
        .groupBy("canopy_id")
        .agg(count(lit(1)).as("n_members"),
          array_join(transform(sort_array(collect_list(col("doc_id"))),
            _.cast("string")), ",").as("members"))
        .filter(col("n_members") > 1)
        .orderBy("canopy_id")
    }),

    // iterative match-merge ER (R-Swoosh family, Benjelloun et al. 2009):
    // merged profiles (token-set unions) re-enter matching, so the fixpoint
    // can merge entities no pairwise base comparison matched — semantics CC
    // over one-shot edges cannot express ([[graft.pipeline.Swoosh]]; the
    // spec constructs the differentiating witness). Entity MinHash
    // signatures FOLD from member mins (min of union = elementwise min), so
    // rounds never re-hash text. Golden-backed; SwooshSpec re-derives the
    // fixpoint sequentially with brute-force all-pairs matching.
    "q_swoosh" -> ((s, dir) => {
      // profiles are shingle sets; the 12 MinHash minima are recovered
      // from the shared band keys. widen: both derivations run per-doc
      // md5/shingle kernels off the one-split scan
      val b = widen(docsTable(s, dir).select("doc_id", "text"))
      val toks = b.select(col("doc_id"), shingleSet(col("text")).as("toks"))
      val mins = b.select(col("doc_id"),
        transform(flatten(transform(sBandKeys(col("text")),
          k => slice(split(k, ":"), 2, 3))), _.cast("long")).as("mins"))
      Swoosh.resolve(toks, mins, 0.8)(s).orderBy("doc_id")
    }),

    // privacy-preserving record linkage (Schnell, Bachteler & Reiher 2009):
    // each record's quasi-identifier (lowercased 40-char prefix) is encoded
    // as a 256-bit Bloom filter (4 bigint lanes, k=2 md5-derived positions
    // per 8-char shingle); linkage then sees ONLY the encodings — blocking
    // keys are within-lane byte pairs of the filter (112 per doc, 0-0
    // dropped as degenerate) with a ≥6-shared-keys vote, and the match
    // score is Dice similarity of the filters. dice_txt (plaintext shingle
    // Dice) rides along as the fidelity audit: the classic PPRL evaluation
    // is how faithfully encoding similarity tracks plaintext similarity.
    // Candidacy + threshold are DEFINED identically in the DuckDB oracle
    // (the LSH-candidacy-contract pattern). Measured census (sf0.01 →
    // sf0.1): 0.09 → 0.52 candidates/doc, recall 25/25 and 256/256 vs the
    // all-pairs dice ≥ 0.8 truth; the 8-char shingle feature keeps the
    // filters sparse where bigrams saturated them (15% pair candidacy).
    "q_pprl" -> ((s, dir) => {
      // widen: the shingle explode + per-shingle md5 position derivation
      // is scan-rooted on the one-split table (event-log: 1.55 s single-
      // task Generate stage), and every downstream leg inherits it
      val t = widen(docsTable(s, dir).select(col("doc_id"),
        lower(substring(col("text"), 1, 40)).as("t")))
      val shingled = array_distinct(transform(
        sequence(lit(1), greatest(length(col("t")) - 7, lit(1))),
        i => col("t").substr(i, lit(8))))
      val pos = t.select(col("doc_id"), explode(shingled).as("f"))
        .select(col("doc_id"), explode(array(
          conv(substring(md5(col("f")), 1, 7), 16, 10).cast("long") % 256,
          conv(substring(md5(col("f")), 8, 7), 16, 10).cast("long") % 256)).as("p"))
      val bloomCols = (0 until 4).map(w =>
        bit_or(when(floor(col("p") / 64) === w,
          call_function("shiftleft", lit(1L), (col("p") % 64).cast("int")))
          .otherwise(lit(0L))).as(s"w$w"))
      val bloom = pos.groupBy("doc_id").agg(bloomCols.head, bloomCols.tail: _*)
        .localCheckpoint(true) // feeds the key explode and both verify sides
      val keyExprs = for { li <- 0 until 4; i <- 0 until 8; j <- (i + 1) until 8 } yield
        concat_ws(":", lit(s"$li-$i-$j"),
          shiftrightunsigned(col(s"w$li"), 8 * i).bitwiseAND(lit(255L)),
          shiftrightunsigned(col(s"w$li"), 8 * j).bitwiseAND(lit(255L)))
      // widen: bloom checkpoints on an AQE-coalesced near-single
      // partition, so the 112-key explode + self-join probe otherwise
      // serialize (event-log: two ~1.8 s single-task stages)
      // (a transform-over-literal-combos rewrite of the 112 key
      // expressions was tried for codegen-size reasons and measured
      // neutral-to-negative — kept in the expression form)
      val keys = widen(bloom)
        .select(col("doc_id"), explode(array(keyExprs: _*)).as("k"))
        .filter(!col("k").endsWith(":0:0"))
      val cand = keys.select(col("doc_id").as("a"), col("k"))
        .join(keys.select(col("doc_id").as("b"), col("k")), Seq("k"))
        .filter(col("a") < col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("nk"))
        .filter(col("nk") >= 6)
        .select("a", "b")
      val bA = bloom.select(col("doc_id").as("a") +:
        (0 until 4).map(w => col(s"w$w").as(s"x$w")): _*)
      val bB = bloom.select(col("doc_id").as("b") +:
        (0 until 4).map(w => col(s"w$w").as(s"y$w")): _*)
      val sets = t.select(col("doc_id"), shingled.as("fs"))
      val interBits = (0 until 4).map(w =>
        bit_count(col(s"x$w").bitwiseAND(col(s"y$w")))).reduce(_ + _)
      val pops = (0 until 4).map(w => bit_count(col(s"x$w"))).reduce(_ + _) +
        (0 until 4).map(w => bit_count(col(s"y$w"))).reduce(_ + _)
      cand.join(bA, "a").join(bB, "b")
        .join(sets.select(col("doc_id").as("a"), col("fs").as("fsA")), "a")
        .join(sets.select(col("doc_id").as("b"), col("fs").as("fsB")), "b")
        .withColumn("dice_enc", round(lit(2.0) * interBits / pops, 6))
        .withColumn("dice_txt", round(lit(2.0) * size(array_intersect(col("fsA"), col("fsB"))) /
          (size(col("fsA")) + size(col("fsB"))), 6))
        .filter(col("dice_enc") >= 0.8)
        .select("a", "b", "dice_enc", "dice_txt")
        .orderBy("a", "b")
    }),

    // threshold-sensitivity sweep — the ER tuning report: score the banded
    // candidates ONCE, cut edges at a loose (< 15) and a strict (< 8)
    // edit-distance threshold, run CC on both edge sets, and report how
    // each loose cluster shatters under the strict cut (n_parts = distinct
    // strict components among its members; strict-edgeless members are
    // their own part). One scoring pass feeds both cuts; CC runs on the
    // edge relations only (≪ corpus), so the sweep costs one extra
    // CC-on-edges over the single-threshold pipeline at any scale.
    "q_threshold_sweep" -> ((s, dir) => {
      // the loose edge set + distances IS the pinned levEdges relation
      // (which carries d), the loose CC IS sFlagshipCC, and the strict CC
      // is the memoized sStrictCC shared with q_cluster_stability (at 850k
      // this query previously re-ran its own candidate join + lev pass:
      // 35.7 s → the strict CC alone, now amortized across both consumers)
      val ccL = sFlagshipCC(s, dir)
      val ccS = sStrictCC(s, dir)
      ccL.join(ccS, Seq("doc_id"), "left")
        .withColumn("strict_id", coalesce(col("strict_id"), col("doc_id")))
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_members"),
          countDistinct("strict_id").as("n_parts"))
        .filter(col("n_members") > 1)
        .orderBy("cluster_id")
    }),

    // Threshold-stability index: the chance-corrected agreement (ARI)
    // between the production clustering (lev < 15) and the strict cut
    // (lev < 8) over the FULL doc universe (unclustered docs are
    // singletons on both sides) — the scalar an ER reviewer reads before
    // committing a threshold change ("how much of the answer is
    // threshold-sensitive?"), complementing q_threshold_sweep's
    // per-cluster shatter report. Zero new corpus work: both partitions
    // ride the pinned levEdges scan (which carries d) and the memoized
    // loose CC; the index itself is the ariOf contingency kernel — three
    // linear map-side-combined aggregates, no pair expansion.
    "q_cluster_stability" -> ((s, dir) => {
      val ccL = sFlagshipCC(s, dir)
      val ccS = sStrictCC(s, dir)
      val assign = docsTable(s, dir).select(col("doc_id"))
        .join(ccL, Seq("doc_id"), "left")
        .join(ccS, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("c"),
          coalesce(col("strict_id"), col("doc_id")).as("tt"))
      ariOf(assign)
    }),

    // Average-linkage HAC within each flagship component (the dedupe.io
    // methodology's post-step; see [[graft.pipeline.Hac]]): CC merges
    // a–b–c on chained edges even when a and c are unrelated; the
    // dendrogram cut (average pairwise lev ≤ 9, tighter than the 15 edge
    // cut) splits such chains. Embarrassingly parallel across components
    // (one flatMapGroups; members capped at 32 BEFORE the group shuffle);
    // exact integer linkage arithmetic → deterministic golden oracle,
    // with a from-scratch sequential rederivation in HacSpec.
    "q_hac_clusters" -> ((s, dir) => {
      val t = docsTable(s, dir)
        .select(col("doc_id"), substring(col("text"), 1, 60).as("t"))
      graft.pipeline.Hac.run(sFlagshipCC(s, dir), t, cut = 9)(s)
        .orderBy("doc_id")
    }),

    // Cannot-link constrained clustering (see [[graft.pipeline.Constrained]];
    // golden oracle + from-scratch sequential rederivation in
    // ConstrainedSpec): simulated reviewer feedback = a "cross-source
    // matches need review" policy — one representative (min doc_id) per
    // (flagship component, source), every rep pair within a component
    // marked cannot-link (reps capped at 16/component before the pair
    // expansion, so the constraint relation is O(components), never
    // quadratic in members). This is the labeled-pairs loop of interactive
    // ER: the blocker PROPOSED these cross-source merges (they sit inside
    // one lev-edge component — q_cross_source_dups reports them), the
    // reviewer declined the rep pairs, and the clusterer must now keep
    // those reps apart while still merging everything else — non-rep docs
    // still follow their BEST-scoring edge greedily, so the result differs
    // from both the unconstrained CC (which merges across sources; 22 of
    // 23 sf0.01 components are multi-source) and a hard per-source
    // partition (unlabeled docs may still cross). Scale shape: the solver
    // is embarrassingly parallel across components with members capped at
    // 64 and edges/constraints pre-filtered to the capped set BEFORE the
    // group shuffle; everything rides the pinned levEdges / flagship-CC
    // relations, so the marginal corpus-scale work is two narrow joins and
    // one bounded flatMapGroups.
    "q_constrained_cc" -> ((s, dir) => {
      val cl = repPairs(s, dir).select("a", "b")
      graft.pipeline.Constrained.run(sFlagshipCC(s, dir), levEdges(s, dir),
          cl, cap = 64)(s)
        .orderBy("doc_id")
    }),

    // Full COP constrained clustering — the RESOLVED review queue (see
    // [[graft.pipeline.Constrained]]; golden oracle + sequential
    // rederivation in ConstrainedSpec). Where q_constrained_cc models the
    // queue as all-declined, here the reviewer actually works it: each
    // cross-source rep pair (same derivation, capped 16 reps/component) is
    // CONFIRMED (must-link) when the two reps agree on lang, DECLINED
    // (cannot-link) when they disagree — the typical adjudication rule
    // "same record, different source" vs "different language editions are
    // distinct entities". Confirmed pairs union before any scored edge;
    // declined pairs are hard, outranking any must chain that would
    // indirectly bridge them (a same-lang A–B chain meeting a declined
    // A⊥C keeps C out even if B–C was confirmed — the label-conflict
    // resolution the solver pins). The output provably differs from
    // q_constrained_cc at sf0.01 (asserted in ConstrainedSpec): same-lang
    // cross-source components stay merged instead of splitting. Scale
    // shape identical: the constraint relations stay O(components), built
    // from two window passes over the pinned CC join, capped and
    // component-filtered before the group shuffle.
    "q_constrained_must" -> ((s, dir) => {
      val pairs = repPairs(s, dir)
      val cl = pairs.filter(!col("same_lang")).select("a", "b")
      val ml = pairs.filter(col("same_lang")).select("a", "b")
      graft.pipeline.Constrained.run(sFlagshipCC(s, dir), levEdges(s, dir),
          cl, Some(ml), cap = 64)(s)
        .orderBy("doc_id")
    }),

    // chain-merge culprit audit ([[graft.pipeline.GraphAudit.bridges]];
    // golden oracle + naive remove-and-recount rederivation in
    // GraphAuditSpec): per member of a multi-member flagship component,
    // whether removing it DISCONNECTS the component's similarity graph
    // (Hopcroft–Tarjan cut vertices). A cluster held together solely
    // through one noisy doc is the over-merge HAC splits — this flags
    // which member a reviewer inspects first. Component-parallel
    // flatMapGroups over the pinned levEdges/CC relations, members capped
    // at 64 BEFORE the group shuffle (overflow passes through non-cut);
    // the cut set is a graph property, so determinism is free.
    "q_bridge_docs" -> ((s, dir) =>
      graft.pipeline.GraphAudit.bridges(sFlagshipCC(s, dir),
          levEdges(s, dir), cap = 64)(s)
        .orderBy("doc_id")),

    // merge-evidence chain ([[graft.pipeline.GraphAudit.mstEdges]]; golden
    // oracle + independent Prim's rederivation in GraphAuditSpec): per
    // flagship component, the minimum spanning forest of its scored edges
    // under (d, src, dst) order — the MINIMAL pair set justifying the
    // whole merge (every non-MST edge is redundant evidence). The review
    // UI shows these |C|−1 pairs instead of O(|C|²), and the chain's worst
    // edge is the cluster's weakest link with the witness pair attached.
    // Same component-parallel capped shape as q_bridge_docs; Kruskal under
    // a total edge order is unique, so the golden is stable.
    "q_evidence_mst" -> ((s, dir) =>
      graft.pipeline.GraphAudit.mstEdges(sFlagshipCC(s, dir),
          levEdges(s, dir), cap = 64)(s)
        .orderBy("cluster_id", "d", "src", "dst")),

    // Staged dedup cascade — the composition every production corpus
    // pipeline actually runs (cheap stages first, each stage sees only the
    // previous stage's survivors): 1_exact (identical text, md5 groupBy),
    // 2_near (the banded lev<15 edge relation restricted to exact
    // survivors → CC), 3_jaccard (token-set Jaccard ≥ 0.6 over banded
    // candidates among near survivors → CC; catches reorderings character
    // edit distance misses), 4_survivor. One row per doc: the stage that
    // dropped it and the representative (stage-CC min id) that killed it.
    // Scale shape: stage order ONLY removes work — every stage's candidate
    // join rides the same pinned band relation with survivor id filters
    // pushed to both sides, and each CC runs on that stage's edges only.
    // The partition {exact ∪ near ∪ jaccard ∪ survivor} is proven total
    // and disjoint in DataOpsSpec.
    "q_dedup_cascade" -> ((s, dir) => {
      val keyed = docsTable(s, dir).select(col("doc_id"), md5(col("text")).as("k"))
      val exactAssign = keyed.join(
          keyed.groupBy("k").agg(min("doc_id").as("keeper")), "k")
        .select(col("doc_id"), col("keeper"))
      val exactKilled = exactAssign.filter(col("doc_id") =!= col("keeper"))
      val s1 = exactAssign.filter(col("doc_id") === col("keeper")).select("doc_id")
      val e2 = levEdges(s, dir)
        .join(s1.select(col("doc_id").as("src")), "src")
        .join(s1.select(col("doc_id").as("dst")), "dst")
        .select("src", "dst")
      val nearKilled = Components.connectedComponents(e2)(s)
        .filter(col("doc_id") =!= col("cluster_id"))
      val s2 = s1.join(nearKilled, Seq("doc_id"), "left_anti")
      val toks = fsDocFeatures(s, dir).select(col("doc_id"), col("toks"))
      val e3 = sBandCandidates(s, dir)
        .join(s2.select(col("doc_id").as("a")), "a")
        .join(s2.select(col("doc_id").as("b")), "b")
        .join(toks.select(col("doc_id").as("a"), col("toks").as("ta")), "a")
        .join(toks.select(col("doc_id").as("b"), col("toks").as("tb")), "b")
        .withColumn("inter", size(array_intersect(col("ta"), col("tb"))))
        .filter(col("inter").cast("double") /
          (size(col("ta")) + size(col("tb")) - col("inter")) >= 0.6)
        .select(col("a").as("src"), col("b").as("dst"))
      val jacKilled = Components.connectedComponents(e3)(s)
        .filter(col("doc_id") =!= col("cluster_id"))
      val survivors = s2.join(jacKilled, Seq("doc_id"), "left_anti")
      exactKilled.select(col("doc_id"), lit("1_exact").as("stage"), col("keeper"))
        .unionByName(nearKilled.select(col("doc_id"), lit("2_near").as("stage"),
          col("cluster_id").as("keeper")))
        .unionByName(jacKilled.select(col("doc_id"), lit("3_jaccard").as("stage"),
          col("cluster_id").as("keeper")))
        .unionByName(survivors.select(col("doc_id"), lit("4_survivor").as("stage"),
          col("doc_id").as("keeper")))
        .orderBy("doc_id")
    }),

    // A3 group materialization + the reference's flagship report shape:
    // one row per multi-member cluster, members sorted keeper-first,
    // comma-joined for bit-exact compare with DuckDB string_agg
    "q_cluster_groups" -> ((s, dir) => {
      val cc = sFlagshipCC(s, dir)
      graft.sinks.Report.groups(cc)
        .select(col("cluster_id"), col("n_members"),
          array_join(transform(col("members"), _.cast("string")), ",").as("members"))
        .orderBy("cluster_id")
    }),

    // S8-S10 survivorship plan: keep-first policy as an anti-join rewrite —
    // keepers (min doc_id per cluster) never enter the delete set
    "q_survivorship" -> ((s, dir) => {
      val cc = sFlagshipCC(s, dir)
      val keepers = cc.groupBy("cluster_id").agg(min("doc_id").as("doc_id"))
      val deletes = cc.join(keepers, Seq("cluster_id", "doc_id"), "left_anti")
      deletes.join(keepers.withColumnRenamed("doc_id", "keeper"), "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("keeper"),
          lit("delete").as("action"))
        .orderBy("doc_id")
    }),

    // golden-record canonicalization: per duplicate cluster pick the
    // canonical document by a survivorship POLICY (longest text wins,
    // min doc_id tiebreak) rather than keep-first. The argmax is a single
    // struct-max aggregate — max(struct(n_chars, -doc_id)) — so the policy
    // costs ONE map-side-combined shuffle regardless of cluster sizes; no
    // window over the full relation, no second pass to break ties.
    "q_golden_record" -> ((s, dir) => {
      val cc = sFlagshipCC(s, dir)
      val m = cc.join(docsTable(s, dir).select(col("doc_id"), col("n_chars")), "doc_id")
      m.groupBy("cluster_id")
        .agg(count(lit(1)).as("n_members"),
          max(struct(col("n_chars").as("nc"), (-col("doc_id")).as("nid"))).as("best"))
        .select(col("cluster_id"), col("n_members"),
          (-col("best.nid")).as("canonical_doc"), col("best.nc").as("max_chars"))
        .orderBy("cluster_id")
    }),

    // boilerplate / repeated-span detection: verbatim 8-word phrases
    // appearing in MORE THAN ONE document (navigation chrome, license
    // headers, template text — the span-level dedup that doc-level
    // clustering misses). Word 8-grams rather than sentences because the
    // span unit must not depend on punctuation conventions. Two agg
    // stages — (phrase, doc) pre-collapse, then phrase — so both get
    // map-side combine and repeats WITHIN one doc count once; top-10 by
    // breadth via a bounded top-k sort, never a global one. Phrases are
    // md5-keyed in the shuffle at production scale; here the text itself
    // rides so the report is readable (oracle matches either way).
    "q_boilerplate" -> ((s, dir) => {
      // widen: the 8-gram phrase explode builds ~1.5M strings, scan-rooted
      val ph = widen(docsTable(s, dir).select("doc_id", "text"))
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 8)
        .select(col("doc_id"),
          explode(transform(sequence(lit(1), size(col("w")) - 7),
            i => array_join(slice(col("w"), i, lit(8)), " "))).as("phrase"))
      ph.groupBy("phrase", "doc_id").agg(count(lit(1)).as("c"))
        .groupBy("phrase")
        .agg(count(lit(1)).as("n_docs"), sum(col("c")).as("n_occurrences"))
        .filter(col("n_docs") > 1)
        .orderBy(col("n_docs").desc, col("phrase"))
        .limit(10)
    }),

    // blocking-quality census as a first-class query (reduction-ratio
    // ingredients): per band position — block count, row mass, max block
    // size, candidate-pair mass Σ b(b−1)/2. ONE map-side-combined groupBy
    // over the band relation; the per-position rollup is 4 rows. This is
    // the number you watch at 100 TB to catch key saturation before it
    // becomes a quadratic join.
    "q_blocking_stats" -> ((s, dir) => {
      val bands = sBandRelation(s, dir)
      bands.groupBy("bk").agg(count(lit(1)).as("bsize"))
        .withColumn("pos", split(col("bk"), ":").getItem(0).cast("int"))
        .groupBy("pos")
        .agg(count(lit(1)).as("n_blocks"),
          sum(col("bsize")).as("n_rows"),
          max(col("bsize")).as("max_block"),
          sum(col("bsize") * (col("bsize") - 1) / lit(2)).cast("long").as("n_cand_pairs"))
        .orderBy("pos")
    }),

    // per-source duplicate-rate report: fraction of each source's docs that
    // sit in a multi-member near-dup cluster (CC membership ⇔ has an edge).
    // The CC relation is tiny relative to the corpus, so the left join is
    // id-keyed and the aggregate is map-side combined — a corpus-hygiene
    // dashboard number that costs one narrow join + one agg at any scale.
    "q_dup_rate" -> ((s, dir) => {
      val cc = sFlagshipCC(s, dir)
      docsTable(s, dir).select(col("doc_id"), col("source"))
        .join(cc, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("cluster_id").isNotNull, 1L).otherwise(0L)).as("n_dup_docs"))
        .withColumn("dup_rate", round(col("n_dup_docs") / col("n_docs"), 6))
        .orderBy("source")
    }),

    // cluster-cohesion audit (ER precision proxy) — see [[clusterCohesion]]
    "q_cluster_cohesion" -> ((s, dir) =>
      clusterCohesion(
        sFlagshipCC(s, dir),
        docsTable(s, dir).select(col("doc_id"), substring(col("text"), 1, 60).as("t")))),

    // candidate-score calibration histogram: the distribution of edit
    // distances over BANDED candidate pairs, bucketed in 5s, with the
    // cross-source share per bucket. This is how a match threshold gets
    // chosen at 100 TB: one pass over the candidate relation (already
    // O(N·bucket) by construction), integer-keyed groupBy, 13 output rows.
    "q_cand_hist" -> ((s, dir) => {
      val t = docsTable(s, dir)
        .select(col("doc_id"), substring(col("text"), 1, 60).as("t"), col("source"))
      sBandCandidates(s, dir)
        .join(t.select(col("doc_id").as("a"), col("t").as("ta"), col("source").as("sa")), "a")
        .join(t.select(col("doc_id").as("b"), col("t").as("tb"), col("source").as("sb")), "b")
        .withColumn("d", levenshtein(col("ta"), col("tb")))
        .withColumn("bucket", floor(col("d") / 5.0).cast("int"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("sa") =!= col("sb"), 1L).otherwise(0L)).as("n_cross_source"))
        .orderBy("bucket")
    }),

    // clerical-review labeling queue (the human-in-the-loop front of an ER
    // calibration pass, cf. Fellegi-Sunter's clerical band): a deterministic
    // STRATIFIED sample of candidate pairs — ≤ 5 per 5-wide edit-distance
    // bucket across the whole score distribution — so a reviewer sees
    // confident matches, borderline pairs, and band-collision noise in one
    // bounded queue. The sample order is rank-by-md5(a:b) (a fixed
    // pseudo-random order both engines compute identically), so the queue is
    // stable across runs and engines; cost is one pass over the already-
    // O(N·bucket) candidate relation + a per-bucket top-k window — the
    // output is ≤ 5·buckets rows at any corpus size.
    "q_label_queue" -> ((s, dir) => {
      val t = docsTable(s, dir)
        .select(col("doc_id"), substring(col("text"), 1, 60).as("t"))
      val scored = sBandCandidates(s, dir)
        .join(t.select(col("doc_id").as("a"), col("t").as("ta")), "a")
        .join(t.select(col("doc_id").as("b"), col("t").as("tb")), "b")
        .withColumn("d", levenshtein(col("ta"), col("tb")))
        .withColumn("bucket", floor(col("d") / 5.0).cast("int"))
        .withColumn("tag", md5(concat_ws(":", col("a"), col("b"))))
      val w = Window.partitionBy("bucket").orderBy(col("tag"), col("a"), col("b"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("bucket"), col("rn").cast("long").as("rn"),
          col("a"), col("b"), col("d").cast("long").as("d"))
        .orderBy("bucket", "rn")
    }),

    // sorted-neighborhood blocking (Hernández/Stolfo SNM — the classic ER
    // alternative to hash/LSH blocking): sort the corpus by a key, compare
    // each record only to its w = 3 successors. The global rank is computed
    // the SCALE-CORRECT way — range repartition by (key, id), per-partition
    // row_number (the window is partitioned, never a single-partition global
    // sort), plus broadcast prefix offsets from a #partitions-sized census —
    // and the neighbor join is a rank equi-join (explode of w target ranks),
    // so the whole operator is one range shuffle + one linear join: O(w·N)
    // pairs by construction, no quadratic regime at any key distribution.
    "q_sorted_neighborhood" -> ((s, dir) => {
      val w = 3
      val t = docsTable(s, dir).select(col("doc_id"),
        substring(col("text"), 1, 60).as("t"),
        substring(col("text"), 1, 24).as("k"))
      val ranked = globalRank(s, t, Seq("k", "doc_id")).select("doc_id", "t", "rn")
      ranked.select(col("doc_id").as("ida"), col("t").as("ta"),
          explode(sequence(col("rn") + 1, col("rn") + w)).as("rn"))
        .join(ranked.select(col("doc_id").as("idb"), col("t").as("tb"), col("rn")), "rn")
        .withColumn("d", levenshtein(col("ta"), col("tb"), 14))
        .filter(col("d") >= 0)
        .select(least(col("ida"), col("idb")).as("a"),
          greatest(col("ida"), col("idb")).as("b"), col("d"))
        .orderBy("a", "b")
    }),

    // cross-table record linkage (bipartite ER): link the even-id half of
    // the corpus against the odd-id half — the query-level mirror of
    // pipeline.Linkage.link. The band relation is derived ONCE and split by
    // parity, the equi-join generates only cross-side candidates (neither
    // side's internal pairs exist anywhere in the plan), and only banded
    // survivors pay the Jaro-Winkler scorer. Linking a batch against a
    // master corpus this way costs O(batch × bucket), not O(corpus²).
    "q_record_linkage" -> ((s, dir) =>
      linkagePairs(s, dir).orderBy("left_id", "right_id")),

    // best-match selection: top-1 right record per left record by (jw desc,
    // right_id asc) — the assignment step after linkage scoring. The window
    // partitions by left_id over the MATCH relation (already bucket-bounded),
    // never over a corpus-sized relation.
    "q_linkage_best" -> ((s, dir) => {
      val w = Window.partitionBy("left_id").orderBy(col("jw").desc, col("right_id"))
      linkagePairs(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
        .orderBy("left_id")
    }),

    // Fellegi-Sunter probabilistic linkage scoring (Fellegi & Sunter, JASA
    // 1969): each banded candidate pair gets a comparison vector over four
    // field agreements (lang, length bucket, token-Jaccard >= 0.6,
    // prefix-60 edit distance < 15) and the classic log2(m/u) agreement /
    // log2((1-m)/(1-u)) disagreement weights, summed in fixed expression
    // order (identical double literals in both engines — see Fs). One band
    // join + two id-keyed payload joins: the same O(N·bucket) shape as
    // every other candidate query, and the decision-theoretic scoring layer
    // a production ER deployment tunes instead of a single hard threshold.
    "q_fellegi_sunter" -> ((s, dir) => {
      fsVectors(s, dir)
        .select(col("a"), col("b"),
          col("lang_agree"), col("len_agree"), col("jac_agree"), col("lev_agree"),
          round(when(col("lang_agree"), Fs.wLangA).otherwise(Fs.wLangD) +
            when(col("len_agree"), Fs.wLenA).otherwise(Fs.wLenD) +
            when(col("jac_agree"), Fs.wJacA).otherwise(Fs.wJacD) +
            when(col("lev_agree"), Fs.wLevA).otherwise(Fs.wLevD), 4).as("score"))
        .orderBy("a", "b")
    }),

    // Term-frequency-adjusted Fellegi-Sunter weights (Splink's
    // tf_adjustments): agreeing on a RARE field value is stronger evidence
    // than agreeing on a common one, so the lang-agreement weight becomes
    // ln(m_lang / p(v)) with p(v) the corpus share of the agreed value —
    // u_lang for value v is approximately p(v) — while disagreement and
    // the other three fields keep their global weights. Everything is
    // floor-quantized to integer milli-nats (the q_tfidf treatment): the
    // fixed weights are Scala-computed literals embedded in BOTH engines,
    // and the data-dependent term is the identical floor(1000·ln(m/p))
    // expression, so score_milli is an exact int64 in both. The value
    // frequency table is one map-side-combined groupBy broadcast to the
    // candidate relation — O(|values|) extra state, never a corpus shuffle.
    "q_tf_adjust" -> ((s, dir) => {
      // one docs scan: per-value counts, with the corpus total folded back
      // in from the counts themselves (sum over ≤|values| rows) instead of
      // a separate count() action over the table
      val cnts = docsTable(s, dir).groupBy("lang")
        .agg(count(lit(1)).cast("double").as("cnt"))
        .localCheckpoint(true)
      val freq = cnts.crossJoin(broadcast(cnts.agg(sum(col("cnt")).as("n_docs"))))
        .select(col("lang").as("lang_a"), (col("cnt") / col("n_docs")).as("pf"))
      fsVectors(s, dir)
        .withColumnRenamed("langA", "lang_a")
        .join(broadcast(freq), "lang_a")
        .withColumn("w_lang", when(col("lang_agree"),
          floor(lit(1000.0) * log(lit(TfW.langM) / col("pf")))).otherwise(lit(TfW.langD)))
        .withColumn("score_milli", col("w_lang") +
          (when(col("len_agree"), lit(TfW.lenA)).otherwise(lit(TfW.lenD)) +
            when(col("jac_agree"), lit(TfW.jacA)).otherwise(lit(TfW.jacD)) +
            when(col("lev_agree"), lit(TfW.levA)).otherwise(lit(TfW.levD))))
        .select("a", "b", "lang_a", "lang_agree", "w_lang", "score_milli")
        .orderBy("a", "b")
    }),

    // Splink's u-estimation protocol, completing the FS estimation story:
    // the non-match field-agreement rates u_k are estimated from
    // DETERMINISTIC pseudo-random pairs — adjacent docs in md5(doc_id)
    // order, overwhelmingly true non-matches — the complement of
    // q_fs_em's blocked-pair fit (which is biased toward matches). The
    // global md5 order uses the scale-safe globalRank (range shuffle +
    // bounded offset map, no single-partition sort) and the rates are
    // EXACT integer micro-units ((10⁶·agree) div n) — no FP anywhere.
    // O(N) pairs, one narrow shuffle.
    "q_u_sample" -> ((s, dir) => {
      val d = fsDocFeatures(s, dir)
        .withColumn("h", md5(col("doc_id").cast("string")))
      val ranked = globalRank(s, d, Seq("h", "doc_id"))
      val lefts = ranked.filter(col("rn") % 2 === 1)
        .select((col("rn") + 1).as("rn"), col("lang").as("langA"), col("lb").as("lbA"),
          col("t").as("tA"), col("toks").as("toksA"))
      lefts.join(ranked.select(col("rn"), col("lang").as("langB"), col("lb").as("lbB"),
          col("t").as("tB"), col("toks").as("toksB")), "rn")
        .withColumn("inter", size(array_intersect(col("toksA"), col("toksB"))))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("langA") === col("langB"), 1L).otherwise(0L)).as("lang_ag"),
          sum(when(col("lbA") === col("lbB"), 1L).otherwise(0L)).as("len_ag"),
          sum(when(col("inter").cast("double") /
            (size(col("toksA")) + size(col("toksB")) - col("inter")) >= 0.6, 1L)
            .otherwise(0L)).as("jac_ag"),
          sum(when(levLt15(col("tA"), col("tB")), 1L).otherwise(0L)).as("lev_ag"))
        .select(col("n_pairs"),
          expr("(1000000 * lang_ag) div n_pairs").as("u_lang_micro"),
          expr("(1000000 * len_ag) div n_pairs").as("u_len_micro"),
          expr("(1000000 * jac_ag) div n_pairs").as("u_jac_micro"),
          expr("(1000000 * lev_ag) div n_pairs").as("u_lev_micro"))
    }),

    // Unsupervised Fellegi-Sunter parameter ESTIMATION (Winkler 1988 EM —
    // the fit Splink runs per blocking rule): instead of taking Fs's m/u
    // literals on faith, learn the two-class mixture from the data. The
    // distributed stage aggregates the banded candidates' comparison
    // vectors into the 16-cell pattern table (map-side-combined groupBy —
    // the only corpus-scale work); the EM fixpoint then runs driver-side
    // over those 16 scalars (the bounded-driver-work shape of the IVF
    // fit). Output = one row per observed pattern with its pair count and
    // converged posterior match probability. The oracle unrolls the SAME
    // 20 EM iterations into generated SQL (fsEmOracle) with identical
    // left-associated expression order, so the doubles match bit-for-bit
    // (prototype-verified in DuckDB before wiring).
    "q_fs_em" -> ((s, dir) =>
      fsEmPosteriors(s, fsVectors(s, dir))
        .orderBy("lang_agree", "len_agree", "jac_agree", "lev_agree")),

    // Fellegi-Sunter DECISION rule on the EM-fitted posteriors: the 1969
    // paper's three-way triage — match (posterior ≥ 0.95), non-match
    // (≤ 0.05), clerical review between — applied per candidate pair by
    // broadcast-joining the ≤16-row fitted pattern table back onto the
    // comparison vectors. Thresholds compare the ROUNDED posterior so the
    // cut is identical in both engines. The per-pair cost is one broadcast
    // hash join on four booleans — nothing beyond the candidate relation
    // itself at any scale.
    "q_fs_decisions" -> ((s, dir) => {
      // the comparison vectors feed BOTH the EM fit (a collect) and the
      // per-pair decision join — the session-pinned relation covers both
      val vecs = fsVectors(s, dir)
      val pat = fsEmPosteriors(s, vecs)
        .withColumn("decision", when(col("p_match") >= 0.95, "match")
          .when(col("p_match") <= 0.05, "non_match")
          .otherwise("clerical"))
        .drop("n")
      vecs
        .join(broadcast(pat), Seq("lang_agree", "len_agree", "jac_agree", "lev_agree"))
        .select("a", "b", "p_match", "decision")
        .orderBy("a", "b")
    }),

    // Meta-blocking (Papadakis et al., TKDE 2013): re-weight the banded
    // candidate graph by co-occurrence evidence — edge weight = number of
    // band keys the pair shares (CBS scheme) — and prune edges at or below
    // the global mean weight (WEP). Runs entirely on the pinned
    // (doc_id, band) relation: one equi-join + one map-side-combined
    // count, and the mean is a 1-row broadcast, so the pruning layer costs
    // no more than candidate generation itself at any corpus size.
    "q_meta_blocking" -> ((s, dir) => {
      val rel = sBandRelation(s, dir)
      // materialized once: both consumers (the mean aggregate and the
      // pruned output) read the weighted edge relation, which is already
      // candidate-sized — recomputing the band self-join for each would
      // double the only expensive stage
      val w = rel.select(col("doc_id").as("a"), col("bk"))
        .join(rel.select(col("doc_id").as("b"), col("bk")), Seq("bk"))
        .filter(col("a") < col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("w"))
        .localCheckpoint(true)
      w.crossJoin(broadcast(w.agg(avg(col("w")).as("avg_w"))))
        .filter(col("w") > col("avg_w"))
        .select("a", "b", "w").orderBy("a", "b")
    }),

    // TF-IDF cosine re-scoring of banded candidate pairs. IDF is quantized
    // to integer milli-nats (floor(1000·ln(N/df))), so the dot product and
    // the per-doc norms are EXACT 64-bit integer aggregates in both
    // engines; the only floating-point steps (one divide, one sqrt, one
    // round) run on identical operands and are IEEE-deterministic. The
    // corpus-wide tf/idf tables are two map-side-combined aggregations and
    // weights join candidates BY ID, so the term relation never rides the
    // band shuffle — at 100 TB this is two narrow shuffles on (doc, token)
    // plus the already-bounded candidate join.
    "q_tfidf_pairs" -> ((s, dir) => {
      val nDocs = docsTable(s, dir).count()
      val tf = docsTable(s, dir)
        .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val idf = tf.groupBy("token").agg(count(lit(1)).as("df"))
        .withColumn("iq", floor(lit(1000.0) * log(lit(nDocs.toDouble) / col("df"))).cast("long"))
      // pinned once: wt feeds THREE consumers (both join sides + the norm
      // aggregate) whose differing projections defeat exchange reuse — an
      // unmaterialized wt re-runs the corpus tokenize + two aggregations
      // per consumer (same treatment as q_meta_blocking's edge relation)
      val wt = tf.join(idf.select("token", "iq"), "token")
        .select(col("doc_id"), col("token"), (col("tf") * col("iq")).as("w"))
        .localCheckpoint(true)
      val nrm = wt.groupBy("doc_id").agg(sum(col("w") * col("w")).as("n2"))
      val cand = sBandCandidates(s, dir)
      val dots = cand
        .join(wt.select(col("doc_id").as("a"), col("token"), col("w").as("wa")), "a")
        .join(wt.select(col("doc_id").as("b"), col("token"), col("w").as("wb")), Seq("b", "token"))
        .groupBy("a", "b").agg(sum(col("wa") * col("wb")).as("dot"))
      // zero-norm guard: Spark's non-ANSI divide yields NULL on a 0.0
      // divisor while DuckDB's IEEE mode yields NaN — both engines must
      // take the same branch, so the degenerate all-stopword doc scores 0
      cand.join(dots, Seq("a", "b"), "left")
        .na.fill(0L, Seq("dot"))
        .join(nrm.select(col("doc_id").as("a"), col("n2").as("na2")), "a")
        .join(nrm.select(col("doc_id").as("b"), col("n2").as("nb2")), "b")
        .select(col("a"), col("b"), col("dot"),
          when(col("na2") > 0 && col("nb2") > 0,
            round(col("dot") / sqrt(col("na2").cast("double") * col("nb2").cast("double")), 6))
            .otherwise(lit(0.0)).as("cos_sim"))
        .orderBy("a", "b")
    }),

    // Leakage-safe train/val/test split: assignment at CLUSTER granularity
    // — near-duplicates share a cluster, so no near-dup pair can straddle
    // splits, the contamination a per-doc split (q_sample_split) cannot
    // rule out. Each cluster's id hashes to its stratum; members inherit.
    // Costs the CC relation (already bucket-bounded) + one id-keyed left
    // join + one map-side-combined aggregate at any corpus size.
    "q_cluster_split" -> ((s, dir) => {
      val cc = sFlagshipCC(s, dir)
      val full = docsTable(s, dir).select(col("doc_id"))
        .join(cc, Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      val bucket = conv(substring(
        md5(concat(lit("csplit:"), col("cluster_id").cast("string"))), 1, 15), 16, 10)
        .cast("long") % 100
      full.withColumn("split",
          when(bucket < 5, "test").when(bucket < 10, "val").otherwise("train"))
        .groupBy("split")
        .agg(countDistinct(col("cluster_id")).as("n_clusters"),
          count(lit(1)).as("n_docs"))
        .orderBy("split")
    }),

    // Blocking-quality estimator: pairs completeness (recall) + reduction
    // ratio — the standard blocking evaluation pair — on the deterministic
    // 1/[[evalSampleK]] md5 stratum: brute-force ground truth (lev < 15 on
    // 60-prefixes) versus the banded candidate set restricted to the
    // sample. The O((N/k)²) scorer is the deliberate, bounded cost of
    // ESTIMATING recall; the production path never pays it, and because k
    // is one named constant the evaluator cost is tunable at 100 TB — the
    // q_er_f1_sampled contract, oracle carrying the identical predicate.
    "q_blocking_recall" -> ((s, dir) => {
      val sample = docsTable(s, dir)
        .filter(sampleBucket(col("doc_id")) % evalSampleK === 0)
        .select(col("doc_id"), substring(col("text"), 1, 60).as("t"))
      // the sample reads as 1-2 parquet splits, and BroadcastNestedLoopJoin
      // parallelizes over LEFT partitions only — without this widen the
      // O(sample²) lev pass runs on one core (measured 88.7 s at sf0.1;
      // ~3 s fanned out)
      val pairs = widen(sample.select(col("doc_id").as("a"), col("t").as("ta")))
        .crossJoin(sample.select(col("doc_id").as("b"), col("t").as("tb")))
        .filter(col("a") < col("b"))
      // pinned: the lev pass over the sample² pairs is the expensive leg
      // and feeds two consumers (count + the caught semi-join)
      val truth = pairs.filter(levLt15(col("ta"), col("tb")))
        .select("a", "b").localCheckpoint(true)
      val sampleIds = sample.select("doc_id")
      val cands = sBandCandidates(s, dir)
        .join(sampleIds.withColumnRenamed("doc_id", "a"), Seq("a"), "left_semi")
        .join(sampleIds.withColumnRenamed("doc_id", "b"), Seq("b"), "left_semi")
        .localCheckpoint(true)
      val caught = truth.join(cands, Seq("a", "b"), "left_semi")
      truth.agg(count(lit(1)).as("n_true"))
        .crossJoin(cands.agg(count(lit(1)).as("n_cand")))
        .crossJoin(caught.agg(count(lit(1)).as("n_caught")))
        .crossJoin(pairs.agg(count(lit(1)).as("n_pairs")))
        .select(col("n_true"), col("n_cand"), col("n_caught"), col("n_pairs"),
          when(col("n_true") > 0, round(col("n_caught") / col("n_true"), 4))
            .otherwise(lit(0.0)).as("recall"),
          when(col("n_pairs") > 0,
            round(lit(1.0) - col("n_cand") / col("n_pairs"), 6))
            .otherwise(lit(0.0)).as("reduction_ratio"))
    }),

    // End-to-end pairwise ER evaluation — the north rule's own acceptance
    // metric (pairwise F1 on labeled pairs) as a first-class report.
    // Ground truth = EXACT shingle-Jaccard ≥ 0.9 pairs from the lossless
    // PPJoin kernel ([[exactShinglePairs]] — O(N·block), never the
    // O(sample²) q_blocking_recall pays, so this runs over the FULL
    // corpus); predicted = same-cluster pairs of the flagship clustering
    // (banded candidacy → lev < 15 → large-star/small-star CC).
    // Intra-cluster pair expansion is quadratic only within a cluster
    // (near-dup groups, bounded by survivorship policy), and both sides
    // are pinned before the counts so neither recomputes per aggregate.
    // precision/recall/f1 are derived from UNROUNDED double ratios of
    // exact integer counts, then rounded once — identical bits in both
    // engines.
    "q_er_f1" -> ((s, dir) => {
      pairwisePrf(exactShinglePairs(s, dir, 0.9).select("a", "b"),
        sameClusterPairs(sFlagshipCC(s, dir)).localCheckpoint(true))
    }),

    // q_er_f1 on the deterministic 1/[[evalSampleK]] hash stratum
    // ([[sampleBucket]] % k == 0) — the BOUNDED evaluator mode the 100-TB
    // path actually runs:
    // the exact PPJoin truth is quadratic in prefix candidates on
    // saturated vocabularies (BASELINE census: 131× candidates for 10×
    // docs), so at scale the truth relation is measured on a stratum
    // while the PREDICTION stays the full-corpus flagship clustering,
    // restricted to sampled endpoints. The stratum is a pure id function
    // (md5 bucket), so the oracle reproduces it verbatim and the sampled
    // metric is exact — a measurement of the full clustering on a
    // deterministic subpopulation, not an approximation of q_er_f1.
    "q_er_f1_sampled" -> ((s, dir) => {
      val inS = docsTable(s, dir)
        .filter(sampleBucket(col("doc_id")) % evalSampleK === 0).select("doc_id")
      val pred = sameClusterPairs(sFlagshipCC(s, dir))
        .join(inS.withColumnRenamed("doc_id", "a"), Seq("a"), "left_semi")
        .join(inS.withColumnRenamed("doc_id", "b"), Seq("b"), "left_semi")
        .select("a", "b").localCheckpoint(true)
      pairwisePrf(exactShinglePairs(s, dir, 0.9, sampleK = evalSampleK).select("a", "b"), pred)
    }),

    // Clustering-STRATEGY comparison — q_er_f1's pairwise metric computed
    // for BOTH clustering semantics over the same edge relation
    // (transitive CC vs radius-1 center clustering), one row per
    // strategy: the report that decides which semantics fits a corpus
    // (CC over-merges drifting chains, centers over-split long true
    // clusters — here the truth is exact shingle-Jaccard ≥ 0.9 from the
    // lossless PPJoin). The cc leg reads the session-pinned sFlagshipCC
    // assignment; the center leg clusters over the session-pinned levEdges
    // relation — the same edge contract, one pinned copy each. The oracle
    // derives the CC side from the shared band+lev contract and the center
    // side from the committed golden, so a center-clustering drift trips
    // this query too.
    "q_strategy_f1" -> ((s, dir) => {
      val truth = exactShinglePairs(s, dir, 0.9).select("a", "b")
      val edges = levEdges(s, dir).select("src", "dst")
      def leg(name: String, assign: DataFrame): DataFrame =
        pairwisePrf(truth, sameClusterPairs(assign).localCheckpoint(true))
          .select(lit(name).as("strategy"), col("*"))
      leg("cc", sFlagshipCC(s, dir))
        .unionByName(leg("center", Components.centerClusters(edges)(s)
          .withColumnRenamed("center_id", "cluster_id")))
        .orderBy("strategy")
    }),

    // B³ (B-cubed) clustering evaluation (Bagga & Baldwin 1998; Amigó et
    // al. 2009) — the per-DOC complement of q_er_f1's pairwise metric:
    // pairwise F1 over-weights large clusters (pairs grow quadratically),
    // B³ weighs every document equally, so a mangled small cluster still
    // moves the score. Truth clustering = CC over the exact shingle-
    // Jaccard ≥ 0.9 pairs ([[exactShinglePairs]]); predicted = the
    // flagship clustering; unmatched docs are singletons on both sides
    // (cluster reps are member min-ids, so a singleton's own id can never
    // collide with another component's rep). B³P = (1/N)·Σ_cells n²/|C|
    // over the (pred, truth) contingency cells — three linear groupBys,
    // no pair expansion at all, so this evaluator is even cheaper than
    // the pairwise one at any scale. Per-cell terms are quantized to 6
    // decimals and summed as DECIMAL so both engines add identical
    // addends in any order.
    "q_bcubed" -> ((s, dir) => {
      val assign = sEvalAssignment(s, dir)
      val cells = assign.groupBy("c", "tt").agg(count(lit(1)).as("n"))
        .join(assign.groupBy("c").agg(count(lit(1)).as("nc")), "c")
        .join(assign.groupBy("tt").agg(count(lit(1)).as("nt")), "tt")
      cells.agg(
          sum(col("n")).cast("long").as("n_docs"),
          sum(round(col("n") * col("n") / col("nc"), 6).cast("decimal(28,10)"))
            .cast("double").as("sp"),
          sum(round(col("n") * col("n") / col("nt"), 6).cast("decimal(28,10)"))
            .cast("double").as("sr"))
        .withColumn("p", col("sp") / col("n_docs"))
        .withColumn("r", col("sr") / col("n_docs"))
        .select(col("n_docs"), round(col("p"), 6).as("b3_prec"),
          round(col("r"), 6).as("b3_rec"),
          round(when(col("p") + col("r") > 0,
            lit(2.0) * col("p") * col("r") / (col("p") + col("r")))
            .otherwise(lit(0.0)), 6).as("b3_f1"))
    }),

    // Adjusted Rand Index (Hubert & Arabie 1985) — the chance-corrected
    // member of the cluster-evaluation trio (pairwise F1 = q_er_f1, per-doc
    // B³ = q_bcubed, pair-counting-vs-chance = this): a clustering that
    // merely mimics the truth's cluster-size DISTRIBUTION scores ~0 here
    // even when random agreement inflates the other two. Same contingency
    // cells as q_bcubed (three linear groupBys over the pinned assignment,
    // no pair expansion); the pair counts Σ C(n,2) over cells and both
    // marginals are exact int64 sums, and the final index is one double
    // expression over those four exact counts, evaluated in identical
    // operation order by both engines and rounded once. den = 0 only when
    // both partitions are trivially identical (all-singletons or
    // one-cluster on both sides) → ARI := 1.
    "q_ari" -> ((s, dir) => ariOf(sEvalAssignment(s, dir))),

    // Normalized Mutual Information with the arithmetic-mean normalization
    // 2·I/(H_C + H_T) (Kvalseth 1987 — the scikit-learn default; Strehl &
    // Ghosh 2002's variant divides by the geometric mean instead) — the
    // information-theoretic member of the evaluation family, on the same
    // pinned (pred, truth) assignment and the same linear contingency
    // rollups; see [[nmiOf]] for the exact-integer entropy quantization.
    "q_nmi" -> ((s, dir) => nmiOf(sEvalAssignment(s, dir))),

    // Purity / inverse purity (Amigó et al. 2009's survey baseline pair) —
    // the integer-exact member of the evaluation family, on the same
    // pinned assignment; see [[purityOf]].
    "q_purity" -> ((s, dir) => purityOf(sEvalAssignment(s, dir))),

    // PII scrub accounting (training-data hygiene): plant deterministic
    // contact PII (an email + an 8-digit account id derived from doc_id)
    // next to real text, then detect and redact with the same regex
    // definitions in both engines and account the damage per source. A
    // narrow projection into a map-side-combined aggregate — no shuffle
    // wider than the source cardinality at any corpus size.
    "q_pii_scrub" -> ((s, dir) => {
      val c = docsTable(s, dir).select(col("source"),
        concat(lit("user"), col("doc_id").cast("string"), lit("@mail.example id="),
          lpad(((col("doc_id") * 7919) % 100000000).cast("string"), 8, "0"),
          lit(" "), substring(col("text"), 1, 40)).as("contact"))
      val noEmail = regexp_replace(col("contact"), PiiEmailPat, "[EMAIL]")
      val scrubbed = regexp_replace(noEmail, PiiDigitsPat, "[ID]")
      c.select(col("source"),
          regexp_count(col("contact"), lit(PiiEmailPat)).as("n_email"),
          regexp_count(noEmail, lit(PiiDigitsPat)).as("n_id"),
          (length(col("contact")) - length(scrubbed)).as("redacted"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_email")).as("n_emails"),
          sum(col("n_id")).as("n_ids"), sum(col("redacted")).as("chars_redacted"))
        .orderBy("source")
    }),

    // MinHash/LSH candidate generation over document text (no SQL analog)
    "q_minhash_lsh" -> ((s, dir) => {
      import s.implicits._
      // widen: the 128-permutation signature map is scan-rooted serial work
      val sigs = widen(docsTable(s, dir).select(col("doc_id").cast("string"), col("text")))
        .as[(String, String)].map { case (id, t) =>
          (id, MinHash.signature(Tokenize.shingleHashes(t, 5)))
        }.toDF("doc_id", "sig")
      val bands = sigs.select(col("doc_id"), col("sig"),
        explode(udf((sg: Seq[Long]) => MinHash.bandKeys(sg.toArray).toSeq)
          .apply(col("sig"))).as("band"))
      val l = bands.select(col("doc_id").as("a"), col("band"), col("sig").as("sa"))
      val r = bands.select(col("doc_id").as("b"), col("band"), col("sig").as("sb"))
      val est = udf((x: Seq[Long], y: Seq[Long]) => MinHash.estimate(x.toArray, y.toArray))
      l.join(r, Seq("band")).filter(col("a") < col("b"))
        .select("a", "b", "sa", "sb").distinct()
        .withColumn("est", round(est(col("sa"), col("sb")), 4))
        .filter(col("est") >= 0.5)
        .select("a", "b", "est")
        .orderBy("a", "b")
    }),

    // SimHash near-dup signatures + banded candidates (no SQL analog)
    "q_simhash" -> ((s, dir) => {
      import s.implicits._
      val sh = docsTable(s, dir).select(col("doc_id").cast("string"), col("text"))
        .as[(String, String)].map { case (id, t) => (id, SimHash.simhash64(t)) }
        .toDF("doc_id", "simhash")
      val bands = sh.select(col("doc_id"), col("simhash"),
        explode(udf((h: Long) => SimHash.hammingBandKeys(h, 4).toSeq).apply(col("simhash"))).as("band"))
      val l = bands.select(col("doc_id").as("a"), col("band"), col("simhash").as("ha"))
      val r = bands.select(col("doc_id").as("b"), col("band"), col("simhash").as("hb"))
      l.join(r, Seq("band")).filter(col("a") < col("b"))
        .select(col("a"), col("b"),
          bit_count(col("ha").bitwiseXOR(col("hb"))).as("d")).distinct()
        .filter(col("d") < 8)
        .orderBy("a", "b")
    }),

    // full pipeline end-to-end on the documents table (flagship, no SQL
    // analog); the run is memoized per (session, dir, config) —
    // q_retract_clusters rides the same clustering as its starting state
    "q_pipeline_clusters" -> ((s, dir) => {
      sFlagshipAssignment(s, dir, GraftConfig(mediaThreshold = 11))
        .select(col("doc_id").cast("long").as("doc_id"), col("cluster_id"))
        .orderBy("doc_id")
    }),

    // retraction (the DELETE leg of the incremental ER lifecycle): cluster
    // the corpus, then retract every doc_id % 7 == 0 via Incremental.retract
    // — only the touched clusters are re-resolved (O(members × bucket),
    // never O(corpus)), and the output is byte-equal to re-running the
    // pipeline over the remainder (RetractSpec proves the equality law on
    // the labeled corpus; CrossCheckSpec re-proves it on THIS table)
    "q_retract_clusters" -> ((s, dir) => {
      val cfgQ = GraftConfig(mediaThreshold = 11)
      val docs = asDocs(s, dir)
      // starting state = the memoized flagship run (shared with
      // q_pipeline_clusters — previously a second full pipeline run here)
      val assign = sFlagshipAssignment(s, dir, cfgQ)
      val rm = docsTable(s, dir).filter(col("doc_id") % 7 === 0)
        .select(col("doc_id").cast("string").as("doc_id"))
      val res = graft.pipeline.Incremental.retract(s, docs, assign, rm, cfgQ)
      val out = res.assignments
        .select(col("doc_id").cast("long").as("doc_id"), col("cluster_id"))
        .orderBy("doc_id").localCheckpoint(true)
      res.release()
      out
    }),

    // perceptual-hash signature stage over synthetic media (P2-P4/P7; no SQL analog)
    "q_media_phash" -> ((s, dir) => {
      import s.implicits._
      // widen: render + DCT per doc off the one-split scan
      widen(docsTable(s, dir).select(col("doc_id"))).as[Long].map { id =>
        val img = SynthMedia.render(graft.text.Hashing.hash64(s"doc-$id"), 0)
        val (row, colh) = graft.imaging.PHash.dhash(img)
        (id, graft.imaging.PHash.dct64(img), row, colh)
      }.toDF("doc_id", "dct", "dhash_row", "dhash_col").orderBy("doc_id")
    }),

    // targeted compare (reference E2): duplicates of one probe doc —
    // a perturbed copy of doc 7's text must link back to doc 7
    "q_compare_target" -> ((s, dir) => {
      import s.implicits._
      val probeText = docsTable(s, dir).filter(col("doc_id") === 7)
        .select("text").as[String].collect()(0)
      val words = probeText.split(" ")
      val perturbed = (words.take(words.length / 2) ++
        words.drop(words.length / 2 + 1)).mkString(" ")
      val target = Doc("probe-0", Seq(Span.text(perturbed, 0)))
      // widen: compare() derives signatures over the whole candidate corpus
      Pipeline.compare(s, target, widen(asDocs(s, dir)), GraftConfig(mediaThreshold = 11))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
        .orderBy("doc_id")
    }),

    // multimodal: decode → feature-extract over binary image columns
    // (real PNG round-trip; no SQL analog)
    "q_image_features" -> ((s, dir) => {
      import s.implicits._
      // widen: render + PNG encode per kept doc off the one-split scan
      val media = widen(docsTable(s, dir).select(col("doc_id"))).as[Long]
        .filter(_ % 10 == 0).map { id =>
          val img = SynthMedia.render(graft.text.Hashing.hash64(s"img-$id"), 0)
          val bi = new java.awt.image.BufferedImage(img.width, img.height,
            java.awt.image.BufferedImage.TYPE_INT_ARGB)
          var y = 0
          while (y < img.height) {
            var x = 0
            while (x < img.width) {
              bi.setRGB(x, y, (img.a(x, y) << 24) | (img.r(x, y) << 16) |
                (img.g(x, y) << 8) | img.b(x, y))
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(bi, "png", bos)
          graft.media.Multimodal.MediaRow(id.toString, s"img-$id", "image/png", bos.toByteArray)
        }
      // single-consumer use: drop the multi-consumer cache marker up front
      // (evaluation then decodes once, uncached — nothing strands in
      // storage memory across repeated query runs in one session)
      val (feats, _, releaseDecoded) = graft.media.Multimodal.imageFeatures(media)(s)
      releaseDecoded()
      feats.toDF().select(col("doc_id").cast("long").as("doc_id"),
        col("width"), col("height"), col("phash"), col("dhash_row"), col("dhash_col"))
        .orderBy("doc_id")
    }),

    // multimodal video: REAL MJPEG-in-AVI decode end-to-end — each doc
    // synthesizes a deterministic AVI (JPEG frames in 00dc movi chunks),
    // sampleFrames extracts + ImageIO-decodes + pHashes real frames, and
    // the shared-frame join reports the exact re-uploads that carry
    // >= minShared sampled frames
    "q_video_near_dups" -> ((s, dir) => {
      import s.implicits._
      // widen: AVI synth + JPEG decode per kept doc, scan-rooted
      val media = widen(docsTable(s, dir).select(col("doc_id"))).as[Long]
        .filter(_ % 20 == 0).flatMap { id =>
          // floor of 6 frames: everyNth=2 samples >= 3 of them, so EVERY
          // planted re-upload clears minShared=3 (a 4-frame clip samples
          // only 2 and its copy pair would be structurally undetectable)
          val nFrames = 6 + (id % 12).toInt
          val bytes = SynthMedia.aviClip(graft.text.Hashing.hash64(s"vid-$id"), nFrames)
          // every 5th video also appears as an exact re-upload
          val base = graft.media.Multimodal.MediaRow(s"v$id", s"vid-$id", "video/avi", bytes)
          if (id % 100 == 0)
            Seq(base, graft.media.Multimodal.MediaRow(s"v$id-copy", s"vid-$id", "video/avi", bytes))
          else Seq(base)
        }
      val frames = graft.media.Multimodal.sampleFrames(media, everyNth = 2, maxFrames = 12)(s)
      graft.media.Multimodal.videoNearDups(frames, minShared = 3)(s)
        .orderBy("a", "b")
    }),

    // multimodal audio: REAL WAV/PCM decode end-to-end — each doc
    // synthesizes a deterministic 8-segment melody WAV seeded by its id
    // (per-window frequency/amplitude hashes ⇒ a (7×40)^8 class space:
    // no two distinct ids coincide on the quantized features at ANY
    // corpus scale — a constant tone would collapse into #buckets²
    // classes and flood the join quadratically), and every 4th clip also
    // appears as a NOISY RE-RECORD that the dual-offset grids GUARANTEE
    // to match with >= 8 of 32 shared slots regardless of bucket-boundary
    // position (see Multimodal.pcmFingerprint). Near-dup = sharing >= 8
    // of 32 (window, value) fingerprint slots
    "q_audio_near_dups" -> ((s, dir) => {
      import s.implicits._
      // widen: WAV synth + decode per kept doc, scan-rooted
      val media = widen(docsTable(s, dir).select(col("doc_id"))).as[Long]
        .filter(_ % 15 == 0).flatMap { id =>
          val seed = graft.text.Hashing.hash64(s"aud-$id")
          val base = graft.media.Multimodal.MediaRow(s"a$id", s"aud-$id", "audio/wav",
            SynthMedia.wavMelody(seed))
          if (id % 60 == 0)
            Seq(base, graft.media.Multimodal.MediaRow(s"a$id-re", s"aud-$id-re", "audio/wav",
              SynthMedia.wavMelody(seed, noise = 0.001)))
          else Seq(base)
        }
      val feats = graft.media.Multimodal.audioFeatures(media)(s)
      val f = feats.select(col("doc_id"),
        posexplode(col("audio_fp")).as(Seq("w", "v"))).distinct()
      val l = f.select(col("doc_id").as("a"), col("w"), col("v"))
      val r = f.select(col("doc_id").as("b"), col("w"), col("v"))
      l.join(r, Seq("w", "v")).filter(col("a") < col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("shared_windows"))
        .filter(col("shared_windows") >= 8)
        .orderBy("a", "b")
    }),

    // per-doc text analysis rollup: heuristic language id, quality score,
    // BPE-ish token estimate, winnow fingerprint count (kernel surface;
    // no SQL analog)
    "q_doc_stats" -> ((s, dir) => {
      import s.implicits._
      // widen: winnow/quality/langId kernels per doc off the one-split scan
      widen(docsTable(s, dir).select(col("doc_id"), col("text"))).as[(Long, String)]
        .map { case (id, t) =>
          val q = TextStats.quality(t)
          (id, TextStats.langId(t), math.round(q.score * 10000.0) / 10000.0,
            Tokenize.bpeTokenCount(t), TextStats.winnow(t).length)
        }.toDF("doc_id", "lang_guess", "quality", "bpe_tokens", "n_fingerprints")
        .orderBy("doc_id")
    }),

    // S4 list source: an external id list (the reference's stdin targets)
    // restricts the corpus via LEFT SEMI join. The list here is a generated
    // range Dataset (stdin-analog: not derived from the table), broadcast
    // by Catalyst at this size
    "q_list_filter" -> ((s, dir) => {
      import s.implicits._
      val wanted = s.range(0, 100000, 7).select(col("id").as("doc_id"))
      docsTable(s, dir)
        .join(wanted, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // ---- text analysis for training-data pipelines -----------------------

    "q_token_stats" -> ((s, dir) => {
      docsTable(s, dir)
        .withColumn("n_tokens", size(split(trim(col("text")), "\\s+")))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("n_tokens")).as("min_tokens"),
          max(col("n_tokens")).as("max_tokens"))
        .orderBy("lang")
    }),

    "q_quality" -> ((s, dir) => {
      val d = docsTable(s, dir)
        .withColumn("alpha", length(col("text")) -
          length(regexp_replace(col("text"), "[a-zA-Z]", "")))
        .withColumn("spaces", length(col("text")) -
          length(regexp_replace(col("text"), "[ ]", "")))
        .withColumn("alpha_ratio",
          (col("alpha").cast("double") / col("n_chars")).cast("decimal(28,10)"))
      d.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          round(sum(col("alpha_ratio")).cast("double"), 6).as("sum_alpha_ratio"),
          sum(col("spaces")).as("sum_spaces"))
        .orderBy("lang")
    }),

    // language guess from stopword-marker hit counts (same heuristic in SQL).
    // Single tokenize pass: ONE split of the lowered text + four array-filter
    // membership counts — versus the round-2 form's 24 full-text
    // length+regexp_replace scans (12 markers × 2 passes), which made this
    // the slowest driver query at 25.9 s. The marker-count definition is
    // token-based in BOTH engines (list_filter mirror below).
    "q_lang_guess" -> ((s, dir) => {
      def hits(markers: Seq[String]): Column =
        size(filter(col("toks"), t => t.isin(markers: _*))).cast("long")
      docsTable(s, dir)
        .withColumn("toks", split(lower(col("text")), " "))
        .withColumn("h_en", hits(Seq("the", "and", "of")))
        .withColumn("h_de", hits(Seq("der", "und", "das")))
        .withColumn("h_fr", hits(Seq("le", "et", "les")))
        .withColumn("h_es", hits(Seq("el", "que", "los")))
        .withColumn("pred",
          when(col("h_en") >= greatest(col("h_de"), col("h_fr"), col("h_es")) &&
            col("h_en") > 0, "en")
            .when(col("h_de") >= greatest(col("h_fr"), col("h_es")) && col("h_de") > 0, "de")
            .when(col("h_fr") >= col("h_es") && col("h_fr") > 0, "fr")
            .when(col("h_es") > 0, "es")
            .otherwise("und"))
        .groupBy("lang", "pred").agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred")
    }),

    // benchmark decontamination: flag corpus docs sharing ANY 13-word-gram
    // with a held-out benchmark set (doc_id % 20 == 0 stands in for the
    // eval set) — the training-data hygiene op. Gram keys are 60-bit md5
    // hashes, computed by ONE udf call per doc (the interpreted
    // transform+md5 column form costs ~4× more — same lesson as sBandKeys);
    // "first 15 md5 hex chars" == top 60 bits of the digest, identical to
    // the oracle's CAST('0x'||substr(md5(...),1,15)). The benchmark gram
    // table is small by construction, so the probe side broadcasts instead
    // of shuffling the full corpus gram relation.
    "q_decontam" -> ((s, dir) => {
      // spread docs by doc_id before the hash kernel: the sf parquet is
      // one split, and the doc_id layout also lets the per-doc n_hits
      // aggregate run without an exchange of its own, at any scale
      val grams = spread(docsTable(s, dir), col("doc_id"))
        .select(col("doc_id"),
          explode(gramHashUdf(13)(split(trim(col("text")), "\\s+"))).as("g"))
      val bench = grams.filter(col("doc_id") % 20 === 0).select("g").distinct()
      grams.filter(col("doc_id") % 20 =!= 0)
        .join(broadcast(bench), Seq("g"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
        .orderBy("doc_id")
    }),

    // Bloom-prefiltered decontamination — the SAME contract as q_decontam
    // (the oracle SQL is shared verbatim), on the plan shape the 100-TB
    // corpus needs: at real scale the eval-gram set is 10⁸-10⁹ longs —
    // gigabytes raw, too big to broadcast, which is exactly what
    // q_decontam's broadcast-join plan would try. Here NOTHING forces a
    // broadcast: the Bloom filter (~1.2 bytes/gram at 1% FPP — MBs at
    // 10⁸ grams; at the 10⁹ top end it would be sharded) prunes the
    // corpus gram stream MAP-SIDE to ~FPP of its volume, and the exact
    // verify is a plain shuffle equi-join between the (tiny) survivor
    // stream and the eval grams — O(survivors + eval grams) network,
    // never a full-relation broadcast. Bloom false positives die in the
    // verify, so the output is bit-identical to q_decontam
    // (DecontamBloomSpec pins the equality). The filter itself is built
    // distributedly (treeAggregate under stat.bloomFilter), costs O(eval
    // grams), and is deterministic.
    "q_decontam_bloom" -> ((s, dir) => {
      // doc_id spread: as in q_decontam
      val grams = spread(docsTable(s, dir), col("doc_id"))
        .select(col("doc_id"),
          explode(gramHashUdf(13)(split(trim(col("text")), "\\s+"))).as("g"))
      // pinned: the eval side feeds three consumers (count, bloom build,
      // exact verify join) — unpinned, each re-runs the corpus gram pass
      val bench = grams.filter(col("doc_id") % 20 === 0).select("g").distinct()
        .localCheckpoint(true)
      val bf = bench.stat.bloomFilter("g", math.max(bench.count(), 1L), 0.01)
      val mightContain = udf((g: Long) => bf.mightContain(g))
      grams.filter(col("doc_id") % 20 =!= 0)
        .filter(mightContain(col("g"))) // map-side prune, ~99% of misses drop here
        .join(bench, Seq("g")) // exact verify via shuffle join: FPs die, output exact
        .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
        .orderBy("doc_id")
    }),

    // repetition / diversity quality signals: type-token ratio and adjacent
    // token repeats per lang (boilerplate and degenerate-generation filter)
    "q_repetition" -> ((s, dir) => {
      val t = docsTable(s, dir).select(col("doc_id"), col("lang"),
        split(trim(col("text")), "\\s+").as("w"))
      val r = t.select(col("lang"),
        round(size(array_distinct(col("w"))).cast("double") / size(col("w")), 6).as("ttr"),
        size(filter(zip_with(
          slice(col("w"), lit(1), size(col("w")) - 1),
          slice(col("w"), lit(2), size(col("w")) - 1),
          (x, y) => x === y), b => b)).cast("long").as("n_adj_repeats"))
      r.groupBy("lang").agg(count(lit(1)).as("n_docs"),
        round(sum(col("ttr").cast("decimal(28,10)")).cast("double"), 6).as("sum_ttr"),
        sum(col("n_adj_repeats")).as("sum_adj_repeats"),
        sum(when(col("ttr") < 0.4, 1L).otherwise(0L)).as("n_low_ttr"))
        .orderBy("lang")
    }),

    // substring-level dedup extents (Lee et al. 2022, "Deduplicating
    // Training Data Makes Language Models Better", arXiv:2107.06499 —
    // the span-removal counterpart of doc-level dedup): for every doc,
    // the merged word-offset intervals covered by an 8-word gram that also
    // appears VERBATIM in at least one other document. Grams are 60-bit
    // md5 keys from one UDF pass per doc (same kernel shape as
    // q_decontam); shared grams come from a map-side-combined groupBy;
    // interval union is classic gaps-and-islands (a window per doc —
    // bounded by doc length, never corpus-sized). At 100 TB every stage is
    // a narrow hash shuffle on the gram key or a per-doc window; nothing
    // quadratic. Output per affected doc: span count, covered words, and
    // the duplicated fraction a span-removal pass would excise.
    "q_dup_spans" -> ((s, dir) => {
      // doc_id spread: parallelizes the gram kernel, and the layout
      // serves the (g, doc_id) countDistinct, the hit distinct and the
      // per-doc window without further exchanges
      val grams = spread(docsTable(s, dir), col("doc_id"))
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
        .select(col("doc_id"), size(col("w")).as("n_words"),
          posexplode(gramHashUdf(8)(col("w"))))
        .select(col("doc_id"), col("n_words"), (col("pos") + 1).as("p"), col("col").as("g"))
      val shared = grams.groupBy("g")
        .agg(countDistinct("doc_id").as("nd")).filter(col("nd") > 1).select("g")
      val hits = grams.join(shared, Seq("g"))
        .select("doc_id", "n_words", "p").distinct()
      val byDoc = Window.partitionBy("doc_id").orderBy("p")
      val spans = hits
        .withColumn("f", when(lag("p", 1).over(byDoc).isNull
          || col("p") - lag("p", 1).over(byDoc) > 8, 1).otherwise(0))
        .withColumn("isl", sum("f").over(byDoc))
        .groupBy("doc_id", "n_words", "isl")
        .agg(min("p").as("sp"), (max("p") + 7).as("ep"))
      spans.groupBy("doc_id", "n_words")
        .agg(count(lit(1)).as("n_dup_spans"),
          sum(col("ep") - col("sp") + 1).as("n_dup_words"))
        .withColumn("dup_frac", round(col("n_dup_words") / col("n_words"), 6))
        .select(col("doc_id"), col("n_words").cast("long").as("n_words"),
          col("n_dup_spans"), col("n_dup_words"), col("dup_frac"))
        .orderBy("doc_id")
    }),

    // deterministic stratified train/val/test split — the data-mixing
    // primitive: bucket = top-60-bits(md5("split:" ++ doc_id)) mod 100, so
    // membership is a pure function of the id (reproducible across runs,
    // engines, and cluster sizes; no sampling state to coordinate). The
    // salt prefix makes independent splits composable (different salt ⇒
    // independent hash). Narrow map + one agg shuffle; at 100 TB the split
    // column costs one projection over the scan.
    "q_sample_split" -> ((s, dir) => {
      val bucket = conv(substring(
        md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 15), 16, 10)
        .cast("long") % 100
      docsTable(s, dir)
        .withColumn("split",
          when(bucket < 5, "test").when(bucket < 10, "val").otherwise("train"))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy("lang", "split")
    }),

    // vocabulary document-frequency table (IDF/stopword construction): two
    // explicit aggregation stages — (token, doc_id) then (token) — so BOTH
    // get map-side partial combine; a count(DISTINCT doc_id) over the raw
    // explode would carry every (token, doc_id) pair through one shuffle
    // without pre-collapse. Top-20 by df with a total tiebreak (token asc).
    "q_vocab_df" -> ((s, dir) => {
      val toks = docsTable(s, dir).select(col("doc_id"),
        explode(split(trim(col("text")), "\\s+")).as("token"))
      toks.groupBy("token", "doc_id").agg(count(lit(1)).as("c"))
        .groupBy("token").agg(count(lit(1)).as("df"), sum(col("c")).as("tf"))
        .orderBy(col("df").desc, col("token")).limit(20)
    }),

    // Unigram-LM perplexity filter (the CCNet/Gopher quality gate): fit a
    // unigram language model on the corpus itself (one map-side-combined
    // token count), score every document by its mean per-token surprisal
    // −ln p(tok), and report the 100 most-surprising documents — the rows
    // a perplexity filter would drop. Surprisal is floor-quantized to
    // milli-nats PER OCCURRENCE (the q_tfidf treatment), so the per-doc
    // sum and the `div` mean are exact int64 in both engines. The token
    // relation is a narrow explode re-derived by each consumer (cheaper at
    // scale than materializing the corpus token stream); the LM join is a
    // plain equi-join on token — broadcast-eligible at small vocab, shuffle
    // at web-scale vocab — and the doc aggregate is map-side combined.
    "q_unigram_ppl" -> ((s, dir) => {
      def toks = docsTable(s, dir).select(col("doc_id"),
        explode(split(trim(col("text")), "\\s+")).as("token"))
      val lm = toks.groupBy("token").agg(count(lit(1)).as("cnt")).localCheckpoint(true)
      val total = lm.agg(sum(col("cnt")).as("n_total"))
      toks.join(lm, "token")
        .crossJoin(broadcast(total))
        .withColumn("sup", floor(lit(1000.0) *
          log(col("n_total").cast("double") / col("cnt").cast("double"))))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_toks"), sum(col("sup")).as("sup_milli"))
        .select(col("doc_id"), col("n_toks"), col("sup_milli"),
          expr("sup_milli div n_toks").as("ppl_milli"))
        .orderBy(col("ppl_milli").desc, col("doc_id")).limit(100)
    }),

    // Per-source KL divergence from the corpus unigram distribution — the
    // domain-mix diagnostic a data-mixture pipeline reads before reweighting
    // sources: KL(p_source ‖ p_corpus) = Σ_t p_s(t)·ln(p_s(t)/p(t)),
    // reported as the exact int64 occurrence-weighted sum of per-token
    // milli-nat floor-quantized log-ratios (Σ c_st·⌊1000·ln((c_st·N)/(n_s·c_t))⌋,
    // the q_unigram_ppl treatment) and its per-occurrence mean. True KL is
    // ≥ 0; the downward floor quantization can push the sum a hair negative,
    // so the MEAN clamps at 0 (both operands nonnegative → trunc and floor
    // division agree across engines) while kl_sum_milli stays signed-exact.
    // Cost: one (source, token) count, two map-side-combined rollups, one
    // token equi-join — nothing wider than the vocabulary at any scale.
    "q_source_kl" -> ((s, dir) => {
      val st = docsTable(s, dir)
        .select(col("source"), explode(split(trim(col("text")), "\\s+")).as("token"))
        .groupBy("source", "token").agg(count(lit(1)).as("c_st"))
        .localCheckpoint(true)
      val t = st.groupBy("token").agg(sum(col("c_st")).as("c_t"))
      val sTot = st.groupBy("source").agg(sum(col("c_st")).as("n_s"))
      val tot = st.agg(sum(col("c_st")).as("n"))
      st.join(t, "token").join(sTot, "source").crossJoin(broadcast(tot))
        .withColumn("term", col("c_st") * floor(lit(1000.0) *
          log((col("c_st").cast("double") * col("n").cast("double")) /
            (col("n_s").cast("double") * col("c_t").cast("double")))))
        .groupBy("source")
        .agg(max(col("n_s")).as("n_toks"), sum(col("term")).as("kl_sum_milli"))
        .select(col("source"), col("n_toks"), col("kl_sum_milli"),
          expr("greatest(kl_sum_milli, 0L) div n_toks").as("kl_milli"))
        .orderBy("source")
    }),

    // cross-source near-duplicate overlap matrix (dataset-contamination
    // report): which sources copy from which. Rides the SAME banded-MinHash
    // candidacy + lev<15 edge relation as the CC family — source labels are
    // joined by id onto the (src, dst) edges, so the matrix costs two
    // narrow id-keyed joins on top of machinery that already scales.
    "q_cross_source_dups" -> ((s, dir) => {
      val src = docsTable(s, dir).select(col("doc_id"), col("source"))
      levEdges(s, dir)
        .join(src.select(col("doc_id").as("src"), col("source").as("sa")), "src")
        .join(src.select(col("doc_id").as("dst"), col("source").as("sb")), "dst")
        .select(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"))
        .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_pairs"))
        .orderBy("source_a", "source_b")
    }),

    // token-length percentiles per source via cumulative histogram — the
    // 100-TB percentile shape: the windows run over the (source, n_tokens)
    // HISTOGRAM (bounded by max doc length, a few hundred rows), never over
    // the raw corpus, and the percentile rule is integer arithmetic
    // (cum·k ≥ tot·q) so both engines agree exactly — no float quantile
    // interpolation to mismatch on.
    "q_len_percentiles" -> ((s, dir) => {
      val h = docsTable(s, dir)
        .select(col("source"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
        .groupBy("source", "n_tokens").agg(count(lit(1)).as("c"))
      val cum = Window.partitionBy("source").orderBy("n_tokens")
      h.withColumn("cum", sum(col("c")).over(cum))
        .withColumn("tot", sum(col("c")).over(Window.partitionBy("source")))
        .groupBy("source")
        .agg(min(when(col("cum") * 2 >= col("tot"), col("n_tokens"))).as("p50"),
          min(when(col("cum") * 10 >= col("tot") * 9, col("n_tokens"))).as("p90"),
          min(when(col("cum") * 100 >= col("tot") * 99, col("n_tokens"))).as("p99"),
          max(col("n_tokens")).as("max_tokens"))
        .orderBy("source")
    }),

    // winnowing fingerprints (no SQL analog — rows-only check)
    "q_fingerprint" -> ((s, dir) => {
      import s.implicits._
      // widen: the winnowing kernel per doc is scan-rooted serial work
      widen(docsTable(s, dir).select(col("doc_id").cast("string"), col("text")))
        .as[(String, String)].map { case (id, t) =>
          val fp = TextStats.winnow(t)
          (id.toLong, fp.length, if (fp.isEmpty) 0L else fp.min)
        }.toDF("doc_id", "n_prints", "min_print").orderBy("doc_id")
    }),

    // ---- similarity search over embeddings --------------------------------

    // brute-force cosine top-3 neighbors for the first 50 query vectors
    "q_cosine_topk" -> ((s, dir) => {
      sExactNeighbours(s, dir).filter(col("cos_rank") <= 3)
        .select(col("q"), col("n"), col("cos_rank").as("rank"), col("cos"))
        .orderBy("q", "rank")
    }),

    // embedding near-duplicate census over sign-LSH candidate pairs.
    //
    // Candidacy is DEFINED (in both engines) as "shares >= 1 of 8 8-bit bands
    // of the 63-bit sign hash", then exact-cosine rescored at > 0.35. The
    // band predicate is part of the query semantics, so the Spark band
    // equi-join and the DuckDB all-pairs-form oracle agree bit-exactly by
    // construction — no probabilistic recall gap in the *contract*.
    //
    // Recall of the banded candidacy w.r.t. an unconstrained cosine census
    // (random-hyperplane math, p = 1 - acos(c)/pi per bit):
    //   cos 0.35 -> ~15%, cos 0.6 -> ~55%, cos 0.8 -> ~93%, cos 0.9 -> ~99.8%
    // i.e. a lower bound that tightens to ~1 exactly where pairs are true
    // near-duplicates. An exact census at cos 0.35 over isotropic 64-d data
    // is provably brute-force (no blocking scheme has guaranteed recall at
    // ~67 degrees); the O(N^2) form was round 1's 163 s bench entry. This
    // band join scans 3.5% of pairs here and stays O(N * bucket_size) at
    // 100x, with `q_cosine_topk` as the exact ground-truth query.
    "q_embed_near_dup" -> ((s, dir) => {
      sSignBandPairs(s, dir).filter(col("cos") > 0.35)
        .groupBy("same_label")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("same_label")
    }),

    // SemDeDup-style semantic prune (Abbas et al. 2023, arXiv:2303.09540):
    // drop embedding-level near-duplicates keeping one representative per
    // semantic group. Candidacy is the SAME sign-LSH band contract as
    // q_embed_near_dup (shares ≥ 1 of 8 8-bit bands — defined identically
    // in the oracle, no probabilistic gap); pairs above the 0.35 cosine
    // cutoff become edges; transitive closure groups them; the keeper is the
    // minimum vec_id (deterministic survivorship). Output = the prune list
    // (dropped vec → its keeper). The band join is O(N·bucket), vectors
    // rejoin by id after the distinct, and CC runs on the edge relation
    // only (near-dup pairs, ≪ corpus) — the 100-TB path end to end.
    "q_semdedup" -> ((s, dir) => {
      val edges = sSignBandPairs(s, dir).filter(col("cos") > 0.35)
        .select(col("a").as("src"), col("b").as("dst"))
      Components.connectedComponents(edges)(s)
        .filter(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id").as("vec_id"), col("cluster_id").as("kept_by"))
        .orderBy("vec_id")
    }),

    // LSH-bucketed approximate NN (scale path; no SQL analog — rows-only):
    // the sign-band candidates ([[sSignBandPairs]]) at round-6 cosine > 0.3
    "q_ann_lsh" -> ((s, dir) => {
      sSignBandPairs(s, dir)
        .select(col("a"), col("b"), round(col("cos"), 6).as("cos"))
        .filter(col("cos") > 0.3)
        .orderBy("a", "b")
    }),

    // IVF ANN (coarse-quantizer scale path; deterministic centroids —
    // golden-snapshot oracle): top-3 cosine neighbours of the first 50
    // vectors probing 4 of 8 cells. Both IVF queries ride the PERSISTED
    // index ([[sIvfIndex]]): centroids + corpus cells are TableIO stages
    // paid once per generation, probes join the narrow (id, cell) relation.
    // ANN evaluation: recall@10 of the IVF probe path against brute-force
    // exact-cosine truth, per nprobe ∈ {1, 2, 4} — the standard ANN quality
    // curve (recall vs probed fraction) that justifies an nprobe choice.
    // The brute truth is the EVALUATOR leg and stays bounded the evaluator
    // way: a fixed query sample (50 ids) × corpus, one pass per session
    // ([[sExactNeighbours]], shared with q_cosine_topk and the PQ
    // evaluators); the production path is Ivf.topK (cell-partitioned,
    // nprobe/K of the data per query batch). On these isotropic synthetic
    // embeddings Voronoi cells cut neighbourhoods arbitrarily, so the curve
    // measures the real nprobe trade instead of reading ~1 everywhere.
    "q_ann_recall" -> ((s, dir) => {
      val e = embTable(s, dir)
      val (model, cells) = sIvfIndex(s, dir, e)
      val queries = e.filter(col("vec_id") < 50)
      val truth = sExactNeighbours(s, dir).filter(col("cos_rank") <= 10).select("q", "n")
      recallCurve(s, truth, "nprobe", Seq(1, 2, 4)) { np =>
        graft.ann.Ivf.topKWithIndex(queries, e, cells, model, "embedding",
          "vec_id", k = 10, nprobe = np, cosRound)
      }.orderBy("nprobe")
    }),

    "q_ann_ivf" -> ((s, dir) => {
      val e = embTable(s, dir)
      val (model, cells) = sIvfIndex(s, dir, e)
      val queries = e.filter(col("vec_id") < 50)
      graft.ann.Ivf.topKWithIndex(queries, e, cells, model, "embedding",
          "vec_id", k = 3, nprobe = 4, cosRound)
        .select("q", "n", "rank", "cos")
        .orderBy("q", "rank")
    }),

    // PQ-ADC ANN evaluation (memory-bounded scale path, [[graft.ann.Pq]];
    // golden-snapshot oracle): recall@10 of asymmetric product-quantization
    // search against exact inner-product truth for the 50-query sample, per
    // m ∈ {8, 16, 32} subspaces at 16 centroids each — 4-bit codes, so
    // 4/8/16 bytes per vector vs the 256-byte raw embedding. The emitted
    // curve is the compression/recall trade that picks a code width at
    // 10^12 vectors (measured 0.272/0.440/0.668 on these ISOTROPIC
    // synthetic embeddings — the hardest case for quantizers, same caveat
    // as q_ann_recall; BASELINE.md's PQ-ADC census holds the wider grid).
    // The corpus-side scan is the narrow (id, code) relation with the
    // query LUTs broadcast (no vector shuffle), the same plan family as
    // the IVF probe. Truth is exact INNER PRODUCT (what ADC approximates),
    // not cosine — documented difference vs q_ann_recall's metric.
    "q_ann_pq" -> ((s, dir) => {
      val queries = embTable(s, dir).filter(col("vec_id") < 50)
      recallCurve(s, ipTruth(s, dir), "m_sub", Seq(8, 16, 32)) { m =>
        graft.ann.Pq.adcTopK(queries, sPqCodes(s, dir, m), sPqModel(s, dir, m),
          "embedding", "vec_id", k = 10)
      }.select(col("m_sub"), (col("m_sub") / 2).cast("int").as("code_bytes"),
          col("n_hits"), col("n_truth"), col("recall"))
        .orderBy("m_sub")
    }),

    // IVF-PQ composition (the production 10^12-vector architecture: coarse
    // cells prune the corpus to nprobe/K, 4-bit PQ codes score the
    // survivors — raw vectors touch NEITHER index relation): recall@10 vs
    // exact inner-product truth per nprobe ∈ {2, 4, 8} over the persisted
    // 8-cell IVF index and an m=16 codebook. nprobe=8 probes every cell, so
    // its row isolates pure quantization loss and must equal q_ann_pq's
    // m=16 reading (0.440) — an internal consistency anchor the
    // CrossCheckSpec rederivation also asserts; narrower probes compound
    // cell-pruning loss on top (measured 0.354/0.402/0.440 at sf0.01).
    "q_ann_ivfpq" -> ((s, dir) => {
      val e = embTable(s, dir)
      val (ivfModel, cells) = sIvfIndex(s, dir, e)
      val queries = e.filter(col("vec_id") < 50)
      val pqModel = sPqModel(s, dir, 16)
      val codes = sPqCodes(s, dir, 16)
      recallCurve(s, ipTruth(s, dir), "nprobe", Seq(2, 4, 8)) { np =>
        val probed = graft.ann.Ivf.withProbes(queries, "embedding", ivfModel, np)
        graft.ann.Pq.adcTopKProbed(probed, cells, codes, pqModel,
          "embedding", "vec_id", k = 10)
      }.orderBy("nprobe")
    }),

    // ---- relational coverage (scan/filter/agg/join/window/sort/set ops) ---

    "q1_agg" -> ((s, dir) => {
      fixtureTable(s, s"$dir/lineitem.parquet")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("decimal(20,4)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(20,4)")).cast("double").as("sum_price"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "q_top_customers" -> ((s, dir) => {
      val o = fixtureTable(s, s"$dir/orders.parquet")
      val c = fixtureTable(s, s"$dir/customer.parquet")
      val rev = o.groupBy("o_custkey")
        .agg(sum(col("o_totalprice").cast("decimal(20,4)")).cast("double").as("revenue"),
          count(lit(1)).as("n_orders"))
      rev.join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("revenue"), col("n_orders"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(10)
    }),

    "q_semi_anti" -> ((s, dir) => {
      val o = fixtureTable(s, s"$dir/orders.parquet")
      val c = fixtureTable(s, s"$dir/customer.parquet")
      val withO = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi").count()
      val withoutO = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti").count()
      import s.implicits._
      Seq((withO, withoutO)).toDF("n_with_orders", "n_without_orders")
    }),

    // date/window/json coverage over the events stream table
    "q_events_daily" -> ((s, dir) => {
      fixtureTable(s, s"$dir/events.parquet")
        .groupBy(col("ts").cast("date").as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(20,4)")).cast("double").as("sum_value"),
          sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"))
        .orderBy("day", "event_type")
    }),

    // sessionization: gap > 30 min starts a new session (lag + window sum)
    "q_events_sessions" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      fixtureTable(s, s"$dir/events.parquet")
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_s",
          when(col("prev_ts").isNull ||
            unix_micros(col("ts").cast("timestamp")) - unix_micros(col("prev_ts").cast("timestamp")) > 1800000000L, 1L)
            .otherwise(0L))
        .groupBy("user_id")
        .agg(sum(col("new_s")).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }),

    // AS-OF join (attribution): each purchase matched to the same user's
    // most recent STRICTLY-earlier view — the canonical operator Spark
    // lacks natively, composed the scale-correct way: tag and union both
    // sides, ONE shuffle on the key, ONE ordered window pass carrying the
    // last non-null view forward (never a per-row lateral probe; wall
    // cost = a user-partitioned sort at any corpus size). Determinism at
    // ties is DEFINED, not inherited: the window order (ts, tag,
    // event_id) puts purchases BEFORE views at equal ts (strict <) and
    // breaks equal-ts view ties by max event_id; the oracle mirrors the
    // same window rather than using DuckDB's native ASOF JOIN, whose
    // equal-ts winner is engine-arbitrary. gap_us stays in integer
    // microseconds — no float time arithmetic in either engine.
    "q_events_asof" -> ((s, dir) => {
      val ev = fixtureTable(s, s"$dir/events.parquet")
      val u = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), lit(0).as("tag"),
          lit(null).cast("long").as("view_id"),
          lit(null).cast("long").as("view_us"), col("event_id"))
        .unionByName(ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts"), lit(1).as("tag"),
            col("event_id").as("view_id"),
            unix_micros(col("ts").cast("timestamp")).as("view_us"), col("event_id")))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("tag"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      u.withColumn("lv", last(col("view_id"), ignoreNulls = true).over(w))
        .withColumn("lv_us", last(col("view_us"), ignoreNulls = true).over(w))
        .filter(col("tag") === 0 && col("lv").isNotNull)
        .select(col("event_id"), col("user_id"), col("lv").as("view_id"),
          (unix_micros(col("ts").cast("timestamp")) - col("lv_us")).as("gap_us"))
        .orderBy("event_id")
    }),

    // Phonetic blocking (American Soundex) — the classic structured-record
    // ER blocker (Odell/Russell; standard census rule incl. the h/w
    // separator collapse). The code is computed by an IDENTICAL
    // translate/regexp chain in both engines (DuckDB is RE2 — no
    // backreferences — so runs collapse via one replace per digit):
    //   keep first letter; map letters to digits (vowels→0, h/w→9);
    //   drop 9s AFTER position 1 (letters separated by h/w merge, and a
    //   leading H/W still shields the second letter's code from the
    //   first-position drop); collapse runs; drop the first position's
    //   code; drop 0s; pad to 4. Key census = blocking-quality profile.
    "q_soundex_blocks" -> ((s, dir) => {
      // non-ASCII is stripped BEFORE upper-casing in BOTH engines
      // ([[firstTokenSdx]]): JVM upper() applies full case mapping
      // (ß → SS) while DuckDB's utf8proc maps ß → ẞ, so
      // upper-then-anything diverges on such chars; Soundex is defined
      // over A-Z anyway (engine-parity hazard pinned in DataOpsSpec's
      // non-ASCII soundex test)
      firstTokenSdx(docsTable(s, dir))
        .groupBy("sdx").agg(count(lit(1)).as("n_docs"),
          countDistinct(col("w")).as("n_names"))
        .orderBy(col("n_docs").desc, col("sdx"))
        .limit(40)
        .select(col("sdx").as("soundex"), col("n_docs"), col("n_names"))
    }),

    // phonetic candidate pairs: distinct vocabulary tokens sharing a
    // Soundex CONSONANT SKELETON (digit positions 2-4, first letter
    // ignored — the code-only blocking variant that survives first-letter
    // typos), verified by edit distance ≤ 3. Blocking + verification on
    // O(block²) pairs instead of O(vocab²); full-soundex blocking is
    // vacuous on this corpus (every 4-char code holds one word), so the
    // coarser key is the one that exercises the verify step.
    "q_phonetic_pairs" -> ((s, dir) => {
      val names = docsTable(s, dir)
        .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
        .select(upper(regexp_replace(col("tok"), "[^A-Za-z]", "")).as("w"))
        .filter(length(col("w")) > 0).distinct()
        .withColumn("skel", soundexCol(col("w")).substr(2, 3))
      val l = names.select(col("skel"), col("w").as("name_a"))
      val r = names.select(col("skel"), col("w").as("name_b"))
      l.join(r, Seq("skel")).filter(col("name_a") < col("name_b"))
        .withColumn("lev", levenshtein(col("name_a"), col("name_b"), 3))
        .filter(col("lev") >= 0)
        .select(col("skel"), col("name_a"), col("name_b"), col("lev"))
        .orderBy("skel", "name_a", "name_b")
    }),

    // Empirical LSH calibration: the MEASURED candidate rate per exact
    // shingle-Jaccard decile for the shipped 4×3 string-band config — the
    // corpus-measured counterpart of q_lsh_curve's analytic S-curve,
    // completing the calibration trio with q_minhash_err. The brute
    // all-pairs leg is the deliberate EVALUATOR protocol (deterministic
    // 1/[[evalSampleK]] md5 stratum — the cost is a PARAMETER at scale,
    // not a hard-coded fraction; left side repartitioned so the
    // nested-loop join parallelizes — the q_blocking_recall lesson);
    // production candidacy never runs it.
    // Buckets are exact integer arithmetic ((10·inter) div union); the
    // candidacy flag is the same pinned band relation the pipeline blocks
    // on, so the curve measures the join that actually ships.
    "q_lsh_empirical" -> ((s, dir) => {
      // Dictionary-encode the sampled shingle sets ONCE (bijection: the
      // [[globalRank]] of the distinct shingles — exact by construction,
      // see [[graft.functions.GraftFunctions.sortedIntersect]]), so the
      // O((N/k)²) pair pass merges sorted int arrays instead of
      // hash-intersecting 8-char string arrays. shingleSet is non-empty
      // for every (non-null) text, so the explode/groupBy round-trip drops
      // no doc.
      val sample = widen(docsTable(s, dir)
        .filter(sampleBucket(col("doc_id")) % evalSampleK === 0)
        .select("doc_id", "text"))
        .select(col("doc_id"), shingleSet(col("text")).as("shs"))
      // pinned: globalRank's range sampling, its checkpoint and the
      // tok ⋈ dict join each read the explode, which would otherwise
      // re-derive every shingle set three times. Lazy: the first of them
      // (the distinct's map stage) fills the pin, so it costs no job
      val tok = sample.select(col("doc_id"), explode(col("shs")).as("sh"))
        .localCheckpoint(false)
      val dict = globalRank(s, tok.select("sh").distinct(), Seq("sh"))
        .select(col("sh"), col("rn").cast("int").as("tid"))
      val enc = tok.join(dict, "sh")
        .groupBy("doc_id").agg(sort_array(collect_list(col("tid"))).as("ids"))
        .localCheckpoint(true) // both cross-join sides read the pinned codes
      // widen the LEFT side: BroadcastNestedLoopJoin parallelizes over
      // the streamed side's partitions only (the q_blocking_recall
      // lesson). The hint pins the build side to the right: the two
      // sides' size estimates are the same relation's, so AQE's pick
      // otherwise follows whichever estimate lands lower, and building
      // the widened side streams the pair pass through one task
      val l = widen(enc).select(col("doc_id").as("a"), col("ids").as("sa"))
      val r = broadcast(enc.select(col("doc_id").as("b"), col("ids").as("sb")))
      val cands = sBandCandidates(s, dir).withColumn("is_cand", lit(1L))
      l.crossJoin(r).filter(col("a") < col("b"))
        .withColumn("inter",
          graft.functions.GraftFunctions.sortedIntersect(col("sa"), col("sb")))
        .withColumn("uni", size(col("sa")) + size(col("sb")) - col("inter"))
        .withColumn("bucket", expr("cast((10 * inter) div uni AS int)"))
        .select("a", "b", "bucket")
        .join(cands, Seq("a", "b"), "left")
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_pairs"),
          sum(coalesce(col("is_cand"), lit(0L))).as("n_cands"))
        .withColumn("rate",
          round(col("n_cands").cast("double") / col("n_pairs"), 6))
        .orderBy("bucket")
    }),

    // LSH band-design S-curve: P(candidate | Jaccard s) for the two band
    // configs this library ships (flagship text 32 bands × 4 rows; string
    // family 4 × 3) on a 1%-step grid. Analytic, but the powers are
    // explicit multiplication chains (square-and-multiply) so both engines
    // run the SAME IEEE op sequence — bit-identical doubles, no libm pow.
    "q_lsh_curve" -> ((s, dir) => {
      val g = s.range(0, 101).select((col("id") / lit(100.0)).as("s"))
      val a = g.withColumn("s2", col("s") * col("s"))
      val b = a.withColumn("s4", col("s2") * col("s2"))
        .withColumn("s3", col("s2") * col("s"))
      val c = b.withColumn("q", lit(1.0) - col("s4"))
        .withColumn("r", lit(1.0) - col("s3"))
      val d = c.withColumn("q2", col("q") * col("q"))
        .withColumn("r2", col("r") * col("r"))
      val e = d.withColumn("q4", col("q2") * col("q2"))
        .withColumn("r4", col("r2") * col("r2"))
      val f = e.withColumn("q8", col("q4") * col("q4"))
      val h = f.withColumn("q16", col("q8") * col("q8"))
      h.select(col("s"),
          (lit(1.0) - col("q16") * col("q16")).as("p_text_32x4"),
          (lit(1.0) - col("r4")).as("p_string_4x3"))
        .orderBy("s")
    }),

    // reciprocal best-match assignment (the symmetric-best rule of
    // one-to-one record linkage, cf. best-match-graph matching): a linkage
    // pair survives iff the right record is the left's top-1 AND the left
    // is the right's top-1 (ties broken by partner id ascending) — the
    // conservative crosswalk a production linkage publishes, eliminating
    // the many-to-one collisions q_linkage_best tolerates. Both windows
    // partition the MATCH relation (already bucket-bounded by the band
    // join), never a corpus-sized one: two bounded window passes on top of
    // q_record_linkage's plan at any scale.
    "q_mutual_best" -> ((s, dir) => {
      val wl = Window.partitionBy("left_id").orderBy(col("jw").desc, col("right_id"))
      val wr = Window.partitionBy("right_id").orderBy(col("jw").desc, col("left_id"))
      linkagePairs(s, dir)
        .withColumn("rl", row_number().over(wl))
        .withColumn("rr", row_number().over(wr))
        .filter(col("rl") === 1 && col("rr") === 1)
        .select("left_id", "right_id", "jw")
        .orderBy("left_id")
    }),

    // SCD2 entity history (slowly-changing-dimension type 2): each user's
    // purchase stream becomes versioned validity intervals — version =
    // ordinal by (ts, event_id), valid_from/valid_to = own / successor
    // event time in integer microseconds (no float time arithmetic, the
    // q_events_asof convention), open interval ⇔ current version. This is
    // the lineage shape a golden-record store keeps so an entity's
    // attributes are queryable AS OF any time; cost is one user-partitioned
    // window pass (the sessionization shape) at any corpus size.
    "q_scd2" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      fixtureTable(s, s"$dir/events.parquet")
        .filter(col("event_type") === "purchase")
        .withColumn("version", row_number().over(w).cast("long"))
        .withColumn("valid_from_us", unix_micros(col("ts").cast("timestamp")))
        .withColumn("valid_to_us",
          unix_micros(lead(col("ts"), 1).over(w).cast("timestamp")))
        .withColumn("is_current", col("valid_to_us").isNull)
        .select("user_id", "version", "value",
          "valid_from_us", "valid_to_us", "is_current")
        .orderBy("user_id", "version")
    }),

    // capture–recapture duplicate-population estimate (Petersen/Chapman —
    // the census-statistics answer to "how many duplicate pairs does the
    // corpus REALLY have, beyond what any one blocker sees?"): two
    // structurally independent blockers — MinHash bands and first-token
    // Soundex — each "capture" a sample of the verified-duplicate-pair
    // population (lev < 15 on the 60-char prefix, the shared edge
    // contract); the Chapman estimator (nA+1)(nB+1)/(nBoth+1) − 1 sizes
    // the unseen remainder from the overlap. Both capture legs run on the
    // deterministic 1/evalSampleK md5 stratum (the parametric-evaluator
    // contract shared with q_er_f1_sampled), so the audit's pair cost is a
    // dial at 100 TB; integer division keeps the estimate engine-exact.
    "q_dup_rate_cr" -> ((s, dir) => {
      // capture legs = the pinned per-scheme stratum candidate relations
      // ([[sStratumSchemePairs]], shared with q_blocking_scheme); the
      // verified populations are semi-joins against the ONE pinned lev-pass
      // ([[sStratumVerified]]) — before r6 every one of the four aggregate
      // legs below re-derived both candidate self-joins AND the levenshtein
      // union pass (132 Exchange nodes in the plan; 9.2-9.7 s repeatable)
      val sp = sStratumSchemePairs(s, dir)
      val capA = sp.filter(col("scheme") === "band").select("a", "b")
      val capB = sp.filter(col("scheme") === "soundex1").select("a", "b")
      val allVer = sStratumVerified(s, dir)
      // verified ∩ (capA ∪ capB): the Chapman population this audit sizes —
      // identical membership to verifying the two-scheme union directly,
      // since `verified` is a pair-level predicate (lev < 15), not a
      // property of which candidate set carried the pair
      val verified = capA.unionByName(capB).distinct()
        .join(allVer, Seq("a", "b"), "left_semi").localCheckpoint(true)
      val va = capA.join(verified, Seq("a", "b"), "left_semi")
      val vb = capB.join(verified, Seq("a", "b"), "left_semi")
      val both = va.join(vb, Seq("a", "b"), "left_semi")
      val uni = verified
      va.agg(count(lit(1)).as("n_a"))
        .crossJoin(vb.agg(count(lit(1)).as("n_b")))
        .crossJoin(both.agg(count(lit(1)).as("n_both")))
        .crossJoin(uni.agg(count(lit(1)).as("n_union")))
        .withColumn("chapman_est",
          expr("(n_a + 1) * (n_b + 1) div (n_both + 1) - 1"))
    }),

    // blocking-scheme census (the measurement a blocking-scheme learner
    // greedily selects from, cf. Michelson & Knoblock's BSL / Bilenko's
    // Blocking-Scheme Learning): for each of four candidate predicates —
    // MinHash band, first-token Soundex, 8-char prefix, (lang, 4-char
    // length bucket) — the FULL-corpus block census (n_keys, max_block,
    // and the analytic comparison count Σ n·(n−1)/2 — all LINEAR: one
    // groupBy per scheme, never a pair expansion), plus stratum-sampled
    // quality: distinct candidate pairs, verified pairs (lev < 15),
    // precision, and recall against the union of all four schemes'
    // verified pairs. A bad blocker's quadratic blow-up shows up in
    // n_cand_full as a NUMBER computed in linear time, not as a
    // quadratic job — the property that makes this census runnable at
    // 100 TB before committing to a scheme.
    "q_blocking_scheme" -> ((s, dir) => {
      val d = docsTable(s, dir)
      val band = sBandRelation(s, dir).select(lit("band").as("scheme"),
        col("doc_id"), col("bk").as("k"))
      val sdx = firstTokenSdx(d)
        .select(lit("soundex1").as("scheme"), col("doc_id"), col("sdx").as("k"))
      val pre = d.select(lit("prefix8").as("scheme"), col("doc_id"),
        substring(col("text"), 1, 8).as("k"))
      val ll = d.select(lit("lenlang4").as("scheme"), col("doc_id"),
        concat_ws(":", col("lang"), expr("n_chars div 4")).as("k"))
      val keys = band.unionByName(sdx).unionByName(pre).unionByName(ll)
      val census = keys.groupBy("scheme", "k").agg(count(lit(1)).as("n"))
        .groupBy("scheme").agg(
          count(lit(1)).as("n_keys"),
          max(col("n")).as("max_block"),
          sum(expr("n * (n - 1) div 2")).as("n_cand_full"))
      // stratum candidate pairs + lev-verified pairs: the pinned relations
      // shared with q_dup_rate_cr ([[sStratumSchemePairs]] /
      // [[sStratumVerified]]). A scheme's verified leg is a semi-join
      // against the pinned union-verified set (same pair-level predicate);
      // n_union IS that set's cardinality — before r6 the unpinned `ver`
      // subtree re-ran the candidate join + levenshtein pass once per
      // aggregate leg (54 Exchange nodes)
      val cand = sStratumSchemePairs(s, dir)
      val ver = cand.join(sStratumVerified(s, dir), Seq("a", "b"), "left_semi")
        .select("scheme", "a", "b")
      val qual = cand.groupBy("scheme").agg(count(lit(1)).as("n_cand_s"))
        .join(ver.groupBy("scheme").agg(count(lit(1)).as("n_true_s")),
          Seq("scheme"), "left")
      val nUnion = sStratumVerified(s, dir)
        .agg(count(lit(1)).as("n_union"))
      census.join(qual, Seq("scheme"), "left")
        .na.fill(0L, Seq("n_cand_s", "n_true_s"))
        .crossJoin(nUnion)
        .withColumn("prec", round(when(col("n_cand_s") > 0,
          col("n_true_s") / col("n_cand_s")).otherwise(lit(0.0)), 6))
        .withColumn("rec", round(when(col("n_union") > 0,
          col("n_true_s") / col("n_union")).otherwise(lit(0.0)), 6))
        .select("scheme", "n_keys", "max_block", "n_cand_full",
          "n_cand_s", "n_true_s", "prec", "rec")
        .orderBy("scheme")
    }),

    "q_set_ops" -> ((s, dir) => {
      val c = fixtureTable(s, s"$dir/customer.parquet").select(col("c_nationkey").as("k"))
      val sup = fixtureTable(s, s"$dir/supplier.parquet").select(col("s_nationkey").as("k"))
      import s.implicits._
      Seq((
        c.union(sup).distinct().count(),
        c.intersect(sup).count(),
        c.except(sup).count()
      )).toDF("n_union", "n_intersect", "n_except")
    }))

  /** Golden-snapshot oracles for the queries whose semantics are not
    * ANSI-SQL-expressible (seeded MinHash/SimHash, perceptual-hash kernels,
    * the full pipeline, LSH candidacy): the oracle reads a committed parquet
    * snapshot produced by `graft.GoldenGen` at the driver's Verify scale.
    * These lock determinism + cross-run stability; the kernels' correctness
    * has independent coverage in the test suite (golden-pixel resize/DCT
    * ports, brute-force blocking equivalence, labeled-corpus F1, cats
    * acceptance). Regenerate + commit after any deliberate kernel change.
    */
  private def golden(name: String): (String, String) =
    name -> s"SELECT * FROM read_parquet('/root/repo/golden/$name/*.parquet') ORDER BY ALL"

  /** DuckDB mirror of [[soundexCol]] — identical op chain (DuckDB regex is
    * RE2, no backreferences, so runs collapse via one replace per digit;
    * the 'g' flag is required because DuckDB's regexp_replace is
    * first-match-only by default while Spark's replaces all). `src` must
    * bind a column `w` of upper-case tokens; exposes CTE `s4(w, sdx)`.
    */
  private def soundexCteSql(src: String): String =
    s"""s1 AS (SELECT w, translate(w, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', '01230129022455012623019202') AS m FROM $src),
       |s2 AS (SELECT w, substr(m,1,1) || regexp_replace(substr(m,2), '9', '', 'g') AS m1 FROM s1),
       |s3 AS (SELECT w, regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
       |         m1, '11+','1','g'), '22+','2','g'), '33+','3','g'), '44+','4','g'), '55+','5','g'), '66+','6','g') AS c FROM s2),
       |s4 AS (SELECT w, substr(substr(w,1,1) || regexp_replace(substr(c,2), '0', '', 'g') || '000', 1, 4) AS sdx FROM s3)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q_mutual_best" ->
      s"""WITH $sBandCte,
         |p AS (
         |  SELECT l.doc_id AS left_id, r.doc_id AS right_id,
         |         round(jaro_winkler_similarity(l.t, r.t), 6) AS jw
         |  FROM d l JOIN d r ON l.doc_id % 2 = 0 AND r.doc_id % 2 = 1
         |  WHERE $sBandCond AND round(jaro_winkler_similarity(l.t, r.t), 6) >= 0.9),
         |rk AS (
         |  SELECT left_id, right_id, jw,
         |         row_number() OVER (PARTITION BY left_id ORDER BY jw DESC, right_id) AS rl,
         |         row_number() OVER (PARTITION BY right_id ORDER BY jw DESC, left_id) AS rr
         |  FROM p)
         |SELECT left_id, right_id, jw FROM rk WHERE rl = 1 AND rr = 1
         |ORDER BY left_id""".stripMargin,

    "q_scd2" ->
      """WITH p AS (
        |  SELECT user_id, ts, event_id, value FROM events
        |  WHERE event_type = 'purchase'),
        |v AS (
        |  SELECT user_id, value,
        |         CAST(row_number() OVER w AS BIGINT) AS version,
        |         epoch_us(ts) AS valid_from_us,
        |         epoch_us(lead(ts) OVER w) AS valid_to_us
        |  FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, version, value, valid_from_us, valid_to_us,
        |       valid_to_us IS NULL AS is_current
        |FROM v ORDER BY user_id, version""".stripMargin,

    "q_dup_rate_cr" ->
      s"""WITH $sBandCte,
         |sd AS (SELECT * FROM d WHERE ${sampleSqlPred(evalSampleK)}),
         |va AS (
         |  SELECT l.doc_id AS a, r.doc_id AS b
         |  FROM sd l JOIN sd r ON l.doc_id < r.doc_id
         |  WHERE $sBandCond AND levenshtein(l.t, r.t) < 15),
         |n0 AS (SELECT doc_id, upper(regexp_replace(string_split(text, ' ')[1], '[^A-Za-z]', '', 'g')) AS w
         |       FROM documents WHERE ${sampleSqlPred(evalSampleK)}),
         |n1 AS (SELECT doc_id, w FROM n0 WHERE length(w) > 0),
         |n AS (SELECT DISTINCT w FROM n1),
         |${soundexCteSql("n")},
         |key AS (SELECT n1.doc_id, s4.sdx FROM n1 JOIN s4 USING (w)),
         |vb AS (
         |  SELECT DISTINCT k1.doc_id AS a, k2.doc_id AS b
         |  FROM key k1 JOIN key k2 ON k1.sdx = k2.sdx AND k1.doc_id < k2.doc_id
         |  JOIN d l ON l.doc_id = k1.doc_id JOIN d r ON r.doc_id = k2.doc_id
         |  WHERE levenshtein(l.t, r.t) < 15),
         |cnt AS (
         |  SELECT (SELECT count(*) FROM va) AS n_a,
         |         (SELECT count(*) FROM vb) AS n_b,
         |         (SELECT count(*) FROM va JOIN vb USING (a, b)) AS n_both,
         |         (SELECT count(*) FROM (SELECT a, b FROM va UNION SELECT a, b FROM vb)) AS n_union)
         |SELECT n_a, n_b, n_both, n_union,
         |       (n_a + 1) * (n_b + 1) // (n_both + 1) - 1 AS chapman_est
         |FROM cnt""".stripMargin,

    "q_blocking_scheme" ->
      s"""WITH $sBandCte,
         |bandk AS (
         |  SELECT 'band' AS scheme, doc_id, band0 AS k FROM d
         |  UNION ALL SELECT 'band', doc_id, band1 FROM d
         |  UNION ALL SELECT 'band', doc_id, band2 FROM d
         |  UNION ALL SELECT 'band', doc_id, band3 FROM d),
         |n0 AS (SELECT doc_id, upper(regexp_replace(string_split(text, ' ')[1], '[^A-Za-z]', '', 'g')) AS w FROM documents),
         |n1 AS (SELECT doc_id, w FROM n0 WHERE length(w) > 0),
         |n AS (SELECT DISTINCT w FROM n1),
         |${soundexCteSql("n")},
         |sdxk AS (SELECT 'soundex1' AS scheme, n1.doc_id, s4.sdx AS k FROM n1 JOIN s4 USING (w)),
         |prek AS (SELECT 'prefix8' AS scheme, doc_id, substr(text, 1, 8) AS k FROM documents),
         |llk AS (SELECT 'lenlang4' AS scheme, doc_id,
         |        lang || ':' || CAST(n_chars // 4 AS VARCHAR) AS k FROM documents),
         |keys AS (SELECT * FROM bandk UNION ALL SELECT * FROM sdxk
         |         UNION ALL SELECT * FROM prek UNION ALL SELECT * FROM llk),
         |census AS (
         |  SELECT scheme, count(*) AS n_keys, max(n) AS max_block,
         |         CAST(sum(n * (n - 1) // 2) AS BIGINT) AS n_cand_full
         |  FROM (SELECT scheme, k, count(*) AS n FROM keys GROUP BY 1, 2)
         |  GROUP BY scheme),
         |skeys AS (SELECT * FROM keys WHERE ${sampleSqlPred(evalSampleK)}),
         |cand AS (
         |  SELECT DISTINCT l.scheme, l.doc_id AS a, r.doc_id AS b
         |  FROM skeys l JOIN skeys r
         |    ON l.scheme = r.scheme AND l.k = r.k AND l.doc_id < r.doc_id),
         |tt AS (SELECT doc_id, substr(text, 1, 60) AS t FROM documents),
         |ver AS (
         |  SELECT c.scheme, c.a, c.b FROM cand c
         |  JOIN tt l ON l.doc_id = c.a JOIN tt r ON r.doc_id = c.b
         |  WHERE levenshtein(l.t, r.t) < 15),
         |qual AS (
         |  SELECT c.scheme, c.n_cand_s, coalesce(v.n_true_s, 0) AS n_true_s
         |  FROM (SELECT scheme, count(*) AS n_cand_s FROM cand GROUP BY 1) c
         |  LEFT JOIN (SELECT scheme, count(*) AS n_true_s FROM ver GROUP BY 1) v USING (scheme)),
         |u AS (SELECT count(*) AS n_union FROM (SELECT DISTINCT a, b FROM ver))
         |SELECT census.scheme, n_keys, max_block, n_cand_full,
         |       coalesce(n_cand_s, 0) AS n_cand_s,
         |       coalesce(n_true_s, 0) AS n_true_s,
         |       round(CASE WHEN coalesce(n_cand_s, 0) > 0
         |             THEN CAST(coalesce(n_true_s, 0) AS DOUBLE) / n_cand_s
         |             ELSE 0.0 END, 6) AS prec,
         |       round(CASE WHEN n_union > 0
         |             THEN CAST(coalesce(n_true_s, 0) AS DOUBLE) / n_union
         |             ELSE 0.0 END, 6) AS rec
         |FROM census LEFT JOIN qual USING (scheme) CROSS JOIN u
         |ORDER BY scheme""".stripMargin,

    "q_soundex_blocks" ->
      s"""WITH n0 AS (SELECT upper(regexp_replace(string_split(text, ' ')[1], '[^A-Za-z]', '', 'g')) AS w FROM documents),
         |n AS (SELECT w FROM n0 WHERE length(w) > 0),
         |${soundexCteSql("n")}
         |SELECT sdx AS soundex, count(*) AS n_docs, count(DISTINCT w) AS n_names
         |FROM s4 GROUP BY 1 ORDER BY n_docs DESC, soundex LIMIT 40""".stripMargin,

    "q_phonetic_pairs" ->
      s"""WITH n0 AS (SELECT DISTINCT upper(regexp_replace(unnest(string_split_regex(trim(text), '\\s+')), '[^A-Za-z]', '', 'g')) AS w FROM documents),
         |n AS (SELECT w FROM n0 WHERE length(w) > 0),
         |${soundexCteSql("n")},
         |k AS (SELECT w, substr(sdx, 2, 3) AS skel FROM s4)
         |SELECT a.skel, a.w AS name_a, b.w AS name_b, levenshtein(a.w, b.w) AS lev
         |FROM k a JOIN k b ON a.skel = b.skel AND a.w < b.w
         |WHERE levenshtein(a.w, b.w) <= 3
         |ORDER BY a.skel, name_a, name_b""".stripMargin,

    "q_lsh_empirical" ->
      s"""WITH $sBandCte,
         |p AS (
         |  SELECT l.doc_id AS a, r.doc_id AS b,
         |    CAST((10 * len(list_intersect(ml.shs, mr.shs))) //
         |      (len(ml.shs) + len(mr.shs) - len(list_intersect(ml.shs, mr.shs))) AS INT) AS bucket,
         |    CASE WHEN $sBandCond THEN 1 ELSE 0 END AS is_cand
         |  FROM d l JOIN d r ON l.doc_id < r.doc_id
         |  JOIN m ml ON ml.doc_id = l.doc_id
         |  JOIN m mr ON mr.doc_id = r.doc_id
         |  WHERE ${sampleSqlPred(evalSampleK, "l.doc_id")} AND ${sampleSqlPred(evalSampleK, "r.doc_id")})
         |SELECT bucket, count(*) AS n_pairs, CAST(sum(is_cand) AS BIGINT) AS n_cands,
         |       round(CAST(sum(is_cand) AS DOUBLE) / count(*), 6) AS rate
         |FROM p GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q_lsh_curve" ->
      """WITH g AS (SELECT CAST(i AS DOUBLE)/CAST(100 AS DOUBLE) AS s FROM range(0,101) t(i)),
        |a AS (SELECT s, s*s AS s2 FROM g),
        |b AS (SELECT s, s2, s2*s2 AS s4, s2*s AS s3 FROM a),
        |c AS (SELECT s, CAST(1 AS DOUBLE)-s4 AS q, CAST(1 AS DOUBLE)-s3 AS r FROM b),
        |d AS (SELECT s, q*q AS q2, r*r AS r2 FROM c),
        |e AS (SELECT s, q2*q2 AS q4, r2*r2 AS r4 FROM d),
        |f AS (SELECT s, q4*q4 AS q8, r4 FROM e),
        |h AS (SELECT s, q8*q8 AS q16, r4 FROM f)
        |SELECT s, CAST(1 AS DOUBLE)-q16*q16 AS p_text_32x4, CAST(1 AS DOUBLE)-r4 AS p_string_4x3
        |FROM h ORDER BY s""".stripMargin,

    golden("q_ann_ivf"),
    golden("q_ann_ivfpq"),
    golden("q_ann_lsh"),
    golden("q_ann_pq"),
    golden("q_ann_recall"),
    golden("q_audio_near_dups"),
    golden("q_canopy"),
    golden("q_center_clusters"),
    golden("q_compare_target"),
    golden("q_bridge_docs"),
    golden("q_constrained_cc"),
    golden("q_constrained_must"),
    golden("q_evidence_mst"),
    golden("q_doc_stats"),
    golden("q_fingerprint"),
    golden("q_hac_clusters"),
    golden("q_image_features"),
    golden("q_media_phash"),
    golden("q_minhash_lsh"),
    golden("q_pipeline_clusters"),
    golden("q_retract_clusters"),
    golden("q_simhash"),
    golden("q_swoosh"),
    "q_pprl" -> pprlOracle,
    golden("q_video_near_dups"),
    "q_exact_dedup" ->
      """SELECT doc_id,
        |       count(*) OVER (PARTITION BY md5(text)) AS grp_size,
        |       min(doc_id) OVER (PARTITION BY md5(text)) AS keeper,
        |       doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_hamming_pairs" ->
      """WITH e AS (
        |  SELECT vec_id, label,
        |         list_sum(list_transform(list_zip(embedding[1:63], range(0,63)),
        |           x -> CASE WHEN x[1] > 0 THEN (CAST(1 AS BIGINT) << x[2]) ELSE 0 END))::BIGINT AS h
        |  FROM embeddings)
        |SELECT a.label = b.label AS same_label, count(*) AS n_pairs,
        |       CAST(sum(bit_count(xor(a.h, b.h))) AS BIGINT) AS sum_dist
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE bit_count(xor(a.h, b.h)) < 18
        |GROUP BY 1 ORDER BY same_label""".stripMargin,

    "q_sign_blocks" ->
      """WITH e AS (
        |  SELECT vec_id,
        |         list_sum(list_transform(list_zip(embedding[1:63], range(0,63)),
        |           x -> CASE WHEN x[1] > 0 THEN (CAST(1 AS BIGINT) << x[2]) ELSE 0 END))::BIGINT AS h
        |  FROM embeddings)
        |SELECT h >> 48 AS block_key, count(*) AS n_docs, min(vec_id) AS min_vec
        |FROM e GROUP BY 1 HAVING count(*) > 1 ORDER BY block_key""".stripMargin,

    // the band CTEs + >=1-shared-band predicate ARE the candidacy
    // definition shared with the Spark band join (see sBandKeys Scaladoc)
    "q_lev_pairs" ->
      s"""WITH $sBandCte
         |SELECT l.doc_id AS a, r.doc_id AS b, levenshtein(l.t, r.t) AS d
         |FROM d l JOIN d r ON l.doc_id < r.doc_id
         |WHERE $sBandCond AND levenshtein(l.t, r.t) < 15 ORDER BY a, b""".stripMargin,

    "q_label_queue" ->
      s"""WITH $sBandCte,
         |p AS (
         |  SELECT l.doc_id AS a, r.doc_id AS b, levenshtein(l.t, r.t) AS d
         |  FROM d l JOIN d r ON l.doc_id < r.doc_id
         |  WHERE $sBandCond),
         |rk AS (
         |  SELECT CAST(floor(d / 5.0) AS INT) AS bucket, a, b, d,
         |         md5(CAST(a AS VARCHAR) || ':' || CAST(b AS VARCHAR)) AS tag
         |  FROM p),
         |q AS (
         |  SELECT bucket,
         |         row_number() OVER (PARTITION BY bucket ORDER BY tag, a, b) AS rn,
         |         a, b, d
         |  FROM rk)
         |SELECT bucket, rn, a, b, CAST(d AS BIGINT) AS d
         |FROM q WHERE rn <= 5 ORDER BY bucket, rn""".stripMargin,

    "q_dup_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |idx AS (
        |  SELECT doc_id, len(w) AS n_words, w,
        |         unnest(range(1, greatest(len(w)-7, 0)+1)) AS p FROM toks),
        |grams AS (
        |  SELECT doc_id, n_words, p,
        |         CAST(('0x' || substr(md5(array_to_string(w[p:p+7], ' ')),1,15)) AS BIGINT) AS g
        |  FROM idx),
        |shared AS (SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) > 1),
        |hits AS (SELECT DISTINCT doc_id, n_words, p FROM grams JOIN shared USING (g)),
        |fl AS (
        |  SELECT doc_id, n_words, p,
        |         CASE WHEN lag(p) OVER (PARTITION BY doc_id ORDER BY p) IS NULL
        |                OR p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) > 8
        |              THEN 1 ELSE 0 END AS f
        |  FROM hits),
        |isl AS (
        |  SELECT doc_id, n_words, p,
        |         sum(f) OVER (PARTITION BY doc_id ORDER BY p) AS i FROM fl),
        |spans AS (
        |  SELECT doc_id, n_words, i, min(p) AS sp, max(p)+7 AS ep
        |  FROM isl GROUP BY 1, 2, 3)
        |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |       count(*) AS n_dup_spans,
        |       CAST(sum(ep-sp+1) AS BIGINT) AS n_dup_words,
        |       round(CAST(sum(ep-sp+1) AS DOUBLE) / n_words, 6) AS dup_frac
        |FROM spans GROUP BY doc_id, n_words ORDER BY doc_id""".stripMargin,

    "q_jw_pairs" ->
      s"""WITH $sBandCte
         |SELECT l.lang AS lang, count(*) AS n_pairs,
         |       CAST(sum(CASE WHEN jaro_winkler_similarity(l.t, r.t) >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_close,
         |       round(sum(round(jaro_winkler_similarity(l.t, r.t), 6)), 2) AS sum_jw
         |FROM d l JOIN d r ON l.doc_id < r.doc_id
         |WHERE $sBandCond
         |GROUP BY 1 ORDER BY lang""".stripMargin,

    "q_monge_elkan" ->
      s"""WITH $sBandCte,
         |cand AS (SELECT l.doc_id AS a, r.doc_id AS b, l.toks AS ta, r.toks AS tb
         |  FROM d l JOIN d r ON l.doc_id < r.doc_id WHERE $sBandCond),
         |ab AS (SELECT a, b, CAST(floor(list_max(list_transform(tb,
         |    s -> jaro_winkler_similarity(tok, s))) * 1000000.0) AS BIGINT) AS mx
         |  FROM (SELECT a, b, unnest(ta) AS tok, tb FROM cand)),
         |abm AS (SELECT a, b, round(CAST(sum(mx) AS DOUBLE) / count(*) / 1000000.0, 6) AS me_ab
         |  FROM ab GROUP BY 1, 2),
         |ba AS (SELECT a, b, CAST(floor(list_max(list_transform(ta,
         |    s -> jaro_winkler_similarity(tok, s))) * 1000000.0) AS BIGINT) AS mx
         |  FROM (SELECT a, b, unnest(tb) AS tok, ta FROM cand)),
         |bam AS (SELECT a, b, round(CAST(sum(mx) AS DOUBLE) / count(*) / 1000000.0, 6) AS me_ba
         |  FROM ba GROUP BY 1, 2)
         |SELECT x.a, x.b, me_ab, me_ba, round((me_ab + me_ba) / 2.0, 6) AS me
         |FROM abm x JOIN bam y ON x.a = y.a AND x.b = y.b
         |ORDER BY x.a, x.b""".stripMargin,

    "q_ngram_jaccard" ->
      s"""WITH $sBandCte
         |SELECT l.doc_id AS a, r.doc_id AS b,
         |       round(CAST(len(list_intersect(l.toks, r.toks)) AS DOUBLE) /
         |             (len(l.toks) + len(r.toks) - len(list_intersect(l.toks, r.toks))), 6) AS jac
         |FROM d l JOIN d r ON l.doc_id < r.doc_id
         |WHERE $sBandCond
         |  AND round(CAST(len(list_intersect(l.toks, r.toks)) AS DOUBLE) /
         |            (len(l.toks) + len(r.toks) - len(list_intersect(l.toks, r.toks))), 6) >= 0.6
         |ORDER BY a, b""".stripMargin,

    "q_fs_em" -> fsEmOracle,

    "q_fs_decisions" ->
      s"""WITH $fsEmChain,
         |pt AS (SELECT * FROM (
         |  $fsEmUnion)
         |  WHERE n > 0)
         |SELECT p.a, p.b, pt.p_match,
         |  CASE WHEN pt.p_match >= 0.95 THEN 'match'
         |       WHEN pt.p_match <= 0.05 THEN 'non_match'
         |       ELSE 'clerical' END AS decision
         |FROM p JOIN pt USING (lang_agree, len_agree, jac_agree, lev_agree)
         |ORDER BY p.a, p.b""".stripMargin,

    "q_u_sample" ->
      """WITH s0 AS (
        |  SELECT doc_id, lang, n_chars // 100 AS lb, substr(text,1,60) AS t,
        |    list_distinct(string_split_regex(trim(substr(text,1,120)), '\s+')) AS toks,
        |    md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |rk AS (SELECT *, row_number() OVER (ORDER BY h, doc_id) AS rn FROM s0),
        |pr AS (SELECT l.lang = r.lang AS lang_agree, l.lb = r.lb AS len_agree,
        |    CAST(len(list_intersect(l.toks, r.toks)) AS DOUBLE) /
        |      (len(l.toks) + len(r.toks) - len(list_intersect(l.toks, r.toks))) >= 0.6 AS jac_agree,
        |    levenshtein(l.t, r.t) < 15 AS lev_agree
        |  FROM rk l JOIN rk r ON r.rn = l.rn + 1 AND l.rn % 2 = 1)
        |SELECT count(*) AS n_pairs,
        |  CAST((1000000 * sum(CASE WHEN lang_agree THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS u_lang_micro,
        |  CAST((1000000 * sum(CASE WHEN len_agree THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS u_len_micro,
        |  CAST((1000000 * sum(CASE WHEN jac_agree THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS u_jac_micro,
        |  CAST((1000000 * sum(CASE WHEN lev_agree THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS u_lev_micro
        |FROM pr""".stripMargin,

    "q_tf_adjust" ->
      s"""WITH $sBandCte,
         |p AS ($fsPairCte),
         |freq AS (SELECT lang AS lang_a,
         |    CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM documents) AS pf
         |  FROM documents GROUP BY 1),
         |la AS (SELECT doc_id AS a, lang AS lang_a FROM documents)
         |SELECT a, b, lang_a, lang_agree, w_lang, w_lang + rest AS score_milli FROM (
         |  SELECT p.a, p.b, la.lang_a, p.lang_agree,
         |    CASE WHEN p.lang_agree
         |      THEN CAST(floor(1000.0 * ln(${TfW.langM} / pf)) AS BIGINT)
         |      ELSE ${TfW.langD} END AS w_lang,
         |    (CASE WHEN p.len_agree THEN ${TfW.lenA} ELSE ${TfW.lenD} END +
         |     CASE WHEN p.jac_agree THEN ${TfW.jacA} ELSE ${TfW.jacD} END +
         |     CASE WHEN p.lev_agree THEN ${TfW.levA} ELSE ${TfW.levD} END) AS rest
         |  FROM p JOIN la ON p.a = la.a JOIN freq USING (lang_a))
         |ORDER BY a, b""".stripMargin,

    "q_fellegi_sunter" ->
      s"""WITH $sBandCte,
         |p AS ($fsPairCte)
         |SELECT a, b, lang_agree, len_agree, jac_agree, lev_agree,
         |  round((CASE WHEN lang_agree THEN CAST(${Fs.wLangA} AS DOUBLE) ELSE CAST(${Fs.wLangD} AS DOUBLE) END) +
         |        (CASE WHEN len_agree THEN CAST(${Fs.wLenA} AS DOUBLE) ELSE CAST(${Fs.wLenD} AS DOUBLE) END) +
         |        (CASE WHEN jac_agree THEN CAST(${Fs.wJacA} AS DOUBLE) ELSE CAST(${Fs.wJacD} AS DOUBLE) END) +
         |        (CASE WHEN lev_agree THEN CAST(${Fs.wLevA} AS DOUBLE) ELSE CAST(${Fs.wLevD} AS DOUBLE) END), 4) AS score
         |FROM p ORDER BY a, b""".stripMargin,

    "q_meta_blocking" ->
      s"""WITH $sBandCte,
         |w AS (
         |  SELECT l.doc_id AS a, r.doc_id AS b,
         |         CAST((CASE WHEN l.band0=r.band0 THEN 1 ELSE 0 END) +
         |              (CASE WHEN l.band1=r.band1 THEN 1 ELSE 0 END) +
         |              (CASE WHEN l.band2=r.band2 THEN 1 ELSE 0 END) +
         |              (CASE WHEN l.band3=r.band3 THEN 1 ELSE 0 END) AS BIGINT) AS w
         |  FROM d l JOIN d r ON l.doc_id < r.doc_id
         |  WHERE $sBandCond)
         |SELECT a, b, w FROM w WHERE w > (SELECT avg(w) FROM w) ORDER BY a, b""".stripMargin,

    "q_tfidf_pairs" ->
      s"""WITH $sBandCte,
         |toks2 AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token FROM documents),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks2 GROUP BY 1, 2),
         |idf AS (SELECT token, CAST(floor(1000 * ln(CAST((SELECT count(*) FROM documents) AS DOUBLE) / count(*))) AS BIGINT) AS iq
         |        FROM tf GROUP BY token),
         |wt AS (SELECT tf.doc_id, tf.token, tf.tf * idf.iq AS w FROM tf JOIN idf USING (token)),
         |nrm AS (SELECT doc_id, CAST(sum(w*w) AS BIGINT) AS n2 FROM wt GROUP BY 1),
         |cand AS (SELECT l.doc_id AS a, r.doc_id AS b FROM d l JOIN d r ON l.doc_id < r.doc_id WHERE $sBandCond),
         |dots AS (SELECT c.a AS da, c.b AS db, CAST(sum(wa.w * wb.w) AS BIGINT) AS dot
         |         FROM cand c JOIN wt wa ON wa.doc_id = c.a JOIN wt wb ON wb.doc_id = c.b AND wb.token = wa.token
         |         GROUP BY 1, 2)
         |SELECT c.a AS a, c.b AS b, coalesce(dots.dot, 0) AS dot,
         |       CASE WHEN na.n2 > 0 AND nb.n2 > 0
         |            THEN round(coalesce(dots.dot, 0) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)), 6)
         |            ELSE 0.0 END AS cos_sim
         |FROM cand c LEFT JOIN dots ON dots.da = c.a AND dots.db = c.b
         |JOIN nrm na ON na.doc_id = c.a JOIN nrm nb ON nb.doc_id = c.b
         |ORDER BY a, b""".stripMargin,

    "q_cluster_split" ->
      s"""WITH RECURSIVE $sBandCte,
         |e AS (
         |  SELECT l.doc_id AS src, r.doc_id AS dst
         |  FROM d l JOIN d r ON l.doc_id < r.doc_id
         |  WHERE $sBandCond AND levenshtein(l.t, r.t) < 15),
         |sym AS (SELECT src AS u, dst AS v FROM e UNION SELECT dst, src FROM e),
         |reach(u, v) AS (
         |  SELECT u, v FROM sym
         |  UNION
         |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u),
         |cc AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
         |       FROM reach GROUP BY u),
         |fa AS (
         |  SELECT documents.doc_id, coalesce(cc.cluster_id, documents.doc_id) AS cluster_id
         |  FROM documents LEFT JOIN cc ON documents.doc_id = cc.doc_id),
         |sp AS (
         |  SELECT doc_id, cluster_id,
         |    CASE WHEN CAST(('0x' || substr(md5('csplit:' || CAST(cluster_id AS VARCHAR)),1,15)) AS BIGINT) % 100 < 5 THEN 'test'
         |         WHEN CAST(('0x' || substr(md5('csplit:' || CAST(cluster_id AS VARCHAR)),1,15)) AS BIGINT) % 100 < 10 THEN 'val'
         |         ELSE 'train' END AS split
         |  FROM fa)
         |SELECT split, count(DISTINCT cluster_id) AS n_clusters, count(*) AS n_docs
         |FROM sp GROUP BY split ORDER BY split""".stripMargin,

    "q_blocking_recall" ->
      s"""WITH $sBandCte,
         |s AS (SELECT doc_id, substr(text,1,60) AS t FROM documents WHERE ${sampleSqlPred(evalSampleK)}),
         |pairs AS (SELECT a.doc_id AS a, b.doc_id AS b, a.t AS ta, b.t AS tb
         |          FROM s a JOIN s b ON a.doc_id < b.doc_id),
         |truth AS (SELECT a, b FROM pairs WHERE levenshtein(ta, tb) < 15),
         |cands AS (SELECT l.doc_id AS a, r.doc_id AS b FROM d l JOIN d r ON l.doc_id < r.doc_id
         |          WHERE $sBandCond AND ${sampleSqlPred(evalSampleK, "l.doc_id")} AND ${sampleSqlPred(evalSampleK, "r.doc_id")}),
         |caught AS (SELECT a, b FROM truth SEMI JOIN cands USING (a, b))
         |SELECT (SELECT count(*) FROM truth) AS n_true,
         |       (SELECT count(*) FROM cands) AS n_cand,
         |       (SELECT count(*) FROM caught) AS n_caught,
         |       (SELECT count(*) FROM pairs) AS n_pairs,
         |       CASE WHEN (SELECT count(*) FROM truth) > 0
         |            THEN round((SELECT count(*) FROM caught) / (SELECT count(*) FROM truth), 4)
         |            ELSE 0.0 END AS recall,
         |       CASE WHEN (SELECT count(*) FROM pairs) > 0
         |            THEN round(1.0 - (SELECT count(*) FROM cands) / (SELECT count(*) FROM pairs), 6)
         |            ELSE 0.0 END AS reduction_ratio""".stripMargin,

    // Truth side is BRUTE FORCE (all-pairs exact shingle Jaccard — no
    // shared candidacy contract with the Spark PPJoin), so the compare
    // also re-proves the exact join lossless at t=0.9; the predicted side
    // shares the band+lev candidacy contract like every CC oracle.
    "q_er_f1" ->
      s"""WITH RECURSIVE $sBandCte,
         |truth AS (
         |  SELECT l.doc_id AS a, r.doc_id AS b
         |  FROM m l JOIN m r ON l.doc_id < r.doc_id
         |  WHERE round(CAST(len(list_intersect(l.shs, r.shs)) AS DOUBLE) /
         |        (len(l.shs) + len(r.shs) - len(list_intersect(l.shs, r.shs))), 6) >= 0.9),
         |e AS (
         |  SELECT l.doc_id AS src, r.doc_id AS dst
         |  FROM d l JOIN d r ON l.doc_id < r.doc_id
         |  WHERE $sBandCond AND levenshtein(l.t, r.t) < 15),
         |sym AS (SELECT src AS u, dst AS v FROM e UNION SELECT dst, src FROM e),
         |reach(u, v) AS (
         |  SELECT u, v FROM sym
         |  UNION
         |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u),
         |cc AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u),
         |pred AS (SELECT l.doc_id AS a, r.doc_id AS b
         |         FROM cc l JOIN cc r ON l.cluster_id = r.cluster_id AND l.doc_id < r.doc_id),
         |hit AS (SELECT a, b FROM truth SEMI JOIN pred USING (a, b)),
         |c AS (SELECT (SELECT count(*) FROM truth) AS n_true,
         |             (SELECT count(*) FROM pred) AS n_pred,
         |             (SELECT count(*) FROM hit) AS n_hit),
         |pr AS (SELECT n_true, n_pred, n_hit,
         |         CASE WHEN n_pred > 0 THEN CAST(n_hit AS DOUBLE) / n_pred ELSE 0.0 END AS p,
         |         CASE WHEN n_true > 0 THEN CAST(n_hit AS DOUBLE) / n_true ELSE 0.0 END AS r
         |       FROM c)
         |SELECT n_true, n_pred, n_hit, round(p, 6) AS prec, round(r, 6) AS rec,
         |       round(CASE WHEN p + r > 0 THEN 2.0 * p * r / (p + r) ELSE 0.0 END, 6) AS f1
         |FROM pr""".stripMargin,

    // q_er_f1 on the deterministic md5 1/k stratum: truth over sampled
    // docs only; prediction = the FULL-corpus clustering restricted to
    // sampled endpoints (the bounded evaluator protocol).
    "q_er_f1_sampled" ->
      s"""WITH RECURSIVE $sBandCte,
         |sm AS (SELECT * FROM m WHERE ${sampleSqlPred(evalSampleK)}),
         |truth AS (
         |  SELECT l.doc_id AS a, r.doc_id AS b
         |  FROM sm l JOIN sm r ON l.doc_id < r.doc_id
         |  WHERE round(CAST(len(list_intersect(l.shs, r.shs)) AS DOUBLE) /
         |        (len(l.shs) + len(r.shs) - len(list_intersect(l.shs, r.shs))), 6) >= 0.9),
         |e AS (
         |  SELECT l.doc_id AS src, r.doc_id AS dst
         |  FROM d l JOIN d r ON l.doc_id < r.doc_id
         |  WHERE $sBandCond AND levenshtein(l.t, r.t) < 15),
         |sym AS (SELECT src AS u, dst AS v FROM e UNION SELECT dst, src FROM e),
         |reach(u, v) AS (
         |  SELECT u, v FROM sym
         |  UNION
         |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u),
         |cc AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u),
         |pred AS (SELECT l.doc_id AS a, r.doc_id AS b
         |         FROM cc l JOIN cc r ON l.cluster_id = r.cluster_id AND l.doc_id < r.doc_id
         |         WHERE ${sampleSqlPred(evalSampleK, "l.doc_id")} AND ${sampleSqlPred(evalSampleK, "r.doc_id")}),
         |hit AS (SELECT a, b FROM truth SEMI JOIN pred USING (a, b)),
         |c AS (SELECT (SELECT count(*) FROM truth) AS n_true,
         |             (SELECT count(*) FROM pred) AS n_pred,
         |             (SELECT count(*) FROM hit) AS n_hit),
         |pr AS (SELECT n_true, n_pred, n_hit,
         |         CASE WHEN n_pred > 0 THEN CAST(n_hit AS DOUBLE) / n_pred ELSE 0.0 END AS p,
         |         CASE WHEN n_true > 0 THEN CAST(n_hit AS DOUBLE) / n_true ELSE 0.0 END AS r
         |       FROM c)
         |SELECT n_true, n_pred, n_hit, round(p, 6) AS prec, round(r, 6) AS rec,
         |       round(CASE WHEN p + r > 0 THEN 2.0 * p * r / (p + r) ELSE 0.0 END, 6) AS f1
         |FROM pr""".stripMargin,

    // CC leg from the shared band+lev contract; center leg read from the
    // committed golden (the Spark side recomputes it fresh, so the compare
    // doubles as a center-clustering drift tripwire).
    "q_strategy_f1" ->
      s"""WITH RECURSIVE $sBandCte,
         |truth AS (
         |  SELECT l.doc_id AS a, r.doc_id AS b
         |  FROM m l JOIN m r ON l.doc_id < r.doc_id
         |  WHERE round(CAST(len(list_intersect(l.shs, r.shs)) AS DOUBLE) /
         |        (len(l.shs) + len(r.shs) - len(list_intersect(l.shs, r.shs))), 6) >= 0.9),
         |e AS (
         |  SELECT l.doc_id AS src, r.doc_id AS dst
         |  FROM d l JOIN d r ON l.doc_id < r.doc_id
         |  WHERE $sBandCond AND levenshtein(l.t, r.t) < 15),
         |sym AS (SELECT src AS u, dst AS v FROM e UNION SELECT dst, src FROM e),
         |reach(u, v) AS (
         |  SELECT u, v FROM sym
         |  UNION
         |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u),
         |cc AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u),
         |ccp AS (SELECT l.doc_id AS a, r.doc_id AS b
         |        FROM cc l JOIN cc r ON l.cluster_id = r.cluster_id AND l.doc_id < r.doc_id),
         |ctr AS (SELECT doc_id, center_id
         |        FROM read_parquet('/root/repo/golden/q_center_clusters/*.parquet')),
         |ctp AS (SELECT l.doc_id AS a, r.doc_id AS b
         |        FROM ctr l JOIN ctr r ON l.center_id = r.center_id AND l.doc_id < r.doc_id),
         |stats AS (
         |  SELECT 'cc' AS strategy,
         |    (SELECT count(*) FROM truth) AS n_true,
         |    (SELECT count(*) FROM ccp) AS n_pred,
         |    (SELECT count(*) FROM (SELECT a, b FROM truth SEMI JOIN ccp USING (a, b))) AS n_hit
         |  UNION ALL
         |  SELECT 'center',
         |    (SELECT count(*) FROM truth),
         |    (SELECT count(*) FROM ctp),
         |    (SELECT count(*) FROM (SELECT a, b FROM truth SEMI JOIN ctp USING (a, b)))),
         |pr AS (SELECT strategy, n_true, n_pred, n_hit,
         |         CASE WHEN n_pred > 0 THEN CAST(n_hit AS DOUBLE) / n_pred ELSE 0.0 END AS p,
         |         CASE WHEN n_true > 0 THEN CAST(n_hit AS DOUBLE) / n_true ELSE 0.0 END AS r
         |       FROM stats)
         |SELECT strategy, n_true, n_pred, n_hit, round(p, 6) AS prec, round(r, 6) AS rec,
         |       round(CASE WHEN p + r > 0 THEN 2.0 * p * r / (p + r) ELSE 0.0 END, 6) AS f1
         |FROM pr ORDER BY strategy""".stripMargin,

    // Truth clustering is transitive closure over BRUTE-FORCE exact
    // shingle-Jaccard ≥ 0.9 pairs; predicted shares the band+lev contract.
    // Both engines quantize per-cell B³ terms to 6 decimals and sum as
    // DECIMAL, so float addition order cannot differ.
    "q_bcubed" ->
      s"""WITH RECURSIVE $sBandCte,
         |$evalAssignCte,
         |cells AS (SELECT c, tt, count(*) AS n FROM assign GROUP BY c, tt),
         |cs AS (SELECT c, count(*) AS nc FROM assign GROUP BY c),
         |ts AS (SELECT tt, count(*) AS nt FROM assign GROUP BY tt),
         |j AS (SELECT cells.n, cs.nc, ts.nt
         |      FROM cells JOIN cs USING (c) JOIN ts USING (tt)),
         |agg AS (SELECT CAST(sum(n) AS BIGINT) AS n_docs,
         |          CAST(sum(CAST(round(CAST(n * n AS DOUBLE) / nc, 6) AS DECIMAL(28,10))) AS DOUBLE) AS sp,
         |          CAST(sum(CAST(round(CAST(n * n AS DOUBLE) / nt, 6) AS DECIMAL(28,10))) AS DOUBLE) AS sr
         |        FROM j),
         |pr AS (SELECT n_docs, sp / n_docs AS p, sr / n_docs AS r FROM agg)
         |SELECT n_docs, round(p, 6) AS b3_prec, round(r, 6) AS b3_rec,
         |       round(CASE WHEN p + r > 0 THEN 2.0 * p * r / (p + r) ELSE 0.0 END, 6) AS b3_f1
         |FROM pr""".stripMargin,

    // Same truth (brute-force exact-Jaccard transitive closure) and
    // predicted (band+lev contract) clusterings as q_bcubed; the ARI tail
    // is one double expression over four exact int64 pair counts, written
    // in the identical operation order as the Spark side.
    "q_ari" ->
      s"""WITH RECURSIVE $sBandCte,
         |$evalAssignCte,
         |$ariSqlTail""".stripMargin,

    // Same shared assign CTE as q_ari/q_bcubed; entropies as exact int64
    // milli-nat occurrence sums, the NMI ratio identically ordered.
    "q_nmi" ->
      s"""WITH RECURSIVE $sBandCte,
         |$evalAssignCte,
         |n AS (SELECT count(*) AS n_docs FROM assign),
         |hp AS (SELECT CAST(sum(m * CAST(floor(1000.0 * ln(CAST(n_docs AS DOUBLE) / CAST(m AS DOUBLE))) AS BIGINT)) AS BIGINT) AS h_pred_milli
         |       FROM (SELECT count(*) AS m FROM assign GROUP BY c) CROSS JOIN n),
         |ht AS (SELECT CAST(sum(m * CAST(floor(1000.0 * ln(CAST(n_docs AS DOUBLE) / CAST(m AS DOUBLE))) AS BIGINT)) AS BIGINT) AS h_truth_milli
         |       FROM (SELECT count(*) AS m FROM assign GROUP BY tt) CROSS JOIN n),
         |hj AS (SELECT CAST(sum(m * CAST(floor(1000.0 * ln(CAST(n_docs AS DOUBLE) / CAST(m AS DOUBLE))) AS BIGINT)) AS BIGINT) AS h_joint_milli
         |       FROM (SELECT count(*) AS m FROM assign GROUP BY c, tt) CROSS JOIN n)
         |SELECT n_docs, h_pred_milli, h_truth_milli, h_joint_milli,
         |       round(CASE WHEN h_pred_milli + h_truth_milli = 0 THEN 1.0
         |             ELSE 2.0 * CAST(h_pred_milli + h_truth_milli - h_joint_milli AS DOUBLE) /
         |                  CAST(h_pred_milli + h_truth_milli AS DOUBLE) END, 6) AS nmi
         |FROM n CROSS JOIN hp CROSS JOIN ht CROSS JOIN hj""".stripMargin,

    // Same shared assign CTE; everything exact integers until the final
    // guarded harmonic mean (identical operand order both engines).
    "q_purity" ->
      s"""WITH RECURSIVE $sBandCte,
         |$evalAssignCte,
         |cells AS (SELECT c, tt, count(*) AS m FROM assign GROUP BY c, tt),
         |pm AS (SELECT CAST(sum(mx) AS BIGINT) AS sum_max_pred
         |       FROM (SELECT max(m) AS mx FROM cells GROUP BY c)),
         |tm AS (SELECT CAST(sum(mx) AS BIGINT) AS sum_max_truth
         |       FROM (SELECT max(m) AS mx FROM cells GROUP BY tt)),
         |n AS (SELECT count(*) AS n_docs FROM assign),
         |mic AS (SELECT n_docs, sum_max_pred, sum_max_truth,
         |          (1000000 * sum_max_pred) // n_docs AS purity_micro,
         |          (1000000 * sum_max_truth) // n_docs AS inv_purity_micro
         |        FROM n CROSS JOIN pm CROSS JOIN tm)
         |SELECT n_docs, sum_max_pred, sum_max_truth, purity_micro, inv_purity_micro,
         |       round(CASE WHEN purity_micro + inv_purity_micro = 0 THEN 0.0
         |             ELSE 2.0 * CAST(purity_micro AS DOUBLE) * CAST(inv_purity_micro AS DOUBLE) /
         |                  CAST(purity_micro + inv_purity_micro AS DOUBLE) END, 6) AS purity_f_micro
         |FROM mic""".stripMargin,

    "q_pii_scrub" ->
      s"""WITH c AS (
         |  SELECT source,
         |    'user' || doc_id || '@mail.example id=' || lpad(CAST((doc_id*7919)%100000000 AS VARCHAR),8,'0') || ' ' || substr(text,1,40) AS contact
         |  FROM documents),
         |r AS (SELECT source, contact,
         |    len(regexp_extract_all(contact, '$PiiEmailPat')) AS n_email,
         |    len(regexp_extract_all(regexp_replace(contact, '$PiiEmailPat', '[EMAIL]', 'g'), '$PiiDigitsPat')) AS n_id,
         |    length(contact) - length(regexp_replace(regexp_replace(contact, '$PiiEmailPat', '[EMAIL]', 'g'), '$PiiDigitsPat', '[ID]', 'g')) AS redacted
         |  FROM c)
         |SELECT source, count(*) AS n_docs, CAST(sum(n_email) AS BIGINT) AS n_emails,
         |       CAST(sum(n_id) AS BIGINT) AS n_ids, CAST(sum(redacted) AS BIGINT) AS chars_redacted
         |FROM r GROUP BY source ORDER BY source""".stripMargin,

    "q_containment" ->
      s"""WITH $sBandCte
         |SELECT l.doc_id AS a, r.doc_id AS b,
         |       round(CAST(len(list_intersect(l.toks, r.toks)) AS DOUBLE) / len(l.toks), 6) AS cont_a_in_b,
         |       round(CAST(len(list_intersect(l.toks, r.toks)) AS DOUBLE) / len(r.toks), 6) AS cont_b_in_a
         |FROM d l JOIN d r ON l.doc_id < r.doc_id
         |WHERE $sBandCond
         |  AND greatest(round(CAST(len(list_intersect(l.toks, r.toks)) AS DOUBLE) / len(l.toks), 6),
         |               round(CAST(len(list_intersect(l.toks, r.toks)) AS DOUBLE) / len(r.toks), 6)) >= 0.7
         |ORDER BY a, b""".stripMargin,

    // Deliberately NO prefix filter here: the oracle is brute-force
    // all-pairs Jaccard over the 8-char shingle sets, so the driver compare
    // proves the Spark-side prefix filter is lossless (no shared candidacy
    // contract).
    "q_prefix_join" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(range(1, greatest(length(substr(text,1,120))-7,1)+1),
         |      i -> substr(substr(text,1,120), CAST(i AS INT), 8))) AS toks
         |  FROM documents)
         |SELECT l.doc_id AS a, r.doc_id AS b,
         |       round(CAST(len(list_intersect(l.toks, r.toks)) AS DOUBLE) /
         |             (len(l.toks) + len(r.toks) - len(list_intersect(l.toks, r.toks))), 6) AS jac
         |FROM d l JOIN d r ON l.doc_id < r.doc_id
         |WHERE round(CAST(len(list_intersect(l.toks, r.toks)) AS DOUBLE) /
         |            (len(l.toks) + len(r.toks) - len(list_intersect(l.toks, r.toks))), 6) >= 0.8
         |ORDER BY a, b""".stripMargin,

    "q_minhash_err" -> {
      val kSum = (0 until 12)
        .map(j => s"(CASE WHEN l.m$j = r.m$j THEN 1 ELSE 0 END)").mkString(" + ")
      val bandCondM = (0 until 4).map { b =>
        (0 until 3).map(i => s"l.m${3 * b + i} = r.m${3 * b + i}").mkString("(", " AND ", ")")
      }.mkString(" OR ")
      s"""WITH $sBandCte,
         |p AS (
         |  SELECT $kSum AS k,
         |    CAST(len(list_intersect(l.shs, r.shs)) AS DOUBLE) /
         |      (len(l.shs) + len(r.shs) - len(list_intersect(l.shs, r.shs))) AS jac
         |  FROM m l JOIN m r ON l.doc_id < r.doc_id
         |  WHERE $bandCondM)
         |SELECT CAST(floor(jac * 10) AS INT) AS bucket, count(*) AS n_pairs,
         |  round(CAST(sum(CAST(round(CAST(k AS DOUBLE) / 12, 6) AS DECIMAL(28,10))) AS DOUBLE), 4) AS sum_est,
         |  round(CAST(sum(CAST(round(jac, 6) AS DECIMAL(28,10))) AS DOUBLE), 4) AS sum_jac,
         |  round(CAST(sum(CAST(round(abs(CAST(k AS DOUBLE) / 12 - jac), 6) AS DECIMAL(28,10))) AS DOUBLE), 4) AS sum_abs_err
         |FROM p GROUP BY bucket ORDER BY bucket""".stripMargin
    },

    "q_threshold_sweep" ->
      s"""WITH RECURSIVE $sBandCte,
         |e AS (
         |  SELECT l.doc_id AS src, r.doc_id AS dst, levenshtein(l.t, r.t) AS dd
         |  FROM d l JOIN d r ON l.doc_id < r.doc_id
         |  WHERE $sBandCond AND levenshtein(l.t, r.t) < 15),
         |symL AS (SELECT src AS u, dst AS v FROM e UNION SELECT dst, src FROM e),
         |reachL(u, v) AS (
         |  SELECT u, v FROM symL
         |  UNION
         |  SELECT r.u, s.v FROM reachL r JOIN symL s ON r.v = s.u),
         |ccL AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
         |        FROM reachL GROUP BY u),
         |symS AS (SELECT src AS u, dst AS v FROM e WHERE dd < 8
         |         UNION SELECT dst, src FROM e WHERE dd < 8),
         |reachS(u, v) AS (
         |  SELECT u, v FROM symS
         |  UNION
         |  SELECT r.u, s.v FROM reachS r JOIN symS s ON r.v = s.u),
         |ccS AS (SELECT u AS doc_id, least(u, min(v)) AS strict_id
         |        FROM reachS GROUP BY u)
         |SELECT l.cluster_id, count(*) AS n_members,
         |       count(DISTINCT coalesce(s.strict_id, l.doc_id)) AS n_parts
         |FROM ccL l LEFT JOIN ccS s USING (doc_id)
         |GROUP BY l.cluster_id HAVING count(*) > 1
         |ORDER BY cluster_id""".stripMargin,

    "q_cluster_stability" ->
      s"""WITH RECURSIVE $sBandCte,
         |e AS (
         |  SELECT l.doc_id AS src, r.doc_id AS dst, levenshtein(l.t, r.t) AS dd
         |  FROM d l JOIN d r ON l.doc_id < r.doc_id
         |  WHERE $sBandCond AND levenshtein(l.t, r.t) < 15),
         |symL AS (SELECT src AS u, dst AS v FROM e UNION SELECT dst, src FROM e),
         |reachL(u, v) AS (
         |  SELECT u, v FROM symL
         |  UNION
         |  SELECT r.u, s.v FROM reachL r JOIN symL s ON r.v = s.u),
         |ccL AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
         |        FROM reachL GROUP BY u),
         |symS AS (SELECT src AS u, dst AS v FROM e WHERE dd < 8
         |         UNION SELECT dst, src FROM e WHERE dd < 8),
         |reachS(u, v) AS (
         |  SELECT u, v FROM symS
         |  UNION
         |  SELECT r.u, s.v FROM reachS r JOIN symS s ON r.v = s.u),
         |ccS AS (SELECT u AS doc_id, least(u, min(v)) AS strict_id
         |        FROM reachS GROUP BY u),
         |assign AS (
         |  SELECT d0.doc_id,
         |         coalesce(l.cluster_id, d0.doc_id) AS c,
         |         coalesce(s.strict_id, d0.doc_id) AS tt
         |  FROM documents d0
         |  LEFT JOIN ccL l ON l.doc_id = d0.doc_id
         |  LEFT JOIN ccS s ON s.doc_id = d0.doc_id),
         |$ariSqlTail""".stripMargin,

    "q_dedup_cascade" ->
      s"""WITH RECURSIVE $sBandCte,
         |x AS (SELECT doc_id,
         |        min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
         |      FROM documents),
         |exact_killed AS (SELECT doc_id, keeper FROM x WHERE doc_id <> keeper),
         |s1 AS (SELECT doc_id FROM x WHERE doc_id = keeper),
         |e2 AS (
         |  SELECT l.doc_id AS src, r.doc_id AS dst
         |  FROM d l JOIN d r ON l.doc_id < r.doc_id
         |  JOIN s1 a ON a.doc_id = l.doc_id
         |  JOIN s1 b ON b.doc_id = r.doc_id
         |  WHERE $sBandCond AND levenshtein(l.t, r.t) < 15),
         |sym2 AS (SELECT src AS u, dst AS v FROM e2 UNION SELECT dst, src FROM e2),
         |reach2(u, v) AS (
         |  SELECT u, v FROM sym2
         |  UNION
         |  SELECT r.u, s.v FROM reach2 r JOIN sym2 s ON r.v = s.u),
         |cc2 AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
         |        FROM reach2 GROUP BY u),
         |near_killed AS (SELECT doc_id, cluster_id FROM cc2 WHERE doc_id <> cluster_id),
         |s2 AS (SELECT doc_id FROM s1
         |       WHERE doc_id NOT IN (SELECT doc_id FROM near_killed)),
         |e3 AS (
         |  SELECT l.doc_id AS src, r.doc_id AS dst
         |  FROM d l JOIN d r ON l.doc_id < r.doc_id
         |  JOIN s2 a ON a.doc_id = l.doc_id
         |  JOIN s2 b ON b.doc_id = r.doc_id
         |  WHERE $sBandCond AND
         |    CAST(len(list_intersect(l.toks, r.toks)) AS DOUBLE) /
         |      (len(l.toks) + len(r.toks) - len(list_intersect(l.toks, r.toks))) >= 0.6),
         |sym3 AS (SELECT src AS u, dst AS v FROM e3 UNION SELECT dst, src FROM e3),
         |reach3(u, v) AS (
         |  SELECT u, v FROM sym3
         |  UNION
         |  SELECT r.u, s.v FROM reach3 r JOIN sym3 s ON r.v = s.u),
         |cc3 AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
         |        FROM reach3 GROUP BY u),
         |jac_killed AS (SELECT doc_id, cluster_id FROM cc3 WHERE doc_id <> cluster_id),
         |survivors AS (SELECT doc_id FROM s2
         |              WHERE doc_id NOT IN (SELECT doc_id FROM jac_killed))
         |SELECT doc_id, '1_exact' AS stage, keeper FROM exact_killed
         |UNION ALL
         |SELECT doc_id, '2_near' AS stage, cluster_id AS keeper FROM near_killed
         |UNION ALL
         |SELECT doc_id, '3_jaccard' AS stage, cluster_id AS keeper FROM jac_killed
         |UNION ALL
         |SELECT doc_id, '4_survivor' AS stage, doc_id AS keeper FROM survivors
         |ORDER BY doc_id""".stripMargin,

    "q_cc_clusters" ->
      s"""WITH RECURSIVE $sBandCte,
         |e AS (
         |  SELECT l.doc_id AS src, r.doc_id AS dst
         |  FROM d l JOIN d r ON l.doc_id < r.doc_id
         |  WHERE $sBandCond AND levenshtein(l.t, r.t) < 15),
         |sym AS (SELECT src AS u, dst AS v FROM e UNION SELECT dst, src FROM e),
         |reach(u, v) AS (
         |  SELECT u, v FROM sym
         |  UNION
         |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u)
         |SELECT u AS doc_id, least(u, min(v)) AS cluster_id
         |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin,

    "q_cluster_groups" ->
      s"""WITH RECURSIVE $sBandCte,
         |e AS (
         |  SELECT l.doc_id AS src, r.doc_id AS dst
         |  FROM d l JOIN d r ON l.doc_id < r.doc_id
         |  WHERE $sBandCond AND levenshtein(l.t, r.t) < 15),
         |sym AS (SELECT src AS u, dst AS v FROM e UNION SELECT dst, src FROM e),
         |reach(u, v) AS (
         |  SELECT u, v FROM sym
         |  UNION
         |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u),
         |cc AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
         |       FROM reach GROUP BY u)
         |SELECT cluster_id, count(*) AS n_members,
         |       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS members
         |FROM cc GROUP BY cluster_id HAVING count(*) > 1
         |ORDER BY cluster_id""".stripMargin,

    "q_survivorship" ->
      s"""WITH RECURSIVE $sBandCte,
         |e AS (
         |  SELECT l.doc_id AS src, r.doc_id AS dst
         |  FROM d l JOIN d r ON l.doc_id < r.doc_id
         |  WHERE $sBandCond AND levenshtein(l.t, r.t) < 15),
         |sym AS (SELECT src AS u, dst AS v FROM e UNION SELECT dst, src FROM e),
         |reach(u, v) AS (
         |  SELECT u, v FROM sym
         |  UNION
         |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u),
         |cc AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
         |       FROM reach GROUP BY u),
         |k AS (SELECT cluster_id, min(doc_id) AS keeper FROM cc GROUP BY cluster_id)
         |SELECT cc.doc_id, cc.cluster_id, k.keeper, 'delete' AS action
         |FROM cc JOIN k ON cc.cluster_id = k.cluster_id
         |WHERE cc.doc_id <> k.keeper
         |ORDER BY doc_id""".stripMargin,

    "q_golden_record" ->
      s"""WITH RECURSIVE $sBandCte,
         |e AS (
         |  SELECT l.doc_id AS src, r.doc_id AS dst
         |  FROM d l JOIN d r ON l.doc_id < r.doc_id
         |  WHERE $sBandCond AND levenshtein(l.t, r.t) < 15),
         |sym AS (SELECT src AS u, dst AS v FROM e UNION SELECT dst, src FROM e),
         |reach(u, v) AS (
         |  SELECT u, v FROM sym
         |  UNION
         |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u),
         |cc AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
         |       FROM reach GROUP BY u),
         |mem AS (SELECT cc.doc_id, cc.cluster_id, doc.n_chars
         |        FROM cc JOIN documents doc ON cc.doc_id = doc.doc_id),
         |g AS (SELECT cluster_id, count(*) AS n_members, max(n_chars) AS max_chars
         |      FROM mem GROUP BY cluster_id)
         |SELECT g.cluster_id, g.n_members, min(mem.doc_id) AS canonical_doc, g.max_chars
         |FROM g JOIN mem ON mem.cluster_id = g.cluster_id AND mem.n_chars = g.max_chars
         |GROUP BY g.cluster_id, g.n_members, g.max_chars
         |ORDER BY g.cluster_id""".stripMargin,

    "q_cluster_cohesion" ->
      s"""WITH RECURSIVE $sBandCte,
         |e AS (
         |  SELECT l.doc_id AS src, r.doc_id AS dst
         |  FROM d l JOIN d r ON l.doc_id < r.doc_id
         |  WHERE $sBandCond AND levenshtein(l.t, r.t) < 15),
         |sym AS (SELECT src AS u, dst AS v FROM e UNION SELECT dst, src FROM e),
         |reach(u, v) AS (
         |  SELECT u, v FROM sym
         |  UNION
         |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u),
         |cc AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
         |       FROM reach GROUP BY u),
         |sz AS (SELECT cluster_id, count(*) AS n_members FROM cc GROUP BY 1),
         |mem AS (SELECT cc.cluster_id, cc.doc_id, d.t,
         |        row_number() OVER (PARTITION BY cc.cluster_id ORDER BY cc.doc_id) AS rk
         |        FROM cc JOIN d ON d.doc_id = cc.doc_id),
         |p AS (SELECT l.cluster_id, levenshtein(l.t, r.t) AS d,
         |      round(1.0 - CAST(levenshtein(l.t, r.t) AS DOUBLE)
         |            / greatest(length(l.t), length(r.t)), 6) AS sim
         |      FROM mem l JOIN mem r
         |        ON l.cluster_id = r.cluster_id AND l.doc_id < r.doc_id
         |      WHERE l.rk <= 32 AND r.rk <= 32)
         |SELECT p.cluster_id, sz.n_members, count(*) AS n_pairs,
         |       CAST(sum(p.d) AS BIGINT) AS sum_dist,
         |       round(CAST(sum(p.d) AS DOUBLE) / count(*), 6) AS avg_dist,
         |       min(p.sim) AS min_sim
         |FROM p JOIN sz ON sz.cluster_id = p.cluster_id
         |GROUP BY p.cluster_id, sz.n_members
         |ORDER BY p.cluster_id""".stripMargin,

    "q_cand_hist" ->
      s"""WITH $sBandCte,
         |pr AS (
         |  SELECT levenshtein(l.t, r.t) AS d,
         |         CASE WHEN ls.source <> rs.source THEN 1 ELSE 0 END AS xs
         |  FROM d l JOIN d r ON l.doc_id < r.doc_id
         |  JOIN documents ls ON ls.doc_id = l.doc_id
         |  JOIN documents rs ON rs.doc_id = r.doc_id
         |  WHERE $sBandCond)
         |SELECT CAST(floor(d / 5.0) AS INT) AS bucket, count(*) AS n_pairs,
         |       CAST(sum(xs) AS BIGINT) AS n_cross_source
         |FROM pr GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q_sorted_neighborhood" ->
      """WITH s AS (
        |  SELECT doc_id, substr(text, 1, 60) AS t,
        |         row_number() OVER (ORDER BY substr(text, 1, 24), doc_id) AS rn
        |  FROM documents)
        |SELECT least(l.doc_id, r.doc_id) AS a,
        |       greatest(l.doc_id, r.doc_id) AS b,
        |       levenshtein(l.t, r.t) AS d
        |FROM s l JOIN s r ON r.rn - l.rn BETWEEN 1 AND 3
        |WHERE levenshtein(l.t, r.t) < 15
        |ORDER BY a, b""".stripMargin,

    "q_record_linkage" ->
      s"""WITH $sBandCte
         |SELECT l.doc_id AS left_id, r.doc_id AS right_id,
         |       round(jaro_winkler_similarity(l.t, r.t), 6) AS jw
         |FROM d l JOIN d r ON l.doc_id % 2 = 0 AND r.doc_id % 2 = 1
         |WHERE $sBandCond AND round(jaro_winkler_similarity(l.t, r.t), 6) >= 0.9
         |ORDER BY left_id, right_id""".stripMargin,

    "q_linkage_best" ->
      s"""WITH $sBandCte,
         |p AS (
         |  SELECT l.doc_id AS left_id, r.doc_id AS right_id,
         |         round(jaro_winkler_similarity(l.t, r.t), 6) AS jw
         |  FROM d l JOIN d r ON l.doc_id % 2 = 0 AND r.doc_id % 2 = 1
         |  WHERE $sBandCond AND round(jaro_winkler_similarity(l.t, r.t), 6) >= 0.9),
         |rk AS (
         |  SELECT left_id, right_id, jw,
         |         row_number() OVER (PARTITION BY left_id
         |                            ORDER BY jw DESC, right_id) AS rn
         |  FROM p)
         |SELECT left_id, right_id, jw FROM rk WHERE rn = 1
         |ORDER BY left_id""".stripMargin,

    "q_boilerplate" ->
      """WITH words AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |idx AS (
        |  SELECT doc_id, w, unnest(range(1, len(w) - 6)) AS i FROM words),
        |ph AS (
        |  SELECT doc_id, array_to_string(w[i:i+7], ' ') AS phrase FROM idx),
        |per AS (SELECT phrase, doc_id, count(*) AS c FROM ph GROUP BY 1, 2)
        |SELECT phrase, count(*) AS n_docs, CAST(sum(c) AS BIGINT) AS n_occurrences
        |FROM per GROUP BY phrase HAVING count(*) > 1
        |ORDER BY n_docs DESC, phrase LIMIT 10""".stripMargin,

    "q_blocking_stats" ->
      s"""WITH $sBandCte,
         |b AS (
         |  SELECT 0 AS pos, band0 AS bk FROM d
         |  UNION ALL SELECT 1, band1 FROM d
         |  UNION ALL SELECT 2, band2 FROM d
         |  UNION ALL SELECT 3, band3 FROM d),
         |g AS (SELECT pos, bk, count(*) AS bsize FROM b GROUP BY 1, 2)
         |SELECT pos, count(*) AS n_blocks, CAST(sum(bsize) AS BIGINT) AS n_rows,
         |       max(bsize) AS max_block,
         |       CAST(sum(bsize * (bsize - 1) / 2) AS BIGINT) AS n_cand_pairs
         |FROM g GROUP BY pos ORDER BY pos""".stripMargin,

    "q_dup_rate" ->
      s"""WITH RECURSIVE $sBandCte,
         |e AS (
         |  SELECT l.doc_id AS src, r.doc_id AS dst
         |  FROM d l JOIN d r ON l.doc_id < r.doc_id
         |  WHERE $sBandCond AND levenshtein(l.t, r.t) < 15),
         |sym AS (SELECT src AS u, dst AS v FROM e UNION SELECT dst, src FROM e),
         |reach(u, v) AS (
         |  SELECT u, v FROM sym
         |  UNION
         |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u),
         |cc AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
         |       FROM reach GROUP BY u)
         |SELECT doc.source, count(*) AS n_docs,
         |       CAST(sum(CASE WHEN cc.cluster_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
         |       round(CAST(sum(CASE WHEN cc.cluster_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |             / count(*), 6) AS dup_rate
         |FROM documents doc LEFT JOIN cc ON doc.doc_id = cc.doc_id
         |GROUP BY doc.source ORDER BY doc.source""".stripMargin,

    "q_list_filter" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id IN (SELECT range FROM range(0, 100000, 7))
        |ORDER BY doc_id""".stripMargin,

    "q_token_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |       CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS sum_tokens,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       min(len(string_split_regex(trim(text), '\s+'))) AS min_tokens,
        |       max(len(string_split_regex(trim(text), '\s+'))) AS max_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q_quality" ->
      """SELECT lang, count(*) AS n_docs,
        |       round(CAST(sum(CAST(CAST(length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')) AS DOUBLE)
        |                 / n_chars AS DECIMAL(28,10))) AS DOUBLE), 6) AS sum_alpha_ratio,
        |       CAST(sum(length(text) - length(regexp_replace(text, '[ ]', '', 'g'))) AS BIGINT) AS sum_spaces
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q_lang_guess" ->
      """WITH h AS (
        |  SELECT lang,
        |    len(list_filter(string_split(lower(text), ' '), t -> t IN ('the','and','of'))) AS h_en,
        |    len(list_filter(string_split(lower(text), ' '), t -> t IN ('der','und','das'))) AS h_de,
        |    len(list_filter(string_split(lower(text), ' '), t -> t IN ('le','et','les'))) AS h_fr,
        |    len(list_filter(string_split(lower(text), ' '), t -> t IN ('el','que','los'))) AS h_es
        |  FROM documents)
        |SELECT lang,
        |  CASE WHEN h_en >= greatest(h_de, h_fr, h_es) AND h_en > 0 THEN 'en'
        |       WHEN h_de >= greatest(h_fr, h_es) AND h_de > 0 THEN 'de'
        |       WHEN h_fr >= h_es AND h_fr > 0 THEN 'fr'
        |       WHEN h_es > 0 THEN 'es'
        |       ELSE 'und' END AS pred,
        |  count(*) AS n
        |FROM h GROUP BY 1, 2 ORDER BY lang, pred""".stripMargin,

    "q_decontam" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(w)-12, 0)+1),
        |    i -> CAST(('0x' || substr(md5(array_to_string(w[i:i+12], ' ')),1,15)) AS BIGINT))) AS g
        |  FROM toks),
        |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0)
        |SELECT doc_id, count(*) AS n_hits
        |FROM grams JOIN bench USING (g)
        |WHERE doc_id % 20 <> 0
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // the Bloom prefilter is exact-verified, so the oracle is q_decontam's
    // verbatim — same rows, same bits, different (scale-shaped) plan
    "q_decontam_bloom" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(w)-12, 0)+1),
        |    i -> CAST(('0x' || substr(md5(array_to_string(w[i:i+12], ' ')),1,15)) AS BIGINT))) AS g
        |  FROM toks),
        |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0)
        |SELECT doc_id, count(*) AS n_hits
        |FROM grams JOIN bench USING (g)
        |WHERE doc_id % 20 <> 0
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |r AS (
        |  SELECT doc_id, lang,
        |         round(CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 6) AS ttr,
        |         CAST(len(list_filter(list_zip(w[1:len(w)-1], w[2:len(w)]), p -> p[1] = p[2])) AS BIGINT) AS n_adj_repeats
        |  FROM t)
        |SELECT lang, count(*) AS n_docs,
        |       round(CAST(sum(CAST(ttr AS DECIMAL(28,10))) AS DOUBLE), 6) AS sum_ttr,
        |       CAST(sum(n_adj_repeats) AS BIGINT) AS sum_adj_repeats,
        |       CAST(sum(CASE WHEN ttr < 0.4 THEN 1 ELSE 0 END) AS BIGINT) AS n_low_ttr
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin,

    "q_sample_split" ->
      """WITH b AS (
        |  SELECT *, CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) % 100 AS bucket
        |  FROM documents),
        |s AS (
        |  SELECT lang, n_chars, doc_id,
        |         CASE WHEN bucket < 5 THEN 'test' WHEN bucket < 10 THEN 'val' ELSE 'train' END AS split
        |  FROM b)
        |SELECT lang, split, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM s GROUP BY 1, 2 ORDER BY lang, split""".stripMargin,

    "q_vocab_df" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token FROM documents),
        |per AS (SELECT token, doc_id, count(*) AS c FROM toks GROUP BY 1, 2)
        |SELECT token, count(*) AS df, CAST(sum(c) AS BIGINT) AS tf
        |FROM per GROUP BY token ORDER BY df DESC, token LIMIT 20""".stripMargin,

    // Same whitespace tokenizer as q_vocab_df; surprisal floor-quantized to
    // milli-nats per occurrence so every aggregate is exact int64.
    "q_unigram_ppl" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token FROM documents),
        |lm AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM lm),
        |sc AS (SELECT doc_id,
        |         CAST(floor(1000.0 * ln(CAST(n_total AS DOUBLE) / CAST(cnt AS DOUBLE))) AS BIGINT) AS sup
        |       FROM toks JOIN lm USING (token) CROSS JOIN tot),
        |agg AS (SELECT doc_id, count(*) AS n_toks, CAST(sum(sup) AS BIGINT) AS sup_milli
        |        FROM sc GROUP BY doc_id)
        |SELECT doc_id, n_toks, sup_milli, sup_milli // n_toks AS ppl_milli
        |FROM agg ORDER BY ppl_milli DESC, doc_id LIMIT 100""".stripMargin,

    // Same tokenizer + milli-nat floor quantization as q_unigram_ppl; the
    // clamped mean uses only nonnegative operands so // and div agree.
    "q_source_kl" ->
      """WITH st AS (
        |  SELECT source, token, count(*) AS c_st FROM (
        |    SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS token
        |    FROM documents) GROUP BY source, token),
        |t AS (SELECT token, CAST(sum(c_st) AS BIGINT) AS c_t FROM st GROUP BY token),
        |stot AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s FROM st GROUP BY source),
        |tot AS (SELECT CAST(sum(c_st) AS BIGINT) AS n FROM st),
        |terms AS (
        |  SELECT source, n_s,
        |    c_st * CAST(floor(1000.0 * ln((CAST(c_st AS DOUBLE) * CAST(n AS DOUBLE)) /
        |      (CAST(n_s AS DOUBLE) * CAST(c_t AS DOUBLE)))) AS BIGINT) AS term
        |  FROM st JOIN t USING (token) JOIN stot USING (source) CROSS JOIN tot),
        |agg AS (SELECT source, max(n_s) AS n_toks, CAST(sum(term) AS BIGINT) AS kl_sum_milli
        |        FROM terms GROUP BY source)
        |SELECT source, n_toks, kl_sum_milli, greatest(kl_sum_milli, 0) // n_toks AS kl_milli
        |FROM agg ORDER BY source""".stripMargin,

    "q_cross_source_dups" ->
      s"""WITH $sBandCte,
         |e AS (
         |  SELECT l.doc_id AS src, r.doc_id AS dst
         |  FROM d l JOIN d r ON l.doc_id < r.doc_id
         |  WHERE $sBandCond AND levenshtein(l.t, r.t) < 15)
         |SELECT least(sa.source, sb.source) AS source_a,
         |       greatest(sa.source, sb.source) AS source_b,
         |       count(*) AS n_pairs
         |FROM e
         |JOIN documents sa ON e.src = sa.doc_id
         |JOIN documents sb ON e.dst = sb.doc_id
         |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin,

    "q_len_percentiles" ->
      """WITH h AS (
        |  SELECT source, CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |         count(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |w AS (
        |  SELECT source, n_tokens,
        |         sum(c) OVER (PARTITION BY source ORDER BY n_tokens) AS cum,
        |         sum(c) OVER (PARTITION BY source) AS tot
        |  FROM h)
        |SELECT source,
        |       CAST(min(CASE WHEN cum*2 >= tot THEN n_tokens END) AS BIGINT) AS p50,
        |       CAST(min(CASE WHEN cum*10 >= tot*9 THEN n_tokens END) AS BIGINT) AS p90,
        |       CAST(min(CASE WHEN cum*100 >= tot*99 THEN n_tokens END) AS BIGINT) AS p99,
        |       max(n_tokens) AS max_tokens
        |FROM w GROUP BY source ORDER BY source""".stripMargin,

    "q_cosine_topk" ->
      """WITH s AS (
        |  SELECT q.vec_id AS q, c.vec_id AS n,
        |         round(list_sum(list_transform(list_zip(q.embedding, c.embedding),
        |                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
        |           (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) *
        |            sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6) AS cos
        |  FROM embeddings q JOIN embeddings c ON q.vec_id < 50 AND q.vec_id <> c.vec_id)
        |SELECT q, n, rank, cos FROM (
        |  SELECT q, n, cos, CAST(row_number() OVER (PARTITION BY q ORDER BY cos DESC, n) AS INT) AS rank
        |  FROM s) WHERE rank <= 3 ORDER BY q, rank""".stripMargin,

    // all-pairs form; the OR-of-8-band-equalities predicate IS the candidacy
    // definition shared with the Spark band join (see the query's Scaladoc)
    "q_embed_near_dup" ->
      """WITH e AS (
        |  SELECT vec_id, label, embedding,
        |         list_sum(list_transform(list_zip(embedding[1:63], range(0,63)),
        |           x -> CASE WHEN x[1] > 0 THEN (CAST(1 AS BIGINT) << x[2]) ELSE 0 END))::BIGINT AS h
        |  FROM embeddings)
        |SELECT a.label = b.label AS same_label, count(*) AS n_pairs
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE (((a.h >> 0) & 255) = ((b.h >> 0) & 255) OR
        |       ((a.h >> 8) & 255) = ((b.h >> 8) & 255) OR
        |       ((a.h >> 16) & 255) = ((b.h >> 16) & 255) OR
        |       ((a.h >> 24) & 255) = ((b.h >> 24) & 255) OR
        |       ((a.h >> 32) & 255) = ((b.h >> 32) & 255) OR
        |       ((a.h >> 40) & 255) = ((b.h >> 40) & 255) OR
        |       ((a.h >> 48) & 255) = ((b.h >> 48) & 255) OR
        |       ((a.h >> 56) & 255) = ((b.h >> 56) & 255))
        |  AND list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
        |      (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) *
        |       sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) > 0.35
        |GROUP BY 1 ORDER BY same_label""".stripMargin,

    "q_semdedup" ->
      """WITH RECURSIVE e AS (
        |  SELECT vec_id, embedding,
        |         list_sum(list_transform(list_zip(embedding[1:63], range(0,63)),
        |           x -> CASE WHEN x[1] > 0 THEN (CAST(1 AS BIGINT) << x[2]) ELSE 0 END))::BIGINT AS h
        |  FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS u, b.vec_id AS v
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE (((a.h >> 0) & 255) = ((b.h >> 0) & 255) OR
        |         ((a.h >> 8) & 255) = ((b.h >> 8) & 255) OR
        |         ((a.h >> 16) & 255) = ((b.h >> 16) & 255) OR
        |         ((a.h >> 24) & 255) = ((b.h >> 24) & 255) OR
        |         ((a.h >> 32) & 255) = ((b.h >> 32) & 255) OR
        |         ((a.h >> 40) & 255) = ((b.h >> 40) & 255) OR
        |         ((a.h >> 48) & 255) = ((b.h >> 48) & 255) OR
        |         ((a.h >> 56) & 255) = ((b.h >> 56) & 255))
        |    AND list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
        |        (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) *
        |         sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) > 0.35),
        |sym AS (SELECT u, v FROM p UNION SELECT v, u FROM p),
        |reach(u, v) AS (
        |  SELECT u, v FROM sym
        |  UNION
        |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u),
        |cc AS (SELECT u AS vec_id, least(u, min(v)) AS kept_by
        |       FROM reach GROUP BY u)
        |SELECT vec_id, kept_by FROM cc WHERE vec_id <> kept_by
        |ORDER BY vec_id""".stripMargin,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS sum_qty,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(20,4))) AS DOUBLE) AS sum_price,
        |       count(*) AS n_rows
        |FROM lineitem GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_top_customers" ->
      """SELECT c_custkey, c_name,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS revenue,
        |       count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2 ORDER BY revenue DESC, c_custkey LIMIT 10""".stripMargin,

    "q_semi_anti" ->
      """SELECT (SELECT count(*) FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)) AS n_with_orders,
        |       (SELECT count(*) FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)) AS n_without_orders""".stripMargin,

    "q_events_daily" ->
      """SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) AS sum_value,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,

    "q_events_sessions" ->
      """WITH w AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events)
        |SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions, count(*) AS n_events
        |FROM w GROUP BY 1 ORDER BY user_id""".stripMargin,

    // Mirrors the Spark union+window construction EXACTLY (not DuckDB's
    // native ASOF JOIN, whose equal-ts winner is engine-arbitrary): the
    // window order (ts, tag, event_id) defines strict-before and the
    // equal-ts view tie-break identically in both engines.
    "q_events_asof" ->
      """WITH u AS (
        |  SELECT user_id, ts, 0 AS tag, CAST(NULL AS BIGINT) AS view_id,
        |         CAST(NULL AS BIGINT) AS view_us, event_id
        |  FROM events WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT user_id, ts, 1 AS tag, event_id, epoch_us(ts), event_id
        |  FROM events WHERE event_type = 'view'),
        |w AS (
        |  SELECT *,
        |    last_value(view_id IGNORE NULLS) OVER win AS lv,
        |    last_value(view_us IGNORE NULLS) OVER win AS lv_us
        |  FROM u
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, tag, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id, lv AS view_id, epoch_us(ts) - lv_us AS gap_us
        |FROM w WHERE tag = 0 AND lv IS NOT NULL
        |ORDER BY event_id""".stripMargin,

    "q_set_ops" ->
      """SELECT (SELECT count(*) FROM (SELECT c_nationkey FROM customer UNION SELECT s_nationkey FROM supplier)) AS n_union,
        |       (SELECT count(*) FROM (SELECT DISTINCT c_nationkey FROM customer INTERSECT SELECT DISTINCT s_nationkey FROM supplier)) AS n_intersect,
        |       (SELECT count(*) FROM (SELECT DISTINCT c_nationkey FROM customer EXCEPT SELECT DISTINCT s_nationkey FROM supplier)) AS n_except""".stripMargin)
}
