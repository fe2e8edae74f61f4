package graft.pipeline

import graft.model.DocSig
import graft.text.Hashing
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, struct}
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The on-disk format of one corpus-state generation — the ONLY code that
  * knows its stage names and key derivations. [[Pipeline.run]]'s
  * checkpoint tail, [[Incremental.fromCheckpoint]] and `StreamIngest`'s
  * folds, retractions and chain reads all go through here.
  *
  * A FULL generation holds the [[ParquetTableIO]] stages `signatures`
  * ([[DocSig]] rows nested under `sig`, manifest key = the generation key
  * `k`), `bands` ([[Blocking.bandRowsDF]] rows, `hash64(k, 7)`) and
  * `assignments` (`(doc_id, cluster_id)` for every doc, `hash64(k, 5)`),
  * written LAST: the three paired keys are the commit marker. A DELTA
  * generation holds only its batch's rows as `signatures_delta` (`k`) +
  * `bands_delta` (`hash64(k, 7)`) + `tombstones_delta` (`hash64(k, 9)`:
  * ids whose ANCESTOR rows are dead, empty for folds), the FULL
  * `assignments` table, and a `PARENT` file naming the previous
  * generation; [[read]] refuses it rather than return a partial corpus.
  *
  * Each writer first scrubs the other layout's leftovers from its dir: a
  * crashed earlier attempt (e.g. under a different compaction cadence)
  * could have left stages whose deterministic keys would pair with this
  * write and make a partial dir read as consistent.
  */
object Generation {

  /** Corpus state: signatures, per-doc assignments, the band relation, the
    * generation key (the signature stage's manifest key — the root later
    * generation keys chain off) and the doc count. Assignments are full in
    * every generation, so `docs` is the row count their manifest records:
    * exact, and read without a Spark job.
    */
  final case class State(sigs: Dataset[DocSig], assign: DataFrame,
                         bands: DataFrame, key: Long, docs: Long)

  private val SigStage = "signatures"
  private val BandStage = "bands"
  private val AssignStage = "assignments"
  private val SigDelta = "signatures_delta"
  private val BandDelta = "bands_delta"
  private val TombDelta = "tombstones_delta"
  private val ParentFile = "PARENT"

  private def assignKey(key: Long): Long = Hashing.hash64(key, 5L)
  private def bandsKey(key: Long): Long = Hashing.hash64(key, 7L)
  private def tombKey(key: Long): Long = Hashing.hash64(key, 9L)

  /** The full generation at `dir`. Consistency is VERIFIED before anything
    * is read: all three manifests must exist and the band and assignment
    * keys must be `hash64(signature key, 7)` and `hash64(signature key, 5)`.
    * A dir where a killed run left stages from different generations
    * (day-N signatures beside day-N−1 assignments) would otherwise fold
    * silently into wrong clusters: linkage matches against the newer
    * signatures inner-join the stale assignment table and simply drop.
    */
  def read(spark: SparkSession, dir: String): State = {
    import spark.implicits._
    val io = new ParquetTableIO(dir)
    val (sk, bk, ak) =
      (io.completedKey(SigStage), io.completedKey(BandStage), io.completedKey(AssignStage))
    val key = sk.filter(k => bk.contains(bandsKey(k)) && ak.contains(assignKey(k)))
      .getOrElse(throw new IllegalStateException(
        s"checkpoint $dir is not a consistent generation: signatures key=$sk " +
          s"bands key=$bk assignments key=$ak — stages come from different " +
          "runs (or a run died mid-write); re-run the pipeline or fold from " +
          "an intact generation dir"))
    State(io.read(spark, SigStage).select("sig.*").as[DocSig],
      io.read(spark, AssignStage).select("doc_id", "cluster_id"),
      io.read(spark, BandStage), key, docCount(io, dir))
  }

  private def docCount(io: ParquetTableIO, dir: String): Long =
    io.completedRows(AssignStage).getOrElse(throw new IllegalStateException(
      s"generation $dir: the $AssignStage manifest records no row count"))

  /** Write a full generation to `dir` — signatures, then the band relation
    * ([[Blocking.bandRowsDF]] rows of `sigs`), then assignments (the commit
    * marker) — after scrubbing any stale `PARENT` and delta stages. After a
    * fold, `sigs` is the previous signatures ∪ the fold's `batchSigs` and
    * `assign` is `Incremental.applyRemap(oldAssign, remapped) ∪
    * assignments`; after a retraction, `Incremental.applyRetractSigs` and
    * the result's assignments. `key` is any value unique per generation, e.g.
    * `Hashing.hash64(previousKey, batchDigest)`.
    */
  def write(spark: SparkSession, dir: String, sigs: Dataset[DocSig],
            assign: DataFrame, key: Long, bands: DataFrame): Unit = {
    Files.deleteIfExists(Paths.get(dir, ParentFile))
    Seq(SigDelta, BandDelta, TombDelta).foreach(st => deleteRecursively(Paths.get(dir, st)))
    val io = new ParquetTableIO(dir)
    io.write(SigStage, sigs.toDF().select(struct(col("*")).as("sig")), key)
    io.write(BandStage, bands, bandsKey(key))
    io.write(AssignStage, assign.select("doc_id", "cluster_id"), assignKey(key))
  }

  /** [[Pipeline.run]]'s checkpointed tail: the band relation, then the
    * expanded assignment as the commit marker, each through
    * [[Checkpoints.stage]] under the run's resume key — so the completed
    * run dir is a full generation [[read]] accepts, and a resumed run
    * skips both. Returns the assignment stage as read back.
    */
  private[graft] def checkpointTail(spark: SparkSession, io: TableIO, key: Long)(
      bands: => DataFrame, assign: => DataFrame): DataFrame = {
    Checkpoints.stage(spark, io, BandStage, bandsKey(key))(bands)
    Checkpoints.stage(spark, io, AssignStage, assignKey(key))(assign)
  }

  /** Write a delta generation to `dir`: the batch's signature and band
    * rows, the tombstoned ids, the full assignment table, and the `PARENT`
    * link — after scrubbing stale full `signatures`/`bands` stages. Every
    * delta writes a tombstone stage (folds write an EMPTY one): the chain
    * reader REQUIRES it, so a retraction delta that lost its tombstones
    * reads as corruption, never as a harmless fold that silently
    * resurrects retracted docs.
    */
  private[graft] def writeDelta(dir: String, sigs: Dataset[DocSig],
      bands: DataFrame, tombstones: DataFrame, assign: DataFrame, key: Long,
      parent: String): Unit = {
    Seq(SigStage, BandStage).foreach(st => deleteRecursively(Paths.get(dir, st)))
    val io = new ParquetTableIO(dir)
    io.write(SigDelta, sigs.toDF().select(struct(col("*")).as("sig")), key)
    io.write(BandDelta, bands, bandsKey(key))
    io.write(TombDelta, tombstones.select("doc_id"), tombKey(key))
    io.write(AssignStage, assign.select("doc_id", "cluster_id"), assignKey(key))
    Files.writeString(Paths.get(dir, ParentFile), parent)
  }

  /** The generation `gen` under `stateDir` links to, when it is a delta. */
  private[graft] def parentOf(stateDir: String, gen: String): Option[String] = {
    val p = Paths.get(stateDir, gen, ParentFile)
    if (Files.exists(p)) Some(Files.readString(p).trim) else None
  }

  /** Generation chain, current-first, ending at the root full generation.
    * Tail-recursive: chain length is compaction-bounded in normal
    * operation, but the walk must not assume it.
    */
  private[graft] def chain(stateDir: String, gen: String): List[String] = {
    @annotation.tailrec
    def loop(g: String, acc: List[String], seen: Set[String]): List[String] = {
      if (seen(g)) // corrupted PARENT cycle: fail loudly, never spin
        throw new IllegalStateException(
          s"generation chain cycle at $g in $stateDir (PARENT links: ${acc.reverse.mkString(" -> ")})")
      parentOf(stateDir, g) match {
        case Some(p) => loop(p, g :: acc, seen + g)
        case None => (g :: acc).reverse
      }
    }
    loop(gen, Nil, Set.empty)
  }

  /** Corpus state at the head of `chain` (as [[chain]] returns it): its
    * root is a full generation [[read]] validates, every later part a
    * delta whose stage keys are validated against the same pairing rule,
    * so a dir mixing stages from different write attempts is rejected,
    * not read. `key` is the head's signature key; `assign` the head's.
    *
    * State is folded ROOT-FIRST: a delta's tombstone ids (written by
    * retraction deltas) are subtracted from everything accumulated so far
    * — its ancestors — BEFORE the delta's own rows union in, so a
    * tombstoned id re-inserted by a LATER fold (the CDC replace path)
    * survives. Fold deltas carry no tombstones and reduce to a plain
    * union.
    */
  private[graft] def readChain(spark: SparkSession, stateDir: String,
      chain: List[String]): State = {
    import spark.implicits._
    val root = read(spark, s"$stateDir/${chain.last}")
    val deltas = chain.init.map(g => new Delta(spark, s"$stateDir/$g")) // head-first
    val (sigs, bands) = deltas.foldRight((root.sigs.toDF(), root.bands)) {
      case (d, (s, b)) =>
        val t = d.tombstones
        (s.join(t, Seq("doc_id"), "left_anti").unionByName(d.sigs),
          b.join(t, Seq("doc_id"), "left_anti").unionByName(d.bands))
    }
    deltas.headOption.fold(root)(h => State(sigs.as[DocSig], h.assign, bands, h.key, h.docs))
  }

  /** One delta generation's stages, validated on construction. Only the
    * chain head's assignments are read: a non-head part skips the parquet
    * open (driver-side listing + footer reads of a corpus-sized table).
    */
  private final class Delta(spark: SparkSession, dir: String) {
    private val io = new ParquetTableIO(dir)
    val key: Long = io.completedKey(SigDelta).getOrElse(
      throw new IllegalStateException(s"delta generation $dir lacks $SigDelta"))
    if (!io.completedKey(AssignStage).contains(assignKey(key)) ||
        !io.completedKey(BandDelta).contains(bandsKey(key)))
      throw new IllegalStateException(
        s"delta generation $dir is not a consistent write (mixed stage keys)")
    io.completedKey(TombDelta) match {
      case Some(tk) if tk == tombKey(key) =>
      case other => throw new IllegalStateException(
        s"delta generation $dir lacks a consistent $TombDelta stage (key=$other) — " +
          "a retraction delta that lost its tombstones must never be read as a fold")
    }
    def sigs: DataFrame = io.read(spark, SigDelta).select("sig.*")
    def bands: DataFrame = io.read(spark, BandDelta)
    def tombstones: DataFrame = io.read(spark, TombDelta)
    def assign: DataFrame = io.read(spark, AssignStage).select("doc_id", "cluster_id")
    def docs: Long = docCount(io, dir)
  }

  private[graft] def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      val paths = try walk.iterator().asScala.toSeq.reverse finally walk.close()
      paths.foreach(Files.delete)
    }
}
