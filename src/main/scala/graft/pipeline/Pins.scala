package graft.pipeline

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel
import scala.util.control.NonFatal

/** The one owner of the relations a lifecycle call persists: runs, folds,
  * retractions, links, compares and the `StreamIngest` commits live inside
  * long-running drivers, where a thrown stage (bad batch, FS hiccup) must
  * not strand MEMORY_AND_DISK blocks for the life of the session.
  * `pins(ds)` persists `ds` and records it; `own` adopts a relation or a
  * release thunk created elsewhere (a sub-result's `release`, the
  * pre-collapse mapping); `release` frees them newest first, swallowing
  * errors, and is idempotent. [[Pins.scoped]] releases only if its body
  * throws — on success the body's result carries `pins.release` as its
  * `release` field — and [[Pins.using]] releases whenever its body ends.
  */
private[graft] final class Pins {
  private val releases = scala.collection.mutable.ArrayBuffer.empty[() => Unit]

  def apply[T](ds: Dataset[T]): Dataset[T] = {
    own(ds)
    ds.persist(StorageLevel.MEMORY_AND_DISK)
  }

  def own(ds: Dataset[_]): Unit = own(() => { ds.unpersist(); () })

  def own(release: () => Unit): Unit = releases += release

  val release: () => Unit = () => {
    val newestFirst = releases.reverse.toList
    releases.clear()
    newestFirst.foreach(r => try r() catch { case NonFatal(_) => () })
  }
}

private[graft] object Pins {
  def scoped[A](body: Pins => A): A = {
    val pins = new Pins
    try body(pins)
    catch { case e: Throwable => pins.release(); throw e }
  }

  def using[A](body: Pins => A): A = {
    val pins = new Pins
    try body(pins) finally pins.release()
  }
}
