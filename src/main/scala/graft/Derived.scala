package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Dataset, SparkSession}

/** The one store of artifacts derived from a dataset's source tables:
  * base-table plans, row counts, trained models, tokenizer rules and
  * on-disk layout paths. A derived artifact is a property of the
  * DATASET, not of the query that first needs it, so it is computed
  * once per dataset generation and shared by every later caller.
  *
  * Keying. An entry is keyed on (kind, absolute dataset dir, source
  * table, params) and remembers the source table's [[signature]]. When
  * the signature changes, the next `get` recomputes the entry and
  * replaces it, so one generation per key stays resident; a replaced
  * DataFrame is unpersisted. The absolute path stays in the key on
  * purpose: a new directory holding the same files is a new dataset
  * (newly landed data must miss, not hit a twin). DataFrame-valued
  * entries carry their session in `params`.
  *
  * Locking. Each key owns one cell. The map's lock only picks the cell;
  * the compute runs under the cell's own monitor, outside the map. A
  * compute may therefore `get` other keys (the vocabulary reads
  * [[Tables.t]], residual PQ trains on the IVF quantizer, the lakehouse
  * ingests the Avro landing), and concurrent callers of one key wait for
  * a single compute. A compute that throws leaves the cell empty, and
  * the next caller computes again.
  *
  * Oracles. [[latest]] returns the value most recently served for
  * (kind, params) from any dataset. Oracle SQL that embeds trained
  * literals reads it, so it is complete only after the queries that
  * train those models ran (graft.Verify and the benchmark run queries
  * first and read `oracleSql` after).
  *
  * Attribution. Every `get` notes `derived.<kind>` = `train` (this
  * call computed the entry) or `hit` in [[Attrib]].
  */
object Derived {
  private final class Cell(val sig: Long) {
    @volatile private var value: Option[Any] = None
    def peek: Option[Any] = value
    /** The value and whether this call computed it. */
    def force(compute: Long => Any): (Any, Boolean) = synchronized {
      value match {
        case Some(v) => (v, false)
        case None =>
          val v = compute(sig)
          value = Some(v)
          (v, true)
      }
    }
  }

  private val cells =
    new ConcurrentHashMap[(String, String, String, Seq[Any]), Cell]()
  private val served = new ConcurrentHashMap[(String, Seq[Any]), Any]()

  /** The `kind` artifact of `dir` (params distinguish variants), computed
    * by `compute(signature)` when missing or when `table` changed. */
  def get[V](s: SparkSession, kind: String, dir: String, table: String,
      params: Any*)(compute: Long => V): V = {
    val abs = absolute(dir)
    val sig = signature(s, s"$abs/$table.parquet")
    var replaced: Cell = null
    val cell = cells.compute((kind, abs, table, params), (_, old) =>
      if (old != null && old.sig == sig) old
      else { replaced = old; new Cell(sig) })
    if (replaced != null) release(replaced)
    val (v, trained) = cell.force(compute)
    Attrib.note(s"derived.$kind", if (trained) "train" else "hit")
    served.put((kind, params), v)
    v.asInstanceOf[V]
  }

  /** The value most recently served for (kind, params), from any dir. */
  def latest[V](kind: String, params: Any*): Option[V] =
    Option(served.get((kind, params))).map(_.asInstanceOf[V])

  /** Drop every entry of `kind`; the next `get` recomputes. [[latest]]
    * still returns what was last served. */
  def clear(kind: String): Unit =
    cells.keySet.asScala.filter(_._1 == kind)
      .foreach(k => Option(cells.remove(k)).foreach(release))

  /** Number of resident entries of `kind`. */
  private[graft] def entries(kind: String): Int =
    cells.keySet.asScala.count(_._1 == kind)

  /** Change-detection signature of a source path: (path, length, mtime)
    * of every file under it, folded in path order, listed through the
    * Hadoop FileSystem of the session's configuration, so object-store
    * paths invalidate like local ones. 0 for a missing path. */
  def signature(s: SparkSession, path: String): Long = {
    val p = new Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    def files(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(files)
      else Seq(st)
    try files(fs.getFileStatus(p)).sortBy(_.getPath.toString)
      .foldLeft(17L) { (acc, f) =>
        ((acc * 31 + f.getPath.toString.hashCode) * 31 + f.getLen) * 31 +
          f.getModificationTime
      }
    catch { case _: java.io.FileNotFoundException => 0L }
  }

  /** `dir` with a scheme as given, a local path made absolute. */
  private def absolute(dir: String): String =
    if (new Path(dir).toUri.getScheme != null) dir
    else java.nio.file.Paths.get(dir).toAbsolutePath.toString

  private def release(c: Cell): Unit = c.peek.foreach {
    case ds: Dataset[_] => ds.unpersist()
    case _ => ()
  }
}
