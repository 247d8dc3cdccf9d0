package perfbench

import org.apache.spark.sql.Row

/** Independent model of a keyed lineitem table, folded in plain Scala from
  * the staged batches as read back by plain Spark. It never calls
  * `graft.lake`: it re-derives the table semantics the benchmark checks
  * — precombine upsert (the higher `l_ts` wins; on a tie the later commit
  * wins), keyed delete, and the change feed's per-key classification —
  * and keeps every version so time travel and change windows can be
  * answered for any commit. */
final class KeyedModel {
  import KeyedModel._

  private var cur: Map[Key, V] = Map.empty
  private val versions = scala.collection.mutable.ArrayBuffer.empty[Map[Key, V]]
  /** typed change rows each commit adds (insert + 2 × update + delete) */
  private val typedRows = scala.collection.mutable.ArrayBuffer.empty[Long]
  /** change rows of each commit without pre-images */
  private val plainRows = scala.collection.mutable.ArrayBuffer.empty[Long]

  def head: Long = versions.size - 1L
  def at(commit: Long): Map[Key, V] = versions(commit.toInt)
  def latest: Map[Key, V] = cur

  private def publish(ins: Long, upd: Long, del: Long): Unit = {
    versions += cur
    typedRows += ins + 2 * upd + del
    plainRows += ins + upd + del
  }

  def bulk(rows: Iterable[Row]): Unit = {
    val c = versions.size.toLong
    cur = rows.map(r => keyOf(r) -> V(r, c)).toMap
    publish(cur.size, 0, 0)
  }

  def upsert(rows: Iterable[Row]): Unit = {
    val c = versions.size.toLong
    var ins = 0L; var upd = 0L
    rows.foreach { r =>
      val k = keyOf(r)
      val v = V(r, c)
      cur.get(k) match {
        case None => cur += k -> v; ins += 1
        case Some(old) if v.ts >= old.ts => cur += k -> v; upd += 1
        case _ => // stale: the stored row keeps its version
      }
    }
    publish(ins, upd, 0)
  }

  def delete(keys: Iterable[Key]): Unit = {
    var del = 0L
    keys.foreach(k => if (cur.contains(k)) { cur -= k; del += 1 })
    publish(0, 0, del)
  }

  /** rows of a change pull of exactly commit `c` (no pre-images) */
  def changeRows(c: Long): Long = plainRows(c.toInt)

  /** typed change rows of commits from..to inclusive (a streaming tail) */
  def tailRows(from: Long, to: Long): Long =
    (from to to).map(c => typedRows(c.toInt)).sum

  /** change-type counts of the window (a, b] with pre-images */
  def changesWithPre(a: Long, b: Long): Map[String, Long] = {
    val va = at(a); val vb = at(b)
    var ins = 0L; var upd = 0L; var del = 0L
    vb.foreach { case (k, v) =>
      va.get(k) match {
        case None => ins += 1
        case Some(_) if v.commit > a => upd += 1
        case _ =>
      }
    }
    va.keysIterator.foreach(k => if (!vb.contains(k)) del += 1)
    Map("insert" -> ins, "update_preimage" -> upd, "update_postimage" -> upd,
      "delete" -> del).filter(_._2 > 0)
  }
}

object KeyedModel {
  type Key = (Long, Int)

  /** one stored row: its canonical text, precombine value, the commit that
    * wrote it, and the fields the checked aggregates read */
  final case class V(text: String, ts: Long, commit: Long, qty: Double,
      month: String, flag: String, status: String)

  object V {
    def apply(r: Row, commit: Long): V = V(canon(r), r.getLong(11), commit,
      r.getDouble(4), r.getString(12), r.getString(7), r.getString(8))
  }

  def keyOf(r: Row): Key = (r.getLong(0), r.getInt(1))

  /** canonical text of a row in [[Gen.LineitemSchema]] column order */
  def canon(r: Row): String = r.toSeq.mkString("\u0001")

  /** order-independent hash of a multiset of rows */
  def hash(texts: Iterator[String]): Long =
    texts.foldLeft(0L)((h, t) => h + scala.util.hashing.MurmurHash3.stringHash(t).toLong * 0x9E3779B97F4A7C15L)
}
