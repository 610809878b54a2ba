package graft

import java.nio.ByteBuffer
import java.security.MessageDigest

/** Bit-exact fingerprints of trained models. A pin changes only when
  * the training arithmetic changes: re-record it then, never to absorb
  * a refactor that was meant to keep the floats. */
object TrainPins {

  /** sha256 over `floatToRawIntBits` of every matrix, row by row in
    * row order, then `doubleToRawLongBits` of every loss. */
  def sha(mats: Seq[Array[Array[Float]]], losses: Seq[Array[Double]]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val buf = ByteBuffer.allocate(8)
    for (m <- mats; row <- m; x <- row) {
      buf.clear(); buf.putInt(java.lang.Float.floatToRawIntBits(x))
      md.update(buf.array(), 0, 4)
    }
    for (l <- losses; x <- l) {
      buf.clear(); buf.putLong(java.lang.Double.doubleToRawLongBits(x))
      md.update(buf.array(), 0, 8)
    }
    hex(md.digest())
  }

  /** sha256 over the rows sorted as text, each cell written exactly:
    * doubles and floats as raw bits, arrays cell by cell. */
  def rowsSha(rows: Seq[org.apache.spark.sql.Row]): String = {
    def cell(x: Any): String = x match {
      case d: Double => java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))
      case f: Float => Integer.toHexString(java.lang.Float.floatToRawIntBits(f))
      case xs: scala.collection.Seq[_] => xs.map(cell).mkString("[", ",", "]")
      case null => "null"
      case o => o.toString
    }
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(_.toSeq.map(cell).mkString("|")).sorted
      .foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    hex(md.digest())
  }

  private def hex(bytes: Array[Byte]): String = bytes.map(b => f"${b & 0xff}%02x").mkString

  /** Raw bits of an eval row's theta, f1, precision, recall and mrr. */
  def evalBits(row: org.apache.spark.sql.Row): Seq[Long] =
    bits(Seq("theta", "f1", "precision", "recall", "mrr")
      .map(c => row.getAs[Double](c)): _*)

  def bits(xs: Double*): Seq[Long] = xs.map(java.lang.Double.doubleToRawLongBits)
}
