package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Order-sensitive digest of a fully collected result: columns in
  * name order (the oracle compare also sorts columns by name), every
  * value encoded exactly by type with a length prefix, so two outputs
  * share a fingerprint only if every row and column is identical. */
object Fingerprint {
  def apply(schema: StructType, rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val order = schema.fields.zipWithIndex.sortBy(_._1.name).map(_._2)
    def put(tag: Char, s: String): Unit = {
      val b = s.getBytes("UTF-8")
      md.update(s"$tag${b.length}:".getBytes("UTF-8"))
      md.update(b)
    }
    def value(v: Any, t: DataType): Unit = (v, t) match {
      case (null, _) => put('N', "")
      case (d: Double, _) => put('D', java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d)))
      case (f: Float, _) => put('F', Integer.toHexString(java.lang.Float.floatToIntBits(f)))
      case (ts: java.sql.Timestamp, _) =>
        put('T', s"${Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000}")
      case (ts: java.time.Instant, _) => put('T', ts.toString)
      case (b: Array[Byte], _) => put('B', b.map("%02x".format(_)).mkString)
      case (r: Row, st: StructType) =>
        put('S', st.length.toString)
        st.fields.indices.foreach(i => value(r.get(i), st.fields(i).dataType))
      case (s: scala.collection.Seq[_], at: ArrayType) =>
        put('A', s.size.toString)
        s.foreach(value(_, at.elementType))
      case (m: scala.collection.Map[_, _], mt: MapType) =>
        put('M', m.size.toString)
        m.toSeq.map { case (k, x) => (k.toString, k, x) }.sortBy(_._1)
          .foreach { case (_, k, x) => value(k, mt.keyType); value(x, mt.valueType) }
      case (other, _) => put('V', other.toString)
    }
    rows.foreach { r =>
      md.update("|".getBytes("UTF-8"))
      order.foreach(i => value(r.get(i), schema.fields(i).dataType))
    }
    md.digest().take(12).map("%02x".format(_)).mkString
  }
}
