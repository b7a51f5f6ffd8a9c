package etlbench

import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._

/** Canonical digest of an operation's output: `"<rows>:<hash>"`, where
  * the hash is the sum, modulo 2^64, of a SHA-256 prefix of every row
  * rendered with its columns in name order. The sum makes the digest
  * independent of row order and partitioning, so it checks values, not
  * layout. It runs the query's compiled plan (`queryExecution.toRdd`),
  * folding rows inside the tasks; only one pair per partition reaches
  * the Spark driver.
  */
object Digest {

  def of(df: DataFrame): String = {
    val cols = df.schema.fields.zipWithIndex.sortBy(_._1.name).map { case (f, i) => (i, f.dataType) }
    val parts = df.queryExecution.toRdd.mapPartitions { rows =>
      val md = MessageDigest.getInstance("SHA-256")
      var n = 0L
      var sum = 0L
      rows.foreach { r =>
        n += 1
        sum += prefix64(md.digest(render(r, cols).getBytes("UTF-8")))
      }
      Iterator((n, sum))
    }.collect()
    f"${parts.map(_._1).sum}:${parts.map(_._2).sum}%016x"
  }

  private def prefix64(b: Array[Byte]): Long =
    (0 until 8).foldLeft(0L)((acc, i) => (acc << 8) | (b(i) & 0xffL))

  private def render(r: InternalRow, cols: Array[(Int, DataType)]): String =
    cols.map { case (i, t) => value(if (r.isNullAt(i)) null else r.get(i, t), t) }.mkString("|")

  private def value(v: Any, t: DataType): String =
    if (v == null) "NULL"
    else t match {
      case BinaryType => v.asInstanceOf[Array[Byte]].map(b => f"$b%02x").mkString
      case _: DecimalType => v.asInstanceOf[Decimal].toJavaBigDecimal.toPlainString
      case ArrayType(et, _) =>
        val a = v.asInstanceOf[ArrayData]
        (0 until a.numElements()).map(i => value(if (a.isNullAt(i)) null else a.get(i, et), et))
          .mkString("[", ",", "]")
      case MapType(kt, vt, _) =>
        val m = v.asInstanceOf[MapData]
        val (ks, vs) = (m.keyArray(), m.valueArray())
        (0 until m.numElements()).map { i =>
          value(ks.get(i, kt), kt) + "=" + value(if (vs.isNullAt(i)) null else vs.get(i, vt), vt)
        }.sorted.mkString("{", ",", "}")
      case st: StructType =>
        val row = v.asInstanceOf[InternalRow]
        render(row, st.fields.zipWithIndex.sortBy(_._1.name).map { case (f, i) => (i, f.dataType) })
          .mkString("(", "", ")")
      // strings, numbers, booleans, dates (days) and timestamps (micros)
      case _ => v.toString
    }
}
