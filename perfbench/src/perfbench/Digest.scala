package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digest of a query result: row count, column list,
  * and the sum of a 64-bit hash of each row's canonical text. Doubles are
  * rendered with 9 significant digits so that summation-order drift in
  * the last bits does not change the digest.
  */
final case class Digest(rows: Long, cols: String, hash: String)

object Digest {

  private val Null = lit("\u0000")

  private def canon(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType =>
      val d = c.cast(DoubleType)
      when(d === 0.0, lit("0")).otherwise(format_string("%.8e", d))
    case ArrayType(et, _) => array_join(transform(c, x => coalesce(canon(x, et), Null)), "\u0002")
    case st: StructType =>
      concat_ws("\u0003", st.fields.toSeq.map(f => coalesce(canon(c.getField(f.name), f.dataType), Null)): _*)
    case MapType(kt, vt, _) =>
      array_join(array_sort(transform(map_entries(c), e =>
        concat_ws("\u0004", coalesce(canon(e.getField("key"), kt), Null),
          coalesce(canon(e.getField("value"), vt), Null)))), "\u0002")
    case BinaryType => hex(c)
    case _ => c.cast(StringType)
  }

  def of(df: DataFrame): Digest = {
    // Columns are taken in name order, so a reordering is not a difference.
    val fields = df.schema.fields.toSeq
    val positional = df.toDF(fields.indices.map(i => s"c$i"): _*)
    val byName = fields.zipWithIndex.sortBy(_._1.name)
    val row = concat_ws("\u0001", byName.map { case (f, i) =>
      coalesce(canon(col(s"c$i"), f.dataType), Null)
    }: _*)
    val r = positional.agg(count(lit(1)), sum(xxhash64(row).cast(DecimalType(38, 0)))).head()
    val hash = if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString
    Digest(r.getLong(0), byName.map(_._1.name).mkString(","), hash)
  }
}
