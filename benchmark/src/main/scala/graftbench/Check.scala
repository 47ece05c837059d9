package graftbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A wrong answer: the op counts as failed. */
final class Mismatch(msg: String) extends RuntimeException(msg)

/** Answer comparison that does not depend on how either side types a
  * value: graft returns uint64 as decimal(20,0) and union values as its
  * variant struct, the generated rows hold plain longs, and both render
  * the same text here.
  */
object Check {
  /** Engine-internal columns that carry no user-visible value. */
  private val hidden = Set(graft.operators.Het.typeTag)

  private def isVariant(st: StructType): Boolean =
    st.fieldNames.contains("t") && st.fieldNames.contains("z") && st.fieldNames.contains("k")

  /** Leaf values of a row as text, depth first, nulls as `-`. A variant
    * struct renders as its Zed text (`z`), which is how it prints.
    */
  def leaves(v: Any, dt: DataType): Seq[String] = (v, dt) match {
    case (null, _) => Seq("-")
    case (r: Row, st: StructType) if isVariant(st) =>
      Seq(Option(r.getAs[String]("z")).getOrElse(String.valueOf(r.getAs[Any]("n"))))
    case (r: Row, st: StructType) =>
      st.fields.toSeq.zipWithIndex.filterNot(f => hidden(f._1.name))
        .flatMap { case (f, i) => leaves(r.get(i), f.dataType) }
    case (xs: scala.collection.Seq[_], ArrayType(et, _)) =>
      Seq(xs.flatMap(leaves(_, et)).mkString("[", ",", "]"))
    case (d: java.math.BigDecimal, _) => Seq(d.stripTrailingZeros.toPlainString)
    case (d: Double, _) if d == math.rint(d) && math.abs(d) < 1e15 => Seq(d.toLong.toString)
    case (x, _) => Seq(x.toString)
  }

  def line(r: Row): String = leaves(r, r.schema).mkString("|")

  /** Rows as text lines; sorted unless the query fixes the order. */
  def lines(rows: Seq[Row], ordered: Boolean): Seq[String] = {
    val ls = rows.map(line)
    if (ordered) ls else ls.sorted
  }

  def expectLines(what: String, got: Seq[String], want: Seq[String]): Unit =
    if (got != want) {
      val diff = got.zipAll(want, "<none>", "<none>").find(p => p._1 != p._2)
      throw new Mismatch(s"$what: ${got.length} rows vs ${want.length} expected; first difference $diff")
    }

  def expectEq[A](what: String, got: A, want: A): Unit =
    if (got != want) throw new Mismatch(s"$what: got $got, expected $want")

  /** Order-insensitive digest of a large result, computed by Spark: the
    * sum of a 64-bit hash of each row's leaf columns. Integers of any
    * width (and decimal(20,0)) hash as longs, times as epoch microseconds.
    */
  def digest(df: DataFrame, leafCols: Seq[String]): (Long, BigDecimal) = {
    val types = leafCols.map(c => df.select(col(c)).schema.head.dataType)
    val norm = leafCols.zip(types).map {
      case (c, TimestampType) => unix_micros(col(c))
      case (c, _: DecimalType | IntegerType | ShortType | ByteType) => col(c).cast(LongType)
      case (c, _) => col(c)
    }
    val r = df.agg(count(lit(1)), sum(xxhash64(norm: _*).cast(DecimalType(38, 0)))).head()
    (r.getLong(0), BigDecimal(Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO)))
  }
}
