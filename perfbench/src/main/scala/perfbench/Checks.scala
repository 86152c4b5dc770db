package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Output checks. Query results are compared by row count and an
  * order-insensitive checksum against the figures recorded from the library
  * on the same generated tables; pipeline days against [[Weather.Day.expected]]. */
object Checks {

  /** Doubles and floats are hashed at seven significant digits, so a result
    * that differs only by floating-point summation order still matches. */
  private def normalize(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.6e", c.cast(DoubleType) + lit(0.0))
    case ArrayType(et, _) => transform(c, normalize(_, et))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e => struct(
        normalize(e.getField("key"), kt).as("k"), normalize(e.getField("value"), vt).as("v"))))
    case StructType(fs) =>
      if (fs.isEmpty) c
      else when(c.isNull, lit(null)).otherwise(
        struct(fs.toSeq.map(f => normalize(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _ => c
  }

  /** (row count, checksum) of a query result. */
  def summary(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = if (named.columns.isEmpty) lit(0L)
      else xxhash64(named.schema.fields.toSeq.map(f => normalize(col(f.name), f.dataType)): _*)
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").cast(DecimalType(38, 0))), lit(BigDecimal(0))))
      .head()
    (r.getLong(0), r.getDecimal(1).toPlainString)
  }

  final case class Expected(name: String, rows: Long, checksum: String)

  /** `name<TAB>rows<TAB>checksum` lines; `#` starts a comment. */
  def load(path: Path): Seq[Expected] =
    new String(Files.readAllBytes(path), StandardCharsets.UTF_8).split('\n').toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val f = l.split('\t'); Expected(f(0), f(1).toLong, f(2)) }

  /** Empty when the query result matches; otherwise what differed. */
  def compare(e: Expected, got: (Long, String)): Option[String] =
    if (got == ((e.rows, e.checksum))) None
    else Some(s"${e.name}: expected ${e.rows} rows / ${e.checksum}, got ${got._1} / ${got._2}")

  /** Empty when the final-table row matches the plain-Scala reference. */
  def compareDay(day: Weather.Day, got: Seq[Option[Double]]): Option[String] = {
    val want = day.expected
    val ok = want.size == got.size && want.zip(got).forall {
      case (Some(a), Some(b)) => math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(a))
      case (a, b) => a == b
    }
    if (ok) None else Some(s"${day.date}: expected $want, got $got")
  }
}
