package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digest of a result: its row count and the sum, modulo
 * 2^64, of one 64-bit hash per row. */
final case class Digest(rows: Long, sum: Long) {
  override def toString: String = f"rows=$rows sum=$sum%016x"
}

object Digest {
  val Empty: Digest = Digest(0L, 0L)
}

/** What a result's row order must satisfy, checked while it is digested. */
sealed trait OrderCheck
object OrderCheck {
  case object None extends OrderCheck
  /** `col` ascends over the whole result, partitions taken in index order. */
  final case class Global(col: String) extends OrderCheck
  /** Within a partition, `col` ascends along each run of rows that share
   * the `keys` columns (the per-archive order of a time-sorted scan). */
  final case class PerRun(keys: Seq[String], col: String) extends OrderCheck
}

/** A digested result and whether its row order held. */
final case class Checked(digest: Digest, ordered: Boolean)

/** The row hash is Spark's xxhash64 over every column in column-name
 * order, each value preceded by its null flag, so two engines that name
 * columns alike but order them differently agree. Values are hashed by
 * domain, not by type: every integral type as a long, every floating or
 * decimal type as a double (-0.0 folded into 0.0), timestamps as epoch
 * micros, dates as epoch days, strings as UTF-8 bytes. That is how a result
 * read back from DuckDB's parquet compares with Spark's own. The hash runs
 * as a projection on top of the result's own plan, so it is generated
 * code in the same stage as the rows it reads. */
object Checksum {
  private val Seed = 42L

  private def quoted(name: String): Column = col("`" + name.replace("`", "``") + "`")

  private def canon(c: Column, dt: DataType): Column = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType => c.cast(LongType)
    case DateType => unix_date(c).cast(LongType)
    case FloatType | DoubleType | _: DecimalType =>
      val d = c.cast(DoubleType)
      when(d === 0.0, lit(0.0)).otherwise(d)
    case TimestampType => unix_micros(c)
    case TimestampNTZType => unix_micros(c.cast(TimestampType))
    case _: StringType | BinaryType => c
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case st: StructType => struct(flagged(st, f => c.getField(f)): _*)
    case other => throw new IllegalArgumentException(s"no digest for type ${other.simpleString}")
  }

  private def flagged(st: StructType, field: String => Column): Seq[Column] =
    st.fields.sortBy(_.name).toSeq.flatMap(f => Seq(isnull(field(f.name)), canon(field(f.name), f.dataType)))

  /** The hash of one row of `schema`, as a column. */
  def rowHash(schema: StructType): Column = xxhash64(flagged(schema, quoted): _*)

  /** Digest of rows built in memory (closed-form expectations): the
   * same hash, evaluated by Spark's interpreted form of it. Flat schemas. */
  def ofRows(schema: StructType, rows: Iterator[InternalRow]): Digest = {
    val cols = schema.fields.zipWithIndex.sortBy(_._1.name).map { case (f, i) => (i, f.dataType) }
    var n = 0L
    var s = 0L
    rows.foreach { r =>
      var h = Seed
      cols.foreach { case (i, dt) =>
        h = XxHash64Function.hash(r.isNullAt(i), BooleanType, h)
        if (!r.isNullAt(i)) h = dt match {
          case IntegerType => XxHash64Function.hash(r.getInt(i).toLong, LongType, h)
          case LongType | TimestampType => XxHash64Function.hash(r.getLong(i), LongType, h)
          case FloatType => XxHash64Function.hash(folded(r.getFloat(i).toDouble), DoubleType, h)
          case DoubleType => XxHash64Function.hash(folded(r.getDouble(i)), DoubleType, h)
          case _: StringType => XxHash64Function.hash(r.getUTF8String(i), StringType, h)
          case other => throw new IllegalArgumentException(s"no expected digest for ${other.simpleString}")
        }
      }
      n += 1
      s += h
    }
    Digest(n, s)
  }

  private def folded(d: Double): Double = if (d == 0.0) 0.0 else d

  /** `df` with three columns: the row hash, the order column and a run
   * key (both 0 without an order check). Planning this frame plans `df`. */
  def project(df: DataFrame, order: OrderCheck): DataFrame = {
    val schema = df.schema
    def key(c: String) = canon(quoted(c), schema(c).dataType)
    val (orderCol, runKey) = order match {
      case OrderCheck.None => (lit(0L), lit(0L))
      case OrderCheck.Global(c) => (key(c), lit(0L))
      case OrderCheck.PerRun(ks, c) => (key(c), xxhash64(ks.map(quoted): _*))
    }
    df.select(rowHash(schema).as("h"), orderCol.as("o"), runKey.as("k"))
  }

  private final case class Part(
      index: Int, rows: Long, sum: Long, ordered: Boolean, first: Long, last: Long)

  /** Runs a [[project]]ed frame through its own physical plan, digesting
   * each partition where it is produced. */
  def collect(projected: DataFrame, order: OrderCheck): Checked = {
    val parts = projected.queryExecution.toRdd.mapPartitionsWithIndex { (idx, it) =>
      var n = 0L
      var s = 0L
      var ok = true
      var first = 0L
      var prev = Long.MinValue
      var prevRun = 0L
      while (it.hasNext) {
        val r = it.next()
        s += r.getLong(0)
        val v = r.getLong(1)
        val run = r.getLong(2)
        if (n == 0) first = v
        else if (run == prevRun && v < prev) ok = false
        prev = v
        prevRun = run
        n += 1
      }
      Iterator(Part(idx, n, s, ok, first, prev))
    }.collect().sortBy(_.index)
    val across = order match {
      case OrderCheck.Global(_) =>
        parts.filter(_.rows > 0).sliding(2).forall(p => p.length < 2 || p(0).last <= p(1).first)
      case _ => true
    }
    Checked(Digest(parts.map(_.rows).sum, parts.map(_.sum).sum), parts.forall(_.ordered) && across)
  }

  def run(df: DataFrame, order: OrderCheck = OrderCheck.None): Checked =
    collect(project(df, order), order)
}
