package perfbench

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class ChecksumSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "2").getOrCreate()

  private lazy val scratch = Files.createTempDirectory("perfbench-spec")

  override def afterAll(): Unit = {
    spark.stop()
    Main.deleteTree(scratch)
  }

  private def frame: DataFrame = {
    import spark.implicits._
    Seq((1, "a", 1.5, 10L), (2, "b", -0.0, 20L), (3, null, 2.25, 30L)).toDF("k", "s", "v", "t")
      .withColumn("t", timestamp_micros(col("t")))
  }

  test("the digest ignores row order, column order and integral or floating width") {
    val base = Checksum.run(frame).digest
    assert(base.rows == 3)
    assert(Checksum.run(frame.orderBy(col("k").desc).repartition(3)).digest == base)
    val reshaped = frame.select(col("t"), col("v").cast("float").cast("double").as("v"),
      col("s"), col("k").cast("long").as("k"))
    assert(Checksum.run(reshaped).digest == base)
    assert(Checksum.run(frame.withColumn("v", when(col("k") === 2, 0.0).otherwise(col("v")))).digest == base)
  }

  test("the digest sees a change in any column, a missing row and a swapped value") {
    val base = Checksum.run(frame).digest
    assert(Checksum.run(frame.withColumn("v", col("v") + 1e-9)).digest != base)
    assert(Checksum.run(frame.withColumn("s", coalesce(col("s"), lit("")))).digest != base)
    assert(Checksum.run(frame.filter(col("k") < 3)).digest != base)
    val swapped = frame.withColumn("t", when(col("k") === 1, timestamp_micros(lit(20L)))
      .when(col("k") === 2, timestamp_micros(lit(10L))).otherwise(col("t")))
    assert(Checksum.run(swapped).digest != base)
  }

  test("rows digested in closed form match the same rows digested by Spark") {
    val schema = StructType.fromDDL("k INT, s STRING, v DOUBLE, t TIMESTAMP")
    val rows = Seq(
      new GenericInternalRow(Array[Any](1, UTF8String.fromString("a"), 1.5, 10L)),
      new GenericInternalRow(Array[Any](2, UTF8String.fromString("b"), -0.0, 20L)),
      new GenericInternalRow(Array[Any](3, null, 2.25, 30L)))
    assert(Checksum.ofRows(schema, rows.iterator) == Checksum.run(frame).digest)
  }

  test("a parquet read-back digests like the frame that wrote it") {
    val dir = scratch.resolve("readback").toString
    frame.write.parquet(dir)
    assert(Checksum.run(spark.read.parquet(dir)).digest == Checksum.run(frame).digest)
  }

  test("order checks hold for sorted results and catch unsorted ones") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i % 3, (i * 37) % 101)).toDF("g", "x")
    assert(Checksum.run(df.orderBy("x"), OrderCheck.Global("x")).ordered)
    assert(!Checksum.run(df.orderBy(col("x").desc), OrderCheck.Global("x")).ordered)
    val perRun = df.repartition(2, col("g")).sortWithinPartitions("g", "x")
    assert(Checksum.run(perRun, OrderCheck.PerRun(Seq("g"), "x")).ordered)
    val descending = df.repartition(1).sortWithinPartitions(col("g"), col("x").desc)
    assert(!Checksum.run(descending, OrderCheck.PerRun(Seq("g"), "x")).ordered)
  }

  test("the gate fails an operation whose expected value is perturbed") {
    def ctx(perturb: Boolean) = new Ctx(spark, new Tracer, 0L, scratch, scratch, perturb)
    val want = Checksum.run(frame).digest
    assert(ctx(perturb = false).frame(want)(frame).ok)
    val failed = ctx(perturb = true).frame(want)(frame)
    assert(!failed.ok && failed.note.contains("digest"))
  }
}
