package graft.sources

import java.nio.file.Files
import java.time.{Instant, LocalDate}

import graft.SparkSpec
import org.apache.spark.TestJobs
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** The driver-side sidecar codec of [[Snapshots]]: what it writes is the
  * file Spark's writer would produce, what it reads is what Spark's
  * reader would return, and anything it does not take stays on the
  * Spark path.
  */
class SidecarCodecSpec extends SparkSpec {

  private val binary8k = Array.tabulate[Byte](8192)(i => (i * 31).toByte)

  /** One admitted type per row: a value the codec must carry exactly. */
  private val cases: Seq[(DataType, Any)] = Seq(
    BooleanType -> true,
    ByteType -> (-7).toByte,
    ShortType -> 1234.toShort,
    IntegerType -> Int.MinValue,
    LongType -> Long.MaxValue,
    FloatType -> 1.5f,
    DoubleType -> -2.25e-300,
    StringType -> "grüße ü",
    BinaryType -> binary8k,
    DateType -> LocalDate.of(1200, 3, 1),
    TimestampType -> Instant.parse("1300-12-31T23:59:59.999999Z"))

  /** Session confs the round trip must hold under. */
  private val confs: Seq[Seq[(String, String)]] = Seq(
    Nil,
    Seq("spark.sql.datetime.java8API.enabled" -> "true"),
    Seq("spark.sql.parquet.datetimeRebaseModeInWrite" -> "LEGACY",
      "spark.sql.parquet.int96RebaseModeInWrite" -> "LEGACY"))

  private def withConfs[T](kvs: Seq[(String, String)])(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(p)) => spark.conf.set(k, p)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** A driver-resident frame: an id, then one value row and one null row. */
  private def frame(t: DataType, value: Any): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("x", t)))
    spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, value), Row(2L, null)), schema)
  }

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.getLong(0))

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft-codec-$name").toString

  test("driver-written sidecars read back identically through Spark and the driver reader") {
    for (kvs <- confs; (t, value) <- cases) withConfs(kvs) {
      val what = s"$t under ${kvs.mkString(", ")}"
      val df = frame(t, value)
      val want = sorted(df)
      val rows = Snapshots.localWritableRows(df)
      assert(rows.isDefined, what)
      val dir = tmp("local")
      assert(TestJobs.count(spark.sparkContext)(
        Snapshots.writeSidecar(spark, df, dir)) == 0, what)
      val bySpark = spark.read.parquet(dir)
      assert(bySpark.schema == df.schema, what)
      assert(sorted(bySpark) == want, what)
      val local = Snapshots.readSidecarRows(spark, dir)
      assert(local.map(_.schema).contains(df.schema), what)
      assert(sorted(local.get.toDF(spark)) == want, what)
    }
  }

  test("files Spark's distributed writer produced read back identically through the driver reader") {
    for (kvs <- confs; (t, value) <- cases) withConfs(kvs) {
      val what = s"$t under ${kvs.mkString(", ")}"
      val dir = tmp("spark")
      frame(t, value).repartition(2).write.mode("overwrite").parquet(dir)
      val bySpark = spark.read.parquet(dir)
      val local = Snapshots.readSidecarRows(spark, dir)
      assert(local.map(_.schema).contains(bySpark.schema), what)
      assert(sorted(local.get.toDF(spark)) == sorted(bySpark), what)
    }
  }

  test("nested and over-cap sidecars keep the Spark path with the same rows") {
    import spark.implicits._
    val nested = Seq((1L, Seq(1, 2)), (2L, Seq.empty[Int])).toDF("id", "xs")
    assert(Snapshots.localPlanRows(nested).isDefined)
    assert(Snapshots.localWritableRows(nested).isEmpty)
    val nestedDir = tmp("nested")
    assert(TestJobs.count(spark.sparkContext)(
      Snapshots.writeSidecar(spark, nested, nestedDir)) > 0)
    assert(Snapshots.readSidecarRows(spark, nestedDir).isEmpty)
    assert(sorted(Snapshots.readSidecar(spark, nestedDir)) == sorted(nested))

    val flatDir = tmp("flat")
    val flat = frame(StringType, "ü")
    Snapshots.writeSidecar(spark, flat, flatDir)
    assert(Snapshots.readSidecarRows(spark, flatDir).isDefined)
    withConfs(Seq(Snapshots.LocalSidecarBytesConf -> "16")) {
      assert(Snapshots.readSidecarRows(spark, flatDir).isEmpty)
      assert(sorted(Snapshots.readSidecar(spark, flatDir)) == sorted(flat))
    }

    // a renamed table's column map read by Spark under the cap decodes
    // to the same logical names as the driver-read one
    val table = tmp("renamed")
    Snapshots.commit(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), table)
    Snapshots.renameColumn(spark, table, "v", "w")
    val want = sorted(Snapshots.read(spark, table))
    withConfs(Seq(Snapshots.LocalSidecarBytesConf -> "16")) {
      val capped = Snapshots.read(spark, table)
      assert(capped.columns.toSeq == Seq("id", "w"))
      assert(sorted(capped) == want)
    }
    assert(want == Seq(Row(1L, "a"), Row(2L, "b")))
  }

  test("a sidecar read driver-side counts its exact row bytes") {
    val dir = tmp("bytes")
    val df = frame(BinaryType, binary8k)
    Snapshots.writeSidecar(spark, df, dir)
    val rows = Snapshots.readSidecarRows(spark, dir).get
    // one 8 KB value, one null row: the bound holds the bytes once
    assert(rows.bytes > binary8k.length && rows.bytes < binary8k.length + 256L)
  }
}
