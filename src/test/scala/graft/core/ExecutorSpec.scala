package graft.core

import graft.SparkSpec
import graft.sources.CsvSource
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import java.nio.file.Files

/** The reference's 9 end-to-end execution tests ported as golden specs
  * (/root/reference/src/query_engine.rs:134-336). Result ordering is an
  * index artifact in the reference (SURVEY.md §7.4.1); our engine defines
  * results as unordered sets, so assertions compare sets. The no-filter
  * path additionally asserts input order is preserved (single small file →
  * one partition → stable order).
  */
class ExecutorSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def loadCsv(content: String): DataFrame = {
    val dir = Files.createTempDirectory("graft-exec")
    val f = dir.resolve("t.csv")
    Files.writeString(f, content)
    CsvSource.load(spark, f.toString).cache()
  }

  // F2 — query_engine.rs:141-151
  private lazy val f2 = loadCsv(
    """column1,column2,column3
      |bbb,3,b
      |aaa,1,10
      |ccc,2,11
      |eee,2,9
      |ddd,1,5
      |""".stripMargin)

  // F3 — query_engine.rs:273-280
  private lazy val f3 = loadCsv(
    """column1,column2
      |a,1
      |b,2
      |c,3
      |d,3
      |e,3
      |f,4
      |""".stripMargin)

  // Tiny parquet table with a Long and a Date column: a real file scan,
  // so the plan shows what reaches the parquet reader.
  private lazy val dated: DataFrame = {
    val dir = Files.createTempDirectory("graft-exec-pq").resolve("t").toString
    spark.sql(
      """SELECT * FROM VALUES
        |  (1L, DATE'2024-01-01'), (2L, DATE'2024-01-02'), (3L, DATE'2024-01-03')
        |  AS t(id, d)""".stripMargin).coalesce(1).write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def run(df: DataFrame, q: String): DataFrame =
    Executor.execute(QueryParser.parse(q).toOption.get, df).toOption.get

  private def runErr(df: DataFrame, q: String): String =
    Executor.execute(QueryParser.parse(q).toOption.get, df).swap.toOption.get

  test("two columns, greater filter on text column") { // query_engine.rs:153-172
    val got = run(f2, "PROJECT column1, column2 FILTER column1 > \"bbb\"")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("ccc", 2L), ("ddd", 1L), ("eee", 2L)))
  }

  test("equal filter on mixed (string) column with integer literal") { // query_engine.rs:175-187
    // column3 is StringType (mixed cells) → literal 9 compares as "9"
    val got = run(f2, "PROJECT column1, column2 FILTER column3 = 9")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("eee", 2L)))
  }

  test("no filter preserves input row order") { // query_engine.rs:190-214
    val got = run(f2, "PROJECT column1, column2")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("bbb", 3L), ("aaa", 1L), ("ccc", 2L), ("eee", 2L), ("ddd", 1L)))
  }

  test("greater filter matching no rows") { // query_engine.rs:217-227
    assert(run(f2, "PROJECT column1, column2 FILTER column1 > \"eee\"").count() == 0)
  }

  test("single column projection, numeric greater filter") { // query_engine.rs:230-242
    val got = run(f2, "PROJECT column1 FILTER column2 > 2")
      .collect().map(_.getString(0)).toSet
    assert(got == Set("bbb"))
  }

  test("error: nonexistent column in projection") { // query_engine.rs:245-257
    assert(
      runErr(f2, "PROJECT column4 FILTER column2 > 2") ==
        "Cannot find column column4, it does not exist in the table, existing columns column1, column2, column3")
  }

  test("error: nonexistent column in filter") { // query_engine.rs:260-272
    assert(
      runErr(f2, "PROJECT column1 FILTER column4 > 2") ==
        "Cannot find column column4, it does not exist in the table, existing columns column1, column2, column3")
  }

  test("filter column resolved before projection columns") { // query_engine.rs:26-33 order
    // Both unknown → the reference reports the FILTER column first
    assert(
      runErr(f2, "PROJECT column9 FILTER column4 > 2") ==
        "Cannot find column column4, it does not exist in the table, existing columns column1, column2, column3")
  }

  test("equal filter matching multiple duplicate rows") { // query_engine.rs:275-301
    val got = run(f3, "PROJECT column1 FILTER column2 = 3")
      .collect().map(_.getString(0)).toSet
    assert(got == Set("c", "d", "e"))
  }

  test("greater filter above a run of duplicates") { // query_engine.rs:304-330
    val got = run(f3, "PROJECT column1 FILTER column2 > 3")
      .collect().map(_.getString(0)).toSet
    assert(got == Set("f"))
  }

  test("equal filter matching no rows") { // query_engine.rs:333-343
    assert(run(f2, "PROJECT column1, column2 FILTER column1 = \"hhh\"").count() == 0)
  }

  test("equal filter on the column minimum (reference defect not reproduced)") {
    // query_engine.rs:102-103 underflows/skips at index 0; we return the match
    val got = run(f3, "PROJECT column1 FILTER column2 = 1")
      .collect().map(_.getString(0)).toSet
    assert(got == Set("a"))
  }

  test("duplicate and reordered projection columns are allowed") {
    val got = run(f3, "PROJECT column2, column1, column2 FILTER column1 = \"a\"")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set((1L, "a", 1L)))
  }

  test("text literal on a Long column matches nothing (documented cast rule)") {
    assert(run(f3, "PROJECT column1 FILTER column2 = \"x\"").count() == 0)
  }

  private def wholeStageBodies(df: DataFrame): Seq[String] =
    collect(df.queryExecution.executedPlan) { case w: WholeStageCodegenExec =>
      w.doCodeGen()._2.body
    }

  private def ids(df: DataFrame): Set[Any] = df.collect().map(_.get(0)).toSet

  // Two queries that differ only in the FILTER literal, with their
  // expected first-column sets and, for parquet, the filter the scan must
  // still receive (the first query's).
  private case class SameShape(
      name: String, table: () => DataFrame, q1: String, q2: String,
      want1: Set[Any], want2: Set[Any], pushed: Option[String] = None)

  private val sameShape = Seq(
    SameShape("= on a Long column of a cached CSV", () => f3,
      "PROJECT column1 FILTER column2 = 3", "PROJECT column1 FILTER column2 = 4",
      Set("c", "d", "e"), Set("f")),
    SameShape("> on a Long column of a cached CSV", () => f3,
      "PROJECT column1 FILTER column2 > 2", "PROJECT column1 FILTER column2 > 3",
      Set("c", "d", "e", "f"), Set("f")),
    SameShape("= on a Date column of a parquet table", () => dated,
      "PROJECT id FILTER d = 2024-01-02", "PROJECT id FILTER d = 2024-01-03",
      Set(2L), Set(3L), Some("EqualTo(d,2024-01-02)")),
    SameShape("> on a Long column of a parquet table", () => dated,
      "PROJECT id FILTER id > 1", "PROJECT id FILTER id > 2",
      Set(2L, 3L), Set(3L), Some("GreaterThan(id,1)")))

  for (c <- sameShape)
    test(s"queries differing only in the literal share whole-stage code: ${c.name}") {
      val (a, b) = (run(c.table(), c.q1), run(c.table(), c.q2))
      val codeA = wholeStageBodies(a)
      assert(codeA.nonEmpty)
      assert(codeA == wholeStageBodies(b))
      assert(ids(a) == c.want1 && ids(b) == c.want2)
      // the bound value is still a Literal to the scan: pushed to parquet,
      // or kept as a batch-pruning predicate on the cached relation
      val plan = a.queryExecution.executedPlan
      c.pushed match {
        case Some(filter) =>
          val pushed = collect(plan) { case s: FileSourceScanExec => s.metadata("PushedFilters") }
          assert(pushed.size == 1 && pushed.head.contains(filter), pushed)
        case None =>
          val preds = collect(plan) { case s: InMemoryTableScanExec => s.predicates }
          assert(preds.size == 1 && preds.head.exists(_.exists(_.isInstanceOf[ParamLiteral])), preds)
      }
    }

  test("a column type a string cannot be cast to is refused") {
    val df = spark.sql("SELECT 1L AS id, array(1L, 2L) AS xs")
    assert(runErr(df, "PROJECT id FILTER xs = 1") ==
      "Cannot compare column xs of type array<bigint> with a literal")
  }

  // The literal is cast on the driver, so user-settable confs that change
  // casting or date conversion must not change an answer or raise.
  private val confMatrix = Seq(
    "spark.sql.ansi.enabled" -> "true",
    "spark.sql.ansi.enabled" -> "false",
    "spark.sql.datetime.java8API.enabled" -> "true")

  test("driver-side literal cast: same rows and no error across the conf matrix") {
    for ((key, value) <- confMatrix) {
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, value)
      try {
        val conf = s"$key=$value"
        assert(run(f3, "PROJECT column1 FILTER column2 = \"x\"").count() == 0, conf)
        assert(ids(run(dated, "PROJECT id FILTER d = 2024-01-02")) == Set(2L), conf)
        assert(ids(run(dated, "PROJECT id FILTER d > 2024-01-01")) == Set(2L, 3L), conf)
      } finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }
}
