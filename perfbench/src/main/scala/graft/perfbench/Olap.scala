package graft.perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** The relational surface: a fixed mix of `RelationalQueries` entries,
  * in a seeded order, over TPC-H-shaped tables, each executed
  * the way `graft.Bench` executes an entry (a noop write, so the whole
  * plan runs). The tables are generated from the seed at scale
  * [[Olap.Scale]] with the column names, types and value domains of the
  * repository's test data.
  */
final class Olap(spark: SparkSession, seed: Long, workDir: String) extends Workload {
  import Olap._

  private var dataDir: String = _
  private val rnd = new SplittableRandom(seed ^ 0x01a9)
  private var oracleRuns: Seq[(String, String, String)] = Nil

  def setup(rep: Int): Unit = {
    dataDir = s"$workDir/olap-$rep"
    generate(spark, seed, dataDir)
  }

  /** Every entry of the mix once, in a seeded order. */
  def step(rec: Recorder): Unit = Seeded.shuffle(rnd, Mix).foreach(run(rec, _))

  /** An entry's first run, in the warm-up, also writes its rows for the
    * DuckDB comparison the caller makes; later runs write to noop. */
  private def run(rec: Recorder, name: String): Unit = {
    val first = !oracleRuns.exists(_._1 == name)
    val out = s"$workDir/olap-result/$name"
    rec.op("read", "olap") {
      val df = SparkEntry.queries(name)(spark, dataDir)
      if (rec.traced) rec.plan(df)
      if (first) df.write.parquet(out)
      else df.write.format("noop").mode("overwrite").save()
    }.foreach(_ => if (first) oracleRuns :+= ((name, out, SparkEntry.oracleSql(name))))
  }

  def verify(): Seq[String] =
    if (oracleRuns.size == Mix.size) Nil else Seq("olap: an entry never completed")

  override def oracle: Option[(String, Seq[(String, String, String)])] =
    Some((dataDir, oracleRuns))
}

object Olap {
  /** TPC-H scale factor of the generated tables. */
  val Scale = 0.01

  /** Filter/project, group-by, deep join (with broadcast dimensions),
    * window rank, top-k and a set operation. */
  val Mix: Vector[String] = Vector("q_filter_gt", "q1_agg", "q_join_deep",
    "q_window_rank", "q_topk", "q_set_union")

  /** Writes the seven tables as parquet directories `<dir>/<table>.parquet`. */
  def generate(spark: SparkSession, seed: Long, dir: String): Unit = {
    def n(base: Int): Long = math.max(1L, (base * Scale).toLong)
    val (nCust, nSupp, nPart, nOrd, nLine) =
      (n(150000), n(10000), n(200000), n(1500000), n(6000000))
    // a deterministic value per (row, column): independent of partitioning
    def h(salt: Int): Column = xxhash64(col("id"), lit(seed), lit(salt))
    def mod(salt: Int, m: Long): Column = pmod(h(salt), lit(m))
    def pickOf(salt: Int, values: String*): Column =
      element_at(array(values.map(lit): _*), (mod(salt, values.size) + 1).cast("int"))
    def cents(salt: Int, lo: Long, hi: Long): Column =
      ((mod(salt, hi - lo + 1) + lo) / 100.0).cast("double")
    def day(salt: Int, from: String, days: Int): Column =
      date_add(lit(from).cast("date"), mod(salt, days).cast("int"))
        .cast("timestamp_ntz")
    def write(name: String, rows: Long, cols: Column*): Unit =
      spark.range(0, rows, 1, math.max(1, (rows / 200000).toInt))
        .select(cols: _*)
        .write.parquet(s"$dir/$name.parquet")

    write("region", 5, col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (col("id") + 1).cast("int")).as("r_name"))
    write("nation", 25, col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))
    write("customer", nCust, col("id").as("c_custkey"),
      concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0")).as("c_name"),
      mod(1, 25).cast("int").as("c_nationkey"),
      cents(2, -99985, 999980).as("c_acctbal"),
      pickOf(3, "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY").as("c_mktsegment"))
    write("supplier", nSupp, col("id").as("s_suppkey"),
      concat(lit("Supplier#"), lpad(col("id").cast("string"), 9, "0")).as("s_name"),
      mod(1, 25).cast("int").as("s_nationkey"),
      cents(2, -99985, 999980).as("s_acctbal"))
    write("part", nPart, col("id").as("p_partkey"),
      concat_ws(" ", pickOf(1, "blue", "hot", "large", "pale", "red", "tiny"),
        pickOf(2, "bolt", "ring", "screw", "nut", "gear")).as("p_name"),
      concat(lit("Brand#"), (mod(3, 25) + 1).cast("string")).as("p_brand"),
      pickOf(4, "ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD").as("p_type"),
      (mod(5, 50) + 1).cast("int").as("p_size"),
      cents(6, 90000, 209990).as("p_retailprice"))
    write("orders", nOrd, col("id").as("o_orderkey"),
      mod(1, nCust).as("o_custkey"),
      pickOf(2, "F", "O", "P").as("o_orderstatus"),
      cents(3, 90000, 50000000).as("o_totalprice"),
      day(4, "1995-01-01", 2404).as("o_orderdate"),
      pickOf(5, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW").as("o_orderpriority"))
    write("lineitem", nLine, mod(1, nOrd).as("l_orderkey"),
      mod(2, nPart).as("l_partkey"),
      mod(3, nSupp).as("l_suppkey"),
      (mod(4, 7) + 1).cast("int").as("l_linenumber"),
      (mod(5, 50) + 1).cast("double").as("l_quantity"),
      cents(6, 90000, 10000000).as("l_extendedprice"),
      (mod(7, 11) / 100.0).cast("double").as("l_discount"),
      (mod(8, 9) / 100.0).cast("double").as("l_tax"),
      pickOf(9, "A", "N", "R").as("l_returnflag"),
      pickOf(10, "F", "O").as("l_linestatus"),
      day(11, "1995-01-02", 2498).as("l_shipdate"))
  }
}
