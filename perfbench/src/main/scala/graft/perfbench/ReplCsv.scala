package graft.perfbench

import java.io.{BufferedWriter, FileWriter}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Repl
import graft.core.{Executor, QueryParser}
import graft.sources.CsvSource

/** The paper's own surface: a CSV loaded through the reference's
  * integer-or-text promotion and cached, then `PROJECT … FILTER …`
  * strings through parse → execute → render, as the REPL runs them.
  *
  * Columns: `id` (1..N, sorted), `grp` (a log-uniform skewed key),
  * `name` and `city` (text), `area` (decimal-looking, must stay text),
  * `code` (digits except one row in 97, must fail promotion) and
  * `score` (random integer). The query mix is mostly selective lookups
  * that return at most 10 rows, then mid-range scans, a few wide scans
  * returning about 10% of the table, and queries whose correct answer
  * is the reference's error text; see [[Block]].
  */
final class ReplCsv(spark: SparkSession, seed: Long, workDir: String,
    counters: SparkCounters) extends Workload {
  val Rows = 100000
  val Columns = Vector("id", "grp", "name", "city", "area", "code", "score")
  private val Cities = Vector("Amsterdam", "Berlin", "Cairo", "Delhi", "Essen",
    "Fukuoka", "Geneva", "Hanoi", "Izmir", "Jakarta", "Kyoto", "Lagos", "Madrid",
    "Nairobi", "Oslo", "Porto", "Quito", "Riga", "Seoul", "Tunis")

  // the generated table, column-wise; Long columns hold parsed values
  private var ids: Array[Long] = _
  private var grp: Array[Long] = _
  private var score: Array[Long] = _
  private var text: Map[String, Array[String]] = _
  private var table: DataFrame = _
  private var rareGroups: Vector[Long] = _
  private var wideGroupFloor: Long = _
  private var midScoreFloor: Long = _
  private val rnd = new SplittableRandom(seed ^ 0x5eed)
  private val answers = mutable.ArrayBuffer.empty[(String, String)]
  private var loadS = 0.0
  private var loadJobs = 0.0

  def setup(rep: Int): Unit = {
    val r = new SplittableRandom(seed)
    ids = Array.tabulate(Rows)(i => i + 1L)
    grp = Array.fill(Rows)(math.exp(r.nextDouble() * math.log(5000.0)).toLong)
    score = Array.fill(Rows)(r.nextLong(1000000000L))
    val name = Array.fill(Rows)(f"u${r.nextLong(1L << 40)}%x")
    val city = Array.fill(Rows)(Cities(r.nextInt(Cities.size)))
    val area = Array.fill(Rows)(s"${r.nextInt(5000)}.${r.nextInt(10)}")
    val code = Array.tabulate(Rows)(i =>
      if (i % 97 == 13) s"x${r.nextInt(1000)}" else s"${r.nextInt(100000)}")
    text = Map("name" -> name, "city" -> city, "area" -> area, "code" -> code)
    rareGroups = grp.groupMapReduce(identity)(_ => 1)(_ + _)
      .filter(_._2 <= 10).keys.toVector.sorted
    val byGroup = grp.sorted
    wideGroupFloor = byGroup((Rows * 0.9).toInt)
    midScoreFloor = score.sorted.apply(Rows - 1000)
    val path = s"$workDir/repl-$rep.csv"
    val out = new BufferedWriter(new FileWriter(path), 1 << 16)
    try {
      out.write(Columns.mkString(",")); out.write('\n')
      var i = 0
      while (i < Rows) {
        out.write(s"${ids(i)},${grp(i)},${name(i)},${city(i)},${area(i)},${code(i)},${score(i)}\n")
        i += 1
      }
    } finally out.close()
    if (table != null) table.unpersist(blocking = true)
    val jobs0 = counters.jobsStarted.get
    val t0 = System.nanoTime()
    // cached and counted, as the REPL does before its first prompt
    table = CsvSource.load(spark, path).cache()
    table.count()
    loadS = (System.nanoTime() - t0) / 1e9
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    loadJobs = (counters.jobsStarted.get - jobs0).toDouble
    val types = table.schema.map(f => f.name -> f.dataType.typeName).toMap
    val want = Map("id" -> "long", "grp" -> "long", "score" -> "long",
      "name" -> "string", "city" -> "string", "area" -> "string", "code" -> "string")
    require(types == want, s"CSV promotion typed the columns as $types, want $want")
  }

  private def pick[T](v: IndexedSeq[T]): T = v(rnd.nextInt(v.size))

  /** Query kinds per block of 20: the mix holds these shares exactly at
    * every block boundary, so runs of different seeds time the same mix. */
  private val Block = Vector.fill(6)("id=") ++ Vector.fill(3)("score=") ++
    Vector.fill(3)("grp=") ++ Vector.fill(2)("id>") ++ Vector("code=") ++
    Vector.fill(3)("score>") ++ Vector("wide", "error")
  private var block: List[String] = Nil
  private var errors = 0

  /** The next query string of the seeded mix. */
  private def nextQuery(): String = {
    if (block.isEmpty) block = Seeded.shuffle(rnd, Block)
    val kind = block.head
    block = block.tail
    val row = rnd.nextInt(Rows)
    kind match {
      case "id=" => s"PROJECT id, name, score FILTER id = ${ids(row)}"
      case "score=" => s"PROJECT name, city FILTER score = ${score(row)}"
      case "grp=" => s"PROJECT id, grp FILTER grp = ${pick(rareGroups)}"
      case "id>" => s"PROJECT id, area FILTER id > ${Rows - 1 - rnd.nextInt(10)}"
      case "code=" => s"PROJECT id, code FILTER code = \"${text("code")(row)}\""
      case "score>" => s"PROJECT id, score FILTER score > ${midScoreFloor + rnd.nextInt(1000)}"
      case "wide" => s"PROJECT id, name, city, area FILTER grp > $wideGroupFloor"
      case _ =>
        errors += 1
        errors % 4 match {
          case 0 => "PROJECT id FILTER id >"
          case 1 => "SELECT id FROM t"
          case 2 => s"PROJECT id FILTER grp < $row"
          case _ => s"PROJECT id, nope FILTER id = ${ids(row)}"
        }
    }
  }

  def step(rec: Recorder): Unit = {
    val q = nextQuery()
    rec.op("read", "core") {
      rec.span("core.parse_ms")(QueryParser.parse(q)) match {
        case Left(err) => answers += q -> s"Query parsing error: $err"
        case Right(query) =>
          rec.span("core.execute_ms")(Executor.execute(query, table)) match {
            case Left(err) => answers += q -> s"Query execution error: $err"
            case Right(result) =>
              if (rec.traced) rec.plan(result)
              val text = rec.span("repl.render_ms")(Repl.render(query.columnNames, result))
              answers += q -> text
              if (rec.traced) {
                val returned = math.max(0, text.count(_ == '\n') - 2)
                rec.add("repl.rows_rendered", returned)
                rec.add("core.rows_scanned", rec.scannedRows(result))
                rec.add("core.rows_returned", returned)
              }
          }
      }
    }
  }

  override def extras(): Map[String, Double] =
    Map("csv.load_s" -> loadS, "csv.jobs" -> loadJobs)

  // ---- the reference semantics, evaluated in plain Scala ----

  private val LongCols = Set("id", "grp", "score")
  private def longCol(c: String): Array[Long] = c match {
    case "id" => ids
    case "grp" => grp
    case "score" => score
  }
  private def cell(c: String, i: Int): String =
    if (LongCols(c)) longCol(c)(i).toString else text(c)(i)

  /** The reference's `{:?}` of the token list. */
  private def debug(tokens: Seq[String]): String =
    tokens.map(t => "\"" + t.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
      .mkString("[", ", ", "]")

  private val Lookup = """PROJECT (.+) FILTER (\w+) ([>=]) "?([^"]*)"?""".r

  /** The REPL's output for `q` under the reference rules. */
  def expected(q: String): String = {
    val tokens = q.split(" ").toSeq
    q match {
      case "PROJECT id FILTER id >" =>
        s"Query parsing error: Could not find value to filter by in the filter in ${debug(tokens)} at position 5"
      case "SELECT id FROM t" =>
        s"Query parsing error: Expected to find keyword PROJECT in ${debug(tokens)} at position 0"
      case _ if tokens.length > 4 && tokens(4) == "<" =>
        s"Query parsing error: Unknown filter operator in ${debug(tokens)} at position 4"
      case Lookup(cols, fc, op, lit) =>
        val names = cols.split(", ").toSeq
        names.find(n => !Columns.contains(n)) match {
          case Some(bad) =>
            s"Query execution error: Cannot find column $bad, it does not exist in the table, existing columns ${Columns.mkString(", ")}"
          case None =>
            // all-digits literal → integer; compared numerically on
            // integer columns and as text on text columns
            val keep: Int => Boolean =
              if (LongCols(fc)) {
                val v = lit.toLong
                val a = longCol(fc)
                if (op == ">") i => a(i) > v else i => a(i) == v
              } else {
                val a = text(fc)
                if (op == ">") i => a(i) > lit else i => a(i) == lit
              }
            val header = names.mkString(",")
            val body = (0 until Rows).filter(keep)
              .map(i => names.map(cell(_, i)).mkString(","))
            s"$header\n${"-" * header.length}\n" +
              (if (body.isEmpty) "" else body.mkString("", "\n", "\n"))
        }
    }
  }

  private def canonical(rendered: String): String = {
    val lines = rendered.split("\n", -1).toSeq
    if (lines.length < 2) rendered
    else (lines.take(2) ++ lines.drop(2).sorted).mkString("\n")
  }

  def verify(): Seq[String] = {
    val bad = answers.distinct.filter { case (q, got) =>
      canonical(got) != canonical(expected(q))
    }
    bad.take(5).map { case (q, got) =>
      s"repl_csv: wrong answer to '$q': ${got.take(200)}"
    }.toSeq ++
      (if (answers.isEmpty) Seq("repl_csv: no query completed") else Nil)
  }
}
