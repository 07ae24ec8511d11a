package graft.perfbench

import org.apache.spark.sql.SparkSession

/** The engine's table and index layers in one closed loop: each step is
  * one [[SnapshotRw]] turn (two merges, reads, two view refreshes and one
  * compaction with expiry and vacuum), every [[Olap]] entry once, and one
  * [[AnnDedup]] turn (two index probes and two index adds). Every step
  * has the same operations, so runs of any length hold the same mix; the
  * warm-up is one step. The parts' set-up runs back to back.
  */
final class Lakehouse(spark: SparkSession, seed: Long, workDir: String) extends Workload {
  private val snapshots = new SnapshotRw(spark, seed, workDir)
  private val olap = new Olap(spark, seed, workDir)
  private val ann = new AnnDedup(spark, seed, workDir)
  private val parts = Seq[(String, Workload)](
    "snapshots.setup_s" -> snapshots, "olap.setup_s" -> olap, "ann_dedup.setup_s" -> ann)
  private var setupS = Map.empty[String, Double]

  def setup(rep: Int): Unit =
    setupS = parts.map { case (name, part) =>
      val t0 = System.nanoTime()
      part.setup(rep)
      name -> (System.nanoTime() - t0) / 1e9
    }.toMap

  def step(rec: Recorder): Unit = parts.foreach(_._2.step(rec))

  override def warmup(rec: Recorder): Unit = step(rec)

  def verify(): Seq[String] = parts.flatMap(_._2.verify())

  override def extras(): Map[String, Double] = setupS ++ parts.flatMap(_._2.extras())

  override def oracle: Option[(String, Seq[(String, String, String)])] = olap.oracle
}
