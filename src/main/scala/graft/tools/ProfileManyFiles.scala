package graft.tools

import org.apache.spark.sql.functions._
import graft.sources.Snapshots

/** Manifest-scaling profile: the lakehouse layer's O(selected) claims
  * measured against growing FILE COUNTS (the scale axis the sf sweeps
  * don't move — a 100 TB table is 10⁵-10⁶ files, not bigger rows).
  * For each file count N, commits a range-sorted table of N one-
  * hundred-row files (leaf size pinned small so the manifest is
  * genuinely two-level: N/256 leaves under a `_root`), then measures
  *
  *   - commit seconds (manifest build + claim; grows with N),
  *   - a 100-row point-range read (root prunes leaves, leaf prunes
  *     files — should stay near-FLAT in N),
  *   - files selected for that read (the pruned scan's task count),
  *   - a bloom point read of one key, the median of five keys (the
  *     bloom prunes to the file holding the key — should stay
  *     near-FLAT in N, whether the manifest is small enough to probe
  *     on the driver or is probed by executors), and the files the
  *     bloom kept,
  *   - a full count (must grow with N — the control).
  *
  * Usage: ProfileManyFiles [N ...]   (default 1024 8192 32768)
  */
object ProfileManyFiles {
  def main(args: Array[String]): Unit = {
    val counts =
      if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1024, 8192, 32768)
    // 256 manifest rows per leaf: a 32k-file table becomes 128 leaves
    // under a `_root`, the production two-level shape at toy scale
    val spark = ToolSession.local(
      extraConf = Seq("graft.snapshots.manifestRowsPerLeaf" -> "256"))
    def secs[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    for (n <- counts) {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-manyfiles-$n").toString
      val rowsPerFile = 100L
      val df = spark.range(n * rowsPerFile)
        .select(col("id").as("k"), (col("id") % 97).as("v"))
        .repartitionByRange(n, col("k"))
      val (_, commitS) = secs {
        Snapshots.commit(spark, df, dir,
          statsColumns = Seq("k"), bloomColumns = Seq("k"))
      }
      // a 100-row band in the middle: exactly one file's envelope
      val lo = (n / 2) * rowsPerFile
      val ((sel, total), _) = secs {
        Snapshots.selectFiles(spark, dir, 1L, "k", lo, lo + rowsPerFile - 1)
      }
      val (prunedRows, prunedS) = secs {
        Snapshots.readRange(spark, dir, "k", lo, lo + rowsPerFile - 1).count()
      }
      // five keys spread over the table; every probe hits one row
      val keys = (1 to 5).map(i => (n / 6 * i) * rowsPerFile + 37)
      val pointS = keys.map { key =>
        val (rows, s) = secs {
          Snapshots.readPoint(spark, dir, "k", key).count()
        }
        require(rows == 1L, s"point read of $key returned $rows rows")
        s
      }.sorted.apply(2)
      val (pointSel, _) = Snapshots.selectFilesPoint(spark, dir, 1L, "k", keys.head)
      val (fullRows, fullS) = secs {
        Snapshots.read(spark, dir).count()
      }
      println(s"""{"files":$n,"commit_s":${f"$commitS%.2f"},""" +
        s""""pruned_files":${sel.length},"manifest_files":$total,""" +
        s""""pruned_s":${f"$prunedS%.2f"},"pruned_rows":$prunedRows,""" +
        s""""point_files":${pointSel.length},"point_s":${f"$pointS%.3f"},""" +
        s""""full_s":${f"$fullS%.2f"},"full_rows":$fullRows}""")
    }
    spark.stop()
  }
}
