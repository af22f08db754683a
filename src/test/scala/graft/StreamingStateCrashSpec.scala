package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row

import graft.streaming.StreamingJobs

/** Every fold-state reader inside a crashed swap's rename window (the
  * [[StreamingHeavyHittersSpec]] shape, for the quantile, grouped-quantile
  * and histogram readers): the reader returns the surviving copy's
  * result, leaves the directory as it found it, and the next fold repairs
  * the directory and resumes from the surviving fence. */
class StreamingStateCrashSpec extends SparkSpec {
  import spark.implicits._

  private val values = (0 until 300).map(i => ((i * 37) % 101).toDouble)
  private def batch(id: Long) = values.slice(id.toInt * 150, id.toInt * 150 + 150)

  private def foldHistogram(id: Long, st: String): Unit =
    StreamingJobs.foldHistogram(batch(id).toDF("v"), id, "v", 5, 0.0, 100.0, st)

  /** (reader, fold of batch `id` into a state path, the reader's rows) */
  private val readers: Seq[(String, (Long, String) => Unit, String => Seq[Row])] = Seq(
    ("quantileEstimates",
      (id, st) => StreamingJobs.foldQuantiles(batch(id).toDF("v"), id, "v", 32, st),
      st => StreamingJobs.quantileEstimates(spark, st, Seq(0.1, 0.5, 0.9))
        .collect().toSeq),
    ("groupedQuantileEstimates",
      (id, st) => StreamingJobs.foldGroupedQuantiles(
        batch(id).map(v => (v, s"g${v.toInt % 3}")).toDF("v", "k"), id, "v", "k", 32, st),
      st => StreamingJobs.groupedQuantileEstimates(spark, st, "k", Seq(0.5, 0.9))
        .collect().toSeq),
    ("histogramDrift", foldHistogram,
      st => StreamingJobs.histogramDrift(spark, st, values.toDF("v"), "v", 5,
        0.0, 100.0).orderBy("bin").collect().toSeq),
    ("histogramQuantiles", foldHistogram,
      st => StreamingJobs.histogramQuantiles(spark, st, 5, 0.0, 100.0,
        Seq(0.25, 0.5, 0.75)).collect().toSeq))

  /** Fold batch 0, move `state` to `staged`, read, fold batch 1. */
  private def crashWindow(name: String, fold: (Long, String) => Unit,
      read: String => Seq[Row], staged: String): Unit = {
    val dir = Files.createTempDirectory(s"crash_$name").toString
    val st = s"$dir/state"
    fold(0L, st)
    val before = read(st)
    val live = new Path(st, "state")
    val aside = new Path(st, staged)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(live, aside), s"fixture: stage live aside as $staged")
    assert(read(st) === before, "the reader must see the surviving copy")
    assert(!fs.exists(live) && fs.exists(aside),
      "reader must leave the crashed directory untouched")
    fold(1L, st)
    assert(fs.exists(live) && !fs.exists(aside), "writer recover must repair")
    val clean = s"$dir/clean"
    fold(0L, clean)
    fold(1L, clean)
    assert(read(st) === read(clean),
      "the repaired fold must resume from the surviving state and fence")
  }

  for ((name, fold, read) <- readers)
    test(s"$name reads inside the swap's rename window without mutating it") {
      crashWindow(name, fold, read, ".state_tmp")
    }

  test("a read of a state staged aside as .state_old sees it; the next fold restores it") {
    val (name, fold, read) = readers.head
    crashWindow(name, fold, read, ".state_old")
  }
}
