package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.StagedSwap
import graft.operators.StagedSwap.Staged

/** Direct unit coverage of the crash-recovery state machine shared by
  * [[graft.operators.IvfIndex.compact]] and
  * [[graft.operators.MinHashIndex.compact]]. The IvfIndexSpec e2e test
  * covers the rename-window crash (tmp+old) and the old-only crash; this
  * suite pins the remaining states, in particular the lone-tmp
  * first-materialization branches where promoting a truncated write would
  * silently surface partial data.
  */
class StagedSwapSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val roots = scala.collection.mutable.ListBuffer.empty[Path]

  private def fixture(): (FileSystem, Path, Path, Path) = {
    val root = Files.createTempDirectory("staged_swap").toString
    val live = new Path(s"$root/live")
    val tmp = new Path(s"$root/live_tmp")
    val old = new Path(s"$root/live_old")
    val fs = live.getFileSystem(new Configuration())
    roots.synchronized { roots += new Path(root) }
    (fs, live, tmp, old)
  }

  override def afterAll(): Unit = {
    roots.synchronized {
      roots.foreach(r => r.getFileSystem(new Configuration()).delete(r, true))
      roots.clear()
    }
    super.afterAll()
  }

  private def writeDir(fs: FileSystem, dir: Path, files: (String, String)*): Unit = {
    fs.mkdirs(dir)
    files.foreach { case (name, body) =>
      val out = fs.create(new Path(dir, name), true)
      out.write(body.getBytes("UTF-8"))
      out.close()
    }
  }

  private def readFile(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  test("lone partial tmp (no _SUCCESS, no live, no old) is deleted, not promoted") {
    val (fs, live, tmp, old) = fixture()
    // first materialization crashed mid-write: task files exist, no marker
    writeDir(fs, tmp, "part-00000" -> "truncated prefix")
    Staged(fs, live, tmp, old).recover()
    assert(!fs.exists(live), "a possibly-truncated tmp must never become live")
    assert(!fs.exists(tmp), "the incomplete write is cleared for the rerun")
  }

  test("lone tmp WITH _SUCCESS is a completed write and is promoted to live") {
    val (fs, live, tmp, old) = fixture()
    writeDir(fs, tmp, "part-00000" -> "full dataset", "_SUCCESS" -> "")
    Staged(fs, live, tmp, old).recover()
    assert(fs.exists(live), "a committer-marked tmp is salvaged")
    assert(!fs.exists(tmp))
    assert(readFile(fs, new Path(live, "part-00000")) === "full dataset")
  }

  test("recover is a no-op when live exists, regardless of leftovers") {
    val (fs, live, tmp, old) = fixture()
    writeDir(fs, live, "part-00000" -> "current")
    writeDir(fs, tmp, "part-00000" -> "newer", "_SUCCESS" -> "")
    writeDir(fs, old, "part-00000" -> "older")
    Staged(fs, live, tmp, old).recover()
    assert(readFile(fs, new Path(live, "part-00000")) === "current",
      "an existing live is never replaced by recover; swap() owns that transition")
    // swap() then clears the leftovers before writing
    Staged(fs, live, tmp, old).swap(dir => writeDir(fs, new Path(dir), "part-00000" -> "v2"))
    assert(readFile(fs, new Path(live, "part-00000")) === "v2")
    assert(!fs.exists(tmp) && !fs.exists(old))
  }

  test("swap over a crashed lone partial tmp recomputes rather than promoting it") {
    val (fs, live, tmp, old) = fixture()
    writeDir(fs, tmp, "part-00000" -> "truncated prefix")
    var wrote = false
    Staged(fs, live, tmp, old).swap { dir =>
      wrote = true
      writeDir(fs, new Path(dir), "part-00000" -> "recomputed", "_SUCCESS" -> "")
    }
    assert(wrote, "the write closure must run: the partial tmp is not trusted")
    assert(readFile(fs, new Path(live, "part-00000")) === "recomputed")
  }

  test("rename-window crash state (tmp+old, live absent) restores tmp as live") {
    val (fs, live, tmp, old) = fixture()
    writeDir(fs, tmp, "part-00000" -> "new copy", "_SUCCESS" -> "")
    writeDir(fs, old, "part-00000" -> "original")
    Staged(fs, live, tmp, old).recover()
    assert(readFile(fs, new Path(live, "part-00000")) === "new copy",
      "tmp is complete and newer; it wins over old")
    assert(!fs.exists(tmp) && !fs.exists(old))
  }

  test("unmarked tmp beside old (unreachable from swap) restores old, discards tmp") {
    val (fs, live, tmp, old) = fixture()
    writeDir(fs, tmp, "part-00000" -> "no success marker")
    writeDir(fs, old, "part-00000" -> "original")
    Staged(fs, live, tmp, old).recover()
    assert(readFile(fs, new Path(live, "part-00000")) === "original",
      "a _SUCCESS-less tmp is never promoted, even beside old")
    assert(!fs.exists(tmp) && !fs.exists(old))
  }

  test("old-only crash state restores old as live") {
    val (fs, live, tmp, old) = fixture()
    writeDir(fs, old, "part-00000" -> "original")
    Staged(fs, live, tmp, old).recover()
    assert(readFile(fs, new Path(live, "part-00000")) === "original")
    assert(!fs.exists(old))
  }
}

/** [[StagedSwap.recoverSub]]'s multi-suffix arbitration — the states a
  * SEQUENTIAL single writer really produces across several mutations
  * (each swap clears only its OWN suffix, so a crashed compact's
  * `_compact` survives later delete/restore cycles and can coexist with
  * a later crash's `_del`). */
class StagedSwapRecoverSubSpec extends SparkSpec {

  private def fixture(): (FileSystem, String) = {
    val root = Files.createTempDirectory("staged_swap_sub").toString
    (new Path(root).getFileSystem(new Configuration()), root)
  }

  private def writeDir(fs: FileSystem, dir: Path, files: (String, String)*): Unit = {
    fs.mkdirs(dir)
    files.foreach { case (name, body) =>
      val out = fs.create(new Path(dir, name), true)
      out.write(body.getBytes("UTF-8"))
      out.close()
    }
  }

  private def readFile(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  test("coexisting tmp suffixes with live healthy are garbage-collected, not fatal") {
    val (fs, root) = fixture()
    // crash mid-compact left _compact; a later crash mid-delete-write
    // left _del; live survived both — every leftover is superseded
    writeDir(fs, new Path(s"$root/sub"), "part-00000" -> "current")
    writeDir(fs, new Path(s"$root/sub_compact"), "part-00000" -> "stale", "_SUCCESS" -> "")
    writeDir(fs, new Path(s"$root/sub_del"), "part-00000" -> "partial")
    writeDir(fs, new Path(s"$root/sub_old"), "part-00000" -> "older")
    StagedSwap.recoverSub(spark, root, "sub")
    assert(readFile(fs, new Path(s"$root/sub/part-00000")) === "current")
    Seq("sub_compact", "sub_del", "sub_old").foreach { d =>
      assert(!fs.exists(new Path(s"$root/$d")), s"$d must be cleared")
    }
    fs.delete(new Path(root), true)
  }

  test("live missing: an unmarked tmp disambiguates; the complete one is promoted") {
    val (fs, root) = fixture()
    // stale partial _compact (no marker) + crashed-in-rename-window _del
    // (complete, old staged aside): the unmarked dir is provably an
    // incomplete write, so recovery still proceeds unambiguously
    writeDir(fs, new Path(s"$root/sub_compact"), "part-00000" -> "partial")
    writeDir(fs, new Path(s"$root/sub_del"), "part-00000" -> "new copy", "_SUCCESS" -> "")
    writeDir(fs, new Path(s"$root/sub_old"), "part-00000" -> "original")
    StagedSwap.recoverSub(spark, root, "sub")
    assert(readFile(fs, new Path(s"$root/sub/part-00000")) === "new copy")
    Seq("sub_compact", "sub_del", "sub_old").foreach { d =>
      assert(!fs.exists(new Path(s"$root/$d")), s"$d must be cleared")
    }
    fs.delete(new Path(root), true)
  }

  test("live missing with TWO complete tmps is the one genuinely ambiguous state") {
    val (fs, root) = fixture()
    writeDir(fs, new Path(s"$root/sub_compact"), "part-00000" -> "gen A", "_SUCCESS" -> "")
    writeDir(fs, new Path(s"$root/sub_del"), "part-00000" -> "gen B", "_SUCCESS" -> "")
    val e = intercept[IllegalArgumentException] {
      StagedSwap.recoverSub(spark, root, "sub")
    }
    assert(e.getMessage.contains("resolve manually"))
    // nothing was destroyed: both candidate copies survive for the human
    assert(fs.exists(new Path(s"$root/sub_compact")))
    assert(fs.exists(new Path(s"$root/sub_del")))
    fs.delete(new Path(root), true)
  }
}

/** [[StagedSwap.Staged.read]]: a reader whose load lands inside a live
  * writer's rename window — after rename(live→old), before
  * rename(tmp→live) — gets the pre- or post-swap rows, never an
  * exception. */
class StagedSwapReadSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(): StagedSwap.Staged = {
    val root = Files.createTempDirectory("staged_read").toString
    StagedSwap.sibling(spark, s"$root/corpus")
  }

  test("a read racing the swap's first rename retries once onto a complete copy") {
    val st = corpus()
    Seq(1L, 2L, 3L).toDF("id").write.parquet(st.live.toString)
    // the writer's complete new copy, committed before its renames start
    Seq(4L, 5L).toDF("id").write.parquet(st.tmp.toString)
    var loads = 0
    val got = st.read("no corpus") { p =>
      loads += 1
      // the writer's rename(live→old) lands between resolution and read
      if (loads == 1) assert(st.fs.rename(st.live, st.old))
      spark.read.parquet(p.toString).as[Long].collect().toSet
    }
    assert(got === Set(1L, 2L, 3L) || got === Set(4L, 5L), got)
    assert(loads === 2, "the vanished copy is resolved again exactly once")
    st.fs.delete(st.live.getParent, true)
  }

  test("a copy that is genuinely absent still fails with the caller's message") {
    val st = corpus()
    val e = intercept[java.io.FileNotFoundException] {
      st.read("no corpus here")(p => spark.read.parquet(p.toString).count())
    }
    assert(e.getMessage === "no corpus here")
    st.fs.delete(st.live.getParent, true)
  }
}
