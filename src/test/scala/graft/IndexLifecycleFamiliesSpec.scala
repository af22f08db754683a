package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{IndexLifecycle, IndexMaintenance, IvfIndex, KMeans,
  MinHashIndex, ProductQuantizer, TextIndex}

/** One table over the four families' lifecycle specs: the kernel's
  * emptying guard, compaction and crash recovery hold for each family on
  * a small fixture, and a healed index passes fsck. */
class IndexLifecycleFamiliesSpec extends SparkSpec {
  import spark.implicits._

  /** A family's fixture: its spec, a corpus keyed by `idCol`, the
    * family's own save/append/stats, and its pinned `stats` rows after
    * saving the first quarter of the corpus and after appending the
    * other three. */
  private case class Family(spec: IndexLifecycle.Spec, idCol: String,
      corpus: () => DataFrame, save: (DataFrame, String) => Unit,
      append: (DataFrame, String) => Unit, stats: String => DataFrame,
      saved: Seq[(String, Long)], appended: Seq[(String, Long)])

  private lazy val texts = (0 until 24).map { i =>
    (i.toLong, (1 to 12).map(j => s"w${(i * 7 + j * 3) % 41}").mkString(" "))
  }.toDF("doc_id", "text").cache()

  private lazy val vectors = (0 until 40).map { i =>
    (i.toLong, Seq.tabulate(8)(d => if (d == i % 4) 10.0 + (i % 4) else 0.001 * i))
  }.toDF("vec_id", "embedding").cache()

  private lazy val ivfModel =
    IvfIndex.fit(vectors, "vec_id", "embedding", nLists = 4, iters = 2)
  private lazy val pqModel =
    ProductQuantizer.fit(vectors, "vec_id", "embedding", m = 2, k = 4, iters = 1)
  private lazy val coarse =
    KMeans.fit(vectors, "vec_id", "embedding", k = 4, iters = 1)

  private val families = Seq(
    Family(TextIndex.lifecycle, "doc_id", () => texts,
      TextIndex.save(_, "doc_id", "text", _, nBuckets = 4),
      TextIndex.append(_, "doc_id", "text", _),
      TextIndex.stats(spark, _),
      Seq("n_docs" -> 6L, "sum_dl" -> 72L, "n_buckets" -> 4L, "doc_rows" -> 6L,
        "posting_doc_ids" -> 6L, "posting_rows" -> 72L,
        "distinct_terms" -> 40L, "nonempty_buckets" -> 4L),
      Seq("n_docs" -> 24L, "sum_dl" -> 288L, "n_buckets" -> 4L,
        "doc_rows" -> 24L, "posting_doc_ids" -> 24L, "posting_rows" -> 288L,
        "distinct_terms" -> 41L, "nonempty_buckets" -> 4L)),
    Family(MinHashIndex.lifecycle, "doc_id", () => texts,
      MinHashIndex.save(_, "doc_id", "text", _),
      MinHashIndex.append(_, "doc_id", "text", _),
      MinHashIndex.stats(spark, _),
      Seq("sig_rows" -> 6L, "band_rows" -> 96L, "nonempty_buckets" -> 96L,
        "max_bucket_size" -> 1L, "distinct_banded_ids" -> 6L, "n" -> 3L,
        "k" -> 64L, "bands" -> 16L, "seed" -> 42L),
      Seq("sig_rows" -> 24L, "band_rows" -> 384L, "nonempty_buckets" -> 282L,
        "max_bucket_size" -> 4L, "distinct_banded_ids" -> 24L, "n" -> 3L,
        "k" -> 64L, "bands" -> 16L, "seed" -> 42L)),
    Family(IvfIndex.lifecycle, "vec_id", () => vectors,
      IvfIndex.save(_, "vec_id", "embedding", ivfModel, _),
      IvfIndex.append(_, "vec_id", "embedding", _),
      IvfIndex.stats(spark, _),
      // n_lists counts centroid rows, empty lists included
      Seq("vec_rows" -> 10L, "n_lists" -> 4L, "nonempty_lists" -> 1L,
        "min_list_size" -> 10L, "max_list_size" -> 10L),
      Seq("vec_rows" -> 40L, "n_lists" -> 4L, "nonempty_lists" -> 4L,
        "min_list_size" -> 10L, "max_list_size" -> 10L)),
    Family(ProductQuantizer.lifecycle, "vec_id", () => vectors,
      ProductQuantizer.save(_, "vec_id", "embedding", coarse, pqModel, _,
        residual = false),
      ProductQuantizer.append(_, "vec_id", "embedding", _),
      ProductQuantizer.stats(spark, _),
      // n_lists counts non-empty cells
      Seq("code_rows" -> 10L, "n_lists" -> 1L, "min_cell_size" -> 10L,
        "max_cell_size" -> 10L, "m" -> 2L, "pq_codebook_rows" -> 32L,
        "residual" -> 0L),
      Seq("code_rows" -> 40L, "n_lists" -> 4L, "min_cell_size" -> 10L,
        "max_cell_size" -> 10L, "m" -> 2L, "pq_codebook_rows" -> 32L,
        "residual" -> 0L)))

  private def statsOf(f: Family, path: String): Map[String, Long] =
    f.stats(path).as[(String, Long)].collect().toMap

  for (f <- families) {
    val name = f.spec.name

    test(s"$name: stats rows after save and after appends, in order") {
      val path = Files.createTempDirectory(s"lk_stats_$name").toString
      val part = (r: Int) => f.corpus().filter(col(f.idCol) % 4 === r)
      def rows = f.stats(path).as[(String, Long)].collect().toSeq
      f.save(part(0), path)
      assert(rows === f.saved)
      (1 to 3).foreach(r => f.append(part(r), path))
      assert(rows === f.appended)
    }

    test(s"$name: an emptying delete is rejected and stats are unchanged") {
      val path = Files.createTempDirectory(s"lk_empty_$name").toString
      f.save(f.corpus(), path)
      val before = statsOf(f, path)
      intercept[IllegalArgumentException] {
        f.spec.delete(spark, path, f.corpus().select(col(f.idCol)))
      }
      assert(statsOf(f, path) === before)
    }

    test(s"$name: three appends then compact leave nothing to compact, " +
        "stats unchanged") {
      val path = Files.createTempDirectory(s"lk_compact_$name").toString
      val part = (r: Int) => f.corpus().filter(col(f.idCol) % 4 === r)
      f.save(part(0), path)
      (1 to 3).foreach(r => f.append(part(r), path))
      val before = statsOf(f, path)
      f.spec.compact(spark, path)
      assert(!IndexMaintenance.needsCompact(spark, path, 1),
        IndexMaintenance.plan(spark, path, 1).collect().mkString("; "))
      assert(statsOf(f, path) === before)
    }

    test(s"$name: a staged delete crash heals, and the rerun converges to " +
        "a rebuild without the ids") {
      val dir = Files.createTempDirectory(s"lk_crash_$name").toString
      val path = s"$dir/index"
      f.save(f.corpus(), path)
      val ids = f.corpus().select(col(f.idCol)).filter(col(f.idCol) % 3 === 0)
      // the crash: every id artifact's rewrite completed into <sub>_del,
      // live staged aside as <sub>_old, and no promote ran
      val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
      for (a <- f.spec.idArtifacts) {
        val live = spark.read.parquet(s"$path/${a.sub}")
        val w = live.join(ids.toDF("__id"),
            col(a.idColIn(live.schema)) === col("__id"), "left_anti")
          .write
        a.key.fold(w)(w.partitionBy(_)).parquet(s"$path/${a.sub}_del")
        assert(fs.rename(new Path(s"$path/${a.sub}"),
          new Path(s"$path/${a.sub}_old")))
      }
      f.spec.recover(spark, path)
      for (a <- f.spec.idArtifacts) {
        assert(fs.exists(new Path(s"$path/${a.sub}")))
        assert(!fs.exists(new Path(s"$path/${a.sub}_del")) &&
          !fs.exists(new Path(s"$path/${a.sub}_old")))
      }
      f.spec.delete(spark, path, ids)
      val rebuilt = s"$dir/rebuilt"
      f.save(f.corpus().join(ids, Seq(f.idCol), "left_anti"), rebuilt)
      assert(statsOf(f, path) === statsOf(f, rebuilt))
      assert(f.spec.rows(spark, path) === f.spec.rows(spark, rebuilt))
      val failing = f.spec.audit(spark, path).filter(!$"pass").collect()
      assert(failing.isEmpty, failing.mkString("; "))
    }
  }
}
