package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, functions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.core.Tables
import graft.operators.{IndexAudit, IndexSnapshots, TextIndex}
import graft.streaming.StreamingJobs

object Workloads {
  /** The `queries` workload's two op groups. `analytics`: relational joins
    * and aggregates, then similarity and text joins; executor-heavy, little
    * driver work. `iterative`: graph and ML fixpoints, many small jobs per
    * query, so driver planning and scheduling per round dominate. */
  val queryGroups: Seq[(String, Seq[String])] = Seq(
    "analytics" -> Seq("q1_agg", "q3_join_agg", "q23_ngram_jaccard",
      "q67_simhash_screen"),
    "iterative" -> Seq("q104_pagerank", "q81_kmeans"))

  /** The op named by the `perfbench.corrupt` property returns a wrong
    * result on purpose; the benchmark's own test uses it to show that a
    * wrong result is counted as a failed op. */
  val corrupt: String = sys.props.getOrElse("perfbench.corrupt", "")

  /** Order-independent fingerprint of a whole result: row count and the
    * sum of a 64-bit hash of every row. Every column is hashed, so
    * Spark cannot prune any of the work a user would receive. */
  def checksum(df: DataFrame): (Long, BigDecimal) = {
    def hashable(f: StructField): Column = {
      val c = col("`" + f.name.replace("`", "``") + "`")
      if (f.dataType.simpleString.contains("map<")) to_json(c) else c
    }
    val cols = df.schema.fields.toSeq.map(hashable)
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.as("h")).agg(count(lit(1)),
      sum(col("h").cast(DecimalType(38, 0)))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  def rmrf(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete(); ()
  }

  /** (files, bytes) under a directory. */
  def du(f: File): (Long, Long) =
    if (f.isFile) (1L, f.length())
    else Option(f.listFiles()).getOrElse(Array.empty).map(du)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }
}

/** `queries`: SparkEntry queries timed through a full-result checksum.
  * The warm-up computes each result once, pins its checksum and writes it
  * for the DuckDB oracle; the written result must have the pinned
  * checksum, and so must every timed op. */
final class QueryWorkload(spark: SparkSession, dataDir: String,
    workDir: String, seed: Long) extends Workload {
  import Workloads._
  private val queries = queryGroups.flatMap { case (g, names) =>
    names.map(n => g -> graft.SparkEntry.allQueries.find(_.name == n)
      .getOrElse(sys.error(s"no query $n")))
  }
  private val pinned = mutable.Map.empty[String, (Long, BigDecimal)]
  private val resultDir = s"$workDir/results"

  // the tables are the inputs; the runner stages them before the JVM starts
  def prepare(): Unit = ()
  def stage(): Unit = ()

  def warmup(): Seq[String] = {
    val errors = queries.flatMap { case (_, q) =>
      val t0 = Main.now()
      val out = s"$resultDir/${q.name}"
      try {
        // cached, so the checksum (the timed action) and the write for
        // the oracle see one computation of the result
        val df = q.run(spark, dataDir).persist()
        pinned(q.name) = checksum(df)
        df.coalesce(1).write.mode("overwrite").parquet(out)
        val written = checksum(spark.read.parquet(out))
        if (written == pinned(q.name)) None
        else Some(s"${q.name}: written result $written != pinned ${pinned(q.name)}")
      } catch { case e: Throwable => Some(s"${q.name}: $e") }
      finally {
        spark.catalog.clearCache()
        Main.log(f"warm-up ${q.name} ${(Main.now() - t0) / 1e3}%.2f s")
      }
    }
    Files.writeString(Paths.get(resultDir, "oracle_sql.json"), Json.of(
      queries.flatMap { case (_, q) => q.oracle.map(q.name -> _) }.toMap))
    errors
  }

  def round(r: Int): Seq[Op] =
    new Random(seed * 1000003L + r).shuffle(queries).map { case (group, q) =>
      Op(q.name, group, "", ctx => {
        val b0 = Main.now()
        ctx.group(".build")
        val df = q.run(spark, dataDir)
        val b1 = Main.now()
        ctx.group()
        ctx.child("queries", "build", b0, b1)
        val (n, h) = checksum(df)
        val got = if (q.name == corrupt) (n + 1, h) else (n, h)
        Outcome(if (got == pinned(q.name)) None
          else Some(s"checksum $got != pinned ${pinned(q.name)}"), rows = n)
      })
    }

  override def afterOp(op: Op): Unit = spark.catalog.clearCache()
}

/** `lifecycle`: persisted writes beside reads. Each round drives the text
  * index through its public API — save, append, delete, upsert, compact,
  * incremental snapshot, restore, probe, fsck — in a fresh directory, so
  * every round does the same work, and runs the stream-ETL pipeline once
  * ([[StreamEtl]]); the seed orders the two. The warm-up round pins the
  * probe and sink results and checks them against an untimed rebuild over
  * the final corpus and the same computation as batch jobs. */
final class LifecycleWorkload(spark: SparkSession, dataDir: String,
    workDir: String, seed: Long) extends Workload {
  import Workloads._
  import spark.implicits._

  // seeded splits of the 500-document corpus
  private val rng = new Random(seed)
  private val ids = rng.shuffle((0L until 500L).toVector)
  private val base = ids.take(350)
  private val batchA = ids.slice(350, 425)
  private val fresh = ids.slice(425, 450)
  private val deleted = rng.shuffle(base).take(25)
  private val revised = rng.shuffle(base.filterNot(deleted.toSet)).take(20)
  private val finalIds = (base ++ batchA).filterNot(deleted.toSet) ++ fresh
  private val terms = Seq("join", "hash", "window", "spark", "stream", "merge",
    "vector", "scan", "query", "table")
  private val termQueries = (0 until 4).map(i => (i.toLong,
    rng.shuffle(terms).take(2 + i % 2)))

  private var docs: DataFrame = _
  private var textBytes = 0L
  private val stream = new StreamEtl(spark, dataDir, s"$workDir/stream", seed)
  private var pinned: Seq[Row] = Nil
  private val liveAtRound = mutable.Map.empty[Int, (Long, Long)]
  private val spaceAmp = mutable.ArrayBuffer.empty[Double]

  private def batch(set: Seq[Long]) = docs.filter(col("doc_id").isin(set: _*))
  private def revise(df: DataFrame) =
    df.withColumn("text", concat(col("text"), lit(" revised")))
  private def finalCorpus =
    batch(finalIds.filterNot(revised.toSet)).union(revise(batch(revised)))

  /** A probe result in comparable form: sorted rows, scores rounded so a
    * rebuild's different float summation order is no difference. */
  private def probe(path: String): Seq[Row] = {
    val df = TextIndex.probeAll(termQueries.toDF("qid", "terms"), "qid", "terms",
      path, k = 10)
    df.select(df.schema.fields.toSeq.map { f =>
      if (f.dataType == DoubleType) functions.round(col(f.name), 6).as(f.name)
      else col(f.name)
    }: _*).collect().toSeq.sortBy(_.toString)
  }

  def prepare(): Unit = {
    docs = Tables.documents(spark, dataDir).select("doc_id", "text").localCheckpoint()
    textBytes = finalCorpus.select(sum(length(col("text")) + 8)).head().getLong(0)
    stream.prepare()
  }

  def stage(): Unit = stream.stage()

  private def path(r: Int) = s"$workDir/idx/r$r"

  private def ops(r: Int, pin: Boolean): Seq[Op] = {
    val p = path(r)
    def w(op: String)(body: => Unit) =
      Op(s"text.$op", "write", "text", _ => { body; Outcome(None) })
    val index = Seq(
      w("save")(TextIndex.save(batch(base), "doc_id", "text", p, nBuckets = 8)),
      w("append")(TextIndex.append(batch(batchA), "doc_id", "text", p)),
      w("delete")(TextIndex.delete(spark, p, batch(deleted).select("doc_id"))),
      // new content for existing ids plus unseen ids
      w("upsert")(TextIndex.upsert(revise(batch(revised)).union(batch(fresh)),
        "doc_id", "text", p)),
      w("compact")(TextIndex.compact(spark, p)),
      w("snapshot")(IndexSnapshots.snapshotIncremental(spark, p, "s1")),
      w("restore")(IndexSnapshots.restore(spark, p, "s1")),
      Op("text.probe", "probe", "text", _ => {
        val rows = probe(p)
        val got = if (corrupt == "text.probe") rows.drop(1) else rows
        if (pin) pinned = got
        Outcome(if (got == pinned) None
          else Some(s"probe: ${got.size} rows differ from the pinned ${pinned.size}"),
          rows = got.size)
      }),
      Op("text.audit", "audit", "text", _ => {
        val bad = IndexAudit.auditText(spark, p).filter(!col("pass")).collect()
        Outcome(if (bad.isEmpty) None else Some(s"fsck: ${bad.mkString(", ")}"))
      }))
    val etl = stream.op(r, pin)
    if (new Random(seed * 1000003L + r).nextBoolean()) etl +: index else index :+ etl
  }

  def warmup(): Seq[String] = {
    val errors = ops(-1, pin = true).flatMap { op =>
      val t0 = Main.now()
      val out = try op.body(new Ctx(spark, -1, None)) catch {
        case e: Throwable => Outcome(Some(e.toString))
      }
      val checked = out.error.orElse(op.verify())
      spark.catalog.clearCache()
      Main.log(f"warm-up ${op.name} ${(Main.now() - t0) / 1e3}%.2f s")
      checked.map(err => s"${op.name}: $err")
    }
    // the maintained index must answer like a fresh build of the final corpus
    val rebuilt = if (errors.nonEmpty) None else {
      TextIndex.save(finalCorpus, "doc_id", "text", path(-2), nBuckets = 8)
      val want = probe(path(-2))
      spark.catalog.clearCache()
      if (want == pinned) None
      else Some(s"text: maintained index answers ${pinned.size} rows, " +
        s"a rebuild over the final corpus ${want.size}")
    }
    afterRound(-1); afterRound(-2)
    errors ++ rebuilt
  }

  private var current = 0
  private val seen = mutable.Set.empty[String]
  private val written = mutable.Map.empty[Int, Long].withDefaultValue(0L)

  def round(r: Int): Seq[Op] = { current = r; seen.clear(); ops(r, pin = false) }

  private def listFiles(f: File): Seq[String] =
    if (f.isFile) Seq(f.getPath)
    else Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(listFiles)

  /** Counts the files each op created (parquet part names are unique). */
  override def afterOp(op: Op): Unit = {
    spark.catalog.clearCache()
    val now = listFiles(new File(path(current)))
    written(current) += now.count(p => !seen.contains(p))
    seen ++= now
  }

  override def afterRound(r: Int): Unit = {
    val dir = new File(path(r))
    val (files, bytes) = du(dir)
    liveAtRound(r) = (files, bytes)
    if (r >= 0) spaceAmp += bytes.toDouble / textBytes
    rmrf(dir)
  }

  override def extra(samples: Seq[Sample], walls: Seq[Double])
      : Map[String, (Double, String)] = {
    def p50(kind: String) = percentile(samples.filter(_.kind == kind).map(_.sec), 0.5)
    Map("write_p50_s" -> (p50("write"), "s"), "probe_p50_s" -> (p50("probe"), "s"),
      "space_amp" -> (percentile(spaceAmp.toSeq, 0.5), "ratio"),
      "rows_per_s" -> (stream.rowsPerSecond(samples), "1/s"))
  }

  override def layerExtra(traced: Seq[Int]): Map[String, Double] = {
    val live = traced.flatMap(liveAtRound.get)
    val n = math.max(1, live.size)
    Map("index.live_files" -> live.map(_._1).sum.toDouble / n,
      "index.live_bytes" -> live.map(_._2).sum.toDouble / n,
      "index.files_written" -> traced.map(written).sum.toDouble / n,
      "streaming.backlog_files" -> stream.files.toDouble)
  }
}

/** The Kafka ETL shape over a file source. A seeded backlog of JSON event
  * files (redelivered duplicates, rows out of order within the
  * watermark) is consumed one file per trigger by parse -> dedupByKey ->
  * idempotentParquetSink (the cleaned rows), and the cleaned rows, one
  * file per trigger, by tumblingCounts into a parquet sink. The two run
  * as separate queries because dedupByKey and tumblingCounts each set a
  * watermark, and one query may not redefine it. */
final class StreamEtl(spark: SparkSession, dataDir: String, dir: String,
    seed: Long) {
  import Workloads._
  val files = 3
  private val backlog = s"$dir/backlog"
  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))
  private val tsFormat = Map("timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
  private var events: DataFrame = _
  private var pinCounts: (Long, BigDecimal) = _
  private var pinClean: (Long, BigDecimal) = _
  private var backlogRows = 0L

  private var lines: Seq[(Long, String)] = Nil

  def prepare(): Unit = {
    events = Tables.events(spark, dataDir).select(schema.fieldNames.map(col): _*)
    lines = events.orderBy("ts", "event_id").select(col("ts").cast("long"),
      to_json(struct(col("*")), tsFormat)).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
  }

  /** Write the backlog files (seeded duplicates and disorder). */
  def stage(): Unit = {
    val rng = new Random(seed)
    rmrf(new File(backlog))
    new File(backlog).mkdirs()
    val chunks = lines.grouped(math.ceil(lines.size.toDouble / files).toInt).toVector
    backlogRows = 0L
    chunks.zipWithIndex.foreach { case (c, i) =>
      // rows of a file arrive shuffled (out of order within one trigger,
      // so never behind the watermark); ~3% are redelivered in the same
      // file, and the previous file's last three minutes again here
      val dups = c.filter(_ => rng.nextDouble() < 0.03)
      val carried = if (i == 0) Nil else {
        val prev = chunks(i - 1)
        prev.filter(_._1 >= prev.last._1 - 180)
      }
      val body = rng.shuffle(c ++ dups ++ carried).map(_._2)
      backlogRows += body.size
      Files.write(Paths.get(backlog, f"part-$i%03d.json"),
        body.mkString("", "\n", "\n").getBytes(UTF_8))
    }
  }

  private def countsOut(df: DataFrame) =
    df.select(col("window_start"), col("event_type"), col("n"),
      functions.round(col("total_value"), 6).as("total_value"))

  /** Runs the two queries over the whole backlog; returns one
    * (name, start, end) per micro-batch that read input, and the final
    * watermark of the counts query. */
  private def run(out: String): (Seq[(String, Double, Double)], Double) = {
    new File(out).mkdirs()
    val parsed = spark.readStream.format("text").option("maxFilesPerTrigger", 1)
      .load(backlog)
      .select(from_json(col("value"), schema, tsFormat).as("e")).select("e.*")
    // one output file per trigger, so the counts query below reads each
    // trigger's rows in one batch and never sees them behind its watermark
    val clean = StreamingJobs.idempotentParquetSink(
        StreamingJobs.dedupByKey(parsed, "event_id", "ts").coalesce(1),
        s"$out/clean", Seq("event_id"), s"$out/ckpt-clean")
      .trigger(Trigger.AvailableNow()).start()
    clean.awaitTermination()
    val counts = StreamingJobs.tumblingCounts(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .parquet(s"$out/clean"), "ts", "event_type")
      .writeStream.format("parquet").outputMode("append")
      .option("checkpointLocation", s"$out/ckpt-counts")
      .trigger(Trigger.AvailableNow()).start(s"$out/counts")
    counts.awaitTermination()
    def batches(q: org.apache.spark.sql.streaming.StreamingQuery, n: String) =
      q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
        val s = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        (n, s, s + p.durationMs.get("triggerExecution").doubleValue)
      }
    val wm = java.time.Instant.parse(counts.lastProgress.eventTime.get("watermark"))
    (batches(clean, "stream.clean_batch") ++ batches(counts, "stream.counts_batch"),
      wm.toEpochMilli.toDouble)
  }

  private def sinks(out: String): ((Long, BigDecimal), (Long, BigDecimal)) = (
    checksum(countsOut(spark.read.parquet(s"$out/counts"))),
    checksum(spark.read.parquet(s"$out/clean").select(schema.fieldNames.map(col): _*)))

  /** One op: the pipeline over the backlog, one sample per micro-batch.
    * Its sinks must match the warm-up's, which the warm-up (`pin`)
    * checks against the same computation as batch jobs over the
    * deduplicated events. */
  def op(r: Int, pin: Boolean): Op = {
    val out = s"$dir/r$r"
    var watermark = 0.0
    Op("stream", "batch", "stream", _ => {
      val (parts, wm) = run(out)
      watermark = wm
      Outcome(None, parts)
    }, () => {
      val (c0, k) = sinks(out)
      val c = if (corrupt == "stream") (c0._1 + 1, c0._2) else c0
      rmrf(new File(out))
      if (pin) {
        val dedup = events.dropDuplicates("event_id")
        pinCounts = checksum(countsOut(dedup
          .groupBy(window(col("ts"), "1 minute"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
          .filter(col("window.end") <= lit(watermark / 1e3).cast("timestamp"))
          .select(col("window.start").as("window_start"), col("event_type"),
            col("n"), col("total_value"))))
        pinClean = checksum(dedup)
      }
      Seq(if (c != pinCounts) Some(s"counts sink $c != batch $pinCounts") else None,
        if (k != pinClean) Some(s"clean sink $k != batch $pinClean") else None)
        .flatten.headOption
    })
  }

  /** Backlog rows consumed per second of micro-batch time. */
  def rowsPerSecond(samples: Seq[Sample]): Double = {
    val batches = samples.filter(_.family == "stream")
    val rounds = batches.map(_.round).distinct.size
    val secs = batches.map(_.sec).sum
    if (secs > 0) backlogRows * rounds / secs else 0.0
  }
}
