package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What an op hands back: an error if it failed or returned a wrong
  * result, and optionally the timed parts it consisted of (a streaming
  * run reports one part per micro-batch; every other op is one part). */
final case class Outcome(error: Option[String],
    parts: Seq[(String, Double, Double)] = Nil, rows: Long = 0L)

/** One closed-loop operation of a workload round. `kind` is its op group
  * (analytics, iterative, write, probe, audit, batch); `family` names the
  * index family or pipeline it drives. `verify` checks the op's output
  * after the timed interval. */
final case class Op(name: String, kind: String, family: String,
    body: Ctx => Outcome, verify: () => Option[String] = () => None)

/** What an op body may use: the session, its own op id (spans and job
  * groups), and the recorder when the run is traced. */
final class Ctx(val spark: SparkSession, val opId: Long,
    val rec: Option[Recorder]) {
  def group(suffix: String = ""): Unit =
    spark.sparkContext.setJobGroup(s"op-$opId$suffix", s"perfbench op $opId")
  def child(layer: String, name: String, start: Double, end: Double): Unit =
    rec.foreach(_.span(-1, opId, layer, name, start, end))
}

/** A workload: inputs staged once per set-up, a warm-up that also pins
  * the expected results, and rounds of ops in a seed-driven order. */
trait Workload {
  /** One-time set-up: load inputs, train models (timed as set-up). */
  def prepare(): Unit
  /** Re-stage the inputs (repeatable; its median is part of set-up). */
  def stage(): Unit
  /** Run every op once at bench scale, pin and verify its result.
    * Returns the errors found (a non-empty list fails the run). */
  def warmup(): Seq[String]
  /** The ops of round `r`, in the order the seed gives them. */
  def round(r: Int): Seq[Op]
  /** Untimed clean-up after each op and after each round. */
  def afterOp(op: Op): Unit = ()
  def afterRound(r: Int): Unit = ()
  /** Workload-specific end-to-end figures (name -> (value, unit)), given
    * the timed samples and the wall time of each round. */
  def extra(samples: Seq[Sample], walls: Seq[Double])
      : Map[String, (Double, String)] = Map.empty
  /** Layer figures the workload measures itself, per traced round. */
  def layerExtra(traced: Seq[Int]): Map[String, Double] = Map.empty
}

final case class Sample(round: Int, op: Long, name: String, kind: String,
    family: String, start: Double, end: Double, error: Option[String],
    rows: Long, traced: Boolean) {
  def sec: Double = (end - start) / 1e3
}

object Main {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the whole driver JVM (all threads), in ms. */
  def cpuNow(): Double = os.getProcessCpuTime / 1e6

  def now(): Double = System.nanoTime() / 1e6 - nanoOffset + epochAtStart
  private val epochAtStart = System.currentTimeMillis().toDouble
  private val nanoOffset = System.nanoTime() / 1e6

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workloadName = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.get("trace").contains("1")
    val dataDir = opts("data")
    val workDir = opts("work")
    val out = opts("out")
    // rounds that always run, even past the deadline, so the tail
    // percentile rests on the same sample count on every run
    val minRounds = opts("min-rounds").toInt
    // when the runner launched the JVM (epoch ms), so set-up time includes
    // JVM start; falls back to the JVM's own start time
    val launched = opts.get("launched").map(_.toDouble)
      .getOrElse(ManagementFactory.getRuntimeMXBean.getStartTime.toDouble)
    val cores = graft.core.GraftSession.defaultCores

    val spark = graft.core.GraftSession.local("perfbench", cores)
    val sessionReady = now()
    val workload: Workload = workloadName match {
      case "queries" => new QueryWorkload(spark, dataDir, workDir, seed)
      case "lifecycle" => new LifecycleWorkload(spark, dataDir, workDir, seed)
      case other => sys.error(s"unknown workload $other")
    }
    val p0 = now()
    workload.prepare()
    val prepareMs = now() - p0
    val stageTimes = (1 to 3).map { _ =>
      val t = now(); workload.stage(); now() - t
    }
    val w0 = now()
    val warmErrors = workload.warmup()
    val warmMs = now() - w0
    val rec = if (trace) Some(new Recorder(spark)) else None
    // CPU the JVM spent (all threads, since it started) before the first
    // timed op: set-up cost, which host CPU steal does not inflate
    val setupCpuMs = cpuNow()

    val samples = mutable.ArrayBuffer.empty[Sample]
    // (round, summed op time in ms, traced, summed op CPU time in ms)
    val rounds = mutable.ArrayBuffer.empty[(Int, Double, Boolean, Double)]
    val deadline = now() + seconds * 1e3
    var r = 0
    // Traced runs alternate traced and untraced rounds, so one run gives
    // both the per-layer figures and the tracing overhead.
    while (warmErrors.isEmpty && (r < minRounds || now() < deadline)) {
      val traced = rec.isDefined && r % 2 == 0
      if (traced) rec.foreach(_.attach()) else rec.foreach(_.detach())
      var busy = 0.0
      var cpu = 0.0
      for (op <- workload.round(r)) {
        val id = rec.map(_.newId()).getOrElse(samples.size.toLong)
        val ctx = new Ctx(spark, id, if (traced) rec else None)
        ctx.group()
        val c0 = cpuNow()
        val s = now()
        def failure(e: Throwable) = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
        val outcome = try op.body(ctx) catch { case e: Throwable => Outcome(failure(e)) }
        val e = now()
        cpu += cpuNow() - c0
        spark.sparkContext.clearJobGroup()
        busy += e - s
        ctx.rec.foreach(_.span(-1, id, "op", op.name, s, e))
        val error = outcome.error.orElse(
          try op.verify() catch { case t: Throwable => failure(t) })
        error.foreach(err => log(s"${op.name} failed: $err"))
        log(f"round $r ${op.name} ${(e - s) / 1e3}%.3f s")
        if (outcome.parts.isEmpty)
          samples += Sample(r, id, op.name, op.kind, op.family, s, e, error,
            outcome.rows, traced)
        else outcome.parts.zipWithIndex.foreach { case ((n, ps, pe), i) =>
          samples += Sample(r, id, n, op.kind, op.family, ps, pe,
            if (i == 0) error else None, 0L, traced)
        }
        workload.afterOp(op)
      }
      rounds += ((r, busy, traced, cpu))
      workload.afterRound(r)
      r += 1
    }
    rec.foreach(_.detach())
    val walls = rounds.map(_._2 / 1e3).toSeq

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workloadName, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace,
      "session_s" -> (sessionReady - launched) / 1e3,
      "prepare_s" -> prepareMs / 1e3,
      "stage_s" -> stageTimes.map(_ / 1e3),
      "warmup_s" -> warmMs / 1e3,
      "setup_cpu_s" -> setupCpuMs / 1e3,
      "warmup_errors" -> warmErrors,
      "rounds" -> rounds.map { case (i, ms, t, cpuMs) =>
        Map("round" -> i, "wall_s" -> ms / 1e3, "cpu_s" -> cpuMs / 1e3, "traced" -> t) },
      "samples" -> samples.map(s => Map("round" -> s.round, "name" -> s.name,
        "kind" -> s.kind, "family" -> s.family, "sec" -> s.sec,
        "error" -> s.error.getOrElse(""), "traced" -> s.traced)),
      "extra" -> workload.extra(samples.toSeq, walls).map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) },
      "env" -> Map(
        "cores" -> cores, "master" -> spark.sparkContext.master,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
        "spark" -> spark.version,
        "jdk" -> System.getProperty("java.version"),
        "nproc" -> Runtime.getRuntime.availableProcessors()))
    rec.foreach { rc =>
      val tracedRounds = rounds.filter(_._3).map(_._1).toSeq
      result("layers") = Layers.compute(rc, samples.toSeq,
        rounds.map { case (i, ms, t, _) => (i, ms, t) }.toSeq, cores) ++
        workload.layerExtra(tracedRounds)
      Files.writeString(Paths.get(workDir, "trace.json"),
        Json.of(Map("spans" -> Layers.spansJson(rc, samples.toSeq))))
    }
    result("peak_rss_mb") = peakRssMb()
    Files.writeString(Paths.get(out), Json.of(result))
    spark.stop()
  }

  /** Driver resident-set high-water mark (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
    status.linesIterator.find(_.startsWith("VmHWM:")).map(
      _.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
  }
}
