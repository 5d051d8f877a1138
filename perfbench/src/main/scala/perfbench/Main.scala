package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.GraftSession

/** A metric value with its unit and the number of samples behind it. */
final case class M(value: Double, unit: String, n: Long)

/** What a timed op returned besides its latency. `commitMs` is the
  * time until the op's write was visible, `readMs` the reads it made,
  * `answer` an order-independent digest of everything it returned. */
final case class Outcome(rows: Long, answer: Long = 0L,
    commitMs: Seq[Double] = Nil, readMs: Seq[Double] = Nil,
    bytesWritten: Long = 0L)

/** A generated op: its class and the calls to time. Generating the op
  * (its input rows, its SQL text) happens before the timer starts. */
final case class Op(index: Int, cls: String, run: () => Outcome)

final case class Done(index: Int, cls: String, latMs: Double,
    out: Option[Outcome], error: Option[String]) {
  def ok: Boolean = out.isDefined
}

/** One benchmark workload. Inputs come only from `seed`; `setup` builds
  * them in a fresh directory and warms every op class. */
trait Workload {
  def setup(dir: String): Unit
  def op(i: Int): Op
  /** Correctness errors, checked after the timed window. */
  def check(done: Seq[Done]): Seq[String]
  /** The generated input's profile: rows, bytes, keys, skew, op mix. */
  def profile(done: Seq[Done]): Map[String, Any]
  /** Workload-specific metrics (both runs); keys are metric names. */
  def metrics(done: Seq[Done], elapsedS: Double): Map[String, M]
  /** Per-op layer counters measured outside the spans (traced runs). */
  def layerMetrics(done: Seq[Done]): Map[String, M] = Map.empty
  /** Called after each timed op in traced runs, outside its latency. */
  def afterOpTraced(d: Done): Unit = ()
  /** Called once after the last set-up, before the timed loop. */
  def afterSetup(): Unit = ()
  /** Ops in one pass of the op-class schedule. The timed window ends
    * on a pass boundary, so every run does the same mix of classes. */
  def cycle: Int = 1
}

object Main {
  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, out: String)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", m.getOrElse("--out", "perfbench/out"))
  }

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val args = parse(argv)
    val envStart = Env.snapshot()
    Trace.enabled = args.trace
    val out = new File(args.out).getAbsoluteFile
    val runDir = new File(out, s"work/${args.workload}-${args.seed}-t${if (args.trace) 1 else 0}")
    deleteRecursively(runDir)
    runDir.mkdirs()

    Trace.beginOp(-1)
    val spark = GraftSession.getOrCreate("perfbench")
    val buildS = (System.nanoTime() - t0) / 1e9
    val counters =
      if (args.trace) Some(SparkCounters.register(spark.sparkContext)) else None
    Ledger.counters = counters

    val wl: Workload = args.workload match {
      case "lake" => new Lake(spark, args.seed)
      case "curate" => new Curate(spark, args.seed)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    // Set-up runs once, in a fresh directory, and includes the warm-up
    // of every op class: setup_s is main entry to the first timed op.
    wl.setup(new File(runDir, "data").getPath)
    wl.afterSetup()
    val setupS = (System.nanoTime() - t0) / 1e9

    // Closed loop, one client thread: the next op is sent only after the
    // previous one returned. The window is `seconds` long, rounded up to
    // a whole pass of the workload's schedule.
    val done = mutable.ArrayBuffer.empty[Done]
    val fs0 = FsStats.snapshot()
    val cfs0 = CountingFs.snapshot()
    val gc0 = JvmStats.gcMs
    val loopStart = System.nanoTime()
    val loopStartMs = System.currentTimeMillis()
    val deadline = loopStart + args.seconds * 1000000000L
    var i = 0
    while (i % wl.cycle != 0 || System.nanoTime() < deadline) {
      val op = wl.op(i)
      Trace.beginOp(i)
      val s = System.nanoTime()
      val d = try {
        val o = op.run()
        Done(i, op.cls, (System.nanoTime() - s) / 1e6, Some(o), None)
      } catch {
        case NonFatal(e) =>
          Done(i, op.cls, (System.nanoTime() - s) / 1e6, None,
            Some(s"${e.getClass.getName}: ${e.getMessage}".take(500)))
      }
      done += d
      if (args.trace) wl.afterOpTraced(d)
      i += 1
    }
    val elapsedS = (System.nanoTime() - loopStart) / 1e9
    val loopEndMs = System.currentTimeMillis()
    val fs1 = FsStats.snapshot()
    val cfs1 = CountingFs.snapshot()
    val gc1 = JvmStats.gcMs
    Trace.beginOp(-2)

    val errors = mutable.ArrayBuffer.empty[String]
    done.filterNot(_.ok).foreach(d =>
      errors += s"op ${d.index} (${d.cls}) threw: ${d.error.get}")
    try errors ++= wl.check(done.toSeq)
    catch { case NonFatal(e) => errors += s"check threw: $e" }

    val checkS = (System.nanoTime() - loopStart) / 1e9 - elapsedS
    val okOps = done.filter(_.ok)
    val lat = okOps.map(_.latMs).toSeq
    val reads = okOps.flatMap(_.out.get.readMs).toSeq
    val e2e = mutable.LinkedHashMap[String, M](
      "setup_s" -> M(setupS, "s", 1),
      "throughput_ops_s" -> M(okOps.size / elapsedS, "ops/s", okOps.size),
      "latency_p50_ms" -> M(Stats.median(lat), "ms", lat.size),
      "latency_p90_ms" -> M(Stats.quantile(lat, 0.9), "ms", lat.size),
      "read_p50_ms" -> M(Stats.median(reads), "ms", reads.size),
      "rows_per_s" -> M(okOps.map(_.out.get.rows).sum / elapsedS, "rows/s",
        okOps.size),
      "peak_rss_mb" -> M(JvmStats.peakRssMb, "MB", 1),
      "failed_frac" -> M((done.size - okOps.size + errors.count(!_.startsWith("op ")))
        .toDouble / math.max(1, done.size), "ratio", done.size))
    e2e ++= wl.metrics(done.toSeq, elapsedS)

    val layer = mutable.LinkedHashMap[String, M]()
    layer("session.build_s") = M(buildS, "s", 1)
    if (args.trace) {
      counters.foreach(_.settle())
      layer ++= Ledger.fromSpans(Trace.all)
      counters.foreach(c => layer ++= Ledger.fromSpark(c, Trace.all,
        loopStartMs, loopEndMs, done.size, spark.sparkContext.defaultParallelism))
      layer ++= Ledger.fromFs(FsStats.delta(fs0, fs1),
        FsStats.delta(cfs0, cfs1), done.size)
      layer("jvm.gc_ms") = M((gc1 - gc0).toDouble, "ms", done.size)
      layer("jvm.heap_after_gc_mb") = M(JvmStats.heapAfterGcMb, "MB", 1)
      layer ++= wl.layerMetrics(done.toSeq)
    }
    val envEnd = Env.snapshot()

    val effectiveConf = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" ||
        k.startsWith("spark.driver.") || k == "spark.local.dir" ||
        k == "spark.app.name"
    }
    val record = Map(
      "workload" -> args.workload, "seed" -> args.seed,
      "seconds" -> args.seconds, "trace" -> args.trace,
      "correct" -> errors.isEmpty, "errors" -> errors.take(50).toSeq,
      "attempted" -> done.size, "failed" -> (done.size - okOps.size),
      "elapsed_s" -> elapsedS, "check_s" -> checkS,
      "end_to_end" -> e2e.map { case (k, m) =>
        k -> Map("value" -> m.value, "unit" -> m.unit, "n" -> m.n) },
      "per_layer" -> layer.map { case (k, m) =>
        k -> Map("value" -> m.value, "unit" -> m.unit, "n" -> m.n) },
      "profile" -> wl.profile(done.toSeq),
      "answer_digest" -> done.flatMap(_.out.map(_.answer))
        .foldLeft(17L)((a, h) => a * 1000003L + h),
      "ops" -> done.map(d => Map("i" -> d.index, "cls" -> d.cls,
        "lat_ms" -> d.latMs, "ok" -> d.ok)).toSeq,
      "env" -> (Env.static ++ Map("start" -> envStart, "end" -> envEnd,
        "others_cpu_share" -> Env.othersCpuShare(envStart, envEnd),
        "steal_share" -> Env.stealShare(envStart, envEnd))),
      "effective_conf" -> effectiveConf)
    val tag = s"${args.workload}-seed${args.seed}-t${if (args.trace) 1 else 0}"
    Json.write(new File(out, s"record-$tag.json").getPath, record)
    if (args.trace)
      Json.write(new File(out, s"spans-$tag.json").getPath,
        Trace.all.map(s => Map("id" -> s.id, "parent" -> s.parent,
          "op" -> s.op, "layer" -> s.layer, "metric" -> s.metric,
          "fn" -> s.fn, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
          "dur_ms" -> s.durMs)))

    spark.stop()
    deleteRecursively(runDir)
    // The record is the run's result; run.py prints it as a table and
    // the one-line JSON summary.
    println(s"RECORD ${new File(out, s"record-$tag.json").getPath}")
    System.exit(0)
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
