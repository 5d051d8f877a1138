package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Seeded randomness: op `i` of a run with `seed` draws from its own
  * well-mixed stream, so an op's input does not depend on timing. */
object Rng {
  def apply(seed: Long, i: Long): scala.util.Random =
    new scala.util.Random(new java.util.SplittableRandom(
      seed * 0x9E3779B97F4A7C15L + i).nextLong())
}

/** Minimal JSON rendering for the result line and the run record. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case p: Product if p.productArity == 0 => quote(p.toString)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def write(path: String, v: Any): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), render(v).getBytes("UTF-8"))
  }
}

object Stats {
  /** Harrell-Davis quantile: a Beta-weighted mean of all order
    * statistics. A run completes a few ops more or less than another, and
    * op latencies cluster by op class; a single order statistic then
    * jumps across the gap between clusters, this estimate moves
    * smoothly. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else if (xs.size == 1) xs.head
    else {
      val s = xs.sorted
      val n = s.size
      val beta = new org.apache.commons.math3.distribution.BetaDistribution(
        null, (n + 1) * q, (n + 1) * (1 - q))
      s.indices.map { i =>
        (beta.cumulativeProbability((i + 1).toDouble / n) -
          beta.cumulativeProbability(i.toDouble / n)) * s(i)
      }.sum
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Order-independent digests of query answers. Every row and every
  * column contributes, so no answer can be skipped or pruned away. */
object Digest {
  /** Digest of rows already collected (bounded answers). */
  def rows(rs: Array[Row]): Long =
    rs.foldLeft(rs.length.toLong * 0x9E3779B97F4A7C15L) { (acc, r) =>
      val vs = r.toSeq.map {
        case b: java.math.BigDecimal => b.stripTrailingZeros
        case a: scala.collection.Seq[_] => a.toList
        case x => x
      }
      acc + scala.util.hashing.MurmurHash3.seqHash(vs).toLong * 31L +
        scala.util.hashing.MurmurHash3.orderedHash(vs, 0x5eed).toLong
    }

  /** Digest of a DataFrame computed by Spark: row count plus the exact
    * (decimal, so overflow-free and order-free) sum of a 64-bit hash of
    * every column of every row. */
  def frame(df: DataFrame): (Long, java.math.BigDecimal) = {
    val h: Column = xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(38,0)"))).head()
    (r.getLong(0),
      Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  def frameLong(df: DataFrame): Long = combine(frame(df))

  def combine(d: (Long, java.math.BigDecimal)): Long =
    d._1 * 0x9E3779B97F4A7C15L + d._2.longValue()
}

/** Hadoop FileSystem statistics of the local `file` scheme: public
  * counters that executor threads in local mode update synchronously. */
object FsStats {
  def snapshot(): Map[String, Long] = {
    val out = scala.collection.mutable.Map.empty[String, Long]
    val it = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics
      .iterator()
    while (it.hasNext) {
      val st = it.next()
      if (st.getScheme == "file") {
        val ls = st.getLongStatistics
        while (ls.hasNext) {
          val l = ls.next()
          out(l.getName) = out.getOrElse(l.getName, 0L) + l.getValue
        }
      }
    }
    out.toMap
  }

  def delta(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    (a.keySet ++ b.keySet).map(k => k -> (b.getOrElse(k, 0L) - a.getOrElse(k, 0L))).toMap
}

object JvmStats {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Heap in use right after the last collection of each heap pool. */
  def heapAfterGcMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0

  private def statusKb(key: String): Double =
    scala.util.Try(Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(key + ":")).map(_.split("\\s+")(1).toDouble)
      .getOrElse(Double.NaN)).getOrElse(Double.NaN)

  def peakRssMb: Double = statusKb("VmHWM") / 1024.0
}

/** Host state recorded with every run; recorded only, never waited on. */
object Env {
  private def read(p: String): String =
    scala.util.Try(new String(Files.readAllBytes(Paths.get(p))).trim).getOrElse("")

  /** (total jiffies, busy jiffies, steal jiffies) over all CPUs, and
    * this process's own busy jiffies. Steal is time the hypervisor gave
    * this machine's CPUs to other guests. */
  def cpu(): (Long, Long, Long, Long) = {
    val f = read("/proc/stat").linesIterator.find(_.startsWith("cpu "))
      .map(_.split("\\s+").drop(1).map(_.toLong)).getOrElse(Array.fill(8)(0L))
    val total = f.sum
    val idle = f(3) + (if (f.length > 4) f(4) else 0L)
    val self = read("/proc/self/stat").split("\\) ").lastOption
      .map(_.split(" ")).filter(_.length > 12)
      .map(a => a(11).toLong + a(12).toLong).getOrElse(0L)
    (total, total - idle, if (f.length > 7) f(7) else 0L, self)
  }

  def snapshot(): Map[String, Any] = {
    val (t, b, st, s) = cpu()
    Map("loadavg" -> read("/proc/loadavg"), "cpu_total_jiffies" -> t,
      "cpu_busy_jiffies" -> b, "cpu_steal_jiffies" -> st, "self_busy_jiffies" -> s,
      "time_ms" -> System.currentTimeMillis())
  }

  /** Share of all CPU time between two snapshots that other processes
    * used. */
  def othersCpuShare(a: Map[String, Any], b: Map[String, Any]): Double = {
    def l(m: Map[String, Any], k: String) = m(k).asInstanceOf[Long]
    val dt = l(b, "cpu_total_jiffies") - l(a, "cpu_total_jiffies")
    val others = (l(b, "cpu_busy_jiffies") - l(a, "cpu_busy_jiffies")) -
      (l(b, "self_busy_jiffies") - l(a, "self_busy_jiffies"))
    if (dt <= 0) Double.NaN else math.max(0.0, others.toDouble / dt)
  }

  /** Share of all CPU time between two snapshots that was stolen. */
  def stealShare(a: Map[String, Any], b: Map[String, Any]): Double = {
    def l(m: Map[String, Any], k: String) = m(k).asInstanceOf[Long]
    val dt = l(b, "cpu_total_jiffies") - l(a, "cpu_total_jiffies")
    if (dt <= 0) Double.NaN
    else (l(b, "cpu_steal_jiffies") - l(a, "cpu_steal_jiffies")).toDouble / dt
  }

  def static: Map[String, Any] = {
    val rt = ManagementFactory.getRuntimeMXBean
    Map("nproc" -> Runtime.getRuntime.availableProcessors(),
      "java_version" -> System.getProperty("java.version"),
      "jvm" -> System.getProperty("java.vm.name"),
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "scala_version" -> scala.util.Properties.versionNumberString,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jvm_args" -> rt.getInputArguments.asScala.filter(a =>
        a.startsWith("-Xm") || a.startsWith("-XX")).toSeq)
  }
}
