package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types._

import graft.operators.{IncrementalAgg, IncrementalJoinView, VersionedTable}

/** Lineitem-shaped rows: the key `k` plus TPC-H lineitem columns. Base
  * rows are generated by Spark from (id, seed); CDC rows by a seeded
  * client-side RNG. */
object Lineitem {
  val schema: StructType = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DecimalType(12, 2)),
    StructField("l_extendedprice", DecimalType(12, 2)),
    StructField("l_discount", DecimalType(12, 2)),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", DateType),
    StructField("l_shipmode", StringType),
    StructField("l_comment", StringType)))

  val Parts = 20000
  private val modes = Seq("AIR", "MAIL", "RAIL", "SHIP", "TRUCK", "FOB", "REG AIR")
  private val words = Seq("carefully", "final", "deposits", "sleep", "quickly",
    "regular", "ideas", "haggle", "blithely", "express", "packages", "among")

  private def h(c: org.apache.spark.sql.Column, seed: Long, salt: Int) =
    pmod(xxhash64(c, lit(seed), lit(salt)), lit(Long.MaxValue))

  /** Base rows for keys `[0, n)`, a pure function of (key, seed). */
  def base(spark: SparkSession, n: Long, seed: Long, parts: Int): DataFrame = {
    val id = col("id")
    val modeArr = array(modes.map(lit): _*)
    val wordArr = array(words.map(lit): _*)
    spark.range(0, n, 1, parts).select(
      id.as("k"),
      (id.divide(4).cast("long") + 1).as("l_orderkey"),
      (h(id, seed, 1) % Parts + 1).as("l_partkey"),
      (h(id, seed, 2) % 1000 + 1).as("l_suppkey"),
      (id % 4 + 1).cast("int").as("l_linenumber"),
      ((h(id, seed, 3) % 50 + 1).cast("decimal(12,2)")).as("l_quantity"),
      ((h(id, seed, 4) % 10000000).cast("decimal(12,0)") / 100)
        .cast("decimal(12,2)").as("l_extendedprice"),
      ((h(id, seed, 5) % 11).cast("decimal(12,0)") / 100)
        .cast("decimal(12,2)").as("l_discount"),
      element_at(array(lit("A"), lit("N"), lit("R")),
        (h(id, seed, 6) % 3 + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("F"), lit("O")),
        (h(id, seed, 7) % 2 + 1).cast("int")).as("l_linestatus"),
      date_add(lit(java.sql.Date.valueOf("1992-01-02")),
        (h(id, seed, 8) % 2500).cast("int")).as("l_shipdate"),
      element_at(modeArr, (h(id, seed, 9) % modes.size + 1).cast("int"))
        .as("l_shipmode"),
      concat_ws(" ",
        element_at(wordArr, (h(id, seed, 10) % words.size + 1).cast("int")),
        element_at(wordArr, (h(id, seed, 11) % words.size + 1).cast("int")),
        element_at(wordArr, (h(id, seed, 12) % words.size + 1).cast("int")))
        .as("l_comment"))
  }

  /** The part dimension for keys `[1, Parts]`. */
  def part(spark: SparkSession, seed: Long): DataFrame = {
    def h(salt: Int, mod: Long) = pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(mod))
    spark.range(1, Parts + 1, 1, 1).select(
      col("id").as("p_partkey"),
      concat(lit("part#"), col("id").cast("string")).as("p_name"),
      concat(lit("Brand#"), (h(41, 5) + 1).cast("string"), (h(42, 5) + 1).cast("string"))
        .as("p_brand"),
      (h(43, 50) + 1).cast("int").as("p_size"),
      ((col("id") % 2000 + 90000).cast("decimal(12,0)") / 100).cast("decimal(12,2)")
        .as("p_retailprice"))
  }

  private val day0 = java.time.LocalDate.of(1992, 1, 2)

  /** One CDC row for key `k` drawn from `rng`. */
  def row(k: Long, rng: scala.util.Random): Row = {
    def dec(units: Long) = new java.math.BigDecimal(units).movePointLeft(2)
    val comment = Seq.fill(3)(words(rng.nextInt(words.size))).mkString(" ")
    Row(k, k / 4 + 1, (rng.nextInt(Parts) + 1).toLong,
      (rng.nextInt(1000) + 1).toLong, (k % 4 + 1).toInt,
      dec((rng.nextInt(50) + 1) * 100L), dec(rng.nextInt(10000000).toLong),
      dec(rng.nextInt(11).toLong), Seq("A", "N", "R")(rng.nextInt(3)),
      Seq("F", "O")(rng.nextInt(2)),
      java.sql.Date.valueOf(day0.plusDays(rng.nextInt(2500).toLong)),
      modes(rng.nextInt(modes.size)), comment)
  }

  /** Logical (uncompressed, unencoded) bytes of a row: 8 per long,
    * decimal and date-as-long, 4 per int, the UTF-8 length of strings. */
  def logicalBytes(r: Row): Long =
    8L * 4 + 4 + 8L * 3 + 8 + r.getString(8).length + r.getString(9).length +
      r.getString(11).length + r.getString(12).length

  /** The same measure computed by Spark over a frame of this schema. */
  def logicalBytesCol: org.apache.spark.sql.Column =
    lit(8L * 4 + 4 + 8L * 3 + 8) + length(col("l_returnflag")) +
      length(col("l_linestatus")) + length(col("l_shipmode")) +
      length(col("l_comment"))
}

/** Zipf(s) sampler over ranks `[0, n)` by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val out = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += w(i); out(i) = acc; i += 1 }
    out.map(_ / acc)
  }
  def sample(rng: scala.util.Random): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    if (i >= 0) i else math.min(n - 1, -i - 1)
  }
}

/** The write side of the `lake` workload: CDC apply onto a
  * lineitem-shaped versioned table, with a freshness read after every
  * write, deletion-vector maintenance and two incrementally maintained
  * views. */
final class LakeIngest(spark: SparkSession, seed: Long) {
  import LakeIngest._

  private val zipf = new Zipf(BaseRows.toInt, 1.1)
  // Rank → key permutation: hot keys scatter across the base files.
  private val permA = 7919L * 7919L + 1

  // --- per-setup state ---
  private var dir: String = _
  private[perfbench] var table: String = _
  private[perfbench] var partTable: String = _
  private var hotPartTable: String = _
  private var viewPath: String = _
  private var aggPath: String = _
  private var cdcDir: String = _
  private var streamCk: String = _
  private var nextKey: Long = 0L
  /** Every op in application order, warm-up first. */
  private val applied = mutable.ArrayBuffer.empty[Applied]
  private val fresh = mutable.LinkedHashMap.empty[Int, Long]
  private val freshMs = mutable.ArrayBuffer.empty[Double]
  private var stagingSeq = 0

  private def mkDf(rows: Seq[Row], tomb: Set[Long]): DataFrame =
    spark.createDataFrame(
      rows.map(r => Row.fromSeq(r.toSeq :+ tomb.contains(r.getLong(0)))).asJava,
      Lineitem.schema.add("_deleted", BooleanType, nullable = false))

  def setup(d: String): Unit = {
    dir = d
    table = s"$d/lineitem"
    partTable = s"$d/part"
    hotPartTable = s"$d/part_hot"
    viewPath = s"$d/view_lineitem_part"
    aggPath = s"$d/agg_flag_status"
    cdcDir = s"$d/cdc"
    streamCk = s"$d/stream_ck"
    new File(cdcDir).mkdirs()
    nextKey = BaseRows
    applied.clear()
    fresh.clear()
    freshMs.clear()
    VersionedTable.commit(
      Lineitem.base(spark, BaseRows, seed, BaseFiles), table,
      overwrite = true, statsCols = Seq("k"))
    VersionedTable.commit(Lineitem.part(spark, seed), partTable,
      overwrite = true, statsCols = Seq("p_partkey"))
    // The join view's dimension: every tenth part, so the view holds
    // about a tenth of lineitem.
    VersionedTable.commit(Lineitem.part(spark, seed).where(col("p_partkey") % 10 === 0),
      hotPartTable, overwrite = true, statsCols = Seq("p_partkey"))
    IncrementalJoinView.sync(spark, viewPath, table, hotPartTable,
      Seq("l_partkey" -> "p_partkey"), Seq("k"), Seq("p_partkey"))
    IncrementalAgg.syncChangesFromTable(spark, aggPath, table, AggKeys,
      AggMeasures)
    // Warm-up: one op of every class, applied to the model like any op,
    // and one IVM sync over the first warm-up write.
    WarmupClasses.zipWithIndex.foreach { case (c, j) =>
      opOf(j - WarmupClasses.size, c).run()
      if (j == 0) {
        syncedVersion = VersionedTable.latestVersion(spark, table).get
        ivmSync()
      }
    }
  }

  /** The op-class schedule, the same for every seed (the seed draws the
    * data): [[Block]] after block. */
  private[perfbench] val schedule: IndexedSeq[String] =
    IndexedSeq.fill(1000)(Block).flatten

  /** Batch sizes are uniform on 1-5k but depend only on the op's
    * position, not the seed, so every seed applies the same row counts. */
  private def batchSize(i: Int) = 1000 + Rng(0, i).nextInt(4001)

  private def zipfKey(rng: scala.util.Random): Long =
    (zipf.sample(rng).toLong * permA) % BaseRows

  /** A recent key: appended keys, most recent first (geometric). */
  private def recentKey(rng: scala.util.Random): Long = {
    val back = (-math.log(1 - rng.nextDouble()) * 3000).toLong
    math.max(0L, nextKey - 1 - back)
  }

  private def upserts(i: Int, rng: scala.util.Random): (Seq[Row], Set[Long]) = {
    val n = batchSize(i)
    val keys = mutable.LinkedHashSet.empty[Long]
    while (keys.size < n)
      keys += (if (rng.nextDouble() < 0.8) zipfKey(rng) else recentKey(rng))
    val rows = keys.toSeq.map(k => Lineitem.row(k, rng))
    // deletes favour recent keys
    val tomb = keys.filter(k => k >= BaseRows && rng.nextDouble() < 0.3).toSet ++
      keys.filter(_ => rng.nextDouble() < 0.03)
    (rows, tomb)
  }

  private def write(i: Int, change: Change)(body: => Unit): Outcome = {
    val f0 = FsStats.snapshot()
    val c0 = System.nanoTime()
    body
    val commitMs = (System.nanoTime() - c0) / 1e6
    val written = FsStats.snapshot().getOrElse("bytesWritten", 0L) -
      f0.getOrElse("bytesWritten", 0L)
    applied += Applied(i, change)
    val r0 = System.nanoTime()
    val n = Trace.span("operators.VersionedTable", "vt.count_rows_ms",
      "VersionedTable.countRows")(VersionedTable.countRows(spark, table))
    if (i >= 0) freshMs += (System.nanoTime() - r0) / 1e6
    fresh(i) = n.getOrElse(-1L)
    val rows = change match {
      case Upserts(rs, _) => rs.size.toLong
      case RangeDelete(lo, hi) => hi - lo + 1
    }
    Outcome(rows, answer = n.getOrElse(-1L), commitMs = Seq(commitMs),
      bytesWritten = written)
  }

  def opOf(i: Int, cls: String): Op = {
    val rng = Rng(seed, i)
    cls match {
      case "merge" =>
        val (rows, tomb) = upserts(i, rng)
        val src = mkDf(rows, tomb)
        Op(i, "merge", () => write(i, Upserts(rows, tomb)) {
          Trace.span("operators.VersionedTable", "vt.merge_ms",
            "VersionedTable.mergeInto") {
            VersionedTable.mergeInto(spark, table, src, Seq("k"),
              tombstoneCol = Some("_deleted"), deletionVectors = true)
          }
        })
      case "delete" =>
        val hi = recentKey(rng)
        val lo = math.max(0L, hi - batchSize(i) + 1)
        Op(i, "delete", () => write(i, RangeDelete(lo, hi)) {
          Trace.span("operators.VersionedTable", "vt.delete_ms",
            "VersionedTable.deleteWhere") {
            VersionedTable.deleteWhere(spark, table,
              col("k").between(lo, hi), deletionVectors = true)
          }
        })
      case "append" =>
        val n = batchSize(i)
        val rows = (nextKey until nextKey + n).map(k => Lineitem.row(k, rng))
        nextKey += n
        val df = spark.createDataFrame(rows.asJava, Lineitem.schema)
        Op(i, "append", () => write(i, Upserts(rows, Set.empty)) {
          Trace.span("operators.VersionedTable", "vt.commit_ms",
            "VersionedTable.commit") {
            VersionedTable.commit(df, table, overwrite = false)
          }
        })
      case "stream" =>
        // One CDC file lands in the source directory; one AvailableNow
        // micro-batch applies it through the graft-vt sink.
        val (rows, tomb) = upserts(i, rng)
        stageCdcFile(mkDf(rows, tomb))
        Op(i, "stream", () => write(i, Upserts(rows, tomb))(runStream()))
      case "maintenance" =>
        // the three kinds in turn, each its own graft call
        Op(i, "maintenance", () => {
          MaintenanceKinds.foreach { kind =>
            Trace.span("operators.VersionedTable", "vt.maintenance_ms",
              s"VersionedTable.$kind") {
              kind match {
                case "materializeDvAbove" =>
                  VersionedTable.materializeDvAbove(spark, table,
                    maxMaskedFraction = 0.05, targetFileBytes = TargetFileBytes)
                case "expire" => VersionedTable.expire(spark, table, KeepLast)
                case "compact" =>
                  VersionedTable.compact(spark, table, TargetFileBytes)
              }
            }
          }
          Outcome(0L)
        })
    }
  }

  /** Fold every commit since the last sync into both views. An IVM sync
    * costs several seconds even for a one-commit window, more than a
    * whole timed op mix, so it runs in set-up, after the first warm-up
    * write, and is measured there. */
  private var syncedVersion = -1
  private def ivmSync(): Unit = {
    Trace.span("operators.IVM", "ivm.sync_ms", "IncrementalJoinView.sync") {
      IncrementalJoinView.sync(spark, viewPath, table, hotPartTable,
        Seq("l_partkey" -> "p_partkey"), Seq("k"), Seq("p_partkey"))
    }
    Trace.span("operators.IVM", "ivm.sync_ms", "IncrementalAgg.syncChangesFromTable") {
      IncrementalAgg.syncChangesFromTable(spark, aggPath, table, AggKeys, AggMeasures)
    }
  }

  private def stageCdcFile(df: DataFrame): Unit = {
    stagingSeq += 1
    val tmp = s"$dir/cdc_staging_$stagingSeq"
    df.coalesce(1).write.parquet(tmp)
    val part = new File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
    // rename is atomic: the stream never sees a half-written file
    java.nio.file.Files.move(part.toPath,
      new File(cdcDir, f"batch-$stagingSeq%06d.parquet").toPath)
    Main.deleteRecursively(new File(tmp))
  }

  private def runStream(): Unit = {
    val q = Trace.span("sources", "stream.start_ms", "graft-vt sink start") {
      spark.readStream.schema(Lineitem.schema.add("_deleted", BooleanType))
        .parquet(cdcDir)
        .writeStream.format("graft-vt")
        .option("path", table)
        .option("mergeKeys", "k")
        .option("tombstoneCol", "_deleted")
        .option("deletionVectors", "true")
        .option("txnPrefix", "ingest")
        .option("checkpointLocation", streamCk)
        .outputMode(OutputMode.Update())
        .trigger(Trigger.AvailableNow())
        .start()
    }
    Trace.span("sources", "stream.run_ms", "StreamingQuery.awaitTermination") {
      q.awaitTermination()
    }
    if (Trace.enabled && Trace.currentOp >= 0) q.recentProgress.foreach { p =>
      val d = p.durationMs.asScala
      streamDur("stream.query_planning_ms") += d.get("queryPlanning").map(_.toDouble).getOrElse(0.0)
      streamDur("stream.add_batch_ms") += d.get("addBatch").map(_.toDouble).getOrElse(0.0)
      streamDur("stream.trigger_ms") += d.get("triggerExecution").map(_.toDouble).getOrElse(0.0)
    }
    if (Trace.enabled && Trace.currentOp >= 0) streamRuns += 1
  }

  private val streamDur = mutable.LinkedHashMap(
    "stream.query_planning_ms" -> mutable.ArrayBuffer.empty[Double],
    "stream.add_batch_ms" -> mutable.ArrayBuffer.empty[Double],
    "stream.trigger_ms" -> mutable.ArrayBuffer.empty[Double])
  private var streamRuns = 0

  // ------------------------------------------------------------------ check

  /** Replay the applied ops on a key → writer map (last writer wins,
    * tombstones and range deletes remove). Returns the live count after
    * every op and the final map (writer -1 = base row). */
  private def replay(): (Map[Int, Long], mutable.LongMap[Row]) = {
    val live = mutable.LongMap.empty[Row]
    val baseMark: Row = null
    (0L until BaseRows).foreach(k => live.update(k, baseMark))
    val counts = mutable.LinkedHashMap.empty[Int, Long]
    applied.foreach { a =>
      a.change match {
        case Upserts(rows, tomb) =>
          rows.foreach { r =>
            val k = r.getLong(0)
            if (tomb.contains(k)) live.remove(k) else live.update(k, r)
          }
        case RangeDelete(lo, hi) =>
          var k = lo
          while (k <= hi) { live.remove(k); k += 1 }
      }
      counts(a.index) = live.size.toLong
    }
    (counts.toMap, live)
  }

  private var modelCache: Option[DataFrame] = None

  private def model(live: mutable.LongMap[Row]): DataFrame = {
    // base rows no op replaced or removed
    val touched = (0L until BaseRows).filter(k => live.get(k).forall(_ != null))
    val baseLive = Lineitem.base(spark, BaseRows, seed, BaseFiles)
      .join(spark.createDataFrame(touched.map(Row(_)).asJava,
        StructType(Seq(StructField("k", LongType)))), Seq("k"), "left_anti")
    val winners = live.valuesIterator.filter(_ != null).toSeq
    baseLive.unionByName(spark.createDataFrame(winners.asJava, Lineitem.schema))
  }

  private def sortedCols(df: DataFrame) =
    df.select(df.columns.sorted.map(c => col(s"`$c`")).toIndexedSeq: _*)

  def check(done: Seq[Done]): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    val (counts, live) = replay()
    fresh.foreach { case (i, got) =>
      if (counts.get(i).forall(_ != got))
        errs += s"freshness read after op $i: countRows=$got, model=${counts.get(i)}"
    }
    val m = model(live).localCheckpoint()
    modelCache = Some(m)
    val got = Digest.frame(sortedCols(VersionedTable.read(spark, table)))
    val want = Digest.frame(sortedCols(m))
    if (got != want) errs += s"final table $got != model $want"
    // IVM: both views must equal their definitions at the synced version
    val at = VersionedTable.read(spark, table, Some(syncedVersion))
    val part = VersionedTable.read(spark, hotPartTable)
    val viewWant = Digest.frame(sortedCols(
      at.join(part, at("l_partkey") === part("p_partkey"))))
    val viewGot = Digest.frame(sortedCols(VersionedTable.read(spark, viewPath)))
    if (viewGot != viewWant) errs += s"join view $viewGot != definition $viewWant"
    val aggWant = Digest.frame(sortedCols(IncrementalAgg.partial(at, AggKeys, AggMeasures)))
    val aggGot = Digest.frame(sortedCols(spark.read.parquet(aggPath)))
    if (aggGot != aggWant) errs += s"agg state $aggGot != definition $aggWant"
    errs.toSeq
  }

  // ---------------------------------------------------------------- metrics

  private def cdcBytes: Long = applied.iterator.filter(_.index >= 0).map(_.change)
    .map {
      case Upserts(rows, _) => rows.map(Lineitem.logicalBytes).sum
      case RangeDelete(lo, hi) => 8L * (hi - lo + 1)
    }.sum

  private def dirBytes(p: String): Long = {
    val f = new File(p)
    if (f.isDirectory) Option(f.listFiles).map(_.map(g => dirBytes(g.getPath)).sum).getOrElse(0L)
    else f.length()
  }

  def metrics(done: Seq[Done], elapsedS: Double): Map[String, M] = {
    val ok = done.flatMap(_.out)
    val commits = ok.flatMap(_.commitMs)
    val liveBytes = modelCache.map(_.agg(sum(Lineitem.logicalBytesCol))
      .head().getLong(0)).getOrElse(0L)
    Map(
      "commit_p50_ms" -> M(Stats.median(commits), "ms", commits.size),
      "freshness_read_p50_ms" -> M(Stats.median(freshMs.toSeq), "ms", freshMs.size),
      "write_amp" -> M(ok.map(_.bytesWritten).sum.toDouble / math.max(1L, cdcBytes),
        "ratio", ok.size),
      "space_amp" -> M(dirBytes(table).toDouble / math.max(1L, liveBytes),
        "ratio", 1))
  }

  def profile(done: Seq[Done]): Map[String, Any] = {
    // (the op mix is reported by the composing workload)
    val timed = applied.filter(_.index >= 0)
    val keys = timed.flatMap(_.change match {
      case Upserts(rows, _) => rows.map(_.getLong(0))
      case RangeDelete(lo, hi) => lo to hi
    })
    val freq = keys.groupBy(identity).values.map(_.size).toSeq.sortBy(-_)
    Map("base_rows" -> BaseRows, "cdc_rows" -> keys.size,
      "cdc_logical_bytes" -> cdcBytes, "distinct_keys" -> freq.size,
      "top1pct_key_share" -> (if (keys.isEmpty) 0.0 else
        freq.take(math.max(1, freq.size / 100)).sum.toDouble / keys.size),
      "zipf_s" -> 1.1)
  }

  // ---------------------------------------------------- layer (traced runs)

  private val perCommit = mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
  private var lastListing: Map[String, Long] = Map.empty

  private def listing(): Map[String, Long] = {
    val root = new File(table)
    def walk(f: File, rel: String): Seq[(String, Long)] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten
        .flatMap(g => walk(g, if (rel.isEmpty) g.getName else s"$rel/${g.getName}"))
      else Seq(rel -> f.length())
    walk(root, "").toMap
  }

  def afterOpTraced(d: Done): Unit = {
    val now = listing()
    if (d.ok && d.out.exists(_.commitMs.nonEmpty)) {
      val added = now.filter { case (n, _) => !lastListing.contains(n) }
      val meta = added.filter(_._1.startsWith("_graft_log/")).values.sum
      val dv = added.filter { case (n, _) =>
        !n.startsWith("_graft_log/") && !n.endsWith(".parquet") }.values.sum
      val data = added.filter(_._1.endsWith(".parquet"))
      perCommit += ((data.size.toLong, meta, dv, data.values.sum))
    }
    lastListing = now
  }

  def layerMetrics(done: Seq[Done]): Map[String, M] = {
    val n = perCommit.size.toLong
    def mean(f: ((Long, Long, Long, Long)) => Long) =
      if (n == 0) 0.0 else perCommit.map(f).sum.toDouble / n
    val syncs = Trace.all.filter(_.metric == "ivm.sync_ms")
    val syncJobs = Ledger.counters.map(c => syncs.map(s => Ledger.jobsIn(c, s).size).sum)
      .getOrElse(0)
    val syncOps = syncs.map(_.op).distinct.size
    Map(
      "vt.files_added_per_commit" -> M(mean(_._1), "count", n),
      "vt.manifest_bytes_per_commit" -> M(mean(_._2), "bytes", n),
      "vt.dv_bytes_per_commit" -> M(mean(_._3), "bytes", n),
      "vt.data_bytes_per_commit" -> M(mean(_._4), "bytes", n),
      "ivm.sync_jobs" -> M(if (syncOps == 0) 0.0 else syncJobs.toDouble / syncOps,
        "count", syncOps),
      "stream.runs" -> M(streamRuns.toDouble, "count", streamRuns)) ++
      streamDur.map { case (k, xs) =>
        k -> M(if (xs.isEmpty) 0.0 else xs.sum / math.max(1, streamRuns), "ms", streamRuns)
      }
  }
}

object LakeIngest {
  private sealed trait Change
  private final case class Upserts(rows: Seq[Row], tombstones: Set[Long]) extends Change
  private final case class RangeDelete(lo: Long, hi: Long) extends Change
  private final case class Applied(index: Int, change: Change)

  val BaseRows = 40000L
  val BaseFiles = 4
  val TargetFileBytes = 4L * 1024 * 1024
  val KeepLast = 40
  val MaintenanceKinds = Seq("materializeDvAbove", "expire", "compact")
  /** Six writes with about the nominal mix (3 merge, 1 delete, 1
    * append, 1 stream) and one maintenance op. */
  val Block = Seq("merge", "append", "merge", "maintenance", "stream", "merge", "delete")
  val WriteClasses = Set("merge", "delete", "append", "stream")
  val WarmupClasses =
    Seq("merge", "delete", "append", "stream", "maintenance")
  val AggKeys = Seq("l_returnflag", "l_linestatus")
  val AggMeasures = Seq("l_quantity", "l_extendedprice")
}
