package perfbench

import java.io.File
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.VersionedTable

/** The read side of the `lake` workload: SQL through the `graft`
  * catalog over the CDC target `lineitem` (versions made by the write
  * side) and dimension tables with their own history (appends,
  * deletion-vector deletes, a rename and a compaction). */
final class LakeReads(spark: SparkSession, seed: Long, ingest: LakeIngest) {
  import LakeReads._

  private var dir: String = _
  private def path(t: String) = t match {
    case "lineitem" => ingest.table
    case "part" => ingest.partTable
    case _ => s"$dir/$t"
  }
  private val rowsCache = mutable.HashMap.empty[(String, Int), Long]
  private def rowsAt(tv: (String, Int)): Long = rowsCache.getOrElseUpdate(tv,
    VersionedTable.countRows(spark, path(tv._1), Some(tv._2)).getOrElse(-1L))
  private def history(t: String) = VersionedTable.versions(spark, path(t))
  private def latest(t: String): Int = history(t).last.version
  /** Every executed SQL op: its text and the versions it read, and its
    * answer. */
  private val answers = mutable.LinkedHashMap.empty[(String, Seq[(String, Int)]), Long]
  private val travelSeen = mutable.HashSet.empty[(String, Int)]
  private var travelReads = 0
  private var travelCold = 0
  private var foldAttempts = 0
  private var foldZeroFiles = 0
  private val planMs = mutable.ArrayBuffer.empty[Double]
  private var cache0 = (0L, 0L)

  // ------------------------------------------------------------- warehouse

  private def build(t: String, df: DataFrame, statsCols: Seq[String]): Unit =
    VersionedTable.commit(df, path(t), overwrite = true, statsCols = statsCols)

  private def append(t: String, df: DataFrame): Unit =
    VersionedTable.commit(df, path(t), overwrite = false)

  private def dvDelete(t: String, pred: org.apache.spark.sql.Column): Unit =
    VersionedTable.deleteWhere(spark, path(t), pred, deletionVectors = true)

  def setup(d: String): Unit = {
    dir = d
    rowsCache.clear()
    answers.clear(); travelSeen.clear(); changes.clear(); generated.clear()
    travelReads = 0; travelCold = 0; foldAttempts = 0; foldZeroFiles = 0
    planMs.clear()
    val orders = spark.range(1, Orders + 1, 1, 2).select(
      col("id").as("o_orderkey"),
      (pmod(xxhash64(col("id"), lit(seed), lit(21)), lit(Customers)) + 1)
        .as("o_custkey"),
      (pmod(xxhash64(col("id"), lit(seed), lit(22)), lit(50000000L))
        .cast("decimal(12,0)") / 100).cast("decimal(12,2)").as("o_totalprice"),
      date_add(lit(java.sql.Date.valueOf("1992-01-01")),
        pmod(xxhash64(col("id"), lit(seed), lit(23)), lit(2400L)).cast("int"))
        .as("o_orderdate"),
      element_at(array(Priorities.map(lit): _*),
        (pmod(xxhash64(col("id"), lit(seed), lit(24)), lit(5L)) + 1).cast("int"))
        .as("o_orderpriority"))
    build("orders", orders.where(col("o_orderkey") <= Orders / 2), Seq("o_orderkey"))
    for (a <- 0 until 2) {
      val lo = Orders / 2 + a * Orders / 4 + 1
      append("orders", orders.where(col("o_orderkey").between(lo, lo + Orders / 4 - 1)))
    }
    dvDelete("orders", col("o_orderpriority") === "5-LOW" && col("o_orderkey") % 3 === 0)

    val customer = spark.range(1, Customers + 1, 1, 1).select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0")).as("c_name"),
      pmod(xxhash64(col("id"), lit(seed), lit(31)), lit(25L)).cast("int").as("c_nationkey"),
      (pmod(xxhash64(col("id"), lit(seed), lit(32)), lit(1100000L)) - 100000)
        .cast("decimal(12,0)").divide(100).cast("decimal(12,2)").as("c_acctbal"),
      element_at(array(Segments.map(lit): _*),
        (pmod(xxhash64(col("id"), lit(seed), lit(33)), lit(5L)) + 1).cast("int"))
        .as("c_mktsegment"))
    build("customer", customer.where(col("c_custkey") <= Customers / 2), Seq("c_custkey"))
    append("customer", customer.where(col("c_custkey") > Customers / 2))

    val events = spark.range(0, Events, 1, 2).select(
      col("id").as("e_id"),
      (pmod(xxhash64(col("id"), lit(seed), lit(51)), lit(Customers)) + 1).as("e_user"),
      (lit(1700000000000000L) + col("id") * 60000000L +
        pmod(xxhash64(col("id"), lit(seed), lit(52)), lit(60000000L)))
        .as("e_ts_us"),
      element_at(array(EventTypes.map(lit): _*),
        (pmod(xxhash64(col("id"), lit(seed), lit(53)), lit(4L)) + 1).cast("int"))
        .as("e_type"),
      (pmod(xxhash64(col("id"), lit(seed), lit(54)), lit(100000L)).cast("decimal(12,0)")
        / 100).cast("decimal(12,2)").as("e_value"))
      .withColumn("e_ts", timestamp_micros(col("e_ts_us"))).drop("e_ts_us")
    build("events", events.where(col("e_id") < Events / 2), Seq("e_id", "e_ts"))
    // renamed before the later history, so every time-travel and change
    // window the reads use shares one schema
    VersionedTable.renameColumn(spark, path("events"), "e_user", "e_customer")
    for (a <- 0 until 2) {
      val lo = Events / 2 + a * Events / 4
      append("events", events.where(col("e_id").between(lo, lo + Events / 4 - 1))
        .withColumnRenamed("e_user", "e_customer"))
    }
    dvDelete("events", col("e_type") === "refund" && col("e_id") % 5 === 0)

    // Warm-up: one query of every class.
    Classes.indices.foreach(c => opOf(-1 - c, Classes(c)).run())
  }

  // ------------------------------------------------------------------- ops

  private def ref(t: String) = s"graft.`${path(t)}`"
  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
    .withZone(ZoneOffset.UTC)

  /** A time-travel target: mostly one of the last few versions, with a
    * tail to the oldest, coldest manifests. */
  private def travelVersion(t: String, nth: Int, rng: scala.util.Random): Int = {
    val vs = history(t).map(_.version)
    if (nth % 5 != 4) vs(math.max(0, vs.size - 2 - rng.nextInt(2)))
    else vs.head
  }

  private def sqlOp(i: Int, cls: String, sql: String,
      reads: Seq[(String, Int)]): Op = Op(i, cls, () => {
    val d0 = if (Trace.enabled) CountingFs.dataOpens.get else 0L
    val t0 = System.nanoTime()
    val df = Trace.span("sources", "vt.read_plan_ms", "spark.sql (VtCatalog)") {
      spark.sql(sql)
    }
    val rows = Trace.span("plans", "plans.execute_ms", "Dataset.collect") {
      df.collect()
    }
    val h = Digest.rows(rows)
    if (Trace.enabled && i >= 0) {
      val ph = df.queryExecution.tracker.phases
      planMs += Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(_.durationMs.toDouble).sum
      if (cls == "fold") {
        foldAttempts += 1
        if (CountingFs.dataOpens.get == d0) foldZeroFiles += 1
      }
    }
    if (i >= 0 && cls == "travel") {
      travelReads += 1
      if (travelSeen.add(reads.head)) travelCold += 1
    }
    answers.get((sql, reads)) match {
      case Some(prev) if prev != h =>
        throw new IllegalStateException(s"answer changed between runs of: $sql")
      case _ => answers((sql, reads)) = h
    }
    // rows_per_s on lake counts the CDC rows the writes apply: how many
    // rows a read returns depends on the seed's parameters
    Outcome(0L, answer = h, readMs = Seq((System.nanoTime() - t0) / 1e6))
  })

  /** How many ops of each class were generated: the query template
    * rotates with it, so every seed runs the same template sequence and
    * the seed draws only the parameters. */
  private val generated = mutable.HashMap.empty[String, Int]

  def opOf(i: Int, cls: String): Op = {
    val rng = Rng(seed, i)
    val nth = generated.getOrElse(cls, 0)
    generated(cls) = nth + 1
    def cur(t: String) = Seq(t -> latest(t))
    cls match {
      case "fold" =>
        nth % 5 match {
          case 0 => sqlOp(i, cls, s"SELECT count(*) FROM ${ref("lineitem")}", cur("lineitem"))
          case 1 => sqlOp(i, cls, s"SELECT min(o_orderkey), max(o_orderkey), count(*) " +
            s"FROM ${ref("orders")}", cur("orders"))
          case 2 =>
            val lo = rng.nextInt(4) * LineitemRows / 4
            sqlOp(i, cls, s"SELECT count(*) FROM ${ref("lineitem")} " +
              s"WHERE k BETWEEN $lo AND ${lo + LineitemRows / 5}", cur("lineitem"))
          case 3 => sqlOp(i, cls, s"SELECT min(e_ts), max(e_ts) FROM ${ref("events")}",
            cur("events"))
          case _ => sqlOp(i, cls, s"SELECT count(*), max(c_custkey) FROM ${ref("customer")}",
            cur("customer"))
        }
      case "lookup" =>
        if (nth % 2 == 0) {
          val k = rng.nextInt(4) * LineitemRows / 4 + 17
          sqlOp(i, cls, s"SELECT * FROM ${ref("lineitem")} WHERE k = $k", cur("lineitem"))
        } else {
          val lo = rng.nextInt(4) * Orders / 4 + 1
          sqlOp(i, cls, s"SELECT o_orderkey, o_totalprice, o_orderdate FROM " +
            s"${ref("orders")} WHERE o_orderkey BETWEEN $lo AND ${lo + 150}", cur("orders"))
        }
      case "join" =>
        nth % 3 match {
          case 0 =>
            val y = 1994 + 2 * rng.nextInt(2)
            sqlOp(i, cls, s"SELECT o.o_orderpriority, count(*) AS n, " +
              s"sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue " +
              s"FROM ${ref("lineitem")} l JOIN ${ref("orders")} o " +
              s"ON l.l_orderkey = o.o_orderkey WHERE o.o_orderdate < DATE '$y-01-01' " +
              s"GROUP BY o.o_orderpriority", cur("lineitem") ++ cur("orders"))
          case 1 =>
            sqlOp(i, cls, s"SELECT c.c_mktsegment, count(*) AS n, sum(o.o_totalprice) AS s " +
              s"FROM ${ref("orders")} o JOIN ${ref("customer")} c " +
              s"ON o.o_custkey = c.c_custkey GROUP BY c.c_mktsegment",
              cur("orders") ++ cur("customer"))
          case _ =>
            val sz = 10 + rng.nextInt(2) * 20
            sqlOp(i, cls, s"SELECT p.p_brand, sum(l.l_quantity) AS q " +
              s"FROM ${ref("lineitem")} l JOIN ${ref("part")} p " +
              s"ON l.l_partkey = p.p_partkey WHERE p.p_size < $sz GROUP BY p.p_brand",
              cur("lineitem") ++ cur("part"))
        }
      case "topk" =>
        if (nth % 2 == 0)
          sqlOp(i, cls, s"SELECT k, l_extendedprice FROM ${ref("lineitem")} " +
            s"ORDER BY l_extendedprice DESC, k LIMIT ${10 * (1 + rng.nextInt(3))}",
            cur("lineitem"))
        else
          sqlOp(i, cls, s"SELECT e_id, e_ts, e_value FROM ${ref("events")} " +
            s"ORDER BY e_ts DESC, e_id LIMIT ${10 * (1 + rng.nextInt(3))}", cur("events"))
      case "travel" =>
        val t = Seq("lineitem", "orders", "events")(nth % 3)
        val v = travelVersion(t, nth, rng)
        val clause =
          if (nth % 2 == 0) s"VERSION AS OF $v"
          else s"TIMESTAMP AS OF '${tsFmt.format(Instant.ofEpochMilli(
            history(t).find(_.version == v).get.timestampMs))}'"
        val body = t match {
          case "lineitem" => s"count(*), sum(l_quantity), max(l_extendedprice)"
          case "orders" => s"count(*), sum(o_totalprice), min(o_orderdate)"
          case _ => s"count(*), sum(e_value), max(e_ts)"
        }
        sqlOp(i, cls, s"SELECT $body FROM ${ref(t)} $clause", Seq(t -> v))
      case "changes" =>
        val t = Seq("lineitem", "orders", "events")(nth % 3)
        val vs = history(t).map(_.version)
        val to = vs.last
        val from = vs(math.max(0, vs.size - 2 - rng.nextInt(2)))
        Op(i, cls, () => {
          val t0 = System.nanoTime()
          val (n, sum) = Trace.span("operators.VersionedTable", "vt.read_changes_ms",
            "VersionedTable.readChangesRange") {
            Digest.frame(VersionedTable.readChangesRange(spark, path(t), from, Some(to)))
          }
          val h = Digest.combine((n, sum))
          changes((t, from, to)) = h
          Outcome(0L, answer = h, readMs = Seq((System.nanoTime() - t0) / 1e6))
        })
    }
  }

  private val changes = mutable.LinkedHashMap.empty[(String, Int, Int), Long]

  // ------------------------------------------------------------------ check

  /** Every SQL answer must equal the same SQL over plain parquet copies
    * of the versions it read (so a metadata fold equals a scan); every
    * change-feed range must equal the plain difference of two copies'
    * row multisets, one version step at a time. */
  def check(): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    val copies = mutable.HashMap.empty[(String, Int), String]
    def copy(t: String, v: Int): String = copies.getOrElseUpdate((t, v), {
      val p = s"$dir/_copies/$t-v$v"
      VersionedTable.read(spark, path(t), Some(v)).write.parquet(p)
      p
    })
    answers.foreach { case ((sql, reads), got) =>
      var plain = sql.replaceAll(" (VERSION|TIMESTAMP) AS OF ('[^']*'|\\d+)", "")
      reads.foreach { case (t, v) =>
        plain = plain.replace(ref(t), s"parquet.`${copy(t, v)}`")
      }
      val want = Digest.rows(spark.sql(plain).collect())
      if (want != got) errs += s"answer differs from the parquet copy: $sql"
    }
    changes.foreach { case ((t, from, to), got) =>
      val want = VersionedTable.readChangesRange(spark, path(t), from, Some(to))
      val again = Digest.combine(Digest.frame(want))
      if (again != got) errs += s"change feed $t ($from, $to] not repeatable"
      // inserts minus deletes, per row, must equal copy(to) minus copy(from)
      val net = want.groupBy(want.columns.filterNot(c => c.startsWith("_")).map(col).toIndexedSeq: _*)
        .agg(sum(when(col("_change_type") === "insert", 1).otherwise(-1)).as("n"))
        .where(col("n") =!= 0)
      val a = spark.read.parquet(copy(t, to))
      val b = spark.read.parquet(copy(t, from))
      val diff = a.groupBy(a.columns.map(col).toIndexedSeq: _*).agg(count(lit(1)).as("na"))
        .join(b.groupBy(b.columns.map(col).toIndexedSeq: _*).agg(count(lit(1)).as("nb")),
          a.columns.toSeq, "full_outer")
        .select((a.columns.map(col).toIndexedSeq :+
          (coalesce(col("na"), lit(0L)) - coalesce(col("nb"), lit(0L))).as("n")): _*)
        .where(col("n") =!= 0)
      if (Digest.frame(net.select(net.columns.sorted.map(col).toIndexedSeq: _*)) !=
          Digest.frame(diff.select(diff.columns.sorted.map(col).toIndexedSeq: _*)))
        errs += s"change feed $t ($from, $to] != difference of the two versions"
    }
    errs.toSeq
  }

  // ---------------------------------------------------------------- metrics

  def profile: Map[String, Any] = Map(
    "tables" -> Tables.map(t => t -> Map("versions" -> history(t).size,
      "live_rows" -> rowsAt((t, latest(t))))).toMap,
    "distinct_queries" -> answers.size,
    "travel_reads" -> travelReads,
    "travel_cold_share" -> (if (travelReads == 0) 0.0 else travelCold.toDouble / travelReads))

  def layerMetrics(ops: Int): Map[String, M] = Map(
    "plans.plan_ms" -> M(if (planMs.isEmpty) 0.0 else planMs.sum / planMs.size, "ms",
      planMs.size),
    "plans.plan_ms.total" -> M(planMs.sum, "ms", planMs.size),
    "plans.meta_fold_ratio" -> M(if (foldAttempts == 0) 0.0
      else foldZeroFiles.toDouble / foldAttempts, "ratio", foldAttempts),
    "vt.entries_cache_hits" -> M((VersionedTable.entriesCacheHits - cache0._1).toDouble,
      "count", ops),
    "vt.segment_cache_hits" -> M((VersionedTable.segmentCacheHits - cache0._2).toDouble,
      "count", ops))

  def markCaches(): Unit =
    cache0 = (VersionedTable.entriesCacheHits, VersionedTable.segmentCacheHits)

  /** Live files and the deletion-vector-masked share of rows over every
    * table at its latest version. */
  def liveFiles: (Int, Double) = {
    val entries = Tables.flatMap(t => VersionedTable.readEntries(spark, path(t), latest(t)))
    val rows = entries.map(_.nRows).sum
    (entries.size, if (rows == 0) 0.0
      else entries.map(e => e.nRows - e.liveRows).sum.toDouble / rows)
  }
}

object LakeReads {
  val LineitemRows: Long = LakeIngest.BaseRows
  val Orders: Int = (LineitemRows / 4).toInt
  val Customers = 1000L
  val Events = 20000L
  val Tables = Seq("lineitem", "orders", "customer", "part", "events")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val EventTypes = Seq("view", "click", "purchase", "refund")
  val Classes = Seq("fold", "lookup", "join", "topk", "travel", "changes")
  /** The op-class order, the same for every seed (the seed draws the
    * parameters): 30% folds, 20% lookups, 20% time travel, 10% each of
    * joins, top-k and change feeds. */
  val Cycle = Seq("fold", "lookup", "travel", "fold", "join", "lookup", "travel",
    "topk", "fold", "changes")
}
