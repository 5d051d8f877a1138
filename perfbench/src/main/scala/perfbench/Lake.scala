package perfbench

import org.apache.spark.sql.SparkSession

/** CDC writes and SQL reads on one warehouse of versioned tables. The
  * write side ([[LakeIngest]]) applies the CDC stream to `lineitem`;
  * after every write the read side ([[LakeReads]]) sends two SQL queries,
  * so reads see the files, deletion vectors and manifests the writes
  * leave behind. The incrementally maintained views sync in set-up. */
final class Lake(spark: SparkSession, seed: Long) extends Workload {
  private val ingest = new LakeIngest(spark, seed)
  private val reads = new LakeReads(spark, seed, ingest)

  /** (class, is-a-read) per op index, the same for every seed: two
    * reads after every write, so reads are most ops and the median op
    * is a read in every run. */
  private val schedule: IndexedSeq[(String, Boolean)] = {
    val readClasses = Iterator.continually(LakeReads.Cycle).flatten
    ingest.schedule.flatMap { c =>
      if (LakeIngest.WriteClasses.contains(c))
        Seq(c -> false, readClasses.next() -> true, readClasses.next() -> true)
      else Seq(c -> false)
    }
  }

  /** One write block with the reads after its writes. */
  override def cycle: Int =
    LakeIngest.Block.map(c => if (LakeIngest.WriteClasses(c)) 3 else 1).sum

  def setup(dir: String): Unit = {
    ingest.setup(dir)
    reads.setup(dir)
  }

  override def afterSetup(): Unit = reads.markCaches()

  def op(i: Int): Op = {
    val (cls, isRead) = schedule(i)
    if (isRead) reads.opOf(i, cls) else ingest.opOf(i, cls)
  }

  def check(done: Seq[Done]): Seq[String] = ingest.check(done) ++ reads.check()

  def profile(done: Seq[Done]): Map[String, Any] =
    ingest.profile(done) ++ reads.profile ++ Map(
      "op_share" -> done.groupBy(_.cls).map { case (c, ds) => c -> ds.size.toDouble / done.size })

  def metrics(done: Seq[Done], elapsedS: Double): Map[String, M] =
    ingest.metrics(done, elapsedS)

  override def afterOpTraced(d: Done): Unit = ingest.afterOpTraced(d)

  override def layerMetrics(done: Seq[Done]): Map[String, M] = {
    val (files, dvFrac) = reads.liveFiles
    ingest.layerMetrics(done) ++ reads.layerMetrics(done.size) ++ Map(
      "vt.live_files" -> M(files.toDouble, "count", LakeReads.Tables.size),
      "vt.live_dv_frac" -> M(dvFrac, "ratio", LakeReads.Tables.size))
  }
}
