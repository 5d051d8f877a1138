package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ext.{Dedup, SimilaritySearch}
import graft.operators.{TokenPacker, TopKPerKey}

/** Batch training-data curation on a seeded corpus at rest: dedup,
  * embedding near-dups, an IVF + int8 index written, upserted and
  * queried, the exact mutual-kNN graph and token packing. Index queries
  * interleave with the batch stages, the way a curation job serves
  * lookups while it runs. No versioned-table I/O. */
final class Curate(spark: SparkSession, seed: Long) extends Workload {
  import Curate._

  private var dir: String = _
  private def docsPath = s"$dir/docs"
  private def vecsPath = s"$dir/vectors"
  private def indexPath = s"$dir/index"
  private var docCount = 0L
  private var dupShare = 0.0
  /** The index's live candidates, id → vector, and its quantizer. */
  private val live = mutable.LinkedHashMap.empty[Long, Array[Double]]
  private var quantizer: (Double, Array[Array[Double]]) = _
  private var baseVectors: Seq[(Long, Array[Double])] = Nil
  private var nextVecId = 0L
  private val digests = mutable.HashMap.empty[String, Long]
  private val repeatErrors = mutable.ArrayBuffer.empty[String]
  private var recall: Option[(Double, Int)] = None
  private var lastKnn: Option[(DataFrame, DataFrame)] = None
  /** Every index query's inputs and answer, checked after the window. */
  private val ivfAnswers = mutable.ArrayBuffer.empty[IvfAnswer]

  private val vecSchema = StructType(Seq(StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(DoubleType, containsNull = false))))

  private def vecDf(vs: Seq[(Long, Array[Double])]): DataFrame =
    spark.createDataFrame(vs.map { case (i, v) => Row(i, v.toSeq) }.asJava, vecSchema)

  def docs: DataFrame = spark.read.parquet(docsPath)
  def vectors: DataFrame = spark.read.parquet(vecsPath)

  // ---------------------------------------------------------------- corpus

  private def corpus(): Seq[(Long, String)] = {
    val rng = Rng(seed, -100)
    val zipf = new Zipf(Vocab, 1.05)
    val out = mutable.ArrayBuffer.empty[(Long, String)]
    var dups = 0
    for (b <- 0 until BaseDocs) {
      val toks = Array.fill(40 + rng.nextInt(80))(f"w${zipf.sample(rng)}%04d")
      out += ((out.size.toLong, toks.mkString(" ")))
      for (_ <- 0 until rng.nextInt(2 * CopiesPerDoc + 1)) {
        // a copy with 0-10% of its tokens replaced (0% = exact duplicate)
        val m = toks.clone()
        val rate = rng.nextInt(11) / 100.0
        m.indices.foreach(j => if (rng.nextDouble() < rate) m(j) = f"w${zipf.sample(rng)}%04d")
        out += ((out.size.toLong, m.mkString(" ")))
        dups += 1
      }
    }
    dupShare = dups.toDouble / out.size
    out.toSeq
  }

  private def perturb(v: Array[Double], eps: Double, rng: scala.util.Random) =
    v.map(x => x + eps * rng.nextGaussian())

  private def embeddings(): Seq[(Long, Array[Double])] = {
    val rng = Rng(seed, -200)
    val centers = Array.fill(Vectors / 4)(Array.fill(Dim)(rng.nextGaussian()))
    (0 until Vectors).map(i =>
      (i.toLong, perturb(centers(rng.nextInt(centers.length)), 0.15, rng)))
  }

  def setup(d: String): Unit = {
    dir = d
    digests.clear(); repeatErrors.clear(); recall = None; ivfAnswers.clear()
    val c = corpus()
    docCount = c.size
    spark.createDataFrame(c.map { case (i, t) => Row(i, t) }.asJava,
      StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("text", StringType))))
      .repartition(4).write.parquet(docsPath)
    baseVectors = embeddings()
    vecDf(baseVectors).repartition(4).write.parquet(vecsPath)
    nextVecId = Vectors.toLong
    // Warm-up: every stage once, in cycle order (writes the index first).
    (Cycle.distinct.sortBy(c => if (c == "index_write") 0 else 1))
      .foreach(c => runStage(c, -1 - Cycle.indexOf(c), Rng(seed, -300 - Cycle.indexOf(c))))
  }

  // ------------------------------------------------------------------ ops

  override def cycle: Int = Cycle.size

  def op(i: Int): Op = {
    val cls = Cycle(i % Cycle.size)
    val rng = Rng(seed, i)
    Op(i, cls, () => runStage(cls, i, rng))
  }

  private def consume(name: String, df: DataFrame): Long = {
    val h = Digest.frameLong(df)
    digests.get(name) match {
      case Some(p) if p != h => repeatErrors += s"$name answer changed between runs"
      case _ => digests(name) = h
    }
    h
  }

  private def runStage(cls: String, i: Int, rng: scala.util.Random): Outcome = cls match {
    case "dedup_pipeline" =>
      val h = Trace.span("ext", "dedup.pipeline_ms", "Dedup.pipelineKeep") {
        consume(cls, Dedup.pipelineKeep(docs, "doc_id", "text", threshold = Jaccard))
      }
      Outcome(docCount, answer = h)
    case "embedding_pairs" =>
      val h = Trace.span("ext", "dedup.embedding_pairs_ms", "Dedup.embeddingNearDupPairs") {
        consume(cls, Dedup.embeddingNearDupPairs(vectors, "vec_id", "embedding", Cosine))
      }
      Outcome(Vectors, answer = h)
    case "knn_mutual" =>
      val h = Trace.span("ext", "sim.knn_mutual_ms", "TopKPerKey (mutual kNN)") {
        val (tk, graph) = knnMutual(vectors)
        lastKnn = Some((tk, graph))
        consume(cls, graph)
      }
      Outcome(Vectors, answer = h)
    case "token_pack" =>
      val h = Trace.span("ext", "pack.token_pack_ms", "TokenPacker") {
        consume(cls, packed())
      }
      Outcome(docCount, answer = h)
    case "index_write" =>
      quantizer = Trace.span("ext", "sim.index_write_ms", "SimilaritySearch.writeQuantizedIndex") {
        SimilaritySearch.writeQuantizedIndex(vectors, "vec_id", "embedding", indexPath,
          nCentroids = Cells)
      }
      live.clear()
      baseVectors.foreach { case (id, v) => live(id) = v }
      Outcome(Vectors)
    case "index_upsert" =>
      val ids = live.keys.toIndexedSeq
      val picked = rng.shuffle(ids).take(UpsertChanges)
      val (upd, del) = picked.splitAt(UpsertChanges * 2 / 3)
      val ins = (0 until UpsertChanges / 2).map { _ =>
        nextVecId += 1
        (nextVecId, perturb(live(ids(rng.nextInt(ids.size))), 0.05, rng))
      }
      val updV = upd.map(id => (id, perturb(live(id), 0.05, rng)))
      val rows = ins.map { case (id, v) => Row(id, v.toSeq, "I") } ++
        updV.map { case (id, v) => Row(id, v.toSeq, "U") } ++
        del.map(id => Row(id, null, "D"))
      val changes = spark.createDataFrame(rows.asJava,
        vecSchema.add("op", StringType))
      Trace.span("ext", "sim.index_upsert_ms", "SimilaritySearch.upsertQuantizedIndex") {
        SimilaritySearch.upsertQuantizedIndex(changes, "vec_id", "embedding", "op",
          indexPath, quantizer._1, quantizer._2)
      }
      (ins ++ updV).foreach { case (id, v) => live(id) = v }
      del.foreach(live.remove)
      Outcome(rows.size.toLong)
    case "ivf_query" =>
      val qs = queryVecs(rng)
      val queries = vecDf(qs)
      val t0 = System.nanoTime()
      val rows = Trace.span("ext", "sim.ivf_query_ms", "SimilaritySearch.ivfQuantizedTopKAtRest") {
        SimilaritySearch.ivfQuantizedTopKAtRest(spark.read.parquet(indexPath),
          queries, "vec_id", "embedding", K, quantizer._1, quantizer._2, Probes).collect()
      }
      val readMs = (System.nanoTime() - t0) / 1e6
      ivfAnswers += IvfAnswer(i, qs, live.toVector, quantizer, rows)
      Outcome(Queries, answer = Digest.rows(rows), readMs = Seq(readMs))
  }

  private def queryVecs(rng: scala.util.Random): Seq[(Long, Array[Double])] = {
    val ids = live.keys.toIndexedSeq
    (0 until Queries).map(q => (-1L - q, perturb(live(ids(rng.nextInt(ids.size))), 0.1, rng)))
  }

  /** Every ordered pair (q, c) of distinct vectors with its cosine,
    * scored against a broadcast copy. */
  private def pairScores(e: DataFrame): DataFrame = {
    val p = spark.sparkContext.defaultParallelism
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("__va")).repartition(p)
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("__vb"))
    a.crossJoin(broadcast(b))
      .where(col("id_a") < col("id_b"))
      .withColumn("cosine", graft.functions.DetRound.det6(
        Dedup.cosineCol(col("__va"), col("__vb"))))
      .select(explode(array(
        struct(col("id_a").as("q"), col("id_b").as("c"), col("cosine")),
        struct(col("id_b").as("q"), col("id_a").as("c"), col("cosine")))).as("r"))
      .select(col("r.q"), col("r.c"), col("r.cosine"))
  }

  /** The exact mutual-kNN graph: the top k per node of [[pairScores]]
    * kept by [[TopKPerKey]], and a pair kept when each end is in the
    * other's top k. Returns (top-k, graph). */
  private def knnMutual(e: DataFrame): (DataFrame, DataFrame) = {
    val tk = TopKPerKey(pairScores(e), Seq("q"), "cosine", "c", k = K).localCheckpoint()
    val ab = tk.where(col("q") < col("c"))
      .select(col("q").as("id_a"), col("c").as("id_b"), col("cosine"))
    val ba = tk.where(col("q") > col("c")).select(col("c").as("id_a"), col("q").as("id_b"))
    (tk, ab.join(ba, Seq("id_a", "id_b"), "left_semi"))
  }

  private def packed(): DataFrame =
    TokenPacker(docs.withColumn("n_tokens", size(split(col("text"), " "))),
      "n_tokens", PackTokens, Seq(col("doc_id")))

  // ------------------------------------------------------------------ check

  def check(done: Seq[Done]): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String] ++ repeatErrors
    // LSH pairs must carry an exact, verified Jaccard >= the threshold
    val uniq = docs.dropDuplicates("text")
    val lsh = Dedup.minhashLshPairs(uniq, "doc_id", "text", Jaccard)
    val exact = Dedup.jaccardPairs(uniq, "doc_id", "text", Jaccard)
    val unverified = lsh.join(exact, Seq("id_a", "id_b", "jaccard"), "left_anti").count()
    if (unverified > 0) errs += s"$unverified LSH pairs lack an exact Jaccard >= $Jaccard"
    // embedding near-dup pairs equal the all-pairs formulation
    val allPairs = Digest.frameLong(Dedup.embeddingNearDupPairsAllPairs(vectors, "vec_id",
      "embedding", Cosine))
    if (digests.get("embedding_pairs").exists(_ != allPairs))
      errs += "embedding near-dup pairs differ from the all-pairs answer"
    // mutual kNN: the top k equals row_number() over every pair's score;
    // the graph equals the pairs each in the other's exact top k, and is
    // symmetric
    val (tk, graph) = lastKnn.getOrElse(knnMutual(vectors))
    val exactTk = pairScores(vectors)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q")).orderBy(col("cosine").desc, col("c"))))
      .where(col("rank") <= K).localCheckpoint()
    if (Digest.frame(tk.select("q", "c", "cosine", "rank")) != Digest.frame(exactTk))
      errs += "TopKPerKey differs from the exact top k per node"
    val mutual = exactTk.as("x").join(exactTk.as("y"),
        col("x.q") === col("y.c") && col("x.c") === col("y.q") && col("x.q") < col("x.c"))
      .select(col("x.q").as("id_a"), col("x.c").as("id_b"), col("x.cosine").as("cosine"))
    if (Digest.frame(graph.select("id_a", "id_b", "cosine")) != Digest.frame(mutual))
      errs += "mutual-kNN graph differs from the pairs in each other's exact top k"
    val fwd = graph.join(tk.select(col("q").as("id_a"), col("c").as("id_b")),
      Seq("id_a", "id_b"), "left_anti").count()
    val bwd = graph.join(tk.select(col("c").as("id_a"), col("q").as("id_b")),
      Seq("id_a", "id_b"), "left_anti").count()
    if (fwd + bwd > 0) errs += s"mutual-kNN graph is not symmetric ($fwd, $bwd)"
    // token packing: offsets are the running sum of the token counts
    val pk = packed().orderBy("doc_id").select("n_tokens", "start_token", "pack_first",
      "pack_last").collect()
    var run = 0L
    pk.foreach { r =>
      val n = r.getInt(0).toLong
      if (r.getLong(1) != run || r.getLong(2) != run / PackTokens ||
          (n > 0 && r.getLong(3) != (run + n - 1) / PackTokens))
        errs += s"token pack offsets wrong at start $run"
      run += n
    }
    // the upserted index holds exactly the live vectors, each quantized
    // under the frozen quantizer and in its nearest cell
    val want = expectedIndex(live.toSeq, quantizer).map(e => e.id -> e).toMap
    val got = spark.read.parquet(indexPath).select("cand_id", "q", "n", "cell").collect()
    val wrong = got.count { r =>
      want.get(r.getLong(0)).forall(e => !(r.getSeq[Byte](1).map(_.toDouble) == e.q.toSeq &&
        r.getDouble(2) == e.n && r.getInt(3) == e.cell))
    }
    if (got.length != want.size || got.map(_.getLong(0)).toSet != want.keySet || wrong > 0)
      errs += s"index holds ${got.length} rows ($wrong wrong), model ${want.size}"
    // every index query's answer equals the top k of the probed cells
    // scored in int8 space, from the live vectors at the time
    val badQueries = ivfAnswers.filter(a =>
      a.rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet !=
        ivfOracle(a.live, a.queries, a.quantizer, Probes))
    badQueries.take(3).foreach(a => errs += s"ivf query op ${a.op} differs from the probe oracle")
    // IVF at full probe over the upserted index equals the exact int8
    // top k; the selective probe's recall against float brute force
    val qs = queryVecs(Rng(seed, -400))
    val queries = vecDf(qs).localCheckpoint()
    val full = SimilaritySearch.ivfQuantizedTopKAtRest(spark.read.parquet(indexPath), queries,
      "vec_id", "embedding", K, quantizer._1, quantizer._2, Cells).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    if (full != ivfOracle(live.toVector, qs, quantizer, Cells))
      errs += "IVF at full probe differs from the exact int8 top k"
    val liveDf = vecDf(live.toSeq).localCheckpoint()
    val probed = SimilaritySearch.ivfQuantizedTopKAtRest(spark.read.parquet(indexPath),
      queries, "vec_id", "embedding", K, quantizer._1, quantizer._2, Probes)
      .select("query_id", "cand_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = SimilaritySearch.bruteForceTopK(liveDf, queries, "vec_id", "embedding", K)
      .select("query_id", "cand_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    recall = Some((probed.intersect(brute).size.toDouble / math.max(1, brute.size),
      brute.size))
    errs.toSeq
  }

  // ------------------------------------------------------------ IVF oracle

  /** The index rows the live vectors and the quantizer imply: int8
    * codes, their norm and the nearest cell (zero vectors are left out,
    * as the index leaves them out). */
  private def expectedIndex(vs: Seq[(Long, Array[Double])],
      qz: (Double, Array[Array[Double]])): Seq[IndexRow] =
    vs.map { case (id, v) =>
      val q = codes(v, qz._1)
      IndexRow(id, q, norm(q), nearest(qz._2, v, 1).head)
    }.filter(_.n > 0)

  /** The answer of an IVF query over an index of `vs`, computed in
    * plain Scala: each query probes its `probes` nearest cells, every
    * candidate there is scored by int8 cosine, and the top k are kept
    * (ties broken by the smaller id). */
  private def ivfOracle(vs: Seq[(Long, Array[Double])], qs: Seq[(Long, Array[Double])],
      qz: (Double, Array[Array[Double]]), probes: Int): Set[(Long, Long, Double, Int)] = {
    val idx = expectedIndex(vs, qz)
    qs.flatMap { case (qid, v) =>
      val q = codes(v, qz._1)
      val qn = norm(q)
      val cells = nearest(qz._2, v, probes).toSet
      if (qn == 0) Nil
      else idx.filter(e => cells(e.cell) && e.id != qid)
        .map(e => (e.id, det6(dot(q, e.q) / (qn * e.n))))
        .sortBy { case (id, s) => (-s, id) }.take(K).zipWithIndex
        .map { case ((id, s), r) => (qid, id, s, r + 1) }
    }.toSet
  }

  // ---------------------------------------------------------------- metrics

  def metrics(done: Seq[Done], elapsedS: Double): Map[String, M] = Map.empty

  def profile(done: Seq[Done]): Map[String, Any] = Map(
    "docs" -> docCount, "base_docs" -> BaseDocs, "near_or_exact_copy_share" -> dupShare,
    "vectors" -> Vectors, "dim" -> Dim, "index_cells" -> Cells, "probes" -> Probes,
    "k" -> K,
    "op_share" -> done.groupBy(_.cls).map { case (c, ds) => c -> ds.size.toDouble / done.size })

  override def layerMetrics(done: Seq[Done]): Map[String, M] =
    recall.map { case (r, n) => Map("sim.ivf_recall" -> M(r, "ratio", n)) }
      .getOrElse(Map.empty)
}

object Curate {
  final case class IvfAnswer(op: Int, queries: Seq[(Long, Array[Double])],
      live: Seq[(Long, Array[Double])], quantizer: (Double, Array[Array[Double]]),
      rows: Array[Row])
  final case class IndexRow(id: Long, q: Array[Double], n: Double, cell: Int)

  // The int8 quantizer, cell assignment and scoring of the at-rest IVF
  // index, restated in the same floating-point operations.
  def codes(v: Array[Double], scale: Double): Array[Double] =
    v.map(x => math.max(-127.0, math.min(127.0, math.floor(x / scale * 127 + 0.5))))
  def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }
  def norm(a: Array[Double]): Double = math.sqrt(dot(a, a))
  def det6(x: Double): Double = math.floor(x * 1e6 + 0.5).toLong / 1e6
  def nearest(cents: Array[Array[Double]], v: Array[Double], n: Int): Seq[Int] =
    cents.indices.map { c =>
      var d = 0.0; var i = 0
      while (i < v.length) { val x = v(i) - cents(c)(i); d += x * x; i += 1 }
      (c, d)
    }.sortBy(_._2).take(n).map(_._1)

  val BaseDocs = 1000
  val CopiesPerDoc = 1
  val Vocab = 3000
  val Vectors = 2000
  val Dim = 64
  val Cells = 16
  val Probes = 4
  val K = 10
  val Queries = 32
  val UpsertChanges = 60
  val Jaccard = 0.5
  val Cosine = 0.98
  val PackTokens = 512L
  /** One curation pass, two index queries after each batch stage: the
    * queries are two thirds of the ops, so the median op is a query.
    * A run does whole passes. */
  val Cycle: Seq[String] = Seq("dedup_pipeline", "embedding_pairs", "index_upsert",
    "knn_mutual", "token_pack", "index_write").flatMap(s => s +: Seq.fill(2)("ivf_query"))
}
