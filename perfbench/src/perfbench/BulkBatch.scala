package perfbench

import graft.index.{Ingest, LocalSearcher, VectorIndex}
import graft.operators.DistanceMetric
import graft.plans.GraftSql

/** `bulk_batch`: one corpus, the four index types built over it, and rounds of
  *   - one 1000-query `VectorIndex.query` batch per index type (k = 10,
  *     default nprobe),
  *   - one SQL `ORDER BY dist_l2(...) LIMIT 10` over the registered IVF_FLAT
  *     table (rewritten into a partition probe by `IndexProbeRewrite`),
  *   - 50 single queries to an IVF_FLAT `LocalSearcher` snapshot.
  * Every query vector is a fresh draw, so none repeats within a run. */
final class BulkBatch(ctx: Ctx) extends Workload {
  import BulkBatch._
  import ctx.spark
  import spark.implicits._

  private val corpusMix = new Mixture(ctx.seed, Dims, Clusters, stream = 0)
  private val ids = Array.tabulate(Corpus)(_.toLong)
  private val vecs = corpusMix.draws(Corpus)
  private val queries = new Mixture(ctx.seed, Dims, Clusters, stream = 1)
  private var dir = ""
  private var local: LocalSearcher = _

  private def uri(ty: String) = s"$dir/${ty.toLowerCase}"

  // Four index builds cost ~13 s warm and ~27 s cold on 4 cores; a third
  // repetition does not fit the run-time budget of the whole benchmark.
  override def setupReps: Int = 2

  override def setup(rec: Recorder, rep: Int): Unit = {
    dir = s"${ctx.work}/knn-$rep"
    val regenerated = new Mixture(ctx.seed, Dims, Clusters, stream = 0).draws(Corpus)
    require(regenerated.corresponds(vecs)(_ sameElements _), "corpus is not reproducible")
    val df = ids.indices.map(i => (ids(i), regenerated(i))).toDF("external_id", "vector")
    Types.foreach { ty =>
      rec.span(s"index.ingest_${ty.toLowerCase}") {
        Ingest.ingest(spark, uri(ty), df, ty, DistanceMetric.L2, timestamp = 1000L)
      }
    }
    local = rec.span("index.local_snapshot") {
      VectorIndex.open(spark, uri("IVF_FLAT")).localSearcher()
    }
    GraftSql.registerIndexTable(spark, Table, uri("IVF_FLAT"))
    if (rep > 0) Util.deleteTree(s"${ctx.work}/knn-${rep - 1}")
  }

  /** Small batches: they run the same code paths at a fraction of the cost. */
  override def warmUp(): Unit =
    round(new Recorder(traced = false, spark.sparkContext),
      new Mixture(ctx.seed, Dims, Clusters, stream = 100), batch = WarmBatch)

  override def measure(rec: Recorder, seconds: Double): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var rounds = 0
    while (rounds == 0 || System.nanoTime() < deadline) {
      round(rec, queries, Batch, Some(deadline).filter(_ => rounds > 0))
      rounds += 1
    }
  }

  /** One round; with a deadline it stops early at a request boundary. */
  private def round(rec: Recorder, queries: Mixture, batch: Int,
      deadline: Option[Long] = None): Unit = {
    def live = deadline.forall(System.nanoTime() < _)
    Types.foreach { ty => if (live) batchQuery(rec, ty, queries.draws(batch)) }
    if (live) sqlTopK(rec, queries.draw())
    (0 until LocalPerRound).foreach { _ => if (live) localQuery(rec, queries.draw()) }
  }

  private def batchQuery(rec: Recorder, ty: String, qs: Array[Array[Float]]): Unit = {
    val out = rec.op("knn_batch", ty) {
      val qdf = qs.indices.map(i => (i.toLong, qs(i))).toDF("qid", "qvec")
      val idx = rec.span("index.open")(VectorIndex.open(spark, uri(ty)))
      val df = rec.span("index.query_construct")(idx.query(qdf, K))
      val rows = rec.span("index.execute")(df.collect())
      Util.notePlans(rec, df)
      rows.map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"), r.getAs[Long]("id")))
    }
    out.foreach { rows =>
      rec.last.results = rows.map(_._1).distinct.length
      rec.check { i =>
        val truth = Truth.topk(ids, vecs, qs, K)
        val byQ = rows.groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._2).map(_._3).toSeq }
        val answers = qs.indices.map(q => byQ.getOrElse(q.toLong, Seq.empty))
        rec.ops(i).recall = answers.indices.map(q => Truth.recall(answers(q), truth(q))).sum / qs.length
        if (ty == "FLAT") {
          val bad = answers.indices.filterNot(q =>
            Truth.exact(answers(q), truth(q), id => vecs(id.toInt), qs(q)))
          if (bad.nonEmpty) rec.fail(i, s"FLAT differs from brute force on ${bad.length} queries")
        }
      }
    }
  }

  private def sqlTopK(rec: Recorder, q: Array[Float]): Unit = {
    val lit = q.map(x => String.format(java.util.Locale.ROOT, "%.9e", Float.box(x)))
      .mkString("cast(array(", ",", ") as array<float>)")
    val out = rec.op("sql_topk", "IVF_FLAT") {
      val df = spark.sql(
        s"SELECT external_id FROM $Table ORDER BY dist_l2(vector, $lit) LIMIT $K")
      val rows = df.collect().map(_.getLong(0))
      Util.notePlans(rec, df)
      rec.note("plans.probe", Map("rewritten" -> (if (Util.probeRewritten(df)) 1.0 else 0.0)))
      rows.toSeq
    }
    out.foreach { got =>
      rec.last.results = 1
      rec.check(i => checkSingle(rec, i, q, got))
    }
  }

  private def localQuery(rec: Recorder, q: Array[Float]): Unit =
    rec.op("local_query", "IVF_FLAT")(local.query(q, K).map(_._1).toSeq).foreach { got =>
      rec.last.results = 1
      rec.check(i => checkSingle(rec, i, q, got))
    }

  override def gauges(): Map[String, Double] = {
    val (bytes, files) = Util.du(dir)
    Map("storage_bytes" -> bytes.toDouble, "storage_files" -> files.toDouble,
      "live_vectors" -> Types.length.toDouble * Corpus, "dims" -> Dims.toDouble)
  }

  /** A single top-k answer: k distinct ids in ascending true distance. */
  private def checkSingle(rec: Recorder, i: Int, q: Array[Float], got: Seq[Long]): Unit = {
    val d = got.map(id => Truth.sos(q, vecs(id.toInt)))
    if (got.length != K || got.distinct.length != K ||
        d.zip(d.drop(1)).exists { case (a, b) => b < a - 1e-5 * math.max(1.0, a) })
      rec.fail(i, s"not $K distinct ids in distance order")
    rec.ops(i).recall = Truth.recall(got, Truth.topk(ids, vecs, Array(q), K).head)
  }
}

object BulkBatch {
  val Corpus = 4500
  val Dims = 64
  val Clusters = 100
  val K = 10
  val Batch = 1000
  val WarmBatch = 16
  val LocalPerRound = 50
  val Types = Seq("FLAT", "IVF_FLAT", "IVF_PQ", "VAMANA")
  val Table = "perfbench_vecs"
}
