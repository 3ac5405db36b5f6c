package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.objects.{HashTextEmbedding, ObjectIndex, ParquetTableReader}
import graft.operators.DistanceMetric
import graft.text.{Bm25, Dedup, TextOps}

/** `curation`: the LLM-data-pipeline layers over a seeded document corpus in
  * which every original text appears as 4 documents — itself and 3 copies
  * that each drop one word — so the dedup stages find real near-duplicates.
  * Each pass runs quality + Gopher rules → `Dedup.exactGroups` →
  * `Dedup.dedupAssignments` (MinHash-LSH, 0.8) → `Dedup.duplicationScore` →
  * `Bm25.fit` → `Bm25.topkIndexed` for 64 query docs → filtered
  * `ObjectIndex.query` batches over an object index built at set-up. */
final class Curation(ctx: Ctx) extends Workload {
  import Curation._
  import ctx.spark
  import spark.implicits._

  private val texts: Array[String] = Curation.corpus(ctx.seed)
  private val bucketOf: Long => Int = id => (id % Buckets).toInt
  private val pick = new Mixture(ctx.seed, 1, 1, stream = 3)
  private var dir = ""
  private var objects: ObjectIndex = _
  private lazy val embedded: Array[Array[Float]] = {
    val byId = new HashTextEmbedding(EmbedDims)
      .embed(texts.indices.iterator.map(i => (i.toLong, texts(i))))
      .map(t => t._1 -> t._3).toMap
    texts.indices.map(i => byId(i.toLong)).toArray
  }

  private def docs: DataFrame = spark.read.parquet(s"$dir/documents")

  override def setup(rec: Recorder, rep: Int): Unit = {
    dir = s"${ctx.work}/curation-$rep"
    require(Curation.corpus(ctx.seed).sameElements(texts), "corpus is not reproducible")
    texts.indices.map(i => (i.toLong, texts(i), bucketOf(i.toLong))).toDF("doc_id", "text", "bucket")
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$dir/documents")
    objects = rec.span("objects.create") {
      ObjectIndex.create(spark, s"$dir/objects",
        new ParquetTableReader(s"$dir/documents", idCol = "doc_id"),
        new HashTextEmbedding(EmbedDims), indexType = "IVF_FLAT",
        metric = DistanceMetric.Cosine, timestamp = 1000L)
    }
    if (rep > 0) Util.deleteTree(s"${ctx.work}/curation-${rep - 1}")
  }

  /** One object-index query, the serving path. The pipeline stages get no
    * warm-up: a curation pass is a batch job that runs once per process, so
    * the measured pass includes its one-time code generation — and a warm-up
    * pass would double the cost of every run. */
  override def warmUp(): Unit = objectQuery(new Recorder(traced = false, spark.sparkContext))

  override def measure(rec: Recorder, seconds: Double): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var passes = 0
    while (passes == 0 || System.nanoTime() < deadline) { pass(rec); passes += 1 }
  }

  /** One pipeline stage over the whole corpus; its result count is the
    * number of documents it processed. */
  private def stage[A](rec: Recorder, name: String)(f: => A): Option[A] = {
    val r = rec.op("curation", name)(rec.span(s"text.$name")(f))
    if (r.isDefined) rec.last.results = texts.length
    r
  }

  private def pass(rec: Recorder): Unit = {
    stage(rec, "quality") {
      val g = TextOps.gopherRules(col("text")).last._2
      docs.agg(sum(when(g, 1L).otherwise(0L)), avg(TextOps.qualityScore(col("text")))).collect()
    }
    stage(rec, "exact_dedup")(Dedup.exactGroups(docs).count()).foreach { groups =>
      val distinct = texts.distinct.length.toLong
      rec.check { i =>
        if (groups != distinct) rec.fail(i, s"$groups exact-dup groups, expected $distinct")
      }
    }
    stage(rec, "minhash_dedup") {
      Dedup.dedupAssignments(docs, 0.8).where(!col("is_canonical")).count()
    }.foreach { pairs => rec.note("text.dedup", Map("pairs" -> pairs.toDouble)) }
    stage(rec, "dup_score")(Dedup.duplicationScore(docs).agg(avg("dup_permille")).collect())
    stage(rec, "bm25_fit")(Bm25.fit(docs, s"$dir/bm25"))
    val qids = Array.fill(Bm25Queries)(pick.nextInt(texts.length).toLong).distinct
    stage(rec, "bm25_topk") {
      val q = qids.map(id => (id, texts(id.toInt))).toSeq.toDF("doc_id", "text")
      Bm25.topkIndexed(spark, q, K, s"$dir/bm25").select("qid", "id").as[(Long, Long)].collect()
    }.foreach { hits =>
      rec.last.results = hits.map(_._1).distinct.length
      rec.check { i =>
        val own = hits.groupBy(_._1).map { case (q, hs) => q -> hs.map(_._2).toSet }
        val missing = qids.count(q => !own.getOrElse(q, Set.empty[Long]).contains(q))
        if (missing > 0) rec.fail(i, s"$missing BM25 query docs miss their own top $K")
      }
    }
    (0 until ObjectQueries).foreach(_ => objectQuery(rec))
  }

  /** One filtered object-index batch; recall against brute force over the
    * same embeddings restricted to the allowed buckets. */
  private def objectQuery(rec: Recorder): Unit = {
    val qids = Array.fill(ObjectBatch)(pick.nextInt(texts.length).toLong)
    val out = rec.op("knn_batch", "object") {
      val q = qids.indices.map(i => (i.toLong, texts(qids(i).toInt))).toDF("qid", "text")
      val rows = rec.span("objects.search") {
        objects.query(q, K, metadataCond = Some(s"bucket < $AllowedBuckets")).collect()
      }
      rows.map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"), r.getAs[Long]("external_id")))
    }
    out.foreach { rows =>
      rec.last.results = rows.map(_._1).distinct.length
      rec.check { i =>
        val allowed = texts.indices.filter(j => bucketOf(j.toLong) < AllowedBuckets)
        val truth = Truth.topk(allowed.map(_.toLong).toArray, allowed.map(embedded).toArray,
          qids.map(id => embedded(id.toInt)), K)
        val byQ = rows.groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._2).map(_._3).toSeq }
        val answers = qids.indices.map(q => byQ.getOrElse(q.toLong, Seq.empty))
        rec.ops(i).recall = answers.indices.map(q => Truth.recall(answers(q), truth(q))).sum / qids.length
        if (answers.exists(_.exists(id => bucketOf(id) >= AllowedBuckets)))
          rec.fail(i, "an object outside the metadata filter came back")
      }
    }
  }

  override def gauges(): Map[String, Double] = Map("docs" -> texts.length.toDouble)
}

object Curation {
  val Originals = 250
  val Copies = 4
  val WordsMin = 40
  val WordsMax = 120
  val Vocabulary = 4000
  val Buckets = 8
  val AllowedBuckets = 4
  val EmbedDims = 64
  val K = 10
  val Bm25Queries = 64
  val ObjectQueries = 6
  val ObjectBatch = 16

  private val stopwords = Seq("the", "be", "to", "of", "and", "that", "have", "with",
    "a", "in", "is", "it", "for", "on", "as")

  /** Originals × copies documents. Words are drawn Zipf-like from a seeded
    * vocabulary mixed with stopwords; texts shorter than 50 words fail the
    * Gopher word-count rule, so the quality stage keeps only part. Copy 0
    * is the original; copies 1-3 each drop one distinct word position. */
  def corpus(seed: Long): Array[String] = {
    val rnd = new java.util.SplittableRandom(seed * 7919L + 11L)
    val letters = "abcdefghijklmnopqrstuvwxyz"
    val vocab = Array.fill(Vocabulary) {
      val n = 3 + rnd.nextInt(7)
      (0 until n).map(_ => letters.charAt(rnd.nextInt(26))).mkString
    }
    def word(): String =
      if (rnd.nextInt(4) == 0) stopwords(rnd.nextInt(stopwords.length))
      else vocab(math.min(Vocabulary - 1, (Vocabulary * math.pow(rnd.nextDouble(), 2.5)).toInt))
    (0 until Originals).toArray.flatMap { _ =>
      val words = Array.fill(WordsMin + rnd.nextInt(WordsMax - WordsMin + 1))(word())
      val drops = scala.util.Random.javaRandomToRandom(new java.util.Random(rnd.nextLong()))
        .shuffle(words.indices.toList).take(Copies - 1)
      words.mkString(" ") +: drops.map(d => words.patch(d, Nil, 1).mkString(" ")).toArray
    }
  }
}
