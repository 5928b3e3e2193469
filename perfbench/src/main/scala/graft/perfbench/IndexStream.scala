package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.operators.{GraphIndex, LexIndex, VecIndex}

/** `index-stream`: LLM-data index maintenance over a growing corpus.
  * Set-up builds `VecIndex`, `GraphIndex` and `LexIndex` over a seeded
  * corpus of clustered vectors, each with a document whose words lean
  * to its cluster's topic. Each round hands graft one batch (fresh
  * vectors plus near-duplicates of indexed ones): `VecIndex.ingestDedup`
  * turns the near-duplicates away, then the admitted vectors go through
  * `GraphIndex.ingest` and their documents through `LexIndex.ingest`;
  * then one `GraphIndex.probe` and one `LexIndex.probe` run. The corpus
  * grows with every round, so per-batch cost shows its dependence on
  * corpus size.
  *
  * write = one batch through all three ingests; read = one probe.
  * Correctness: exactly the planted near-duplicates are turned away,
  * graph hits carry their true cosines and are corpus members, lex hits
  * are corpus documents, and at the end the incrementally grown
  * `LexIndex` answers exactly as one built from scratch. Recall@k of
  * the graph probe against exact top-k is reported. */
final class IndexStream(ctx: Ctx) extends Workload {
  import IndexStream._
  private val spark = ctx.spark
  private val initial = if (ctx.opts.tiny) 24 else 48
  private val batchSize = if (ctx.opts.tiny) 16 else 48
  private val dupShare = 0.1

  private var dir = ""
  private def vecRoot = s"$dir/vec"
  private def graphRoot = s"$dir/graph"
  private def lexRoot = s"$dir/lex"

  private val centers = Array.ofDim[Float](Clusters, Dim)
  private val corpus = mutable.LinkedHashMap.empty[Long, Array[Float]]
  private val labels = mutable.Map.empty[Long, Int]
  private val docs = mutable.LinkedHashMap.empty[Long, String]
  private var nextId = FirstId
  private var offered = 0L
  private var admitted = 0L
  private val recalls = mutable.ArrayBuffer.empty[Double]

  private def centIds: Seq[Long] = (FirstId until FirstId + Clusters).toSeq

  private def vector(rng: java.util.Random, c: Int, noise: Double): Array[Float] =
    Array.tabulate(Dim)(d => (centers(c)(d) + noise * rng.nextGaussian()).toFloat)

  private def text(rng: java.util.Random, c: Int): String =
    Seq.fill(12)(if (rng.nextDouble() < 0.6) s"t${c}w${rng.nextInt(10)}"
                 else s"common${rng.nextInt(40)}").mkString(" ")

  private def vecDf(ids: Seq[Long]): DataFrame =
    rowsDf(ids.map(id => (id, corpus(id), labels(id))))
  private def rowsDf(vs: Seq[(Long, Array[Float], Int)]): DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(vs.map { case (id, v, l) => Row(id, v.toSeq, l) }: _*), VecSchema)
  private def docDf(ids: Seq[Long]): DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(ids.map(id => Row(id, docs(id))): _*), DocSchema)

  def setup(d: String): Unit = {
    dir = d
    val rng = new java.util.Random(ctx.opts.seed)
    for (c <- 0 until Clusters; k <- 0 until Dim) centers(c)(k) = rng.nextGaussian().toFloat
    corpus.clear(); labels.clear(); docs.clear(); recalls.clear()
    offered = 0L; admitted = 0L
    nextId = FirstId
    // the first vector of each cluster doubles as its index centroid
    for (k <- 0 until initial) {
      val c = k % Clusters
      corpus(nextId) = vector(rng, c, Noise); labels(nextId) = c; docs(nextId) = text(rng, c)
      nextId += 1
    }
    val ids = corpus.keys.toSeq
    VecIndex.build(spark, vecRoot, vecDf(ids), centIds)
    GraphIndex.build(spark, graphRoot, vecDf(ids), graphK = GraphK, centIds = centIds)
    LexIndex.build(spark, lexRoot, docDf(ids))
  }

  def round(i: Int): Unit = {
    val rng = ctx.rng
    val existing = corpus.keys.toIndexedSeq
    val planted = mutable.Set.empty[Long]
    val batch = (0 until batchSize).map { _ =>
      val id = nextId; nextId += 1
      val c = rng.nextInt(Clusters)
      docs(id) = text(rng, c)
      if (rng.nextDouble() < dupShare) {
        val src = existing(rng.nextInt(existing.size))
        planted += id
        (id, corpus(src).map(x => (x + 1e-5 * rng.nextGaussian()).toFloat), labels(src))
      } else (id, vector(rng, c, Noise), c)
    }
    val batchDf = rowsDf(batch)
    val t = ctx.tracer
    val kept = ctx.timed("write") {
      t.span("index.batch") {
        val kept = t.spanWith("vec.ingest_dedup") {
          val (adm, _) = VecIndex.ingestDedup(spark, vecRoot, batchDf)
          adm.select("vec_id").collect().map(_.getLong(0)).toSeq.sorted
        }(k => Map("offered" -> batch.size.toDouble, "admitted" -> k.size.toDouble))
        val byId = batch.map(b => b._1 -> b).toMap
        kept.foreach { id => corpus(id) = byId(id)._2; labels(id) = byId(id)._3 }
        if (kept.nonEmpty) {
          t.span("graph.ingest") {
            GraphIndex.ingest(spark, graphRoot, vecDf(corpus.keys.toSeq), vecDf(kept),
              graphK = GraphK, centIds = centIds)
          }
          t.span("lex.ingest")(LexIndex.ingest(spark, lexRoot, docDf(kept)))
        }
        kept
      }
    }
    offered += batch.size; admitted += kept.size
    val rejected = batch.map(_._1).filterNot(kept.toSet)
    rejected.foreach(docs.remove)
    ctx.check(rejected.toSet == planted.toSet,
      s"index-stream dedup turned away ${rejected.size} vectors, planted ${planted.size}")

    // probes: fresh query points near random clusters
    val qs = (0 until Queries).map { q =>
      val c = rng.nextInt(Clusters); (q.toLong, vector(rng, c, Noise), c) }
    val qDf = rowsDf(qs)
    val hits = ctx.output(ctx.timed("read") {
      t.span("graph.probe") {
        GraphIndex.probe(spark, graphRoot, qDf, maxQueryId = Queries, k = K, beam = Beam,
          hops = Hops).collect().toSeq
      }
    })
    val qv = qs.map(q => q._1 -> q._2).toMap
    val cosOk = hits.forall { r =>
      corpus.get(r.getAs[Long]("neighbor_id")).exists(v =>
        math.abs(cosine(qv(r.getAs[Long]("q_id")), v) - r.getAs[Double]("cos")) < 1e-3)
    }
    ctx.check(cosOk && hits.size == Queries * K,
      s"index-stream graph probe: ${hits.size} hits (want ${Queries * K}), or a wrong cosine or id")
    for ((q, v, _) <- qs) {
      val exact = corpus.toSeq.sortBy { case (id, c) => (-cosine(v, c), id) }.take(K).map(_._1).toSet
      val got = hits.filter(_.getAs[Long]("q_id") == q).map(_.getAs[Long]("neighbor_id")).toSet
      recalls += got.intersect(exact).size.toDouble / K
    }
    val qDocs = queryDocs(rng)
    val lexHits = ctx.timed("read") {
      t.span("lex.probe")(LexIndex.probe(spark, lexRoot, qDocs, nArm = K).collect().toSeq)
    }
    ctx.check(lexHits.nonEmpty && lexHits.forall(r => corpus.contains(r.getAs[Long]("doc_id"))),
      "index-stream lex probe returned a document outside the corpus")
  }

  private def queryDocs(rng: java.util.Random): DataFrame = spark.createDataFrame(
    java.util.Arrays.asList((0 until Queries).map(q =>
      Row(q.toLong, text(rng, rng.nextInt(Clusters)))): _*), DocSchema)

  def finish(): Unit = {
    // the incrementally grown lex index must answer like a fresh build
    val scratch = s"$dir/lex_scratch"
    LexIndex.build(spark, scratch, docDf(corpus.keys.toSeq))
    val qDocs = queryDocs(new java.util.Random(ctx.opts.seed + 1))
    val grown = LexIndex.probe(spark, lexRoot, qDocs, nArm = K).collect().toSeq
    val fresh = LexIndex.probe(spark, scratch, qDocs, nArm = K).collect().toSeq
    ctx.check(ctx.digest(grown) == ctx.digest(fresh),
      s"index-stream: grown LexIndex (${grown.size} hits) differs from a scratch build (${fresh.size})")
  }

  def setupReps: Int = 2
  def nominalCycleS: Double = 13.0

  def tableRoots: Seq[String] = Seq(vecRoot, graphRoot, lexRoot)
  def liveRows: Long = corpus.size.toLong

  override def layerMetrics: Map[String, Double] = Map(
    "graph.recall_at_k" -> Stats.mean(recalls.toSeq),
    "vec.admit_ratio" -> admitted.toDouble / math.max(1L, offered),
    "index.corpus_growth" -> corpus.size.toDouble / initial)
}

object IndexStream {
  val Dim = 16
  val Clusters = 8
  val Noise = 0.35
  val FirstId = 1000L
  val GraphK = 6
  val Queries = 8
  val K = 5
  val Beam = 4
  val Hops = 2

  val VecSchema: StructType = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = true)),
    StructField("label", IntegerType)))
  val DocSchema: StructType = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType)))

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var k = 0
    while (k < a.length) { dot += a(k) * b(k); na += a(k) * a(k); nb += b(k) * b(k); k += 1 }
    dot / math.sqrt(na * nb)
  }
}
