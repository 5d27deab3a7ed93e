package fsbench

import graft.fs.{FeatureCatalog, FeatureDef, FeatureGroup}
import graft.functions.TextFns
import graft.FsbenchAccess
import graft.operators.{Dedup, Similarity}
import graft.plans.{CentroidArgmax, CosineSim, HashedShingles, MinHashBands}
import graft.streaming.StreamingFeatures
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Seeded document generator: Zipf-worded texts of 40-60 words, each
  * with an embedding drawn around one of `clusters` unit centers. A
  * `dupShare` of documents are near-duplicates of an earlier one: one
  * or two words replaced, the embedding perturbed by small noise. */
final class Corpus(seed: Long, val dupShare: Double, val clusters: Int, val dim: Int) {
  private val rnd = new java.util.Random(seed)
  private val vocab = Array.fill(4000) {
    (0 until 3 + rnd.nextInt(6)).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
  }
  private val wordCdf = {
    val c = vocab.indices.map(i => 1.0 / (i + 1)).scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last).toArray
  }
  val centers: Array[Array[Double]] =
    Array.fill(clusters)(Corpus.unit(Array.fill(dim)(rnd.nextGaussian())))
  val texts = mutable.ArrayBuffer.empty[Array[String]]
  val vecs = mutable.ArrayBuffer.empty[Array[Double]]
  var nearDups = 0

  private def word(): String = {
    val i = java.util.Arrays.binarySearch(wordCdf, rnd.nextDouble())
    vocab(math.min(vocab.length - 1, if (i >= 0) i else -i - 1))
  }
  private def around(v: Array[Double], sd: Double): Array[Double] =
    Corpus.unit(v.map(_ + rnd.nextGaussian() * sd))

  /** Appends the next document; its id is its index. */
  def next(): Int = {
    if (texts.nonEmpty && rnd.nextDouble() < dupShare) {
      val src = rnd.nextInt(texts.size)
      val words = texts(src).clone()
      (0 until 1 + rnd.nextInt(2)).foreach(_ => words(rnd.nextInt(words.length)) = word())
      texts += words
      vecs += around(vecs(src), 0.02)
      nearDups += 1
    } else {
      texts += Array.fill(40 + rnd.nextInt(21))(word())
      vecs += around(centers(rnd.nextInt(clusters)), 0.1)
    }
    texts.size - 1
  }

  /** A query vector from the corpus distribution, never stored. */
  def query(): Array[Double] = around(centers(rnd.nextInt(clusters)), 0.1)

  def text(id: Int): String = texts(id).mkString(" ")

  /** Word 3-gram shingles, as the engine's `Dedup.shingles` defines them. */
  def shingles(id: Int): Set[String] = {
    val w = texts(id)
    if (w.length < 3) Set(w.mkString(" ")) else w.sliding(3).map(_.mkString(" ")).toSet
  }

  def rows(ids: Seq[Int]): Seq[(Long, String, Seq[Double])] =
    ids.map(i => (i.toLong, text(i), vecs(i).toSeq))

  def bytes(id: Int): Long = text(id).getBytes("UTF-8").length + 8L + 8L * dim
}

object Corpus {
  def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }
  def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }
  def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
}

/** Exact shingle-Jaccard lookups over a growing set of documents. */
final class JaccardPool(corpus: Corpus) {
  private val postings = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
  def add(id: Int): Unit =
    corpus.shingles(id).foreach(s => postings.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += id)
  /** Highest exact Jaccard between `id` and any other pooled document. */
  def best(id: Int): Double = {
    val sh = corpus.shingles(id)
    val cands = sh.iterator.flatMap(s => postings.getOrElse(s, Nil)).filter(_ != id).toSet
    if (cands.isEmpty) 0.0
    else cands.iterator.map { c =>
      val o = corpus.shingles(c)
      sh.count(o).toDouble / (sh.size + o.size - sh.count(o))
    }.max
  }
}

/** `corpus_gate`: the LLM data pipeline. It builds the MinHash and IVF
  * indexes over a generated corpus and runs one batch near-duplicate
  * pass. Each slice of the measured loop then compacts both indexes and
  * sends one micro-batch through the lexical (MinHash) gate and the
  * semantic (IVF) gate, which probe and append to the indexes; top-10
  * ANN requests fill the rest of the slice. The feature store is idle
  * apart from set-up. */
final class CorpusGate(seed: Long) extends Workload {
  val BaseDocs = 500
  val BatchDocs = 100
  val DupShare = 0.3
  val Clusters = 32
  val Dim = 64
  val Cells = 32
  val NProbe = 2
  val Queries = 10
  val K = 10
  val Slices = 2
  val MinRequests = 5
  val Threshold = 0.7
  /** Copies of the corpus the per-expression rates run over. */
  val PlanReplicas = 4

  def catalog = (Seq(FeatureDef("doc_text", "document", "str"),
      FeatureDef("doc_embedding", "document", "list")),
    Seq(FeatureGroup("corpus", 1, Seq("doc_text", "doc_embedding"), "doc_id")))
  def checkNames = Seq("dropped_has_partner", "index_rows", "ann_scores",
    "brute_force_top10")

  def run(r: Run, work: String, cat: FeatureCatalog): Unit = {
    val spark = r.spark
    import spark.implicits._
    val c = new Corpus(seed, DupShare, Clusters, Dim)
    val mhDir = s"$work/store/minhash"
    val ivfDir = s"$work/store/ivf"
    val lexSink = s"$work/store/lexical_sink"
    (0 until BaseDocs).foreach(_ => c.next())
    c.rows(0 until BaseDocs).toDF("doc_id", "text", "embedding")
      .write.parquet(s"$work/input/corpus")
    val base = spark.read.parquet(s"$work/input/corpus")
    val baseVecs = base.select(col("doc_id").as("vec_id"), col("embedding"))

    // documents the MinHash index holds, and the ids the IVF index holds
    val lexPool = new JaccardPool(c)
    (0 until BaseDocs).foreach(lexPool.add)
    val members = mutable.ArrayBuffer.empty[Int]
    members ++= 0 until BaseDocs
    var qid = 1000000000L

    // bulk load: both index builds; then one batch near-dup pass
    r.op("load")(r.call("operators.Dedup")(
      Dedup.buildMinhashIndex(base, "text", "doc_id", mhDir)))
    r.op("load")(r.call("operators.Similarity")(
      Similarity.buildIvfIndex(baseVecs, "vec_id", "embedding", ivfDir, nCells = Cells)))
    r.op("bulk")(r.call("operators.Dedup")(
      Dedup.dropNearDuplicates(base, "text", "doc_id", threshold = Threshold)
        .select("doc_id").as[Long].collect())).foreach { kept =>
      val keptSet = kept.toSet
      r.layerExtra("operators.Dedup.rows_out_per_row_in") = kept.length.toDouble / BaseDocs
      r.check("dropped_has_partner")((0 until BaseDocs).filterNot(i => keptSet(i.toLong))
        .forall(i => lexPool.best(i) >= Threshold - 5e-7))
    }

    r.heapCheckpoint()
    var batchesIn = 0L
    var batchesKept = 0L
    val annSpans = mutable.ArrayBuffer.empty[Int]
    var annRows = 0L
    val deltaFiles = mutable.ArrayBuffer.empty[Double]
    def gate(kind: String, batchId: Long): Unit = {
      val ids = (0 until BatchDocs).map(_ => c.next())
      val batch = c.rows(ids).toDF("doc_id", "text", "embedding")
      r.op(kind) {
        // the gate's text corpus: the bootstrap corpus and everything the
        // lexical gate kept so far, listed afresh for every micro-batch
        val sunk = try spark.read.parquet(lexSink)
          catch { case _: org.apache.spark.sql.AnalysisException => base.limit(0) }
        val lexCorpus = base.select("doc_id", "text").unionByName(sunk.select("doc_id", "text"))
        val lex = r.call("streaming.StreamingFeatures")(StreamingFeatures
          .minhashGateBatch(batch, lexCorpus, "text", "doc_id", mhDir, batchId,
            threshold = Threshold))
        lex.select("doc_id", "text").write.mode("append").parquet(lexSink)
        val sem = r.call("streaming.StreamingFeatures")(StreamingFeatures
          .semanticGateBatch(lex.select(col("doc_id").as("vec_id"), col("embedding")),
            "vec_id", "embedding", ivfDir, batchId))
        (lex.select("doc_id").as[Long].collect(), sem.select("vec_id").as[Long].collect())
      }.foreach { case (lexKept, semKept) =>
        val lexSet = lexKept.map(_.toInt).toSet
        r.check("dropped_has_partner") {
          // a dropped document's partner is an indexed document or an
          // earlier one of its own batch
          val earlier = new JaccardPool(c)
          ids.forall { i =>
            val ok = lexSet(i) || math.max(lexPool.best(i), earlier.best(i)) >= Threshold - 5e-7
            earlier.add(i)
            ok
          }
        }
        lexSet.foreach(lexPool.add)
        batchesIn += ids.size
        batchesKept += semKept.length
        members ++= semKept.map(_.toInt)
      }
    }
    /** One top-10 ANN request: records its recall and checks every score
      * against an exact cosine. */
    def ann(kind: String): Unit = {
      val qs = (0 until Queries).map { _ => qid += 1; qid -> c.query() }
      val qv = qs.toMap
      val qdf = qs.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
      val n0 = r.tracer.spans.size
      r.op(kind)(r.call("operators.Similarity")(Similarity
        .ivfTopKFromIndex(qdf, ivfDir, "vec_id", "embedding", K, nProbe = NProbe)
        .select("query_id", "neighbor_id", "sim").as[(Long, Long, Double)].collect()))
        .foreach { rows =>
          annSpans ++= r.tracer.spans.drop(n0).filter(_.layer == "operators.Similarity").map(_.id)
          annRows += rows.length
          val memberSet = members.toSet
          r.check("ann_scores")(rows.forall { case (q, n, sim) =>
            memberSet(n.toInt) &&
              math.abs(sim - Corpus.round6(Corpus.cosine(qv(q), c.vecs(n.toInt)))) <= 1.5e-6
          })
          r.paused {
            val recall = qs.map { case (q, v) =>
              val exact = members.sortBy(m => -Corpus.cosine(v, c.vecs(m))).take(K).map(_.toLong).toSet
              rows.count { case (qq, n, _) => qq == q && exact(n) }.toDouble / K
            }
            r.sample("recall", recall.sum / recall.size)
          }
          if (!r.checks.contains("brute_force_top10")) r.check("brute_force_top10") {
            val idx = c.rows(members.toSeq).map { case (id, _, v) => (id, v) }
              .toDF("vec_id", "embedding")
            val brute = Similarity.bruteForceTopK(qdf, idx, "vec_id", "embedding", K)
              .select("query_id", "sim").as[(Long, Double)].collect()
            qs.forall { case (q, v) =>
              val want = members.map(m => Corpus.round6(Corpus.cosine(v, c.vecs(m))))
                .sorted(Ordering[Double].reverse).take(K)
              val got = brute.filter(_._1 == q).map(_._2).sorted(Ordering[Double].reverse)
              got.length == K && got.zip(want).forall { case (a, b) => math.abs(a - b) <= 1.5e-6 }
            }
          }
        }
    }
    def compact(): Unit = {
      if (r.tracer.enabled) r.paused(deltaFiles += r.call("operators.IndexLayout")(
        FsbenchAccess.dataFileCount(spark, s"$mhDir/bands") +
          FsbenchAccess.dataFileCount(spark, s"$ivfDir/assigned")).toDouble)
      r.op("compact") {
        r.call("operators.Dedup")(Dedup.compactMinhashIndex(spark, mhDir))
        r.call("operators.Similarity")(Similarity.compactIvfIndex(spark, ivfDir))
      }
      r.check("index_rows")(spark.read.parquet(s"$ivfDir/assigned").count() == members.size)
    }

    var batchId = 0L
    gate("warmup", batchId)
    ann("warmup")
    r.loop(Slices, MinRequests) { _ =>
      compact()
      batchId += 1
      gate("write", batchId)
    } { () => ann("request") }

    r.inputs ++= Seq("base_docs" -> BaseDocs, "batch_docs" -> BatchDocs,
      "gated_docs" -> batchesIn, "near_dup_share" -> DupShare,
      "near_dup_share_generated" -> c.nearDups.toDouble / c.texts.size,
      "clusters" -> Clusters, "dim" -> Dim, "ivf_cells" -> Cells,
      "n_probe" -> NProbe, "queries_per_request" -> Queries,
      "loop_slices" -> Slices,
      "input_bytes" -> c.texts.indices.map(c.bytes).sum)
    if (r.tracer.enabled) {
      r.layerExtra("streaming.StreamingFeatures.rows_kept_per_row_in") =
        batchesKept.toDouble / math.max(1L, batchesIn)
      r.layerExtra("operators.Similarity.rows_read_per_result") =
        r.tracer.recordsRead(annSpans.toSeq).toDouble / math.max(1L, annRows)
      r.layerExtra("operators.IndexLayout.delta_files") =
        deltaFiles.sum / math.max(1, deltaFiles.size)
      planRates(r, base, c)
    }
  }

  /** Rows per second of each native expression's public `column(...)`
    * over the corpus, median of three passes to a noop sink. */
  private def planRates(r: Run, base: DataFrame, c: Corpus): Unit = {
    val rep = base.crossJoin(r.spark.range(PlanReplicas).select(col("id").as("rep"))).cache()
    val n = rep.count()
    val cent = array(c.centers.zipWithIndex.map { case (v, i) =>
      struct(lit(i.toLong).as("cell_id"), typedLit(v.toSeq).as("cv")) }.toSeq: _*)
    def rate(layer: String, e: Column): Unit = {
      val secs = (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        r.call(layer)(rep.select(e.as("x")).write.format("noop").mode("overwrite").save())
        (System.nanoTime() - t0) / 1e9
      }
      r.layerExtra(s"$layer.rows_per_s") = n / Run.median(secs)
    }
    rate("plans.HashedShingles",
      HashedShingles.column(TextFns.tokens(lower(col("text"))), 3, distinct = true))
    rate("plans.MinHashBands", MinHashBands.column(Dedup.shingles(col("text"), 3), 4, 4))
    rate("plans.CentroidArgmax", CentroidArgmax.column(cent, col("embedding")))
    rate("plans.CosineSim", CosineSim.column(col("embedding"), typedLit(c.centers(0).toSeq)))
    rep.unpersist()
  }
}
