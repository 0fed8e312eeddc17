package graft.perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity, TrainingData}
import graft.sources.ManifestTable

/** Seeded curation corpus: documents of ~60 words over a synthetic
  * vocabulary, a planted share of near-duplicates (a source document with
  * a few words substituted) and a share carrying an email or a phone
  * number; plus clustered 64-d embeddings and queries near corpus points. */
final class CurationCorpus(seed: Long, nDocs: Int, nVecs: Int, nQueries: Int) {
  private val rnd = new SplittableRandom(seed * 0x632BE59BD9B4E019L + 5)
  private val vocab: IndexedSeq[String] = {
    val syl = Vector("ka", "lo", "mi", "ne", "su", "ra", "ti", "po", "de", "va", "bu",
      "ze", "fi", "go", "ha", "ju", "ke", "ly", "mo", "nu", "pe", "qi", "ro", "sa")
    (0 until 4000).map(_ => Seq.fill(2 + rnd.nextInt(3))(syl(rnd.nextInt(syl.size))).mkString)
  }
  private def words(n: Int) = IndexedSeq.fill(n)(vocab(rnd.nextInt(vocab.size)))

  /** doc_id -> text; (dup id, source id) planted pairs. */
  val (docs: IndexedSeq[(Long, String)], planted: Seq[(Long, Long)]) = {
    val nDup = (nDocs * 0.15).toInt
    val originals = IndexedSeq.fill(nDocs - nDup)(words(50 + rnd.nextInt(21)))
    val dups = IndexedSeq.fill(nDup) {
      val src = rnd.nextInt(originals.size)
      val w = originals(src).toArray
      (0 until 1 + rnd.nextInt(3)).foreach(_ => w(rnd.nextInt(w.length)) = vocab(rnd.nextInt(vocab.size)))
      (src, w.toIndexedSeq)
    }
    // ids are a seeded permutation, so duplicates are not adjacent to sources
    val ids = (0L until nDocs).toArray
    for (i <- ids.indices.reverse) {
      val j = rnd.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    val texts = (originals ++ dups.map(_._2)).zipWithIndex.map { case (w, i) =>
      val withPii =
        if (rnd.nextDouble() >= 0.10) w
        else w.patch(rnd.nextInt(w.length), Seq(
          if (rnd.nextBoolean()) s"${words(1).head}.${words(1).head}@exemple.fr"
          else f"+33 ${rnd.nextInt(1000)}%03d ${rnd.nextInt(10000)}%04d"), 0)
      (ids(i), withPii.mkString(" "))
    }
    (texts, dups.indices.map(d => (ids(originals.size + d), ids(dups(d)._1))))
  }

  val Dim = 64
  private val centers = IndexedSeq.fill(32) {
    val c = Array.fill(Dim)((rnd.nextDouble() - 0.5) * 0.6)
    c(rnd.nextInt(Dim)) = if (rnd.nextBoolean()) 1.6 else -1.6
    c
  }
  private def near(c: Array[Double], spread: Double): Array[Float] =
    c.map(x => (x + (rnd.nextDouble() - 0.5) * spread).toFloat)
  val vecs: IndexedSeq[(Long, Array[Float])] =
    (0L until nVecs).map(i => (i, near(centers(rnd.nextInt(centers.size)), 0.8)))
  val queries: IndexedSeq[(Long, Array[Float])] =
    (0L until nQueries).map(i => (1000000L + i,
      near(vecs(rnd.nextInt(nVecs))._2.map(_.toDouble), 0.3)))

  def digest(): String = Util.sha256(
    docs.iterator.map { case (i, t) => s"$i:$t" } ++
      (vecs ++ queries).iterator.map { case (i, v) => s"$i:${v.mkString(",")}" })
}

/** `corpus_curation`: one pass of the LLM-data operators over the corpus
  * per op — MinHash-LSH near-duplicate pairs → connected components →
  * keep one canonical document per cluster → PII scrub; then k-means
  * training and IVF kNN (k=10) for every query. Inputs are graft catalog
  * tables loaded at set-up. */
final class CorpusCuration(spark: SparkSession, tr: Tracer, root: Path, seed: Long)
    extends Workload {
  import CorpusCuration._
  import spark.implicits._

  private var corpus: CurationCorpus = _
  private var rep = 0
  private def catalog(r: Int) = s"pb_cur_$r"
  private def t(name: String) = s"${catalog(rep)}.ns.$name"
  private def dir(name: String) = root.resolve(s"warehouse_cur_$rep/lib/$name").toString
  /** query id -> exact top-10 corpus ids. */
  private var exact: Map[Long, Set[Long]] = Map.empty

  def round: Int = 1

  def generate(): Unit = corpus = new CurationCorpus(seed, Docs, Vecs, Queries)
  def digest(): String = corpus.digest()

  def setup(r: Int): Unit = {
    rep = r
    spark.conf.set(s"spark.sql.catalog.${catalog(r)}", "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.${catalog(r)}.warehouse",
      root.resolve(s"warehouse_cur_$r").toString)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS ${catalog(r)}.ns")
    tr("commit.load") {
      corpus.docs.toDF("doc_id", "text").writeTo(t("docs")).create()
      // the catalog writer has no array columns: vectors go through the
      // library's manifest commit
      ManifestTable.commit(corpus.vecs.toDF("c_id", "c_vec"), dir("vecs"), append = false)
      ManifestTable.commit(corpus.queries.toDF("q_id", "q_vec"), dir("queries"), append = false)
    }
  }

  def discard(r: Int): Unit = Util.deleteTree(root.resolve(s"warehouse_cur_$r"))

  /** Exact cosine top-10 per query on the driver: the ANN ground truth. */
  def prepare(): Unit = {
    def norm(v: Array[Float]) = math.sqrt(v.map(x => x.toDouble * x).sum)
    val cn = corpus.vecs.map { case (id, v) => (id, v, norm(v)) }
    exact = corpus.queries.map { case (qid, q) =>
      val qn = norm(q)
      qid -> cn.map { case (cid, c, n) =>
        var d = 0.0; var i = 0
        while (i < q.length) { d += q(i).toDouble * c(i); i += 1 }
        (-d / (qn * n), cid)
      }.sorted.take(K).map(_._2).toSet
    }.toMap
  }

  def next(i: Int): PendingOp = new PendingOp {
    val kind = "pass"
    val rows: Int = Docs + Vecs
    private var comps: Map[Long, Long] = Map.empty
    private var pairsDf: DataFrame = _
    private var kept = 0L
    private var residualPii = -1L
    private var knn: Map[Long, Set[Long]] = Map.empty

    def run(): Unit = {
      val docs = Util.tableRead(tr, "read.docs", Docs)(spark.table(t("docs")))
      pairsDf = tr("dedup.minhash")(Dedup.minHashDedup(docs, "doc_id", "text").localCheckpoint())
      val compDf = tr("dedup.components") {
        val c = Dedup.connectedComponents(pairsDf.select("id_a", "id_b"))
        comps = c.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        c
      }
      val canonical = tr("dedup.canonical")(Dedup.keepCanonical(docs, "doc_id", compDf).localCheckpoint())
      val scrub = tr("scrub") {
        canonical.select(TrainingData.scrubPii(col("text")).as("text"))
          .agg(count(lit(1)), sum(TrainingData.countMatches(col("text"), TrainingData.emailPattern) +
            TrainingData.countMatches(col("text"), TrainingData.phonePattern))).head
      }
      kept = scrub.getLong(0)
      residualPii = scrub.getLong(1)
      val vecs = Util.tableRead(tr, "read.vecs", Vecs)(ManifestTable.read(spark, dir("vecs")))
      val queries = Util.tableRead(tr, "read.queries", Queries)(ManifestTable.read(spark, dir("queries")))
      tr("ann.train") {
        val (assign, _) = Similarity.kmeans(vecs, Centroids, KmeansIterations, "c_id", "c_vec")
        assign.groupBy("cluster").count().collect()
      }
      knn = tr("ann.query") {
        Similarity.knnIvf(queries, vecs, K).select("q_id", "c_id").collect()
          .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      }
    }

    private def dedupRecall: Double = corpus.planted.count { case (d, s) =>
      comps.get(d).exists(c => comps.get(s).contains(c))
    }.toDouble / corpus.planted.size
    private def annRecall: Double =
      exact.map { case (q, ids) => knn.getOrElse(q, Set.empty).intersect(ids).size }.sum.toDouble /
        (exact.size * K)

    def check(): Boolean = {
      tr.count("dedup.pairs_found", pairsDf.count())
      // one canonical survivor per component, every other doc kept
      val expectKept = Docs - (comps.size - comps.values.toSet.size)
      kept == expectKept && residualPii == 0 &&
        dedupRecall >= MinDedupRecall && annRecall >= MinAnnRecall
    }
    override def extra: Map[String, Double] =
      Map("dedup_recall" -> dedupRecall, "ann_recall_at_10" -> annRecall)
  }

  def finish(): (Boolean, Map[String, Any]) = (true, Map.empty)
}

object CorpusCuration {
  val Docs = 1500
  val Vecs = 1000
  val Queries = 100
  val K = 10
  val Centroids = 8
  val KmeansIterations = 2
  /** Quality floors of the correctness gate; measured values sit well above. */
  val MinDedupRecall = 0.8
  val MinAnnRecall = 0.7
}
