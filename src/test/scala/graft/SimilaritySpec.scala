package graft

import org.apache.spark.graftspec.JobCount
import org.apache.spark.sql.functions._
import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("hyperplaneBucket: near-identical vectors co-bucket, negations do not") {
    val rng = new scala.util.Random(7)
    val base = Array.fill(64)(rng.nextGaussian())
    val nearDup = base.map(_ * 1.0001 + 1e-7) // cosine ~ 1
    val negated = base.map(-_)                // cosine = -1: all signs flip
    val df = Seq((1L, base.toSeq), (2L, nearDup.toSeq), (3L, negated.toSeq))
      .toDF("id", "v")
    val out = df.select($"id",
        Similarity.hyperplaneBucket($"v", dim = 64).as("bucket"))
      .as[(Long, Long)].collect().toMap
    assert(out(1L) == out(2L), "near-duplicate must share the bucket")
    assert(out(1L) == (~out(3L) & 0xffL), "negation flips every sign bit")
    assert(out.values.forall(b => b >= 0 && b < 256))
  }

  test("native QuantizeInt8 is bit-identical to the HOF spelling it replaced") {
    // every ANN consumer is oracle-hash-checked, so the native expression
    // must reproduce round(x / l2Norm(v) * 127).cast(int) EXACTLY —
    // including Spark Round's BigDecimal-HALF-UP ties and the NaN→0 path
    // of a zero vector through a non-ANSI int cast
    val rng = new scala.util.Random(13)
    val vecs = (Seq.fill(200)(Array.fill(64)(rng.nextGaussian() * rng.nextInt(5))) :+
      Array.tabulate(64)(i => (i - 32) * 0.015625)) // exact dyadics → .5 ties
      .zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
    val df = vecs.toDF("id", "v").select($"id", $"v".cast("array<double>").as("v"))
    val hof = df.select($"id",
      transform($"v", x => round(x / sqrt(graft.functions.DotProduct
        .dotProduct($"v", $"v")) * 127).cast("int")).as("q"))
    val native = df.select($"id",
      graft.functions.QuantizeInt8.quantizeInt8($"v").as("q"))
    val expect = hof.as[(Long, Seq[Int])].collect().toMap
    val got = native.as[(Long, Seq[Int])].collect().toMap
    val mismatches = expect.keys.filter(id => expect(id) != got(id)).toSeq.sorted
    assert(mismatches.isEmpty,
      s"native != HOF for ids $mismatches: " +
        mismatches.take(1).map(id => s"${expect(id)} vs ${got(id)}").mkString)
    // divergence by design: under ANSI (Spark 4 default) the HOF spelling
    // THROWS DIVIDE_BY_ZERO on an all-zero vector; the native expression
    // is total and quantizes it to zeros (no such vector exists in the
    // corpus — q195's norm screen proves it — but an operator shouldn't
    // fail a 100 TB job on one degenerate row)
    val zero = Seq((0L, Seq.fill(64)(0.0))).toDF("id", "v")
      .select(graft.functions.QuantizeInt8.quantizeInt8($"v").as("q"))
      .as[Seq[Int]].head()
    assert(zero == Seq.fill(64)(0))
  }

  test("kmeans recovers well-separated blobs with deterministic assignment") {
    // 3 blobs at distinct corners of 4-d space; ids interleave blobs so the
    // smallest-ids init (0,1,2) seeds one centroid per blob
    val pts = (0 until 60).map { i =>
      val blob = i % 3
      val v = Array.tabulate(4) { d =>
        (if (d == blob) 10.0 else 0.0) + ((i * 7 + d * 13) % 5) * 0.1
      }
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "v")
    val (assign, cents) = Similarity.kmeans(pts, k = 3, iterations = 4)
    // perfect separation: each blob lands in exactly one cluster and no
    // cluster holds two blobs → exactly 3 distinct (blob, cluster) pairs
    val pairs = assign.select(($"vec_id" % 3).as("blob"), $"cluster")
      .distinct().collect()
    assert(pairs.length == 3, s"blobs split across clusters: ${pairs.toSeq}")
    val cs = cents.collect()
    assert(cs.length == 3)
    // every centroid sits near one blob corner (dominant axis ≈ 10)
    cs.foreach { r =>
      val c = r.getSeq[Double](1)
      assert(c.max > 9.0 && c.count(_ > 5.0) == 1, s"centroid off-blob: $c")
    }
  }

  test("kmeans keeps k centroids when a cluster empties; rejects bad args") {
    // ids 0 and 1 are IDENTICAL vectors → two identical seed centroids;
    // ties break to the smaller cluster, so cluster 2 empties in iteration
    // 1 and must keep its previous centroid rather than vanish
    val pts = (0 until 20).map { i =>
      val v = if (i <= 1) Seq(1.0, 0.0) else Seq(0.0, 1.0 + (i % 3) * 0.1)
      (i.toLong, v)
    }.toDF("vec_id", "v")
    val (_, cents) = Similarity.kmeans(pts, k = 3, iterations = 3)
    assert(cents.count() == 3, "empty cluster silently dropped")
    intercept[IllegalArgumentException] {
      Similarity.kmeans(pts, k = 3, iterations = 0)
    }
    // a corpus smaller than k must fail loudly, not silently seed < k cells
    intercept[IllegalArgumentException] {
      Similarity.kmeans(pts.limit(2), k = 3, iterations = 1)
    }
  }

  /** Plain-Scala Lloyd with kmeans' contract: init = the k smallest ids,
    * squared distance = the left fold Σ (x−c)² from 0.0, ties to the
    * smaller cluster, an empty cluster keeps its centroid; assignments
    * against the centroids at the start of the last iteration. */
  private def referenceLloyd(pts: Seq[(Long, Array[Double])], k: Int, iterations: Int)
      : (Map[Long, Long], Seq[Array[Double]]) = {
    val sorted = pts.sortBy(_._1)
    def assign(cs: Seq[Array[Double]], v: Array[Double]): Int =
      cs.indices.minBy(j => (v.indices.foldLeft(0.0) { (acc, i) =>
        acc + (v(i) - cs(j)(i)) * (v(i) - cs(j)(i)) }, j))
    var cs: Seq[Array[Double]] = sorted.take(k).map(_._2)
    var assignment = Map.empty[Long, Long]
    for (_ <- 0 until iterations) {
      val byCluster = sorted.groupBy { case (_, v) => assign(cs, v) }
      assignment = sorted.map { case (id, v) => id -> (assign(cs, v) + 1L) }.toMap
      cs = cs.indices.map { j =>
        byCluster.get(j).fold(cs(j)) { m =>
          m.map(_._2).reduce((a, b) => a.zip(b).map { case (x, y) => x + y }).map(_ / m.size)
        }
      }
    }
    (assignment, cs)
  }

  test("kmeans matches a plain-Scala Lloyd reference, one job per iteration") {
    // 1000 × 16 around 8 seeded centers; ids shuffled so the init rows
    // come from arbitrary clusters
    val rng = new scala.util.Random(31)
    val centers = Array.fill(8)(Array.fill(16)(rng.nextGaussian() * 4))
    val ids = rng.shuffle((0L until 1000L).toVector)
    val pts = ids.zipWithIndex.map { case (id, i) =>
      (id, centers(i % 8).map(_ + rng.nextGaussian()))
    }
    val df = pts.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "v")
    for (n <- 1 to 3) {
      val ((assign, cents), jobs) = JobCount(spark.sparkContext) {
        val (a, c) = Similarity.kmeans(df, k = 8, iterations = n)
        (a.as[(Long, Long)].collect().toMap,
          c.as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq)
      }
      val (expectAssign, expectCents) = referenceLloyd(pts, 8, n)
      assert(assign == expectAssign, s"assignments differ after $n iterations")
      assert(cents.map(_._1) == (1L to 8L))
      cents.zip(expectCents).foreach { case ((j, got), want) =>
        assert(got.zip(want).forall { case (g, w) => math.abs(g - w) <= 1e-9 },
          s"centroid $j after $n iterations: $got vs ${want.toSeq}")
      }
      // init + one job per iteration + the assignment's collect
      assert(jobs <= n + 2, s"kmeans(iterations = $n) ran $jobs jobs")
    }
  }

  test("q391 CDF-maintained ANN index: erasures flow through the feed (r12)") {
    // the face's own requires pin the strong identity (feed-maintained ≡
    // from-scratch rebuild, both exceptAll directions) and the recall
    // floor; this pins the compliance leg — a vec_id the GDPR delete
    // tombstoned (vec_id % 17 = 0) must appear NOWHERE in the search
    // output, neither as a query nor as a candidate — plus result shape
    val top = SparkEntry.queries("q391_cdf_ann_index")(
      spark, "/root/testdata/sf0.001").collect()
    assert(top.nonEmpty)
    assert(top.forall(r => r.getLong(0) % 17 != 0 && r.getLong(2) % 17 != 0),
      "an erased vector leaked into the maintained index's search output")
    val byQ = top.groupBy(_.getLong(0))
    assert(byQ.values.forall(rs =>
      rs.map(_.getInt(1)).sorted.toSeq == (1 to rs.length)),
      "ranks must be the dense prefix 1..k per query")
    assert(byQ.values.forall(_.length <= 5))
  }

  test("q392 CDF-maintained BM25 index: erasures flow through the feed (r12)") {
    // the face's own requires pin the rebuild identity AND the IVM stats
    // merge (merged partials ≡ full recount); this pins the compliance
    // leg — an erased doc (doc_id % 17 = 0) must never rank — and the
    // top-20 shape
    val top = SparkEntry.queries("q392_cdf_text_index")(
      spark, "/root/testdata/sf0.001").collect()
    assert(top.nonEmpty && top.length <= 20)
    assert(top.forall(_.getLong(0) % 17 != 0),
      "an erased document leaked into the maintained index's ranking")
  }

  test("q396 retrieval metrics: NDCG/RR bounds and gradings hold (r12)") {
    val rows = SparkEntry.queries("q396_retrieval_metrics")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.length == 5)
    for (r <- rows) {
      val (nRel, rr, ndcg) = (r.getLong(1), r.getDouble(2), r.getDouble(3))
      assert(nRel >= 0 && nRel <= 5, s"n_rel_at_10 out of range: $nRel")
      assert(ndcg > 0.0 && ndcg <= 1.0 + 1e-12,
        s"NDCG@10 must be in (0, 1] vs the ideal ordering, got $ndcg")
      assert(rr == 0.0 || (rr >= 0.1 && rr <= 1.0), s"rr out of range: $rr")
      // a query whose top hit is the true best has rr = 1 exactly; one
      // with no truth doc in the fused top-10 has rr = 0 AND nRel = 0
      assert((rr == 0.0) == (nRel == 0L),
        "rr and n_rel must agree on emptiness")
    }
  }

  test("q397 stream-maintained ANN index: cell state accounts for every live vector (r12)") {
    import org.apache.spark.sql.functions._
    // the face's requires pin the trigger count (one micro-batch per
    // commit) and the rebuild identity; this pins the global accounting:
    // Σ n_vectors = |live corpus| (every vector indexed exactly once,
    // every erased vector gone), ids inside [0, max vec_id], cells ≤ 8
    val rows = SparkEntry.queries("q397_stream_ann_ingest")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty && rows.length <= 8)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val total = emb.count()
    val erased = emb.filter(col("vec_id") % 17 === 0).count()
    assert(rows.map(_.getLong(1)).sum == total - erased,
      "per-cell counts must account for exactly the live corpus")
    assert(rows.forall(r => r.getLong(3) >= 0 && r.getLong(3) % 17 != 0),
      "no cell may hold an erased minimum id")
  }

  test("hyperplaneBucket is a pure map: no shuffle in the plan") {
    val df = spark.range(0, 100)
      .select($"id", array((0 until 64).map(i => (rand(42 + i) - 0.5)): _*).as("v"))
    val bucketed = df.withColumn("bucket", Similarity.hyperplaneBucket($"v", 64))
    val plan = bucketed.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"bucketing must not shuffle:\n$plan")
  }

  test("semanticDedup drops the higher id of each within-cluster near-dup pair, keeps cross-direction pairs") {
    val a = Seq(10.0, 0.0, 0.0, 0.0)
    val b = Seq(0.0, 10.0, 0.0, 0.0)
    val data = Seq(
      (0L, a),                              // seed / kept
      (1L, b),                              // seed / kept
      (2L, a.map(_ * 2.0)),                 // cos 1 with id 0 → dropped
      (3L, Seq(7.0, 0.0, 7.0, 0.0)),        // cluster 0, cos .707 < 0.95 → kept
      (4L, b.map(_ * 0.5))                  // cos 1 with id 1 → dropped
    ).toDF("vec_id", "embedding")
    val (marked, pairs) = Similarity.semanticDedup(data, k = 2, thrNum = 19, thrDen = 20)
    val m = marked.select($"vec_id", $"cluster", $"dropped")
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(m(0L) == ((0L, false)) && m(2L) == ((0L, true)) && m(3L) == ((0L, false)))
    assert(m(1L) == ((1L, false)) && m(4L) == ((1L, true)))
    val p = pairs.select($"cluster", $"id_a", $"id_b")
      .as[(Long, Long, Long)].collect().toSet
    assert(p == Set((0L, 0L, 2L), (1L, 1L, 4L)))
  }
}
