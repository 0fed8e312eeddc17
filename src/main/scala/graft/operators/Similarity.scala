package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Cosine is computed with higher-order functions (`zip_with` + `aggregate`)
  * in double precision — fully codegen'd, no UDF. Results are rounded to 6
  * decimals before ranking so cross-engine fp summation order can't flip a
  * rank; ties break on the candidate id.
  *
  * Scale: brute-force kNN broadcasts the (small) query set and scans the
  * corpus once — linear, embarrassingly parallel, no shuffle until the
  * per-query top-k (which reduces to k rows per partition via the window's
  * partial rank... i.e. TakeOrderedAndProject semantics per group). The IVF
  * variant prunes candidates to a deterministic coarse cell
  * (argmax-|component| axis + sign → 2·dim cells) — candidate volume drops
  * ~cell-count-fold while staying oracle-reproducible.
  */
object Similarity {

  /** Dot product of two double arrays — native codegen expression (see
    * [[graft.functions.DotProduct]]); same left-fold order as the HOF
    * formulation it replaced, so values are bit-for-bit identical. */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dotProduct(a, b)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = {
    val ad = a.cast("array<double>")
    val bd = b.cast("array<double>")
    dot(ad, bd) / (l2Norm(ad) * l2Norm(bd))
  }

  /** Deterministic coarse cell for IVF-style pruning: the index (1-based) of
    * the largest-|value| component, and its sign. Exact float comparisons —
    * no fp-order ambiguity, reproducible in any engine. */
  def axisCell(v: Column): (Column, Column) = {
    val absV = transform(v, x => abs(x))
    val idx = array_position(absV, array_max(absV))
    (idx, element_at(v, idx.cast("int")) > lit(0.0f))
  }

  /** Cast the vector to double + attach its L2 norm — evaluated ONCE per
    * input row (the projection sits below the join), so pair-level work is
    * just the dot product. Other columns pass through. */
  private def normalized(df: DataFrame, vec: String, norm: String): DataFrame =
    df.withColumn(vec, col(vec).cast("array<double>"))
      .withColumn(norm, l2Norm(col(vec)))

  private def pairSim(qVec: String, cVec: String): Column =
    round(dot(col(qVec), col(cVec)) / (col("_qn") * col("_cn")), 6)

  /** Brute-force top-k cosine neighbors for each query vector. */
  def knnBruteForce(queries: DataFrame, corpus: DataFrame, k: Int,
                    qId: String = "q_id", qVec: String = "q_vec",
                    cId: String = "c_id", cVec: String = "c_vec"): DataFrame = {
    val q = normalized(queries, qVec, "_qn")
    // spread the corpus side (a single small parquet file arrives as one
    // partition locally; at scale this is a no-op-cost hash exchange)
    val c = Relational.spread(normalized(corpus, cVec, "_cn"), col(cId))
    val joined = c.crossJoin(broadcast(q))
      .filter(col(qId) =!= col(cId))
      .select(col(qId), col(cId), pairSim(qVec, cVec).as("sim"))
    Relational.topKPerGroup(joined, Seq(col(qId)),
        Seq(col("sim").desc, col(cId).asc), k, rankCol = "rank")
  }

  /** Random-hyperplane LSH bucket: sign bit per hyperplane, packed into a
    * long. Hyperplane weights are md5-derived (deterministic, reproducible
    * in any engine — same portability rationale as [[Dedup]]): weight(k, i)
    * = (hex24(md5("k:i")) % 2001 - 1000) / 1000 ∈ (-1, 1).
    *
    * Scale: the weights are LITERAL arrays baked into the plan (8 × dim
    * doubles — bytes, not data), so bucketing is a pure map over the corpus:
    * no join, no shuffle, full codegen via [[graft.functions.DotProduct]].
    * Cosine-similar vectors agree on hyperplane signs with probability
    * 1 - θ/π per plane, so near-identical vectors share buckets with
    * near-certainty while random pairs scatter across 2^numPlanes buckets.
    */
  def hyperplaneBucket(vecDouble: Column, dim: Int, numPlanes: Int = 8): Column = {
    def w(k: Int): Array[Double] = Array.tabulate(dim) { i0 =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$k:${i0 + 1}".getBytes("UTF-8"))
        .take(3).map(b => f"$b%02x").mkString
      ((java.lang.Long.parseLong(hex, 16) % 2001) - 1000) / 1000.0
    }
    (0 until numPlanes).map { k =>
      when(dot(vecDouble, typedLit(w(k).toSeq)) > 0.0, lit(1L << k)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Symmetric int8 quantization of a (double) vector: scale to unit norm,
    * round each component to [-127, 127]. At 100 TB this is the memory
    * lever — a 64-dim float corpus shrinks 4× (and SIMD int8 dot products
    * beat float on modern CPUs); ranking by the INTEGER dot product of
    * quantized vectors is also exactly reproducible in any engine — no
    * float summation order in the ranking at all. */
  def quantizeInt8(vecDouble: Column): Column = {
    val nrm = l2Norm(vecDouble)
    transform(vecDouble, x => round(x / nrm * 127).cast("int"))
  }

  /** Staged [[quantizeInt8]]: identical per-element math, but the norm is
    * materialized as a column FIRST, so it is computed once per row. The
    * single-Column form embeds the norm fold inside the transform lambda,
    * and HOF interpretation re-evaluates it per ELEMENT — dim× redundant
    * work (dim²=4096 ops/row at dim 64; profiled as the hot spot of the
    * PQ index build). Use this wherever the whole corpus is quantized. */
  def withQuantizedInt8(df: DataFrame, vec: Column, out: String,
                        pin: Boolean = true): DataFrame = {
    // native one-pass expression (norm + per-element round in one buffer
    // walk) — bit-identical to the HOF spelling it replaced, see
    // functions.QuantizeInt8. The default pin (localCheckpoint) is
    // load-bearing for INDEX BUILDS: the old HOF chain was
    // CodegenFallback, which forced a materialized projection boundary;
    // the native expression fuses into downstream join stages where
    // codegen's LAZY variable evaluation re-quantizes once per candidate
    // PAIR (measured 2.1× on q314's 50-query cross join). Pinning the
    // quantized corpus makes it what it conceptually is — the index
    // artifact, built once (the q258 pqCorpus design). `pin = false`
    // keeps the call a pure lazy transformation — for small/one-shot
    // frames, streaming plans (localCheckpoint is unsupported there),
    // or callers that only want the expression (ADVICE r8).
    val q = df.withColumn(out, graft.functions.QuantizeInt8.quantizeInt8(vec))
    if (pin) q.localCheckpoint() else q
  }

  /** Integer dot product of two int8-quantized vectors. Products ≤ 127²·dim
    * stay far below 2^53, so routing through the double-typed codegen
    * [[dot]] is exact; the result is an integer-valued long. */
  def dotInt8(a: Column, b: Column): Column =
    dot(a.cast("array<double>"), b.cast("array<double>")).cast("long")

  /** Squared L2 distance between two integer-quantized vectors — exact:
    * differences ≤ 254, squares ≤ 64516, sums ≤ dim·64516 ≪ 2^53, so the
    * double-typed fold never rounds. Integer-valued long out. */
  def l2SqInt(a: Column, b: Column): Column =
    aggregate(zip_with(a.cast("array<double>"), b.cast("array<double>"),
      (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x).cast("long")

  /** Index (0-based) of the centroid nearest `v` by squared L2 distance,
    * the left fold Σ (x−c)² from 0.0. Ties go to the smaller index and a
    * NaN distance ranks above every number, as in Spark's ordering of
    * doubles. The one assignment rule of [[kmeans]]: its Lloyd passes and
    * its returned projection both call it. */
  private def nearest(cs: Array[Array[Double]], v: Array[Double]): Int = {
    require(v.length == cs(0).length,
      s"kmeans: vector of dimension ${v.length}, centroids of ${cs(0).length}")
    var best = 0
    var bestD = 0.0
    var j = 0
    while (j < cs.length) {
      val c = cs(j)
      var d = 0.0
      var i = 0
      while (i < v.length) { val t = v(i) - c(i); d += t * t; i += 1 }
      if (j == 0 || java.lang.Double.compare(d, bestD) < 0) { best = j; bestD = d }
      j += 1
    }
    best
  }

  /** Distributed Lloyd k-means over an embedding column — IVF centroid
    * training. The k centroids live on the driver (k·dim doubles — bytes,
    * not data). Each iteration is ONE Spark job over the corpus: every
    * partition assigns its vectors to the nearest centroid and folds them
    * into per-cluster (count, Σ vector) partials, the partials reduce to
    * the driver, and centroid = Σ / count. The corpus is never shuffled
    * and no lineage grows across iterations.
    *
    * Deterministic: init = the k rows with the smallest ids (no RNG —
    * retry- and engine-stable, same rationale as the md5 hash sampling),
    * ties in the argmin break on the smaller cluster, and a cluster that
    * loses every member keeps its previous centroid. A row with a null
    * vector joins cluster 1 and moves no centroid.
    *
    * Returns (assignments: id, cluster 1..k — a lazy projection, no
    * shuffle, taken against the centroids at the START of the last
    * iteration; centroids: cluster, centroid array<double> — the final
    * ones, a local frame).
    */
  def kmeans(corpus: DataFrame, k: Int, iterations: Int,
             idCol: String = "vec_id", vecCol: String = "v"): (DataFrame, DataFrame) = {
    require(k >= 1 && iterations >= 1, "kmeans: k and iterations must be >= 1")
    val spark = corpus.sparkSession
    import spark.implicits._
    val vecs = corpus.select(col(idCol), col(vecCol).cast("array<double>").as("_v"))
    val init = vecs.orderBy(col(idCol)).limit(k).select(col("_v")).as[Array[Double]].collect()
    // limit(k) on a smaller corpus silently seeds < k centroids, and the
    // empty-cluster retention would then preserve that shrunken count
    // forever — the exact silent-fewer-cells failure IVF consumers can't
    // tolerate
    require(init.length == k, s"kmeans: corpus has fewer than k=$k vectors")
    val points = vecs.filter(col("_v").isNotNull).select(col("_v")).as[Array[Double]].rdd
    val dim = init(0).length
    def step(cs: Array[Array[Double]]): Array[Array[Double]] = {
      val (counts, sums) = points.mapPartitions { it =>
        val n = new Array[Long](k)
        val s = Array.ofDim[Double](k, dim)
        it.foreach { v =>
          val j = nearest(cs, v)
          n(j) += 1
          var i = 0
          while (i < dim) { s(j)(i) += v(i); i += 1 }
        }
        Iterator.single((n, s))
      }.reduce { case ((n1, s1), (n2, s2)) =>
        for (j <- 0 until k) {
          n1(j) += n2(j)
          for (i <- 0 until dim) s1(j)(i) += s2(j)(i)
        }
        (n1, s1)
      }
      Array.tabulate(k)(j => if (counts(j) == 0) cs(j) else sums(j).map(_ / counts(j)))
    }
    val last = Iterator.iterate(init)(step).drop(iterations - 1).next()
    val centroids = step(last)
    val assign = udf((v: Seq[Double]) =>
      if (v == null) 1L else nearest(last, v.toArray) + 1L)
    (vecs.select(col(idCol), assign(col("_v")).as("cluster")),
      centroids.toSeq.zipWithIndex.map { case (c, j) => (j + 1L, c.toSeq) }
        .toDF("cluster", "centroid"))
  }

  /** IVF-ish approximate kNN: only candidates in the query's coarse cell. */
  def knnIvf(queries: DataFrame, corpus: DataFrame, k: Int,
             qId: String = "q_id", qVec: String = "q_vec",
             cId: String = "c_id", cVec: String = "c_vec"): DataFrame = {
    val (qIdx, qSign) = axisCell(col(qVec))
    val (cIdx, cSign) = axisCell(col(cVec))
    // cells are computed on the ORIGINAL float vectors (exact float
    // comparisons, oracle-reproducible), then the double cast + norm lands.
    val q = normalized(
      queries.withColumn("cell_idx", qIdx).withColumn("cell_sign", qSign), qVec, "_qn")
    val c = Relational.spread(normalized(
      corpus.withColumn("cell_idx", cIdx).withColumn("cell_sign", cSign), cVec, "_cn"),
      col(cId))
    val joined = c.join(broadcast(q), Seq("cell_idx", "cell_sign"))
      .filter(col(qId) =!= col(cId))
      .select(col(qId), col(cId), pairSim(qVec, cVec).as("sim"))
    Relational.topKPerGroup(joined, Seq(col(qId)),
        Seq(col("sim").desc, col(cId).asc), k, rankCol = "rank")
  }

  /** SemDeDup-style semantic deduplication: cluster the corpus around k
    * seed centroids (the k smallest ids — deterministic, no RNG), then
    * search for near-duplicate pairs ONLY within a cluster and drop every
    * vector that has a same-cluster neighbor with a smaller id above the
    * cosine threshold.
    *
    * Scale shape: clustering cuts candidate pairs from |corpus|² to
    * Σ|cluster|² — the operator's entire point (SemDeDup, Abbas et al.
    * 2023, runs exactly this recipe over web-scale embeddings; k grows
    * with the corpus so clusters stay bounded). Assignment is a map-side
    * crossJoin against k broadcast centroids (no corpus shuffle); the
    * pair join shuffles on the cluster id only. A pathologically hot
    * cluster is AQE-skew territory, same as any skewed join key.
    *
    * Exactness: vectors are int8-quantized (q86 discipline) and the
    * threshold is the rational thrNum/thrDen, so "is a near-dup" is the
    * INTEGER inequality dp>0 ∧ dp²·thrDen² ≥ thrNum²·|a|²·|b|² — every
    * term an integer-valued long far below 2^63 (|q|² ≈ 127², so dp²·10⁴
    * ≲ 3·10¹²), bit-reproducible in any engine.
    *
    * Returns (marked, dupPairs): `marked` = one row per input vector with
    * its cluster and a `dropped` flag; `dupPairs` = the near-dup pairs
    * (cluster, id_a < id_b) that justified each drop.
    */
  def semanticDedup(corpus: DataFrame, k: Int, thrNum: Int, thrDen: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding")
      : (DataFrame, DataFrame) = {
    // thrDen ≤ 10⁴ keeps dp²·thrDen² ≤ ~3·10⁸·10⁸ ≪ 2^63 for unit-norm
    // int8 vectors — a finer threshold would silently WRAP in non-ANSI
    // long multiply and misclassify pairs; thrNum ≤ thrDen because a
    // cosine threshold above 1 matches nothing
    require(k >= 1 && thrDen > 0 && thrDen <= 10000 && thrNum >= 0 && thrNum <= thrDen,
      s"semanticDedup: need 1 <= thrDen <= 10000 and 0 <= thrNum <= thrDen, got $thrNum/$thrDen")
    // spread before quantization + the k-way assignment fan-out: a
    // single-file corpus would serialize the map-side work through one
    // task (and the explicit count is AQE-coalescing-exempt)
    val quant = withQuantizedInt8(Relational.spread(corpus, col(idCol)),
        col(vecCol).cast("array<double>"), "_q")
      .select(col(idCol).as("_id"), col("_q"))
    val seeds = broadcast(quant.orderBy(col("_id")).limit(k)
      .select(col("_id").as("_j"), col("_q").as("_c")))
    // squared norm + the double-typed vector view are computed ONCE per
    // vector here — the pair stage below touches O(Σ|cluster|²) rows and
    // must do exactly one dot product per pair, nothing per-vector
    val assigned = quant.crossJoin(seeds)
      .select(col("_id"), col("_q"), col("_j"), l2SqInt(col("_q"), col("_c")).as("_d"))
      .groupBy(col("_id"))
      .agg(min(struct(col("_d"), col("_j"))).getField("_j").as("cluster"),
        first(col("_q")).as("_q"))
      .withColumn("_qd", col("_q").cast("array<double>"))
      .withColumn("_n2", dotInt8(col("_q"), col("_q")))
    val a = assigned.select(col("cluster"), col("_id").as("id_a"),
      col("_qd").as("_qa"), col("_n2").as("_na2"))
    val b = assigned.select(col("cluster"), col("_id").as("id_b"),
      col("_qd").as("_qb"), col("_n2").as("_nb2"))
    val dupPairs = a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .select(col("cluster"), col("id_a"), col("id_b"),
        dot(col("_qa"), col("_qb")).cast("long").as("_dp"),
        col("_na2"), col("_nb2"))
      .filter(col("_dp") > 0 &&
        col("_dp") * col("_dp") * lit(thrDen.toLong * thrDen) >=
          lit(thrNum.toLong * thrNum) * col("_na2") * col("_nb2"))
      .select(col("cluster"), col("id_a"), col("id_b"))
    val dropped = dupPairs.select(col("id_b").as("_id")).distinct()
      .withColumn("_dropped", lit(true))
    val marked = assigned
      .join(dropped, Seq("_id"), "left")
      .select(col("_id").as(idCol), col("cluster"),
        coalesce(col("_dropped"), lit(false)).as("dropped"))
    (marked, dupPairs)
  }
}
