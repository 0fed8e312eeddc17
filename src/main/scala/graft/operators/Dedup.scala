package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{ParityFunctions => PF}

/** Fuzzy-deduplication operators for a training-data pipeline: MinHash+LSH,
  * SimHash, and exact n-gram Jaccard verification.
  *
  * Portability note: all hashing is md5-based (identical bytes→hex in every
  * engine) and "minimum" is lexicographic over hex strings — a valid
  * min-hash family that the DuckDB oracle can reproduce exactly, unlike
  * engine-specific hash() builtins.
  *
  * Scale notes (100 TB): the pipeline is explode → partial-agg → band join.
  * Shingle explosion is linear in corpus size; signatures reduce each doc to
  * `numHashes` strings (map-side combine); the LSH band self-join only
  * shuffles (band_idx, band_hash) keys, never full texts. Hub buckets (a
  * band shared by many docs) are the skew risk — AQE skew-join handles
  * moderate cases; a frequency cap on bucket size is the escape hatch.
  */
object Dedup {

  /** Exploded distinct (id, shingle) pairs — the base relation for both
    * MinHash and Jaccard. Tokenization is materialized in its own
    * projection so the per-shingle lambda doesn't re-split the text. */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    Relational.spread(df, col(idCol)) // shuffle raw docs (small) instead of
                               // exploded shingles; downstream groupBy(id)
                               // reuses this partitioning with no further
                               // exchange; explicit count so AQE can't
                               // coalesce the CPU-heavy shingle stage to 1
      .select(col(idCol), PF.tokens(col(textCol)).as("_toks"))
      // fused array_distinct is fine HERE: ~50-token docs make the O(n²)
      // per-row distinct cheap, and A/B showed a distinct-aggregate
      // variant 15-25% SLOWER (hash-table inserts cost more than 2.5k
      // string compares). Char-trigram-scale arrays (hundreds of
      // elements) are the opposite — see PF.shingleSeq and q104.
      .select(col(idCol), explode(PF.shinglesFromTokens(col("_toks"), n)).as("shingle"))

  /** MinHash signatures: for hash function i, `min(md5(i || ':' || shingle))`.
    * One shuffle (groupBy id), `numHashes` partial min-aggregates — the
    * shingle-set size rides along in the same pass (`sz`), so the
    * Jaccard-verify stage never rescans the shingle relation for sizes.
    */
  def minHashSignatures(sh: DataFrame, idCol: String, numHashes: Int): DataFrame = {
    val mins = (0 until numHashes).map { i =>
      min(md5(concat(lit(s"$i:"), col("shingle")).cast("binary"))).as(s"m$i")
    }
    sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"), mins: _*)
  }

  /** LSH banding: group the signature into bands of `rowsPerBand` hashes;
    * band key = md5 of the concatenated member hashes. Output one row per
    * (id, band_idx, band_hash).
    */
  def lshBands(sig: DataFrame, idCol: String, numHashes: Int, rowsPerBand: Int): DataFrame = {
    val numBands = numHashes / rowsPerBand
    val bands = array((0 until numBands).map { j =>
      val members = (0 until rowsPerBand).map(r => col(s"m${j * rowsPerBand + r}"))
      struct(lit(j).as("band_idx"), md5(concat_ws("|", members: _*).cast("binary")).as("band_hash"))
    }: _*)
    sig.select(col(idCol), explode(bands).as("b"))
      .select(col(idCol), col("b.band_idx"), col("b.band_hash"))
  }

  /** Candidate pairs: ids sharing at least one LSH band. The join shuffles
    * only (band_idx, band_hash, id) triples. */
  def lshCandidatePairs(bands: DataFrame, idCol: String): DataFrame = {
    val a = bands.select(col("band_idx"), col("band_hash"), col(idCol).as("id_a"))
    val b = bands.select(col("band_idx"), col("band_hash"), col(idCol).as("id_b"))
    a.join(b, Seq("band_idx", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Exact Jaccard over shingle sets for given candidate pairs:
    * |A∩B| via a co-occurrence join, |A∪B| = |A|+|B|-|A∩B|. */
  def jaccardOnPairs(pairs: DataFrame, sh: DataFrame, idCol: String): DataFrame =
    jaccardOnPairs(pairs, sh, idCol,
      sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz")))

  /** Variant with precomputed per-id set sizes (a `(idCol, sz)` relation). */
  def jaccardOnPairs(pairs: DataFrame, sh: DataFrame, idCol: String,
                     sizes: DataFrame): DataFrame = {
    val common = pairs
      .join(sh.select(col(idCol).as("id_a"), col("shingle")), Seq("id_a"))
      .join(sh.select(col(idCol).as("id_b"), col("shingle").as("shingle_b")), Seq("id_b"))
      .filter(col("shingle") === col("shingle_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col(idCol).as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"), col("sz").as("sz_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("common").cast("double") /
          (col("sz_a") + col("sz_b") - col("common"))).as("jaccard"))
  }

  /** Full MinHash-LSH fuzzy dedup: shingle → signature → bands → candidate
    * pairs → exact-Jaccard verification ≥ `threshold`. */
  def minHashDedup(df: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3, numHashes: Int = 8, rowsPerBand: Int = 2,
                   threshold: Double = 0.4): DataFrame = {
    // the shingle relation feeds the signature pass AND both sides of the
    // Jaccard common-join — materialize it once instead of re-tokenizing
    // the corpus per consumer
    val sh = shingles(df, idCol, textCol, shingleN).localCheckpoint()
    val sig = minHashSignatures(sh, idCol, numHashes)
    val pairs = lshCandidatePairs(lshBands(sig, idCol, numHashes, rowsPerBand), idCol)
    jaccardOnPairs(pairs, sh, idCol, sig.select(col(idCol), col("sz")))
      .filter(col("jaccard") >= threshold)
  }

  /** Connected components over near-duplicate pairs → dedup clusters
    * (component id = smallest member id). Synchronous min-label
    * propagation: each round, every vertex takes the smallest label among
    * itself and its neighbours; the rounds stop at quiescence or after
    * `maxIter`, converging within the cluster diameter (near-dup clusters
    * are shallow).
    *
    * Where the rounds run: the symmetric edge relation is collected with
    * `limit(n + 1)`, n = `spark.sql.autoBroadcastJoinThreshold` ÷ bytes
    * per edge (Spark's own row estimate, 8 + 2 × the id type's default
    * size) — the size at which Spark itself ships a relation through the
    * driver, and [[keepCanonical]] broadcasts the result anyway. If it
    * fits (and the ids are Long, Int or binary-collated String, none
    * null), the same rounds run in driver arrays and the result is a
    * local frame. Its only Spark work is the distinct edges' shuffle and
    * the collect, so there is nothing to checkpoint: no checkpoint dir is
    * set and no lineage outlives the call. Larger graphs, other id types
    * and a threshold of -1 take the distributed loop below; both give the
    * same labels and the same round count.
    *
    * Fault-tolerance of the distributed loop: each round is one join +
    * partial-min aggregate, and labels are RELIABLY checkpointed every
    * `checkpointEvery` rounds (`rdd.checkpoint()` to `checkpointDir` —
    * pass a durable HDFS/S3 path in production; `localCheckpoint` would pin
    * blocks to executors and lose them on executor failure/deallocation).
    * Between checkpoints the persisted RDD bounds lineage to
    * `checkpointEvery` join+agg rounds — recomputable, cheap to write. The
    * convergence test rides the SAME job that materializes the new labels,
    * via a changed-row accumulator — no per-iteration `isEmpty` re-scan of
    * the join lineage. (Task retries can over-count the accumulator; it is
    * only compared to zero, so the worst case is one redundant extra
    * iteration.)
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
                          checkpointDir: Option[String] = None,
                          checkpointEvery: Int = 3): DataFrame =
    connectedComponentsStats(pairs, maxIter, checkpointDir, checkpointEvery)._1

  /** [[connectedComponents]] plus per-round wall seconds — one entry per
    * min-label round, so `ConnectedComponentsSpec` can check the round
    * count against the graph diameter on both the local and the
    * distributed path. */
  def connectedComponentsStats(pairs: DataFrame, maxIter: Int = 20,
                               checkpointDir: Option[String] = None,
                               checkpointEvery: Int = 3): (DataFrame, List[Double]) = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()
    val labelSchema = edges.select(col("src").as("id"), col("src").as("component")).schema
    localComponents(edges, labelSchema, maxIter).getOrElse(
      distributedComponents(edges, labelSchema, maxIter, checkpointDir, checkpointEvery))
  }

  /** The min-label rounds on the driver, when the edge relation fits the
    * broadcast threshold; None (after collecting at most n + 1 edges)
    * otherwise. Vertices are ranked by Spark's ordering of the id type,
    * so the smallest label index IS the smallest id. */
  private def localComponents(edges: DataFrame, labelSchema: StructType,
                              maxIter: Int): Option[(DataFrame, List[Double])] = {
    val spark = edges.sparkSession
    val idType = labelSchema("id").dataType
    val ordering: Option[Ordering[Any]] = idType match {
      case LongType => Some(Ordering.by[Any, Long](_.asInstanceOf[Long]))
      case IntegerType => Some(Ordering.by[Any, Int](_.asInstanceOf[Int]))
      case StringType =>
        Some(Ordering.by[Any, UTF8String](s => UTF8String.fromString(s.asInstanceOf[String])))
      case _ => None
    }
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    val maxEdges = math.min(threshold / (8 + 2 * idType.defaultSize), Int.MaxValue - 1L).toInt
    for {
      ord <- ordering if threshold >= 0
      rows = edges.limit(maxEdges + 1).collect()
      if rows.length <= maxEdges && !rows.exists(r => r.isNullAt(0) || r.isNullAt(1))
    } yield {
      val ids = rows.map(_.get(0)).distinct.sorted(ord) // symmetric: every vertex is a src
      val index = ids.zipWithIndex.toMap
      val src = rows.map(r => index(r.get(0)))
      val dst = rows.map(r => index(r.get(1)))
      var labels = Array.range(0, ids.length)
      var round = 0
      var done = false
      val roundSecs = List.newBuilder[Double]
      while (round < maxIter && !done) {
        val t0 = System.nanoTime()
        val next = labels.clone()
        for (e <- src.indices) next(src(e)) = math.min(next(src(e)), labels(dst(e)))
        done = next.sameElements(labels)
        labels = next
        round += 1
        roundSecs += (System.nanoTime() - t0) / 1e9
      }
      val out = ids.indices.map(v => Row(ids(v), ids(labels(v))))
      (spark.createDataFrame(out.asJava, labelSchema), roundSecs.result())
    }
  }

  /** The min-label rounds as Spark jobs: one join + min aggregate per
    * round, labels persisted and periodically checkpointed. */
  private def distributedComponents(edgeRelation: DataFrame, labelSchema: StructType,
                                    maxIter: Int, checkpointDir: Option[String],
                                    checkpointEvery: Int): (DataFrame, List[Double]) = {
    val spark = edgeRelation.sparkSession
    val sc = spark.sparkContext
    if (sc.getCheckpointDir.isEmpty) checkpointDir match {
      case Some(d) => sc.setCheckpointDir(d)
      case None =>
        // A driver-local temp dir is only a RELIABLE checkpoint target when
        // driver and executors share a filesystem — i.e. local mode. On a
        // cluster each executor would write its parts to its own disk and
        // the checkpoint would be silently non-durable: fail fast instead.
        require(sc.isLocal,
          "connectedComponents: no checkpoint dir configured. On a cluster, " +
          "set sc.setCheckpointDir to a durable shared path (HDFS/S3) or " +
          "pass checkpointDir explicitly.")
        val tmp = java.nio.file.Files.createTempDirectory("graft-cc-ckpt")
        sc.setCheckpointDir(tmp.toString)
        // Checkpoint parts must outlive this call (the returned frame's
        // lineage references them until the caller materializes it), so
        // clean up at JVM exit rather than at convergence.
        Runtime.getRuntime.addShutdownHook(new Thread(() => {
          def rm(f: java.io.File): Unit = {
            if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
            f.delete(): Unit
          }
          rm(tmp.toFile)
        }))
    }
    val edges = edgeRelation.checkpoint()
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("component"))
    var prevRdd: Option[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]] = None
    var iter = 0
    var done = false
    val iterSecs = List.newBuilder[Double]
    while (iter < maxIter && !done) {
      val t0 = System.nanoTime()
      val nmin = edges
        .join(labels.select(col("id").as("dst"), col("component").as("dcomp")), Seq("dst"))
        .groupBy(col("src")).agg(min(col("dcomp")).as("ncomp"))
      val flagged = labels
        .join(nmin.select(col("src").as("id"), col("ncomp")), Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("ncomp"), col("component"))).as("newc"),
          (coalesce(col("ncomp"), col("component")) < col("component")).as("_ch"))
      val acc = sc.longAccumulator(s"cc-changed-$iter")
      val rdd = flagged.rdd.map { r =>
        if (r.getBoolean(2)) acc.add(1L)
        org.apache.spark.sql.Row(r.get(0), r.get(1))
      }
      rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      if (iter % checkpointEvery == checkpointEvery - 1)
        rdd.checkpoint() // written from the cached partitions after the count job
      rdd.count()
      done = acc.value == 0
      prevRdd.foreach(_.unpersist(blocking = false))
      prevRdd = Some(rdd)
      labels = spark.createDataFrame(rdd, labelSchema)
      iter += 1
      iterSecs += (System.nanoTime() - t0) / 1e9
    }
    (labels, iterSecs.result())
  }

  /** The dedup endpoint: given the corpus and near-dup components, keep
    * one canonical row per cluster (the smallest id) plus every row that
    * was never in a cluster. A broadcast of the (id, component) relation —
    * tiny relative to the corpus — and one anti-ish filter; the corpus is
    * scanned once. */
  def keepCanonical(df: DataFrame, idCol: String, components: DataFrame): DataFrame = {
    val losers = components.filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    df.join(broadcast(losers), Seq(idCol), "left_anti")
  }

  /** 32-bit SimHash over distinct tokens: bit b of md5's first 8 hex chars
    * votes +1/-1; bit set where the vote sum is positive (equivalently:
    * where set-bit count s satisfies 2·s > N over N tokens).
    *
    * Shuffle-lean formulation: instead of exploding 32 bit-rows per
    * (doc, token) — 32·|tokens| rows through the first aggregate — explode
    * the 8 hex NIBBLES, histogram them per (doc, position, value) with
    * map-side combine (≤ 8·16 rows per doc survive), and only then expand
    * each histogram cell into its 4 bit contributions. Identical output,
    * ~4× less aggregate input.
    */
  def simHash(df: DataFrame, idCol: String, textCol: String,
              bits: Int = 32): DataFrame = {
    // 60, not 63: the top term is pow(2.0, bits-1).cast("long"), and the
    // non-ANSI cast silently clamps once 2^(bits-1) exceeds Long.MaxValue —
    // corrupt signatures with no error. 60 is the largest multiple of 4
    // whose sign-bit term stays exact, and matches simhashBands' 15-bit
    // shift/mask layout (4 bands × 15 bits).
    require(bits % 4 == 0 && bits <= 60, "bits: multiple of 4, at most 60")
    val nibbles = bits / 4
    val toks = Relational.spread(df, col(idCol))
      .select(col(idCol), PF.tokens(col(textCol)).as("_toks"))
      .select(col(idCol), explode(array_distinct(col("_toks"))).as("tok"))
    // (doc, pos 1..nibbles, nib 0..15) histogram; Σcnt over nib = token
    // count N for every pos, so N never needs its own pass.
    val counts = toks
      .select(col(idCol), substring(md5(col("tok").cast("binary")), 1, nibbles).as("hh"))
      .select(col(idCol), explode(sequence(lit(1), lit(nibbles))).as("pos"), col("hh"))
      .select(col(idCol), col("pos"),
        (instr(lit("0123456789abcdef"), substring(col("hh"), col("pos"), lit(1)))
          .cast("int") - 1).as("nib"))
      .groupBy(col(idCol), col("pos"), col("nib")).agg(count(lit(1)).as("cnt"))
    // bit within nibble: bl 0..3 MSB-first — bit = floor(nib / (8 >> bl)) % 2
    // (variable shifts aren't supported by functions.shiftright).
    val divisor = when(col("bl") === 0, 8).when(col("bl") === 1, 4)
      .when(col("bl") === 2, 2).otherwise(1)
    val bitSums = counts
      .select(col(idCol), col("pos"), col("cnt"), col("nib"),
        explode(sequence(lit(0), lit(3))).as("bl"))
      .select(col(idCol), col("pos"), col("bl"), col("cnt"),
        (col("cnt") * (floor(col("nib") / divisor).cast("int") % 2)).as("contrib"))
      .groupBy(col(idCol), col("pos"), col("bl"))
      .agg(sum(col("contrib")).as("s"), sum(col("cnt")).as("n"))
    // global bit index b = (pos-1)*4 + bl; set iff vote sum 2s-N > 0.
    // Each pow term is a single power of two (exact in double); it must be
    // cast to LONG before summing — a double SUM of >53-bit signatures
    // rounds, and rounds differently per engine.
    bitSums.groupBy(col(idCol))
      .agg(sum(when(col("s") * 2 > col("n"),
          pow(lit(2.0), lit(bits - 1) - ((col("pos") - 1) * 4 + col("bl"))).cast("long"))
        .otherwise(lit(0L)))
        .as("simhash"))
  }

  /** AllPairs/PPJoin candidate generation for an EXACT Jaccard-threshold
    * join at `t = tNum/tDen`: rank each id's distinct tokens rarest-first
    * (global df asc, token asc — one consistent total order), index only
    * the first `sz − ⌈t·sz⌉ + 1` tokens, and self-join on prefix tokens.
    * Complete by pigeonhole: a pair with J ≥ t overlaps in more than
    * (1−t)·|x| tokens, so some common token lands in BOTH prefixes.
    *
    * `positional = true` adds PPJoin's two candidate-time prunes, both
    * still complete:
    *  - SIZE: J ≥ t forces tNum·|x| ≤ tDen·|y| (and symmetrically);
    *  - POSITION: at the FIRST common token (positions pa, pb in the
    *    shared order) the overlap is at most 1 + min(|x|−pa, |y|−pb);
    *    J ≥ t needs overlap ≥ ⌈tNum(|x|+|y|)/(tNum+tDen)⌉, so a pair
    *    where NO shared prefix token satisfies the bound cannot qualify
    *    (the first common token of a qualifying pair is in both
    *    prefixes — else all common tokens sit in the last ⌈t·|x|⌉−1
    *    positions, capping overlap below t·|x| ≤ the threshold).
    *    Keeping a pair iff ∃ a passing shared token therefore never
    *    dismisses a qualifying pair, and on sparse corpora (where two
    *    docs typically share ONE rare token, deep in the smaller doc's
    *    tail) it cuts the verification load well below plain AllPairs.
    *
    * Input: (id, tok) distinct pairs. Output: (id_a, id_b) candidate
    * pairs, id_a < id_b, distinct — verification (exact intersection
    * over full token arrays) stays the caller's. At 100 TB the join
    * shuffles on prefix tokens (rarest tokens → smallest postings); the
    * positional prune is a per-row integer filter BEFORE the distinct,
    * i.e. it shrinks the shuffle, not just the verify. */
  def prefixCandidates(toks: DataFrame, idCol: String, tokCol: String,
                       positional: Boolean,
                       tNum: Int = 3, tDen: Int = 5): DataFrame = {
    require(tNum > 0 && tDen > tNum, s"prefixCandidates: need 0 < $tNum/$tDen < 1")
    val dfs = toks.groupBy(col(tokCol)).agg(count(lit(1)).as("df"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("df").asc, col(tokCol).asc)
    val ranked = toks.join(dfs, Seq(tokCol))
      .select(col(idCol), col(tokCol),
        row_number().over(wDoc).as("rnk"),
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col(idCol))).as("sz"))
    val prefix = ranked
      .filter(col("rnk") <= expr(s"sz - (sz * $tNum + ${tDen - 1}) div $tDen + 1"))
    val raw = prefix.select(col(tokCol), col(idCol).as("id_a"),
        col("rnk").as("pa"), col("sz").as("sza"))
      .join(prefix.select(col(tokCol), col(idCol).as("id_b"),
        col("rnk").as("pb"), col("sz").as("szb")), Seq(tokCol))
      .filter(col("id_a") < col("id_b"))
    val pruned =
      if (!positional) raw
      else raw
        .filter(col("sza") * tNum <= col("szb") * tDen &&
          col("szb") * tNum <= col("sza") * tDen)
        // ub ≥ ⌈v/(tNum+tDen)⌉ ⟺ (tNum+tDen)·ub ≥ v for integer ub
        .filter((lit(1) + least(col("sza") - col("pa"), col("szb") - col("pb")))
          * (tNum + tDen) >= (col("sza") + col("szb")) * tNum)
    pruned.select(col("id_a"), col("id_b")).distinct()
  }
}
