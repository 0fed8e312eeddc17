package graft

import org.apache.spark.graftspec.JobCount
import org.apache.spark.sql.DataFrame

import graft.operators.Dedup

/** `Dedup.connectedComponents` solves a graph whose edges fit the
  * broadcast threshold on the driver and larger ones with the distributed
  * min-label loop. Every graph here runs both ways (default settings, then
  * `spark.sql.autoBroadcastJoinThreshold=-1`), and the two must agree row
  * for row and round for round — including a run cut short by `maxIter`. */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"

  /** (labels, rounds, jobs) under the given broadcast threshold (None =
    * the session default). */
  private def components(pairs: DataFrame, maxIter: Int,
                         threshold: Option[String]): (Set[(Any, Any)], Int, Int) = {
    val before = spark.conf.getOption(thresholdKey)
    threshold.foreach(spark.conf.set(thresholdKey, _))
    try {
      val ((labels, rounds), jobs) = JobCount(spark.sparkContext) {
        val (df, secs) = Dedup.connectedComponentsStats(pairs, maxIter)
        (df.collect().map(r => (r.get(0), r.get(1))).toSet, secs.size)
      }
      (labels, rounds, jobs)
    } finally before match {
      case Some(v) => spark.conf.set(thresholdKey, v)
      case None => spark.conf.unset(thresholdKey)
    }
  }

  /** Runs both paths, checks they agree, and returns the labels and round
    * count; the local run must stay within two jobs (the distinct edges'
    * shuffle and the collect). */
  private def bothPaths(pairs: DataFrame, maxIter: Int = 20): (Set[(Any, Any)], Int) = {
    val (local, localRounds, localJobs) = components(pairs, maxIter, None)
    val (dist, distRounds, distJobs) = components(pairs, maxIter, Some("-1"))
    assert(local == dist, "driver-local and distributed labels differ")
    assert(localRounds == distRounds,
      s"round counts differ: local $localRounds, distributed $distRounds")
    assert(localJobs <= 2, s"small graph ran $localJobs jobs on the local path")
    assert(distJobs > localJobs, "threshold -1 did not take the distributed loop")
    (local, localRounds)
  }

  /** Chains of 7 ids scrambled so the component minimum sits mid-chain:
    * diameter 6, component = the chain's smallest id. */
  private val chainLen = 7
  private def chains(n: Int): Seq[(Long, Long)] = (0 until n).flatMap { c =>
    val ids = (0 until chainLen).map(i => c.toLong * 1000 + (i * 31 % chainLen))
    ids.zip(ids.tail)
  }

  test("scrambled-id chains: every chain is one component, rounds within diameter + 1") {
    // spread over partitions and materialized, like the output of a dedup pass
    val pairs = chains(40).toDF("id_a", "id_b").repartition(4).localCheckpoint()
    val (labels, rounds) = bothPaths(pairs)
    assert(labels == chains(40).flatMap(e => Seq(e._1, e._2)).distinct
      .map(id => (id, (id / 1000) * 1000)).toSet)
    assert(rounds <= chainLen, s"$rounds rounds for diameter ${chainLen - 1}")
  }

  test("stars: leaves and hub take the smallest member, in at most 3 rounds") {
    // hub 100·s + 50 joined to leaves 100·s + 1..9: the minimum is a leaf,
    // two hops from every other leaf
    val edges = (0 until 30).flatMap(s => (1 to 9).map(l => (100L * s + 50, 100L * s + l)))
    val (labels, rounds) = bothPaths(edges.toDF("id_a", "id_b"))
    assert(labels == edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(id => (id, (id / 100) * 100 + 1)).toSet)
    assert(rounds <= 3, s"$rounds rounds for diameter 2")
  }

  test("a chain capped at maxIter = 2 returns the same partial labels both ways") {
    // 1 - 2 - … - 10: after two synchronous rounds vertex v holds max(1, v - 2)
    val edges = (1L until 10L).map(v => (v, v + 1))
    val (labels, rounds) = bothPaths(edges.toDF("id_a", "id_b"), maxIter = 2)
    assert(rounds == 2)
    assert(labels == (1L to 10L).map(v => (v, math.max(1L, v - 2))).toSet)
  }

  test("Int and String ids keep their type and take the local path") {
    val ints = chains(5).map { case (a, b) => (a.toInt, b.toInt) }
    val (intLabels, intRounds) = bothPaths(ints.toDF("id_a", "id_b"))
    assert(intLabels == ints.flatMap(e => Seq(e._1, e._2)).distinct
      .map(id => (id, (id / 1000) * 1000)).toSet)
    assert(intRounds <= chainLen)
    // string order is not numeric order: "v10" < "v9", so "v10" labels {v9, v10}
    val strs = Seq(("v9", "v10"), ("b", "a"), ("a", "c"))
    val (strLabels, _) = bothPaths(strs.toDF("id_a", "id_b"))
    assert(strLabels == Set[(Any, Any)]("v9" -> "v10", "v10" -> "v10",
      "a" -> "a", "b" -> "a", "c" -> "a"))
  }
}
