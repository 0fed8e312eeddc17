package graft

import org.apache.spark.graftspec.JobCount
import org.apache.spark.sql.DataFrame

import graft.sources.ManifestTable

/** Merge-on-read planning loads delete metadata without Spark jobs, once
  * per delete file per JVM: the job count of a read does not grow with
  * uncompacted delete commits, a repeated read loads nothing, and the
  * per-file memo never serves a stale or over-bound entry. Every result
  * is checked against the library read of the same snapshot. */
class MoRPlanningSpec extends SparkSpec {
  import spark.implicits._

  private lazy val wh: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_mpl_wh").toString
    spark.conf.set("spark.sql.catalog.gmpl", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gmpl.warehouse", d)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gmpl.ns")
    d
  }

  /** One collected `SELECT k, v` query: its rows, the call sites of the
    * jobs run while analysing and planning it, and its total job count. */
  private def run(sql: String): (Set[(Long, Long)], Seq[String], Int) = {
    val sc = spark.sparkContext
    val (df, planJobs) = JobCount.callSites(sc) {
      val d = spark.sql(sql)
      d.queryExecution.executedPlan: Unit
      d
    }
    val (rows, execJobs) =
      JobCount(sc)(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    (rows, planJobs, planJobs.length + execJobs)
  }

  private def library(dir: String, where: DataFrame => DataFrame): Set[(Long, Long)] =
    where(ManifestTable.read(spark, dir)).select($"k", $"v")
      .as[(Long, Long)].collect().toSet

  private def keyedTable(name: String, keys: Seq[Long]): String = {
    spark.sql(s"DROP TABLE IF EXISTS gmpl.ns.$name")
    spark.sql(s"CREATE TABLE gmpl.ns.$name (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES('write.key'='k')")
    keys.map(k => (k, k * 10)).toDF("k", "v").createOrReplaceTempView("mpl_src")
    spark.sql(s"INSERT INTO gmpl.ns.$name SELECT /*+ REPARTITION(4) */ * FROM mpl_src")
    s"$wh/ns/$name"
  }

  private def mergeBatch(name: String, b: Int): Unit = {
    // three matched keys updated, two new keys inserted
    (Seq(3L, 50L + b, 100L + b).map(k => (k, k * 1000 + b)) ++
      Seq((1000L + 2 * b, 1L), (1001L + 2 * b, 2L))).toDF("k", "v")
      .createOrReplaceTempView("mpl_batch")
    spark.sql(s"""MERGE INTO gmpl.ns.$name t USING mpl_batch s ON t.k = s.k
                  WHEN MATCHED THEN UPDATE SET *
                  WHEN NOT MATCHED THEN INSERT *""")
  }

  test("keyed table: point SELECT jobs stay flat over 1 and 3 uncompacted MERGE commits; re-planning runs none") {
    wh: Unit
    val dir = keyedTable("kt", 1L to 200L)
    val point = "SELECT k, v FROM gmpl.ns.kt WHERE k = 3"
    val wide = "SELECT k, v FROM gmpl.ns.kt WHERE k >= 40"

    // the first read of a new snapshot may infer the table schema (one
    // job per new file set, whatever the delete chain); delete files
    // add no job, so the count is the same after 1 and after 3 commits
    mergeBatch("kt", 1)
    val (after1, plan1, jobs1) = run(point)
    assert(after1 == library(dir, _.filter($"k" === 3)))
    assert(after1 == Set((3L, 3001L)))

    mergeBatch("kt", 2)
    mergeBatch("kt", 3)
    val (after3, plan3, jobs3) = run(point)
    assert(after3 == library(dir, _.filter($"k" === 3)))
    assert(after3 == Set((3L, 3003L)))
    assert(plan3 == plan1,
      s"planning after 3 delete commits ran $plan3, after 1 ran $plan1")
    assert(jobs3 == jobs1,
      s"a point read after 3 delete commits ran $jobs3 jobs, after 1 ran $jobs1")

    // same snapshot again: planning loads nothing
    val (again, planAgain, jobsAgain) = run(point)
    assert(again == after3)
    assert(planAgain.isEmpty, s"re-planning the same snapshot ran $planAgain")
    assert(jobsAgain == jobs3 - plan3.length)
    val (wideRows, planWide, _) = run(wide)
    assert(wideRows == library(dir, _.filter($"k" >= 40)))
    assert(planWide.isEmpty, s"re-planning the same snapshot ran $planWide")
  }

  test("position-delete chain: jobs stay flat over 1 and 3 delete commits; re-planning runs none") {
    wh: Unit
    spark.sql("DROP TABLE IF EXISTS gmpl.ns.pt")
    spark.sql("CREATE TABLE gmpl.ns.pt (k BIGINT, v BIGINT)")
    (1L to 300L).map(k => (k, k % 17)).toDF("k", "v").createOrReplaceTempView("mpl_psrc")
    spark.sql("INSERT INTO gmpl.ns.pt SELECT /*+ REPARTITION(3) */ * FROM mpl_psrc")
    val dir = s"$wh/ns/pt"
    val q = "SELECT k, v FROM gmpl.ns.pt WHERE v < 9"

    ManifestTable.deleteWhere(spark, dir, $"k" % 7 === 0): Unit
    val (after1, plan1, jobs1) = run(q)
    assert(after1 == library(dir, _.filter($"v" < 9)))
    assert(!after1.exists(_._1 % 7 == 0) && after1.nonEmpty)

    ManifestTable.deleteWhere(spark, dir, $"k" % 11 === 0): Unit
    ManifestTable.deleteWhere(spark, dir, $"k" > 280): Unit
    val (after3, plan3, jobs3) = run(q)
    assert(after3 == library(dir, _.filter($"v" < 9)))
    assert(!after3.exists(r => r._1 % 11 == 0 || r._1 > 280) && after3.nonEmpty)
    assert(plan3 == plan1,
      s"planning after 3 delete commits ran $plan3, after 1 ran $plan1")
    assert(jobs3 == jobs1,
      s"a read after 3 position-delete commits ran $jobs3 jobs, after 1 ran $jobs1")

    val (again, planAgain, jobsAgain) = run(q)
    assert(again == after3)
    assert(planAgain.isEmpty, s"re-planning the same snapshot ran $planAgain")
    assert(jobsAgain == jobs3 - plan3.length)
  }

  test("a re-created table at the same path serves its own deletes, not the memoized ones") {
    wh: Unit
    val keys = 1L to 40L
    val dir = keyedTable("rt", keys)
    spark.sql("DELETE FROM gmpl.ns.rt WHERE k IN (1, 2)")
    val all = "SELECT k, v FROM gmpl.ns.rt"
    assert(run(all)._1 == keys.filterNot(Set(1L, 2L)).map(k => (k, k * 10)).toSet)

    assert(keyedTable("rt", keys) == dir)
    spark.sql("DELETE FROM gmpl.ns.rt WHERE k IN (3, 4)")
    val (rows, _, _) = run(all)
    assert(rows == keys.filterNot(Set(3L, 4L)).map(k => (k, k * 10)).toSet)
    assert(rows == library(dir, identity))
  }

  test("a delete file rewritten in place at the same path is re-read") {
    import graft.sources.v2.MoRDeleteKeyLoader
    val d = java.nio.file.Files.createTempDirectory("graft_mpl_file").toString
    def writeKeys(ks: Seq[Long]): String = {
      ks.toDF("k").coalesce(1).write.mode("overwrite").parquet(d)
      new java.io.File(d).listFiles().map(_.getAbsolutePath)
        .filter(_.endsWith(".parquet")).head
    }
    val target = s"$d.keys.parquet"
    java.nio.file.Files.move(java.nio.file.Paths.get(writeKeys(Seq(1L, 2L))),
      java.nio.file.Paths.get(target))
    def load(): Set[Any] =
      MoRDeleteKeyLoader.fileKeys(target, Array("k"), Array(0)).map(_(0)).toSet
    assert(load() == Set(1L, 2L))
    java.nio.file.Files.move(java.nio.file.Paths.get(writeKeys(30L to 60L)),
      java.nio.file.Paths.get(target), java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(load() == (30L to 60L).toSet[Any])
  }

  test("with a low key ceiling the per-file memo evicts and reads stay correct") {
    wh: Unit
    // each table's scan holds 6 keys (under the ceiling, so both stay on
    // the driver-loaded path); the two tables together exceed it
    val dirA = keyedTable("ba", 1L to 60L)
    spark.sql("DELETE FROM gmpl.ns.ba WHERE k IN (1, 2, 3)")
    spark.sql("DELETE FROM gmpl.ns.ba WHERE k IN (4, 5, 6)")
    val dirB = keyedTable("bb", 1L to 60L)
    spark.sql("DELETE FROM gmpl.ns.bb WHERE k IN (10, 11, 12, 13, 14, 15)")
    sys.props("graft.mor.maxDeleteKeys") = "8"
    try {
      (1 to 3).foreach { _ =>
        val (a, _, _) = run("SELECT k, v FROM gmpl.ns.ba")
        assert(a == (7L to 60L).map(k => (k, k * 10)).toSet)
        assert(a == library(dirA, identity))
        val (b, _, _) = run("SELECT k, v FROM gmpl.ns.bb")
        assert(b == (1L to 60L).filterNot(k => k >= 10 && k <= 15)
          .map(k => (k, k * 10)).toSet)
        assert(b == library(dirB, identity))
      }
    } finally sys.props.remove("graft.mor.maxDeleteKeys"): Unit
  }

  test("LruMemo bounds total weight, evicting least-recently used entries one at a time") {
    var cap = 10L
    val m = new ManifestTable.LruMemo[String, Array[Int]](cap, _.length.toLong)
    m.put("a", Array.fill(4)(0))
    m.put("b", Array.fill(4)(0))
    m.get("a"): Unit                      // b is now the eldest
    m.put("c", Array.fill(4)(0))          // 12 > 10: b goes, a and c stay
    assert(m.get("b").isEmpty && m.get("a").isDefined && m.get("c").isDefined)
    m.put("huge", Array.fill(11)(0))      // heavier than the whole cap
    assert(m.get("huge").isEmpty && m.get("a").isDefined && m.get("c").isDefined)
    cap = 5L                              // the cap is re-read at each put
    m.put("d", Array.fill(1)(0))
    assert(m.get("d").isDefined &&
      Seq("a", "c").count(k => m.get(k).isDefined) == 1)
    var made = 0
    assert(m.getOrPut("d") { made += 1; Array(1) }.length == 1 && made == 0)
    assert(m.getOrPut("e") { made += 1; Array(1) }.length == 1 && made == 1)
  }
}
