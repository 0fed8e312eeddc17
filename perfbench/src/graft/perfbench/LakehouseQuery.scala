package graft.perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}

import graft.sources.v2.GraftMaterializedViews

/** `lakehouse_query`: one SQL query per op from a seeded stream over a
  * TPC-H-shaped `lineitem` ⋈ `orders` pair (scale factor [[LakehouseQuery.SF]]).
  * `lineitem` is keyed on (l_orderkey, l_linenumber), range-clustered on
  * l_orderkey and carries uncompacted merge-on-read deletes of ~1% of its
  * rows; a materialized view is registered over the delete-free `orders`. The
  * timed phase re-reads one fixed snapshot and commits nothing. */
final class LakehouseQuery(spark: SparkSession, tr: Tracer, root: Path, seed: Long)
    extends Workload {
  import LakehouseQuery._

  private val nOrders = (1500000 * SF).toInt
  private val rawDir = root.resolve("raw_lakehouse")
  private def raw(t: String) = s"parquet.`${rawDir.resolve(t)}`"
  private def h(salt: Int, cols: String) = s"xxhash64($cols, ${seed}L, $salt)"
  /** Rows the setup deletes from `lineitem` (~1%). */
  private val deleted = s"pmod(${h(99, "l_orderkey, l_linenumber")}, 100) = 0"

  private var rep = 0
  private def catalog(r: Int) = s"pb_lake_$r"
  private def mvName(r: Int) = s"perfbench_lake_mv_$r"
  private def warehouse(r: Int) = root.resolve(s"warehouse_lake_$r")
  private var mvSql = ""

  /** kind -> (graft SQL, plain-Spark SQL, hash of the plain-Spark result) */
  private var pool: Map[String, IndexedSeq[(String, String, String)]] = Map.empty
  private var mvHits0 = 0L
  private var mvOps = 0

  def round: Int = Deck.size

  private def ordersDf = spark.range(1, nOrders + 1L).selectExpr(
    "id AS o_orderkey",
    s"pmod(${h(1, "id")}, ${nOrders / 10}) + 1 AS o_custkey",
    s"element_at(array('F', 'O', 'P'), cast(pmod(${h(2, "id")}, 3) + 1 AS INT)) AS o_orderstatus",
    s"date_add(DATE '1992-01-01', cast(pmod(${h(3, "id")}, 2406) AS INT)) AS o_orderdate",
    "element_at(array('1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'), " +
      s"cast(pmod(${h(4, "id")}, 5) + 1 AS INT)) AS o_orderpriority",
    s"pmod(${h(6, "id")}, 50000000) + 100000 AS o_totalprice",
    s"cast(pmod(${h(5, "id")}, 7) + 1 AS INT) AS o_nlines")

  private def lineitemDf = ordersDf
    .selectExpr("o_orderkey AS l_orderkey", "o_orderdate",
      "explode(sequence(1, o_nlines)) AS l_linenumber")
    .selectExpr("l_orderkey", "l_linenumber",
      s"pmod(${h(11, "l_orderkey, l_linenumber")}, 20000) + 1 AS l_partkey",
      s"pmod(${h(12, "l_orderkey, l_linenumber")}, 50) + 1 AS l_quantity",
      s"cast(pmod(${h(14, "l_orderkey, l_linenumber")}, 11) AS INT) AS l_discount",
      s"cast(pmod(${h(15, "l_orderkey, l_linenumber")}, 9) AS INT) AS l_tax",
      s"date_add(o_orderdate, cast(pmod(${h(16, "l_orderkey, l_linenumber")}, 121) + 1 AS INT)) AS l_shipdate",
      "element_at(array('AIR', 'MAIL', 'RAIL', 'SHIP', 'TRUCK', 'FOB', 'REG AIR'), " +
        s"cast(pmod(${h(17, "l_orderkey, l_linenumber")}, 7) + 1 AS INT)) AS l_shipmode",
      s"pmod(${h(13, "l_orderkey, l_linenumber")}, 100000) + 90000 AS l_unitprice")
    .selectExpr("l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
      "l_quantity * l_unitprice AS l_extendedprice", "l_discount", "l_tax",
      "CASE WHEN l_shipdate > DATE '1995-06-17' THEN 'N' " +
        s"WHEN pmod(${h(18, "l_orderkey, l_linenumber")}, 2) = 0 THEN 'A' ELSE 'R' END AS l_returnflag",
      "CASE WHEN l_shipdate > DATE '1995-06-17' THEN 'O' ELSE 'F' END AS l_linestatus",
      "l_shipdate", "l_shipmode")

  def generate(): Unit = {
    ordersDf.drop("o_nlines").write.mode("overwrite").parquet(rawDir.resolve("orders").toString)
    lineitemDf.write.mode("overwrite").parquet(rawDir.resolve("lineitem").toString)
  }

  def digest(): String = Util.sha256(Iterator(ordersDf, lineitemDf).map { df =>
    df.selectExpr(s"xxhash64(${df.columns.mkString(", ")}) AS h")
      .selectExpr("count(*)", "sum(cast(h AS DECIMAL(38, 0)))").head.toSeq.mkString(",")
  })

  def setup(r: Int): Unit = {
    rep = r
    val c = catalog(r)
    spark.conf.set(s"spark.sql.catalog.$c", "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$c.warehouse", warehouse(r).toString)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $c.ns")
    tr("commit.load") {
      spark.sql(s"CREATE TABLE $c.ns.lineitem (l_orderkey BIGINT, l_linenumber INT, " +
        "l_partkey BIGINT, l_quantity BIGINT, l_extendedprice BIGINT, l_discount INT, " +
        "l_tax INT, l_returnflag STRING, l_linestatus STRING, l_shipdate DATE, " +
        "l_shipmode STRING) TBLPROPERTIES ('write.key'='l_orderkey,l_linenumber', " +
        "'write.order'='l_orderkey', 'write.order.partitions'='8')")
      spark.sql(s"INSERT INTO $c.ns.lineitem SELECT * FROM ${raw("lineitem")}")
      spark.sql(s"CREATE TABLE $c.ns.orders (o_orderkey BIGINT, o_custkey BIGINT, " +
        "o_orderstatus STRING, o_orderdate DATE, o_orderpriority STRING, o_totalprice BIGINT) " +
        "TBLPROPERTIES ('write.order'='o_orderkey', 'write.order.partitions'='4')")
      spark.sql(s"INSERT INTO $c.ns.orders SELECT * FROM ${raw("orders")}")
    }
    tr("commit.delete")(spark.sql(s"DELETE FROM $c.ns.lineitem WHERE $deleted"))
    // the view's base is `orders`, which no set-up step deletes from
    val baseDir = warehouse(r).resolve("ns/orders").toString
    mvSql = tr("mv.refresh") {
      GraftMaterializedViews.registerAgg(spark, mvName(r), s"$c.ns.orders", baseDir,
        Seq("o_orderstatus", "o_orderpriority"), Seq("o_totalprice"), s"$baseDir/_mv")
    }
  }

  def discard(r: Int): Unit = {
    GraftMaterializedViews.drop(mvName(r))
    Util.deleteTree(warehouse(r))
  }

  /** The seeded query pool and each query's plain-Spark reference hash over
    * the raw parquet (deleted rows filtered out). */
  def prepare(): Unit = {
    spark.sql(s"SELECT * FROM ${raw("lineitem")} WHERE NOT ($deleted)")
      .createOrReplaceTempView("perfbench_raw_lineitem")
    spark.sql(s"SELECT * FROM ${raw("orders")}").createOrReplaceTempView("perfbench_raw_orders")
    val rnd = new SplittableRandom(seed * 0x2545F4914F6CDD1DL + 3)
    def day(from: String, span: Int) =
      java.time.LocalDate.parse(from).plusDays(rnd.nextInt(span)).toString
    val li = s"${catalog(rep)}.ns.lineitem"
    val o = s"${catalog(rep)}.ns.orders"
    val point = IndexedSeq.fill(4) {
      val k = 1 + rnd.nextInt(nOrders - 3)
      "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate " +
        s"FROM {li} WHERE l_orderkey BETWEEN $k AND ${k + 2}"
    }
    val scanAgg = IndexedSeq.fill(2) {
      "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, " +
        "sum(l_extendedprice) AS sum_base, sum(l_extendedprice * (100 - l_discount)) AS sum_disc, " +
        "sum(l_extendedprice * (100 - l_discount) * (100 + l_tax)) AS sum_charge, " +
        s"count(*) AS n FROM {li} WHERE l_shipdate <= DATE '${day("1998-08-01", 120)}' " +
        "GROUP BY l_returnflag, l_linestatus"
    }
    val joinAgg = IndexedSeq.fill(2) {
      val a = day("1993-01-01", 1800)
      "SELECT o_orderpriority, count(*) AS n, sum(l_extendedprice) AS revenue " +
        "FROM {o} JOIN {li} ON o_orderkey = l_orderkey " +
        s"WHERE o_orderdate >= DATE '$a' AND o_orderdate < date_add(DATE '$a', 90) " +
        "GROUP BY o_orderpriority"
    }
    def entry(t: String) = (
      t.replace("{li}", li).replace("{o}", o),
      t.replace("{li}", "perfbench_raw_lineitem").replace("{o}", "perfbench_raw_orders"))
    pool = (Map("point" -> point.map(entry), "scan_agg" -> scanAgg.map(entry),
      "join_agg" -> joinAgg.map(entry)) +
      ("mv_rollup" -> IndexedSeq((mvSql,
        mvSql.replace(o, "perfbench_raw_orders"))))).map {
      case (k, qs) => k -> qs.map { case (g, ref) =>
        (g, ref, Util.resultHash(spark.sql(ref).collect()))
      }
    }
    mvHits0 = GraftMaterializedViews.hits(mvName(rep))
  }

  private def query(k: String, q: (String, String, String)): PendingOp = new PendingOp {
    private var result: Array[Row] = Array.empty
    val kind: String = k
    val rows = 0
    def run(): Unit = result = Util.sqlRead(spark, tr, "read.query", q._1)
    def check(): Boolean = {
      if (kind == "mv_rollup") mvOps += 1
      Util.resultHash(result) == q._3
    }
  }

  def next(i: Int): PendingOp =
    if (i < 0) new PendingOp {
      // warm-up: every query of the pool once
      private val qs = pool.toSeq.flatMap { case (k, es) => es.map(query(k, _)) }
      val kind = "warmup"
      val rows = 0
      def run(): Unit = qs.foreach(_.run())
      def check(): Boolean = qs.forall(_.check())
    }
    else {
      // each round of ten ops holds the exact mix, in seeded order, so the
      // median of a run always falls at the same place in the mix
      val deck = Deck.toArray
      val rnd = new SplittableRandom(seed * 1000003L + i / Deck.size)
      for (j <- deck.indices.reverse) {
        val k = rnd.nextInt(j + 1); val t = deck(j); deck(j) = deck(k); deck(k) = t
      }
      val kind = deck(i % Deck.size)
      val qs = pool(kind)
      query(kind, qs(new SplittableRandom(seed * 7919L + i).nextInt(qs.length)))
    }

  def finish(): (Boolean, Map[String, Any]) = {
    val hits = GraftMaterializedViews.hits(mvName(rep)) - mvHits0
    tr.count("mv.hits", hits)
    (true, Map("mv_hits" -> hits, "mv_rollup_ops" -> mvOps))
  }
}

object LakehouseQuery {
  val SF = 0.01
  /** The query mix of one round: 40% point, 20% each of the others. */
  val Deck: Seq[String] = Seq.fill(4)("point") ++ Seq.fill(2)("scan_agg") ++
    Seq.fill(2)("join_agg") ++ Seq.fill(2)("mv_rollup")
}
