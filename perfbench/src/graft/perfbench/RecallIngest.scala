package graft.perfbench

import java.nio.file.{Files, Path}
import java.sql.DriverManager
import java.util.{Properties, SplittableRandom}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.jdbc.{JdbcDialect, JdbcDialects, JdbcType}
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}

import graft.operators.Relational
import graft.pipeline.RappelConso
import graft.sources.{JdbcIO, KafkaIO}

/** Seeded RappelConso feed: raw 31-field JSON lines with accented French
  * text. About 25% of a batch's rows carry a key ingested by an earlier
  * batch and about 5% repeat a key earlier in the same batch. The row's
  * `lien_vers_la_fiche_rappel` names the key and the row's position, so
  * the gate can tell which version of a key a sink holds. */
final class RecallFeed(seed: Long) {
  import RecallFeed._
  private val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)
  private var nextKey = 0
  /** key -> marker of its latest row (what last-wins keeps). */
  val lastMarker: mutable.HashMap[String, String] = mutable.HashMap.empty

  def key(k: Int): String = f"RC$seed%d-$k%07d"

  /** `n` rows; `tag` names the batch in the markers. Keys and markers
    * are applied to [[lastMarker]] as the batch is generated. */
  def batch(tag: String, n: Int, oldShare: Double = 0.25): Batch = {
    val keys = mutable.ArrayBuffer.empty[Int]
    val lines = (0 until n).map { i =>
      val u = rnd.nextDouble()
      val k =
        if (nextKey > 0 && u < oldShare) rnd.nextInt(nextKey)
        else if (keys.nonEmpty && u < oldShare + 0.05) keys(rnd.nextInt(keys.size))
        else { nextKey += 1; nextKey - 1 }
      keys += k
      val marker = s"https://rappel.conso.gouv.fr/fiche-rappel/${key(k)}/$tag-$i"
      lastMarker(key(k)) = marker
      line(key(k), marker)
    }
    Batch(lines, key(keys.last), lastMarker(key(keys.last)), lastMarker.size)
  }

  private def pick(xs: IndexedSeq[String]): String = xs(rnd.nextInt(xs.length))
  private def text(n: Int): String = Seq.fill(1 + rnd.nextInt(n))(pick(Words)).mkString(" ")
  private def maybe(s: => String): String = if (rnd.nextDouble() < 0.1) "" else s
  private def day(): String = f"${1 + rnd.nextInt(28)}%02d/${1 + rnd.nextInt(12)}%02d/2024"

  private def line(key: String, marker: String): String = {
    val range = rnd.nextInt(3) match {
      case 0 => s"Du ${day()} au ${day()}"
      case 1 => s"Depuis le ${day()}"
      case _ => s"Jusqu'au ${day()}"
    }
    val f = mutable.LinkedHashMap[String, String](
      "reference_fiche" -> key,
      "ndeg_de_version" -> (1 + rnd.nextInt(4)).toString,
      "nature_juridique_du_rappel" -> pick(Vector("Volontaire", "Imposé par arrêté")),
      "rappelguid" -> f"${rnd.nextLong()}%016x",
      "categorie_de_produit" -> pick(Categories),
      "sous_categorie_de_produit" -> maybe(text(3)),
      "nom_de_la_marque_du_produit" -> text(2).capitalize,
      "noms_des_modeles_ou_references" -> maybe(text(6)),
      "identification_des_produits" -> f"Lot ${rnd.nextInt(100000)}%05d ${day()}",
      "conditionnements" -> maybe(text(4)),
      "temperature_de_conservation" -> pick(Vector("Produit à conserver au réfrigérateur",
        "Produit à température ambiante", "Produit surgelé")),
      "zone_geographique_de_vente" -> pick(Vector("France entière", "Île-de-France",
        "Région Provence-Alpes-Côte d'Azur", "Départements d'outre-mer")),
      "distributeurs" -> maybe(text(5)),
      "motif_du_rappel" -> text(12),
      "risques_encourus_par_le_consommateur" -> maybe(text(6)),
      "description_complementaire_du_risque" -> maybe(text(10)),
      "preconisations_sanitaires" -> maybe(text(10)),
      "conduites_a_tenir_par_le_consommateur" -> maybe(text(8)),
      "numero_de_contact" -> f"08 ${rnd.nextInt(100)}%02d ${rnd.nextInt(100)}%02d ${rnd.nextInt(100)}%02d",
      "modalites_de_compensation" -> pick(Vector("Remboursement", "Échange", "Réparation")),
      "date_debut_fin_de_commercialisation" -> range,
      "date_de_publication" -> f"2024-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d",
      "date_de_fin_de_la_procedure_de_rappel" -> maybe(day()),
      "informations_complementaires" -> maybe(text(8)),
      "informations_complementaires_publiques" -> maybe(text(8)),
      "liens_vers_les_images" -> s"https://rappel.conso.gouv.fr/image/${rnd.nextInt(1 << 20)}.jpg",
      "lien_vers_la_liste_des_produits" -> maybe("https://rappel.conso.gouv.fr/produits"),
      "lien_vers_la_liste_des_distributeurs" -> maybe("https://rappel.conso.gouv.fr/distributeurs"),
      "lien_vers_affichette_pdf" -> s"https://rappel.conso.gouv.fr/affichette/$key/pdf",
      "lien_vers_la_fiche_rappel" -> marker,
      "lien_vers_le_formulaire_de_contact" -> "https://rappel.conso.gouv.fr/contact")
    Json.enc(f)
  }
}

object RecallFeed {
  /** The 31 raw upstream fields, in feed order. */
  val RawFields: Seq[String] = Seq("reference_fiche", "ndeg_de_version",
    "nature_juridique_du_rappel", "rappelguid", "categorie_de_produit",
    "sous_categorie_de_produit", "nom_de_la_marque_du_produit",
    "noms_des_modeles_ou_references", "identification_des_produits",
    "conditionnements", "temperature_de_conservation",
    "zone_geographique_de_vente", "distributeurs", "motif_du_rappel",
    "risques_encourus_par_le_consommateur", "description_complementaire_du_risque",
    "preconisations_sanitaires", "conduites_a_tenir_par_le_consommateur",
    "numero_de_contact", "modalites_de_compensation",
    "date_debut_fin_de_commercialisation", "date_de_publication",
    "date_de_fin_de_la_procedure_de_rappel", "informations_complementaires",
    "informations_complementaires_publiques", "liens_vers_les_images",
    "lien_vers_la_liste_des_produits", "lien_vers_la_liste_des_distributeurs",
    "lien_vers_affichette_pdf", "lien_vers_la_fiche_rappel",
    "lien_vers_le_formulaire_de_contact")
  val RawSchema: StructType = StructType(RawFields.map(StructField(_, StringType)))

  private val Categories = Vector("Alimentation", "Hygiène-Beauté", "Électroménager",
    "Équipements de communication", "Véhicules", "Maison-Habitat", "Sports-loisirs",
    "Vêtements, Mode, EPI", "Bébés-Enfants (hors alimentaire)")
  private val Words = Vector("crème", "fraîche", "pâté", "bœuf", "épicé", "gâteau",
    "pâtes", "sucré", "salé", "fromage", "à", "lait", "cru", "élevé", "château",
    "forêt", "île", "noël", "été", "goût", "façon", "brûlée", "mûre", "août", "maïs",
    "présence", "listeria", "salmonelle", "corps", "étranger", "métallique", "allergène",
    "non", "déclaré", "dépassement", "limite", "résidus", "oxyde", "d'éthylène",
    "défaut", "d'étiquetage", "rupture", "chaîne", "froid", "détérioration", "qualité")

  final case class Batch(lines: Seq[String], probeKey: String, probeMarker: String,
                         liveKeys: Int)
}

/** `recall_ingest`: the paper's incremental pipeline, one daily batch per
  * op — KafkaIO parse → RappelConso transform → last-wins dedup → JDBC
  * key read + anti-join → JDBC append, then the same deduped batch as a
  * MERGE INTO a keyed graft table, then a read-after-write (point SELECT
  * of a just-written key + count). Maintenance procedures run every
  * [[MaintEvery]]th batch. */
final class RecallIngest(spark: SparkSession, tr: Tracer, root: Path, seed: Long)
    extends Workload {
  import RecallIngest._
  import spark.implicits._

  private val feed = new RecallFeed(seed)
  private var history: RecallFeed.Batch = _
  private val Key = "reference_fiche"
  private val props = {
    val p = new Properties()
    p.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    p
  }
  private var rep = 0
  private def url(r: Int) = s"jdbc:derby:memory:perfbench_recall_$r"
  private def catalog(r: Int) = s"pb_recall_$r"
  private def table(r: Int) = s"${catalog(r)}.ns.recalls"
  private def tableDir(r: Int): Path = root.resolve(s"warehouse_recall_$r/ns/recalls")
  private var knownFiles = Set.empty[Path]

  def round: Int = MaintEvery

  def generate(): Unit = history = feed.batch("h", HistoryRows, oldShare = 0.0)

  def digest(): String = {
    val probe = new RecallFeed(seed)
    val batches = probe.batch("h", HistoryRows, oldShare = 0.0) +:
      (0 until 3).map(b => probe.batch(s"b$b", BatchRows))
    Util.sha256(batches.iterator.flatMap(_.lines))
  }

  def setup(r: Int): Unit = {
    rep = r
    spark.conf.set(s"spark.sql.catalog.${catalog(r)}", "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.${catalog(r)}.warehouse",
      root.resolve(s"warehouse_recall_$r").toString)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS ${catalog(r)}.ns")
    tr("commit.create") {
      spark.sql(s"CREATE TABLE ${table(r)} (" +
        RappelConso.dbFields.map(f => s"$f STRING").mkString(", ") +
        s") TBLPROPERTIES ('write.key'='$Key')")
    }
    tr("jdbc.create") {
      JdbcIO.createAllTextTable(url(r) + ";create=true", "recalls", RappelConso.dbFields,
        Key, props, colType = "VARCHAR(600)")
    }
    ingest(history.lines, initial = true)
  }

  def discard(r: Int): Unit = {
    try DriverManager.getConnection(url(r) + ";drop=true", props).close()
    catch { case _: java.sql.SQLException => () } // Derby reports a drop as an exception
    Util.deleteTree(root.resolve(s"warehouse_recall_$r"))
  }

  private var sinkRows = 0

  def prepare(): Unit = {
    knownFiles = files()
    sinkRows = jdbcKeys().size
  }

  /** The pipeline on one batch of JSON lines. The first load INSERTs: a
    * keyed table refuses MERGE before it holds committed data. */
  private def ingest(lines: Seq[String], initial: Boolean = false): Unit = {
    val parsed = tr("pipeline.parse") {
      tr.count("pipeline.rows_in", lines.size)
      KafkaIO.parseJsonValue(lines.toDF("value"), RecallFeed.RawSchema).localCheckpoint()
    }
    val transformed = tr("pipeline.transform")(RappelConso.transform(parsed).localCheckpoint())
    val deduped = tr("relational.dedup") {
      Relational.lastWinsByKey(transformed.withColumn("_seq", monotonically_increasing_id()),
        Seq(Key), col("_seq")).drop("_seq").localCheckpoint()
    }
    val existing = tr("jdbc.read_keys") {
      JdbcIO.readKeys(spark, url(rep), "recalls", Key, props).toDF(Key).localCheckpoint()
    }
    val fresh = tr("relational.antijoin") {
      Relational.idempotentAppend(deduped, existing, Key).localCheckpoint()
    }
    tr("jdbc.append")(JdbcIO.append(fresh, url(rep), "recalls", props))
    tr("commit.merge") {
      deduped.createOrReplaceTempView("perfbench_batch")
      try spark.sql(
        if (initial) s"INSERT INTO ${table(rep)} SELECT * FROM perfbench_batch"
        else s"MERGE INTO ${table(rep)} t USING perfbench_batch s ON t.$Key = s.$Key " +
          "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      catch {
        case e: Exception if String.valueOf(e.getMessage).toLowerCase.contains("conflict") =>
          tr.count("commit.conflicts", 1)
          throw e
      }
    }
  }

  private def jdbcKeys(): Seq[String] = {
    val c = DriverManager.getConnection(url(rep), props)
    try {
      val rs = c.createStatement().executeQuery(s"SELECT $Key FROM recalls")
      val b = Seq.newBuilder[String]
      while (rs.next()) b += rs.getString(1)
      b.result()
    } finally c.close()
  }

  private def files(): Set[Path] = {
    val s = Files.walk(tableDir(rep))
    try s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
      p.getFileName.toString.endsWith(".parquet")).toSet
    finally s.close()
  }

  def next(i: Int): PendingOp = new PendingOp {
    private val batch = feed.batch(s"b$i", BatchRows)
    private var point: Array[org.apache.spark.sql.Row] = _
    private var count = -1L
    private var rawS = 0.0
    val kind = "batch"
    val rows: Int = batch.lines.size
    def run(): Unit = {
      ingest(batch.lines)
      // the warm-up batch (i = -1) ends a cycle too, so every run times
      // the same whole cycles of delta commits and compactions
      if ((i + 1) % MaintEvery == 0) {
        val t = "ns.recalls"
        tr("maint.compact")(spark.sql(s"CALL ${catalog(rep)}.system.compact('$t', 4)").collect())
        tr("maint.expire")(spark.sql(s"CALL ${catalog(rep)}.system.expire('$t', 2)").collect())
        tr("maint.vacuum")(spark.sql(s"CALL ${catalog(rep)}.system.vacuum('$t', 0)").collect())
      }
      val t0 = System.nanoTime()
      point = Util.sqlRead(spark, tr, "read.point",
        s"SELECT $Key, lien_vers_la_fiche_rappel FROM ${table(rep)} " +
          s"WHERE $Key = '${batch.probeKey}'")
      count = Util.sqlRead(spark, tr, "read.count", s"SELECT count(*) FROM ${table(rep)}")
        .head.getLong(0)
      rawS = (System.nanoTime() - t0) / 1e9
    }
    def check(): Boolean = {
      val now = files()
      val added = now -- knownFiles
      tr.count("commit.files_added", added.size)
      tr.count("commit.bytes_written", added.toSeq.map(Files.size).sum)
      knownFiles = now
      val keys = jdbcKeys()
      tr.count("jdbc.rows_appended", keys.size - sinkRows)
      sinkRows = keys.size
      val head = spark.sql(s"SELECT * FROM ${table(rep)}.history ORDER BY version DESC LIMIT 1")
        .collect().head
      tr.count("table.files_live", head.getAs[Int]("n_data_files"))
      tr.count("table.delete_files_live",
        head.getAs[Int]("n_eq_deletes") + head.getAs[Int]("n_pos_deletes"))
      point.length == 1 && point(0).getString(1) == batch.probeMarker &&
        count == batch.liveKeys && keys.size == batch.liveKeys
    }
    override def extra: Map[String, Double] = Map("read_after_write_s" -> rawS)
  }

  def finish(): (Boolean, Map[String, Any]) = {
    // the sink key set must be exactly the keys ever fed (first-seen),
    // and the table must hold each key's last row (last-wins)
    val keysOk = jdbcKeys().toSet == feed.lastMarker.keySet
    val rows = spark.sql(s"SELECT $Key, lien_vers_la_fiche_rappel FROM ${table(rep)}").collect()
    val tableOk = rows.length == feed.lastMarker.size &&
      rows.forall(r => feed.lastMarker.get(r.getString(0)).contains(r.getString(1)))
    val bytes = Util.treeBytes(tableDir(rep))
    (keysOk && tableOk, Map(
      "live_rows" -> rows.length,
      "stored_bytes_per_row" -> bytes.toDouble / rows.length))
  }
}

object RecallIngest {
  // Spark's built-in Derby dialect writes strings as CLOB, and Derby then
  // refuses a NULL for a VARCHAR column; the embedded sink maps strings to
  // VARCHAR instead (registered dialects win over built-ins).
  JdbcDialects.registerDialect(new JdbcDialect {
    override def canHandle(url: String): Boolean = url.startsWith("jdbc:derby")
    override def getJDBCType(dt: DataType): Option[JdbcType] = dt match {
      case StringType => Some(JdbcType("VARCHAR(600)", java.sql.Types.VARCHAR))
      case _ => None
    }
  })

  val BatchRows = 1000
  val HistoryRows = 1000
  val MaintEvery = 4
}
