package perfbench

import scala.collection.mutable

/** The generator's closed form of the normalized catalog: a plain-Scala
  * replay of find-or-create over the generated sheets. It is the answer
  * key for every upload and read check, and its rows are what the
  * `catalog_read` preload writes for the studies it does not upload
  * through the normalizer.
  *
  * Ids and ownership follow the normalizer: an upload numbers the key
  * tuples it creates after the table's current maximum, in ascending
  * order of the key columns (nulls first); a row belongs to the user
  * whose upload created it, and a later upload that finds the same tuple
  * reuses the row without taking it over. */
final class Model {
  import Model._

  /** Per table: ordered (column, type) schema, rows (the owner last),
    * the index in `studies` of the upload that created each row, and the
    * key-tuple → surrogate id index. */
  final class Table(val name: String, val cols: Seq[(String, String)]) {
    val rows = mutable.ArrayBuffer[Array[Any]]()
    val createdBy = mutable.ArrayBuffer[Int]()
    val index = mutable.HashMap[Seq[Any], Long]()
    def add(row: Array[Any], study: Int): Long = {
      rows += row; createdBy += study; rows.size.toLong
    }
  }
  val tables = mutable.LinkedHashMap[String, Table]()
  val studies = mutable.ArrayBuffer[(Gen.Study, Seq[Map[String, Any]])]()

  def count(t: String): Long = tables.get(t).map(_.rows.size.toLong).getOrElse(0L)

  /** Replay one upload: the joined sheet rows of `st`, ingested for its
    * user. Mirrors `Normalizer.ingest` table by table. */
  def ingest(st: Gen.Study): Unit = {
    val rows = joinedRows(st).map(m => mutable.Map[String, Any]() ++= m)
    val si = studies.size
    val present = mutable.Set[String]() // tables whose id is on the sheet
    for (t <- graft.mmeds.Schema.tableOrder if t != "AdditionalMetaData") {
      val nats = naturalCols(t).filter(c => rows.headOption.exists(_.contains(c)))
      val fks = graft.mmeds.Schema.parents.getOrElse(t, Nil).filter(present)
      val keyCols = nats ++ fks.map(graft.mmeds.Schema.idCol)
      if (keyCols.nonEmpty) {
        val tbl = tables.getOrElseUpdate(t, new Table(t,
          nats.map(n => n.stripPrefix(s"${t}__") -> typeOf(n)) ++
            fks.map(p => graft.mmeds.Schema.fkCol(p) -> "long") ++
            Seq(graft.mmeds.Schema.idCol(t) -> "long", "user_id" -> "long")))
        val witness = if (nats.nonEmpty) nats else keyCols
        val keys = rows.map(r => Option.when(witness.exists(c => r.getOrElse(c, null) != null))(
          keyCols.map(c => r.getOrElse(c, null))))
        keys.flatten.distinct.filterNot(tbl.index.contains).sorted(KeyOrder).foreach { key =>
          tbl.index(key) = tbl.add((key ++ Seq(tbl.rows.size + 1L, st.user)).toArray, si)
        }
        rows.zip(keys).foreach { case (r, k) =>
          r(graft.mmeds.Schema.idCol(t)) = k.map(tbl.index(_): Any).orNull
        }
        present += t
      }
    }
    for ((jt, l, rt) <- graft.mmeds.Schema.junctionTables if present(l) && present(rt)) {
      val tbl = tables.getOrElseUpdate(jt, new Table(jt, Seq(
        graft.mmeds.Schema.fkCol(l) -> "long", graft.mmeds.Schema.fkCol(rt) -> "long",
        "user_id" -> "long")))
      rows.foreach { r =>
        val (a, b) = (r(graft.mmeds.Schema.idCol(l)), r(graft.mmeds.Schema.idCol(rt)))
        if (a != null && b != null)
          tbl.index.getOrElseUpdate(Seq(a, b), tbl.add(Array(a, b, st.user), si))
      }
    }
    val amd = tables.getOrElseUpdate("AdditionalMetaData", new Table("AdditionalMetaData",
      Seq("_row" -> "long", "col_name" -> "string", "col_value" -> "string", "user_id" -> "long")))
    rows.foreach(r => amd.add(Array(r("_row"), "SubjectIdCol",
      r("AdditionalMetaData__SubjectIdCol"), st.user), si))
    studies += ((st, rows.map(_.toMap).toSeq))
  }

  /** Owner of the `t` row with surrogate id `id`. */
  def owner(t: String, id: Any): Long = tables(t).rows(id.asInstanceOf[Long].toInt - 1).last
    .asInstanceOf[Long]

  private val chain = Seq("Specimen", "Aliquot", "Sample", "RawData", "Results",
    "Experiment", "Study", "Lab", "SampleProtocol", "RawDataProtocol",
    "ResultsProtocol", "SubjectType")

  /** Sheet rows (specimen chains) whose every protected table on the
    * SpecimenTable join is visible to `user` — what an RLS read of the
    * specimen flagship view returns. */
  def visibleChains(user: Long): Seq[(Gen.Study, Map[String, Any])] =
    for ((st, rows) <- studies.toSeq; r <- rows
      if chain.forall(t => Set(user, graft.mmeds.Schema.publicUserId)
        .contains(owner(t, r(graft.mmeds.Schema.idCol(t)))))) yield (st, r)

  /** Specimens visible to `user` by the Specimen table's own RLS. */
  def visibleSpecimens(user: Long): Seq[Map[String, Any]] =
    for ((st, rows) <- studies.toSeq; r <- rows
      if Set(user, graft.mmeds.Schema.publicUserId).contains(st.user)) yield r

  /** Subject natural tuples (HostSubjectId, Nationality, Sex, BirthYear)
    * with their owners. */
  def subjects: Seq[(Seq[Any], Long)] = tables("Subjects").rows.toSeq
    .map(r => (r.take(4).toSeq, r.last.asInstanceOf[Long]))
}

object Model {
  /** Spark's ascending order on a key tuple: column by column, nulls
    * first. The generated strings are ASCII, so String order is Spark's
    * byte order. */
  val KeyOrder: Ordering[Seq[Any]] = (a, b) =>
    a.iterator.zip(b.iterator).map {
      case (null, null) => 0
      case (null, _) => -1
      case (_, null) => 1
      case (x: String, y: String) => x.compareTo(y)
      case (x: Double, y: Double) => java.lang.Double.compare(x, y)
      case (x: Long, y: Long) => java.lang.Long.compare(x, y)
      case (x: java.sql.Date, y: java.sql.Date) => x.compareTo(y)
      case (x, y) => sys.error(s"no order between $x and $y")
    }.find(_ != 0).getOrElse(0)

  private val types: Map[String, String] =
    (Gen.subjectCols ++ Gen.specimenCols).map(c => s"${c.table}__${c.column}" -> (
      graft.mmeds.Schema.sparkType(c.decl) match {
        case org.apache.spark.sql.types.DoubleType => "double"
        case org.apache.spark.sql.types.DateType => "date"
        case org.apache.spark.sql.types.LongType => "long"
        case _ => "string"
      })).toMap ++ Map("IllnessCategory__ICDCategory" -> "long")
  def typeOf(flat: String): String = types.getOrElse(flat, "string")

  private def naturalCols(t: String): Seq[String] =
    (Gen.subjectCols ++ Gen.specimenCols).filter(_.table == t)
      .map(c => s"${c.table}__${c.column}") ++ (t match {
      case "IllnessBroadCategory" => Seq("IllnessBroadCategory__ICDFirstCharacter")
      case "IllnessCategory" => Seq("IllnessCategory__ICDCategory")
      case "IllnessDetails" => Seq("IllnessDetails__ICDDetails", "IllnessDetails__ICDExtension")
      case _ => Nil
    })

  private def typed(flat: String, raw: String): Any =
    if (raw == "NA" || raw.isEmpty) null
    else typeOf(flat) match {
      case "double" => raw.toDouble
      case "long" => raw.toLong
      case "date" => java.sql.Date.valueOf(raw)
      case _ => raw
    }

  private def parse(tsv: String, cols: Seq[Gen.Col]): Seq[Map[String, Any]] =
    tsv.split("\n").toSeq.drop(5).map(_.split("\t", -1).toSeq).map { cells =>
      cols.zip(cells).map { case (c, v) =>
        val f = s"${c.table}__${c.column}"; f -> typed(f, v)
      }.toMap
    }

  /** The joined (subject ⟗ specimen) sheet of a study as typed rows
    * with the ICD-derived columns, `_row` = specimen line index. */
  def joinedRows(st: Gen.Study): Seq[Map[String, Any]] = {
    val subj = parse(Gen.subjectTsv(st), Gen.subjectCols)
      .map(r => r("Subjects__HostSubjectId") -> r).toMap
    parse(Gen.specimenTsv(st), Gen.specimenCols).zipWithIndex.map { case (sp, i) =>
      val s = subj(sp("AdditionalMetaData__SubjectIdCol").asInstanceOf[String])
      val code = s("ICDCode__ICDCode").asInstanceOf[String]
      val Array(p0, p1) = code.split("\\.")
      (s ++ sp) ++ Map[String, Any]("_row" -> i.toLong,
        "IllnessBroadCategory__ICDFirstCharacter" -> p0.take(1),
        "IllnessCategory__ICDCategory" -> p0.drop(1).toLong,
        "IllnessDetails__ICDDetails" -> p1.dropRight(1),
        "IllnessDetails__ICDExtension" -> p1.takeRight(1))
    }
  }
}
