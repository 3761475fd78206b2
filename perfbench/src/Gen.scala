package perfbench

/** Seed-driven input generators. Every value is a pure function of
  * (seed, entity coordinates) through [[Gen.h]] — no RNG state — so a
  * seed names one set of inputs whatever order they are drawn in.
  *
  * Metadata sheets are human-subject + specimen pairs in the 5-header
  * MMEDS TSV layout. Each study takes its lab, protocols and sites from
  * small pools (the find-or-create path), and a fixed share of its
  * subjects from a pool shared across studies. Categorical columns
  * cycle through their pools in balanced round-robin and numeric columns
  * over evenly spaced values, so the validator's outlier and rare-value
  * rules fire only where the generator plants a finding on purpose: one
  * SpecimenWeight outlier per specimen sheet. */
object Gen {

  def h(seed: Long, xs: Long*): Long = xs.foldLeft(mix(seed ^ 0x9E3779B97F4A7C15L))(
    (acc, x) => mix(acc * 31 + x))
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def pick(seed: Long, n: Int, xs: Long*): Int = java.lang.Math.floorMod(h(seed, xs: _*), n.toLong).toInt

  // ---------------------------------------------------------------- sheets

  case class Col(table: String, column: String, required: Boolean = false,
      decl: String = "Text", note: String = "No Limit")

  val subjectCols: Seq[Col] = Seq(
    Col("Subjects", "HostSubjectId", true, "Text: Must be unique"),
    Col("Subjects", "Nationality"), Col("Subjects", "Sex"),
    Col("Subjects", "BirthYear", decl = "Number", note = "Year"),
    Col("SubjectType", "SubjectType", true),
    Col("Ethnicity", "Ethnicity"), Col("Genotypes", "Genotype"),
    Col("Heights", "Height", decl = "Number", note = "Meters"),
    Col("Heights", "HeightDateCollected", decl = "Date", note = "Year-Month-Day"),
    Col("Weights", "Weight", decl = "Number", note = "Kilogram"),
    Col("Weights", "WeightDateCollected", decl = "Date", note = "Year-Month-Day"),
    Col("ICDCode", "ICDCode", note = "Limit 8 Characters"),
    Col("Illness", "IllnessInstanceID", decl = "Text: Must be unique"),
    Col("Illness", "IllnessStartDate", decl = "Date", note = "Year-Month-Day"),
    Col("Illness", "IllnessEndDate", decl = "Date", note = "Year-Month-Day"),
    Col("Illness", "IllnessNotes"),
    Col("Intervention", "InterventionStartDate", decl = "Date", note = "Year-Month-Day"),
    Col("Intervention", "InterventionEndDate", decl = "Date", note = "Year-Month-Day"),
    Col("Intervention", "InterventionNotes"),
    Col("Interventions", "InterventionCode"), Col("Interventions", "InterventionName"),
    Col("Interventions", "InterventionType"))

  val specimenCols: Seq[Col] = Seq(
    Col("Lab", "ContactEmail", true, "Email"), Col("Lab", "ContactName"),
    Col("Lab", "PrimaryInvestigator", true),
    Col("Study", "StudyName", true), Col("Study", "StudyType"),
    Col("Study", "RelevantLinks", decl = "Web Address"),
    Col("Experiment", "ExperimentName"),
    Col("BodySite", "SpecimenBodySite"), Col("BodySite", "UberonCodeBodySite"),
    Col("Type", "SpecimenType"), Col("Type", "UberonCodeType"),
    Col("CollectionSite", "Biome"), Col("CollectionSite", "CollectionSiteName"),
    Col("CollectionSite", "CollectionSiteTechnician"),
    Col("CollectionSite", "Depth", decl = "Number"),
    Col("CollectionSite", "Elevation", decl = "Number"),
    Col("CollectionSite", "Environment"), Col("CollectionSite", "Feature"),
    Col("CollectionSite", "Latitude", decl = "Number"),
    Col("CollectionSite", "Longitude", decl = "Number"),
    Col("CollectionSite", "Material"),
    Col("StorageLocation", "StorageInstitution"), Col("StorageLocation", "StorageFreezer"),
    Col("Specimen", "SpecimenID", true, "Text: Must be unique"),
    Col("Specimen", "SpecimenCollectionDate", decl = "Date", note = "Year-Month-Day"),
    Col("Specimen", "SpecimenCollectionMethod"),
    Col("Specimen", "SpecimenCollectionTime", decl = "Time", note = "HH:MM:SS"),
    Col("Specimen", "SpecimenNotes", decl = "Text: Must be unique"),
    Col("Specimen", "SpecimenWeight", decl = "Number", note = "Gram"),
    Col("Specimen", "SpecimenWeightUnit"),
    Col("Aliquot", "AliquotID", true, "Text: Must be unique"),
    Col("Aliquot", "AliquotWeight", decl = "Number"), Col("Aliquot", "AliquotWeightUnit"),
    Col("SampleProtocols", "SampleProtocolID", true),
    Col("SampleProtocols", "SampleConditions"), Col("SampleProtocols", "SampleTool"),
    Col("SampleProtocols", "SampleToolVersion"),
    Col("SampleProtocol", "SampleDatePerformed", decl = "Date", note = "Year-Month-Day"),
    Col("SampleProtocol", "SampleProcessor"), Col("SampleProtocol", "SampleProtocolNotes"),
    Col("Sample", "SampleID", true, "Text: Must be unique"),
    Col("Sample", "SampleWeight", decl = "Number"), Col("Sample", "SampleWeightUnit"),
    Col("RawDataProtocols", "RawDataProtocolID", true),
    Col("RawDataProtocols", "SequencingMethod"), Col("RawDataProtocols", "TargetGene"),
    Col("RawDataProtocols", "NumberOfContigs", decl = "Number"),
    Col("RawDataProtocols", "FinishingStrategyCoverage"),
    Col("RawDataProtocols", "FinishingStrategyStatus"),
    Col("RawDataProtocol", "RawDataDatePerformed", decl = "Date", note = "Year-Month-Day"),
    Col("RawDataProtocol", "RawDataProcessor"),
    Col("RawData", "RawDataID", true, "Text: Must be unique"),
    Col("RawData", "BarcodeSequence", true), Col("RawData", "LinkerPrimerSequence", true),
    Col("RawData", "RawDataNotes", decl = "Text: Must be unique"),
    Col("ResultsProtocols", "ResultsProtocolID", true),
    Col("ResultsProtocols", "ResultsMethod"), Col("ResultsProtocols", "ResultsTool"),
    Col("ResultsProtocols", "ResultsToolVersion"),
    Col("ResultsProtocol", "ResultsDatePerformed", decl = "Date", note = "Year-Month-Day"),
    Col("ResultsProtocol", "ResultsProcessor"),
    Col("Results", "ResultID", true, "Text: Must be unique"),
    Col("Results", "ResultsLocation", decl = "Text: Must be unique"),
    Col("AdditionalMetaData", "SubjectIdCol"))

  /** Pool sizes of the find-or-create entities. A study draws one lab and
    * one protocol of each kind; specimen rows cycle through the site
    * pools. */
  val Labs = 3; val SampleProtocols = 2; val RawDataProtocols = 2
  val ResultsProtocols = 2; val BodySites = 3; val Types = 2
  val CollectionSites = 2; val Storages = 2
  val Ethnicities = 2; val Genotypes = 2; val Icds = 2; val Interventions = 2

  /** Subjects per study, specimens per subject, and how many of a
    * study's subjects come from the pool shared across studies. */
  val SubjectsPerStudy = 8; val SpecimensPerSubject = 2; val SharedPerStudy = 2
  val SharedPool = 6

  case class Subject(key: String, i: Int) // i: position in its pool
  case class Study(seed: Long, idx: Int, user: Long, lab: Int, sampleProt: Int,
      rawProt: Int, resProt: Int, subjects: Seq[Subject]) {
    val name = s"Study${h(seed, 1, idx) & 0xffffff}x$idx"
    val rows: Int = subjects.size * SpecimensPerSubject
  }

  /** Study `idx` of a seed, uploaded by `user`. Pooled entities and
    * shared subjects rotate by study index, so consecutive studies
    * overlap and every seed yields the same catalog shape (who owns
    * which reused row); the seed varies names and values. */
  def study(seed: Long, idx: Int, user: Long): Study = {
    val shared = (0 until SharedPerStudy).map(j =>
      Subject(s"SH${(idx * SharedPerStudy + j) % SharedPool}", (idx * SharedPerStudy + j) % SharedPool))
    val own = (0 until SubjectsPerStudy - SharedPerStudy).map(j =>
      Subject(s"S${idx}n$j", SharedPool + idx * SubjectsPerStudy + j))
    Study(seed, idx, user, idx % Labs, idx % SampleProtocols, idx % RawDataProtocols,
      (idx + 1) % ResultsProtocols, shared ++ own)
  }

  private def date(seed: Long, salt: Long, i: Long, plusDays: Int = 0): String =
    java.time.LocalDate.of(2015, 1, 1)
      .plusDays(pick(seed, 1500, salt, i).toLong + plusDays).toString

  /** Subject attributes are a function of the subject's pool index and
    * its row position; a shared subject always sits at position
    * index % 2, so it reads identically in every study that names it. */
  private def subjectValues(seed: Long, s: Subject, pos: Int): Seq[String] = {
    val k = s.i.toLong
    Seq(s"${s.key}x${h(seed, 7, k) & 0xfff}", Seq("US", "CA", "MX", "FR")(pos % 4),
      Seq("F", "M")(pos % 2), (1950 + pos % 4 * 10).toString, "Human",
      s"Eth${(s.i + pick(seed, Ethnicities, 8)) % Ethnicities}",
      s"Gen${(s.i + pick(seed, Genotypes, 9)) % Genotypes}",
      f"${1.5 + pos % 4 * 0.1}%.1f", date(seed, 10, k),
      f"${60 + pos % 4 * 5}%d", date(seed, 11, k),
      Seq("K50.0XXX", "E11.9XXX")((s.i + pick(seed, Icds, 12)) % Icds),
      s"ILL${s.key}", date(seed, 13, k), date(seed, 13, k, 30), s"note${s.key}",
      date(seed, 14, k), date(seed, 14, k, 60), s"inote${s.key}")
  }
  private def interventionValues(s: Subject, seed: Long): Seq[String] = {
    val j = (s.i + pick(seed, Interventions, 15)) % Interventions
    Seq(s"IC$j", s"Intervention$j", Seq("Drug", "Diet")(j))
  }

  private def tsv(cols: Seq[Col], rows: Seq[Seq[String]]): String = {
    val header = Seq(cols.map(_.table), cols.map(_.column),
      cols.map(c => if (c.required) "Required" else "Optional"),
      cols.map(_.decl), cols.map(_.note))
    (header ++ rows).map(_.mkString("\t")).mkString("", "\n", "\n")
  }

  def subjectTsv(st: Study): String = tsv(subjectCols, st.subjects.zipWithIndex.map {
    case (s, pos) => subjectValues(st.seed, s, pos) ++ interventionValues(s, st.seed)
  })

  def specimenId(st: Study, r: Int) = s"SP${st.idx}r$r"
  def rawDataId(st: Study, r: Int) = s"RD${st.idx}r$r"

  /** Barcodes are 12 GATC letters spelling the (study, row) pair, so
    * they are unique across every sheet of a run and equal in length. */
  private def barcode(st: Study, r: Int): String = {
    var v = st.idx.toLong * 4096 + r
    (0 until 12).map { _ => val c = "GATC"((v & 3).toInt); v >>= 2; c }.mkString
  }

  def specimenTsv(st: Study): String = {
    val seed = st.seed
    val rows = (0 until st.rows).map { r =>
      val subj = st.subjects(r / SpecimensPerSubject)
      val subjHost = subjectValues(seed, subj, st.subjects.indexOf(subj)).head
      val (bs, ty, cs, sl) = (r % BodySites, r % Types, r % CollectionSites, r % Storages)
      // one planted outlier per sheet; the rest cycle over 4 values
      val weight = if (r == st.rows - 1) "900.0" else f"${1.0 + r % 4}%.1f"
      Seq(s"lab${st.lab}@example.org", s"Contact${st.lab}", s"PI${st.lab}",
        st.name, "Observational", s"https://example.org/${st.name}",
        s"Exp${st.name}",
        s"Site$bs", s"UBERON:00$bs", s"Stool$ty", s"UBERON:10$ty",
        s"Biome$cs", s"CS$cs", s"Tech$cs", s"${cs + 1}", s"${10 * cs + 5}",
        s"Env$cs", s"Feat$cs", s"${40 + cs}.5", s"${-70 - cs}.5", s"Mat$cs",
        s"Inst$sl", s"Freezer$sl",
        specimenId(st, r), date(seed, 20, st.idx * 100L + r / 4), "Swab",
        f"${8 + r % 4}%02d:00:00", s"spnote${st.idx}r$r", weight, "g",
        s"AL${st.idx}r$r", f"${0.5 + r % 2}%.1f", "g",
        s"SPR${st.sampleProt}", s"Cond${st.sampleProt}", s"Tool${st.sampleProt}",
        s"v${st.sampleProt}", date(seed, 21, st.sampleProt), s"Proc${st.sampleProt}",
        s"SPnote${st.sampleProt}",
        s"SA${st.idx}r$r", f"${0.2 + r % 2 * 0.1}%.1f", "g",
        s"RDP${st.rawProt}", "Illumina", "16S", s"${st.rawProt + 1}", "High", "Done",
        date(seed, 22, st.rawProt), s"RProc${st.rawProt}",
        rawDataId(st, r), barcode(st, r), "GTGCCAGCMGCCGCGGTAA", s"rdnote${st.idx}r$r",
        s"RSP${st.resProt}", "Qiime2", s"RTool${st.resProt}", s"r${st.resProt}",
        date(seed, 23, st.resProt), s"ResProc${st.resProt}",
        s"RES${st.idx}r$r", s"/results/${st.idx}/$r", subjHost)
    }
    tsv(specimenCols, rows)
  }

  /** Expected validator findings for a generated pair: the planted
    * SpecimenWeight outlier on the specimen sheet, nothing else. */
  val ExpectedSubjectFindings = 0L
  val ExpectedSpecimenFindings = 1L

  // ------------------------------------------------------- store corpus

  /** Vocabulary the store documents draw from; query terms come from the
    * same words, so every probe has postings to score. */
  val Vocab: IndexedSeq[String] = (0 until 400).map(i => s"w$i")
  val Dim = 16

  /** Document `id` of a seed: 12 words (skewed toward the low ids so df
    * varies) and a Dim-wide vector clustered around one of 8 centers. */
  def docText(seed: Long, id: Long): String = (0 until 12).map { j =>
    val u = pick(seed, 1 << 20, 30, id, j).toDouble / (1 << 20)
    Vocab((u * u * Vocab.size).toInt)
  }.mkString(" ")

  def docVec(seed: Long, id: Long): Array[Double] = {
    val c = pick(seed, 8, 31, id)
    Array.tabulate(Dim) { d =>
      val center = if (pick(seed, 2, 32, c, d) == 0) 1.0 else -1.0
      center + (pick(seed, 2001, 33, id, d) - 1000) / 2500.0
    }
  }

  def queryTerms(seed: Long, q: Int): Seq[String] =
    (0 until 3).map(j => Vocab(pick(seed, 60, 34, q, j)))
  def queryVec(seed: Long, q: Int): Array[Double] = docVec(seed, 1000000L + q)
}
