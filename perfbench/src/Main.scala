package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.mmeds._
import graft.ops.{AnnIndex, LexIndex, Maintenance, Similarity, StoreManifest}

/** The repository benchmark: one workload per run on one JVM.
  *
  *   --workload catalog_read|store_churn --seed N --seconds S
  *   --trace 0|1 --cores C --work DIR
  *
  * Inputs come from the seed alone ([[Gen]]). Every answer is checked
  * against the generator's closed form ([[Model]], brute-force kNN
  * truth); a failed op, or a wrong answer, makes the run incorrect.
  * The timed ops are the ones this code serves; the read paths that hit
  * the two known defects run once per run as probes, outside the clock
  * and outside `attempted`/`failed`, and are reported by name.
  * The last stdout line is the JSON result; the lines before it name
  * every metric with its unit. */
object Main {

  /** A read slower than this misses the interactive limit. */
  val ReadLimitS = 5.0
  /** What a failed store cycle counts as in the cycle percentiles. */
  val CycleLimitS = 60.0

  final class WrongAnswer(msg: String) extends Exception(msg)

  case class Op(kind: String, seconds: Double, failure: Option[String], traced: Boolean) {
    def ok: Boolean = failure.isEmpty
  }

  def failureName(e: Throwable): String = e match {
    case w: WrongAnswer => s"WrongAnswer: ${w.getMessage.take(200)}"
    case st: org.apache.spark.SparkThrowable if st.getCondition != null =>
      s"${e.getClass.getSimpleName}[${st.getCondition}]"
    case _ => e.getClass.getSimpleName
  }

  /** The two read defects this code is known to have (README, "Known
    * defects"): a probe that hits one is reported, not a broken run. */
  def knownDefect(e: Throwable): Boolean = e match {
    case st: org.apache.spark.SparkThrowable if st.getCondition != null =>
      st.getCondition.startsWith("MISSING_ATTRIBUTES") ||
        st.getCondition.startsWith("UNRESOLVED_COLUMN") &&
        e.getMessage.contains("AnimalSubjects_idAnimalSubjects")
    case _ => false
  }

  def check(ok: Boolean, what: => String): Unit = if (!ok) throw new WrongAnswer(what)

  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val r = p * (s.size - 1)
      val lo = r.toInt; val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  final class Run(val spark: SparkSession, val seed: Long, val seconds: Int,
      val trace: Boolean, val work: String) {
    val ops = new ConcurrentLinkedQueue[Op]()
    /** The known-defect probes, kept apart from the timed ops. */
    val probes = new ConcurrentLinkedQueue[Op]()
    /** Seconds of each store call inside the cycles, by call. */
    val steps = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    val extra = scala.collection.mutable.LinkedHashMap[String, Double]()
    /** Wrong answers, failed ops, and probe failures that are not a
      * known defect. */
    val wrong = new java.util.concurrent.atomic.AtomicInteger
    /** Seconds of set-up spent checking answers, left out of `setup_s`. */
    var checkS = 0.0

    /** Check a set-up step's answer outside the set-up time. */
    def verify(what: String)(body: => Unit): Unit = {
      val t = System.nanoTime
      try body catch {
        case e: WrongAnswer =>
          wrong.incrementAndGet()
          System.err.println(s"[perfbench] $what: $e".take(400))
      }
      checkS += (System.nanoTime - t) / 1e9
    }

    /** Time `call`, then verify its result outside the timed region. On
      * a traced run every other read or cycle of a thread is traced, so
      * the untraced half measures the tracing overhead; sweeps are all
      * traced. A probe goes to `probes`, where a known defect is not a
      * wrong answer. */
    def timed[A](kind: String, traced: Boolean, probe: Boolean = false)(call: => A)(
        verify: A => Unit): Op = start(kind, traced, probe)(call).finish(verify)

    /** Time `call`; the op is recorded when its answer is verified. */
    def start[A](kind: String, traced: Boolean, probe: Boolean = false)(call: => A): Pending[A] = {
      Trace.traced(trace && traced)
      val t = System.nanoTime
      val res = try Right(call) catch { case e: Throwable => Left(e) } finally Trace.traced(false)
      new Pending(kind, (System.nanoTime - t) / 1e9, res, trace && traced, probe)
    }

    final class Pending[A](kind: String, s: Double, res: Either[Throwable, A], traced: Boolean,
        probe: Boolean) {
      def finish(verify: A => Unit): Op = {
        val failure = res.flatMap(a => try { verify(a); Right(()) } catch {
          case e: Throwable => Left(e)
        }).left.toOption.map { e =>
          if (!probe || !knownDefect(e)) wrong.incrementAndGet()
          System.err.println(s"[perfbench] ${Thread.currentThread.getName} $kind: $e".take(400))
          failureName(e)
        }
        val op = Op(kind, s, failure, traced)
        (if (probe) probes else ops).add(op)
        op
      }
    }
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // ---------------------------------------------------------------- catalog

  /** Run independent tasks on `n` threads and wait for all of them. */
  def parallel(n: Int)(tasks: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try tasks.map(t => pool.submit(new Runnable { def run(): Unit = t() })).foreach(_.get())
    finally { pool.shutdown(); pool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES) }
  }

  /** Write the model's rows into `cat` the way `Normalizer.ingest`
    * writes them: per study, one append per table holding the rows that
    * study created, in one partition (the normalizer numbers new rows in
    * a single window, so each of its appends writes one file). Tables are
    * written `n` at a time, each in study order. */
  def preload(spark: SparkSession, model: Model, cat: Catalog, n: Int): Unit =
    parallel(n)(model.tables.values.toSeq.map { t => () =>
      val schema = StructType(t.cols.map { case (n, ty) => StructField(n, sparkType(ty)) })
      t.rows.indices.groupBy(t.createdBy).toSeq.sortBy(_._1).foreach { case (_, idx) =>
        cat.append(t.name, spark.createDataFrame(spark.sparkContext
          .parallelize(idx.map(i => Row.fromSeq(t.rows(i).toSeq)), 1), schema))
      }
    })

  private def sparkType(ty: String): DataType = ty match {
    case "double" => DoubleType; case "long" => LongType
    case "date" => DateType; case _ => StringType
  }

  def filesUnder(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.count(f => Files.isRegularFile(f) &&
      !f.getFileName.toString.startsWith(".")).toLong
  }

  /** Upload one generated study through the paper's write path:
    * validate both sheets, read and join them, normalize into `cat`, then
    * read the new specimens back through RLS. The two validations run on
    * a second thread beside the read, join and ingest (they share no
    * data), so the upload fits the run budget. Returns the seconds
    * taken; the answers are checked after the clock stops. */
  def uploadStudy(r: Run, st: Gen.Study, cat: Catalog): Double = {
    val spark = r.spark
    val subjPath = s"${r.work}/subject_${st.idx}.tsv"
    val specPath = s"${r.work}/specimen_${st.idx}.tsv"
    Files.writeString(Paths.get(subjPath), Gen.subjectTsv(st))
    Files.writeString(Paths.get(specPath), Gen.specimenTsv(st))
    val t = System.nanoTime
    val findings = new java.util.concurrent.FutureTask[(Long, Long)](() => {
      Trace.traced(r.trace)
      try (Trace.span("validator")(Validator.validate(spark, subjPath, "human").count()),
        Trace.span("validator")(Validator.validate(spark, specPath, "specimen").count()))
      finally Trace.traced(false)
    })
    val validating = new Thread(findings, "validator")
    validating.setDaemon(true)
    validating.start()
    Trace.traced(r.trace)
    val back = try {
      val full = Trace.span("tsv")(MetadataTsv.joinMetadata(MetadataTsv.read(spark, subjPath),
        MetadataTsv.read(spark, specPath), "human"))
      Trace.span("normalizer")(Normalizer.ingest(full, st.user, cat))
      Trace.span("engine")(new Engine(spark, cat).forUser(st.user)
        .resolve("Specimen").filter(col("SpecimenID").startsWith(s"SP${st.idx}r")).count())
    } finally Trace.traced(false)
    val (f1, f2) = try findings.get() catch {
      case e: java.util.concurrent.ExecutionException => throw e.getCause
    }
    val s = (System.nanoTime - t) / 1e9
    r.verify(s"upload ${st.name}") {
      check(f1 == Gen.ExpectedSubjectFindings && f2 == Gen.ExpectedSpecimenFindings,
        s"validator findings $f1/$f2, expected ${Gen.ExpectedSubjectFindings}/" +
          s"${Gen.ExpectedSpecimenFindings}")
      check(back == st.rows, s"read-back saw $back of ${st.rows} specimens")
    }
    s
  }

  /** Every table of `cat` holds exactly the model's rows, ids and owners
    * included — which also rules out dangling FKs, since the model's ids
    * all resolve. One query per table, `n` at a time. */
  def checkTables(spark: SparkSession, cat: Catalog, model: Model, n: Int): Unit = {
    val names = cat.tableNames.toSet
    check(names == model.tables.keySet, s"catalog tables ${(names diff model.tables.keySet)
      .mkString(",")} / model tables ${(model.tables.keySet diff names).mkString(",")} differ")
    def norm(v: Any): Any = v match { case d: java.sql.Date => d.toString; case x => x }
    def bag(rows: Iterable[Seq[Any]]) = rows.groupBy(identity).view.mapValues(_.size).toMap
    val differ = new ConcurrentLinkedQueue[String]()
    parallel(n)(model.tables.values.toSeq.map { t => () =>
      val got = cat.table(t.name).get.select(t.cols.map(c => col(c._1)): _*).collect()
        .map(x => x.toSeq.map(norm))
      if (bag(got) != bag(t.rows.map(_.toSeq.map(norm)))) differ.add(s"${t.name} (${got.length}" +
        s" rows, expected ${t.rows.size})")
    })
    check(differ.isEmpty, s"tables differ from the model: ${differ.asScala.toSeq.sorted
      .mkString(", ")}")
  }

  // ----------------------------------------------------------- catalog_read

  val ReadKinds = Seq("rls_scan", "meta_query", "guarded_sql", "study_ids", "repeat_check")
  /** The catalog classes the engine supports. */
  val Classes = Seq("parquet", "memory")

  /** The read types each catalog class serves on this code. Through the
    * ParquetCatalog, `meta_query` and `guarded_sql` hit the first known
    * defect; through the InMemoryCatalog, whose catalog is human-only,
    * `guarded_sql` hits the second. */
  val Served: Seq[Seq[String]] = Seq(Seq("rls_scan", "study_ids", "repeat_check"),
    Seq("rls_scan", "meta_query", "study_ids", "repeat_check"))
  /** The timed reads, (type, class index): every pair this code serves. */
  val Timed: Seq[(String, Int)] = for (k <- Classes.indices; t <- Served(k)) yield (t, k)
  /** The known-defect probes: the other pairs, run once per run. */
  val Probes: Seq[(String, Int)] =
    for (k <- Classes.indices; t <- ReadKinds if !Served(k).contains(t)) yield (t, k)

  /** The client's `i`-th read. No source gives the real mix, so the timed
    * reads have equal shares: each block of seven is a seeded shuffle of
    * them. */
  def readOp(seed: Long, i: Int): (String, Int) = {
    val deck = Timed.indices.sortBy(j => Gen.h(seed, 40, i / Timed.size, j))
    Timed(deck(i % Timed.size))
  }

  /** Fixed multi-user catalog in a ParquetCatalog: a public study plus
    * two each for users 2 and 3, written from the model. On a traced run,
    * set-up first uploads the first study through the validator and
    * normalizer into an empty InMemoryCatalog (`upload_s`) and checks
    * every table it wrote against the model, ids included, so the rows
    * the client reads are the rows the normalizer writes. The upload
    * takes ~50 s, so the runs that measure the end-to-end metrics leave
    * it out: with it in every run the benchmark's runs would not fit
    * their time budget. One client, user 2, reads through the
    * ParquetCatalog and through an InMemoryCatalog holding the same
    * Parquet frames — both catalog classes the engine supports — one
    * read at a time, so each read is timed alone. */
  def catalogRead(r: Run, cores: Int): Unit = {
    val spark = r.spark
    val users = Seq(2L, 3L)
    val owners = Schema.publicUserId +: (0 until 2).flatMap(_ => users)
    val model = new Model
    val studies = owners.zipWithIndex.map { case (u, i) => Gen.study(r.seed, i, u) }
    studies.foreach(model.ingest)
    val root = s"${r.work}/catalog"
    val parquet = new ParquetCatalog(spark, root)
    if (r.trace) {
      val uploaded = new InMemoryCatalog
      r.extra("upload_s") = uploadStudy(r, studies.head, new TracingCatalog(uploaded))
      val first = new Model
      first.ingest(studies.head)
      r.verify("tables after upload")(checkTables(spark, uploaded, first, cores))
    }
    phase("session and inputs")
    preload(spark, model, parquet, cores)
    phase("parquet preload")
    val inMem = new InMemoryCatalog
    parquet.tableNames.foreach(n => inMem.append(n, parquet.table(n).get))
    import spark.implicits._
    val cands = (model.subjects.map(_._1) ++ Seq(Seq("NEW0", "US", "F", 1950.0),
      Seq("NEW1", "CA", "M", 1960.0))).map(s => (s(0).toString, s(1).toString, s(2).toString,
      s(3).asInstanceOf[Double])).toDF("HostSubjectId", "Nationality", "Sex", "BirthYear")
      .localCheckpoint()

    val u = users.head
    val cats = Seq(parquet, inMem).map(new TracingCatalog(_))
    val sessions = cats.map(new Engine(spark, _).forUser(u))
    val vis = Set(u, Schema.publicUserId)

    /** Run the client, as user `u`, until the deadline, or only the reads
      * `warm` when given (as probes when `probe`); returns its correct
      * reads within the limit per second. Ops are named `type/class`. */
    def client(deadline: Long, warm: Seq[(String, Int)] = Nil, probe: Boolean = false): Double = {
      val record = warm.isEmpty
      var i = 0
      var ok = 0
      val t0 = System.nanoTime
      while (if (record) System.nanoTime < deadline else i < warm.size) {
        val (kind, k) = if (record) readOp(r.seed, i) else warm(i)
        val (cat, s) = (cats(k), sessions(k))
        val traced = record && i % 2 == 1
        val tag = s"$kind/${Classes(k)}"
        // a read's parameter steps round its values from one block of
        // reads to the next, so every run holds the same mix of them: the
        // values differ in cost (a lab user 2 cannot see reads nothing)
        val round = i / Timed.size
        val op = kind match {
          case "rls_scan" =>
            val p = Seq(2.5, 3.5, 1000.0)((round + k) % 3)
            val w = model.visibleSpecimens(u).map(_("Specimen__SpecimenWeight")
              .asInstanceOf[Double]).filter(_ < p)
            r.timed(tag, traced, probe)(Trace.span("engine")(s.resolve("Specimen")
              .filter(col("SpecimenWeight") < p)
              .agg(count(lit(1)), coalesce(sum(col("SpecimenWeight")), lit(0.0))).head())) { x =>
              check(x.getLong(0) == w.size && math.abs(x.getDouble(1) - w.sum) < 1e-6,
                s"rls_scan($u, $p) = $x, expected (${w.size}, ${w.sum})")
            }
          case "meta_query" =>
            val lab = (round + k) % Gen.Labs
            val want = model.visibleChains(u).filter(_._1.lab == lab).groupBy(_._1.name)
              .map { case (n, xs) => n -> xs.map(_._2("RawData__RawDataID").toString).sorted }
            r.timed(tag, traced, probe)(Trace.span("engine")(
              s.queryMetaAnalysis(s"PrimaryInvestigator = 'PI$lab'").collect())) { rows =>
              val got = rows.map(x => x.getString(0) -> x.getSeq[String](1).toSeq).toMap
              check(got == want, s"meta_query($u, PI$lab) = $got, expected $want")
            }
          case "guarded_sql" =>
            val b = (round + k) % Gen.BodySites
            val want = model.visibleChains(u)
              .filter(_._2("BodySite__SpecimenBodySite") == s"Site$b")
              .groupBy(_._1.name).map { case (n, xs) => n -> xs.size.toLong }
            r.timed(tag, traced, probe)(Trace.span("engine")(s.execute(
              "SELECT StudyName, count(*) AS n FROM SpecimenTable " +
                s"WHERE SpecimenBodySite = 'Site$b' GROUP BY StudyName").collect())) { rows =>
              val got = rows.map(x => x.getString(0) -> x.getLong(1)).toMap
              check(got == want, s"guarded_sql($u, Site$b) = $got, expected $want")
            }
          case "study_ids" =>
            val (st, rows) = model.studies((round + k) % model.studies.size)
            val want = rows.map(x => (st.name, x("Specimen__SpecimenID"), x("Aliquot__AliquotID"),
              x("Sample__SampleID"))).toSet
            r.timed(tag, traced, probe)(Trace.span("idgen")(IdGen.idsForStudy(cat, st.name)
              .collect())) { got =>
              check(got.map(x => (x.get(0), x.get(1), x.get(2), x.get(3))).toSet == want,
                s"study_ids(${st.name}) returned ${got.length} rows, expected ${want.size}")
            }
          case "repeat_check" =>
            val want = model.subjects.filter(x => vis(x._2)).map(_._1.head.toString).toSet
            r.timed(tag, traced, probe)(Trace.span("engine")(s.repeatedSubjects(cands)
              .select("HostSubjectId").collect())) { got =>
              check(got.map(_.getString(0)).toSet == want,
                s"repeat_check($u) = ${got.length} subjects, expected ${want.size}")
            }
        }
        if (good("catalog_read", op)) ok += 1
        i += 1
      }
      ok / ((System.nanoTime - t0) / 1e9)
    }

    // warm-up, not recorded: each timed read once side by side, then
    // once more one at a time as the clock will see them
    phase("candidates")
    parallel(cores)(Timed.map(p => () => client(0L, Seq(p))))
    client(0L, Timed)
    phase("warm-up")
    r.ops.clear()
    r.extra("setup_s") = setupEnd() - r.checkS
    r.extra("ok_per_s") = client(System.nanoTime + r.seconds * 1000000000L)
    // the known-defect probes, after the clock: each must throw its known
    // defect or return the right answer
    client(0L, Probes, probe = true)
    r.extra("catalog.files_total") = filesUnder(root).toDouble
  }

  // ------------------------------------------------------------ store_churn

  /** Store sizes. No source gives real batch, delete or query sizes;
    * these are assumptions sized so that a run of 20 s holds three
    * cycles and a sweep. */
  val CorpusDocs = 2000; val BatchDocs = 100; val DeleteDocs = 20
  val Queries = 8; val K = 10
  /** Cycles a run records at least, after a warm-up cycle in set-up, and
    * a sweep after every third cycle, the warm-up included. */
  val MinCycles = 3; val SweepEvery = 3
  /** IVF-PQ probes read half the cells and rerank a 150-deep ADC
    * shortlist: with 50 the 8×16 codes of tightly clustered vectors
    * dropped true neighbours (mean recall@10 0.78 on some seeds, at 4
    * or 6 probed cells alike). */
  val NProbe = 4; val Rerank = 150
  /** Minimum mean recall@10 of IVF-PQ probes against exact kNN. */
  val MinRecall = 0.8

  def storeChurn(r: Run): Unit = {
    val spark = r.spark
    import spark.implicits._
    val root = s"${r.work}/stores"
    val (lex, ann) = (s"$root/lex", s"$root/ann")
    def docs(ids: Seq[Long]): DataFrame = ids.map(id => (id, Gen.docText(r.seed, id),
      Gen.docVec(r.seed, id).toSeq)).toDF("id", "text", "vec")
    def userBytes(ids: Seq[Long]): Long =
      ids.map(id => 8L + Gen.docText(r.seed, id).length + 8L * Gen.Dim).sum
    val live = scala.collection.mutable.LinkedHashSet[Long]((0L until CorpusDocs / 2): _*)
    val base = docs(live.toSeq).localCheckpoint()
    phase("session and corpus")
    parallel(2)(Seq(() => LexIndex.writeBm25Index(base, col("id"), col("text"), lex),
      () => AnnIndex.writeIvfPqIndex(base, col("id"), col("vec"), ann, nList = 8, numSub = 8,
        codebookSize = 16)))
    val qTerms = (0 until Queries).flatMap(q => Gen.queryTerms(r.seed, q).map(q.toLong -> _))
      .toDF("qid", "term").coalesce(1).localCheckpoint()
    val qVecs = (0 until Queries).map(q => (q.toLong, Gen.queryVec(r.seed, q).toSeq))
      .toDF("qid", "qv").coalesce(1).localCheckpoint()
    val recalls = scala.collection.mutable.ArrayBuffer[Double]()

    /** Time one store call of a cycle, inside its layer's span; a call
      * that throws counts as the cycle limit. */
    def step[A](name: String, layer: String)(body: => A): A = {
      val t = System.nanoTime
      var s = CycleLimitS
      try { val a = Trace.span(layer)(body); s = (System.nanoTime - t) / 1e9; a }
      finally r.steps(name) = r.steps.getOrElse(name, Nil) :+ s
    }
    /** Check a cycle's probe answers against the ids live when it probed. */
    def verify(liveAtProbe: Set[Long])(hits: (Array[Row], Array[Row])): Unit = {
      val (lexHits, annHits) = hits
      check(lexHits.forall(x => liveAtProbe(x.getAs[Long]("doc_id"))) &&
        annHits.forall(x => liveAtProbe(x.getAs[Long]("vec_id"))),
        "a probe returned a tombstoned or unknown id")
      val lexOk = lexHits.groupBy(_.getAs[Long]("query_id")).forall { case (q, hs) =>
        val terms = Gen.queryTerms(r.seed, q.toInt).toSet
        hs.forall(h => Gen.docText(r.seed, h.getAs[Long]("doc_id")).split(" ").exists(terms))
      }
      check(lexOk, "a BM25 hit shares no term with its query")
      val truth = Similarity.knnJoin(docs(liveAtProbe.toSeq.sorted), col("id"), col("vec"), qVecs,
        col("qid"), col("qv"), K).collect().groupBy(_.getAs[Long]("query_id"))
        .map { case (q, hs) => q -> hs.map(_.getAs[Long]("vec_id")).toSet }
      val got = annHits.groupBy(_.getAs[Long]("query_id"))
        .map { case (q, hs) => q -> hs.map(_.getAs[Long]("vec_id")).toSet }
      val recall = truth.map { case (q, t) => (got.getOrElse(q, Set()) & t).size.toDouble / t.size }
        .sum / truth.size
      recalls += recall
      check(recall >= MinRecall - 1e-9, f"IVF-PQ recall@$K $recall%.3f below $MinRecall")
    }
    // cycles whose answers are checked after the clock stops, so that the
    // brute-force truth takes no time from the measured window
    val unchecked = scala.collection.mutable.ArrayBuffer[(r.Pending[(Array[Row], Array[Row])],
      Set[Long])]()
    var next = CorpusDocs / 2L
    var c = 0
    /** One cycle: append a batch, probe, tombstone; then a sweep after
      * every `SweepEvery`-th cycle. Returns the bytes of user data
      * appended. */
    def cycle(): Long = {
      val batch = (next until next + BatchDocs).toSeq
      next += BatchDocs
      val batchDf = docs(batch).coalesce(1).localCheckpoint()
      val delIds = live.toSeq.filter(id => Gen.pick(r.seed, 1000, 50, c, id) < 1000 *
        DeleteDocs / live.size).take(DeleteDocs)
      val delDf = delIds.toDF("id").coalesce(1).localCheckpoint()
      val traced = c % 2 == 1
      unchecked += (r.start("cycle", traced) {
        step("lex_append", "lex")(LexIndex.appendBm25Index(batchDf, col("id"), col("text"), lex))
        step("ann_append", "ann")(AnnIndex.appendIvfPqIndex(batchDf, col("id"), col("vec"), ann))
        val hits = (step("lex_probe", "lex")(LexIndex.bm25KnnJoinIndexed(spark, lex, qTerms,
          col("qid"), col("term"), K).collect()),
          step("ann_probe", "ann")(AnnIndex.ivfPqKnnJoinIndexed(spark, ann, qVecs,
            col("qid"), col("qv"), K, nProbe = NProbe, rerank = Rerank).collect()))
        step("lex_delete", "lex")(LexIndex.deleteFromBm25Index(spark, lex, delDf, col("id")))
        step("ann_delete", "ann")(AnnIndex.deleteVecs(spark, ann, delDf, col("id")))
        hits
      } -> (live ++ batch).toSet) // probes ran after the append and before the delete
      live ++= batch; live --= delIds
      c += 1
      if (c % SweepEvery == 0)
        r.timed("sweep", traced = true) {
          val m = Trace.span("manifest")(StoreManifest.manifest(spark, root).localCheckpoint())
          Trace.span("maintenance")(Maintenance.applyPlan(spark, root, Some(m)))
        } { _ =>
          val pending = Maintenance.plan(spark, root).filter(col("action") === "compact").count()
          check(pending == 0, s"$pending stores still need compaction after a sweep")
        }
      userBytes(batch)
    }
    // warm-up: one cycle in set-up, checked with the others but not timed
    cycle()
    val warm = unchecked.remove(0)
    r.steps.clear()
    r.extra("setup_s") = setupEnd()

    var ingested = 0L
    val written0 = Trace.bytesWritten.get
    val deadline = System.nanoTime + r.seconds * 1000000000L
    while (c <= MinCycles || System.nanoTime < deadline) ingested += cycle()
    r.extra("write_amp") = (Trace.bytesWritten.get - written0).toDouble / ingested
    r.ops.remove(warm._1.finish(verify(warm._2)))
    unchecked.foreach { case (p, l) => p.finish(verify(l)) }
    val probeS = r.steps("lex_probe") ++ r.steps("ann_probe")
    r.extra("probe_s_p50") = pct(probeS, 0.5)
    r.extra("probe_s_p90") = pct(probeS, 0.9)
    r.extra("sweep_s_p50") = pct(r.ops.asScala.toSeq.filter(_.kind == "sweep").map(_.seconds), 0.5)
    r.extra("ann.recall_at_10") = if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size
  }

  // ----------------------------------------------------------------- main

  @volatile private var startNs = 0L
  /** Seconds since the JVM entered `main`: set-up ends when a workload
    * reads it. */
  private def setupEnd(): Double = (System.nanoTime - startNs) / 1e9
  def phase(what: String): Unit = System.err.println(f"[perfbench] $what at ${setupEnd()}%.1f s")

  def main(argv: Array[String]): Unit = {
    startNs = System.nanoTime
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val (seed, seconds, trace) = (a("seed").toLong, a("seconds").toInt, a("trace") == "1")
    val cores = a.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    require(Seq("catalog_read", "store_churn").contains(workload),
      s"unknown workload $workload")
    val work = s"${a("work")}/run-${ProcessHandle.current().pid()}"
    Files.createDirectories(Paths.get(work))
    val spark = session(cores, work)
    Trace.install(spark)
    val r = new Run(spark, seed, seconds, trace, work)
    workload match {
      case "catalog_read" => catalogRead(r, cores)
      case "store_churn" => storeChurn(r)
    }
    val ops = r.ops.asScala.toSeq
    Console.out.println(report(workload, r, ops, cores))
    if (trace) Trace.writeSpans(s"$work/../spans-$workload-$seed.jsonl")
    val metrics = if (trace) layerMetrics(workload, r, ops) else endToEnd(workload, r, ops)
    val json = metrics.map { case (k, (v, u)) =>
      require(!v.isNaN && !v.isInfinite, s"metric $k is $v")
      s""""$k": {"value": $v, "unit": "$u"}"""
    }
      .mkString("{", ", ", "}")
    val correct = r.wrong.get == 0
    println(s"""{"correct": $correct, "attempted": ${ops.size}, "failed": ${ops.count(!_.ok)}, """ +
      s""""metrics": $json}""")
    spark.stop()
    deleteTree(Paths.get(work))
    sys.exit(if (correct) 0 else 1)
  }

  private def deleteTree(p: java.nio.file.Path): Unit = if (Files.exists(p))
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)

  /** Latency of an op for the end-to-end percentiles: a failed op counts
    * as its workload's limit, and so does a read over the limit. */
  private def lat(workload: String, o: Op): Double = {
    val limit = if (workload == "catalog_read") ReadLimitS else CycleLimitS
    if (!o.ok || o.seconds > limit) limit else o.seconds
  }
  private def good(workload: String, o: Op): Boolean =
    o.ok && (workload != "catalog_read" || o.seconds <= ReadLimitS)

  /** The workload's main ops: store sweeps are reported on their own
    * (`sweep_s_p50`). */
  private def mainOps(all: Seq[Op]): Seq[Op] = all.filter(_.kind != "sweep")

  /** Typical time of each op type, geometric mean over the types.
    *
    * Reads: the median latency of each of the seven timed reads (type
    * and catalog class), a failed read counted as the limit. The types
    * have equal shares in each client, so this is the typical read;
    * unlike the median of all reads it does not jump between op types
    * from one run to the next, and a change to any one type moves it by
    * the same share.
    *
    * Store: the median over the run's cycles of each of the six calls
    * of a cycle, a failed call counted as the cycle limit. */
  def typicalS(w: String, r: Run, ops: Seq[Op]): Double = {
    val byType = if (w == "store_churn") r.steps.values.map(pct(_, 0.5))
      else mainOps(ops).groupBy(_.kind).values.map(xs => pct(xs.map(lat(w, _)), 0.5))
    math.exp(byType.map(math.log).sum / byType.size)
  }

  /** Correct ops per second. */
  def okPerS(w: String, r: Run, ops: Seq[Op]): Double = r.extra.getOrElse("ok_per_s",
    mainOps(ops).count(good(w, _)) / mainOps(ops).map(_.seconds).sum)

  def endToEnd(w: String, r: Run, ops: Seq[Op]): Seq[(String, (Double, String))] =
    Seq("setup_s" -> (r.extra("setup_s"), "s"), "op_s_p50_gm" -> (typicalS(w, r, ops), "s"))

  def layerMetrics(w: String, r: Run, ops: Seq[Op]): Seq[(String, (Double, String))] = {
    val layers = Trace.layerMetrics()
    def unit(k: String) = k.split('.').last match {
      case "ms" | "driver_gap_ms" | "plan_ms" => "ms"
      case "shuffle_bytes" | "bytes_written" => "bytes"
      case _ => "count"
    }
    val perLayer = for (l <- Trace.Layers; k <- Seq("ms", "calls", "jobs", "driver_gap_ms",
        "plan_ms", "codegen_compiles", "shuffle_bytes", "rows_written", "bytes_written", "failed"))
      yield s"$l.$k" -> (layers(s"$l.$k"), unit(k))
    val reads = ReadKinds.filter(k => Served.exists(_.contains(k))).flatMap { k =>
      val xs = ops.filter(_.kind.startsWith(s"$k/"))
      Seq(s"read.$k.s_p50" -> (pct(xs.map(_.seconds), 0.5), "s"),
        s"read.$k.failed" -> (xs.count(!good(w, _)).toDouble, "count"))
    }
    val heap = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    perLayer ++ reads ++ Seq(
      "catalog.files_total" -> (r.extra.getOrElse("catalog.files_total", 0.0), "count"),
      "catalog.rows_read" -> (layers("catalog.rows_read"), "count"),
      "ann.recall_at_10" -> (r.extra.getOrElse("ann.recall_at_10", 0.0), "ratio"),
      "read.known_defects" -> (r.probes.asScala.count(!_.ok).toDouble, "count"),
      "jvm.heap_peak_mb" -> (heap, "MB"),
      "trace.overhead_ms" -> (overheadMs(ops), "ms"),
      "upload_s" -> (r.extra.getOrElse("upload_s", 0.0), "s"),
      "ok_per_s" -> (okPerS(w, r, ops), "1/s"),
      "read_s_p50" -> (if (w == "catalog_read") pct(ops.map(lat(w, _)), 0.5) else 0.0, "s"),
      "read_s_p90" -> (if (w == "catalog_read") pct(ops.map(lat(w, _)), 0.9) else 0.0, "s"),
      "ok_s_p90" -> (pct(mainOps(ops).filter(good(w, _)).map(_.seconds), 0.9), "s"),
      "store_cycle_s_p50" -> (if (w == "store_churn") pct(mainOps(ops).map(lat(w, _)), 0.5)
        else 0.0, "s"),
      "probe_s_p50" -> (r.extra.getOrElse("probe_s_p50", 0.0), "s"),
      "probe_s_p90" -> (r.extra.getOrElse("probe_s_p90", 0.0), "s"),
      "sweep_s_p50" -> (r.extra.getOrElse("sweep_s_p50", 0.0), "s"),
      "write_amp" -> (r.extra.getOrElse("write_amp", 0.0), "ratio"),
      "failed_frac" -> (ops.count(!_.ok).toDouble / ops.size, "ratio"))
  }

  /** Traced minus untraced median op time, per op type, weighted by
    * the type's share of ops. */
  def overheadMs(ops: Seq[Op]): Double = {
    val per = ops.groupBy(_.kind).values.toSeq.flatMap { xs =>
      val (t, p) = xs.partition(_.traced)
      if (t.isEmpty || p.isEmpty) None
      else Some(xs.size * (pct(t.map(_.seconds), 0.5) - pct(p.map(_.seconds), 0.5)))
    }
    if (per.isEmpty) 0.0 else 1000 * per.sum / ops.size
  }

  /** The human-readable report: every end-to-end metric of the workload
    * under the name the design uses for it, and failures by op type and
    * exception. */
  def report(w: String, r: Run, ops: Seq[Op], cores: Int): String = {
    val e2e = endToEnd(w, r, ops).toMap
    val named: Seq[(String, Double, String)] = w match {
      case "catalog_read" => Seq(("upload_s", r.extra.getOrElse("upload_s", 0.0), "s"),
        ("op_s_p50_gm", e2e("op_s_p50_gm")._1, "s"),
        ("read_s_p50", pct(ops.map(lat(w, _)), 0.5), "s"),
        ("read_s_p90", pct(ops.map(lat(w, _)), 0.9), "s"),
        ("read_ok_per_s", okPerS(w, r, ops), "reads/s"))
      case _ => Seq(("op_s_p50_gm", e2e("op_s_p50_gm")._1, "s"),
        ("store_cycle_s_p50", pct(mainOps(ops).map(lat(w, _)), 0.5), "s"),
        ("ok_per_s", okPerS(w, r, ops), "1/s"),
        ("probe_s_p50", r.extra("probe_s_p50"), "s"), ("probe_s_p90", r.extra("probe_s_p90"), "s"),
        ("sweep_s_p50", r.extra("sweep_s_p50"), "s"), ("write_amp", r.extra("write_amp"), "ratio"))
    }
    val lines = Seq(s"workload $w seed ${r.seed} trace ${if (r.trace) 1 else 0}: local[$cores], " +
        s"shuffle partitions $cores, AQE on, codegen cache 2000, 1 client, " +
        s"read limit ${ReadLimitS}s") ++
      (Seq(("setup_s", e2e("setup_s")._1, "s")) ++ named ++
        Seq(("failed_frac", ops.count(!_.ok).toDouble / ops.size, "ratio")))
        .map { case (n, v, u) => f"metric $n%-18s $v%12.4f $u" } ++
      ops.groupBy(_.kind).toSeq.sortBy(_._1).flatMap { case (k, xs) =>
        (f"ops $k%-20s attempted ${xs.size}%5d failed ${xs.count(!_.ok)}%5d " +
          f"s_p50 ${pct(xs.map(lat(w, _)), 0.5)}%.4f ok_s_p50 " +
          f"${pct(xs.filter(good(w, _)).map(_.seconds), 0.5)}%.4f  " +
          xs.map(x => f"${x.seconds}%.2f").mkString(" ")) +:
          xs.flatMap(_.failure).groupBy(identity).toSeq.sortBy(_._1)
            .map { case (f, n) => s"  failure $k ${n.size}x $f" }
      } ++
      r.steps.toSeq.map { case (k, xs) =>
        f"call $k%-12s n ${xs.size}%3d s_p50 ${pct(xs, 0.5)}%.4f  " + xs.map(x => f"$x%.2f")
          .mkString(" ")
      } ++
      r.probes.asScala.toSeq.map { o =>
        s"probe ${o.kind}: ${o.failure.fold("ok, answer correct")("known defect " + _)}"
      }
    lines.mkString("\n")
  }
}
