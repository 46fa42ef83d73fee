package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.annotate.{Annotator, Embedder}
import graft.domain.Calibration
import graft.functions.Portable
import graft.io.PubmedXml
import graft.stream.TableStore

/** nightly_cycle: set-up bootstraps the store from a seeded share of
  * `documents`; the rest, plus revised copies and DeleteCitation
  * tombstones, lands as gz PubMed-XML update files. One writer runs a
  * closed-loop cycle per file (read, classify, route-merge, annotate and
  * embed new rows, vacuum), then both clients send one round of the
  * request mix against the new version.
  */
final class NightlyCycle(c: Ctx) extends Workload(c) {
  import ctx._
  import NightlyCycle._

  // the reference's published calibration (rct_model_calibration.json,
  // 2019-01-25): svm_cnn_ptyp and svm_cnn thresholds
  private val cfg = Calibration.Config(
    withPtyp = Calibration.Thresholds(3.7070634945154053, 2.1057231048584675, 0.11009816065822994),
    noPtyp = Calibration.Thresholds(2.1089724394656733, 1.6498606653424648, 0.059092738155457056))

  private var dir: Path = _
  private var main: TableStore = _
  private var ann: TableStore = _
  private var emb: TableStore = _
  private var server: Server = _
  private var gen: Mix.Gen = _
  private var files: Vector[UpdateFile] = _
  private var next = 0
  private val applied = Vector.newBuilder[(Path, UpdateFile)]

  // traced-run counters (bases of the layer ratios)
  private var ioRows, included, annotated, annNew = 0L

  private def inbox = dir.resolve("inbox")
  private def landing = dir.resolve("landing")

  def prepare(d: Path): Unit = {
    dir = d
    applied.clear()
    main = new TableStore(spark, d.resolve("store").toString, "pmid")
    ann = new TableStore(spark, d.resolve("ann").toString, "doc_id")
    emb = new TableStore(spark, d.resolve("emb").toString, "vec_id")
    val docs = Tables.documents(spark, baseDir).select("doc_id", "text", "lang", "source")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    val plan = NightlyCycle.plan(docs, seed)
    files = plan.tail
    Files.createDirectories(inbox)
    Files.createDirectories(landing)
    (plan.head +: files).foreach(f => writeGz(inbox.resolve(f.name), f.xml))
    ingest(land(plan.head), plan.head)
    server = new Server(spark, trace, main, "pubmed", emb, "embeddings")
    refreshView()
    val vocab = docs.flatMap(_._2.split(" ")).distinct.sorted.toIndexedSeq
    val ids = plan.head.recs.map(_.pmid).toIndexedSeq
    gen = new Mix.Gen(seed, vocab, ids, ids)
    next = 0
  }

  private def land(f: UpdateFile): Path = {
    val p = landing.resolve(f.name)
    Files.move(inbox.resolve(f.name), p, StandardCopyOption.ATOMIC_MOVE)
    applied += (p -> f)
    p
  }

  private def materialize(df: DataFrame): (DataFrame, Long) =
    if (!trace.on) (df, 0L) else { val p = df.persist(); (p, p.count()) }

  /** Read, classify, route-merge, annotate and embed one landed file. */
  private def ingest(path: Path, f: UpdateFile): Unit = {
    val (parsed, n) = trace("io", "read_xml")(materialize(
      PubmedXml.project(PubmedXml.read(spark, path.toString))))
    val (tombs, _) = trace("io", "read_deletions")(materialize(
      PubmedXml.readDeletions(spark, path.toString)))
    val (flagged, _) = trace("domain", "classify")(materialize(classify(parsed, f)))
    if (trace.on) {
      ioRows += n
      included += flagged.filter(col("is_rct_sensitive")).count()
    }
    val inc = flagged.filter(col("is_rct_sensitive"))
    trace("stream", "merge") {
      main.merge("pubmed", inc.select(PubmedCols.map(col): _*), tombs, f.name)
      main.merge("pubmed_excludes",
        flagged.filter(!col("is_rct_sensitive")).select(ExcludeCols.map(col): _*), tombs, f.name)
    }
    val done = trace("stream", "snapshot")(ann.snapshot("annotations")
      .map(_.select("doc_id")).getOrElse(spark.range(0).select(col("id").as("doc_id"))))
    val cands = inc.select(col("doc_id"), col("text"))
    val delIds = tombs.select(col("pmid").cast("long").as("doc_id"))
    val (anns, na) = trace("annotate", "annotate_new")(materialize(
      Annotator.annotateNew(cands, done).toDF().withColumn("seq", lit(f.ordinal))))
    trace("stream", "merge")(ann.merge("annotations", anns, delIds, f.name))
    val todo = cands.join(done, Seq("doc_id"), "left_anti")
    trace("annotate", "embed") {
      val e = Embedder.embed(todo).toDF().withColumnRenamed("doc_id", "vec_id")
        .withColumn("seq", lit(f.ordinal))
      trace("stream", "merge")(emb.merge("embeddings", e,
        delIds.select(col("doc_id").as("vec_id")), f.name))
    }
    if (trace.on) {
      annotated += na
      annNew += anns.join(done, Seq("doc_id"), "left_anti").count()
      cleanSession()
    }
  }

  private def classify(parsed: DataFrame, f: UpdateFile): DataFrame = {
    val status = col("status")
    val im = col("indexing_method")
    parsed
      .withColumn("clf_score", (Portable.h32(col("ti")) % 12).cast("double") / 2.0)
      .withColumn("clf_type", Calibration.modelChoice(status, im))
      .select(Seq(col("*")) ++ Calibration.flags(cfg, status, im, col("clf_score")): _*)
      .withColumn("source_filename", lit(f.name))
      .withColumn("seq", lit(f.ordinal))
      // the search-index projection the request layers read
      .withColumn("doc_id", col("pmid").cast("long"))
      .withColumn("text", col("ti"))
      .withColumn("lang", col("language"))
      .withColumn("source", col("journal"))
      .withColumn("n_chars", length(col("ti")).cast("long"))
  }

  private def refreshView(): Unit = {
    val docs = main.snapshot("pubmed").get
    val n = trace("stream", "index_meta")(emb.snapshot("embeddings").get.count())
    server.view = Mix.View(Workload.linkView(dir.resolve("views"), docs), n)
  }

  /** The incremental path (anti-join merges, new-row annotation) is
    * colder than the bootstrap: the warm-up applies the first update
    * files untimed, then serves one burst.
    */
  def warmUp(): Unit = {
    (1 to WarmFiles).foreach(_ => cycle(files(next)))
    burst(new ConcurrentLinkedQueue[(String, Double)](), seed ^ 0x5eed)
  }

  /** Land the next file and process it until one of its new pmids is
    * served; returns the freshness (s).
    */
  private def cycle(f: UpdateFile): Double = {
    next += 1
    val landed = System.nanoTime()
    ingest(land(f), f)
    refreshView()
    val rows = server.serve(TrialReq(f.probe), nextReq())
    require(rows.nonEmpty, s"new pmid ${f.probe} of ${f.name} is not served after its cycle")
    val fresh = (System.nanoTime() - landed) / 1e9
    trace("stream", "vacuum") {
      Seq(main -> "pubmed", main -> "pubmed_excludes", ann -> "annotations",
        emb -> "embeddings").foreach { case (s, t) => s.vacuum(t, 2) }
    }
    fresh
  }

  /** Cycles until the time is up. The work rate counts cycle time only:
    * the bursts' size has no published source, so their latencies are
    * reported but do not weigh on the ingest rate.
    */
  def measure(seconds: Double): Phase = {
    val lat = new ConcurrentLinkedQueue[(String, Double)]()
    val fresh = Vector.newBuilder[Double]
    var docs = 0L
    var cycleS = 0.0
    var burstS = 0.0
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    while (next < files.size && System.nanoTime() < deadline) {
      val f = files(next)
      val c0 = System.nanoTime()
      op(s"update file ${f.name}")(cycle(f)).foreach { s =>
        fresh += s
        docs += f.recs.size
        cycleS += (System.nanoTime() - c0) / 1e9
        val b0 = System.nanoTime()
        burst(lat, seed * 31 + next)
        burstS += (System.nanoTime() - b0) / 1e9
      }
    }
    Phase(fresh.result(), docs / cycleS, Workload.groupLatencies(lat), Seq(
      ("freshness_p50_s", Stats.median(fresh.result()), "s"),
      ("ingest_docs_per_s", docs / cycleS, "1/s"),
      ("serve_rps", lat.size / math.max(burstS, 1e-9), "1/s"),
      ("cycles", fresh.result().size.toDouble, "count")))
  }

  /** One request of every kind against the new version, split over the
    * two clients.
    */
  private def burst(lat: ConcurrentLinkedQueue[(String, Double)], burstSeed: Long): Unit = {
    val rnd = new Random(burstSeed)
    val clients = rnd.shuffle(Mix.Kinds).grouped(2).zipWithIndex.map { case (kinds, i) =>
      val r = new Random(burstSeed * 7919 + i)
      new Thread(() => kinds.foreach { k =>
        val req = gen.next(k, r)
        val s = System.nanoTime()
        op(s"$k request $req")(server.serve(req, nextReq()))
          .foreach(_ => lat.add(k -> (System.nanoTime() - s) / 1e6))
      }, s"client-$i")
    }.toVector
    clients.foreach(_.start())
    clients.foreach(_.join())
  }

  /** The final store equals a one-shot batch build of every applied
    * file: last-wins per pmid over the routed rows, DeleteCitation
    * cut-offs, and annotation/embedding of each row's first inclusion.
    */
  def check(): Boolean = {
    val fs = applied.result()
    val all = fs.map { case (p, f) =>
      classify(PubmedXml.project(PubmedXml.read(spark, p.toString)), f)
    }.reduce(_ unionByName _)
    val lastDel = fs.map { case (p, f) =>
      PubmedXml.readDeletions(spark, p.toString).withColumn("del", lit(f.ordinal))
    }.reduce(_ unionByName _).groupBy("pmid").agg(max("del").as("del"))
    val live = all.join(lastDel, Seq("pmid"), "left")
      .filter(col("del").isNull || col("seq") >= col("del")).persist()
    val last = Window.partitionBy("pmid").orderBy(col("seq").desc)
    def lastWins(df: DataFrame, cols: Seq[String]): DataFrame =
      df.select(cols.map(col): _*).withColumn("rn", row_number().over(last))
        .filter(col("rn") === 1).drop("rn", "seq")
    val sens = col("is_rct_sensitive")
    val firstInc = live.filter(sens)
      .withColumn("rn", row_number().over(Window.partitionBy("pmid").orderBy(col("seq"))))
      .filter(col("rn") === 1).select("doc_id", "text")
    val empty = spark.range(0).select(col("id").as("doc_id"))
    val pairs = Seq(
      ("pubmed", main.snapshot("pubmed").get, lastWins(live.filter(sens), PubmedCols)),
      ("pubmed_excludes", main.snapshot("pubmed_excludes").get,
        lastWins(live.filter(!sens), ExcludeCols)),
      ("annotations", ann.snapshot("annotations").get,
        Annotator.annotateNew(firstInc, empty).toDF()),
      ("embeddings", emb.snapshot("embeddings").get,
        Embedder.embed(firstInc).toDF().withColumnRenamed("doc_id", "vec_id")))
    val ok = pairs.forall { case (name, got, exp) =>
      val cols = got.columns.sorted.map(col)
      def rows(df: DataFrame) = df.select(cols: _*).collect().map(_.toString).sorted.toVector
      val (g, e) = (rows(got), rows(exp))
      if (g != e) System.err.println(s"[perfbench] nightly_cycle: $name differs from the " +
        s"one-shot build (${g.diff(e).size} rows only stored, ${e.diff(g).size} only built)")
      g == e
    }
    live.unpersist()
    ok
  }

  override def extras: Seq[(String, Double, String)] = Seq(
    ("io.rows", ioRows.toDouble, "count"),
    ("domain.included_frac", included.toDouble / math.max(ioRows, 1L), "ratio"),
    ("annotate.rows", annotated.toDouble, "count"),
    ("annotate.useful_ratio", annNew.toDouble / math.max(annotated, 1L), "ratio"))

  override def bases: Seq[(String, String)] = Seq(
    "domain.included_frac" -> s"$included of $ioRows classified rows",
    "annotate.useful_ratio" -> s"$annNew rows not yet stored of $annotated annotated")

  override def serving: Option[Server] = Option(server)
  override def stores: Seq[TableStore] = Seq(main, ann, emb)
  override def storeDirs: Seq[Path] = Seq("store", "ann", "emb").map(dir.resolve)
  override def liveDocs: Long = main.snapshot("pubmed").get.count() +
    main.snapshot("pubmed_excludes").get.count()
}

object NightlyCycle {
  val PubmedCols: Seq[String] = Seq("pmid", "doc_id", "text", "lang", "source", "n_chars",
    "year", "clf_type", "clf_score", "is_rct_precise", "is_rct_balanced", "source_filename", "seq")
  val ExcludeCols: Seq[String] = Seq("pmid", "year", "clf_type", "clf_score",
    "is_rct_precise", "is_rct_balanced", "source_filename", "seq")

  val BootstrapShare = 0.6
  val WarmFiles = 1
  val UpdateFiles = 12

  final case class Rec(pmid: Long, text: String, lang: String, source: String,
      status: String, im: Option[String], year: Int)

  /** One update file; `probe` is a new pmid the classifier includes, the
    * freshness lookup's target.
    */
  final case class UpdateFile(ordinal: Int, name: String, recs: Seq[Rec], dels: Seq[Long],
      probe: Long) {
    def xml: String = {
      def esc(s: String) = s.replace("&", "&amp;").replace("<", "&lt;")
      val arts = recs.map { r =>
        val im = r.im.map(m => s""" IndexingMethod="$m"""").getOrElse("")
        s"""<MedlineCitation Status="${r.status}"$im><PMID>${r.pmid}</PMID><Article>""" +
          s"""<ArticleTitle>${esc(r.text)}</ArticleTitle><Language>${r.lang}</Language>""" +
          s"""<Journal><Title>${r.source}</Title><JournalIssue><PubDate><Year>${r.year}""" +
          s"""</Year></PubDate></JournalIssue></Journal></Article></MedlineCitation>"""
      }
      val del = if (dels.isEmpty) "" else
        dels.map(p => s"<PMID>$p</PMID>").mkString("<DeleteCitation>", "", "</DeleteCitation>")
      s"""<?xml version="1.0" encoding="UTF-8"?>\n<PubmedArticleSet>\n${arts.mkString("\n")}\n$del\n</PubmedArticleSet>\n"""
    }
  }

  def writeGz(p: Path, s: String): Unit = {
    val gz = new java.util.zip.GZIPOutputStream(java.nio.file.Files.newOutputStream(p))
    try gz.write(s.getBytes("UTF-8")) finally gz.close()
  }

  private def included(r: Rec): Boolean = {
    val score = (Portable.h32s(r.text) % 12) / 2.0
    val ptyp = r.status == "MEDLINE" && !r.im.contains("Automated")
    score >= (if (ptyp) 0.11009816065822994 else 0.059092738155457056)
  }

  /** The seeded file plan: file 0 is the bootstrap share; files 1..K
    * carry the remaining docs, revised copies of earlier records and
    * tombstones for earlier records (never a pmid the same file upserts).
    */
  def plan(docs: Array[(Long, String, String, String)], seed: Long): Vector[UpdateFile] = {
    val rnd = new Random(seed)
    def rec(d: (Long, String, String, String), text: String): Rec = Rec(d._1, text, d._3, d._4,
      Seq("MEDLINE", "MEDLINE", "MEDLINE", "In-Process", "PubMed-not-MEDLINE")(rnd.nextInt(5)),
      Seq(Some("Human"), Some("Automated"), Some("Curated"), None)(rnd.nextInt(4)),
      2000 + rnd.nextInt(25))
    val order = rnd.shuffle(docs.toVector)
    val nBoot = (order.size * BootstrapShare).toInt
    val rest = order.drop(nBoot).grouped(math.ceil((order.size - nBoot).toDouble / UpdateFiles).toInt)
      .toVector
    val byId = docs.map(d => d._1 -> d).toMap
    val landed = scala.collection.mutable.ArrayBuffer[Long]() ++ order.take(nBoot).map(_._1)
    val boot = order.take(nBoot).map(d => rec(d, d._2))
    val first = UpdateFile(0, "pubmed26n0000.xml.gz", boot, Nil,
      boot.find(included).map(_.pmid).getOrElse(boot.head.pmid))
    first +: rest.zipWithIndex.map { case (chunk, i) =>
      val fresh = chunk.map(d => rec(d, d._2))
      val picks = rnd.shuffle(landed.toVector).take(chunk.size / 10 + chunk.size / 50)
      val revised = picks.take(chunk.size / 10).map { id =>
        val d = byId(id); rec(d, d._2 + " revised")
      }
      val dels = picks.drop(chunk.size / 10) :+ (docs.map(_._1).max + 1000 + i)
      landed --= dels
      landed ++= chunk.map(_._1)
      UpdateFile(i + 1, f"pubmed26n${i + 1}%04d.xml.gz", rnd.shuffle(fresh ++ revised), dels,
        fresh.find(included).map(_.pmid).getOrElse(fresh.head.pmid))
    }
  }
}
