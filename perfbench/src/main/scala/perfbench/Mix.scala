package perfbench

import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.query.Pico
import graft.search.Ivf
import graft.stream.TableStore

/** The API request mix (reference: cnxapp.py picosearch, autocomplete,
  * show_trial, plus the embedding search of PICO_search.py).
  */
sealed trait Req { def kind: String }
final case class PicoReq(q: Pico.PicoQuery) extends Req { val kind = "pico" }
final case class AcReq(prefix: String) extends Req { val kind = "autocomplete" }
final case class TrialReq(id: Long) extends Req { val kind = "trial" }
final case class AnnReq(qid: Long) extends Req { val kind = "ann" }

object Mix {
  val Kinds: Seq[String] = Seq("pico", "autocomplete", "trial", "ann")
  val Fields: Seq[String] = Seq("population", "interventions", "outcomes")

  /** q58's term table over the annotation layer, for any prefix: short
    * prefixes (< 3 chars) list the first 5 terms in key order, longer
    * ones the 5 most frequent (cnxapp.py:74-104).
    */
  def autocomplete(docs: DataFrame, prefix: String): DataFrame = {
    val ann = Pico.annotations(docs)
    val terms = Fields
      .map(f => ann.select(lit(f).as("field"), explode(col(s"${f}_mesh")).as("m")))
      .reduce(_ unionByName _)
      .groupBy(lower(col("m.cui_str")).as("term"), col("m.cui").as("cui"), col("field"))
      .agg(count(lit(1)).as("n"))
      .filter(col("term").startsWith(prefix))
    val ranked =
      if (prefix.length < 3) terms.orderBy("term", "field")
      else terms.orderBy(col("n").desc, col("term"), col("field"))
    ranked.limit(5)
  }

  /** q59's keyed lookup: the row, typed by arm (journal article for
    * English records, trial registration otherwise); an unknown id
    * yields no row.
    */
  def showTrial(docs: DataFrame, id: Long): DataFrame =
    docs.filter(col("doc_id") === id).select(col("doc_id"),
      when(col("lang") === "en", "journal article")
        .otherwise("trial registration").as("article_type"), col("text"))

  def ann(spark: SparkSession, vecs: DataFrame, n: Long, qid: Long): DataFrame =
    Ivf.search(spark, vecs, qid, Ivf.adaptiveMod(n), nprobe = 4, k = 10)

  /** Skewed (Zipf s=1.1) draw from a ranked pool. */
  final class Zipf[T](pool: IndexedSeq[T]) {
    private val cdf = {
      val w = pool.indices.map(r => 1.0 / math.pow(r + 1, 1.1))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    }
    def draw(rnd: Random): T = {
      val u = rnd.nextDouble()
      pool(math.min(pool.size - 1, cdf.indexWhere(_ >= u) max 0))
    }
  }

  /** Seeded request pools over a vocabulary, a doc-id range and the
    * embedding ids; `next` draws one request of a kind, skewed so that
    * popular requests repeat.
    */
  final class Gen(seed: Long, vocab: IndexedSeq[String], docIds: IndexedSeq[Long],
      vecIds: IndexedSeq[Long]) {
    private val rnd = new Random(seed)
    private def concept(w: String): Pico.PicoTerm = {
      val h = graft.functions.Portable.h32s(w)
      Pico.PicoTerm(Fields((h % 3).toInt), s"C${h % 100}")
    }
    private val pico = new Zipf((0 until 8).map { i =>
      val terms = rnd.shuffle(vocab).take(1 + rnd.nextInt(3)).map(concept)
      val gated = if (i % 4 == 3) Seq(Pico.PicoTerm("population", Pico.CovidCui)) else Nil
      PicoReq(Pico.PicoQuery(terms ++ gated, expandTerms = rnd.nextBoolean()))
    })
    private val ac = new Zipf((0 until 8).map { i =>
      val w = vocab(rnd.nextInt(vocab.size))
      AcReq(w.take(if (i % 2 == 0) 1 + rnd.nextInt(2) else 3 + rnd.nextInt(2)))
    })
    // one in ten lookups misses: ids past the end of the corpus
    private val trial = new Zipf(rnd.shuffle(docIds).take(64).map(TrialReq) ++
      (1 to 7).map(i => TrialReq(docIds.max + i)))
    private val annQ = new Zipf(rnd.shuffle(vecIds).take(6).map(AnnReq))

    def next(kind: String, r: Random): Req = kind match {
      case "pico" => pico.draw(r)
      case "autocomplete" => ac.draw(r)
      case "trial" => trial.draw(r)
      case "ann" => annQ.draw(r)
    }
  }

  /** The served state one request sees: the documents and embeddings
    * tables of a store version, with a directory view of the documents
    * snapshot for the dir-addressed picosearch layer.
    */
  final case class View(docsDir: String, nVecs: Long)

  def rows(df: DataFrame): Vector[String] = df.collect().toVector.map(_.toString)
}

/** Serves requests from a store's current version: picosearch through
  * the version's directory view, the other kinds through the store's
  * snapshots, each call inside its layer's span.
  */
final class Server(spark: SparkSession, trace: Trace, docs: TableStore,
    docsTable: String, vecs: TableStore, vecsTable: String) {
  @volatile var view: Mix.View = _
  /** Traced-run tallies: result rows of query-layer requests (the base
    * of query.rows_per_result) and the ANN query ids served.
    */
  val queryRows = new java.util.concurrent.atomic.AtomicLong(0)
  val annQids = java.util.concurrent.ConcurrentHashMap.newKeySet[java.lang.Long]()

  private def counted(rows: Vector[String]): Vector[String] = {
    if (trace.on) queryRows.addAndGet(rows.size)
    rows
  }

  private def snapshot(store: TableStore, table: String, req: Long): DataFrame =
    trace("stream", "snapshot", req) {
      store.snapshot(table).getOrElse(sys.error(s"no snapshot of $table"))
    }

  def embeddings: DataFrame = vecs.snapshot(vecsTable).get

  def serve(r: Req, req: Long): Vector[String] = {
    val v = view
    r match {
      case PicoReq(q) => trace("query", "picosearch", req) {
        val df = trace("query", "expand", req)(Pico.search(spark, v.docsDir, q))
        counted(Mix.rows(df))
      }
      case AcReq(p) =>
        val d = snapshot(docs, docsTable, req)
        trace("query", "autocomplete", req)(counted(Mix.rows(Mix.autocomplete(d, p))))
      case TrialReq(id) =>
        val d = snapshot(docs, docsTable, req)
        trace("query", "show_trial", req)(counted(Mix.rows(Mix.showTrial(d, id))))
      case AnnReq(qid) =>
        val e = snapshot(vecs, vecsTable, req)
        if (trace.on) annQids.add(qid)
        trace("search", "ivf", req) {
          val df = trace("search", "codebook", req)(Mix.ann(spark, e, v.nVecs, qid))
          Mix.rows(df)
        }
    }
  }
}
