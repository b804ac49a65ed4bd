package perfbench

import scala.collection.mutable
import scala.collection.parallel.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.ann.Ivf
import graft.text.{SearchIndex, TextAnalysis}

/** text_retrieval — BM25 and hybrid (BM25 + IVF over hash embeddings,
  * RRF-fused) retrieval from indexes at rest, over a corpus with a Zipf
  * vocabulary. Batches run lexical : hybrid as 3 : 1; the write cycle
  * adds a batch of new documents to the lexical index and compacts it.
  * Queries are 2-3 mid-frequency terms.
  */
final class TextRetrieval(val ctx: Ctx) extends Workload {
  private val n = sized(4000, 200)
  private val vocab = 20000
  private val qBatch = sized(50, 4)
  private val addN = sized(200, 10)
  private val poolBatches = 64
  private val k = 10
  private val k1 = 1.2
  private val b = 0.75
  private val table = "tx_index"
  private val ivfTable = "tx_ivf"
  private val nCentroids = 32

  private var docText: Array[String] = _
  private var docs: DataFrame = _
  private var lexIdx: SearchIndex.TextIndex = _
  private var cells: DataFrame = _
  private var cents: DataFrame = _
  private var writesDone = 0
  private val outputs = mutable.ArrayBuffer[(Int, String, Int, Array[Row])]()

  private lazy val zipf = new Gen.Zipf(vocab, 1.05)

  private def doc(r: java.util.SplittableRandom): String =
    (0 until 20 + r.nextInt(41)).map(_ => Gen.word(zipf.sample(r))).mkString(" ")

  def prepare(): Unit = {
    val r = Gen.rng(seed, 2)
    docText = Array.fill(n)(doc(r))
  }

  private def queryBatch(bt: Int): Seq[(Long, Seq[String])] = {
    val r = Gen.rng(seed, 3000 + bt)
    (0 until qBatch).map { q =>
      (bt.toLong * 1000 + q, (0 until 2 + r.nextInt(2)).map(_ => Gen.word(20 + r.nextInt(2000))))
    }
  }

  private def queryFrame(bt: Int): DataFrame = {
    val s = spark
    import s.implicits._
    queryBatch(bt).flatMap { case (q, ts) => ts.map(t => (q, t)) }.toDF("query_id", "token")
  }

  private lazy val addSet: Seq[(Long, String)] = {
    val r = Gen.rng(seed, 3000000)
    (0 until addN).map(t => (n.toLong + t, doc(r)))
  }


  private def search(bt: Int): Option[Array[Row]] = ctx.op("text.search") {
    val rows = SearchIndex.searchTopKBatch(lexIdx, queryFrame(bt), k).collect()
    ctx.tracer.results(rows.length); rows
  }

  private def hybrid(bt: Int): Option[Array[Row]] = ctx.op("text.hybrid") {
    val out = TextAnalysis.hybridSearchBatchOnIndexes(lexIdx, cells, cents, queryFrame(bt), k)
    val rows = out.select("query_id", "rn", "doc_id", "rrf_score").collect()
    out.unpersist()
    ctx.tracer.results(rows.length); rows
  }

  /** No warm-up of its own: a lexical call over an in-memory index costs
    * seconds per set-up and does not warm the at-rest plan the loop
    * serves; the build runs the index writes before the loop.
    */
  def warmup(rep: Int): Unit = ()

  def load(): Unit = {
    Gen.docs(spark, docText.indices.map(i => (i.toLong, docText(i))))
      .write.mode("overwrite").saveAsTable("tx_docs")
    docs = spark.table("tx_docs")
  }

  def build(): Unit = {
    ctx.op("text.build")(SearchIndex.save(docs, table))
    ctx.op("ann.build") {
      val vecs = TextAnalysis.hashEmbedVectors(docs).select(col("doc_id").as("vec_id"), col("embedding"))
      Ivf.saveIndex(vecs, vecs.where(col("vec_id") % (n / nCentroids) === 0), ivfTable)
    }
    lexIdx = SearchIndex.load(spark, table)
    val (c, z) = Ivf.loadIndex(spark, ivfTable)
    cells = c; cents = z
  }

  def batchKind(i: Int): String = if (i % 4 == 3) "hybrid" else "search"

  def batch(i: Int): Long = {
    val bt = i % poolBatches
    val kind = batchKind(i)
    (if (kind == "search") search(bt) else hybrid(bt))
      .map { rows => outputs += ((i, kind, writesDone, rows)); qBatch.toLong }.getOrElse(-1L)
  }

  def write(): Unit = ctx.op("text.write") {
    SearchIndex.add(Gen.docs(spark, addSet), table)
    SearchIndex.compact(spark, table)
    lexIdx = SearchIndex.load(spark, table)
  }.foreach(_ => writesDone = 1)

  def corruptions: Seq[String] = Seq("search", "hybrid")

  def tables: Seq[String] = Seq(table, s"${table}_doclen", ivfTable, s"${ivfTable}_centroids")

  def inputSizes: Map[String, Any] = Map("docs" -> n, "vocab" -> vocab, "query_batch" -> qBatch,
    "add_per_write" -> addN, "centroids" -> nCentroids)

  // ---- checks -------------------------------------------------------

  /** Exact BM25 over a corpus snapshot, driver-side. */
  private final class Bm25(texts: Seq[(Long, String)]) {
    private val toks = texts.map { case (id, t) => id -> Gen.tokens(t) }
    private val postings = mutable.HashMap[String, mutable.ArrayBuffer[(Int, Int)]]()
    toks.zipWithIndex.foreach { case ((_, ts), x) =>
      ts.groupBy(identity).foreach { case (t, occ) =>
        postings.getOrElseUpdate(t, mutable.ArrayBuffer()) += ((x, occ.length)) }
    }
    private val nDocs = toks.size.toDouble
    private val avgdl = toks.map(_._2.length.toLong).sum / nDocs
    val docTokens: Map[Long, Set[String]] = toks.map { case (id, ts) => id -> ts.toSet }.toMap

    def scores(terms: Seq[String]): Map[Long, Double] = {
      val acc = mutable.HashMap[Long, Double]()
      terms.distinct.foreach { t =>
        postings.get(t).foreach { ps =>
          val df = ps.size
          val idf = math.log(1.0 + (nDocs - df + 0.5) / (df + 0.5))
          ps.foreach { case (x, tf) =>
            val dl = toks(x)._2.length
            val s = idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * (dl / avgdl)))
            acc(toks(x)._1) = acc.getOrElse(toks(x)._1, 0.0) + s
          }
        }
      }
      acc.toMap
    }
  }

  private def checksum(rows: Array[Row]): Long =
    rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), math.round(r.getDouble(3) * 1e9)))
      .sorted.toSeq.hashCode.toLong

  def check(corrupt: String): Checked = {
    val pr = new Problems
    val baseDocs = docText.indices.map(i => (i.toLong, docText(i)))
    val snapshots = mutable.HashMap[Int, Bm25]()
    def snapshot(w: Int) = snapshots.getOrElseUpdate(w, new Bm25(if (w == 0) baseDocs else baseDocs ++ addSet))
    val victim = outputs.indexWhere(_._2 == corrupt)
    val work = outputs.toSeq.zipWithIndex.map { case ((i, kind, w, rows0), o) =>
      val rows = if (o != victim) rows0
        else if (kind == "search") rows0.map(r => Row(r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3) * 1.5))
        else rows0.map(r => Row(r.getLong(0), r.getLong(1) + 1, r.getLong(2), r.getDouble(3)))
      snapshot(w)
      (i, kind, w, rows)
    }
    val results = work.par.map { case (i, kind, w, rows) =>
      val local = new Problems
      val bm = snapshots(w)
      var recall = 0.0; var nq = 0
      val got = rows.groupBy(_.getLong(0))
      queryBatch(i % poolBatches).foreach { case (qid, terms) =>
        val rs = got.getOrElse(qid, Array.empty[Row]).sortBy(_.getLong(1))
        val sc = rs.map(_.getDouble(3))
        local.require(rs.map(_.getLong(1)).toSeq == (1L to rs.length.toLong),
          s"$kind batch $i query $qid: ranks are not 1..${rs.length}")
        local.require(sc.toSeq.zip(sc.drop(1)).forall { case (a, c) => a >= c },
          s"$kind batch $i query $qid: scores increase down the list")
        if (kind == "search") {
          val exact = bm.scores(terms)
          local.require(rs.length == math.min(k, exact.size),
            s"search batch $i query $qid: ${rs.length} hits, ${exact.size} documents match")
          rs.foreach { r =>
            val d = r.getLong(2)
            local.require(bm.docTokens.get(d).exists(ts => terms.exists(ts.contains)),
              s"search batch $i query $qid: doc $d contains no query token")
            val e = exact.getOrElse(d, Double.NaN)
            local.require(math.abs(e - r.getDouble(3)) <= 1e-9 * math.max(1.0, math.abs(e)),
              s"search batch $i query $qid: doc $d BM25 ${r.getDouble(3)} != exact $e")
          }
          if (exact.nonEmpty) {
            val kth = exact.values.toSeq.sorted(Ordering[Double].reverse).take(k).last
            val top = exact.filter(_._2 >= kth - 1e-9).keySet
            recall += rs.count(r => top.contains(r.getLong(2))).toDouble / math.min(k, exact.size)
            nq += 1
          }
        } else {
          local.require(sc.forall(s => s > 0 && s <= 2.0 / 61 + 1e-12),
            s"hybrid batch $i query $qid: RRF score outside (0, 2/61]")
        }
      }
      (recall, nq, local.list.toSeq)
    }.seq
    results.foreach(x => pr.list ++= x._3)
    val nq = results.map(_._2).sum
    // same seed, same outputs: per-batch checksums against earlier runs
    val sums = work.map { case (i, _, w, rows) => s"$i/$w" -> checksum(rows) }.toMap
    if (corrupt.isEmpty) Checksums.compareAndStore(ctx, "outputs", sums).foreach { i =>
      pr.require(false, s"batch $i (after writes) output checksum differs from an earlier run of seed $seed") }
    pr.require(outputs.nonEmpty, "no batch completed")
    // BM25 scores are checked exact, so their top-k recall is not a quality figure
    Checked(None, pr.list.toSeq, Map("checked_batches" -> outputs.size, "recall_queries" -> nq,
      "bm25_recall" -> (if (nq == 0) 0.0 else results.map(_._1).sum / nq)))
  }
}
