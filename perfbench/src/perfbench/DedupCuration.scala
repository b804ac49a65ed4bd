package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}

import graft.dedup.Dedup

/** dedup_curation — training-data near-duplicate removal.
  *
  * Build is the full-corpus pass (MinHash-LSH pairs, keep-best cluster
  * labels) plus the persisted signature store. Then arriving batches are
  * flagged against the store with incremental dedup; the write cycle
  * appends the survivors' signatures and compacts the store. The corpus
  * plants near-duplicates of 20% of its documents (1-3 word edits); each
  * batch plants near-duplicates (20%) and exact copies (5%) of live docs.
  */
final class DedupCuration(val ctx: Ctx) extends Workload {
  private val n = sized(3000, 300)
  private val words = 60
  private val vocab = 5000
  // enough planted pairs that recall, a MinHash hit rate, varies little by seed
  private val plantedShare = 0.2
  private val batchN = sized(200, 20)
  private val minJ = 0.7
  private val table = "dd_sig"

  private var docText: Array[String] = _
  private var planted: Seq[(Long, Long)] = _   // (source, copy)
  private var corpus: DataFrame = _
  private var baseTable: DataFrame = _
  private var sigFp: DataFrame = _
  private var sigBands: DataFrame = _
  private val survivors = mutable.ArrayBuffer[(Long, String)]()
  private var pending = mutable.ArrayBuffer[(Long, String)]()
  private var pairsOut: Array[Row] = Array.empty
  private var keepOut: Array[Row] = Array.empty
  // (batch, live survivor count before it, rows)
  private val outputs = mutable.ArrayBuffer[(Int, Int, Array[Row])]()

  private lazy val zipf = new Gen.Zipf(vocab, 0.9)

  private def fresh(r: java.util.SplittableRandom): Array[String] =
    Array.fill(words)(Gen.word(zipf.sample(r)))

  /** Replace 1-3 words: Jaccard of 3-word shingles stays around 0.8-0.9. */
  private def edit(r: java.util.SplittableRandom, text: String): String = {
    val ws = text.split(" ")
    (0 until 1 + r.nextInt(3)).foreach(_ => ws(r.nextInt(ws.length)) = Gen.word(vocab + r.nextInt(vocab)))
    ws.mkString(" ")
  }

  def prepare(): Unit = {
    val r = Gen.rng(seed, 3)
    docText = Array.fill(n)(fresh(r).mkString(" "))
    val copies = (n * plantedShare).toInt
    planted = (0 until copies).map { c =>
      val copy = n - 1 - c
      val src = r.nextInt(n - copies)
      docText(copy) = edit(r, docText(src))
      (src.toLong, copy.toLong)
    }
  }

  /** Batch i: fresh docs, near-dups and exact copies of base docs. */
  private def batchDocs(i: Int): Seq[(Long, String, String, Int)] = {
    val r = Gen.rng(seed, 4000000 + i)
    (0 until batchN).map { t =>
      val id = 10000000L + i.toLong * 100000 + t
      val u = r.nextDouble()
      val src = r.nextInt(n)
      if (u < 0.20) (id, edit(r, docText(src)), "near", src)
      else if (u < 0.25) (id, docText(src), "exact", src)
      else (id, fresh(r).mkString(" "), "fresh", -1)
    }
  }

  /** MinHash signatures of a small slice: the tokenize, shingle and
    * signature code every dedup call shares, in one cheap job.
    */
  def warmup(rep: Int): Unit = {
    val c = Gen.docs(spark, (0 until math.min(n, 100)).map(i => (i.toLong, docText(i))))
    ctx.op("warmup.dedup.minhash")(Dedup.minhash(c).collect())
  }

  def load(): Unit = {
    Gen.docs(spark, docText.indices.map(i => (i.toLong, docText(i))))
      .write.mode("overwrite").saveAsTable("dd_docs")
    baseTable = spark.table("dd_docs")
    corpus = baseTable
  }

  def build(): Unit = {
    ctx.op("dedup.pairs") {
      val p = Dedup.minhashLshPairs(corpus)
      pairsOut = p.select("a", "b", "n_int", "n_a", "n_b", "jaccard").collect(); p.unpersist()
      ctx.tracer.results(pairsOut.length)
    }
    ctx.op("dedup.keep_best") {
      val k = Dedup.nearDupKeepBest(corpus, minJ)
      keepOut = k.select("doc_id", "cluster_id", "cluster_size", "keeper_id", "keep").collect()
      k.unpersist()
    }
    ctx.op("dedup.sig_build")(Dedup.saveSignatures(corpus, table))
    val (fp, bands) = Dedup.loadSignatures(spark, table)
    sigFp = fp; sigBands = bands
  }

  def batchKind(i: Int): String = "incremental"

  def batch(i: Int): Long = {
    val docs = batchDocs(i).map(x => (x._1, x._2))
    ctx.op("dedup.incremental") {
      val out = Dedup.incrementalDedupOnSignatures(sigFp, sigBands, corpus, Gen.docs(spark, docs), minJ)
      val rows = out.select("doc_id", "exact_dup", "near_dup", "best_match", "best_jaccard", "keep").collect()
      out.unpersist()
      rows
    }.map { rows =>
      outputs += ((i, survivors.size, rows))
      val kept = rows.filter(_.getBoolean(5)).map(_.getLong(0)).toSet
      pending ++= docs.filter(d => kept.contains(d._1))
      batchN.toLong
    }.getOrElse(-1L)
  }

  def write(): Unit = {
    val add = pending.toSeq
    ctx.op("dedup.write") {
      Dedup.addSignatures(spark, Gen.docs(spark, add), table)
      Dedup.compactSignatures(spark, table)
      val (fp, bands) = Dedup.loadSignatures(spark, table)
      sigFp = fp; sigBands = bands
    }.foreach { _ =>
      survivors ++= add
      pending = mutable.ArrayBuffer()
      corpus = baseTable.unionByName(Gen.docs(spark, survivors.toSeq))
    }
  }

  def corruptions: Seq[String] = Seq("pairs", "keep_best", "incremental")

  def tables: Seq[String] = Seq(table, s"${table}_fp")

  def inputSizes: Map[String, Any] = Map("docs" -> n, "words_per_doc" -> words, "vocab" -> vocab,
    "planted_pairs" -> planted.size, "batch_docs" -> batchN)

  // ---- checks -------------------------------------------------------

  private def shingles(text: String): Set[String] =
    Gen.tokens(text).sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet

  private def jaccard(a: Set[String], b: Set[String]): (Int, Double) = {
    val i = (a intersect b).size
    (i, i.toDouble / (a.size + b.size - i))
  }

  def check(corrupt: String): Checked = {
    val pr = new Problems
    val sh = mutable.HashMap[Long, Set[String]]()
    def shOf(id: Long, text: => String) = sh.getOrElseUpdate(id, shingles(text))
    docText.indices.foreach(i => shOf(i.toLong, docText(i)))

    // full pass: every reported pair at its exact Jaccard
    val pairs = if (corrupt == "pairs") pairsOut.take(1).map(r =>
      Row(r.getLong(0), r.getLong(1), r.getLong(2) + 1, r.getLong(3), r.getLong(4), r.getDouble(5))) ++
      pairsOut.drop(1) else pairsOut
    pairs.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      val (sa, sb) = (sh(a), sh(b))
      val (ni, j) = jaccard(sa, sb)
      pr.require(r.getLong(2) == ni && r.getLong(3) == sa.size && r.getLong(4) == sb.size &&
        math.abs(r.getDouble(5) - j) <= 1e-12,
        s"pair ($a, $b): reported (${r.getLong(2)}, ${r.getLong(3)}, ${r.getLong(4)}, ${r.getDouble(5)}), exact ($ni, ${sa.size}, ${sb.size}, $j)")
    }
    val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    val truePlanted = planted.map { case (s, c) => (math.min(s, c), math.max(s, c)) }
      .filter { case (a, b) => jaccard(sh(a), sh(b))._2 >= minJ }
    val pairHits = truePlanted.count(found.contains)

    // keep-best: one keeper per cluster, a member, and clusters cover the >= minJ pairs
    val keep = if (corrupt == "keep_best") keepOut.map(r =>
      Row(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), true)) else keepOut
    pr.require(keep.map(_.getLong(0)).sorted.toSeq == (0L until n.toLong), "keep-best does not label every doc once")
    val clusterOf = keep.map(r => r.getLong(0) -> r.getLong(1)).toMap
    keep.groupBy(_.getLong(1)).foreach { case (c, rs) =>
      val keepers = rs.filter(_.getBoolean(4))
      pr.require(keepers.length == 1 && keepers.head.getLong(0) == rs.head.getLong(3) &&
        rs.forall(x => x.getLong(3) == rs.head.getLong(3) && x.getLong(2) == rs.length),
        s"cluster $c: ${keepers.length} keepers for ${rs.length} members")
    }
    pairs.filter(_.getDouble(5) >= minJ).foreach { r =>
      pr.require(clusterOf.get(r.getLong(0)) == clusterOf.get(r.getLong(1)),
        s"pair (${r.getLong(0)}, ${r.getLong(1)}) at >= $minJ split across clusters")
    }

    // incremental: exact flags by token stream, near flags at their exact Jaccard
    var plantedNear = 0; var nearHits = 0
    outputs.zipWithIndex.foreach { case ((i, live, rows0), o) =>
      val rows = if (o == 0 && corrupt == "incremental")
        rows0.map(r => Row(r.getLong(0), !r.getBoolean(1), r.get(2), r.get(3), r.get(4), r.get(5))) else rows0
      val liveDocs = docText.indices.map(x => (x.toLong, docText(x))) ++ survivors.take(live)
      val fps = liveDocs.map(d => Gen.tokens(d._2).mkString(" ")).toSet
      val texts = liveDocs.toMap
      val planned = batchDocs(i).map(d => d._1 -> d).toMap
      pr.require(rows.map(_.getLong(0)).sorted.toSeq == planned.keys.toSeq.sorted,
        s"batch $i: incremental dedup did not flag every batch doc once")
      rows.foreach { r =>
        val (id, text, kind, src) = planned(r.getLong(0))
        val exact = fps.contains(Gen.tokens(text).mkString(" "))
        pr.require(r.getBoolean(1) == exact, s"batch $i doc $id ($kind): exact_dup ${r.getBoolean(1)}, expected $exact")
        if (r.getBoolean(2)) {
          val m = r.getLong(3)
          val j = texts.get(m).map(t => jaccard(shOf(id, text), shOf(m, t))._2).getOrElse(-1.0)
          pr.require(math.abs(j - r.getDouble(4)) <= 1e-12 && j >= minJ,
            s"batch $i doc $id: best match $m at ${r.getDouble(4)}, exact $j")
        }
        pr.require(r.getBoolean(5) == !(r.getBoolean(1) || r.getBoolean(2)), s"batch $i doc $id: keep flag inconsistent")
        // a planted near-dup counts when its exact Jaccard to its source clears the bar
        if (kind == "near" && jaccard(shOf(id, text), sh(src.toLong))._2 >= minJ) {
          plantedNear += 1
          if (r.getBoolean(2) || r.getBoolean(1)) nearHits += 1
        }
      }
    }
    pr.require(outputs.nonEmpty, "no batch completed")
    val denom = truePlanted.size + plantedNear
    Checked(Some(if (denom == 0) 0.0 else (pairHits + nearHits).toDouble / denom), pr.list.toSeq,
      Map("pairs" -> pairs.length, "planted_pairs" -> truePlanted.size, "planted_found" -> pairHits,
        "batch_near_planted" -> plantedNear, "batch_near_flagged" -> nearHits))
  }
}
