package perfbench

import scala.collection.mutable
import scala.collection.parallel.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

import graft.lsh.{LshIndex, LshParams, RandomProjection}

/** vector_serve — the reference's own use case: an LSH bucket index over
  * clustered vectors, served top-k and top-p query batches at rest, with
  * an add / compact / delete write after the batches.
  *
  * Queries are perturbed corpus points, so they share buckets with their
  * cluster. Batches run top-k : top-p rerank as 3 : 1. The write adds a
  * fresh set of vectors, compacts, and retracts (deletes) the first half
  * of that set; the served index is the bucketed table minus the
  * retracted ids.
  */
final class VectorServe(val ctx: Ctx) extends Workload {
  private val dim = 64
  private val n = sized(10000, 400)
  private val nClusters = 64
  private val qBatch = sized(100, 4)
  private val addN = sized(400, 8)
  private val poolBatches = 64
  private val k = 10
  private val topP = 0.5
  // optimalConfig(192, 0.8) = 16 bands x 12 rows
  private val params = LshParams(dim, numPerm = 192, similarityThreshold = 0.8)
  private val table = "vs_index"

  private var centers: Array[Array[Double]] = _
  private var base: Array[Array[Double]] = _
  private val baseIds = Array.tabulate(n)(_.toLong)
  private var corpus: DataFrame = _
  private var index: DataFrame = _
  private var writesDone = 0
  // recorded outputs: (batch, kind, writes done before it, rows)
  private val outputs = mutable.ArrayBuffer[(Int, String, Int, Array[Row])]()

  private def point(r: java.util.SplittableRandom, c: Array[Double], sigma: Double) =
    c.map(_ + sigma * Gen.gaussian(r))

  def prepare(): Unit = {
    val r = Gen.rng(seed, 1)
    centers = Array.fill(nClusters)(Array.fill(dim)(Gen.gaussian(r)))
    base = Array.fill(n)(point(r, centers(r.nextInt(nClusters)), 0.6))
  }

  private def queryBatch(b: Int): (Array[Long], Array[Array[Double]]) = {
    val r = Gen.rng(seed, 1000 + b)
    val ids = Array.tabulate(qBatch)(q => 5000000000L + b.toLong * 100000 + q)
    (ids, Array.fill(qBatch)(point(r, base(r.nextInt(n)), 0.15)))
  }

  private lazy val addSet: (Array[Long], Array[Array[Double]]) = {
    val r = Gen.rng(seed, 2000000)
    val ids = Array.tabulate(addN)(t => 1000000000L + t)
    (ids, Array.fill(addN)(point(r, centers(r.nextInt(nClusters)), 0.6)))
  }

  /** Added vectors the write leaves live: the half it did not retract. */
  private def liveAdds(writes: Int): Seq[(Array[Long], Array[Array[Double]])] =
    if (writes == 0) Nil else Seq((addSet._1.drop(addN / 2), addSet._2.drop(addN / 2)))

  def warmup(rep: Int): Unit = {
    val m = math.min(n, 300)
    val c = Gen.vectors(spark, baseIds.take(m), base.take(m))
    val (qi, qv) = queryBatch(0)
    val q = Gen.vectors(spark, qi.take(8), qv.take(8))
    // own span names: warm-up calls stay out of the per-layer medians
    ctx.op("warmup.lsh.topk")(LshIndex.topKOnIndex(LshIndex.build(c, params), q, params, k).collect())
    ctx.op("warmup.lsh.rerank")(LshIndex.topPRerank(c, q, params, topP, k).collect())
  }

  def load(): Unit = {
    Gen.vectors(spark, baseIds, base).write.mode("overwrite").saveAsTable("vs_corpus")
    corpus = spark.table("vs_corpus")
  }

  def build(): Unit = ctx.op("lsh.build") {
    LshIndex.saveBucketed(LshIndex.build(corpus, params), params, table)
    index = LshIndex.loadBucketed(spark, table)._1
  }

  def batchKind(i: Int): String = if (i % 4 == 3) "rerank" else "topk"

  def batch(i: Int): Long = {
    val (ids, vs) = queryBatch(i % poolBatches)
    val q = Gen.vectors(spark, ids, vs)
    val kind = batchKind(i)
    val res = if (kind == "topk") ctx.op("lsh.topk") {
      val rows = LshIndex.topKOnIndex(index, q, params, k).collect()
      ctx.tracer.results(rows.length); rows
    } else ctx.op("lsh.rerank") {
      val live = liveAdds(writesDone)
      val served = live.foldLeft(corpus) { case (df, (ai, av)) =>
        df.unionByName(Gen.vectors(spark, ai, av)) }
      val rows = LshIndex.topPRerank(served, q, params, topP, k).collect()
      ctx.tracer.results(rows.length); rows
    }
    res.map { rows => outputs += ((i, kind, writesDone, rows)); qBatch.toLong }.getOrElse(-1L)
  }

  def write(): Unit = ctx.op("lsh.write") {
    val (ai, av) = addSet
    LshIndex.addToBucketed(spark, Gen.vectors(spark, ai, av), table)
    LshIndex.compactBucketed(spark, table)
    val (idx, _) = LshIndex.loadBucketed(spark, table, validate = false)
    val session = spark
    import session.implicits._
    index = LshIndex.delete(idx, ai.take(addN / 2).toSeq.toDF("vec_id"))
  }.foreach(_ => writesDone = 1)

  def corruptions: Seq[String] = Seq("topk", "rerank")

  def tables: Seq[String] = Seq(table)

  def inputSizes: Map[String, Any] = Map("vectors" -> n, "dim" -> dim, "clusters" -> nClusters,
    "query_batch" -> qBatch, "add_per_write" -> addN, "bands" -> params.b, "rows" -> params.r)

  // ---- checks -------------------------------------------------------

  private lazy val planes = RandomProjection.planes(params.seed, params.b, params.r, dim)

  private def sigs(v: Array[Double]): Array[Long] = planes.map { p =>
    var sig = 0L
    var r = 0
    while (r < params.r) {
      var dot = 0.0; var j = 0
      while (j < dim) { dot += p(r * dim + j) * v(j); j += 1 }
      if (dot > 0.0) sig |= (1L << r)
      r += 1
    }
    sig
  }

  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var j = 0
    while (j < a.length) { d += a(j) * b(j); na += a(j) * a(j); nb += b(j) * b(j); j += 1 }
    d / math.sqrt(na * nb)
  }

  /** Indices of the k largest scores (ties to the lower index). */
  private def topIndices(scores: Array[Double], k: Int): Seq[Int] = {
    val heap = mutable.PriorityQueue[(Double, Int)]()(Ordering.by((t: (Double, Int)) => (-t._1, t._2)))
    scores.indices.foreach { x =>
      heap.enqueue((scores(x), x))
      if (heap.size > k) heap.dequeue()
    }
    heap.toSeq.sortBy(t => (-t._1, t._2)).map(_._2)
  }

  def check(corrupt: String): Checked = {
    val pr = new Problems
    val baseSigs: Array[Array[Long]] = TruthCache(ctx, "sigs")(base.map(sigs))
    var recallSum = 0.0; var recallN = 0
    val victim = outputs.indexWhere(_._2 == corrupt)
    val work = outputs.toSeq.zipWithIndex.map { case ((i, kind, writes, rows0), o) =>
      val rows = if (o == victim) rows0.map { r =>
        if (kind == "topk") Row(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3) + 1)
        else Row(r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3) + 1e-3)
      } else rows0
      (i, kind, writes, rows)
    }
    val perBatch = work.par.map { case (i, kind, writes, rows) =>
      val live = liveAdds(writes)
      val ids = baseIds ++ live.flatMap(_._1)
      val vecs = base ++ live.flatMap(_._2)
      val vsigs = baseSigs ++ live.flatMap(_._2).map(sigs)
      val addedAt = ids.indices.drop(n).map(x => ids(x) -> x).toMap
      val byId = (id: Long) => if (id >= 0 && id < n) Some(id.toInt) else addedAt.get(id)
      val (qIds, qVecs) = queryBatch(i % poolBatches)
      val got = rows.groupBy(_.getLong(0))
      val local = new Problems
      var rsum = 0.0
      qIds.indices.foreach { qi =>
        val qid = qIds(qi); val qv = qVecs(qi); val qs = sigs(qv)
        val coll = vsigs.map { s => var c = 0; var b = 0; while (b < s.length) { if (s(b) == qs(b)) c += 1; b += 1 }; c }
        val nCand = coll.count(_ > 0)
        val rs = got.getOrElse(qid, Array.empty[Row]).sortBy(_.getLong(1))
        local.require(rs.map(_.getLong(1)).toSeq == (1L to rs.length.toLong),
          s"batch $i query $qid: ranks are not 1..${rs.length}")
        local.require(rs.forall(r => byId(r.getLong(2)).isDefined),
          s"batch $i query $qid: returned an id outside the live corpus")
        if (kind == "topk") {
          val expLen = math.min(k, nCand)
          local.require(rs.length == expLen, s"batch $i query $qid: ${rs.length} results, expected $expLen")
          rs.foreach { r =>
            byId(r.getLong(2)).foreach { x =>
              local.require(coll(x) == r.getLong(3),
                s"batch $i query $qid: cand ${r.getLong(2)} reports ${r.getLong(3)} collisions, exact ${coll(x)}")
            }
          }
          val kth = coll.sorted(Ordering[Int].reverse).lift(expLen - 1).getOrElse(0)
          local.require(rs.isEmpty || rs.last.getLong(3) == kth,
            s"batch $i query $qid: k-th collision count ${rs.lastOption.map(_.getLong(3))} != exact $kth")
          val exact = topIndices(vecs.map(cosine(qv, _)), k).map(ids(_)).toSet
          rsum += rs.count(r => exact.contains(r.getLong(2))).toDouble / k
        } else {
          val expLen = math.min(k, math.max(1, math.ceil(nCand * topP).toInt))
          local.require(rs.length == math.min(expLen, nCand),
            s"batch $i query $qid: prefix of ${rs.length}, expected min(ceil($nCand*$topP), $k)")
          rs.foreach { r =>
            byId(r.getLong(2)).foreach { x =>
              val c = cosine(qv, vecs(x))
              local.require(math.abs(c - r.getDouble(3)) <= 1e-6,
                s"batch $i query $qid: sim ${r.getDouble(3)} != exact cosine $c")
            }
          }
          val best = vecs.indices.filter(coll(_) > 0).map(x => cosine(qv, vecs(x)))
            .sorted(Ordering[Double].reverse).take(rs.length)
          local.require(rs.map(_.getDouble(3)).zip(best).forall { case (a, b) => math.abs(a - b) <= 1e-6 },
            s"batch $i query $qid: top-p prefix is not the best candidates by cosine")
        }
      }
      (kind, rsum, local.list.toSeq)
    }.seq
    perBatch.foreach { case (kind, rsum, ps) =>
      pr.list ++= ps
      if (kind == "topk") { recallSum += rsum; recallN += qBatch }
    }
    pr.require(outputs.nonEmpty, "no batch completed")
    Checked(Some(if (recallN == 0) 0.0 else recallSum / recallN), pr.list.toSeq,
      Map("checked_batches" -> outputs.size, "recall_queries" -> recallN))
  }
}
