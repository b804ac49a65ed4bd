package perfbench

import java.io._
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input helpers shared by the workloads. */
object Gen {
  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  /** Standard normal via Box-Muller. */
  def gaussian(r: SplittableRandom): Double =
    math.sqrt(-2.0 * math.log(1.0 - r.nextDouble())) * math.cos(2.0 * math.Pi * r.nextDouble())

  /** Zipf(s) sampler over ranks 0 until n: a cumulative table and a binary search. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      var lo = 0; var hi = n - 1
      while (lo < hi) { val mid = (lo + hi) >>> 1; if (cdf(mid) < u) lo = mid + 1 else hi = mid }
      lo
    }
  }

  /** A pronounceable lowercase word for vocabulary rank i (letters only,
    * so graft's tokenizer keeps it as one token).
    */
  def word(i: Int): String = {
    val cons = "bcdfghjklmnprstvz"; val vow = "aeiou"
    val b = new StringBuilder
    var x = i + 17
    while ({ b += cons(x % cons.length); x /= cons.length; b += vow(x % vow.length); x /= vow.length; x > 0 }) ()
    b.toString
  }

  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(DoubleType, containsNull = false), nullable = false)))

  def vectors(spark: SparkSession, ids: Array[Long], vs: Array[Array[Double]]): DataFrame = {
    val rows = new java.util.ArrayList[Row](ids.length)
    ids.indices.foreach(i => rows.add(Row(ids(i), vs(i).toSeq)))
    spark.createDataFrame(rows, vecSchema)
  }

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  def docs(spark: SparkSession, ds: Seq[(Long, String)]): DataFrame = {
    val rows = new java.util.ArrayList[Row](ds.size)
    ds.foreach { case (i, t) => rows.add(Row(i, t)) }
    spark.createDataFrame(rows, docSchema)
  }

  /** Word tokens as graft's tokenizer yields them on lowercase ASCII text. */
  def tokens(text: String): Array[String] = text.split("[^a-z0-9]+").filter(_.nonEmpty)
}

/** Files under the truth directory are keyed by the source id as well as
  * workload, seed and scale: some ground truth uses graft's own code (LSH
  * planes), and a run checks "same seed, same output" only against runs of
  * the same sources.
  */
object TruthFile {
  def apply(ctx: Ctx, name: String, ext: String): File = {
    val dir = new File(ctx.args.truthDir)
    dir.mkdirs()
    val a = ctx.args
    new File(dir, s"${a.workload}-$name-seed${a.seed}-scale${a.scale}-${a.sourceId.take(16)}.$ext")
  }
}

/** Ground truth cached per source id, workload, seed and scale, so
  * repeated runs of one seed skip recomputing it. Reads and writes happen
  * outside every timing.
  */
object TruthCache {
  def apply[T <: Serializable](ctx: Ctx, name: String)(compute: => T): T = {
    val f = TruthFile(ctx, name, "bin")
    val dir = f.getParentFile
    val cached = if (!f.exists()) None else
      try {
        val in = new ObjectInputStream(new BufferedInputStream(new FileInputStream(f)))
        try Some(in.readObject().asInstanceOf[T]) finally in.close()
      } catch { case _: Exception => None }
    cached.getOrElse {
      val v = compute
      val tmp = new File(dir, f.getName + s".${ProcessHandle.current().pid()}.tmp")
      val out = new ObjectOutputStream(new BufferedOutputStream(new FileOutputStream(tmp)))
      try out.writeObject(v) finally out.close()
      tmp.renameTo(f)
      v
    }
  }
}

/** Per-batch output checksums kept per seed: a run compares the batches
  * it shares with earlier runs of the same sources, seed and scale, then
  * adds its own. Returns the batches whose checksum differs.
  */
object Checksums {
  def compareAndStore(ctx: Ctx, name: String, sums: Map[String, Long]): Seq[String] = {
    val f = TruthFile(ctx, name, "txt")
    val dir = f.getParentFile
    val old: Map[String, Long] = if (!f.exists()) Map.empty else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().map(_.split(" ")).collect { case Array(i, c) => i -> c.toLong }.toMap
      finally src.close()
    }
    val tmp = new File(dir, f.getName + s".${ProcessHandle.current().pid()}.tmp")
    val out = new PrintWriter(tmp)
    try (old ++ sums).toSeq.sorted.foreach { case (i, c) => out.println(s"$i $c") } finally out.close()
    tmp.renameTo(f)
    sums.collect { case (i, c) if old.get(i).exists(_ != c) => i }.toSeq.sorted
  }
}

/** Check bookkeeping: collects failed assertions with their context. */
final class Problems {
  val list = scala.collection.mutable.ArrayBuffer[String]()
  def require(ok: Boolean, what: => String): Unit = if (!ok) list += what
}
