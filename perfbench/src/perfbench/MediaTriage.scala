package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.multimodal.Binary

/** media_triage — container triage of mixed blobs, one shard per request.
  *
  * Blobs come from graft's synth lanes (WAV, PNG, JPEG, gzip) plus raw
  * text; every 7th doc of a lane stays raw text (the synths' invalid
  * lane) and every 11th container blob is truncated to its first 24
  * bytes. Triage plan construction happens on the driver per call and
  * is independent of the shard size, which is why this workload exists
  * on its own: in any other workload that cost would be hidden.
  *
  * Build triages the whole corpus into a bucketed table; the write
  * cycle appends the last shard's triaged rows and compacts the table.
  */
final class MediaTriage(val ctx: Ctx) extends Workload {
  private val n = sized(3000, 200)
  private val shard = sized(300, 20)
  private val lanes = Seq("wav", "png", "jpeg", "gzip", "text")
  private val invalidEvery = 7
  private val truncateEvery = 11
  private val table = "mt_triaged"
  private val outputs = mutable.ArrayBuffer[(Int, Array[Row])]()
  private var blobs: DataFrame = _
  private var lastShard: Array[Row] = Array.empty
  private var docText: Array[String] = _

  def prepare(): Unit = {
    val r = Gen.rng(seed, 4)
    docText = Array.fill(n)((0 until 8 + r.nextInt(40)).map(_ => Gen.word(r.nextInt(3000))).mkString(" "))
  }

  private def lane(d: Long): String = lanes((d % lanes.size).toInt)

  /** The blob table for docs [from, until): synth lanes, raw text, truncations. */
  private def synth(from: Int, until: Int): DataFrame = {
    val docs = Gen.docs(spark, (from until until).map(i => (i.toLong, docText(i))))
    val d = col("doc_id")
    val synths: Seq[DataFrame => DataFrame] = Seq(
      Binary.Wav.synthFromDocs(_, invalidEvery = invalidEvery),
      Binary.Png.synthFromDocs(_, invalidEvery = invalidEvery),
      Binary.Jpeg.synthFromDocs(_, invalidEvery),
      Binary.Gz.synthFromDocs(_, invalidEvery))
    val laneFrames = synths.zipWithIndex.map { case (s, k) =>
      s(docs.where(d % lanes.size === k)).select(d, col("payload")) } :+
      docs.where(d % lanes.size === lanes.size - 1).select(d, col("text").cast("binary").as("payload"))
    laneFrames.reduce(_ unionByName _)
      .select(d, when(d % truncateEvery === 3 && d % invalidEvery =!= 0 && d % lanes.size =!= lanes.size - 1,
        expr("substring(payload, 1, 24)")).otherwise(col("payload")).as("payload"))
  }

  private def triageRows(df: DataFrame): Array[Row] =
    Binary.triage(df).select(col("doc_id"), col("detected"), col("valid"), col("content_units"))
      .collect()

  /** No warm-up: triage plan construction costs seconds per call even
    * when warm, and the build's full-corpus triage warms it before the loop.
    */
  def warmup(rep: Int): Unit = ()

  private val rowSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "doc_id BIGINT, detected STRING, valid BOOLEAN, content_units BIGINT")

  private def writeRows(rows: Array[Row], t: String, overwrite: Boolean): Unit =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), rowSchema)
      .write.mode(if (overwrite) "overwrite" else "append")
      .bucketBy(4, "doc_id").sortBy("doc_id").format("parquet").saveAsTable(t)

  def load(): Unit = {
    synth(0, n).write.mode("overwrite").saveAsTable("mt_blobs")
    blobs = spark.table("mt_blobs")
  }

  def build(): Unit = ctx.op("multimodal.triage") {
    Binary.triage(blobs).select(col("doc_id"), col("detected"), col("valid"), col("content_units"))
      .write.mode("overwrite").bucketBy(4, "doc_id").sortBy("doc_id").format("parquet")
      .saveAsTable(table)
  }

  def batchKind(i: Int): String = "triage"

  def batch(i: Int): Long = {
    val s = i % (n / shard)
    ctx.op("multimodal.triage") {
      val rows = triageRows(blobs.where(col("doc_id") >= s * shard && col("doc_id") < (s + 1) * shard))
      ctx.tracer.results(rows.length); rows
    }.map { rows => outputs += ((s, rows)); lastShard = rows; rows.length.toLong }.getOrElse(-1L)
  }

  def write(): Unit = ctx.op("multimodal.write") {
    writeRows(lastShard, table, overwrite = false)
    graft.ops.Compaction.rewriteBucketed(spark, table)
  }

  def corruptions: Seq[String] = Seq("triage")

  def tables: Seq[String] = Seq(table)

  def inputSizes: Map[String, Any] = Map("blobs" -> n, "shard" -> shard, "lanes" -> lanes,
    "invalid_every" -> invalidEvery, "truncate_every" -> truncateEvery)

  /** Planted (family, valid) of blob d. */
  private def expected(d: Long): (String, Boolean) =
    if (lane(d) == "text" || d % invalidEvery == 0) ("unknown", false)
    else (lane(d), d % truncateEvery != 3)

  def check(corrupt: String): Checked = {
    val pr = new Problems
    var right = 0L; var total = 0L
    outputs.zipWithIndex.foreach { case ((s, rows0), o) =>
      val rows = if (o == 0 && corrupt == "triage")
        rows0.map(r => Row(r.getLong(0), "png", r.get(2), r.get(3))) else rows0
      pr.require(rows.map(_.getLong(0)).sorted.toSeq == (s.toLong * shard until (s + 1L) * shard),
        s"shard $s: triage returned ${rows.length} rows, not one per blob")
      rows.foreach { r =>
        val d = r.getLong(0)
        val (fam, valid) = expected(d)
        val got = (r.getString(1), !r.isNullAt(2) && r.getBoolean(2))
        total += 1
        if (got == (fam, valid)) right += 1
        else pr.require(false, s"shard $s blob $d (${lane(d)} lane): triage says $got, planted ($fam, $valid)")
      }
    }
    pr.require(outputs.nonEmpty, "no request completed")
    // any mislabel fails the check above, so triage has no quality figure
    Checked(None, pr.list.toSeq,
      Map("checked_requests" -> outputs.size, "checked_blobs" -> total, "right_blobs" -> right))
  }
}
