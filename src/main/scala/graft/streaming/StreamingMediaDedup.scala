package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, Multimodal}

/** Streaming perceptual media admission: each media payload of an ingest
  * stream (the `mediaTable` schema — doc_id, kind, payload, source, lang)
  * is decoded, perceptually hashed, and checked against a prebuilt
  * hamming ledger index ([[Dedup.buildHammingIndex]] over
  * `Multimodal.perceptualHashes` of the standing corpus). Each micro-batch
  * runs [[admit]] against the served index ([[StreamingAdmission]]),
  * emitting `(doc_id, kind, verdict, near_dup_of, hamming, reason)`
  * verdicts on any replay split with no state.
  *
  * Admission is TOTAL over malformed input: every payload goes through
  * [[Multimodal.checkedPHash]] (the real BMP/WAV/GVF1 parsers fused with
  * the decode-failure classifier `Multimodal.quarantineSplit` uses), so a
  * truncated or corrupt payload mid-stream yields a per-row `quarantined`
  * verdict carrying its reason class instead of an executor exception
  * that kills the whole streaming query. */
object StreamingMediaDedup {

  /** The verdicts of one batch of media rows against `index`: each payload
    * is decoded and hashed once, the decodable rows go through the batch
    * operator [[Dedup.indexHammingDedup]], and the rejected rows come back
    * as `quarantined` with their reason and NULL match columns. Admitted
    * and near-dup rows carry a NULL `reason`. The index's partition
    * columns must be among `doc_id` / `kind`, or the probe fails at
    * analysis instead of silently admitting everything. */
  def admit(batch: DataFrame, index: Dedup.HammingIndex): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    // materialized: the decode feeds both the quarantine rows and admission
    val hashed = batch.as[Multimodal.MediaRow].map { m =>
      Multimodal.checkedPHash(m.kind, m.payload) match {
        case Right(h)     => (m.doc_id, m.kind, h, null: String)
        case Left(reason) => (m.doc_id, m.kind, 0L, reason)
      }
    }.toDF("doc_id", "kind", "sig", "reason").localCheckpoint(true)
    val ok = hashed.where(col("reason").isNull).drop("reason")
    val judged = ok.select("doc_id", "kind")
      .join(Dedup.indexHammingDedup(ok, index), index.partitionCols :+ "doc_id")
      .select(col("doc_id"), col("kind"), col("verdict"), col("near_dup_of"),
        col("hamming"), lit(null).cast("string").as("reason"))
    judged.union(hashed.where(col("reason").isNotNull)
      .select(col("doc_id"), col("kind"), lit("quarantined").as("verdict"),
        lit(null).cast("long").as("near_dup_of"),
        lit(null).cast("long").as("hamming"), col("reason")))
  }

  /** A runner serving [[admit]] over `stream` ([[StreamingAdmission]]). */
  def admission(stream: DataFrame, checkpointDir: String,
                sink: (DataFrame, Long) => Unit)
      : StreamingAdmission[Dedup.HammingIndex] =
    new StreamingAdmission[Dedup.HammingIndex](stream, checkpointDir,
      admit, _.release(), sink)
}
