package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupState

import graft.pipeline.{Dedup, Multimodal}

/** Streaming perceptual media admission: each media payload of an
  * ingest stream (the `mediaTable` schema — doc_id, kind, payload,
  * source, lang) is decoded, perceptually hashed, and checked against a
  * STATIC prebuilt hamming ledger index ([[Dedup.buildHammingIndex]]
  * over `Multimodal.perceptualHashes` of the standing corpus) — the
  * streaming shape of [[Dedup.incrementalHammingDedup]], emitting
  * `(doc_id, kind, verdict, near_dup_of, hamming, reason)` verdicts.
  *
  * Admission is TOTAL over malformed input: every payload goes through
  * [[Multimodal.checkedPHash]] (the real BMP/WAV/GVF1 parsers fused
  * with the decode-failure classifier `Multimodal.decodeVerdict` uses),
  * so a truncated or corrupt payload mid-stream yields a per-row
  * `quarantined` verdict carrying its reason class instead of an
  * executor exception that kills the whole streaming query — the
  * streaming twin of the batch `Multimodal.quarantineSplit` gate, with
  * an identical accept/reject boundary (one shared classifier).
  * Quarantined rows ride the SAME pipeline as admitted ones (a null
  * band key that joins no postings), so there is no stream union and no
  * second pass.
  *
  * The pipeline is stateless per document, the
  * [[StreamingNearDup]] design carried over to signature space:
  * decode+dHash is a narrow per-row pass, band keys explode to a
  * stream-static left join against the persisted index postings
  * (partition column, band and key fused into one string join key),
  * and the best-match reduction runs in a `flatMapGroupsWithState`
  * that never stores state — every candidate row of a document derives
  * from that document's single input row, so the group is always
  * complete within its micro-batch. Zero state growth, no watermark,
  * and streaming == batch verdicts on ANY replay split (StreamingSpec
  * gates equivalence against `Dedup.incrementalHammingDedup` on the
  * same fixture, including a mid-stream split, and against
  * `quarantineSplit` on a corrupt-payload fixture).
  *
  * A ledger signature reachable through k shared bands is scored k
  * times (≤ bands) instead of paying a distinct() exchange inside the
  * micro-batch; the min-reduction absorbs the duplicates — the same
  * narrow-recompute-beats-shuffle trade as the MinHash path. */
object StreamingMediaDedup {

  final case class MediaVerdict(doc_id: Long, kind: String, verdict: String,
                                near_dup_of: Option[Long], hamming: Option[Long],
                                reason: Option[String])

  def verdicts(spark: SparkSession, stream: DataFrame,
               index: Dedup.HammingIndex): Dataset[MediaVerdict] = {
    import spark.implicits._
    // One decode per row; a rejected payload carries its reason class and
    // a placeholder hash that never reaches a comparison (see below).
    val hashed = stream.as[Multimodal.MediaRow].mapPartitions { it =>
      it.map { m =>
        Multimodal.checkedPHash(m.kind, m.payload) match {
          case Right(h)     => (m.doc_id, m.kind, h, null: String)
          case Left(reason) => (m.doc_id, m.kind, 0L, reason)
        }
      }
    }.toDF("doc_id", "kind", "phash", "qreason")
    // HammingIndex.probeKeys fuses the key from the partition columns the
    // index was built with; the hashed stream exposes doc_id / kind /
    // phash, so any build column beyond those fails loudly at analysis
    // instead of degrading to a false-negative dedup path.
    val bandKeys = index.probeKeys(col("phash"))
    // A quarantined row explodes to exactly one null band key: it joins
    // no postings (null never equals), survives the left join, and
    // reaches the group stage as the document's single candidate-free
    // row — one pipeline for both verdict families.
    val keyed = hashed.select(col("doc_id"), col("kind"), col("phash"),
      col("qreason"),
      explode(when(col("qreason").isNull, bandKeys)
        .otherwise(array(lit(null).cast("string")))).as("bkey"))
    val scored = keyed
      .join(index.buckets, Seq("bkey"), "left_outer")
      .select(col("doc_id"), col("kind"), col("phash"), col("qreason"),
        explode_outer(col("ids")).as("b"))
      .select(col("doc_id"), col("kind"), col("phash"), col("qreason"),
        col("b.doc_id").as("doc_b"), col("b.sig").as("sig_b"))
    val maxH = index.maxHamming
    scored.as[(Long, String, Long, Option[String], Option[Long], Option[Long])]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[Boolean, MediaVerdict](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (key: (Long, String),
         rows: Iterator[(Long, String, Long, Option[String], Option[Long], Option[Long])],
         _: GroupState[Boolean]) =>
          // no state is ever stored: the group is complete in-batch
          var bestH = Long.MaxValue
          var bestId = Long.MaxValue
          var quarantine: Option[String] = None
          rows.foreach {
            case (_, _, _, Some(reason), _, _) =>
              quarantine = Some(reason)
            case (_, _, ph, None, Some(docB), Some(sigB)) =>
              val h = java.lang.Long.bitCount(ph ^ sigB).toLong
              if (h <= maxH &&
                  (h < bestH || (h == bestH && docB < bestId))) {
                bestH = h; bestId = docB
              }
            case _ => ()
          }
          if (quarantine.isDefined)
            Iterator.single(MediaVerdict(key._1, key._2, "quarantined",
              None, None, quarantine))
          else if (bestH <= maxH)
            Iterator.single(MediaVerdict(key._1, key._2, "near_dup",
              Some(bestId), Some(bestH), None))
          else
            Iterator.single(MediaVerdict(key._1, key._2, "admitted",
              None, None, None))
      }
  }
}
