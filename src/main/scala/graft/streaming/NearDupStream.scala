package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.ops.Dedup

/** Streaming near-duplicate screen — the continuous form of the q53
  * decontamination / LSH-band screen: as documents arrive, flag each one
  * whose EVERY MinHash band key was already claimed by an earlier document
  * (the LSH candidate condition for "near-dup of something seen"), without
  * ever materializing pairs.
  *
  * This operator only became streamable when the band computation became a
  * pure scalar: the fused [[graft.expressions.MinHashSig]] turns
  * doc → band keys into a projection (no per-doc aggregation), so the ONLY
  * stateful step is first-claimant tracking per band key —
  * a [[KeyedFold]] keyed by the band key, state = the claiming doc,
  * evicted by its event-time TTL (the same state/recall horizon trade as
  * the streaming exact dedup, [[Dedup.exactStreaming]]).
  *
  * All band rows of one document are produced in the SAME micro-batch (they
  * come from one input row), so the per-document verdict — near-dup iff no
  * band was novel — is a plain within-batch aggregate over the verdict
  * stream ([[nearDupFlags]]), composable inside `foreachBatch`; no second
  * stateful operator is needed.
  *
  * Within-batch determinism: when several docs in one batch race for an
  * unseen band key, the (ts_ms, doc_id)-minimal one claims it — the same
  * arrival-order tie-break the batch screen's keep-first canonical uses.
  */
object NearDupStream {

  case class BandEvent(band_key: String, doc_id: Long, ts_ms: Long)
  case class BandVerdict(doc_id: Long, band_key: String, known: Boolean, ts_ms: Long)
  case class ClaimState(doc_id: Long, ts_ms: Long)

  private def updateKey(
      bandKey: String,
      events: Iterator[BandEvent],
      state: Option[ClaimState]): (Option[(ClaimState, Long)], Iterator[BandVerdict]) = {
    val incoming = events.toSeq.sortBy(e => (e.ts_ms, e.doc_id))
    if (incoming.isEmpty) return (None, Iterator.empty)
    var claimed = state
    val out = incoming.map { e =>
      val known = claimed.isDefined
      if (claimed.isEmpty) claimed = Some(ClaimState(e.doc_id, e.ts_ms))
      BandVerdict(e.doc_id, bandKey, known, e.ts_ms)
    }
    (Some(claimed.get -> incoming.map(_.ts_ms).max), out.iterator)
  }

  /** Wire a document stream `(doc_id, ts_ms, text)` into per-band verdicts.
    * Band keys use the same (n, bands, rowsPerBand) MinHash construction as
    * the batch LSH operators, so batch and stream agree on candidacy. */
  def bandVerdicts(
      docs: DataFrame,
      n: Int = 3,
      bands: Int = 4,
      rowsPerBand: Int = 4): Dataset[BandVerdict] = {
    import docs.sparkSession.implicits._
    // scalar band derivation (no shuffle, no join — joins against the
    // input would be stream-stream): ts_ms rides inside the opaque id
    // struct through the band pipeline and is unpacked after
    val packed = docs.select(
      struct(col("doc_id").cast("long").as("doc_id"),
        col("ts_ms").cast("long").as("ts_ms")).as("__docid"),
      col("text"))
    val bandRows = Dedup.minhashBands(packed, n, bands, rowsPerBand, idCol = "__docid")
      .select(
        concat_ws("|", col("band"), col("band_key")).as("band_key"),
        col("id.doc_id").as("doc_id"),
        col("id.ts_ms").as("ts_ms"))
    KeyedFold(bandRows, "band_key", "ts_ms", OutputMode.Update)(updateKey)
  }

  /** Per-document verdicts from one micro-batch of band verdicts: near-dup
    * iff EVERY band key was already known. Call inside `foreachBatch`. */
  def nearDupFlags(batch: DataFrame): DataFrame =
    batch.groupBy("doc_id")
      .agg((count(lit(1)) === sum(when(col("known"), 1L).otherwise(0L)))
        .as("is_near_dup"))
}
