package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupStateTimeout

/** Streaming face of the SimHash near-dup blocking stack — the live twin
  * of `Dedup.simhashBucketRegistry` (and the candidate-generation seam of
  * the oracled q27 pipeline): documents arrive continuously, each is
  * signed inline by the native SimHash kernel (stateless expression work,
  * exactly the batch signature), exploded into its 4 8-bit blocking
  * buckets, and folded into a standing bucket→(anchor, population)
  * registry via `mapGroupsWithState`.
  *
  * Why this state is safe FOREVER: the bucket keyspace is fixed (4 chunks
  * × 2^chunkBits values — 16384 groups at the wide 48-bit default, 1024 at
  * the legacy 32-bit setting) and each group's state is two longs — min doc id
  * and count — no matter how many documents stream through. That is the whole point of registering ANCHORS rather than
  * members: a new document's candidate set is "the anchors of my 4
  * buckets" (then verify by true hamming against the anchor), so the
  * unbounded member lists live in the landed table for the batch layer,
  * never in stream state. Same split as the candle lake: streaming keeps a
  * bounded live view, idempotent batch repair owns history.
  *
  * Both folds are order-insensitive (min and count are commutative
  * monoids), so the final registry over a bounded input is BIT-IDENTICAL
  * to the batch operator's — asserted by the parity spec against the
  * oracled q132 registry.
  */
object DedupStream {

  case class BucketRow(bucket: Long, doc_id: Long)

  case class BucketState(anchorId: Long, n: Long)

  case class BucketEntry(chunk: Long, v: Long, anchor_id: Long, n_docs: Long)

  /** docs(idCol: long, textCol: string) -> per-micro-batch updated bucket
    * registry rows (chunk, v, anchor_id, n_docs). Update mode: the sink's
    * latest row per bucket is the current registry entry. `bits` is the
    * same corpus-scale dial as the batch `simhashCandidates`: at the
    * 32-bit default the keyspace is 4×256 buckets (oracle-parity with
    * q132); bits=48 signs with the wide 60-bit word hash and blocks on
    * 4×4096 12-bit chunks — state stays two longs per TOUCHED bucket.
    */
  /** Sign `docs` and explode each signature into its 4 flattened blocking
    * buckets (chunk·span + value) — ONE definition of the stream-side
    * bucket layout, shared by [[simhashBuckets]] and [[anchorCandidates]]
    * (round-13 review: the prelude was duplicated verbatim) and held in
    * lockstep with the batch chunk layout (Dedup.simhashBucketRegistry /
    * simhashCandidatesFromSignatures) by the parity specs. Emits
    * (bucket, doc_id) — plus the signature when `keepSig`.
    */
  private def signedBuckets(docs: DataFrame, idCol: String, textCol: String,
                            bits: Int, keepSig: Boolean): DataFrame = {
    require(bits % 4 == 0, "bits must split into 4 equal chunks")
    val chunks = 4
    val chunkBits = bits / 4
    val span = 1L << chunkBits
    val signed = docs.select(col(idCol).cast("long").as("doc_id"),
      graft.ops.Dedup.simhash(col(textCol), bits).as("sig"))
    val bucket = explode(array((0 until chunks).map(c =>
      lit(c.toLong * span) + shiftright(col("sig"), c * chunkBits)
        .bitwiseAND(span - 1L)): _*)).as("bucket")
    if (keepSig) signed.select(bucket, col("doc_id"), col("sig"))
    else signed.select(bucket, col("doc_id"))
  }

  def simhashBuckets(docs: DataFrame, idCol: String, textCol: String,
                     bits: Int = graft.ops.Dedup.DefaultSimhashBits): Dataset[BucketEntry] = {
    import docs.sparkSession.implicits._
    val span = 1L << (bits / 4)
    signedBuckets(docs, idCol, textCol, bits, keepSig = false)
      .as[BucketRow]
      .groupByKey(_.bucket)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(stateFn(span))
  }

  // n counts ARRIVALS: an at-least-once source that redelivers a document
  // increments it twice (exact once-only counting would need an id-set,
  // i.e. unbounded state — the registry's whole point is two longs per
  // bucket). The anchor is min-fold and thus redelivery-proof; treat
  // n_docs as an upper bound under redelivery, with the batch registry as
  // the exact reconciler.
  private def stateFn(span: Long)(bucket: Long, rows: Iterator[BucketRow],
                      state: org.apache.spark.sql.streaming.GroupState[BucketState]): BucketEntry = {
    var anchor = state.getOption.map(_.anchorId).getOrElse(Long.MaxValue)
    var n = state.getOption.map(_.n).getOrElse(0L)
    rows.foreach { r =>
      if (r.doc_id < anchor) anchor = r.doc_id
      n += 1L
    }
    state.update(BucketState(anchor, n))
    BucketEntry(bucket / span, bucket % span, anchor, n)
  }

  case class SigRow(bucket: Long, doc_id: Long, sig: Long)

  case class AnchorState(anchorId: Long, anchorSig: Long)

  case class Candidate(doc_id: Long, anchor_id: Long, hamming: Long)

  /** Live anchor-candidate emission — the streaming twin of
    * `Dedup.simhashAnchorCandidates` (q135): each arriving document is
    * routed to its 4 blocking buckets and paired against the bucket's
    * running min-id anchor (two longs of state per bucket, FOREVER), with
    * the true hamming verify inline — at most 4 candidate pairs per
    * document, no pair join anywhere.
    *
    * Determinism contract: a document pairs with the anchor AS OF its
    * arrival (rows are processed in doc_id order WITHIN each micro-batch;
    * when a new smaller id displaces the anchor, the displaced anchor
    * itself emits against the new one). Under id-ordered replay the
    * emitted set equals the batch operator's exactly (asserted by the
    * parity spec); under arbitrary arrival it is the same-size superset
    * semantics every streaming dedup accepts, with the periodic batch
    * [[graft.ops.Dedup.simhashCandidates]] pass as the reconciler — the
    * lake's live-view/batch-repair split again.
    */
  def anchorCandidates(docs: DataFrame, idCol: String, textCol: String,
                       bits: Int = graft.ops.Dedup.DefaultSimhashBits): Dataset[Candidate] = {
    import docs.sparkSession.implicits._
    signedBuckets(docs, idCol, textCol, bits, keepSig = true)
      .as[SigRow]
      .groupByKey(_.bucket)
      .flatMapGroupsWithState(org.apache.spark.sql.streaming.OutputMode.Update,
        GroupStateTimeout.NoTimeout)(candidateFn)
  }

  private def candidateFn(
      bucket: Long, rows: Iterator[SigRow],
      state: org.apache.spark.sql.streaming.GroupState[AnchorState]): Iterator[Candidate] = {
    var anchor = state.getOption.orNull
    val out = scala.collection.mutable.ArrayBuffer.empty[Candidate]
    def emit(d: SigRow, a: AnchorState): Unit = {
      // doc != anchor is the batch operator's output contract — and an
      // at-least-once source can redeliver the current anchor itself,
      // which must not emit a self-pair
      if (d.doc_id == a.anchorId) return
      val h = java.lang.Long.bitCount(d.sig ^ a.anchorSig).toLong
      if (h <= graft.ops.Dedup.MaxHamming) out += Candidate(d.doc_id, a.anchorId, h)
    }
    rows.toSeq.sortBy(_.doc_id).foreach { r =>
      if (anchor == null) anchor = AnchorState(r.doc_id, r.sig)
      else if (r.doc_id < anchor.anchorId) {
        // displaced: the old anchor becomes a member of the new one
        emit(SigRow(bucket, anchor.anchorId, anchor.anchorSig),
          AnchorState(r.doc_id, r.sig))
        anchor = AnchorState(r.doc_id, r.sig)
      } else emit(r, anchor)
    }
    if (anchor != null) state.update(anchor)
    out.iterator
  }
}
