package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.llm.{Dedup, Tokens}

/** Streaming near-duplicate suppression — the ingest-time face of the batch
  * MinHash+LSH pipeline (`x_dedup_minhash`): as documents arrive, each is
  * fingerprinted into the SAME banded signature space the batch index uses,
  * and every LSH bucket keeps its FIRST claimant in group state. A later
  * arrival that lands in an already-claimed bucket is flagged as a near-dup
  * candidate of that claimant without ever comparing against the corpus —
  * exactly the property that makes LSH the scale path: per-bucket state is
  * O(1) (one claimant), per-doc work is 4 state lookups, and the event-time
  * TTL bounds total state by the retention window, not by corpus size.
  *
  * Batch/stream parity is structural, not aspirational: the signature here
  * is computed per-row with higher-order functions but reuses [[Dedup]]'s
  * shingles ([[Tokens.grams]]), hash design (one md5 per shingle split into
  * eight 15-bit slices) and band-hash formula verbatim, and LshDedupSpec proves
  * the per-row band hashes bit-identical to the batch `Dedup.bandsOver`
  * aggregate on the same corpus. The per-element HOF fold is interpreted
  * (not codegen'd) — acceptable at ingest rates; the batch index build
  * stays on the codegen'd explode+groupBy path.
  *
  * Like the batch stage, this emits CANDIDATES (bucket collisions), not
  * verified duplicates — the Jaccard verify belongs downstream
  * (`Dedup.jaccardOver`), unchanged from the batch design. Docs under 3
  * tokens produce no shingles, emit no band rows, and must be unioned back
  * as keepers by the caller (the `dedupStream` null-bypass pattern).
  */
object LshDedup {

  /** One incoming band row after fingerprinting. */
  final case class BandArrival(
      doc_id: Long, band: Int, bh: String, tsMs: Long)

  /** Bucket state: the first doc to claim this (band, band-hash) bucket. */
  final case class BucketClaim(claimantId: Long, lastSeenMs: Long)

  /** Per-band decision for one arriving doc. */
  final case class BandDecision(
      doc_id: Long, band: Int, bh: String, claimant: Long, is_new: Boolean)

  /** Per-row minhash signature (array of 8 slice-mins) over a bound token
    * array — [[Dedup.signaturesOver]]'s aggregate re-expressed as a scalar
    * fold so it runs stateless inside a streaming projection.
    */
  def rowSignature(toks: Column): Column =
    aggregate(
      Tokens.grams(toks, Dedup.ShingleK),
      array_repeat(lit(Dedup.SliceMask), Dedup.NumHashes),
      (acc, s) => {
        val m = md5(concat(lit("mh:"), s))
        val h1 = conv(substring(m, 1, 15), 16, 10).cast("long")
        val h2 = conv(substring(m, 17, 15), 16, 10).cast("long")
        val comps = array((0 until Dedup.NumHashes).map { j =>
          shiftright(if (j < 4) h1 else h2, (j % 4) * Dedup.SliceBits)
            .bitwiseAND(Dedup.SliceMask)
        }: _*)
        zip_with(acc, comps, (a, b) => least(a, b))
      })

  /** Per-row band hashes — [[Dedup.bandsOver]]'s formula over [[rowSignature]]. */
  def rowBands(sig: Column): Column =
    array((0 until Dedup.NumBands).map { b =>
      struct(lit(b).as("band"),
        md5(concat(element_at(sig, 2 * b + 1).cast("string"), lit("_"),
          element_at(sig, 2 * b + 2).cast("string"))).as("bh"))
    }: _*)

  /** Fingerprint a (doc_id, text, ts) stream into watermarked band rows. */
  def bandArrivals(
      docs: DataFrame,
      watermark: String = "10 minutes"): Dataset[BandArrival] = {
    import docs.sparkSession.implicits._
    docs
      .withColumn("toks", Tokens.tokens($"text"))
      .filter(size($"toks") >= Dedup.ShingleK)
      .withWatermark("ts", watermark)
      .select($"doc_id", $"ts",
        explode(rowBands(rowSignature($"toks"))).as("x"))
      .select($"doc_id", $"x.band".as("band"), $"x.bh".as("bh"),
        unix_millis($"ts").as("tsMs"), $"ts")
      .as[BandArrival]
  }

  /** The stateful core: first-claimant-wins per LSH bucket, event-time TTL.
    *
    * Within a micro-batch, arrivals are ordered by (tsMs, doc_id) so the
    * claimant is deterministic under replay. A bucket idle past `ttlMs`
    * (event time) is dropped — recurring boilerplate beyond the retention
    * window re-claims a fresh bucket, the same window semantics
    * `dropDuplicatesWithinWatermark` gives exact dedup.
    */
  def bucketDecisions(
      arrivals: Dataset[BandArrival],
      ttlMs: Long = 60L * 60 * 1000): Dataset[BandDecision] = {
    import arrivals.sparkSession.implicits._
    arrivals.groupByKey(a => (a.band, a.bh))
      .flatMapGroupsWithState[BucketClaim, BandDecision](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (Int, String), rows: Iterator[BandArrival],
            state: GroupState[BucketClaim]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy(a => (a.tsMs, a.doc_id))
            var claim = state.getOption.orNull
            val out = sorted.map { a =>
              if (claim == null) {
                claim = BucketClaim(a.doc_id, a.tsMs)
                BandDecision(a.doc_id, key._1, key._2, a.doc_id, is_new = true)
              } else {
                claim = claim.copy(lastSeenMs = math.max(claim.lastSeenMs, a.tsMs))
                BandDecision(a.doc_id, key._1, key._2, claim.claimantId,
                  is_new = false)
              }
            }
            state.update(claim)
            state.setTimeoutTimestamp(claim.lastSeenMs + ttlMs)
            out.iterator
          }
      }
  }

  /** End-to-end: document stream → per-band claim decisions. */
  def lshDedupStream(
      docs: DataFrame,
      watermark: String = "10 minutes",
      ttlMs: Long = 60L * 60 * 1000): Dataset[BandDecision] =
    bucketDecisions(bandArrivals(docs, watermark), ttlMs)

  /** The decision stream's OUTPUT PATH: batch_id-partitioned parquet via
    * foreachBatch + dynamic partition overwrite. The exactly-once contract
    * is the idempotent-replay one: after a failure Structured Streaming
    * re-runs the last micro-batch under the SAME batchId, the rewrite
    * replaces exactly that batch's partition, and — because
    * [[bucketDecisions]] orders each batch by (tsMs, doc_id) before
    * claiming — the replayed payload is row-identical to the original, so
    * the sink converges instead of accumulating duplicates. This is the
    * same contract an idempotent Kafka producer provides via
    * (producer-id, epoch, sequence); parquet partitions stand in for the
    * broker here (no broker in the test environment — the serializer
    * contract is pinned separately by EventGenSpec). LshDedupSinkSpec
    * replays the final batch against a live sink and proves the no-op.
    */
  def decisionsSink(
      decisions: Dataset[BandDecision],
      outRoot: String,
      checkpoint: String): org.apache.spark.sql.streaming.DataStreamWriter[BandDecision] =
    decisions.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: Dataset[BandDecision], id: Long) =>
        Streaming.writeBatch(b.toDF(), id, outRoot)
      }

  /** Batch roll-up (for foreachBatch sinks or tests): a doc is a near-dup
    * candidate iff ANY of its bands hit a bucket claimed by an EARLIER doc;
    * `dup_of` is the smallest such claimant, NULL for keepers.
    */
  def rollup(decisions: DataFrame): DataFrame = {
    import decisions.sparkSession.implicits._
    decisions.groupBy($"doc_id")
      .agg(min(when($"claimant" =!= $"doc_id", $"claimant")).as("dup_of"))
      .select($"doc_id", $"dup_of", $"dup_of".isNull.as("is_kept"))
  }
}
