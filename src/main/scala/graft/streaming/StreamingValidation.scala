package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.checks.RowValidator
import graft.expr.SketchExprs.minhashSig
import graft.ops.Dedup
import graft.rules.RuleSet

/** Structured-Streaming form of the engine. The batch core is a pure
  * DataFrame -> DataFrame function, so the streaming variant is the same
  * plan bound to a streaming source (SURVEY.md §2 Part B "Streaming"):
  * `readStream.parquet(docsDir) |> validate |> writeStream`.
  */
object StreamingValidation {

  /** Per-doc verdicts on a streaming docs frame (stateless: one row in, one
    * row out — safe in append mode with no watermark).
    */
  def verdictStream(docs: DataFrame, rules: RuleSet = RuleSet.default): DataFrame =
    RowValidator.verdicts(docs, rules)

  /** Violation rows on a streaming docs frame. */
  def violationStream(docs: DataFrame, rules: RuleSet = RuleSet.default): DataFrame =
    RowValidator.violations(docs, rules)

  /** Windowed violation-rate over an event-time column: watermarked tumbling
    * windows, late data dropped past the watermark (stateful aggregation).
    */
  def windowedViolationRate(docs: DataFrame, tsCol: String,
      windowLen: String = "1 hour", watermark: String = "2 hours",
      rules: RuleSet = RuleSet.default): DataFrame =
    RowValidator.withViolations(docs, rules) // stateless; keeps the ts column
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col("passed"))
      .agg(count(lit(1)).as("n"))

  /** Windowed span-kind frequencies on a streaming docs frame: watermarked
    * tumbling windows x kind -> counts — the streaming input to the drift
    * check ([[graft.checks.Drift.psiGrouped]] turns each CLOSED window's
    * histogram into a PSI against a baseline snapshot; run it in
    * foreachBatch or over the sink table). Same shape as the batch
    * [[graft.checks.Drift.kindFrequencies]]: the explode feeds a partial
    * aggregate map-side, only (window, kind, partial-count) rows shuffle.
    */
  def kindFrequencyStream(docs: DataFrame, tsCol: String,
      windowLen: String = "1 hour", watermark: String = "2 hours"): DataFrame =
    docs
      .withWatermark(tsCol, watermark)
      .select(col(tsCol), explode(col("spans.kind")).as("kind"))
      .groupBy(window(col(tsCol), windowLen), col("kind"))
      .agg(count(lit(1)).as("n"))

  /** End-to-end streaming drift harness (the operational form of the batch
    * `drift_psi_hourly` query): closed kind-frequency windows land in a
    * parquet table via foreachBatch, and each landed micro-batch is scored
    * for drift against the `baseline` histogram with
    * [[graft.checks.Drift.psiGrouped]] before being appended to `psiPath`.
    *
    * Append mode emits a window exactly ONCE, when the watermark passes its
    * end — so the per-window PSI computed inside the landing batch equals
    * the PSI a batch job would compute over the same windows (the parity
    * the spec pins). Late rows inside the watermark still count (their
    * window has not closed); rows later than the watermark are dropped by
    * the aggregation — the standard bounded-state contract.
    *
    * Scale shape: each micro-batch carries only the windows that closed in
    * it (histogram rows, not documents); the PSI join broadcasts the
    * baseline. The sink is an append-only parquet table, so a downstream
    * alerting query reads (window, psi) rows incrementally.
    *
    * @param baseline histogram with columns `cat` and `n_base` (see
    *                 [[graft.checks.Drift.psiGrouped]])
    */
  def startWindowedPsiSink(docs: DataFrame, tsCol: String, baseline: DataFrame,
      windowsPath: String, psiPath: String, checkpoint: String,
      windowLen: String = "1 hour", watermark: String = "30 minutes"): StreamingQuery =
    kindFrequencyStream(docs, tsCol, windowLen, watermark)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        landPsiBatch(batch, batchId, baseline, windowsPath, psiPath)
      }
      .start()

  /** One epoch's landing (the foreachBatch body of
    * [[startWindowedPsiSink]], extracted so replay idempotence is directly
    * testable): write the batch's closed windows and their PSI scores,
    * each into the epoch's OWN `batch_id` partition with dynamic
    * overwrite. A crash between these writes and the checkpoint commit
    * re-runs the epoch; the retry then REPLACES its previous attempt
    * instead of appending duplicate window/PSI rows.
    */
  private[graft] def landPsiBatch(batch: DataFrame, batchId: Long,
      baseline: DataFrame, windowsPath: String, psiPath: String): Unit = {
    val closed = batch
      .select(col("window.start").as("w"), col("kind"), col("n"))
      .persist()
    try {
      if (closed.count() > 0) {
        def writeBatch(df: DataFrame, path: String): Unit =
          df.withColumn("batch_id", lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(path)
        writeBatch(closed, windowsPath)
        writeBatch(
          graft.checks.Drift
            .psiGrouped(closed, baseline, col("w"), col("kind"), col("n")),
          psiPath)
      }
    } finally { closed.unpersist(); () }
  }

  /** One streamed dedup input row. */
  final case class DedupIn(khash: Long, key: String, doc_id: String,
      ts: java.sql.Timestamp)
  /** First-seen emission: the surviving doc + how its key is bucketed. */
  final case class DedupOut(doc_id: String, khash: Long)
  /** Per-bucket state: true keys already emitted (usually exactly one; >1
    * only under a 64-bit hash collision, which stays EXACT here) plus the
    * event-time high-water mark the TTL is anchored to — carried in state
    * so a later all-null-ts batch cannot REWIND the expiry to the current
    * watermark and evict the key early.
    *
    * COMPATIBILITY: `maxTsMs` was added after the first release of this
    * operator. Structured Streaming state schemas are not forward-
    * compatible, so restoring a checkpoint written by the pre-`maxTsMs`
    * build fails at restore time (state-encoder schema mismatch). Restart
    * such queries from a fresh checkpoint; within-watermark dedup state
    * rebuilds from the replayed source offsets. The same applies to
    * [[BandBucket]].
    */
  final case class SeenKeys(keys: List[String], maxTsMs: Long = Long.MinValue)

  /** Stateful streaming exact dedup (custom state via flatMapGroupsWithState,
    * SURVEY §2 Part B "Streaming"): emit only the FIRST doc per key;
    * duplicates — within a micro-batch or across batches — are suppressed.
    *
    * Shape at scale: groups are keyed by xxhash64(key), so the state shuffle
    * carries 8-byte keys and state lookups are hash-bucket-local; the full
    * key string is kept inside the bucket's state, so hash collisions do not
    * merge distinct keys (same collision policy as the batch
    * [[graft.ops.Dedup.exactDupGroups]] resolve pass). State is bounded by
    * the event-time timeout: a key expires `ttl` past the watermark, after
    * which a re-arrival is treated as new — i.e. dedup-within-watermark
    * semantics, the same contract as Spark's dropDuplicatesWithinWatermark,
    * but with the state machine explicit and extensible (e.g. counting
    * suppressed dups or emitting tombstones would be two-line changes).
    *
    * "First" among same-key rows in one micro-batch is engine-defined (the
    * group iterator's order); across batches it is arrival order.
    */
  def firstSeenStream(docs: DataFrame, key: Column, id: Column,
      tsCol: String, watermark: String = "1 hour",
      ttlMs: Long = 0L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .withWatermark(tsCol, watermark)
      .select(xxhash64(key).as("khash"), key.cast("string").as("key"),
        id.cast("string").as("doc_id"), col(tsCol).as("ts"))
      .as[DedupIn]
      .groupByKey(_.khash)
      .flatMapGroupsWithState[SeenKeys, DedupOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (khash: Long, rows: Iterator[DedupIn], state: GroupState[SeenKeys]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val prior = state.getOption
            var seen = prior.map(_.keys.toSet).getOrElse(Set.empty[String])
            // high-water mark from STATE, not just this batch: an all-null-
            // ts batch must extend the existing expiry, never rewind it
            var maxTs = prior.map(_.maxTsMs).getOrElse(Long.MinValue)
            val out = List.newBuilder[DedupOut]
            rows.foreach { e =>
              if (e.ts != null) maxTs = math.max(maxTs, e.ts.getTime)
              if (!seen.contains(e.key)) {
                seen += e.key
                out += DedupOut(e.doc_id, khash)
              }
            }
            state.update(SeenKeys(seen.toList, maxTs))
            // ALWAYS set a timeout: a batch whose rows all carry null ts
            // would otherwise leave this key's state with no expiry — an
            // unbounded state leak. With no event time seen EVER, fall back
            // to the current watermark + ttl; never at/behind the watermark.
            val expiryBase =
              if (maxTs != Long.MinValue) maxTs else state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(
              math.max(expiryBase + math.max(ttlMs, 1L),
                state.getCurrentWatermarkMs() + 1))
            out.result().iterator
          }
      }
      .toDF()
  }

  /** One band-fanned streamed row for near-dup candidate generation. */
  final case class BandIn(band: Int, bh: Long, doc_id: String, sig: Seq[Long],
      ts: java.sql.Timestamp)
  /** A bucket-resident signature. */
  final case class BandMember(doc_id: String, sig: Seq[Long])
  /** Per-(band, bucket) state: resident members, capped at `maxBucket`,
    * plus the event-time high-water mark the TTL is anchored to (see
    * [[SeenKeys]] — prevents expiry rewind on all-null-ts batches).
    */
  final case class BandBucket(members: List[BandMember],
      maxTsMs: Long = Long.MinValue)
  /** Candidate event: (a, b) with the unbiased signature-estimated jaccard
    * and the arrival time of the LATER doc (so downstream
    * `withWatermark("ts", ...).dropDuplicatesWithinWatermark("a", "b")` can
    * collapse the same pair surfacing from multiple bands).
    */
  final case class CandidateOut(a: String, b: String, est_jaccard: Double,
      ts: java.sql.Timestamp)

  /** Streaming near-dup CANDIDATE generation — the incremental form of
    * [[graft.ops.Dedup.minhashPairs]] for continuous corpus ingestion: each
    * arriving doc is minhash-signed, fanned to its `bands` LSH buckets, and
    * compared (signature estimate only) against the bucket's resident
    * members; a collision at estimate >= threshold - estMargin emits a
    * candidate pair event. Exact-jaccard verification is deliberately NOT
    * done here — signatures, not shingle sets, live in state (64 longs vs
    * unbounded text per doc), and the batch verify (one scan + one
    * candidate-sized shuffle, `Dedup.minhashPairs`'s tail) runs downstream
    * over the emitted candidates.
    *
    * Scale shape mirrors the batch operator: state keys are (band, bucket
    * hash) so the shuffle carries thin rows; buckets cap at `maxBucket`
    * members (the mass-duplicate guard — a boilerplate flood cannot grow a
    * bucket's state or its per-arrival compare cost past the cap); state
    * expires `ttlMs` past the watermark (dedup-within-watermark semantics,
    * like [[firstSeenStream]]).
    */
  def nearDupCandidatesStream(docs: DataFrame, id: Column, text: Column,
      tsCol: String, watermark: String = "1 hour", threshold: Double = 0.8,
      estMargin: Double = 0.2, numHashes: Int = 64, bands: Int = 32,
      maxBucket: Int = 64, ttlMs: Long = 0L): DataFrame = {
    val rows = numHashes / bands
    require(rows * bands == numHashes, "bands must divide numHashes")
    val spark = docs.sparkSession
    import spark.implicits._
    val minMatches = math.ceil((threshold - estMargin) * numHashes).toInt
    // null text is EXCLUDED (no content to compare) — same guard as the
    // batch ops ([[graft.ops.Dedup.minhashPairs]]): without it a null sig
    // lands in bucket state and the next arrival's m.sig(i) compare NPEs
    // the executor, terminating the streaming query
    val bandRows = docs
      .where(text.isNotNull)
      .withWatermark(tsCol, watermark)
      .select(id.cast("string").as("doc_id"),
        minhashSig(Dedup.shingles(text), numHashes).as("sig"),
        col(tsCol).as("ts"))
      .select(posexplode(array((0 until bands).map(b =>
          xxhash64(lit(b), slice(col("sig"), b * rows + 1, rows))): _*))
          .as(Seq("band", "bh")),
        col("doc_id"), col("sig"), col("ts"))
      .as[BandIn]
    bandRows
      .groupByKey(r => (r.band, r.bh))
      .flatMapGroupsWithState[BandBucket, CandidateOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: (Int, Long), incoming: Iterator[BandIn], state: GroupState[BandBucket]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val prior = state.getOption
            var members = prior.map(_.members).getOrElse(Nil)
            var seen = members.iterator.map(_.doc_id).toSet
            var maxTs = prior.map(_.maxTsMs).getOrElse(Long.MinValue)
            val out = List.newBuilder[CandidateOut]
            incoming.foreach { e =>
              if (e.ts != null) maxTs = math.max(maxTs, e.ts.getTime)
              if (!seen.contains(e.doc_id)) {
                members.foreach { m =>
                  var matches = 0
                  var i = 0
                  while (i < numHashes) {
                    if (m.sig(i) == e.sig(i)) matches += 1
                    i += 1
                  }
                  if (matches >= minMatches) {
                    val (a, b) =
                      if (e.doc_id < m.doc_id) (e.doc_id, m.doc_id)
                      else (m.doc_id, e.doc_id)
                    out += CandidateOut(a, b, matches.toDouble / numHashes, e.ts)
                  }
                }
                if (members.lengthCompare(maxBucket) < 0) {
                  members = BandMember(e.doc_id, e.sig) :: members
                  seen += e.doc_id
                }
              }
            }
            state.update(BandBucket(members, maxTs))
            val expiryBase =
              if (maxTs != Long.MinValue) maxTs else state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(
              math.max(expiryBase + math.max(ttlMs, 1L),
                state.getCurrentWatermarkMs() + 1))
            out.result().iterator
          }
      }
      .toDF()
  }
}
