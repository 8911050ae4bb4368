package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming surface (SURVEY.md §2.10).
  *
  * The reference itself is a periodic batch job ("periodically changing
  * GTFS feed", /root/reference/README.md:3) — its streaming analog is a
  * feed-drop directory consumed as `Trigger.AvailableNow` file-source
  * batches (each batch = one full snapshot import, no late data
  * concept). Beyond that parity point, this module provides the
  * standard streaming operators a consumer service needs over live
  * event data: watermarked windowed aggregation and custom
  * sessionization state via flatMapGroupsWithState.
  *
  * Scale: all state is keyed (user/window), bounded by the watermark;
  * file-source batches use the same schema'd readers as batch (S3).
  *
  * Callers: only [[lmScoreStream]] (and the [[lmScoreStreamJoin]] path
  * it delegates to) serves a suite query, `stream_lm_score`. Every other
  * operator here is reached only by StreamsSpec, StreamBatchEquivSpec
  * and MinhashBandKeysSpec.
  */
object Streams {

  /** Feed-drop stream: CSV snapshots of one GTFS entity landing in a
    * directory, read incrementally with the declared schema. Pair with
    * `Trigger.AvailableNow` so each run drains what's present and stops
    * — exactly the reference's re-import cadence. */
  def entityDropStream(spark: SparkSession, dropDir: String, entity: String): DataFrame =
    spark.readStream
      .option("header", "true")
      .schema(graft.gtfs.Schemas.all(entity))
      .csv(dropDir)

  /** Watermarked tumbling-window event counts: the streaming analog of
    * V6's per-hour stats. Late rows beyond the watermark are dropped —
    * state is bounded to (watermark horizon / window) entries per key. */
  def eventCountsByWindow(events: DataFrame, windowLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(38,6)")).cast("double").as("value_sum"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n_events"), col("value_sum"))

  final case class Event(userId: Long, ts: java.sql.Timestamp, eventType: String)
  final case class SessionState(start: Long, lastSeen: Long, nEvents: Int)
  final case class Session(userId: Long, startEpoch: Long, endEpoch: Long,
      nEvents: Int, durationSecs: Long)

  /** Custom session windows via flatMapGroupsWithState: a session
    * closes after `gapSecs` of inactivity — in-batch when a later event
    * shows the gap, or via the state timeout for idle keys (pass
    * `GroupStateTimeout.NoTimeout` for fully deterministic tests).
    * State per user is one SessionState — O(active users), not O(events). */
  def sessionize(events: Dataset[Event], gapSecs: Long = 1800,
      timeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout())
      : Dataset[Session] = {
    import events.sparkSession.implicits._
    val useTimers = timeout != GroupStateTimeout.NoTimeout
    events.groupByKey(_.userId)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), timeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(userId, s.start, s.lastSeen, s.nEvents,
              s.lastSeen - s.start))
          } else {
            val sorted = rows.map(_.ts.getTime / 1000).toSeq.sorted
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { t =>
              cur match {
                case Some(s) if t - s.lastSeen <= gapSecs =>
                  cur = Some(s.copy(lastSeen = t, nEvents = s.nEvents + 1))
                case Some(s) =>
                  closed ::= Session(userId, s.start, s.lastSeen, s.nEvents,
                    s.lastSeen - s.start)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              if (useTimers) state.setTimeoutDuration(gapSecs * 1000)
            }
            closed.reverseIterator
          }
      }
  }

  /** Streaming exact dedup — the ingest-time flavor of
    * `llm_dedup_exact`: keep the first document per content digest seen
    * within the watermark horizon. `dropDuplicatesWithinWatermark`
    * bounds the dedup state to O(docs per horizon) — digests older than
    * the watermark are evicted — so state never grows with the corpus;
    * the batch full-history dedup remains the periodic compaction pass,
    * this filter keeps the hot path clean between compactions. Expects
    * (ts TIMESTAMP, text STRING, …) rows; passes all columns through. */
  def dedupDocStream(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("text_digest", substring(sha2(col("text"), 256), 1, 12))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("text_digest")

  final case class CapDoc(docId: Long, source: String, hash64: Long)
  final case class CapAdmit(docId: Long, source: String, rk: Long)

  /** Streaming per-source admission cap — the ingest-time flavor of
    * batch `llm_domain_cap`: admit a document iff its source has
    * admitted fewer than `cap` so far. State is ONE counter per source
    * (O(sources), never O(docs)); admission rides the grouped map — no
    * window, no re-rank. Within a micro-batch, rows process in the
    * batch's canonical (content-hash, doc_id) order — the batch op's
    * exact ranking — so a whole corpus replayed as one batch reproduces
    * `llm_domain_cap` row-for-row, and hash-ordered arrival reproduces
    * it across micro-batches (StreamBatchEquivSpec asserts both).
    * Across arbitrary arrival orders the stream keeps FIRST ARRIVALS —
    * it cannot see future better-ranked docs; the batch op remains the
    * periodic re-rank pass, the same split-of-duties contract as
    * dedupDocStream vs llm_dedup_exact. `rk` is the per-source
    * admission ordinal (= the batch op's rank when orders coincide). */
  def domainCapStream(docs: DataFrame, cap: Int = 10): Dataset[CapAdmit] = {
    import docs.sparkSession.implicits._
    docs
      .select(col("doc_id").cast("long").as("docId"), col("source"),
        conv(substring(sha2(col("text"), 256), 1, 8), 16, 10)
          .cast("long").as("hash64"))
      .as[CapDoc]
      .groupByKey(_.source)
      .flatMapGroupsWithState[Int, CapAdmit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[CapDoc], state: GroupState[Int]) =>
          var n = state.getOption.getOrElse(0)
          val admitted = List.newBuilder[CapAdmit]
          // per-batch group size is bounded by the micro-batch, not the
          // corpus; the sort gives the canonical in-batch order
          rows.toSeq.sortBy(r => (r.hash64, r.docId)).foreach { r =>
            if (n < cap) { n += 1; admitted += CapAdmit(r.docId, r.source, n.toLong) }
          }
          state.update(n)
          admitted.result().iterator
      }
  }

  /** Streaming boilerplate scoring — the ingest-time flavor of batch
    * `llm_boilerplate`. The corpus-global document-frequency pass
    * cannot stream (df needs the whole corpus), so production splits
    * the operator the same way decontamination splits from benchmark
    * curation: a periodic batch pass publishes the frequent-bigram set
    * ([[graft.queries.LlmOps.frequentBigrams]] — bounded
    * corpus-independently by the relative threshold, hence always
    * broadcastable), and the stream scores each arriving document
    * against it STATELESSLY: the static set collapses to a one-row
    * array broadcast-joined on a constant key, and the per-doc counts
    * are higher-order functions over that array — no streaming
    * aggregation, no state store, no shuffle; scoring rides the ingest
    * map task. Same thresholds and output columns as the batch op
    * (doc_id, n_sh, n_boiler, flagged), so scoring a static drop-dir
    * under `Trigger.AvailableNow` with the batch-built set equals the
    * batch answer row-for-row (StreamBatchEquivSpec). */
  def boilerplateScoreStream(docs: DataFrame, frequent: DataFrame): DataFrame = {
    val freq = broadcast(
      frequent.agg(collect_set(col("sh")).as("freq_set"))
        .withColumn("jk", lit(1)))
    docs
      .withColumn("toks", split(col("text"), " "))
      .where(size(col("toks")) >= 2)
      .withColumn("jk", lit(1))
      // stream-static equi join on a constant key: BroadcastHashJoin of
      // the 1-row set, re-planned (and re-read) per micro-batch — which
      // is also the refresh path when the batch pass republishes
      .join(freq, Seq("jk"))
      .withColumn("bigrams", expr("transform(sequence(1, size(toks) - 1), " +
        "i -> concat(toks[i-1], ' ', toks[i]))"))
      .select(col("doc_id"),
        size(col("bigrams")).cast("long").as("n_sh"),
        size(expr("filter(bigrams, b -> array_contains(freq_set, b))"))
          .cast("long").as("n_boiler"))
      .withColumn("flagged",
        when(col("n_boiler") * 10 >= col("n_sh") * 9, 1L).otherwise(0L))
  }

  /** Streaming bigram-LM quality scoring — the ingest-time flavor of
    * batch `llm_lm_score`, split the same way as
    * [[boilerplateScoreStream]]: the LM itself (bigram counts c2,
    * context totals c1, vocab size V) cannot stream — it is the model a
    * periodic batch pass publishes — and the stream scores each
    * arriving document against it STATELESSLY. Both count tables
    * collapse to one-row MAP columns broadcast-joined on a constant
    * key; per-doc scoring is a higher-order transform over the
    * document's bigrams with element_at lookups — no streaming
    * aggregation, no state store, no shuffle. OOV bigrams fall back to
    * the add-one floor ((0+1)·1e6 // (0+V)), so scoring a corpus with
    * its OWN published counts reproduces batch llm_lm_score
    * row-for-row (StreamBatchEquivSpec) while unseen ingest text still
    * scores sensibly. MODEL-SIZE CLIFF (measured r10, r16): Spark map
    * lookups are O(|map|) linear scans per element (GetMapValue has no
    * hash index), so per-row scoring costs instances × |model|
    * comparisons — 8.5 s for a 2.5k-bigram model × 500k instances at
    * sf0.1 where the join-shaped batch plan takes 0.9 s, and 68.4 s at
    * sf1 (39× the wall for 10× the data: the corpus-built model grows
    * with the corpus, making the map form SUPERLINEAR end-to-end —
    * r16 VERDICT "What's wrong" #1). The map form is only right for
    * the deployment shape it was written for: a trickle of arriving
    * docs against a SMALL curated model. This entry point is therefore
    * SIZE-GATED (r17): when the model exceeds `maxMapModel` bigram
    * entries (one cheap count on the static model table at plan-build
    * time — the model is a published batch artifact, not a stream),
    * scoring is delegated to [[lmScoreStreamJoin]], whose per-instance
    * cost is an O(1) hash probe and whose state is horizon-bounded.
    * Both paths produce row-identical scores (StreamBatchEquivSpec);
    * LmScoreStreamGateSpec pins the plan shape on each side of the
    * gate (no one-row map join above the threshold). The join path
    * needs an event-time column for its watermarked re-aggregation:
    * streaming callers must provide `ts`; a batch caller without one
    * (replaying the stream's plan over a static slice) gets a constant
    * — the watermark node is eliminated on batch plans anyway.
    *
    * PRECONDITIONS (r17 ADVICE): (1) `doc_id` must be unique per
    * arriving row (within a `ts` for streams) — the map path emits one
    * row per input row while the join path groups by (ts, doc_id), so
    * duplicate ids would merge on the join side only and the gate
    * would stop being a pure plan switch. Document ids are unique in
    * every producing pipeline here; callers scoring non-keyed text
    * must mint a per-row id first. (2) The gate reads `c2.count()` at
    * plan-build time on EVERY call — pass a persisted/cached model
    * table (llm_lm_score's published `lmModel` is), or an un-persisted
    * corpus-derived `c2` pays one full extra bigram-pipeline pass just
    * to pick the plan. */
  def lmScoreStream(docs: DataFrame, c2: DataFrame, c1: DataFrame,
      v: Long, maxMapModel: Long = 2048L,
      watermark: String = "1 hour"): DataFrame = {
    if (c2.count() > maxMapModel) {
      val withTs =
        if (docs.columns.contains("ts")) docs
        else {
          require(!docs.isStreaming,
            "lmScoreStream over the big-model join path needs an event-time " +
              "column `ts` on a streaming source (watermarked re-aggregation)")
          docs.withColumn("ts", to_timestamp(lit("2026-01-01 00:00:00")))
        }
      return lmScoreStreamJoin(withTs, c2, c1, v, watermark)
    }
    val m2 = broadcast(c2.agg(map_from_entries(collect_list(struct(
        concat_ws(" ", col("w1"), col("w2")), col("c2")))).as("m2"))
      .withColumn("jk", lit(1)))
    val m1 = broadcast(c1.agg(map_from_entries(collect_list(struct(
        col("w1"), col("c1")))).as("m1"))
      .withColumn("jk", lit(1)))
    docs
      .withColumn("toks", split(col("text"), " "))
      .where(size(col("toks")) >= 2)
      .withColumn("jk", lit(1))
      .join(m2, Seq("jk"))
      .join(m1, Seq("jk"))
      .withColumn("probs", expr(
        "transform(sequence(1, size(toks) - 1), i -> " +
          "(coalesce(element_at(m2, concat(toks[i-1], ' ', toks[i])), 0L) + 1)" +
          s" * 1000000 div (coalesce(element_at(m1, toks[i-1]), 0L) + $v))"))
      .select(col("doc_id"),
        size(col("probs")).cast("long").as("n_bigrams"),
        expr("aggregate(probs, 0L, (a, x) -> a + x) div size(probs)")
          .as("avg_prob_ppm"))
  }

  /** The BIG-MODEL / replay-scale path [[lmScoreStream]]'s scaladoc
    * promises: score arrivals via stream-static EQUI JOINS on the
    * bigram key instead of broadcast map lookups. Same integer
    * arithmetic (add-one floor, ppm div) ⇒ identical scores
    * (StreamBatchEquivSpec asserts equality against batch
    * llm_lm_score through this path too), but per-instance cost is
    * O(1) hash-probe instead of O(|model|) map scan — the map form's
    * measured cliff (8.5 s at a 2.5k-bigram model × 500k instances)
    * does not exist here, so this is the path for replaying a corpus
    * or for models beyond a few thousand entries.
    *
    * Shape: explode each arriving doc into bigram instances, left-join
    * c2 (w1,w2) then c1 (w1) — both static, re-read per micro-batch,
    * broadcast by AQE while the model fits and hash-shuffled equi
    * joins beyond that — then a WATERMARKED streaming aggregation
    * groups instances back to one row per doc. Grouping on (ts,
    * doc_id) with ts the watermark column keeps Append-mode legal and
    * bounds state to O(docs in flight per horizon) one-row sums —
    * never O(corpus), never O(model). */
  def lmScoreStreamJoin(docs: DataFrame, c2: DataFrame, c1: DataFrame,
      v: Long, watermark: String = "1 hour"): DataFrame =
    docs
      .withWatermark("ts", watermark)
      .withColumn("toks", split(col("text"), " "))
      .where(size(col("toks")) >= 2)
      .select(col("ts"), col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 1), " +
          "i -> struct(toks[i-1] AS w1, toks[i] AS w2))")).as("bg"))
      .select(col("ts"), col("doc_id"), col("bg.w1"), col("bg.w2"))
      .join(c2, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .withColumn("prob", expr(
        s"(coalesce(c2, 0L) + 1) * 1000000 div (coalesce(c1, 0L) + $v)"))
      .groupBy(col("ts"), col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        expr("sum(prob) div count(1)").as("avg_prob_ppm"))
      .select("doc_id", "n_bigrams", "avg_prob_ppm")

  final case class BandRow(docId: Long, ts: java.sql.Timestamp,
      band: Int, bucket: Long)
  final case class BucketAnchor(anchorId: Long)
  final case class NearDupCandidate(docId: Long, anchorId: Long, band: Int)

  /** The banded (doc_id, ts, band, bucket) projection the LSH candidate
    * stream runs on, public so a batch replay can derive the exact
    * expected anchor-star pairs on the identical band keys.
    *
    * The banding is ONE fused codegen'd pass per document
    * ([[graft.functions.MinhashBandKeysExpr]]): each shingle's bytes →
    * one sha256 → running 32-bit-chunk minima → xxhash64 band keys,
    * bit-identical to the composable higher-order-function form it
    * replaced (MinhashBandKeysSpec keeps that form as its reference).
    * The composable form's 8 interpreted `transform` lambdas — each
    * rebuilding every shingle string AND re-digesting it, no
    * cross-lambda subexpression elimination — were ~85% of the r15 sf10
    * streaming LSH replay's wall, previously mis-attributed to the
    * stateful operator. */
  def bandedDocs(docs: DataFrame, nBands: Int = 4, rowsPerBand: Int = 2,
      shingleLen: Int = 3): DataFrame = {
    require(nBands * rowsPerBand <= 8,
      "one sha256 yields 8 independent 32-bit minhash slices")
    graft.functions.MinhashBandKeys.register(docs.sparkSession)
    val keys = expr(
      s"minhash_band_keys(split(text, ' '), $shingleLen, $nBands, $rowsPerBand)")
    // NULL-text docs are filtered in BOTH formulations (r16 ADVICE):
    // without the filter the fused form dropped them at posexplode
    // (NULL keys) while the composable form banded them all into the
    // same xxhash64(band)-of-nothing buckets — the documented
    // bit-identity now holds by construction on any corpus
    docs.where(col("text").isNotNull)
      .select(col("doc_id"), col("ts"),
        posexplode(keys).as(Seq("band", "bucket")))
  }

  /** Streaming MinHash-LSH near-dup candidates — the ingest-time flavor
    * of the batch `llm_minhash_lsh` operator: each arriving document is
    * shingled and minhashed PER ROW (higher-order functions, no
    * streaming aggregation — the one stateful operator below is the
    * bucket store), its `nBands` band keys are exploded, and a
    * flatMapGroupsWithState keyed by (band, bucket) emits a candidate
    * pair against the bucket's ANCHOR (first document seen in that
    * bucket). Docs colliding with the same anchor in several bands emit
    * one pair per band — downstream exact re-rank (the batch Jaccard
    * pass) dedups pairs, same as the batch pipeline's DISTINCT.
    *
    * State bound: ONE (anchorId) entry per occupied bucket within the
    * event-time horizon — O(distinct band buckets per horizon), never
    * O(corpus); with EventTimeTimeout each bucket entry is evicted
    * `horizonSecs` after its last event (pass NoTimeout for fully
    * deterministic tests, as with [[sessionize]]).
    *
    * Minhash parity with the batch op: 8 independent 32-bit minhash
    * slices from ONE sha256 per shingle, nBands×rowsPerBand ≤ 8,
    * computed by [[bandedDocs]]. */
  def nearDupCandidateStream(docs: DataFrame, nBands: Int = 4,
      rowsPerBand: Int = 2, shingleLen: Int = 3, horizonSecs: Long = 3600,
      timeout: GroupStateTimeout = GroupStateTimeout.EventTimeTimeout)
      : Dataset[NearDupCandidate] = {
    require(nBands * rowsPerBand <= 8,
      "one sha256 yields 8 independent 32-bit minhash slices")
    // eviction is keyed to the event-time watermark (setTimeoutTimestamp
    // below); ProcessingTimeTimeout would throw at runtime on that call,
    // so reject any mode we can't honor up front
    require(timeout == GroupStateTimeout.EventTimeTimeout ||
        timeout == GroupStateTimeout.NoTimeout,
      s"nearDupCandidateStream evicts on event time: pass EventTimeTimeout or NoTimeout, not $timeout")
    import docs.sparkSession.implicits._
    val useTimers = timeout != GroupStateTimeout.NoTimeout
    // the event-time column travels as the ORIGINAL watermark-tagged
    // attribute: EventTimeTimeout requires a tagged column in the
    // stateful operator's child output, and its late-row filter reads
    // it (a unix_micros projection strips the tag — the analyzer
    // rejects the query)
    bandedDocs(docs, nBands, rowsPerBand, shingleLen)
      .withWatermark("ts", s"$horizonSecs seconds")
      .select(col("doc_id").as("docId"), col("ts"), col("band"), col("bucket"))
      .as[BandRow]
      .groupByKey(r => (r.band, r.bucket))
      .flatMapGroupsWithState[BucketAnchor, NearDupCandidate](
        OutputMode.Append(), timeout) {
        (key: (Int, Long), rows: Iterator[BandRow],
            state: GroupState[BucketAnchor]) =>
          lazy val rs = rows.toArray
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          // not reachable in current Spark (a non-timeout invocation
          // always carries rows), but unguarded the fold below would
          // anchor the bucket at Long.MaxValue and set a timeout from
          // Long.MinValue — keep the no-op behavior (r16 ADVICE)
          else if (rs.isEmpty) Iterator.empty
          else {
            // anchor = stored anchor, else first arrival by (ts, docId);
            // every row for a different doc pairs against it (rows FOR
            // the anchor doc emit nothing) — same emission set as the
            // sorted fold this replaced, without the per-group sort
            var minTs = Long.MaxValue; var minDoc = Long.MaxValue
            var maxTs = Long.MinValue
            var i = 0
            while (i < rs.length) {
              val r = rs(i); val t = r.ts.getTime
              if (t < minTs || (t == minTs && r.docId < minDoc)) {
                minTs = t; minDoc = r.docId
              }
              if (t > maxTs) maxTs = t
              i += 1
            }
            val a = state.getOption.map(_.anchorId).getOrElse(minDoc)
            state.update(BucketAnchor(a))
            // timeout must be strictly past the current watermark —
            // clamp for very late (but not yet dropped) events
            if (useTimers) state.setTimeoutTimestamp(
              math.max(maxTs, state.getCurrentWatermarkMs()) +
                horizonSecs * 1000)
            rs.iterator.collect {
              case r if r.docId != a => NearDupCandidate(r.docId, a, key._1)
            }
          }
      }
  }

  /** Watermarked stream-stream interval join: each click joined to the
    * same user's view events within the trailing `horizonSecs` window —
    * the streaming face of the batch as-of/range join surface
    * ([[graft.ops.AsOf]], q7/q8). The time-bound join condition is what
    * makes this run with BOUNDED state: Spark derives each side's
    * state-eviction horizon from the watermark + the interval, so a
    * view row is dropped once no future click can reach back to it.
    * An equality-only stream-stream join would keep both sides
    * forever. State is keyed (user, time-range) — scale = active users
    * within the horizon, independent of stream length. */
  def clickViewJoinStream(clicks: DataFrame, views: DataFrame,
      horizonSecs: Long = 3600, watermark: String = "1 hour"): DataFrame = {
    val c = clicks
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("cts"))
      .withWatermark("cts", watermark)
    val v = views
      .select(col("event_id").as("view_id"), col("user_id").as("view_user"),
        col("ts").as("vts"))
      .withWatermark("vts", watermark)
    c.join(v,
        col("user_id") === col("view_user") &&
          col("vts") <= col("cts") &&
          col("vts") >= col("cts") - expr(s"INTERVAL $horizonSecs SECONDS"))
      .select(col("click_id"), col("user_id"), col("view_id"),
        unix_micros(col("cts")).as("click_us"),
        unix_micros(col("vts")).as("view_us"))
  }

  final case class Change(key: Long, changeId: Long, ts: java.sql.Timestamp,
      value: Double)
  final case class Latest(key: Long, uts: Long, changeId: Long, value: Double)

  /** Streaming last-writer-wins upsert state: maintains the CURRENT row
    * per key as changes arrive — the streaming face of the batch CDC
    * merge (q13_cdc_merge's change-dedup leg). Ordering rule is
    * (event time, changeId) exactly like the batch window sort, so a
    * replay of the same rows converges to the same state regardless of
    * arrival order or micro-batch boundaries. Emits the winning row per
    * key per micro-batch (Update mode); state is ONE row per key —
    * O(live keys), never O(changes). Downstream, foreachBatch can apply
    * each emission to a keyed snapshot with the q13 merge shape. */
  def latestStateStream(changes: Dataset[Change]): Dataset[Latest] = {
    import changes.sparkSession.implicits._
    changes.groupByKey(_.key)
      .mapGroupsWithState[Latest, Latest](GroupStateTimeout.NoTimeout) {
        (key, it, state) =>
          val incoming = it.map(c => Latest(key, c.ts.getTime * 1000 +
            (c.ts.getNanos / 1000) % 1000, c.changeId, c.value))
          val best = (state.getOption.iterator ++ incoming)
            .maxBy(l => (l.uts, l.changeId))
          state.update(best)
          best
      }
  }

  /** Drain a feed-drop directory once (AvailableNow) into a parquet
    * target — the streaming flavor of the S2→S3→K1 path. Returns after
    * the drain completes. */
  def drainDropToParquet(spark: SparkSession, dropDir: String, entity: String,
      outDir: String, checkpointDir: String): Unit = {
    val q = entityDropStream(spark, dropDir, entity)
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
