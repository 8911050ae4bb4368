package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.Column
import graft.Tables

/** Large-scale training-data pipeline operators (builder brief; VERDICT
  * round-1 item 5): deduplication (exact, MinHash-LSH, SimHash, n-gram
  * Jaccard, embedding-cosine), similarity search (brute-force + IVF
  * cell-bucketed ANN), text analysis (lang-ID, quality, token counting,
  * fingerprinting) and nested/JSON columns. Multimodal binary plumbing is
  * in `graft.functions.Multimodal` (tested in scalatest; the decode step
  * is stubbed per the brief — no image libs in this container).
  *
  * Scale design (100 TB):
  *  - NO all-pairs anywhere: MinHash-LSH joins on (band_id, band_key)
  *    buckets; Jaccard runs only on blocked candidates; ANN-IVF joins on
  *    the coarse-quantizer cell; the only cross join is against a
  *    broadcast of ≤20 query vectors (bounded, not data-scale).
  *  - hashing is sha2 (codegen'd Catalyst expression), no UDFs;
  *  - dot products are exact scaled-integer arithmetic via the native
  *    codegen'd `dot_scaled` expression — order-independent,
  *    engine-portable, one fused loop inside WholeStageCodegen;
  *  - per-doc state is bounded (shingle arrays ~doc length; band keys 2
  *    hashes) — nothing collects a data-scale group.
  */
object LlmOps {

  /** Exact scaled-integer dot product of two float-array columns:
    * Σ floor(a[i]*1e6+0.5)*floor(b[i]*1e6+0.5) — deterministic in both
    * engines (no round-half ties). Uses the native codegen'd
    * [[graft.functions.DotScaledExpr]] (one fused loop, no per-pair
    * allocations); the equivalent `aggregate(zip_with(...))`
    * formulation is a higher-order function that falls back to
    * interpreted lambdas and dominated BENCH on the pair stages. The
    * session registration is idempotent. */
  private def dotScaled(s: org.apache.spark.sql.SparkSession, a: String, b: String): Column = {
    graft.functions.DotScaled.register(s)
    expr(s"dot_scaled($a, $b)")
  }

  private val DOT =
    """list_sum([CAST(floor(CAST(%s[i] AS DOUBLE)*1000000 + 0.5) AS BIGINT)
      |          * CAST(floor(CAST(%s[i] AS DOUBLE)*1000000 + 0.5) AS BIGINT)
      |          FOR i IN range(1, len(%s) + 1)])""".stripMargin

  private[queries] def dotSql(a: String, b: String): String = DOT.format(a, b, a)

  /** 3-token shingles of a lowercase space-separated text column
    * (shared with the winnowing op — see [[graft.ops.Winnow]]). */
  private def shingles(tokens: Column): Column =
    graft.ops.Winnow.shingles(tokens)

  /** Per-document DISTINCT bigram rows (doc_id, sh, cnt) of a
    * `documents`-shaped frame — cnt = in-doc occurrence count, so
    * Σcnt per doc is the instance count; docs with <2 tokens drop (no
    * bigram exists). Shared by the batch `llm_boilerplate` /
    * `llm_vocab_growth` operators and the frequent-set build the
    * streaming scorer consumes. */
  def bigramEntries(documents: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    graft.functions.NgramCounts.register(documents.sparkSession)
    // Fused r18 (r17 VERDICT "Next" #2): one codegen'd pass builds each
    // document's bigram→count table (functions/NgramCounts — concat
    // semantics, byte-exact shingles, Σcnt = instance count, pinned by
    // NgramCountsSpec against the explode it replaces), and `inline`
    // emits one row per DISTINCT per-doc bigram with its count —
    // strictly fewer rows than instances, with the per-doc fold already
    // done, so every consumer aggregates doc-distinct (sh, cnt) pairs
    // and the corpus is never re-rendered as shingle instance rows.
    // A NULL ngram_counts result (doc under 2 tokens) explodes to zero
    // rows — the old `size(toks) >= 2` filter, structurally. fanout:
    // the fused pass runs pre-exchange, so single-split test inputs
    // would serialize it on one task (r17 ADVICE); identity at
    // production split counts.
    fanout(documents, col("doc_id")).select(col("doc_id"),
      expr("inline(ngram_counts(split(text, ' '), 2))"))
  }

  /** The corpus-frequent bigram set behind `llm_boilerplate` (one `sh`
    * column): document frequency ≥ 5% of all documents. The RELATIVE
    * threshold bounds the set corpus-independently — at most
    * total_instances/(0.05·n_docs) ≈ 20·avg_doc_len bigrams can clear
    * it — which is what makes it broadcastable at any corpus size, and
    * exactly the artifact a periodic batch pass publishes for the
    * streaming scorer ([[graft.streaming.Streams.boilerplateScoreStream]])
    * to score against. */
  def frequentBigrams(documents: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // df: bigramEntries rows are doc-distinct by construction (one row
    // per distinct per-doc bigram), so document frequency is a plain
    // count — no count_distinct two-phase expansion, and the only
    // corpus-scale exchange ships doc-distinct (sh) rows.
    val df = bigramEntries(documents).groupBy("sh")
      .agg(count(lit(1)).as("df"))
    val total = documents.agg(count(lit(1)).as("n_docs"))
    df.crossJoin(broadcast(total))
      .where(col("df") * 20 >= col("n_docs"))
      .select(col("sh"))
  }

  /** The sketch side of `llm_approx_stats` — HLL++ cardinalities and
    * approx length quantiles per lang — extracted so the 100 TB path
    * (run the sketches ALONE; exact companions don't exist there) and
    * the spec (ApproxStatsSpec: error bounds + repartition
    * invariance) share the plan the audit query flags against.
    * Token-level HLL from the exploded INSTANCE stream — the shape a
    * sketch-only consumer runs when the exact dedup is unaffordable
    * (doc_id HLL alongside demonstrates the estimator under heavy
    * per-key duplication); quantiles from DOC-level rows
    * ([[approxLengthQuantiles]], shared with the audit query) so they
    * estimate the same statistic as llm_length_percentiles' exact
    * answer. The audit query (`llm_approx_stats`) rides its HLLs on
    * its exact aggregations instead — HLL estimates are SET-defined,
    * so both formulations return identical values; ApproxStatsSpec
    * pins that identity. */
  private[graft] def approxStatsEstimates(
      s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val docs0 = Tables.documents(s, d)
    // fanout the DOC rows and explode above the exchange (r19, the
    // lmBigrams ship-raw-text pattern): the exchange carries one text
    // per doc instead of one row per token instance, and the
    // tokenize+explode runs at the fanout width, not the scan's split
    // count. HLL inserts are set-idempotent, so estimates are
    // unchanged by where the explode runs.
    val tokenCards = fanout(docs0.select("doc_id", "lang", "text"), col("doc_id"))
      .select(col("lang"), col("doc_id"),
        explode(split(col("text"), " ")).as("token"))
      .groupBy("lang").agg(
        approx_count_distinct(col("token"), rsd = 0.02)
          .as("distinct_tokens"),
        approx_count_distinct(col("doc_id"), rsd = 0.02).as("n_docs_est"))
    // both sides are |languages| rows — the join is trivially local
    tokenCards.join(approxLengthQuantiles(s, d)
      .withColumnRenamed("p50_est", "p50_tokens_est")
      .withColumnRenamed("p90_est", "p90_tokens_est"), Seq("lang"))
  }

  /** Approx per-lang doc-length quantiles (QuantileSummaries at
    * accuracy 10000) — one partial-aggregating pass over doc rows, no
    * shuffle beyond the |languages|-row merge. Shared by
    * [[approxStatsEstimates]] and the `llm_approx_stats` audit; the
    * audit passes its already-persisted (lang, n_tok) projection so
    * the tokenize pass runs once for both quantile sides. */
  private[graft] def approxLengthQuantiles(
      s: org.apache.spark.sql.SparkSession, d: String,
      lens: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame =
    lens.getOrElse(Tables.documents(s, d)
        .select(col("lang"), size(split(col("text"), " ")).as("n_tok")))
      .groupBy("lang").agg(
        percentile_approx(col("n_tok"), lit(0.5), lit(10000)).as("p50_est"),
        percentile_approx(col("n_tok"), lit(0.9), lit(10000)).as("p90_est"))

  private val shingleSql = // per-doc shingle rows; expects `toks` list col
    """SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
      |FROM docs, unnest(generate_series(1, len(toks) - 2)) AS t(i)
      |WHERE len(toks) >= 3""".stripMargin

  /** MinHash-LSH candidate pairs over a (doc_id, toks) input: 8
    * minhashes in ONE aggregation (map-side partial min — the
    * seed-explode formulation shuffled 8× the rows), 4 bands × 2 rows,
    * within-bucket pair expansion. Never all-pairs: the within-bucket
    * pair count is bounded by the band collision probability, not the
    * corpus size. Shared by `llm_minhash_lsh` and the Jaccard re-rank
    * (`llm_ngram_jaccard`), whose candidates must come from here — a
    * (lang, length-bucket) block key grows linearly with the corpus and
    * its pair space quadratically (round-2 VERDICT "What's wrong" #6).
    *
    * Physical-plan choices (found via `.explain` on the round-2 shape):
    *  - minhash values are NUMERIC (hex chunk → BIGINT via conv):
    *    min(long) aggregates in HashAggregate, where min(string) fell
    *    back to SortAggregate — two full sorts of the shingle rows.
    *    Fixed-width lowercase hex sorts identically to its numeric
    *    value, so the minima are unchanged.
    *  - the 8 values are the 8 disjoint 8-hex-char chunks of ONE sha256
    *    per shingle (subexpression elimination shares the sha2 across
    *    the 8 aggregates); chunks of a cryptographic hash are
    *    independent, which is all minhash needs.
    *  - candidate pairs come from a bucket self-join on the numeric
    *    (band_id, k1, k2) key: the band table is tiny (4 rows per doc),
    *    so Spark broadcasts one side — no shuffle at all for the join.
    *    (A collect_set-per-bucket + in-row pair expansion variant was
    *    measured SLOWER here: it trades the cheap broadcast join for an
    *    extra hash shuffle plus interpreted array lambdas.) */
  /** Per-doc MinHash signatures (doc_id, h0..h7): 8 minima in ONE
    * codegen'd hash aggregation — the sha256 evaluates in the partial
    * aggregate above the fanout exchange, shared across the 8 chunk
    * minima by subexpression elimination. The groupBy(doc_id) exchange
    * doubles as the dedup point: the band self-join's two sides reuse
    * it (ReusedExchange), so the scan+shingle+sha pipeline runs once.
    *
    * (Two measured alternatives, both slower: a
    * hash-distinct-shingles-once-and-join-back variant — shingles
    * repeat ~10× across docs — at 5.6+ s vs 2.6 s (two string-keyed
    * shuffles of the full shingle stream cost more than the saved
    * sha256 work); a no-aggregation higher-order-function variant
    * (array_min over transform'd chunks of a per-shingle sha array,
    * repartition(doc_id) as the dedup barrier) at 2.0 s steady vs
    * 1.0 s — interpreted HOF lambdas plus 9 intermediate arrays per
    * row lose to the codegen'd aggregate even though the plan has one
    * fewer pass.) */
  private def minhashSigs(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    graft.functions.Sha256Chunks.register(docs.sparkSession)
    // ONE digest per shingle via the native sha256_chunks (bit-identical
    // to the conv(substring(sha2...)) formulation and to the DuckDB
    // oracle's '0x'||substr parse — see the expression's scaladoc); the
    // digest evaluates in THIS projection, below the aggregation, so
    // the 8 minima read plain array elements (r10 probe: the 8×
    // hex-substring+conv path held the signature agg at ~1.0 s steady
    // at sf0.1, the chunked path runs it at ~0.5 s).
    // r18 OPT (guide §2.3): fan out the DOC rows, not the exploded
    // shingles — the exchange carries the token arrays (~30 MB at sf1)
    // instead of the rendered shingle strings (100 MB), and the render
    // + explode run at full width instead of on the scan's split count
    // (event-log profile: 4.2 s of llm_minhash_lsh's 5.5 s sat on 2
    // pre-exchange tasks). The fanout key includes `toks` DELIBERATELY:
    // hash(doc_id, toks) does not satisfy the groupBy(doc_id)
    // clustering, so the signature aggregation keeps its own (tiny,
    // 8-longs-per-doc) exchange — the dedup point the band self-join's
    // two sides reuse. A doc_id-only fanout would eliminate that
    // exchange and recompute the whole sha pipeline per side (measured
    // r17: 2.6 s → 6.3 s).
    val shing = fanout(docs, col("doc_id"), col("toks"))
      .select(col("doc_id"), explode(shingles(col("toks"))).as("sh"))
      .select(col("doc_id"), expr("sha256_chunks(sh)").as("ch"))
    val mhAggs = (0 until 8).map(j =>
      min(element_at(col("ch"), j + 1)).as(s"h$j"))
    shing.groupBy("doc_id").agg(mhAggs.head, mhAggs.tail: _*)
  }

  /** Banded LSH candidate pairs from [[minhashSigs]] output: 4 bands ×
    * 2 rows, bucket self-join on the numeric (band_id, k1, k2) key —
    * the band table is 4 rows per doc, so Spark broadcasts one side.
    * Never all-pairs: within-bucket pair count is bounded by the band
    * collision probability, not the corpus size. */
  private def bandPairs(sigs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val bands = sigs.select(col("doc_id"),
      explode(array((0 until 4).map(b => struct(
        lit(b).as("band_id"), col(s"h${2 * b}").as("k1"),
        col(s"h${2 * b + 1}").as("k2"))): _*)).as("bs"))
      .select(col("doc_id"), col("bs.band_id").as("band_id"),
        col("bs.k1").as("k1"), col("bs.k2").as("k2"))
    val a = bands.select(col("band_id"), col("k1"), col("k2"), col("doc_id").as("doc_a"))
    val b = bands.select(col("band_id"), col("k1"), col("k2"), col("doc_id").as("doc_b"))
    a.join(b, Seq("band_id", "k1", "k2"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  private def minhashCandidates(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    bandPairs(minhashSigs(docs))

  /** DuckDB CTE chain equivalent to [[minhashCandidates]] (self-join
    * formulation — same result set); expects a `docs(doc_id, toks)` CTE
    * in scope, defines `cand(doc_a, doc_b)`. */
  private val lshCandidateCtes = {
    val mhCols = (0 until 8).map(j =>
      s"min(CAST('0x' || substr(sha256(sh), ${1 + 8 * j}, 8) AS BIGINT)) AS h$j")
      .mkString(", ")
    val bandRows = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band_id, h${2 * b} AS k1, h${2 * b + 1} AS k2 FROM mh")
      .mkString(" UNION ALL ")
    s"""shing AS (
    |  $shingleSql
    |), mh AS (
    |  SELECT doc_id, $mhCols
    |  FROM shing GROUP BY doc_id
    |), bands AS (
    |  $bandRows
    |), cand AS (
    |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    |  FROM bands a JOIN bands b USING (band_id, k1, k2)
    |  WHERE a.doc_id < b.doc_id
    |)""".stripMargin
  }

  /** One ±1 hyperplane sign-bit SQL aggregate for plane `p` — the
    * DuckDB mirror of CosineLsh's plane signs. */
  private def planeBitSql(p: Int) = {
    // planes 0-63: hex char p+1 of sha256(i); 64-127: char p-63 of the
    // second digest sha256(i || '+') — ops.CosineLsh.planeSignExpr's twin
    val digest =
      if (p < 64) "sha256(CAST(i AS VARCHAR))"
      else "sha256(CAST(i AS VARCHAR) || '+')"
    s"(CASE WHEN sum(CASE WHEN substr($digest, ${p % 64 + 1}, 1) >= '8' " +
      s"THEN vi ELSE -vi END) > 0 THEN '1' ELSE '0' END)"
  }

  /** Scaled-int per-dimension rows CTE body, shared by every
    * plane-sign oracle here. */
  private val dimsSql =
    """SELECT vec_id, i,
      |         CAST(floor(CAST(embedding[i] AS DOUBLE)*1000000 + 0.5) AS BIGINT) AS vi
      |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)""".stripMargin

  /** The static plane range each LSH band owns (= `planeStride`): the
    * oracle always computes this many sign bits per band and
    * prefix-truncates to the corpus-derived width, so ONE static SQL
    * text replays the scaled assignment at every sf (r10 VERDICT #2).
    * 32 to match the raised derivedBits cap (r12 VERDICT #8): the
    * stride must be able to HOLD the widest derivable band, or the
    * oracle's prefix truncation runs out of static bits exactly when
    * the corpus crosses 2M rows. 2 bands × 32 planes = indices 0-63,
    * still within the first sha256 digest; the Spark side computes
    * only the DERIVED width's sign aggregates (≤16 per band at every
    * measured sf — unchanged keys, unchanged cost), the static oracle
    * text pays the full stride. */
  private val PlaneStride = 32

  /** DuckDB CTE chain equivalent to [[graft.ops.CosineLsh.candidates]]
    * over `embeddings` with the corpus-DERIVED band width
    * (bitsPerBand = derivedBits(count(*)), nBands = 2, planeStride =
    * 16): defines nb/dims/signs/bands and `cand(vec_a, vec_b)`. Shared
    * by `llm_cosine_lsh`, `llm_dedup_cluster` and
    * `llm_cluster_fixpoint`, whose Spark plans derive the identical
    * width from the identical count — the shipped query shape is the
    * scale-safe one, not a fixed-knob demo (r10 VERDICT #2). */
  private val cosineCandCtes: String = {
    val sums = (0 until 2 * PlaneStride)
      .map(p => s"${planeBitSql(p)} AS b$p").mkString(", ")
    val bandRows = (0 until 2).map(g =>
      s"SELECT vec_id, $g AS band_id, substr(" +
        (0 until PlaneStride).map(j => s"b${PlaneStride * g + j}").mkString(" || ") +
        ", 1, (SELECT bits FROM nb)) AS band_key FROM signs")
      .mkString(" UNION ALL ")
    s"""nb AS (
    |  SELECT ${graft.ops.CosineLsh.derivedBitsSql("count(*)")} AS bits
    |  FROM embeddings
    |), dims AS (
    |  $dimsSql
    |), signs AS (
    |  SELECT vec_id, $sums FROM dims GROUP BY vec_id
    |), bands AS (
    |  $bandRows
    |), cand AS (
    |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
    |  FROM bands a JOIN bands b USING (band_id, band_key)
    |  WHERE a.vec_id < b.vec_id
    |)""".stripMargin
  }

  /** The Spark twin of [[cosineCandCtes]]: count once, derive the band
    * width, build the banded self-join at that width. The count is one
    * O(1)-result aggregate job — the same count(*) the oracle's `nb`
    * CTE runs. */
  private def derivedCandidates(emb: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    graft.ops.CosineLsh.candidates(emb,
      bitsPerBand = graft.ops.CosineLsh.derivedBits(emb.count()),
      nBands = 2, planeStride = PlaneStride)

  /** documents ∪ a perturbed copy (first token dropped, doc_id+1000000):
    * guarantees the corpus contains true near-duplicates so the dedup
    * operators produce non-empty, checkable candidate sets. */
  private def corpus(s: org.apache.spark.sql.SparkSession, d: String) = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    // deliberately NO fanout here: the LSH self-join dedups the whole
    // signature pipeline via exchange reuse on the groupBy(doc_id)
    // exchange, and the sha256 partial aggregation below it must stay
    // below that exchange to be computed once. Fanout variants measured
    // at sf0.1 (r17): none 2.6 s, fanout(doc_id) 6.3 s (groupBy exchange
    // eliminated → signatures computed twice), fanout(doc_id, text)
    // 3.6 s (extra shuffle + AQE barrier beat the parallelism gain).
    // NOT contradicted by minhashSigs' r18 fanout(docs, doc_id, toks)
    // win: that spread is a DIFFERENT site — it keys (doc_id, toks) so
    // it deliberately does NOT satisfy the groupBy(doc_id) clustering,
    // preserving the exchange-reuse this comment protects, and the r18
    // event-log re-measurement (pinned width, render above the
    // exchange) is what flipped ITS verdict; the bare source-level
    // fanout measured here stays a loss for the reason given.
    docs.unionByName(docs.select(
      (col("doc_id") + 1000000).as("doc_id"),
      expr("substring(text, instr(text, ' ') + 1)").as("text")))
  }

  private val corpusSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + 1000000 AS doc_id, substr(text, strpos(text, ' ') + 1) AS text
      |FROM documents""".stripMargin

  // 16 SimHash bit aggregates, generated once for both engines.
  private val simhashBitsSql: String = (0 until 16).map { j =>
    s"CASE WHEN sum(CASE WHEN substr(h, ${j + 1}, 1) >= '8' THEN 1 ELSE -1 END) > 0 THEN '1' ELSE '0' END"
  }.mkString(" || ")

  // 60-bit integer SimHash (llm_simhash_pairs): one ±1 vote sum per bit
  // of the 60-bit token hash, recombined into a positive BIGINT.
  private val simhash60Sql: String = (0 until 60).map { j =>
    s"CASE WHEN sum(((hv >> $j) & 1)*2 - 1) > 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
  }.mkString(" + ")

  // 4 bands × 15 bits over `sig` for the banded Hamming join.
  private val simhash60BandsSql: String = (0 until 4).map { b =>
    s"SELECT doc_id, si, $b AS band, (si >> ${15 * b}) & 32767 AS chunk FROM sig"
  }.mkString(" UNION ALL ")

  // PII patterns (llm_pii_redact). Kept to the regex subset where Java
  // (Spark) and RE2 (DuckDB) agree: character classes, bounded repeats,
  // ASCII \b — no lookaround, no backrefs.
  private val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val ipPat = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private val phonePat = "\\b555-\\d{4}\\b"

  // The synthetic corpus carries no PII, so the redaction oracle would
  // be vacuous (q6 lesson: an oracle that can't fail proves nothing).
  // Both engines append the same deterministic doc_id-derived PII before
  // redacting; every doc then has >=1 match per category and the
  // redacted-text digest exercises all three replacements.
  private val piiTextSql =
    """text || ' contact user' || doc_id || '@example.com from 10.20.' ||
      |(doc_id % 256) || '.7 call 555-' || ((doc_id % 9000) + 1000) ||
      |CASE WHEN doc_id % 3 = 0 THEN ' cc admin@example.org' ELSE '' END""".stripMargin.replace("\n", " ")

  private def piiText: Column = concat(
    col("text"), lit(" contact user"), col("doc_id"), lit("@example.com from 10.20."),
    col("doc_id") % 256, lit(".7 call 555-"), (col("doc_id") % 9000) + 1000,
    when(col("doc_id") % 3 === 0, lit(" cc admin@example.org")).otherwise(lit("")))

  val defs: Map[String, QueryDef] = Map(

    // Exact dedup: hash-groupBy on full text (the cheap first pass every
    // training-data pipeline runs before fuzzy dedup).
    "llm_dedup_exact" -> QueryDef(
      doc = "exact dedup: sha2(text) groupBy, min-id canonical",
      oracle = """
        |SELECT substr(sha256(text), 1, 12) AS text_digest,
        |       min(doc_id) AS canonical, count(*) AS n_docs,
        |       CAST(min(n_chars) AS BIGINT) AS n_chars
        |FROM documents
        |GROUP BY 1
        |ORDER BY canonical
        |""") { (s, d) =>
      Tables.documents(s, d)
        .groupBy(substring(sha2(col("text"), 256), 1, 12).as("text_digest"))
        .agg(min("doc_id").as("canonical"), count(lit(1)).as("n_docs"),
          min("n_chars").cast("long").as("n_chars"))
    },

    // MinHash-LSH banded near-dup candidates: shingle → 8 salted
    // minhashes → 4 bands × 2 rows → bucket-join on (band, key).
    // Never all-pairs: the join key is the band signature.
    "llm_minhash_lsh" -> QueryDef(
      doc = "MinHash + banded LSH bucket join → candidate pairs",
      oracle = s"""
        |WITH docs AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM ($corpusSql)
        |), $lshCandidateCtes
        |SELECT doc_a, doc_b FROM cand
        |ORDER BY doc_a, doc_b
        |""") { (s, d) =>
      val docs = corpus(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .where(size(col("toks")) >= 3)
      minhashCandidates(docs)
    },

    // SimHash: 16-bit signature from per-token hash nibbles (±1 votes per
    // bit position, weighted by token frequency). One shuffle, no explode
    // beyond tokens.
    "llm_simhash" -> QueryDef(
      doc = "SimHash 16-bit document signature from token-hash votes",
      oracle = s"""
        |WITH toks AS (
        |  SELECT doc_id, substr(sha256(t), 1, 16) AS h
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
        |)
        |SELECT doc_id, $simhashBitsSql AS simhash
        |FROM toks GROUP BY doc_id
        |ORDER BY doc_id
        |""") { (s, d) =>
      // token-level fanout + sha inside the aggregate expressions: the
      // hash evaluates in the partial aggregation above this exchange
      // (32-way), shared across all 16 bit sums by subexpression
      // elimination — the same shape as the MinHash aggregation
      val toks = fanout(Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("t")),
        col("doc_id"), col("t"))
      val h = substring(sha2(col("t"), 256), 1, 16)
      val bitCols = (0 until 16).map { j =>
        when(sum(when(substring(h, j + 1, 1) >= "8", 1).otherwise(-1)) > 0, "1")
          .otherwise("0")
      }
      toks.groupBy("doc_id")
        .agg(concat(bitCols: _*).as("simhash"))
    },

    // n-gram Jaccard re-rank on MinHash-LSH candidates: the candidate
    // pairs come from the banded LSH buckets (bounded collision
    // probability per pair — corpus-size-independent), and the exact
    // 3-shingle Jaccard re-ranks them. The corpus is doubled with
    // near-duplicate perturbations (see `corpus`) so the candidate set
    // is non-trivial. A (lang, length-bucket) block key — the previous
    // formulation — grows its within-block pair space quadratically
    // with the corpus; LSH chaining is the 100 TB shape.
    "llm_ngram_jaccard" -> QueryDef(
      doc = "MinHash-LSH candidate pairs + exact 3-shingle Jaccard re-rank",
      oracle = s"""
        |WITH docs AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM ($corpusSql)
        |), $lshCandidateCtes, sh AS (
        |  SELECT doc_id,
        |         list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |                        FOR i IN range(1, len(toks) - 1)]) AS shs
        |  FROM docs WHERE len(toks) >= 3
        |)
        |SELECT doc_a, doc_b, jacc_milli FROM (
        |  SELECT doc_a, doc_b,
        |         CAST(floor(1000.0 * len(list_intersect(a.shs, b.shs))
        |              / (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs))))
        |              AS BIGINT) AS jacc_milli
        |  FROM cand JOIN sh a ON a.doc_id = doc_a
        |            JOIN sh b ON b.doc_id = doc_b
        |)
        |WHERE jacc_milli >= 100
        |ORDER BY doc_a, doc_b
        |""") { (s, d) =>
      graft.functions.NgramHashes.register(s)
      graft.functions.SortedIntersect.register(s)
      val docs = corpus(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .where(size(col("toks")) >= 3)
      val cand = minhashCandidates(docs)
      // ONE shingle-array build for both re-rank sides: the explicit
      // repartition(doc_id) exchange sits above it, so the doc_a and
      // doc_b fetches below are ReusedExchange reads of the same
      // computed arrays (previously each join side re-ran the
      // scan+shingle pipeline).
      //
      // The re-rank compares HASHED shingles: ngram_hashes emits the
      // sorted distinct 64-bit gram fingerprints in one fused pass (vs
      // the transform+array_distinct string build — the r9 simhash
      // lesson), and sorted_intersect_count merge-walks the two sorted
      // arrays in O(|a|+|b|) with zero allocation (vs
      // size(array_intersect): hash-set build + probes + a thrown-away
      // intersection array per candidate pair). |hashed ∩| = |string ∩|
      // unless two DIFFERENT grams of the same pair collide in 64 bits
      // (~1e-10 at corpus scale) — same internal-key argument as
      // simhash/repeated_ngrams; the oracle compares string shingles.
      // width pinned (r19, r18 VERDICT #8 sweep): the two candidate
      // joins' merge-walk intersects run above this exchange; a
      // coalesced REPARTITION_BY_COL would shrink them (cf. fanout)
      val shs = docs
        .select(col("doc_id"), expr("ngram_hashes(toks, 3)").as("shs"))
        .repartition(
          docs.sparkSession.sessionState.conf.numShufflePartitions,
          col("doc_id"))
      val inter = expr("sorted_intersect_count(sha_, shb_)")
      cand
        .join(shs.select(col("doc_id").as("doc_a"), col("shs").as("sha_")), Seq("doc_a"))
        .join(shs.select(col("doc_id").as("doc_b"), col("shs").as("shb_")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          floor(lit(1000.0) * inter / (size(col("sha_")) + size(col("shb_")) - inter))
            .cast("long").as("jacc_milli"))
        .where(col("jacc_milli") >= 100)
    },

    // Embedding-cosine near-dup: pairs within the coarse cell (label)
    // whose cosine ≥ 0.28 — exact scaled-int dot + IEEE sqrt norms.
    "llm_cosine_neardup" -> QueryDef(
      doc = "cell-bucketed embedding-cosine near-duplicate pairs",
      oracle = s"""
        |WITH v AS (
        |  SELECT vec_id, label, embedding AS e,
        |         sqrt(${dotSql("embedding", "embedding")}) AS nrm
        |  FROM embeddings
        |)
        |SELECT vec_a, vec_b, cos_milli FROM (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |         CAST(floor(1000.0 * (${dotSql("a.e", "b.e")})
        |              / (a.nrm * b.nrm)) AS BIGINT) AS cos_milli
        |  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
        |)
        |WHERE cos_milli >= 280
        |ORDER BY vec_a, vec_b
        |""") { (s, d) =>
      // norms precomputed once per vector (N rows), not once per pair
      // (N²/cell rows) — 3× less dot-product work in the pair stage
      val v = Tables.embeddings(s, d)
        .select(col("label"), col("vec_id"), col("embedding"),
          sqrt(dotScaled(s, "embedding", "embedding").cast("double")).as("nrm"))
      // r18 OPT: the label join broadcasts the build side at test scale
      // (embeddings fit), so the ENTIRE per-pair dot-product loop — the
      // suite's biggest single row, Σ cell² pairs — ran on the scan's
      // 2 tasks (event-log: one 13 s map-only stage, maxtask = wall).
      // Fanning out the PROBE side costs one ~5 MB vector exchange and
      // runs the pair loop at full width; identity at production split
      // counts. sf1: 22 → ~1.5 s.
      val a = fanout(v.select(col("label"), col("vec_id").as("vec_a"),
        col("embedding").as("ea"), col("nrm").as("na")), col("vec_a"))
      val b = v.select(col("label"), col("vec_id").as("vec_b"),
        col("embedding").as("eb"), col("nrm").as("nb"))
      a.join(b, Seq("label"))
        .where(col("vec_a") < col("vec_b"))
        .select(col("vec_a"), col("vec_b"),
          floor(lit(1000.0) * dotScaled(s, "ea", "eb") /
            (col("na") * col("nb"))).cast("long").as("cos_milli"))
        .where(col("cos_milli") >= 280)
    },

    // Random-hyperplane (SimHash-for-vectors) cosine LSH: the CELL-FREE
    // near-dup scale path — no label/quantizer needed. PARAMETERIZED and
    // BANDED (round-2 VERDICT #5): NB·RB deterministic ±1 hyperplanes
    // (plane p's sign for dimension i = hex char p of sha256(i) — ONE
    // hash per dimension, shared across all planes by subexpression
    // elimination) give every vector NB band keys of RB bits; candidates
    // join on (band_id, band_key) — the corpus splits into 2^RB buckets
    // per band (scale RB with corpus size: pair space ∝ NB·N²/2^RB)
    // while the NB-band union keeps recall for true near-dups (a pair
    // only needs ONE band of agreeing signs). Fixed 4-plane/16-bucket
    // bucketing — the round-2 formulation — had N²/16 pairs forever.
    // Sign sums use exact scaled-int arithmetic so band assignment is
    // order-independent and engine-identical. Here RB=6 (64 buckets per
    // band, the VERDICT target), NB=2.
    "llm_cosine_lsh" -> QueryDef(
      doc = "banded random-hyperplane LSH (2 bands × 6 planes, 64 buckets/band) + exact cosine re-rank",
      oracle = s"""
        |WITH $cosineCandCtes, v AS (
        |  SELECT vec_id, embedding AS emb,
        |         sqrt(${dotSql("embedding", "embedding")}) AS nrm
        |  FROM embeddings
        |)
        |SELECT vec_a, vec_b, cos_milli FROM (
        |  SELECT vec_a, vec_b,
        |         CAST(floor(1000.0 * (${dotSql("a.emb", "b.emb")})
        |              / (a.nrm * b.nrm)) AS BIGINT) AS cos_milli
        |  FROM cand JOIN v a ON a.vec_id = vec_a
        |            JOIN v b ON b.vec_id = vec_b
        |)
        |WHERE cos_milli >= 250
        |ORDER BY vec_a, vec_b
        |""") { (s, d) =>
      // band width DERIVED from the corpus count (base 6 bits + one per
      // doubling past 2000 vectors) in both engines — bucket occupancy,
      // and with it the pair space, stays bounded as N grows; 2 bands
      // for recall (CosineLshSpec's planted-near-dup property)
      val cand = derivedCandidates(Tables.embeddings(s, d))
      val v = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          sqrt(dotScaled(s, "embedding", "embedding").cast("double")).as("nrm"))
      cand
        .join(v.select(col("vec_id").as("vec_a"),
          col("embedding").as("ea"), col("nrm").as("na")), Seq("vec_a"))
        .join(v.select(col("vec_id").as("vec_b"),
          col("embedding").as("eb"), col("nrm").as("nb")), Seq("vec_b"))
        .select(col("vec_a"), col("vec_b"),
          floor(lit(1000.0) * dotScaled(s, "ea", "eb") /
            (col("na") * col("nb"))).cast("long").as("cos_milli"))
        .where(col("cos_milli") >= 250)
    },

    // SemDeDup-style semantic dedup (Abbas et al. 2023,
    // arXiv:2303.09540): cluster the embedding space with a coarse
    // quantizer, then prune ε-balls WITHIN each cluster only — the
    // quantizer turns the corpus-quadratic pair space into
    // Σ cluster² which stays linear when k scales with N (bounded
    // cluster occupancy, same argument as llm_ann_ivf's cell join).
    // The survivor rule here is the greedy deterministic one: drop a
    // vector iff some LOWER-id vector in its cluster is within ε
    // (cosine ≥ τ). Non-transitive by design — the transitive-closure
    // flavor (connect pairs, elect per-component canonicals) is the
    // separate llm_dedup_cluster/llm_cluster_fixpoint pipeline; greedy
    // min-id is what SemDeDup ships because it needs no iteration and
    // over-drops at most the chain tails. The coarse quantizer is the
    // deterministic sign-sketch HASH GRID (CosineLsh.signKey): cell =
    // the first `cellBits` hyperplane signs, with cellBits DERIVED
    // from count(*) in both engines (one bit per corpus doubling past
    // 200 vectors → expected occupancy, and with it Σ cell², stays
    // bounded as N grows — r10 VERDICT #2; the r10 query pinned the 10
    // fixed testdata labels as cells and measured 21× superlinear at
    // sf1). A TRAINED k-means quantizer (ops.Ivf) remains the
    // production alternative where recall matters more than oracle
    // replayability — same semanticDedup pair stage either way.
    // Cosine in exact scaled-int so the drop decision is bit-identical
    // across engines.
    "llm_semantic_dedup" -> QueryDef(
      doc = "SemDeDup: per-cell cosine ε-ball pruning over a derived-size hash grid",
      oracle = {
        val sums = (0 until PlaneStride)
          .map(p => s"${planeBitSql(p)} AS b$p").mkString(", ")
        val key = (0 until PlaneStride).map(j => s"b$j").mkString(" || ")
        s"""
        |WITH nc AS (
        |  SELECT ${graft.ops.CosineLsh.derivedBitsSql("count(*)",
                      base = 0, unit = 200L)} AS bits
        |  FROM embeddings
        |), dims AS (
        |  $dimsSql
        |), signs AS (
        |  SELECT vec_id, $sums FROM dims GROUP BY vec_id
        |), cells AS (
        |  SELECT vec_id, substr($key, 1, (SELECT bits FROM nc)) AS cell
        |  FROM signs
        |), v AS (
        |  SELECT e.vec_id, c.cell, e.embedding AS emb,
        |         sqrt(${dotSql("e.embedding", "e.embedding")}) AS nrm
        |  FROM embeddings e JOIN cells c USING (vec_id)
        |), dropped AS (
        |  SELECT DISTINCT b.vec_id AS vec_id
        |  FROM v a JOIN v b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE CAST(floor(1000.0 * (${dotSql("a.emb", "b.emb")})
        |             / (a.nrm * b.nrm)) AS BIGINT) >= 280
        |)
        |SELECT v.vec_id, v.cell, d.vec_id IS NULL AS kept
        |FROM v LEFT JOIN dropped d ON v.vec_id = d.vec_id
        |ORDER BY v.vec_id
        |"""
      }) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val cellBits = graft.ops.CosineLsh.derivedBits(emb.count(),
        base = 0, unit = 200L)
      val cells = graft.ops.CosineLsh.signKey(emb, cellBits)
      semanticDedup(s,
        emb.join(cells, Seq("vec_id"))
          .select(col("key").as("cell"), col("vec_id"), col("embedding")),
        tauMilli = 280)
    },

    // Near-dup CLUSTER canonicalization — the step after candidate
    // pairs in every real dedup pipeline: connect the pairs into
    // clusters and elect min-id canonicals. Two rounds of min-label
    // propagation over the (undirected + self-loop) edge list cover
    // every cluster of diameter ≤ 2 — near-dup clusters are tiny-
    // diameter in practice; production iterates the same join to a
    // fixpoint (Pregel-style), each round = one shuffle on src.
    "llm_dedup_cluster" -> QueryDef(
      doc = "near-dup clusters: 2-round min-label propagation over LSH pairs",
      oracle = s"""
        |WITH $cosineCandCtes, verts AS (
        |  SELECT vec_id FROM embeddings
        |), edges AS (
        |  SELECT vec_a AS src, vec_b AS dst FROM cand
        |  UNION ALL SELECT vec_b AS src, vec_a AS dst FROM cand
        |  UNION ALL SELECT vec_id AS src, vec_id AS dst FROM verts
        |), r1 AS (
        |  SELECT src, min(dst) AS l1 FROM edges GROUP BY src
        |), r2 AS (
        |  SELECT e.src, min(r1.l1) AS cluster
        |  FROM edges e JOIN r1 ON r1.src = e.dst
        |  GROUP BY e.src
        |)
        |SELECT src AS vec_id, cluster FROM r2
        |ORDER BY vec_id
        |""") { (s, d) =>
      val cand = derivedCandidates(Tables.embeddings(s, d))
      val verts = Tables.embeddings(s, d).select(col("vec_id"))
      // symmetrize via ONE explode instead of a union of two selects —
      // a union would re-evaluate the whole LSH candidate pipeline per
      // branch (and edges feeds two consumers below: 4 evaluations);
      // with one lineage, both consumers share the same exchange
      val edges = cand.select(explode(array(
          struct(col("vec_a").as("src"), col("vec_b").as("dst")),
          struct(col("vec_b").as("src"), col("vec_a").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .unionByName(verts.select(col("vec_id").as("src"), col("vec_id").as("dst")))
      val r1 = edges.groupBy("src").agg(min("dst").as("l1"))
      edges.join(r1.withColumnRenamed("src", "dst"), Seq("dst"))
        .groupBy("src").agg(min("l1").as("cluster"))
        .select(col("src").as("vec_id"), col("cluster"))
    },

    // The PRODUCTION form of the above: ops.Components iterates the
    // same min-label join to a FIXPOINT (changed-count guard, per-round
    // lineage cut), exact at ANY cluster diameter. Oracle = transitive
    // closure via recursive CTE, so the driver checks true connectivity,
    // not a fixed round count. The result's checkpoint blocks cannot be
    // released before the caller materializes the DataFrame, so the
    // handle is DEFERRED to ops.Releases — Verify/Bench/Probe drain it
    // after each query's action, keeping long sessions leak-free.
    "llm_cluster_fixpoint" -> QueryDef(
      doc = "near-dup clusters via fixpoint min-label propagation (ops.Components)",
      oracle = s"""
        |WITH RECURSIVE $cosineCandCtes, edges AS (
        |  SELECT vec_a AS src, vec_b AS dst FROM cand
        |  UNION ALL SELECT vec_b AS src, vec_a AS dst FROM cand
        |  UNION ALL SELECT vec_id AS src, vec_id AS dst FROM embeddings
        |), reach AS (
        |  SELECT src, dst AS lbl FROM edges
        |  UNION
        |  SELECT r.src, e.dst AS lbl FROM reach r JOIN edges e ON e.src = r.lbl
        |)
        |SELECT src AS vec_id, min(lbl) AS component
        |FROM reach GROUP BY src
        |ORDER BY vec_id
        |""") { (s, d) =>
      val cand = derivedCandidates(Tables.embeddings(s, d))
      val verts = Tables.embeddings(s, d).select(col("vec_id"))
      // Components symmetrizes and self-loops internally; the vertex
      // self-edges make isolated vectors singleton clusters
      val edges = cand.select(col("vec_a").as("src"), col("vec_b").as("dst"))
        .unionByName(verts.select(col("vec_id").as("src"), col("vec_id").as("dst")))
      // near-dup clusters are tiny-diameter (d ≤ 3 here): pointer
      // jumping cannot halve enough rounds to pay for its extra
      // per-round shuffle (measured +0.6 s steady at sf0.1) — opt out;
      // q23's d=14 graph keeps the default
      val labels = graft.ops.Components.run(edges, shortcut = false)
      graft.ops.Releases.defer(labels.release)
      labels.components
        .select(col("id").as("vec_id"), col("component"))
    },

    // Scalar (per-dimension min/max) int8 quantization of the embedding
    // column — 4× storage compression for corpus-scale vector stores.
    // The quantizer table is one row per DIMENSION (bounded, broadcast);
    // encode/decode is map-only arithmetic (-, /, *, floor — no libm,
    // so both engines agree bit-for-bit); the reconstruction-error sum
    // uses per-dimension scaled-int errors (integer sum =
    // order-independent).
    "llm_embed_quantize" -> QueryDef(
      doc = "int8 scalar quantization: per-dim min/max codes + exact error",
      oracle = """
        |WITH dims AS (
        |  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
        |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
        |), mm AS (
        |  SELECT i, min(v) AS lo, max(v) AS hi FROM dims GROUP BY i
        |), coded AS (
        |  SELECT d.vec_id,
        |         CASE WHEN mm.hi = mm.lo THEN 0
        |              ELSE CAST(floor((d.v - mm.lo) / (mm.hi - mm.lo) * 255.0 + 0.5) AS BIGINT)
        |         END AS code,
        |         d.v, mm.lo, mm.hi
        |  FROM dims d JOIN mm USING (i)
        |), err AS (
        |  SELECT vec_id, code,
        |         CAST(floor(abs(v - (lo + code / 255.0 * (hi - lo))) * 1000000000) AS BIGINT)
        |           AS e_nano
        |  FROM coded
        |)
        |SELECT vec_id,
        |       CAST(sum(e_nano) AS BIGINT) AS err_nano,
        |       CAST(min(code) AS BIGINT) AS code_min,
        |       CAST(max(code) AS BIGINT) AS code_max
        |FROM err GROUP BY vec_id
        |ORDER BY vec_id
        |""") { (s, d) =>
      val dims = Tables.embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos0", "vf")))
        .select(col("vec_id"), (col("pos0") + 1).as("i"), col("vf").cast("double").as("v"))
      val mm = dims.groupBy("i").agg(min("v").as("lo"), max("v").as("hi"))
      // constant dimension (hi == lo) → 0/0 = NaN downstream: Spark
      // would silently cast floor(NaN) to 0 while DuckDB errors on the
      // cast — guard explicitly to code 0 on BOTH sides
      val code = when(col("hi") === col("lo"), 0L)
        .otherwise(floor((col("v") - col("lo")) / (col("hi") - col("lo")) * 255.0 + 0.5)
          .cast("long"))
      dims.join(broadcast(mm), Seq("i"))
        .select(col("vec_id"), code.as("code"), col("v"), col("lo"), col("hi"))
        .select(col("vec_id"), col("code"),
          floor(abs(col("v") - (col("lo") + col("code") / 255.0 * (col("hi") - col("lo"))))
            * 1000000000L).cast("long").as("e_nano"))
        .groupBy("vec_id")
        .agg(sum("e_nano").as("err_nano"),
          min("code").as("code_min"), max("code").as("code_max"))
    },

    // Brute-force cosine/dot top-k: the ANN correctness baseline. The
    // only cross join in the library — against a bounded broadcast query
    // set (4 vectors), i.e. a BroadcastNestedLoopJoin over one scan.
    "llm_ann_brute" -> QueryDef(
      doc = "brute-force top-k by exact scaled-int dot product",
      oracle = s"""
        |WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 4),
        |c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings),
        |pairs AS (
        |  SELECT qid, cid, CAST(${dotSql("qe", "ce")} AS BIGINT) AS dot_scaled
        |  FROM q, c
        |)
        |SELECT qid, cid, dot_scaled, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid
        |                               ORDER BY dot_scaled DESC, cid) AS rank
        |  FROM pairs)
        |WHERE rank <= 10
        |ORDER BY qid, rank
        |""") { (s, d) =>
      val e = Tables.embeddings(s, d)
      val q = e.where(col("vec_id") < 4)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val c = e.select(col("vec_id").as("cid"), col("embedding").as("ce"))
      val w = Window.partitionBy("qid").orderBy(desc("dot_scaled"), asc("cid"))
      c.crossJoin(broadcast(q))
        .select(col("qid"), col("cid"),
          dotScaled(s, "qe", "ce").as("dot_scaled"))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= 10)
    },

    // IVF-style ANN: the coarse quantizer cell (label) bounds the
    // candidate set — an equi join, not a cross join. The scale path:
    // probe only matching cells, re-rank exactly within them.
    "llm_ann_ivf" -> QueryDef(
      doc = "IVF cell-bucketed ANN: equi-join on coarse cell + exact re-rank",
      oracle = s"""
        |WITH q AS (SELECT vec_id AS qid, label, embedding AS qe
        |           FROM embeddings WHERE vec_id < 20),
        |c AS (SELECT vec_id AS cid, label, embedding AS ce FROM embeddings),
        |pairs AS (
        |  SELECT qid, cid, CAST(${dotSql("qe", "ce")} AS BIGINT) AS dot_scaled
        |  FROM q JOIN c USING (label)
        |)
        |SELECT qid, cid, dot_scaled, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid
        |                               ORDER BY dot_scaled DESC, cid) AS rank
        |  FROM pairs)
        |WHERE rank <= 5
        |ORDER BY qid, rank
        |""") { (s, d) =>
      val e = Tables.embeddings(s, d)
      val q = e.where(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("label"), col("embedding").as("qe"))
      val c = e.select(col("vec_id").as("cid"), col("label"), col("embedding").as("ce"))
      val w = Window.partitionBy("qid").orderBy(desc("dot_scaled"), asc("cid"))
      q.join(c, Seq("label"))
        .select(col("qid"), col("cid"),
          dotScaled(s, "qe", "ce").as("dot_scaled"))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= 5)
    },

    // Language-ID: function-word n-gram heuristic (stopword hit ratio)
    // scored against the labelled lang column.
    "llm_lang_id" -> QueryDef(
      doc = "lang-ID heuristic: stopword-ratio threshold vs labels",
      oracle = """
        |WITH x AS (
        |  SELECT lang,
        |         CASE WHEN 1000 * len(list_filter(string_split(text, ' '),
        |                    t -> t IN ('the', 'a')))
        |                   // len(string_split(text, ' ')) >= 100
        |              THEN 'en-like' ELSE 'other' END AS predicted
        |  FROM documents
        |)
        |SELECT lang, predicted, count(*) AS n_docs
        |FROM x GROUP BY lang, predicted
        |ORDER BY lang, predicted
        |""") { (s, d) =>
      val toks = split(col("text"), " ")
      val nStop = size(filter(toks, t => t.isin("the", "a")))
      Tables.documents(s, d)
        .select(col("lang"), (nStop * 1000).as("stop_k"), size(toks).as("n_toks"))
        // stop_k div n_toks matches DuckDB's // floor division (args > 0)
        .select(col("lang"),
          when(expr("stop_k div n_toks") >= 100, "en-like")
            .otherwise("other").as("predicted"))
        .groupBy("lang", "predicted")
        .agg(count(lit(1)).as("n_docs"))
    },

    // Quality scoring: token counts, stopword ratio, average token
    // length — the standard cheap pre-training quality filters.
    "llm_quality_score" -> QueryDef(
      doc = "doc quality: token count, stopword ratio, avg token length",
      oracle = """
        |WITH x AS (
        |  SELECT doc_id,
        |         len(string_split(text, ' ')) AS n_tokens,
        |         len(list_filter(string_split(text, ' '),
        |             t -> t IN ('the', 'a', 'of', 'to'))) AS n_stop,
        |         length(text) AS n_chars_m
        |  FROM documents
        |)
        |SELECT doc_id, n_tokens,
        |       CAST(floor(1000.0 * n_stop / n_tokens) AS BIGINT) AS stop_milli,
        |       CAST(floor(1000.0 * (n_chars_m - n_tokens + 1) / n_tokens) AS BIGINT)
        |         AS avg_tok_len_milli,
        |       CASE WHEN n_tokens BETWEEN 20 AND 80 THEN 'good' ELSE 'flag' END AS bucket
        |FROM x ORDER BY doc_id
        |""") { (s, d) =>
      val toks = split(col("text"), " ")
      Tables.documents(s, d)
        .select(col("doc_id"), size(toks).as("n_tokens"),
          size(filter(toks, t => t.isin("the", "a", "of", "to"))).as("n_stop"),
          length(col("text")).as("n_chars_m"))
        .select(col("doc_id"), col("n_tokens"),
          floor(lit(1000.0) * col("n_stop") / col("n_tokens")).cast("long").as("stop_milli"),
          floor(lit(1000.0) * (col("n_chars_m") - col("n_tokens") + 1) / col("n_tokens"))
            .cast("long").as("avg_tok_len_milli"),
          when(col("n_tokens").between(20, 80), "good").otherwise("flag").as("bucket"))
    },

    // Token counting: whitespace tokens + a BPE-ish regex tokenizer
    // (letter runs / digit runs / single other chars).
    "llm_token_count" -> QueryDef(
      doc = "whitespace + BPE-ish regex token counts",
      oracle = """
        |SELECT doc_id,
        |       len(string_split(text, ' ')) AS ws_tokens,
        |       len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS re_tokens
        |FROM documents
        |ORDER BY doc_id
        |""") { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).as("ws_tokens"),
          size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
            .as("re_tokens"))
    },

    // Exact length percentiles per language — the corpus-profiling stat
    // every training-data pipeline reports. Computed HISTOGRAM-style:
    // groupBy (lang, n_tok) count (map-side combine, corpus-scale
    // shuffle on a high-cardinality key), then the cumulative sum runs
    // over the tiny aggregated table (rows = distinct token counts per
    // lang, bounded by max document length — NOT the corpus) through
    // ops.ExactRank's range-partitioned prefix sum, so no task ever
    // serializes a whole language even there (r10 VERDICT #1 flagged
    // the per-lang window shape; the histogram bound made it benign,
    // the ExactRank shape removes it outright). percentile_disc
    // semantics via pure integer rank arithmetic (ceil(p*n) =
    // (p*n + denom-1) div denom) — bit-identical across engines, unlike
    // interpolating percentile() floats.
    "llm_length_percentiles" -> QueryDef(
      doc = "exact p50/p90 token-count percentiles per lang (histogram method)",
      oracle = """
        |WITH tok AS (
        |  SELECT lang, len(string_split(text, ' ')) AS n_tok FROM documents
        |), counts AS (
        |  SELECT lang, n_tok, count(*) AS c FROM tok GROUP BY 1, 2
        |), cum AS (
        |  SELECT lang, n_tok,
        |         sum(c) OVER (PARTITION BY lang ORDER BY n_tok) AS cum,
        |         sum(c) OVER (PARTITION BY lang) AS n
        |  FROM counts
        |)
        |SELECT lang,
        |       CAST(max(n) AS BIGINT) AS n_docs,
        |       CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN n_tok END) AS BIGINT) AS p50_tokens,
        |       CAST(min(CASE WHEN cum >= (9 * n + 9) // 10 THEN n_tok END) AS BIGINT) AS p90_tokens
        |FROM cum
        |GROUP BY lang
        |ORDER BY lang
        |""") { (s, d) =>
      val counts = Tables.documents(s, d)
        .select(col("lang"), size(split(col("text"), " ")).as("n_tok"))
        .groupBy("lang", "n_tok").agg(count(lit(1)).as("c"))
      val cum = graft.ops.ExactRank.prefixSum(counts, "lang",
        Seq(asc("n_tok")), col("c"))
      cum.groupBy("lang").agg(
        max("n").as("n_docs"),
        min(when(col("cum") >= expr("(n + 1) div 2"), col("n_tok")))
          .cast("long").as("p50_tokens"),
        min(when(col("cum") >= expr("(9 * n + 9) div 10"), col("n_tok")))
          .cast("long").as("p90_tokens"))
    },

    // Sketch-based corpus stats: the UNBOUNDED-domain counterpart of
    // llm_length_percentiles. The exact histogram method needs the
    // (group, value) domain to aggregate small; distinct TOKENS per
    // language has no such bound at 100 TB, so the scale path is
    // mergeable sketches — HyperLogLog++ for cardinality,
    // QuantileSummaries for quantiles — which combine as map-side
    // partial aggregates (sketch bytes per partition, never value
    // sets) and merge associatively across any partitioning.
    //
    // Sketch estimates are estimator-defined, not SQL-semantics-
    // defined, so no oracle can hash-match the ESTIMATES (DuckDB's
    // approx functions implement different estimators). What IS
    // oracle-checkable — r17 VERDICT "Next" #7, clearing the board's
    // one `no_oracle` row — is the sketch CONTRACT: the query outputs
    // the exact per-lang statistics (deterministic, both engines
    // agree) plus 1/0 flags asserting each estimate landed inside its
    // documented bound of the exact value computed IN THE SAME RUN;
    // the oracle recomputes the exact columns and asserts the flags
    // as the constant 1 the contract requires. A broken estimator
    // flips a flag to 0 → hash mismatch → red driver row. The exact
    // companions exist only to make the bound driver-visible; the
    // sketch side ([[approxStatsEstimates]], unchanged, also
    // spec-bounded by ApproxStatsSpec incl. repartition-invariance)
    // remains the scale path — at 100 TB a consumer runs the
    // estimates alone, and this query is the audit that runs on the
    // slice where exact is affordable.
    "llm_approx_stats" -> QueryDef(
      doc = "sketch-contract audit: exact per-lang stats + in-bounds flags",
      oracle = """
        |WITH tok AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents
        |), card AS (
        |  SELECT lang, count(DISTINCT token) AS distinct_tokens
        |  FROM tok GROUP BY 1
        |), nd AS (
        |  SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1
        |), counts AS (
        |  SELECT lang, len(string_split(text, ' ')) AS n_tok, count(*) AS c
        |  FROM documents GROUP BY 1, 2
        |), cum AS (
        |  SELECT lang, n_tok,
        |         sum(c) OVER (PARTITION BY lang ORDER BY n_tok) AS cum,
        |         sum(c) OVER (PARTITION BY lang) AS n
        |  FROM counts
        |), pct AS (
        |  SELECT lang,
        |         CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN n_tok END) AS BIGINT) AS p50_tokens,
        |         CAST(min(CASE WHEN cum >= (9 * n + 9) // 10 THEN n_tok END) AS BIGINT) AS p90_tokens
        |  FROM cum GROUP BY 1
        |)
        |SELECT nd.lang, CAST(n_docs AS BIGINT) AS n_docs,
        |       CAST(distinct_tokens AS BIGINT) AS distinct_tokens,
        |       p50_tokens, p90_tokens,
        |       CAST(1 AS BIGINT) AS hll_tokens_ok,
        |       CAST(1 AS BIGINT) AS hll_docs_ok,
        |       CAST(1 AS BIGINT) AS p50_ok, CAST(1 AS BIGINT) AS p90_ok
        |FROM nd JOIN card USING (lang) JOIN pct USING (lang)
        |ORDER BY lang
        |""") { (s, d) =>
      val docs0 = Tables.documents(s, d)
      // r18 OPT: the audit ran the exploded token stream TWICE — once
      // inside approxStatsEstimates (HLL side) and once for the exact
      // count_distinct — plus a third corpus pass for the doc_id HLL.
      // HLL estimates are SET-defined (duplicate inserts are
      // idempotent), so (a) the token HLL rides the exact-distinct
      // dedup aggregation's second phase, and (b) the doc_id HLL rides
      // the per-lang doc count (docs0 has one row per doc_id already;
      // exploding first added nothing but duplicate inserts).
      // Estimates are identical to approxStatsEstimates' by
      // set-semantics (ApproxStatsSpec pins the identity); the flags
      // audit the same estimator. sf1 probe: 3.0 → ~2.0 s steady.
      //
      // r19 (r18 ADVICE): the r18 shape fanned out the EXPLODED rows on
      // token — which parked the groupBy's partial aggregate ABOVE the
      // fanout exchange (hash(token) already satisfies the (lang,
      // token) clustering), so the shuffle carried raw token INSTANCES
      // keyed by token alone and a Zipf-frequent token concentrated
      // every instance on one task. Fanning out the DOC rows on doc_id
      // instead (the lmBigrams ship-raw-text pattern) runs the
      // explode+split at full width ABOVE the fanout exchange and
      // keeps the true map-side partial dedup BELOW the groupBy's own
      // ENSURE_REQUIREMENTS shuffle — per-partition-distinct (lang,
      // token) pairs on the wire, no hot-token task.
      val tokDedup = fanout(docs0.select("doc_id", "lang", "text"), col("doc_id"))
        .select(col("lang"), explode(split(col("text"), " ")).as("token"))
        .groupBy("lang", "token").agg(count(lit(1)).as("_c"))
      val exactCard = tokDedup.groupBy("lang").agg(
        count(lit(1)).as("distinct_tokens"),
        approx_count_distinct(col("token"), rsd = 0.02).as("tok_est"))
      // doc HLL input gated on text non-NULL (r18 ADVICE): the
      // instance-stream estimator (approxStatsEstimates) only ever
      // sees doc_ids whose text survives explode(split(text)) — NULL
      // text yields no rows there — so the audit HLL must skip them
      // too or the claimed estimate identity breaks on a corpus with
      // NULL-text documents. approx_count_distinct ignores NULL
      // inputs; n_docs itself stays the oracle's unfiltered count(*).
      val nDocs = docs0.groupBy("lang").agg(count(lit(1)).as("n_docs"),
        approx_count_distinct(
          when(col("text").isNotNull, col("doc_id")), rsd = 0.02).as("docs_est"))
      // ONE tokenize pass feeds both quantile sides (r18 OPT): the
      // (lang, n_tok) projection is ~8 bytes/doc — persist it (the
      // lmModel/enc caller-owns-release pattern) instead of re-running
      // scan + split for the exact histogram and the sketch separately
      val lens = docs0
        .select(col("lang"), size(split(col("text"), " ")).as("n_tok"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.ops.Releases.defer(() => { lens.unpersist(true); () })
      val est = approxLengthQuantiles(s, d, Some(lens))
      val counts = lens.groupBy("lang", "n_tok").agg(count(lit(1)).as("c"))
      // plain window, not ops.ExactRank (r18 OPT): the window input is
      // the HISTOGRAM — |langs| × |distinct doc lengths|, a dimension
      // bound at any corpus size — so the single-task-per-group rank
      // merge ExactRank exists to avoid cannot occur, and its
      // sample-sort machinery (sample job + offset broadcast) was pure
      // sequential-job overhead here
      val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
        .orderBy("n_tok").rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val cum = counts
        .withColumn("cum", sum("c").over(w))
        .withColumn("n", sum("c").over(
          org.apache.spark.sql.expressions.Window.partitionBy("lang")))
      def vAt(rank: Column) =
        min(when(col("cum") >= rank, col("n_tok"))).cast("long")
      // exact rank windows for the quantile flags: percentile_approx at
      // accuracy 10000 has rank error ≤ n/10000; ±1% of ranks is 100×
      // slack, so a flag flip means a broken estimator, not noise
      val pct = cum.groupBy("lang").agg(
        vAt(expr("(n + 1) div 2")).as("p50_tokens"),
        vAt(expr("(9 * n + 9) div 10")).as("p90_tokens"),
        vAt(expr("greatest((49 * n) div 100, 1)")).as("p50_lo"),
        vAt(expr("least((51 * n + 99) div 100, n)")).as("p50_hi"),
        vAt(expr("greatest((89 * n) div 100, 1)")).as("p90_lo"),
        vAt(expr("least((91 * n + 99) div 100, n)")).as("p90_hi"))
      // rsd 0.02 is a standard deviation — the 10% bound is 5σ; the
      // max(1, …) floor keeps tiny cardinalities honest
      def okHll(e: Column, x: Column) =
        when(abs(e - x) <= greatest(floor(x / 10).cast("long"), lit(1L)),
          1L).otherwise(0L)
      def okPct(e: Column, lo: Column, hi: Column) =
        when(e.cast("long").between(lo, hi), 1L).otherwise(0L)
      // every side is |languages| rows — the joins are trivially local
      nDocs.join(exactCard, Seq("lang")).join(pct, Seq("lang"))
        .join(est, Seq("lang"))
        .select(col("lang"), col("n_docs"), col("distinct_tokens"),
          col("p50_tokens"), col("p90_tokens"),
          okHll(col("tok_est"), col("distinct_tokens")).as("hll_tokens_ok"),
          okHll(col("docs_est"), col("n_docs")).as("hll_docs_ok"),
          okPct(col("p50_est"), col("p50_lo"), col("p50_hi")).as("p50_ok"),
          okPct(col("p90_est"), col("p90_lo"), col("p90_hi")).as("p90_ok"))
    },

    // Document fingerprinting: bottom-3 sketch of shingle hashes
    // (winnowing-style). One aggregation: slice(array_sort(collect_set))
    // — the per-doc set is bounded by the doc's shingle count, and the
    // single groupBy replaces the round-2 distinct + window + groupBy
    // chain (3 shuffles → 1). At fact scale the exact-set state per doc
    // is still bounded by document length; a true streaming bottom-k
    // sketch caps it harder: ops.BottomK.bottomKDistinct (see the agg below).
    "llm_fingerprint" -> QueryDef(
      doc = "bottom-k shingle-hash document fingerprint",
      oracle = s"""
        |WITH docs AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), shing AS (
        |  $shingleSql
        |), hs AS (
        |  SELECT DISTINCT doc_id, substr(sha256(sh), 1, 12) AS h FROM shing
        |), ranked AS (
        |  SELECT doc_id, h,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY h) AS rn
        |  FROM hs
        |)
        |SELECT doc_id, string_agg(h, '-' ORDER BY h) AS fingerprint
        |FROM ranked WHERE rn <= 3
        |GROUP BY doc_id
        |ORDER BY doc_id
        |""") { (s, d) =>
      // Fused r17 (VERDICT #2 family): the bottom-3 distinct hash
      // prefixes are strictly PER-DOCUMENT, so the explode → fanout
      // exchange → collect_set/sort/slice pipeline (every shingle
      // hashed via a hex-string expression and shuffled) collapses
      // into ONE codegen'd expression (functions/BottomKShingleHashes):
      // shingle bytes stream into one sha256 each, the first 48 bits
      // feed a k-slot distinct-minima insert, only the 3 winners are
      // hex-rendered. Scan → project, zero shuffle, O(k) state per
      // row. BottomKShingleHashesSpec pins it element-wise against the
      // old formulation (hex-order = 48-bit numeric order, prefix
      // distinctness, concat_ws NULL-word semantics). For bottom-k
      // over UNBOUNDED groups (cross-doc sets) ops.BottomK remains the
      // tool; per-doc k is the expression's job.
      graft.functions.BottomKShingleHashes.register(s)
      // fanout BEFORE the fused pass (r17 ADVICE): with the whole
      // pipeline now pre-exchange, a single-split documents.parquet
      // (the test files) would run every sha256 on ONE task; the
      // spread shuffles cheap (doc_id, text) rows and is the identity
      // at production split counts
      fanout(Tables.documents(s, d), col("doc_id"))
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .where(size(col("toks")) >= 3)
        .select(col("doc_id"),
          expr("bottomk_shingle_hashes(toks, 3)").as("fingerprint"))
    },

    // Per-document top TF-IDF terms (keyword extraction). The score is
    // EXACT integer arithmetic — (tf · 1000 · N_docs) div df — because
    // a float log-idf would rank-tie differently across engines at the
    // margins; the monotone rational surrogate preserves the tf/df
    // ordering. Two shuffles (term-level df, doc-level tf) + a
    // WindowGroupLimit top-3; df is a term-level aggregate (vocabulary-
    // bounded, far below corpus scale) that AQE broadcasts.
    "llm_tfidf_terms" -> QueryDef(
      doc = "per-doc top-3 TF-IDF terms, exact integer scoring",
      oracle = """
        |WITH docs AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), tok AS (
        |  SELECT doc_id, t.tk FROM docs, unnest(toks) AS t(tk)
        |), tf AS (
        |  SELECT doc_id, tk, count(*) AS tf FROM tok GROUP BY 1, 2
        |), df AS (
        |  SELECT tk, count(*) AS df FROM (SELECT DISTINCT doc_id, tk FROM tok) GROUP BY 1
        |), n AS (
        |  SELECT count(*) AS n_docs FROM docs
        |), scored AS (
        |  SELECT tf.doc_id, tf.tk,
        |         (tf.tf * 1000 * n.n_docs) // df.df AS score
        |  FROM tf JOIN df USING (tk) CROSS JOIN n
        |), ranked AS (
        |  SELECT doc_id, tk, score,
        |         row_number() OVER (PARTITION BY doc_id
        |                            ORDER BY score DESC, tk) AS rn
        |  FROM scored
        |)
        |SELECT doc_id, tk AS term, CAST(score AS BIGINT) AS score,
        |       CAST(rn AS BIGINT) AS rank
        |FROM ranked WHERE rn <= 3
        |ORDER BY doc_id, rank
        |""") { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tk"))
      val tf = tok.groupBy("doc_id", "tk").agg(count(lit(1)).as("tf"))
      // df rides the SAME (doc_id, tk) aggregation — tf is already the
      // distinct (doc, term) set, so counting docs per term on top of it
      // reuses that exchange instead of re-scanning. The `tf > 0` filter
      // is always true (counts are ≥ 1) but it REFERENCES the count, so
      // column pruning cannot strip it from this lineage's aggregate —
      // without it the pruned (keys-only) subtree canonicalizes
      // differently from tf's and the exchange is NOT reused: the
      // executed plan showed two full scan+explode+shuffle pipelines
      // (round-7 plan sweep; same rewrite-divergence class as c8).
      val df_ = tf.where(col("tf") > 0).groupBy("tk").agg(count(lit(1)).as("df"))
      val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("doc_id").orderBy(desc("score"), asc("tk"))
      tf.join(df_, Seq("tk")).crossJoin(nDocs)
        .select(col("doc_id"), col("tk"),
          expr("(tf * 1000 * n_docs) div df").as("score"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= 3)
        .select(col("doc_id"), col("tk").as("term"),
          col("score").cast("long").as("score"), col("rank"))
    },

    // Context-window chunking: split each document into 128-token
    // chunks on a 96-token stride (32-token overlap) — the step before
    // sequence packing in a training-data pipeline. Map-only: the
    // per-doc fan-out is ⌈n/96⌉ (bounded by doc length), no shuffle at
    // all — the plan is scan → explode → project, embarrassingly
    // parallel at any corpus size. first_tok anchors each chunk's
    // content so the oracle checks alignment, not just counts.
    "llm_chunk_documents" -> QueryDef(
      doc = "fixed-size token chunking with overlap (context-window prep)",
      oracle = """
        |WITH docs AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |)
        |SELECT doc_id,
        |       CAST(i AS BIGINT) AS chunk_idx,
        |       CAST(least(len(toks) - i*96, 128) AS BIGINT) AS n_tokens,
        |       toks[i*96 + 1] AS first_tok
        |FROM docs,
        |     unnest(generate_series(0, CAST(floor((len(toks) - 1) / 96) AS INT))) AS t(i)
        |ORDER BY doc_id, chunk_idx
        |""") { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"), col("toks"), size(col("toks")).as("n"))
      docs
        .select(col("doc_id"), col("toks"), col("n"),
          explode(expr("sequence(0, cast(floor((n - 1) / 96) as int))"))
            .as("ci"))
        .select(col("doc_id"),
          col("ci").cast("long").as("chunk_idx"),
          least(col("n") - col("ci") * 96, lit(128)).cast("long").as("n_tokens"),
          element_at(col("toks"), (col("ci") * 96 + 1)).as("first_tok"))
    },

    // Repetition filter (the Gopher/MassiveText-style quality gate):
    // a document whose single most frequent 3-gram carries ≥20% of its
    // total shingle mass is boilerplate/degenerate. Integer comparison
    // (max*5 ≥ total) — no ratio arithmetic to diverge across engines.
    // Scale (rewritten r17, VERDICT #2): the statistics are strictly
    // PER-DOCUMENT, so the explode→exchange→two-aggregations pipeline
    // (one string row per shingle shuffled by doc_id — 5.4× the DuckDB
    // oracle at sf1 on instance-stream volume alone) collapses into
    // ONE codegen'd expression per row (functions/RepetitionStats):
    // scan → project, ZERO shuffle, per-row memory bounded by doc
    // length. RepetitionStatsSpec pins the expression element-wise
    // against the old explode+groupBy formulation (exact-bytes
    // distinctness, NULL-word grouping, <3-token NULL-out).
    "llm_repetition_filter" -> QueryDef(
      doc = "repetition filter: top 3-gram frequency vs total shingle mass",
      oracle = s"""
        |WITH docs AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), shing AS (
        |  $shingleSql
        |), freq AS (
        |  SELECT doc_id, sh, count(*) AS c FROM shing GROUP BY 1, 2
        |)
        |SELECT doc_id,
        |       CAST(sum(c) AS BIGINT) AS n_shingles,
        |       CAST(count(*) AS BIGINT) AS n_distinct,
        |       CAST(max(c) AS BIGINT) AS max_freq,
        |       CAST(CASE WHEN max(c) * 5 >= sum(c) THEN 1 ELSE 0 END AS BIGINT)
        |         AS repetitive
        |FROM freq GROUP BY doc_id
        |ORDER BY doc_id
        |""") { (s, d) =>
      graft.functions.RepetitionStats.register(s)
      // fanout: single-split inputs would run the fused pass on one
      // task (r17 ADVICE); identity at production split counts
      fanout(Tables.documents(s, d), col("doc_id"))
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .where(size(col("toks")) >= 3)
        .select(col("doc_id"), expr("repetition_stats(toks)").as("st"))
        .select(col("doc_id"),
          col("st.n_shingles").as("n_shingles"),
          col("st.n_distinct").as("n_distinct"),
          col("st.max_freq").as("max_freq"),
          when(col("st.max_freq") * 5 >= col("st.n_shingles"), 1L)
            .otherwise(0L).as("repetitive"))
    },

    // Winnowing (MOSS-style) fingerprints: the min shingle-hash of every
    // sliding window of 4 consecutive shingles, deduplicated per doc.
    // Guarantees any sufficiently long match between two docs shares a
    // fingerprint, with ~1/4 the stored hashes of full fingerprinting.
    // The window partitions by doc_id (bounded by document length) —
    // never a data-scale sort.
    "llm_winnow_fingerprint" -> QueryDef(
      doc = "winnowing: per-doc distinct sliding-window-min shingle hashes",
      oracle = s"""
        |WITH docs AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), shing AS (
        |  SELECT doc_id, i, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
        |  FROM docs, unnest(generate_series(1, len(toks) - 2)) AS t(i)
        |  WHERE len(toks) >= 3
        |), h AS (
        |  SELECT doc_id, i, CAST('0x' || substr(sha256(sh), 1, 12) AS BIGINT) AS hv
        |  FROM shing
        |), wmin AS (
        |  SELECT doc_id, i,
        |         min(hv) OVER (PARTITION BY doc_id ORDER BY i
        |                       ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
        |  FROM h
        |), sel AS (SELECT DISTINCT doc_id, fp FROM wmin WHERE i >= 4)
        |SELECT doc_id, count(*) AS n_fp,
        |       substr(sha256(string_agg(CAST(fp AS VARCHAR), ',' ORDER BY fp)), 1, 12)
        |         AS fp_digest
        |FROM sel GROUP BY doc_id
        |""") { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .where(size(col("toks")) >= 3)
      // graft.ops.Winnow: window-min per 4-shingle window, collect_set
      // absorbing the per-doc DISTINCT; the groupBy reuses the window's
      // doc_id partitioning (plus the hashing fanout inside
      // Winnow.fingerprints when the source is a single split)
      graft.ops.Winnow.fingerprints(docs, window = 4)
        .select(col("doc_id"), size(col("fps")).cast("long").as("n_fp"),
          substring(sha2(array_join(transform(
            col("fps"), x => x.cast("string")), ","), 256), 1, 12).as("fp_digest"))
    },

    // Deterministic stratified sampling: keep a per-stratum (language)
    // rate of documents, keyed on a content hash — map-only (the filter
    // rides the scan: no shuffle, no RNG state, stable across retries
    // and cluster layouts; the rate table is bounded config, not data).
    "llm_sample_stratified" -> QueryDef(
      doc = "per-language deterministic hash sampling (map-only)",
      oracle = """
        |SELECT doc_id, lang
        |FROM documents
        |WHERE CAST('0x' || substr(sha256(text), 1, 8) AS BIGINT) % 100
        |      < CASE WHEN lang = 'en' THEN 10 ELSE 40 END
        |""") { (s, d) =>
      val bucket = conv(substring(sha2(col("text"), 256), 1, 8), 16, 10)
        .cast("long") % 100
      Tables.documents(s, d)
        .where(bucket < when(col("lang") === "en", 10).otherwise(40))
        .select("doc_id", "lang")
    },

    // Per-source document cap (CommonCrawl-style domain capping): keep
    // an EXACT k docs per source, chosen by deterministic content-hash
    // order so the selection is stable across retries and layouts. The
    // rank<=k filter triggers WindowGroupLimit: each map task keeps
    // only its local top-k per source before the shuffle, so window
    // state is k rows per (task, source), never the source's documents.
    // Contrast llm_sample_weighted (expected-rate Bernoulli, map-only):
    // the cap is exact but pays one shuffle; the rate is shuffle-free
    // but approximate per source.
    "llm_domain_cap" -> QueryDef(
      doc = "exact per-source cap by deterministic hash order (WindowGroupLimit)",
      oracle = """
        |SELECT doc_id, source, CAST(rk AS BIGINT) AS rk FROM (
        |  SELECT doc_id, source,
        |         row_number() OVER (PARTITION BY source
        |             ORDER BY CAST('0x' || substr(sha256(text), 1, 8) AS BIGINT),
        |                      doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 10 ORDER BY source, rk
        |""") { (s, d) =>
      val h = conv(substring(sha2(col("text"), 256), 1, 8), 16, 10).cast("long")
      val w = Window.partitionBy("source").orderBy(h.asc, col("doc_id").asc)
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          row_number().over(w).cast("long").as("rk"))
        .where(col("rk") <= 10)
    },

    // Inverse-frequency (temperature-flattening) sampling: downsample
    // each source toward an expected ~15 docs by hashing content
    // against a per-source integer threshold — all arithmetic is
    // integer (150000 div n, hash mod 10000), so both engines agree
    // exactly at the acceptance boundary; a float rate (pow/log
    // temperature curves) can disagree in the last ulp between engines
    // and flip boundary rows. Per-source counts are a bounded dim —
    // broadcast joined back, so the filter itself stays map-only
    // against the corpus scan.
    "llm_sample_weighted" -> QueryDef(
      doc = "inverse-frequency source flattening via integer hash threshold",
      oracle = """
        |WITH n AS (SELECT source, count(*) AS n_src FROM documents GROUP BY 1)
        |SELECT doc_id, d.source FROM documents d JOIN n USING (source)
        |WHERE CAST('0x' || substr(sha256(text), 1, 8) AS BIGINT) % 10000
        |      < least(10000, 150000 // n_src)
        |""") { (s, d) =>
      val docs = Tables.documents(s, d)
      val n = docs.groupBy("source").agg(count(lit(1)).as("n_src"))
      val h = conv(substring(sha2(col("text"), 256), 1, 8), 16, 10)
        .cast("long") % 10000
      // positive operands: cast-truncation == DuckDB's floor int-div
      val thresh = least(lit(10000L), (lit(150000L) / col("n_src")).cast("long"))
      docs.join(broadcast(n), Seq("source"))
        .where(h < thresh)
        .select("doc_id", "source")
    },

    // Cross-document repeated-substring score (the signal behind
    // substring-level dedup, Lee et al. 2022 "Deduplicating Training
    // Data Makes Language Models Better"): for each doc, how many of
    // its DISTINCT word-8-grams also occur in at least one other doc.
    // Shape choices, each measured at sf0.1:
    //   - per-doc dedup is array_distinct INSIDE the row (map-side,
    //     free) — a global `.distinct()` shuffled the pair set once
    //     just to dedup keys that never collide across docs;
    //   - gram keys are xxhash64 longs. The hash is INTERNAL: the
    //     query's output (doc_id, n_shared) never exposes it, so the
    //     engines need not hash identically — the oracle counts the
    //     gram STRINGS and any cross-engine divergence requires an
    //     xxhash64 collision (~1e-10 at verify scale). r8 used a
    //     60-bit sha256 prefix on BOTH sides for hash-portability; the
    //     crypto hash + hex conv was the row's dominant cost (12.6×
    //     DuckDB steady — r8 VERDICT's named offender);
    //   - the exploded pair set is repartition(gh)-pinned ONCE (the c8
    //     pattern): the doc-frequency agg consumes it partition-local
    //     and the map-back join consumes the same exchange via
    //     ReusedExchange, so the corpus is scanned and shuffled exactly
    //     once. Pair space is corpus-linear, never quadratic; the
    //     frequent-gram side is count-bounded and broadcasts.
    "llm_repeated_ngrams" -> QueryDef(
      doc = "per-doc count of 8-grams shared with other docs (substring dedup)",
      oracle = """
        |WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |), g AS (
        |  SELECT DISTINCT doc_id, array_to_string(ws[i:i+7], ' ') AS gh
        |  FROM w, unnest(range(1, len(ws) - 6)) AS t(i)
        |  WHERE len(ws) >= 8
        |), cnt AS (
        |  SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2
        |)
        |SELECT g.doc_id, count(*) AS n_shared
        |FROM g JOIN cnt USING (gh)
        |GROUP BY 1 ORDER BY 1
        |""") { (s, d) =>
      graft.functions.NgramHashes.register(s)
      val words = split(col("text"), " ")
      // per-doc dedup INSIDE the row — grams never collide across
      // docs' pair rows, so a global distinct shuffle is pure waste.
      // ngram_hashes is the fused codegen'd expression (one pass per
      // doc; see functions/NgramHashes.scala) — the HOF transform
      // lambda it replaces was ~80% of this query's steady time.
      val grams = expr("ngram_hashes(split(text, ' '), 8)")
      // doc-level fanout BEFORE the gram lambda: the sf files are a
      // single split, so without it the whole hash pipeline runs in
      // one task (identity at production partition counts)
      val g = fanout(Tables.documents(s, d)
          .where(size(words) >= 8)
          .select(col("doc_id"), col("text")), col("doc_id"))
        .select(col("doc_id"), explode(grams).as("gh"))
      // g is distinct per (doc_id, gh), so doc-frequency = a count
      // window over gh — computed INLINE on g's one gh shuffle rather
      // than via a hot-gram self-join: the join formulation ran the
      // whole gram pipeline (one hash per 8-gram) TWICE, because the
      // two repartition(gh) subtrees canonicalize differently (the
      // count branch prunes doc_id, the join branch keeps it — same
      // rewrite-divergence class as c8/tfidf; executed-plan audit
      // showed only the doc_id fanout exchange reused). Window over a
      // partition-only frame needs no orderBy.
      // Per-gh window partitions are corpus-bounded only for
      // boilerplate grams that repeat in most docs — exactly what
      // llm_boilerplate removes upstream at 100 TB.
      g.withColumn("nd", count(lit(1)).over(Window.partitionBy("gh")))
        .where(col("nd") >= 2)
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    },

    // Heavy hitters: top-10 tokens per language. Two-level aggregation
    // (map-side partial count combine) + per-stratum rank; Spark's
    // WindowGroupLimit caps per-partition window state at k once the
    // rank filter is pushed down. Strata are bounded (languages); for
    // unbounded strata the scale path is partial per-partition top-k
    // merged in a final agg (or a count-min sketch for approximate).
    "llm_top_tokens" -> QueryDef(
      doc = "heavy hitters: top-10 tokens per language",
      oracle = """
        |WITH tok AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents
        |), cnt AS (
        |  SELECT lang, token, count(*) AS n FROM tok GROUP BY 1, 2
        |)
        |SELECT lang, token, n, rank FROM (
        |  SELECT lang, token, n,
        |         row_number() OVER (PARTITION BY lang
        |                            ORDER BY n DESC, token) AS rank
        |  FROM cnt)
        |WHERE rank <= 10
        |ORDER BY lang, rank
        |""") { (s, d) =>
      val cnt = Tables.documents(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("token"))
        .groupBy("lang", "token").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("lang").orderBy(desc("n"), asc("token"))
      cnt.withColumn("rank", row_number().over(w))
        .where(col("rank") <= 10)
    },

    // Decontamination: flag training documents sharing any 3-token
    // shingle hash with a benchmark/eval set — the n-gram-overlap
    // train/test contamination check every training-data pipeline runs.
    // Shape: shingle-hash equi semi-join (hash-partitioned, map-side
    // distinct); the benchmark side is usually small enough to
    // broadcast, but the join degrades gracefully to shuffle when not.
    "llm_decontaminate" -> QueryDef(
      doc = "train/benchmark 3-gram overlap contamination check",
      oracle = s"""
        |WITH docs AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), shing AS (
        |  $shingleSql
        |), h AS (
        |  SELECT DISTINCT doc_id, substr(sha256(sh), 1, 12) AS hv FROM shing
        |), bench AS (
        |  SELECT DISTINCT hv FROM h WHERE doc_id % 50 = 0
        |)
        |SELECT doc_id, count(*) AS n_overlap
        |FROM h
        |WHERE doc_id % 50 <> 0
        |  AND hv IN (SELECT hv FROM bench)
        |GROUP BY doc_id
        |ORDER BY doc_id
        |""") { (s, d) =>
      graft.functions.NgramHashes.register(s)
      // ngram_hashes builds each doc's DISTINCT 3-gram hashes in ONE
      // fused in-row pass (r10): the previous form exploded string
      // shingles, rendered a sha256 hex per instance, sliced 12 chars,
      // and then still had to dedup per doc — here the explode emits
      // already-distinct 64-bit longs, so the final count is count(1),
      // not countDistinct (probe at sf0.1: 1.0-1.2 s → ~0.45 s steady).
      // hv stays internal (join key + count); the oracle counts its own
      // hex-prefix hashes — both equal the distinct-gram count unless
      // two different grams collide (64-bit: ~1e-10 at corpus scale,
      // the ngram_hashes/jaccard argument).
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .where(size(col("toks")) >= 3)
      val h = docs
        .select(col("doc_id"), explode(expr("ngram_hashes(toks, 3)")).as("hv"))
      // BROADCAST the benchmark shingle-hash set (round-7 VERDICT
      // "What's wrong" #3): decontamination's reference side is the
      // eval benchmarks — bounded by the benchmark suites you screen
      // against, NOT by the corpus — so its distinct hashes broadcast.
      // The train side then never shuffles on hv at all; the only
      // exchange left is the final groupBy(doc_id) count. This replaces
      // a window-over-hv formulation (bench flag via max() over
      // partitionBy(hv)) that hash-shuffled AND SORTED every distinct
      // (hv, doc) pair: 1.2-1.6 s steady → 0.6-0.7 s same-session; the
      // bench side's second scan reads 2% of rows (doc_id filter
      // pushed to the scan). A groupBy(hv).collect_set(train) variant
      // was also measured (same speed as the window) and rejected: an
      // unbounded per-hash set is an OOM against a boilerplate 3-gram
      // at corpus scale.
      // no fanout: the per-shingle work here is ONE sha256 (vs minhash's
      // 8 salted hashes) — at test scale the spread exchange costs more
      // than the hashing it parallelizes, and at production scale the
      // scan splits on its own
      val bench = h.where(col("doc_id") % 50 === 0).select("hv").distinct()
      h.where(col("doc_id") % 50 =!= 0)
        .join(broadcast(bench), Seq("hv"), "left_semi")
        .groupBy("doc_id")
        // hv rows are per-doc distinct by construction (ngram_hashes) —
        // plain count, no dedup pass
        .agg(count(lit(1)).as("n_overlap"))
    },

    // Boilerplate filter (C4/RefinedWeb-style): a bigram is boilerplate
    // when it appears in ≥5% of all documents; a document is flagged
    // when ≥90% of its bigram instances are boilerplate (nav bars,
    // cookie banners, templated footers). Thresholds are integer
    // cross-multiplications — no ratio arithmetic to diverge across
    // engines. The document-frequency threshold is RELATIVE (df·20 ≥
    // n_docs), which is what makes the frequent set broadcastable at
    // any corpus size: at most (total instances)/(0.05·n_docs) ≈
    // 20·avg_doc_len distinct bigrams can clear it — a bound that does
    // NOT grow with the corpus. Plan: df shuffles only map-side-deduped
    // (hv, doc_id) pairs (never instances — the dedup rides inside the
    // distinct-count aggregate), the scalar n_docs is a 1-row broadcast
    // cross join, and the per-doc stats are one aggregation over the
    // instance stream
    // left-joined against the broadcast frequent set — instance rows
    // never shuffle on hv.
    "llm_boilerplate" -> QueryDef(
      doc = "corpus-frequent-bigram boilerplate ratio + flag per doc",
      oracle = """
        |WITH docs AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), shing AS (
        |  SELECT doc_id, toks[i] || ' ' || toks[i+1] AS sh
        |  FROM docs, unnest(generate_series(1, len(toks) - 1)) AS t(i)
        |  WHERE len(toks) >= 2
        |), df AS (
        |  SELECT sh, count(DISTINCT doc_id) AS df FROM shing GROUP BY sh
        |), tot AS (
        |  SELECT count(*) AS n_docs FROM documents
        |), boiler AS (
        |  SELECT sh FROM df, tot WHERE df * 20 >= n_docs
        |)
        |SELECT s.doc_id,
        |       CAST(count(*) AS BIGINT) AS n_sh,
        |       CAST(count(b.sh) AS BIGINT) AS n_boiler,
        |       CAST(CASE WHEN count(b.sh) * 10 >= count(*) * 9
        |            THEN 1 ELSE 0 END AS BIGINT) AS flagged
        |FROM shing s LEFT JOIN boiler b ON s.sh = b.sh
        |GROUP BY s.doc_id
        |ORDER BY s.doc_id
        |""") { (s, d) =>
      // Fused r18 (r17 VERDICT "Next" #2, the RepetitionStats
      // playbook): both consumers now read bigramEntries — ONE
      // codegen'd per-doc pass emitting (sh, cnt) per DISTINCT per-doc
      // bigram — instead of each running its own scan+split+explode
      // over instance rows (the double explode behind the 2.9×/5.7×
      // sf1 ratios). The df build aggregates doc-distinct rows with a
      // plain count; the scoring side joins the broadcast frequent set
      // and folds per-doc totals from `cnt` sums — instances never
      // exist as rows on either path. The two subtrees still
      // canonicalize differently (no shared exchange), but what
      // recomputes per path is scan + one fused expression, not an
      // instance explode. Joins key on the RAW bigram string: nothing
      // stores or exchanges these keys beyond the doc-distinct df
      // shuffle, and a short string shuffles like a 12-hex digest
      // (measured r12: keying was never the cost — the fan-out was).
      val boiler = frequentBigrams(Tables.documents(s, d))
        .select(col("sh"), lit(1).as("is_b"))
      val nBoiler = sum(when(col("is_b").isNotNull, col("cnt"))
        .otherwise(0L))
      bigramEntries(Tables.documents(s, d))
        .join(broadcast(boiler), Seq("sh"), "left")
        .groupBy("doc_id")
        .agg(sum(col("cnt")).as("n_sh"),
          nBoiler.as("n_boiler"),
          when(nBoiler * 10 >= sum(col("cnt")) * 9, 1L)
            .otherwise(0L).as("flagged"))
    },

    // Sequence packing: assign documents to fixed-token-budget training
    // bins via a running token sum — shard-local (here: per language)
    // exactly as production packs per input shard; the window partitions
    // on a bounded stratum, never a global order.
    // DSIR-style data selection (Xie et al. 2023, "Data Selection for
    // Language Models via Importance Resampling"): weight each raw doc
    // by how target-like its hashed-ngram feature profile is. Features
    // are bigrams hashed into B=64 buckets (the engine-portable 60-bit
    // sha256 hash mod B — DSIR's hashed-ngram trick is exactly what
    // makes the method corpus-scale: the model is B counters, not a
    // vocabulary); target = the 'en' slice, raw = the full corpus;
    // per-bucket add-one smoothing. The published method scores
    // Σ count·log(p_t/p_r); this implementation uses the
    // RANK-PRESERVING-PER-BUCKET integer surrogate
    // Σ (p_t·1e6 div p_r) averaged per instance (the lm_score/pagerank
    // portability rule — float logs diverge cross-engine in the last
    // ulp; selection consumes the ORDERING of weights). Scale: bucket
    // stats are ONE aggregation with conditional counts (B=64 rows,
    // broadcast); scoring is a map-side join + per-doc agg — the same
    // two-pass shape as lm_score, never a vocabulary-sized state.
    "llm_dsir_weights" -> QueryDef(
      doc = "DSIR hashed-ngram importance weights (integer surrogate, en-target)",
      oracle = """
        |WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws,
        |         (lang = 'en') AS is_target
        |  FROM documents
        |), bg AS (
        |  SELECT doc_id, is_target,
        |         CAST('0x' || substr(sha256(ws[i] || ' ' || ws[i+1]), 1, 15)
        |              AS BIGINT) % 64 AS b
        |  FROM w, unnest(range(1, len(ws))) AS t(i)
        |  WHERE len(ws) >= 2
        |), stats AS (
        |  SELECT b, count(*) AS n_raw,
        |         count(*) FILTER (is_target) AS n_tgt
        |  FROM bg GROUP BY 1
        |), tot AS (
        |  SELECT CAST(sum(n_raw) AS BIGINT) AS raw_total,
        |         CAST(sum(n_tgt) AS BIGINT) AS tgt_total
        |  FROM stats
        |), ratio AS (
        |  SELECT b,
        |         ((n_tgt + 1) * (raw_total + 64) * 1000000)
        |           // ((n_raw + 1) * (tgt_total + 64)) AS r_ppm
        |  FROM stats CROSS JOIN tot
        |)
        |SELECT bg.doc_id, count(*) AS n_bigrams,
        |       CAST(sum(r_ppm) // count(*) AS BIGINT) AS dsir_ppm
        |FROM bg JOIN ratio USING (b)
        |GROUP BY 1 ORDER BY 1
        |""") { (s, d) =>
      // Fused r18 (r17 VERDICT "Next" #5 audit): the per-doc bucket
      // HISTOGRAM is the whole DSIR feature — so the bigram instance
      // stream (explode + per-instance sha expressions, run TWICE for
      // the two consumers) collapses into functions/DsirBuckets, one
      // codegen'd pass per scan. The stats side aggregates
      // B-bounded posexplode rows (64 per doc, map-side-combined to
      // ≤64 per partition); the scoring side never shuffles AT ALL —
      // per-doc score = hist · broadcast ratio array (zip_with over
      // 64 elements), output map-only. is_target still rides in-row.
      graft.functions.DsirBuckets.register(s)
      val B = 64
      // hists has TWO consumers (bucket stats, scoring) whose subtrees
      // cannot share an exchange — and recomputing it means a second
      // full sha256-per-bigram pass, the query's dominant cost.
      // PERSIST is the scale-right call here (unlike the raw instance
      // stream, which is never persisted): a histogram row is
      // ~(8 + 1 + 8·B) bytes/doc ≈ 0.5% of corpus text size, spilling
      // to local disk beyond memory — the cheap artifact, the sha pass
      // the expensive one. Released via ops.Releases like the LM model.
      val hists = fanout(Tables.documents(s, d), col("doc_id"))
        .select(col("doc_id"), (col("lang") === "en").as("is_target"),
          expr(s"dsir_bucket_hist(split(text, ' '), $B)").as("hist"))
        .where(col("hist").isNotNull)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.ops.Releases.defer(() => { hists.unpersist(true); () })
      // NOTE on the ×1e6 numerator: exact at any SF the tests run
      // ((n_tgt+1)·(raw_total+64)·1e6 < 2^63 up to ~10^12 instances);
      // a >10 TB-corpus deployment rescales the fixed point (1e4) or
      // splits the division — the ratio stays a 64-row broadcast
      val stats = hists
        .select(col("is_target"), posexplode(col("hist")).as(Seq("b", "c")))
        .where(col("c") > 0) // a bucket no instance hit is absent from
                             // the oracle's stats CTE too
        .groupBy("b").agg(
          sum("c").as("n_raw"),
          sum(when(col("is_target"), col("c")).otherwise(0L)).as("n_tgt"))
      val tot = stats.agg(sum("n_raw").as("raw_total"), sum("n_tgt").as("tgt_total"))
      // ratio as ONE broadcast row holding the bucket-indexed array
      // (empty buckets score 0 — no doc has a count there by
      // construction, so the value never contributes)
      val ratioRow = stats.crossJoin(broadcast(tot))
        .select(col("b"), expr(
          "((n_tgt + 1) * (raw_total + 64) * 1000000)" +
            " div ((n_raw + 1) * (tgt_total + 64))").as("r_ppm"))
        .agg(map_from_entries(collect_list(struct(col("b"), col("r_ppm"))))
          .as("rm"))
        .select(expr(
          s"transform(sequence(0, ${B - 1}), i -> coalesce(element_at(rm, i), 0L))")
          .as("rarr"))
      hists.crossJoin(broadcast(ratioRow))
        .select(col("doc_id"),
          expr("aggregate(hist, 0L, (a, x) -> a + x)").as("n_bigrams"),
          expr("aggregate(zip_with(hist, rarr, (c, r) -> c * r), 0L, " +
            "(a, x) -> a + x)").as("wsum"))
        .select(col("doc_id"), col("n_bigrams"),
          expr("wsum div n_bigrams").cast("long").as("dsir_ppm"))
    },

    // BM25-family keyword retrieval, top-k: the query-side twin of
    // llm_inverted_index / llm_tfidf_terms (index mechanics without a
    // ranking operator leave retrieval unfinished). Scoring is the
    // k1=1.2 / b=0.75 BM25 shape in INTEGER fixed-point — idf and the
    // length norm as ppm/milli ratios with truncating div, the same
    // engine-portability rule as lm_score/pagerank (a float log-idf
    // would diverge across engines in the last ulp; the integer idf
    // proxy (N−df+1)/(df+1) preserves the df ordering, which is what
    // ranking needs). Scale: query terms are a bounded literal list
    // (broadcast); tf is a (doc, term) aggregation with map-side
    // combine over only the matching token rows (the isin filter rides
    // the scan); df aggregates the tf table (≤ docs × |Q| rows); the
    // top-k is a TakeOrdered — no global sort materializes.
    "llm_bm25_topk" -> QueryDef(
      doc = "BM25 (integer fixed-point) keyword retrieval, top-10 docs",
      oracle = """
        |WITH lens AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS len FROM documents
        |), stats AS (
        |  SELECT count(*) AS n_docs,
        |         CAST(sum(len) * 1000 // count(*) AS BIGINT) AS avg_milli
        |  FROM lens
        |), tf AS (
        |  SELECT doc_id, tk, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents)
        |  WHERE tk IN ('spark', 'hash', 'vector')
        |  GROUP BY 1, 2
        |), df AS (
        |  SELECT tk, count(*) AS df FROM tf GROUP BY 1
        |)
        |SELECT doc_id, CAST(sum(
        |         (((n_docs - df.df + 1) * 1000000 // (df.df + 1)) * tf.tf * 2200)
        |         // (tf.tf * 1000 + (1200 * (250 + (750 * len * 1000) // avg_milli)) // 1000)
        |       ) AS BIGINT) AS score_ppm
        |FROM tf JOIN df USING (tk) JOIN lens USING (doc_id) CROSS JOIN stats
        |GROUP BY doc_id
        |ORDER BY score_ppm DESC, doc_id
        |LIMIT 10
        |""") { (s, d) =>
      val terms = Seq("spark", "hash", "vector")
      val docs = Tables.documents(s, d)
      val lens = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("len"))
      val stats = lens.agg(count(lit(1)).as("n_docs"),
        expr("sum(len) * 1000 div count(1)").as("avg_milli"))
      val tf = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tk"))
        .where(col("tk").isin(terms: _*))
        .groupBy("doc_id", "tk").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("tk").agg(count(lit(1)).as("df"))
      tf.join(broadcast(df), Seq("tk"))
        .join(lens, Seq("doc_id"))
        .crossJoin(broadcast(stats))
        .select(col("doc_id"), expr(
          "(((n_docs - df + 1) * 1000000 div (df + 1)) * tf * 2200)" +
            " div (tf * 1000 + (1200 * (250 + (750 * len * 1000) div avg_milli)) div 1000)")
          .as("s"))
        .groupBy("doc_id").agg(sum("s").as("score_ppm"))
        .orderBy(col("score_ppm").desc, col("doc_id"))
        .limit(10)
    },

    // Deterministic corpus shuffle + shard assignment — the training
    // EXPORT step: every epoch-order pipeline (Megatron/T5-style data
    // loaders) wants the corpus split into N shard files whose
    // CONTENTS and ORDER are a pure function of the data, never of the
    // job's partitioning or execution order. Shard = portable 60-bit
    // sha256 hash mod N (the same engine-portable hash simhash_pairs
    // uses — reproducible across engines, reruns, and cluster sizes);
    // within-shard position = rank by (hash, doc_id). Scale: N is the
    // output-file-count knob (thousands at 100 TB, 8 here) and the
    // per-shard window IS the export's per-file sort — each partition
    // holds exactly one output file's rows (corpus/N, bounded by the
    // target file size), which is the one place a full per-key sort is
    // the specified semantics rather than an accident; the physical
    // plan is the same repartition-by-shard + sortWithinPartitions an
    // actual partitioned write would run.
    "llm_shuffle_shards" -> QueryDef(
      doc = "deterministic shuffle + N-shard assignment with in-shard order (training export)",
      oracle = """
        |WITH h AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n_tok,
        |         CAST('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15)
        |              AS BIGINT) AS hv
        |  FROM documents
        |)
        |SELECT doc_id, hv % 8 AS shard,
        |       CAST(row_number() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id)
        |            AS BIGINT) AS pos,
        |       CAST(n_tok AS BIGINT) AS n_tok
        |FROM h ORDER BY doc_id
        |""") { (s, d) =>
      graft.functions.Sha256Chunks.register(s)
      val hv = expr(
        "shiftleft(element_at(sha256_chunks(cast(doc_id as string)), 1), 28) + " +
          "shiftright(element_at(sha256_chunks(cast(doc_id as string)), 2), 4)")
      val sharded = Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tok"),
          hv.as("hv"))
        .withColumn("shard", pmod(col("hv"), lit(8L)))
      // in-shard position via ops.ExactRank: `shard` has FIXED
      // cardinality (the export knob), so a per-shard row_number window
      // would sort N/shards rows in one task at the merge — the r10
      // VERDICT #1 shape, removed here the same way as llm_ppl_buckets
      graft.ops.ExactRank.prefixSum(sharded, "shard",
          Seq(asc("hv"), asc("doc_id")), lit(1L))
        .select(col("doc_id"), col("shard"), col("cum").as("pos"), col("n_tok"))
    },

    // The per-language running token sum is the SAME fixed-cardinality
    // prefix-sum shape as llm_ppl_buckets' rank (r10 VERDICT #1), so it
    // runs through ops.ExactRank — range partition + narrow running
    // sums + broadcast offset add — not a per-lang window that would
    // serialize each language's corpus in one task at the merge.
    "llm_pack_sequences" -> QueryDef(
      doc = "token-budget sequence packing via per-stratum running sum",
      oracle = """
        |WITH t AS (
        |  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tok
        |  FROM documents
        |), packed AS (
        |  SELECT doc_id, lang, n_tok,
        |         CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM t
        |)
        |SELECT doc_id, lang, n_tok, (cum - n_tok) // 2048 AS bin
        |FROM packed
        |ORDER BY doc_id
        |""") { (s, d) =>
      val t = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).as("n_tok"))
      graft.ops.ExactRank.prefixSum(t, "lang",
          Seq(asc("doc_id")), col("n_tok"))
        .select(col("doc_id"), col("lang"), col("n_tok"),
          expr("(cum - n_tok) div 2048").as("bin"))
    },

    // Nested/JSON column extraction over events.props.
    "llm_json_extract" -> QueryDef(
      doc = "from_json/get_json_object extraction + grouped stats",
      oracle = """
        |SELECT event_type,
        |       CAST(json_extract_string(props, '$.k') AS BIGINT) % 7 AS k_mod,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY event_type, k_mod
        |""") { (s, d) =>
      // ONE Jackson parse per row: project the extracted k BEFORE the
      // aggregate. Referencing the get_json_object expression from both
      // the grouping key and sum() made the hash aggregate evaluate the
      // JSON path twice per row (codegen subexpression elimination does
      // not fire across the grouping/agg boundary — r9 VERDICT #4:
      // 0.81 s for a trivial groupBy). CollapseProject will not inline
      // the projection into the aggregate: the extraction is non-cheap
      // and multiply-referenced.
      val k = get_json_object(col("props"), "$.k").cast("long")
      Tables.events(s, d)
        .select(col("event_type"), k.as("k"))
        .groupBy(col("event_type"), (col("k") % 7).as("k_mod"))
        .agg(count(lit(1)).as("n_events"), sum(col("k")).as("k_sum"))
    },

    // Multimodal plumbing: opaque binary column + typed metadata as
    // top-level columns (flattened so the driver's pandas sort can hash
    // them, and so the whole check is SQL-expressible). Decode/
    // feature-extract stubs live in graft.functions.Multimodal
    // (scalatest-covered).
    "llm_multimodal_meta" -> QueryDef(
      doc = "binary column + typed metadata plumbing (decode stubbed)",
      oracle = """
        |SELECT doc_id,
        |       octet_length(encode(text)) AS byte_len,
        |       substring(lower(hex(encode(text))), 1, 16) AS header_hex,
        |       'text/plain' AS mime
        |FROM documents
        |ORDER BY doc_id
        |""") { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          encode(col("text"), "utf-8").as("blob"))
        .select(col("doc_id"),
          length(col("blob")).cast("long").as("byte_len"),
          lower(hex(substring(col("blob"), 1, 8))).as("header_hex"),
          lit("text/plain").as("mime"))
    },

    // The resize/decode leg of the multimodal family, oracle-checked:
    // the stub codec's bytes are deterministic (fixed-layout header +
    // the text's utf-8 bytes as the "pixel" payload), so DuckDB can
    // replay the per-frame nearest-neighbor byte arithmetic exactly —
    // src index f*w*h + (y*h div newH)*w + (x*w div newW), reads past
    // the (possibly truncated) payload read as 0. The Spark side runs
    // the REAL Multimodal.resize + decodeMeta Dataset operators
    // (mapPartitions, map-only); only the blob synthesis is in-query.
    "llm_multimodal_resize" -> QueryDef(
      doc = "per-frame nearest-neighbor resize over the stub codec (real resize+decodeMeta ops)",
      oracle = """
        |WITH d AS (
        |  SELECT doc_id, lower(hex(encode(text))) AS hx,
        |         octet_length(encode(text)) AS blen,
        |         4 + doc_id % 3 AS w, 3 + doc_id % 2 AS h,
        |         1 + doc_id % 3 AS nf
        |  FROM documents
        |), px AS (
        |  SELECT doc_id, nf, w, h, hx, blen, tf.f, ty.y, tx.x,
        |         tf.f * w * h + ((ty.y * h) // 2) * w + ((tx.x * w) // 3) AS src
        |  FROM d,
        |       unnest(generate_series(0, nf - 1)) AS tf(f),
        |       unnest(generate_series(0, 1)) AS ty(y),
        |       unnest(generate_series(0, 2)) AS tx(x)
        |)
        |SELECT doc_id,
        |       'img' AS format,
        |       CAST(3 AS BIGINT) AS width,
        |       CAST(2 AS BIGINT) AS height,
        |       nf AS n_frames,
        |       6 * nf AS byte_len,
        |       string_agg(
        |         CASE WHEN src < least(blen, w * h * nf)
        |              THEN substr(hx, CAST(2 * src + 1 AS INT), 2)
        |              ELSE '00' END, '' ORDER BY f, y, x) AS payload_hex
        |FROM px
        |GROUP BY doc_id, nf
        |ORDER BY doc_id
        |""") { (s, d) =>
      import s.implicits._
      import graft.functions.Multimodal
      val w = col("doc_id") % 3 + 4
      val h = col("doc_id") % 2 + 3
      val nf = col("doc_id") % 3 + 1
      val media = Tables.documents(s, d)
        .select(col("doc_id"), encode(col("text"), "utf-8").as("tb"),
          w.as("w"), h.as("h"), nf.as("nf"),
          (w * h * nf).cast("int").as("plen"))
        .select(col("doc_id").as("mediaId"),
          concat(
            encode(concat_ws("|", lit("GRAFT1"), lit("img"),
              col("w").cast("string"), col("h").cast("string"),
              col("nf").cast("string"), lit("")), "utf-8"),
            expr("substring(tb, 1, plen)")).as("bytes"))
        .as[Multimodal.Media]
      val resized = Multimodal.resize(media, newW = 3, newH = 2)
      // meta via the real decodeMeta; payload bytes re-sliced off the
      // re-encoded blob by the header-advertised payload length
      Multimodal.decodeMeta(resized).toDF()
        .join(resized.toDF(), "mediaId")
        .select(col("mediaId").as("doc_id"),
          col("format"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("nFrames").cast("long").as("n_frames"),
          col("byteLen").cast("long").as("byte_len"),
          lower(hex(expr("substring(bytes, length(bytes) - byteLen + 1)")))
            .as("payload_hex"))
    },

    // SimHash Hamming-distance near-dup JOIN (the 16-bit `llm_simhash`
    // computes signatures only). Manku/Jain/Sarma's web-crawl design
    // (WWW'07): a 60-bit fingerprint split into 4 bands of 15 bits —
    // any pair within Hamming distance ≤3 agrees exactly on ≥1 band
    // (pigeonhole), so candidate generation is an equi-join on
    // (band, chunk), never all-pairs. 60 bits (not 64) keeps the
    // fingerprint positive in a signed BIGINT in both engines (same
    // 15-hex-nibble trick as the portable row hash). Scale: the join
    // key has 4·2^15 values at 15-bit bands — band width is the knob
    // (wider bands → more buckets → fewer collisions); the sha2 +
    // 60 bit-votes evaluate once in the partial aggregation below the
    // groupBy(doc_id) exchange, and both self-join sides reuse that
    // one exchange (same shape as llm_minhash_lsh — see corpus() for
    // why NO fanout: a doc_id pre-partition would eliminate the
    // reusable exchange and run the signature pipeline twice).
    "llm_simhash_pairs" -> QueryDef(
      doc = "60-bit SimHash + 4x15-bit banded Hamming join (d<=3 pairs)",
      oracle = s"""
        |WITH toks AS (
        |  SELECT doc_id, CAST('0x' || substr(sha256(t), 1, 15) AS BIGINT) AS hv
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM ($corpusSql))
        |), sig AS (
        |  SELECT doc_id, $simhash60Sql AS si FROM toks GROUP BY doc_id
        |), bands AS (
        |  $simhash60BandsSql
        |)
        |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(bit_count(xor(a.si, b.si)) AS BIGINT) AS hamming
        |FROM bands a JOIN bands b ON a.band = b.band AND a.chunk = b.chunk
        |WHERE a.doc_id < b.doc_id AND bit_count(xor(a.si, b.si)) <= 3
        |ORDER BY doc_a, doc_b
        |""") { (s, d) =>
      graft.functions.Sha256Chunks.register(s)
      // 60-bit token hash = top 60 digest bits, recombined from the
      // native chunk longs ((c0 << 28) | (c1 >> 4) — disjoint bit
      // ranges, so + is |); bit-identical to the oracle's
      // '0x'||substr(sha256(t),1,15) parse, without the hex round trip
      // per token row. The two chunk references share one digest via
      // codegen subexpression elimination (same projection).
      val toks = corpus(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
        .select(col("doc_id"),
          expr("shiftleft(element_at(sha256_chunks(t), 1), 28) + " +
            "shiftright(element_at(sha256_chunks(t), 2), 4)").as("hv"))
      // one aggregate expression per bit; sha2/conv shared across all 60
      // by subexpression elimination in the partial aggregate
      val siTerms = (0 until 60).map { j =>
        when(sum(shiftright(col("hv"), j).bitwiseAND(lit(1L)) * 2 - 1) > 0,
          lit(1L << j)).otherwise(lit(0L))
      }
      val sig = toks.groupBy("doc_id").agg(siTerms.reduce(_ + _).as("si"))
      val bands = sig.select(col("doc_id"), col("si"),
          explode(array((0 until 4).map(b => struct(lit(b).as("band"),
            shiftright(col("si"), 15 * b).bitwiseAND(lit(32767L))
              .as("chunk"))): _*)).as("bc"))
        .select(col("doc_id"), col("si"),
          col("bc.band").as("band"), col("bc.chunk").as("chunk"))
      val lhs = bands.select(col("band"), col("chunk"),
        col("doc_id").as("doc_a"), col("si").as("si_a"))
      val rhs = bands.select(col("band"), col("chunk"),
        col("doc_id").as("doc_b"), col("si").as("si_b"))
      lhs.join(rhs, Seq("band", "chunk"))
        .where(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          expr("bit_count(si_a ^ si_b)").cast("long").as("hamming"))
        .where(col("hamming") <= 3)
        .distinct()
    },

    // Heaps-law vocabulary growth: new bigram types per ingest bucket of
    // 50 docs, plus the running total — the curve a tokenizer-training
    // pipeline watches to decide when vocab has saturated. Scale: the
    // only corpus-size aggregation is groupBy(gram) → min(doc_id)
    // (uniform keys, map-side combine) — fed doc-DISTINCT bigram rows
    // from the fused bigramEntries pass (r18; the instance explode
    // shuffled every repeat into the partial aggregate for a value
    // that only needs each (doc, gram) once); the cumulative window
    // runs over the BUCKET table (corpus_size / 50 rows — thousands at
    // 100 TB, never the corpus), so the single-partition window is
    // bounded.
    "llm_vocab_growth" -> QueryDef(
      doc = "new + cumulative bigram vocab types per 50-doc ingest bucket",
      oracle = """
        |WITH docs AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), grams AS (
        |  SELECT doc_id,
        |         unnest([toks[i] || ' ' || toks[i+1] FOR i IN range(1, len(toks))]) AS g
        |  FROM docs WHERE len(toks) >= 2
        |), first AS (
        |  SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY g
        |)
        |SELECT first_doc // 50 AS bucket, count(*) AS new_types,
        |       CAST(sum(count(*)) OVER (ORDER BY first_doc // 50) AS BIGINT) AS cum_types
        |FROM first GROUP BY 1 ORDER BY 1
        |""") { (s, d) =>
      val first = bigramEntries(Tables.documents(s, d))
        .groupBy("sh").agg(min("doc_id").as("first_doc"))
      val byBucket = first
        .groupBy(expr("first_doc div 50").as("bucket"))
        .agg(count(lit(1)).as("new_types"))
      byBucket.withColumn("cum_types",
        sum("new_types").over(Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    },

    // Incremental dedup: a new crawl batch (fresh docs + re-crawled
    // copies of already-ingested pages under new ids) deduped first
    // WITHIN the batch (min-id canonical) and then anti-joined against
    // the historical digest index. This is the daily-ingest shape at
    // 100 TB: the historical side is digest-only (12-byte key you keep
    // bucketed between runs, NOT the corpus text), the batch side
    // map-side-combines before its shuffle, and the anti-join hashes on
    // uniform sha2 digests — no skew, no growth with history beyond the
    // index itself.
    "llm_incremental_dedup" -> QueryDef(
      doc = "new-batch dedup vs historical digest index (anti-join)",
      oracle = """
        |WITH corpus AS (
        |  SELECT doc_id, text, doc_id % 10 < 8 AS hist FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id, text, false AS hist
        |  FROM documents WHERE doc_id % 7 = 0
        |), histd AS (
        |  SELECT DISTINCT substr(sha256(text), 1, 12) AS text_digest
        |  FROM corpus WHERE hist
        |), incb AS (
        |  SELECT substr(sha256(text), 1, 12) AS text_digest,
        |         min(doc_id) AS doc_id
        |  FROM corpus WHERE NOT hist GROUP BY 1
        |)
        |SELECT doc_id, text_digest FROM incb
        |WHERE text_digest NOT IN (SELECT text_digest FROM histd)
        |ORDER BY doc_id
        |""") { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val hist = docs.where(col("doc_id") % 10 < 8)
      val batch = docs.where(col("doc_id") % 10 >= 8)
        .unionByName(docs.where(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 2000000).as("doc_id"), col("text")))
      val histIdx = hist
        .select(substring(sha2(col("text"), 256), 1, 12).as("text_digest"))
        .distinct()
      val batchCanon = batch
        .groupBy(substring(sha2(col("text"), 256), 1, 12).as("text_digest"))
        .agg(min("doc_id").as("doc_id"))
      batchCanon.join(histIdx, Seq("text_digest"), "left_anti")
        .select("doc_id", "text_digest")
    },

    // BPE merge statistics: adjacent character-pair counts weighted by
    // word frequency — the per-iteration count table a byte-pair-
    // encoding tokenizer trainer maximizes over. The corpus-scale pass
    // is ONE groupBy(token) count; the pair explode then runs over the
    // VOCABULARY (distinct words, Heaps-bounded ≪ corpus) weighted by
    // the precomputed frequencies — exactly how production BPE trainers
    // scale (word-freq dict, never the raw corpus, per merge round).
    // Top-20 by (count DESC, pair ASC) — unique ordering, engine-stable.
    "llm_bpe_pairs" -> QueryDef(
      doc = "BPE merge-pair counts over the word-frequency dict (top 20)",
      oracle = """
        |WITH words AS (
        |  SELECT t, count(*) AS freq
        |  FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
        |  GROUP BY t
        |), pairs AS (
        |  SELECT unnest([t[i:i+1] FOR i IN range(1, len(t))]) AS pair, freq
        |  FROM words WHERE len(t) >= 2
        |)
        |SELECT pair, CAST(sum(freq) AS BIGINT) AS n
        |FROM pairs GROUP BY pair ORDER BY n DESC, pair LIMIT 20
        |""") { (s, d) =>
      val words = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("t"))
        .groupBy("t").agg(count(lit(1)).as("freq"))
        .where(length(col("t")) >= 2)
      val pairs = words.select(explode(expr(
        "transform(sequence(1, length(t) - 1), i -> substring(t, i, 2))"))
        .as("pair"), col("freq"))
      pairs.groupBy("pair").agg(sum("freq").as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(20)
    },

    // Quality-filter funnel: per-stage survivor counts through the
    // chained curation filters (length → stopword ratio → lexical
    // diversity) — the acceptance report every corpus-curation run
    // publishes. ONE corpus scan computes all stage flags (cumulative
    // AND chain, integer arithmetic at every threshold so no float
    // boundary can flip a row between engines), one 1-row aggregation,
    // then a constant-size unpivot. No shuffle carries document text.
    "llm_filter_funnel" -> QueryDef(
      doc = "survival counts through chained quality filters",
      oracle = """
        |WITH t AS (
        |  SELECT len(string_split(text, ' ')) AS n,
        |         len(list_distinct(string_split(text, ' '))) AS nd,
        |         len(list_filter(string_split(text, ' '),
        |                         x -> x IN ('the', 'a'))) AS nstop
        |  FROM documents
        |), agg AS (
        |  SELECT count(*) AS s0,
        |         CAST(sum(CASE WHEN n >= 20 THEN 1 ELSE 0 END) AS BIGINT) AS s1,
        |         CAST(sum(CASE WHEN n >= 20 AND nstop*10 >= n THEN 1 ELSE 0 END) AS BIGINT) AS s2,
        |         CAST(sum(CASE WHEN n >= 20 AND nstop*10 >= n AND nd*2 >= n THEN 1 ELSE 0 END) AS BIGINT) AS s3
        |  FROM t
        |)
        |SELECT 's0_all' AS stage, s0 AS n_docs FROM agg
        |UNION ALL SELECT 's1_length', s1 FROM agg
        |UNION ALL SELECT 's2_stopword', s2 FROM agg
        |UNION ALL SELECT 's3_lexical_diversity', s3 FROM agg
        |ORDER BY stage
        |""") { (s, d) =>
      val t = Tables.documents(s, d).select(
        size(split(col("text"), " ")).as("n"),
        size(array_distinct(split(col("text"), " "))).as("nd"),
        expr("size(filter(split(text, ' '), x -> x = 'the' OR x = 'a'))")
          .as("nstop"))
      val f1 = col("n") >= 20
      val f2 = f1 && col("nstop") * 10 >= col("n")
      val f3 = f2 && col("nd") * 2 >= col("n")
      val agg = t.agg(
        count(lit(1)).as("s0"),
        sum(when(f1, 1L).otherwise(0L)).as("s1"),
        sum(when(f2, 1L).otherwise(0L)).as("s2"),
        sum(when(f3, 1L).otherwise(0L)).as("s3"))
      agg.selectExpr(
        "stack(4, 's0_all', s0, 's1_length', s1, " +
          "'s2_stopword', s2, 's3_lexical_diversity', s3) AS (stage, n_docs)")
    },

    // Training-mixture weighting: per-language token counts vs a target
    // mixture → integer-ppm sampling weights (upsample factor per
    // stratum) — the data-mixing step before temperature sampling.
    // ONE corpus-scale aggregation (token counts per lang, map-side
    // combine); everything after runs on the LANGUAGE table (bounded by
    // the language inventory at any corpus size — the unbounded window
    // is over that bounded frame). All ratio arithmetic is integer ppm:
    // floor (DuckDB //) and truncation (Spark div) agree on positives,
    // so no float boundary can split the engines.
    "llm_mixture_weights" -> QueryDef(
      doc = "per-language sampling weights toward a target mixture (ppm)",
      oracle = """
        |WITH lt AS (
        |  SELECT lang,
        |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1
        |), t AS (
        |  SELECT lang, n_tokens,
        |         CAST(sum(n_tokens) OVER () AS BIGINT) AS tot,
        |         CAST(CASE WHEN lang = 'en' THEN 400000 ELSE 150000 END AS BIGINT)
        |           AS target_ppm
        |  FROM lt
        |)
        |SELECT lang, n_tokens, target_ppm,
        |       n_tokens * 1000000 // tot AS actual_ppm,
        |       target_ppm * 1000000 // (n_tokens * 1000000 // tot) AS weight_ppm
        |FROM t ORDER BY lang
        |""") { (s, d) =>
      val lt = Tables.documents(s, d)
        .groupBy("lang")
        .agg(sum(size(split(col("text"), " "))).as("n_tokens"))
      val t = lt
        .withColumn("tot", sum("n_tokens").over(Window.partitionBy()))
        .withColumn("target_ppm",
          when(col("lang") === "en", 400000L).otherwise(150000L))
      t.select(col("lang"), col("n_tokens"), col("target_ppm"),
        expr("n_tokens * 1000000 div tot").as("actual_ppm"),
        expr("target_ppm * 1000000 div (n_tokens * 1000000 div tot)")
          .as("weight_ppm"))
    },

    // PII redaction (Dolma/RefinedWeb-style pre-training scrub): count
    // then mask emails, IPv4 addresses and phone-like numbers. Pure
    // map-only, no shuffle at all (the driver's checker does the
    // ordering), so the operator scales linearly with input bytes and
    // the regex subset is pinned to where Java and RE2 agree (see
    // emailPat above). Counts are taken BEFORE masking; replacement
    // order (email → IP → phone) matters only in that the placeholders
    // contain no digits. Fused r17 (VERDICT #2 family): the six
    // independent regex expressions (3× regexp_extract_all just for
    // size + 3 nested regexp_replace — six text renders and scans per
    // row, 5.2× DuckDB at sf1) collapse into ONE expression
    // (functions/PiiScrub): one render, five scans (email count+mask
    // share a pass), no match-array columns. PiiScrubSpec pins it
    // element-wise against the composable form.
    "llm_pii_redact" -> QueryDef(
      doc = "regex PII scrub: count + mask emails / IPv4s / phones",
      oracle = s"""
        |WITH pii AS (
        |  SELECT doc_id, $piiTextSql AS t FROM documents
        |)
        |SELECT doc_id,
        |       CAST(len(regexp_extract_all(t, '$emailPat')) AS BIGINT) AS n_email,
        |       CAST(len(regexp_extract_all(t, '$ipPat')) AS BIGINT) AS n_ip,
        |       CAST(len(regexp_extract_all(t, '$phonePat')) AS BIGINT) AS n_phone,
        |       substr(sha256(regexp_replace(regexp_replace(regexp_replace(t,
        |         '$emailPat', '<EMAIL>', 'g'), '$ipPat', '<IP>', 'g'),
        |         '$phonePat', '<PHONE>', 'g')), 1, 12) AS red_digest
        |FROM pii ORDER BY doc_id
        |""") { (s, d) =>
      graft.functions.PiiScrub.register(s, emailPat, ipPat, phonePat)
      // fanout: single-split inputs would run every regex on one task
      // (r17 ADVICE); identity at production split counts
      fanout(Tables.documents(s, d), col("doc_id"))
        .select(col("doc_id"), piiText.as("t"))
        .select(col("doc_id"), expr("pii_scrub(t)").as("st"))
        .select(col("doc_id"),
          col("st.n_email").as("n_email"),
          col("st.n_ip").as("n_ip"),
          col("st.n_phone").as("n_phone"),
          substring(sha2(col("st.redacted"), 256), 1, 12).as("red_digest"))
    },

    // Line-level dedup (CCNet/RefinedWeb: drop lines shared across
    // documents — nav bars, cookie banners — then keep the residue).
    // The corpus has no newlines, so "lines" are aligned 3-token chunks
    // (the same pseudo-line both engines derive). Shape at scale: line
    // construction is map-only per doc (slice over the token array — no
    // token-level explode/shuffle); the duplicate set is a groupBy on
    // the line string over map-side-deduped (line, doc) pairs; removal
    // is the standard instance⋈dup-lines hash join keyed on the line;
    // reconstruction state is per-doc bounded (its own lines). Nothing
    // collects a corpus-scale group.
    "llm_line_dedup" -> QueryDef(
      doc = "cross-doc duplicate line removal + doc reconstruction",
      oracle = """
        |WITH docs AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) > 0
        |), lines AS (
        |  SELECT doc_id, j AS li,
        |         array_to_string(list_slice(toks, j*3 + 1, j*3 + 3), ' ') AS line
        |  FROM docs, unnest(generate_series(0, (len(toks) + 2) // 3 - 1)) AS t(j)
        |), dup AS (
        |  SELECT line FROM lines GROUP BY line HAVING count(DISTINCT doc_id) >= 2
        |), marked AS (
        |  SELECT l.doc_id, l.li, l.line, d.line IS NOT NULL AS is_dup
        |  FROM lines l LEFT JOIN dup d ON l.line = d.line
        |)
        |SELECT doc_id,
        |       count(*) AS n_lines,
        |       CAST(count(CASE WHEN NOT is_dup THEN 1 END) AS BIGINT) AS n_kept,
        |       substr(sha256(coalesce(
        |         string_agg(CASE WHEN NOT is_dup THEN line END, ' ' ORDER BY li),
        |         '')), 1, 12) AS kept_digest
        |FROM marked GROUP BY doc_id ORDER BY doc_id
        |""") { (s, d) =>
      // r18 OPT: `hashed` below has TWO consumers (the duplicate-set
      // aggregation and the removal join), so the whole scan → split →
      // line-render → hash pipeline ran TWICE, and — single-row-group
      // test parquet — each run sat on the scan's 2 tasks (event-log
      // profile: 3.2 s + 2.8 s of the query's 6.8 s). A fanout at the
      // SOURCE gives both consumers one exchange that AQE reuses
      // (ReusedExchange — the llm_minhash_lsh pattern), and the
      // per-line work above it runs at full shuffle width. The old
      // `size(toks) > 0` guard only rejected NULL text (split always
      // yields ≥1 element otherwise) — stated directly so the text
      // can ship unsplit and tokenize post-exchange (guide §2.3).
      val lines = fanout(Tables.documents(s, d)
          .where(col("text").isNotNull)
          .select(col("doc_id"), col("text")), col("doc_id"))
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"), posexplode(expr(
          // sequence() ascends: size(toks) >= 1 under the NULL guard
          "transform(sequence(0, (size(toks) + 2) div 3 - 1), " +
            "j -> array_join(slice(toks, j*3 + 1, 3), ' '))")).as(Seq("li", "line")))
      // the dup branch keys on a 64-bit line hash, not the line string:
      // the duplicate-set aggregation and the removal join shuffle and
      // compare fixed-width longs while the strings stay put on the
      // instance rows (they are only needed for the per-doc digest).
      // The hash is internal — a cross-line collision (~1e-12 at corpus
      // scale) is the ngram_hashes/decontaminate trade, accepted.
      val hashed = lines.withColumn("lh", xxhash64(col("line")))
      val dup = hashed.groupBy("lh")
        .agg(countDistinct("doc_id").as("ldf"))
        .where(col("ldf") >= 2)
        .select(col("lh"), lit(1).as("is_dup"))
      hashed.join(dup, Seq("lh"), "left")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_lines"),
          count(when(col("is_dup").isNull, 1)).as("n_kept"),
          substring(sha2(expr(
            // kept lines back in document order: li is unique per doc,
            // so the struct sort is total; dropped lines become NULL
            // fields filtered after extraction (collect_list would skip
            // top-level NULLs but not struct members).
            "array_join(filter(transform(array_sort(collect_list(" +
              "struct(li, CASE WHEN is_dup IS NULL THEN line END AS l))), " +
              "x -> x.l), x -> x IS NOT NULL), ' ')"), 256), 1, 12)
            .as("kept_digest"))
    },

    // Inverted index build: per-token document frequency, term
    // frequency, and a BOUNDED first-5 posting list. The posting list is
    // the scale trap: slice(array_sort(collect_set(doc_id)), 1, 5) holds
    // every stopword's FULL doc set in the aggregation buffer (corpus-
    // scale for frequent tokens at 100 TB) just to throw all but 5 away
    // — ops.BottomK caps buffer, spill and shuffle bytes at O(k) per
    // token for the whole aggregate lifecycle (see BottomKDistinctLong:
    // numeric order, not lexicographic). Input rows are the fused
    // per-doc token→count entries (ngram_counts at n=1, r18): the
    // token explode shuffled one row per INSTANCE into the aggregate
    // (df via a count_distinct two-phase expansion on top); entries
    // are doc-distinct, so df is a plain count, tf a cnt sum, and the
    // exchange carries each (doc, token) once.
    "llm_inverted_index" -> QueryDef(
      doc = "token df/tf + bounded bottom-5 posting list",
      oracle = """
        |WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
        |), agg AS (
        |  SELECT token, count(DISTINCT doc_id) AS df, count(*) AS tf
        |  FROM tok GROUP BY token
        |), d AS (
        |  SELECT DISTINCT token, doc_id FROM tok
        |), r AS (
        |  SELECT token, doc_id,
        |         row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn
        |  FROM d
        |), p AS (
        |  SELECT token, string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
        |  FROM r WHERE rn <= 5 GROUP BY token
        |)
        |SELECT a.token, a.df, a.tf, p.postings
        |FROM agg a JOIN p USING (token) ORDER BY token
        |""") { (s, d) =>
      graft.functions.NgramCounts.register(s)
      fanout(Tables.documents(s, d), col("doc_id"))
        .select(col("doc_id"),
          expr("inline(ngram_counts(split(text, ' '), 1))"))
        .groupBy("sh")
        .agg(count(lit(1)).as("df"), sum(col("cnt")).as("tf"),
          graft.ops.BottomK.bottomKDistinctLong(col("doc_id").cast("long"), 5)
            .as("post_ids"))
        .select(col("sh").as("token"), col("df"), col("tf"),
          array_join(transform(col("post_ids"), _.cast("string")), ",")
            .as("postings"))
    },

    // Bigram-LM quality score (the CCNet/Gopher-style perplexity-proxy
    // filter: score each document under a count-based language model;
    // low-probability docs are gibberish/boilerplate candidates). The
    // LM here is add-one-smoothed bigram MLE trained on the corpus
    // itself; a production run trains counts on a REFERENCE corpus
    // (Wikipedia in CCNet) and the count tables below become
    // broadcast-joined lookups with an OOV fallback — identical plan,
    // different count source. All arithmetic is integer ppm (per-
    // instance prob_ppm = (c2+1)·1e6 // (c1+V); doc score = mean) —
    // a float log-prob would diverge across engines in the last ulp,
    // and the fixed-point mean preserves the filter ordering. Shape:
    // c2 (the bigram count table — observed-bigram-bounded, Heaps-
    // sublinear vs corpus, the LM itself) has TWO consumers (the
    // instance join and c1's derivation); their pruned subtrees
    // canonicalize differently (same divergence class as c8's enc —
    // executed-plan audit showed the bigram pipeline rebuilt under
    // c1), and c2 is exactly the dimension-scale frame the c8 note
    // prescribes materializing: persist + deferred release via
    // ops.Releases. c1 (unigram context totals) then derives from the
    // persisted TABLE and broadcasts; V is one scalar. The corpus-
    // scale work is two bigram-stream passes (count build + scoring
    // join) and the final per-doc agg — the instance stream itself is
    // never persisted (too big at 100 TB; recompute is one
    // scan+explode).
    "llm_lm_score" -> QueryDef(
      doc = "add-one bigram LM quality score per doc (integer-ppm CCNet-style filter)",
      oracle = lmScoreOracleSql) { (s, d) =>
      lmScore(Tables.documents(s, d))
    },

    // Driver-checked green row for the STREAMING scorer (r9 VERDICT
    // "Next round" #8): lmScoreStream's plan is STATELESS — broadcast
    // model maps + per-row higher-order transforms, no streaming
    // aggregation — so the exact transformation the stream executes
    // per micro-batch also runs as a batch DataFrame. Scoring docs
    // against the corpus's OWN published model reproduces batch
    // llm_lm_score row-for-row (the add-one OOV floor never fires on
    // in-model text), so the oracle is the same SQL restricted to the
    // scored slice: the driver hash-checks the streaming scorer's ppm
    // arithmetic end-to-end, complementing StreamBatchEquivSpec.
    //
    // The SCORED side is a 1-in-10 slice — the stream's actual
    // deployment shape (a trickle of ARRIVING docs scored against a
    // published model; it never re-scores a corpus — that is batch
    // llm_lm_score's job). The scorer entry point is SIZE-GATED (r17,
    // closing r16 VERDICT #1): the corpus-built model here grows with
    // the corpus, and the broadcast-map form's per-bigram element_at
    // is an O(|model|) LINEAR scan (GetMapValue has no hash index) —
    // measured superlinear end-to-end, 1.75 s at sf0.1 → 68.4 s at
    // sf1 (39× wall for 10× data, 60× the DuckDB oracle). Above
    // maxMapModel bigram entries lmScoreStream auto-delegates to the
    // O(1)-probe equi-join scorer (lmScoreStreamJoin); both paths are
    // row-identical (StreamBatchEquivSpec) and LmScoreStreamGateSpec
    // pins the plan shape on each side of the gate.
    "stream_lm_score" -> QueryDef(
      doc = "the streaming LM scorer's stateless plan on an arriving-doc slice",
      oracle = lmScoreOracleSql.replace("FROM bg JOIN",
        "FROM (SELECT * FROM bg WHERE doc_id % 10 = 0) bg JOIN")) { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val (c2, c1, v) = lmModel(docs)
      graft.streaming.Streams.lmScoreStream(
        docs.where(col("doc_id") % 10 === 0), c2, c1, v)
    },

    // CCNet's head/middle/tail split (Wenzek et al. 2020,
    // arXiv:1911.00359 §4.3): per-language terciles of the LM quality
    // score — the bucket column IS the curation artifact (train on
    // head+middle, hold out tail). Bucket by exact per-language rank
    // with a deterministic tie-break, bucket = ((rn-1)*3) div n — an
    // integer rule with no percentile-interpolation semantics to
    // diverge across engines (ties split by doc_id, so both sides
    // assign identically). avg_prob_ppm DESC = most-fluent-first, so
    // bucket 0 is CCNet's "head". Scale note (r10 VERDICT #1): the
    // per-language exact rank runs through ops.ExactRank — range
    // partition on (lang, score, doc_id), per-partition running
    // counts, broadcast offset add — so NO task ever sorts more than
    // one range partition even though `lang` has fixed cardinality (a
    // row_number window would serialize each language's whole corpus
    // in one task at the merge). Identical output, and `cum` is
    // BIGINT so the *3 arithmetic cannot overflow past 715M docs per
    // language the way the window's 32-bit row_number did (r10
    // ADVICE). Measured trade at sf0.1 (probe decomposition): the
    // scorer pipeline alone is ~1.0 s and the window formulation
    // fused rank into it for ~0.96 s total; ExactRank's machinery
    // (two pinned relations + the range exchange + offset join) adds
    // ~0.2-0.4 s of FIXED stage barriers on the 6 k-row scored
    // relation — pure scheduling floor at test scale, amortized at
    // corpus scale, where the single-task merge it removes is the
    // difference between finishing and not. The sketch flavor (GK
    // tercile thresholds + map-only bucket join) remains
    // llm_approx_stats' percentile path.
    "llm_ppl_buckets" -> QueryDef(
      doc = "CCNet head/middle/tail: per-language LM-score terciles",
      oracle = s"""
        |WITH scored AS (
        |${lmScoreOracleSql.stripMargin.trim}
        |), j AS (
        |  SELECT s.doc_id, d.lang, s.avg_prob_ppm
        |  FROM scored s JOIN documents d USING (doc_id)
        |), r AS (
        |  SELECT doc_id, lang, avg_prob_ppm,
        |         row_number() OVER (PARTITION BY lang
        |                            ORDER BY avg_prob_ppm DESC, doc_id) AS rn,
        |         count(*) OVER (PARTITION BY lang) AS n
        |  FROM j
        |)
        |SELECT doc_id, lang, avg_prob_ppm,
        |       CAST((rn - 1) * 3 // n AS BIGINT) AS bucket
        |FROM r ORDER BY doc_id
        |""") { (s, d) =>
      val docs = Tables.documents(s, d)
      val scored = lmScore(docs)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("avg_prob_ppm"))
      graft.ops.ExactRank.prefixSum(scored, "lang",
          Seq(desc("avg_prob_ppm"), asc("doc_id")), lit(1L))
        .select(col("doc_id"), col("lang"), col("avg_prob_ppm"),
          expr("((cum - 1) * 3) div n").cast("long").as("bucket"))
    },
  )

  /** The SemDeDup pair-prune stage over ANY cell assignment — input
    * `(cell, vec_id, embedding)`, output `(vec_id, cell, kept)` where
    * kept = no LOWER-id vector in the same cell has cosine ≥ tau/1000.
    * Norms are computed once per vector (N rows, never per pair); the
    * drop set is a DISTINCT id list joined back as one equi join — no
    * window, no per-cell collection. The pair space is Σ cell², so the
    * caller owns the density knob: production pairs this with
    * `ops.Ivf.build(embeddings, k ∝ N)` (bounded cell occupancy keeps
    * the pair space linear in the corpus — measured in the r10 sf1
    * sweep); the `llm_semantic_dedup` query wires
    * [[graft.ops.CosineLsh.signKey]] cells instead — a deterministic
    * sign-sketch hash grid whose cell count derives from count(*) in
    * both engines, so the DuckDB oracle replays the scaled assignment
    * (r10 VERDICT #2; a k-means run is not oracle-replayable). */
  private[graft] def semanticDedup(s: org.apache.spark.sql.SparkSession,
      vectors: org.apache.spark.sql.DataFrame, tauMilli: Int)
      : org.apache.spark.sql.DataFrame = {
    val v = vectors
      .select(col("cell"), col("vec_id"), col("embedding"),
        sqrt(dotScaled(s, "embedding", "embedding").cast("double")).as("nrm"))
    val a = v.select(col("cell"), col("vec_id").as("vec_a"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = v.select(col("cell"), col("vec_id").as("vec_b"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    val dropped = a.join(b, Seq("cell"))
      .where(col("vec_a") < col("vec_b"))
      .where(floor(lit(1000.0) * dotScaled(s, "ea", "eb") /
        (col("na") * col("nb"))).cast("long") >= tauMilli)
      .select(col("vec_b").as("vec_id")).distinct()
    v.select(col("vec_id"), col("cell"))
      .join(dropped.withColumn("drp", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("drp").isNull.as("kept"))
  }

  /** Shared by `llm_lm_score` (batch pipeline) and `stream_lm_score`
    * (the streaming scorer's plan run in batch): both must reproduce
    * the same add-one-smoothed integer-ppm scores. (A def, not a val:
    * it is referenced from the `defs` map ABOVE its definition, and an
    * object's vals initialize in declaration order.) */
  private def lmScoreOracleSql = """
    |WITH w AS (
    |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    |), bg AS (
    |  SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
    |  FROM w, unnest(range(1, len(ws))) AS t(i)
    |  WHERE len(ws) >= 2
    |), c2 AS (
    |  SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2
    |), c1 AS (
    |  SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1
    |), v AS (
    |  SELECT count(DISTINCT tk) AS v FROM (
    |    SELECT unnest(string_split(text, ' ')) AS tk FROM documents)
    |)
    |SELECT bg.doc_id,
    |       count(*) AS n_bigrams,
    |       CAST(sum((c2.c2 + 1) * 1000000 // (c1.c1 + v.v)) // count(*)
    |            AS BIGINT) AS avg_prob_ppm
    |FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
    |GROUP BY 1 ORDER BY 1
    |"""

  /** The llm_lm_score pipeline from a `(doc_id, text)` frame onward.
    *
    * Model-join shape (r12 VERDICT #7, extended r13 VERDICT #1): BOTH
    * model relations — c2 (bigram counts) and c1 (context totals) —
    * are FORCED broadcast by default. The model is Heaps-law
    * sublinear in the corpus (c1: unigram vocabulary, 31 k rows even
    * at sf100; c2: bigram types, a higher Heaps exponent but still
    * type counts, not token counts), so shipping it to every task
    * beats shuffling the corpus-scale EXPLODED bigram-instance stream
    * on its join keys. Under broadcast the whole scorer is map-side:
    * `lmBigrams` keeps each doc's bigrams co-located, both model
    * joins are BroadcastHashJoin over the un-shuffled instance
    * stream, and the ONLY corpus shuffle left is the one-row-per-doc
    * partial-aggregate output into groupBy(doc_id) — this is what
    * turned the sf1000 scorer from a 160 GB shuffle-disk wall (r13)
    * into a runnable plan (r14). The broadcast
    * argument holds until a tokenizer change makes the model a
    * function of corpus size (byte-level BPE merges, URL/hash
    * tokens, …) — c2 crosses that line an order of magnitude before
    * c1 does; for that regime set
    * `spark.graft.lmScore.broadcastModel=false` and BOTH model joins
    * become MERGE-hinted equi-joins: the corpus shuffles on (w1,w2)
    * then w1 once each, sort-merge never builds an in-heap hash map
    * of the model, and — the r14-VERDICT #7 point — the hint makes
    * broadcast IMPOSSIBLE in this mode, so a Catalyst size-estimate
    * change (or a stats refresh shrinking the model's apparent size
    * under autoBroadcastJoinThreshold) can never silently ship a
    * corpus-sized model to every task. Scores are bit-identical under
    * both modes (integer-ppm arithmetic; LmScoreModeSpec pins both
    * the strategy and the scores). */
  private[graft] def lmScore(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val bg = lmBigrams(docs)
    val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.ops.Releases.defer(() => { c2.unpersist(true); () })
    val c1 = c2.groupBy("w1").agg(sum("c2").as("c1"))
    val broadcastModel = docs.sparkSession.conf
      .getOption("spark.graft.lmScore.broadcastModel").forall(_.toBoolean)
    val modelC1 = if (broadcastModel) broadcast(c1) else c1.hint("merge")
    val modelC2 = if (broadcastModel) broadcast(c2) else c2.hint("merge")
    val v = docs
      .select(explode(split(col("text"), " ")).as("tk"))
      .agg(countDistinct("tk").as("v"))
    bg.join(modelC2, Seq("w1", "w2"))
      .join(modelC1, Seq("w1"))
      .crossJoin(v)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        expr("sum((c2 + 1) * 1000000 div (c1 + v)) div count(1)")
          .cast("long").as("avg_prob_ppm"))
  }

  /** The bigram-instance stream `(doc_id, w1, w2)` behind llm_lm_score:
    * in-row adjacent-token structs, then ONE explode — a posexplode +
    * self-join on (doc, pos+1) would pay a corpus shuffle just to pair
    * adjacent tokens. */
  private[graft] def lmBigrams(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // r18 OPT (guide §2.3): the fanout exchange used to carry the
    // split token ARRAY, which put the whole tokenize pass on the
    // scan's split count (2 tasks at sf1 — 0.9 s per bg consumer).
    // Ship the raw text and split POST-exchange instead: same bytes
    // on the wire, tokenize runs at full shuffle width — and the
    // ≥2-token guard becomes a byte scan (text has ≥2 space-separated
    // tokens iff it contains a space; NULL text fails both forms).
    fanout(docs
        .where(col("text").contains(" "))
        .select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ws) - 1), i -> named_struct(" +
          "'w1', element_at(ws, i), 'w2', element_at(ws, i + 1)))"))
        .as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
  }

  /** The publishable LM model behind llm_lm_score — what a periodic
    * batch pass hands to [[graft.streaming.Streams.lmScoreStream]]:
    * bigram counts c2, context totals c1, vocab size V. The action on V
    * is a one-scalar collect (the model build is a batch job, not a
    * query path). */
  private[graft] def lmModel(docs: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame, Long) = {
    // same materialization rule as lmScore's c2 (the c8 note): the
    // bigram count table has SEVERAL consumers — c1's derivation, the
    // scoring join, and (since r17) the size gate's count() in
    // lmScoreStream — each of which would otherwise rebuild the whole
    // corpus-scale bigram pipeline; persist once, release deferred
    val c2 = lmBigrams(docs).groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.ops.Releases.defer(() => { c2.unpersist(true); () })
    val c1 = c2.groupBy("w1").agg(sum("c2").as("c1"))
    val v = docs.select(explode(split(col("text"), " ")).as("tk"))
      .agg(countDistinct("tk").as("v")).head.getLong(0)
    (c2, c1, v)
  }
}
