package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Untimed warmup shared by Bench and Probe: exercises the operator
  * code paths the measured queries share — scan + hash agg, broadcast
  * join, window, object hash agg (collect_list), semi join, the
  * hash/explode/window shapes of the document queries, and the binary
  * shapes (encode/hex/substring-on-BinaryType) of the multimodal
  * query — all on the 25-row nation table. This moves Janino's own JIT
  * warmup and the first compile of each generated-code shape out of the
  * first measured query that would otherwise absorb it (round 3:
  * v8_translations 2.4 s -> 0.22 s; round 4: llm_multimodal_meta was a
  * 2.0 s bench row for an 0.1 s steady-state query purely because the
  * BinaryType codegen shape compiled first inside its timing window).
  */
object Warmup {
  def run(spark: SparkSession, sfDir: String): Unit = {
    def sink(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
    try {
      sink((s, d) => Tables.nation(s, d).groupBy("n_regionkey").count())
      sink((s, d) => {
        val n = Tables.nation(s, d)
        val w = Window.partitionBy("n_regionkey").orderBy("n_nationkey")
        n.join(broadcast(Tables.region(s, d)),
            col("n_regionkey") === col("r_regionkey"))
          .join(n.select(col("n_nationkey").as("k")),
            col("n_nationkey") === col("k"), "left_semi")
          .withColumn("rn", row_number().over(w))
          .groupBy("n_regionkey")
          .agg(collect_list(struct(col("rn"), col("n_name"))).as("xs"),
            min(struct(col("rn"), col("n_nationkey"))).as("m"))
      })
      // hash/explode/window shapes the document queries compile
      sink((s, d) => {
        val w = Window.partitionBy("n_regionkey").orderBy("pos")
          .rowsBetween(-3, 0)
        Tables.nation(s, d)
          .select(col("n_regionkey"),
            posexplode(split(col("n_name"), "")).as(Seq("pos", "ch")))
          .repartition(col("n_regionkey"), col("ch"))
          .withColumn("wm",
            min(conv(substring(sha2(col("ch"), 256), 1, 8), 16, 10)
              .cast("long")).over(w))
          .groupBy("n_regionkey")
          .agg(array_sort(collect_set(col("wm"))).as("s"),
            min(conv(substring(sha2(col("ch"), 256), 9, 8), 16, 10)
              .cast("long")).as("m"))
      })
      // BinaryType shapes (encode -> length/hex/substring-on-binary)
      // that llm_multimodal_meta compiles
      sink((s, d) => Tables.nation(s, d)
        .select(col("n_nationkey"), encode(col("n_name"), "utf-8").as("b"))
        .select(col("n_nationkey"),
          length(col("b")).cast("long").as("byte_len"),
          lower(hex(substring(col("b"), 1, 8))).as("header_hex"),
          lit("x").as("mime")))
      // ANN/IVF shapes (l2_sq + dot_scaled codegen, broadcast cross
      // join + min(struct) argmin, posexplode + DECIMAL mean, ranked
      // windows) that the llm_ann_* queries compile — a 32-vector
      // index build+search moves those first compiles out of
      // llm_ann_ivf_centroids' timed window (the round-4
      // llm_multimodal_meta fix, same anomaly class: 1.7 s bench row
      // for a 0.95 s steady-state query)
      locally {
        val e = Tables.embeddings(spark, sfDir).limit(32)
        val ix = graft.ops.Ivf.buildIndex(e, k = 2)
        graft.ops.Ivf.search(spark, e, ix.assignments, ix.centroids,
          e.limit(2), k = 3, nprobe = 2)
          .write.mode("overwrite").format("noop").save()
        ix.release()
      }
      // as-of (union-tag + last-over-window on a struct payload) and
      // range-join (sequence explode + equi join + range filter) shapes
      // behind q7/q8 — tiny nation-derived frames compile the same
      // generated code the event-scale queries run
      locally {
        val n = Tables.nation(spark, sfDir)
          .select(col("n_nationkey").as("id"), col("n_regionkey").as("k"),
            (col("n_nationkey") * 3).as("ts"))
        val r = Tables.nation(spark, sfDir)
          .select(col("n_regionkey").as("k"), (col("n_nationkey") * 2).as("rts"),
            col("n_name").as("payload"))
          .groupBy("k", "rts").agg(max("payload").as("pay"))
        graft.ops.AsOf.backward(n, r, Seq("k"), "ts", "rts")
          .write.mode("overwrite").format("noop").save()
        val iv = Tables.nation(spark, sfDir)
          .select(col("n_nationkey").as("iid"), (col("n_nationkey") * 2).as("s"),
            (col("n_nationkey") * 2 + col("n_regionkey")).as("e"))
        graft.ops.Ranges.pointInInterval(
            Tables.nation(spark, sfDir).select(col("n_nationkey").as("pid"),
              (col("n_nationkey") * 2).as("p")), "p", iv, "s", "e", 7L)
          .write.mode("overwrite").format("noop").save()
      }
      // 60-slot bit-vote HashAggregate + banded bit_count(xor) self-join
      // shapes behind llm_simhash_pairs: the 60-sum partial/final agg is
      // by far the widest generated aggregate in the library and its
      // first compile otherwise lands in the query's timed row (probe at
      // sf0.1: 2.95 s first vs 1.45 s steady)
      sink((s, d) => {
        graft.functions.Sha256Chunks.register(s)
        // the r10 chunked token hash — warm the shape the query runs,
        // not the conv-substring form it replaced
        val hv = Tables.nation(s, d)
          .select(col("n_nationkey"),
            expr("shiftleft(element_at(sha256_chunks(n_name), 1), 28) + " +
              "shiftright(element_at(sha256_chunks(n_name), 2), 4)").as("hv"))
        val siTerms = (0 until 60).map { j =>
          when(sum(shiftright(col("hv"), j).bitwiseAND(lit(1L)) * 2 - 1) > 0,
            lit(1L << j)).otherwise(lit(0L))
        }
        val sig = hv.groupBy("n_nationkey").agg(siTerms.reduce(_ + _).as("si"))
        val bands = sig.select(col("n_nationkey"), col("si"),
            explode(array((0 until 4).map(b => struct(lit(b).as("band"),
              shiftright(col("si"), 15 * b).bitwiseAND(lit(32767L))
                .as("chunk"))): _*)).as("bc"))
          .select(col("n_nationkey"), col("si"),
            col("bc.band").as("band"), col("bc.chunk").as("chunk"))
        bands.select(col("band"), col("chunk"), col("n_nationkey").as("a"),
            col("si").as("si_a"))
          .join(bands.select(col("band"), col("chunk"),
            col("n_nationkey").as("b"), col("si").as("si_b")),
            Seq("band", "chunk"))
          .where(col("a") < col("b"))
          .select(col("a"), col("b"),
            expr("bit_count(si_a ^ si_b)").cast("long").as("h"))
          .where(col("h") <= 60).distinct()
      })
      // MinHash signature + band-join shapes behind llm_minhash_lsh /
      // llm_ngram_jaccard (r10 form: fused sha256_chunks projection,
      // 8× min(element_at) HashAggregate, band-struct explode,
      // bucket self-join; plus the jaccard re-rank's ngram_hashes +
      // sorted_intersect_count merge walk)
      sink((s, d) => {
        graft.functions.Sha256Chunks.register(s)
        graft.functions.NgramHashes.register(s)
        graft.functions.SortedIntersect.register(s)
        val docs = Tables.nation(s, d)
          .select(col("n_nationkey").cast("long").as("doc_id"),
            split(lower(col("n_name")), "").as("toks"))
        val shing = docs
          .select(col("doc_id"), explode(graft.ops.Winnow.shingles(col("toks"))).as("sh"))
          .select(col("doc_id"), expr("sha256_chunks(sh)").as("ch"))
        val mh = (0 until 8).map(j => min(element_at(col("ch"), j + 1)).as(s"h$j"))
        val sigs = shing.groupBy("doc_id").agg(mh.head, mh.tail: _*)
        val bands = sigs.select(col("doc_id"),
          explode(array((0 until 4).map(b => struct(
            lit(b).as("band_id"), col(s"h${2 * b}").as("k1"),
            col(s"h${2 * b + 1}").as("k2"))): _*)).as("bs"))
          .select(col("doc_id"), col("bs.band_id").as("band_id"),
            col("bs.k1").as("k1"), col("bs.k2").as("k2"))
        val cand = bands.select(col("band_id"), col("k1"), col("k2"),
            col("doc_id").as("doc_a"))
          .join(bands.select(col("band_id"), col("k1"), col("k2"),
            col("doc_id").as("doc_b")), Seq("band_id", "k1", "k2"))
          .where(col("doc_a") < col("doc_b")).select("doc_a", "doc_b").distinct()
        val shs = docs.select(col("doc_id"), expr("ngram_hashes(toks, 3)").as("shs"))
          .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
        cand
          .join(shs.select(col("doc_id").as("doc_a"), col("shs").as("sha_")), Seq("doc_a"))
          .join(shs.select(col("doc_id").as("doc_b"), col("shs").as("shb_")), Seq("doc_b"))
          .select(col("doc_a"), col("doc_b"),
            expr("sorted_intersect_count(sha_, shb_)").as("i"))
      })
      // q24 triangle shapes (r10 form: degree aggregation, by-degree
      // orientation joins, oriented wedge + closing joins, corner
      // explode agg) on a toy K4-plus-pendant graph
      locally {
        import spark.implicits._
        val und = ((for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)) :+ (4L, 5L))
          .toDF("pa", "pb")
        graft.queries.Warehouse.trianglesOriented(
            graft.queries.Warehouse.orientByDegree(und))
          .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
          .groupBy("node").agg(count(lit(1)).as("n"))
          .write.mode("overwrite").format("noop").save()
      }
      // banded random-hyperplane LSH shapes (sign-bit aggregation, band
      // keys, bucket self-join): llm_cluster_fixpoint sorts BEFORE the
      // llm_cosine_* queries, so without this it pays their first
      // compile inside its own timed row
      sink((s, d) => graft.ops.CosineLsh.candidates(
        Tables.embeddings(s, d).limit(32), bitsPerBand = 6, nBands = 2))
      // fixpoint label-propagation shapes (explode-symmetrize +
      // checkpoint + join/min-agg rounds) behind llm_cluster_fixpoint —
      // a 3-edge run compiles every per-round plan shape (round-6:
      // first bench iteration carried ~1 s of codegen)
      locally {
        import spark.implicits._
        val lbl = graft.ops.Components.run(
          Seq((1L, 2L), (2L, 3L), (4L, 4L)).toDF("src", "dst"))
        lbl.components.write.mode("overwrite").format("noop").save()
        lbl.release()
      }
      // frontier-BFS and bounded-SSSP round shapes behind q25/q26
      // (expand join + min-dedup + settle anti-join; relax join +
      // min(d+w) agg) — STRING node ids, the type the queries use, so
      // the generated code specializes identically; a 2-edge run
      // compiles every per-round plan
      locally {
        import spark.implicits._
        val bfs = graft.ops.Bfs.run(
          Seq(("a", "b"), ("b", "c")).toDF("src", "dst"),
          Seq("a").toDF("id"))
        bfs.distances.write.mode("overwrite").format("noop").save()
        bfs.release()
        val sssp = graft.ops.Sssp.run(
          Seq(("a", "b", 2L), ("b", "c", 1L)).toDF("src", "dst", "w"),
          Seq("a").toDF("id"), rounds = 3)
        sssp.distances.write.mode("overwrite").format("noop").save()
        sssp.release()
      }
      // minimize-services shapes behind c8_minimize_services: the FULL
      // query pipeline (28-day sequence explode, 4-variant filter,
      // minimizeServices mask aggregation, full_outer summary join) on
      // a 4-row toy input — round-6 warmed minimizeServices alone and
      // the bench row still carried ~3 s of first-compile cost from the
      // shapes around it (probe: 5.95 s first vs 2.2 s steady)
      locally {
        import spark.implicits._
        val cal = Seq((0L, "2024-01-01"), (1L, "2024-01-02"),
          (2L, "2024-01-03"), (3L, "2024-01-04"))
          .toDF("service_id", "sd0")
          .select(col("service_id"), col("sd0").cast("date").as("sd"))
        // AQE OFF for this one warm: on a 4-row input AQE re-plans the
        // summary full_outer join as a tiny shuffled-hash join, so the
        // SortMergeJoin-FullOuter codegen the real-scale run needs was
        // never compiled (round-7 probe: 2 s of first-iteration cost
        // survived a shape-correct AQE warmup). The static planner
        // picks SMJ for full_outer at ANY size.
        val aqe = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try graft.queries.Clean.c8Summary(cal)
          .write.mode("overwrite").format("noop").save()
        finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
        // and once WITH AQE, for the adaptive wrappers (AQEShuffleRead,
        // stage-level reuse) around the same shapes
        graft.queries.Clean.c8Summary(cal)
          .write.mode("overwrite").format("noop").save()
        // c8Summary pins its per-service encoding cache and defers the
        // unpersist; warmup owns its own materializations, so drain
        // here — warmup must stay side-effect free
        graft.ops.Releases.drain()
      }
      // q22 PageRank loop shapes (groupBy+join out-degree, persisted
      // edge relation, 3× join + integer-div agg) on a toy graph — r9 bench
      // medians showed 6.4 s first vs 3.4 s steady, the largest
      // first-iteration gap in the suite. Broadcast OFF for the warm:
      // the toy side always broadcasts, but the real 119k-edge loop
      // plans SHUFFLED joins, whose generated code would otherwise
      // first-compile inside the timed row (the c8 AQE-off lesson:
      // warm the shape the real-scale plan actually uses).
      locally {
        import spark.implicits._
        val eo = Seq(("a", "b"), ("b", "c"), ("a", "c"))
          .toDF("src", "dst")
        val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try graft.queries.Warehouse.pagerank3(eo)
          .write.mode("overwrite").format("noop").save()
        finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
        graft.ops.Releases.drain()
      }
      // llm_lm_score shapes (named_struct transform explode, cached
      // bigram-count broadcast join, ppm div aggregation) on a toy frame
      locally {
        import spark.implicits._
        val docs = Seq((1L, "a b c a b"), (2L, "b c d"), (3L, "x"))
          .toDF("doc_id", "text")
        graft.queries.LlmOps.lmScore(docs)
          .write.mode("overwrite").format("noop").save()
        graft.ops.Releases.drain()
      }
      // ExactRank shapes behind llm_ppl_buckets/llm_length_percentiles
      // (range exchange + checkpoint, pid-keyed running-count window,
      // tiny offset windows, broadcast offset join)
      locally {
        import spark.implicits._
        val df = Seq(("x", 3L, 1L), ("x", 1L, 2L), ("y", 2L, 3L))
          .toDF("lang", "score", "doc_id")
        graft.ops.ExactRank.prefixSum(df, "lang",
            Seq(desc("score"), asc("doc_id")), lit(1L))
          .write.mode("overwrite").format("noop").save()
        graft.ops.Releases.drain()
      }
      // BottomK distinct-long Aggregator (ObjectHashAggregate shape
      // behind llm_inverted_index's bounded posting list) + set-op
      // plans (INTERSECT/EXCEPT semi/anti + dedup behind q19)
      sink((s, d) => Tables.nation(s, d)
        .select(col("n_regionkey"), col("n_nationkey"))
        .groupBy("n_regionkey")
        .agg(graft.ops.BottomK.bottomKDistinctLong(col("n_nationkey").cast("long"), 3)
          .as("ks")))
      sink((s, d) => {
        val a = Tables.nation(s, d).select("n_regionkey")
        val b = Tables.nation(s, d).where(col("n_nationkey") > 7)
          .select("n_regionkey")
        a.intersect(b).unionByName(a.except(b)).distinct()
      })
    } catch {
      case scala.util.control.NonFatal(e) =>
        // a degraded warmup silently re-absorbs first-compile codegen
        // cost into the first measured query — the exact anomaly class
        // rounds 3/4 spent turns diagnosing; say so instead
        Console.err.println(s"[warmup] DEGRADED (${e.getClass.getSimpleName}: " +
          s"${e.getMessage}) — first measured query will absorb codegen cost")
    }
  }
}
