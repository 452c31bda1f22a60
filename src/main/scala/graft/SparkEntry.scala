package graft

import graft.functions.TextFunctions
import graft.operators.{AnnSearch, Dbscan, Dedup, KnnJoin}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query keys map to SURVEY.md §2.7's declared query set (Q1..Q7 — the
  * relational decomposition of the reference PDSDBSCAN-D pipeline) plus the
  * engine's extension surface (relational, dedup, ANN, text). Every entry
  * with an `oracleSql` twin uses identical output column names/types so the
  * driver's sorted-column hash compare is meaningful.
  */
object SparkEntry {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** events.ts as epoch millis. LongType only occurs under the
    * nanosAsLong reader flag (raw TIMESTAMP(NANOS)): ns -> ms. A naive
    * TIMESTAMP_NTZ (parquet isAdjustedToUTC=false) is interpreted as UTC
    * via cast — sessions run with spark.sql.session.timeZone=UTC, so the
    * epoch matches DuckDB's epoch_ms on the same naive value. */
  private def eventMs(ev: DataFrame): Column = ev.schema("ts").dataType match {
    case org.apache.spark.sql.types.LongType => expr("ts DIV 1000000")
    case org.apache.spark.sql.types.TimestampNTZType =>
      unix_millis(col("ts").cast(org.apache.spark.sql.types.TimestampType))
    case _ => unix_millis(col("ts"))
  }

  /** Batch sessionization via gaps-and-islands (30-min gap): one row per
    * (user, session) with event count and [start_ms, end_ms] bounds —
    * q21's output, reused as q49's interval input. */
  private def sessionTable(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val w = Window.partitionBy("user_id").orderBy(col("ms"))
    val wRun = Window.partitionBy("user_id").orderBy(col("ms"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.select(col("user_id"), eventMs(ev).as("ms"))
      .withColumn("new_sess",
        when(col("ms") - lag(col("ms"), 1).over(w) > 1800000L, 1)
          .otherwise(when(lag(col("ms"), 1).over(w).isNull, 1).otherwise(0)))
      .withColumn("session_id", sum(col("new_sess")).over(wRun).cast("int"))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min("ms").as("start_ms"), max("ms").as("end_ms"))
  }

  /** Perceptual-hash fixture set (q236/q237): 75 closed-form base
    * images (ids 0–74) + 75 sparsely-perturbed near-copies (id = base
    * + 75, delta 9 on ~3.4% of pixels) — sizes keyed off the BASE so
    * each near-pair shares dimensions, and every size satisfies
    * w ≥ 9, h ≥ 8 (all grid-8 hash cells non-empty). */
  private def phashMedia(s: SparkSession, dir: String): DataFrame = {
    val gen = udf { (id: Long) =>
      val base = id % 75
      graft.operators.Multimodal.syntheticPngNear(base,
        if (id < 75) 0 else 9,
        (12 + base % 4 * 4).toInt, (9 + base % 3 * 3).toInt)
    }
    t(s, dir, "documents").filter(col("doc_id") < 150)
      .select(col("doc_id").as("media_id"), lit("image").as("modality"),
        gen(col("doc_id")).as("payload"))
  }

  /** Video perceptual-hash fixture set (q243/q244): 60 closed-form
    * base CLIPS (animated GIFs, ids 0–59) + 60 sparsely-perturbed
    * near-copies (id = base + 60) — sizes and frame counts keyed off
    * the BASE so each near-pair shares geometry; every size satisfies
    * w ≥ 9, h ≥ 8. */
  private def vhashMedia(s: SparkSession, dir: String): DataFrame = {
    val gen = udf { (id: Long) =>
      val base = id % 60
      graft.operators.Multimodal.syntheticGifNear(base,
        if (id < 60) 0 else 9,
        (12 + base % 3 * 4).toInt, (9 + base % 2 * 3).toInt,
        (2 + base % 3).toInt)
    }
    t(s, dir, "documents").filter(col("doc_id") < 120)
      .select(col("doc_id").as("media_id"), lit("video").as("modality"),
        gen(col("doc_id")).as("payload"))
  }

  /** Audio perceptual-hash fixture set (q245/q246): 60 closed-form
    * base clips (16-bit PCM WAVs, ids 0–59) + 60 sparsely-perturbed
    * near-copies (id = base + 60, delta 25 on every 31st sample) —
    * lengths keyed off the BASE so each near-pair shares geometry;
    * every clip is ≥300 samples (all 65 energy windows non-empty). */
  private def ahashMedia(s: SparkSession, dir: String): DataFrame = {
    val gen = udf { (id: Long) =>
      val base = id % 60
      graft.operators.Multimodal.syntheticWavNear(base,
        if (id < 60) 0 else 25,
        (300 + base % 5 * 200).toInt, 8000)
    }
    t(s, dir, "documents").filter(col("doc_id") < 120)
      .select(col("doc_id").as("media_id"), lit("audio").as("modality"),
        gen(col("doc_id")).as("payload"))
  }

  /** DBSCAN parameters for the embeddings point table (500×64-dim,
    * nearest-pair d² ≈ 1.24): ε=1.2, minPts=8 ⇒ ~212 cores, non-trivial
    * core/border/noise split. */
  private val Eps = 1.2
  private val MinPts = 8

  /** squared-L2 distance between embeddings in DuckDB SQL — kept textually
    * identical across oracles; widen to double BEFORE subtracting, matching
    * graft.functions.SquaredL2's fold. */
  private def d2Sql(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a.embedding, $b.embedding), " +
      "x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * " +
      "(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))"

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * full DBSCAN labels over the embeddings point table. */
  def entry(spark: SparkSession): DataFrame =
    Dbscan.run(t(spark, "/root/testdata/sf0.001", "embeddings"),
      "vec_id", "embedding", Eps, MinPts, Nil)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Q1 — per-dim bounding box (GP-4/GP-5)
    "q1_bbox" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy((col("pos") + 1).as("dim"))
        .agg(min(col("v").cast("double")).as("mn"),
          max(col("v").cast("double")).as("mx"))),

    // Q2 — per-dim exact median (GP-3)
    "q2_median" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy((col("pos") + 1).as("dim"))
        .agg(round(expr("percentile(CAST(v AS DOUBLE), 0.5)"), 6).as("med"))),

    // Q3 — ε-neighbor count per point, self included (IX-2/IX-6, C-1
    // input); 64-d with no bucket dims, so the pairs come from the tiled
    // kd-tree path (EpsilonJoin.selfJoinKd), like q4 and q188
    "q3_neighbor_count" -> ((s, dir) =>
      Dbscan.neighborCounts(t(s, dir, "embeddings"), "vec_id", "embedding",
        Eps, Nil)),

    // Q4 — core points (C-1)
    "q4_core_points" -> ((s, dir) =>
      Dbscan.neighborCounts(t(s, dir, "embeddings"), "vec_id", "embedding",
        Eps, Nil)
        .filter(col("n_neighbors") >= MinPts)
        .select("vec_id")),

    // Q5 — exact k-NN, k=5 (IX-4/IX-5)
    "q5_knn" -> ((s, dir) =>
      KnnJoin.selfKnn(t(s, dir, "embeddings"), "vec_id", "embedding", 5)),

    // Q6 — DBSCAN cluster assignment (C-2..C-5); oracled by a recursive-CTE
    // connected-components SQL twin (label rules are deterministic: min-id
    // components, dense ids by comp order, minClusterSize=2, noise=0)
    "q6_dbscan" -> ((s, dir) =>
      Dbscan.run(t(s, dir, "embeddings"), "vec_id", "embedding",
        Eps, MinPts, Nil)),

    // Q7 — cluster stats report (K-2)
    "q7_cluster_stats" -> ((s, dir) =>
      Dbscan.stats(Dbscan.run(t(s, dir, "embeddings"), "vec_id", "embedding",
        Eps, MinPts, Nil))),

    // Relational extension: grouped aggregation (pricing summary).
    // Money math in integer cents (round(x*100)): sums of integral doubles
    // are exact and order-independent, so Spark and DuckDB agree bit-for-bit
    // regardless of aggregation order (decimal casts would tie-break
    // half-cents differently between engines).
    "q8_agg_pricing" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          (sum(round(col("l_extendedprice") * lit(100.0))) / lit(100.0))
            .as("sum_base_price"),
          (sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * lit(10000.0))) / lit(10000.0)).as("sum_disc_price"),
          count(lit(1)).as("count_order"))),

    // Dedup family: exact word-3-gram Jaccard similarity self-join
    // (inverted-index equi-join — never a cross join)
    "q9_jaccard_pairs" -> ((s, dir) =>
      Dedup.jaccardJoin(t(s, dir, "documents"), "doc_id", "text", 3, 0.5)),

    // Dedup family: MinHash+LSH near-dup join, exact-verified. Same output
    // contract as q9 (recall ≈ 1 at jac ≥ 0.5 with k=128, b=32, r=4).
    "q10_minhash_dedup" -> ((s, dir) =>
      Dedup.minHashJoin(t(s, dir, "documents"), "doc_id", "text", 3, 0.5)),

    // Text analysis: token statistics
    "q11_token_stats" -> ((s, dir) => {
      val ws = TextFunctions.tokens(col("text"))
      t(s, dir, "documents").select(
        col("doc_id"),
        size(ws).cast("long").as("n_tokens"),
        size(array_distinct(ws)).cast("long").as("n_distinct"),
        round(aggregate(transform(ws, w => length(w)), lit(0),
          (acc, x) => acc + x).cast("double") / size(ws), 6).as("avg_token_len"))
    }),

    // Text analysis: stopword-lexicon language ID
    "q12_lang_id" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.langId(col("text")).as("lang_pred"))),

    // Text analysis: quality scoring
    "q13_quality" -> ((s, dir) => {
      val ws = TextFunctions.tokens(col("text"))
      val dws = array_distinct(ws)
      val en = array(TextFunctions.langLexica.head._2.map(lit): _*)
      t(s, dir, "documents").select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_calc"),
        size(ws).cast("long").as("n_tokens"),
        round(size(dws).cast("double") / size(ws), 6).as("distinct_ratio"),
        round(size(array_intersect(dws, en)).cast("double") / size(dws), 6)
          .as("stopword_ratio"),
        (size(ws).between(10, 1000) &&
          (size(dws).cast("double") / size(ws)) >= 0.1).as("quality_ok"))
    }),

    // Text analysis: content fingerprint (md5 — cross-engine checkable)
    "q14_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.fingerprintMd5(col("text")).as("fp"))),

    // Dedup family: exact dedup survivors (min id per identical text)
    "q15_dedup_exact" -> ((s, dir) =>
      Dedup.exact(t(s, dir, "documents"), "doc_id", "text")),

    // ANN: exact cosine top-5 for the query subset vec_id < 50
    "q16_ann_cosine" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("a_id"), col("embedding").as("a_v"))
      val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_v"))
      AnnSearch.bruteForceTopK(q, b, 5)
        .select(col("a_id").as("vec_id"), col("nbr_id"), col("rnk"))
    }),

    // Relational: 3-table join + aggregate (revenue by nation)
    "q17_join_revenue" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(
          (sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * lit(10000.0))) / lit(10000.0)).as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // Relational: global top-k with deterministic tie-break
    "q18_topk_orders" -> ((s, dir) =>
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")),

    // Relational: per-group window top-n
    "q19_window_rank" -> ((s, dir) =>
      t(s, dir, "orders")
        .withColumn("rnk", row_number().over(
          Window.partitionBy("o_custkey")
            .orderBy(col("o_totalprice").desc, col("o_orderkey"))).cast("int"))
        .filter(col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "rnk")),

    // Events: tumbling hourly aggregation (batch twin of the streaming
    // pipeline in graft.streaming — same grouping semantics)
    "q20_events_hourly" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      // ts arrives as TIMESTAMP(MICROS) or, under nanosAsLong, as raw ns
      val hr = ev.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          (expr("ts DIV 3600000000000") * 3600).as("hr")
        case _ => unix_timestamp(date_trunc("hour", col("ts"))).as("hr")
      }
      ev.groupBy(hr, col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          (sum(round(col("value") * lit(100.0))) / lit(100.0)).as("sum_value"))
    }),

    // Events: batch sessionization via gaps-and-islands (30-min gap) —
    // the batch twin of streaming.EventPipeline.sessionize
    "q21_sessions" -> ((s, dir) => sessionTable(s, dir)),

    // Dedup family: SimHash fingerprints. The portable md5-derived token
    // hash makes the whole fingerprint DuckDB-reproducible (engine default
    // stays xxhash64; near-dup recall covered in DedupSpec)
    "q22_simhash" -> ((s, dir) =>
      graft.operators.Dedup.simHash(t(s, dir, "documents"), "doc_id", "text",
        TextFunctions.portableHash60)),

    // ANN: IVF approximate top-5. The index build is exact arithmetic
    // end-to-end (md5 pool + farthest-first seeds, integer Lloyd
    // means), so the DuckDB oracle unrolls the WHOLE pipeline as CTEs
    // and hash-matches the served ranking; recall vs exact is
    // additionally covered in AnnSearchSpec
    // IVF index retraction (production tombstoning): centroids stay
    // the nightly build's (partition geometry, not retrained); every
    // 7th vector is retracted before serving — removed vectors are
    // unreachable, survivors keep their cells, vacated top-k slots
    // fill from the next candidate. Oracle: the full q23 IVF unroll
    // with the serve-side candidates filtered identically
    "q234_ivf_retraction" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("a_id"), col("embedding").as("a_v"))
      val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_v"))
      val cents = AnnSearch.centroids(b, IvfCents)
      AnnSearch.ivfTopKPrebuilt(q,
        AnnSearch.retractFromIvf(b,
          e.filter(col("vec_id") % 7 === 0).select("vec_id"), "vec_id"),
        AnnK, cents, IvfProbe)
        .select(col("a_id").as("vec_id"), col("nbr_id"), col("rnk"))
    }),

    // Standing-state DURABILITY: the q231 fold with a parquet
    // save → reload seam in the middle — init, persist the four state
    // tables + manifest, load them back (no lineage to the building
    // plans, exactly a restarted session), THEN fold the delete batch
    // and label. The oracle is the unchanged from-scratch survivor
    // clustering: any drift the round-trip introduced (schema, value,
    // or invariant) breaks the hash
    "q235_state_reload" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val I = operators.IncrementalDbscan
      val st0 = I.pin(I.init(e, "vec_id", "embedding", Eps, MinPts, Nil))
      val p = java.nio.file.Files.createTempDirectory("graft_state")
      try {
        I.saveState(st0, p.toString, Eps, MinPts, Nil)
        val st1 = I.loadState(s, p.toString, Eps, MinPts, Nil)
        // pin materializes (localCheckpoint), so the parquet state dir
        // is dead weight after this line — delete it eagerly instead of
        // leaking it per invocation (deleteOnExit can't drop non-empty
        // dirs)
        val st2 = I.pin(I.removePoints(st1,
          e.filter(col("vec_id") % 10 === 0).select("vec_id"), "vec_id",
          Eps, MinPts, Nil))
        I.labels(st2)
      } finally Workloads.deleteTree(p.toString)
    }),

    // Perceptual image hashes (aHash + dHash) over REAL decoded pixels —
    // the cheap pixel-level near-dup screen a crawl pipeline runs before
    // any embedding model. Fixtures: 75 closed-form base images + 75
    // sparsely-perturbed near-copies; emitted bit-by-bit so the DuckDB
    // oracle reproduces every bit from the closed form (integer
    // cross-multiplied mean comparisons — no float anywhere)
    "q236_image_phash" -> ((s, dir) => {
      val hs = graft.operators.Multimodal.imageHashes(
        phashMedia(s, dir), grid = 8)
      hs.select(col("media_id"),
        explode(array((0 until 64).map(k => struct(
          lit(k).as("bit_idx"),
          shiftright(col("ahash"), k).bitwiseAND(lit(1L)).cast("int")
            .as("a_bit"),
          shiftright(col("dhash"), k).bitwiseAND(lit(1L)).cast("int")
            .as("d_bit"))): _*)).as("b"))
        .select(col("media_id"), col("b.bit_idx").as("bit_idx"),
          col("b.a_bit").as("a_bit"), col("b.d_bit").as("d_bit"))
    }),

    // Perceptual AUDIO hash — the energy-profile fingerprint (1-D
    // dHash over adjacent window energies) that completes the
    // near-dup screen across all three modalities; every bit decision
    // is an exact integer cross-multiplication over decoded PCM, so
    // the oracle reproduces the hash bit by bit from the closed form
    "q245_audio_phash" -> ((s, dir) => {
      val hs = graft.operators.Multimodal.audioHashes(
        ahashMedia(s, dir), bits = 64)
      hs.select(col("media_id"),
        explode(array((0 until 64).map(k => struct(
          lit(k).as("bit_idx"),
          shiftright(col("ehash"), k).bitwiseAND(lit(1L)).cast("int")
            .as("e_bit"))): _*)).as("b"))
        .select(col("media_id"), col("b.bit_idx").as("bit_idx"),
          col("b.e_bit").as("e_bit"))
    }),

    // ISO-BMFF (MP4) container metadata — the library-free box-grammar
    // parse (14496-12: ftyp/moov/trak/mdia/stbl walk; no codec decode,
    // none needed for crawl triage). Fixtures are real byte-grammar
    // MP4s whose every field is a closed form of the id, so the oracle
    // recomputes the parse without touching bytes; one row per track
    "q249_mp4_metadata" -> ((s, dir) => {
      val gen = udf((id: Long) => graft.operators.Multimodal.syntheticMp4(id))
      graft.operators.Multimodal.mp4Metadata(
        t(s, dir, "documents").filter(col("doc_id") < 120)
          .select(col("doc_id").as("media_id"),
            gen(col("doc_id")).as("payload")))
    }),

    // Audio near-dup JOIN: banded Hamming self-join over the energy
    // hash (q237's machinery, third modality). Oracle: brute-force
    // pairwise Hamming from the same closed-form bits
    "q246_audio_neardup" -> ((s, dir) => {
      val hs = graft.operators.Multimodal.audioHashes(
        ahashMedia(s, dir), bits = 64)
      Dedup.simHashJoin(
        hs.select(col("media_id").as("id"), col("ehash").as("simhash")),
        maxHamming = 7)
    }),

    // Per-FRAME perceptual hashes over decoded video — how video
    // near-dup works at corpus scale (hash sampled frames, match clips
    // on shared frame hashes; whole-file hashing dies on re-encode).
    // Same integer bit machinery as q236, applied per (clip, frame);
    // emitted bit-by-bit for the closed-form oracle
    "q243_video_phash" -> ((s, dir) => {
      val hs = graft.operators.Multimodal.videoFrameHashes(
        vhashMedia(s, dir), grid = 8)
      hs.select(col("media_id"), col("frame_idx"),
        explode(array((0 until 64).map(k => struct(
          lit(k).as("bit_idx"),
          shiftright(col("ahash"), k).bitwiseAND(lit(1L)).cast("int")
            .as("a_bit"),
          shiftright(col("dhash"), k).bitwiseAND(lit(1L)).cast("int")
            .as("d_bit"))): _*)).as("b"))
        .select(col("media_id"), col("frame_idx"),
          col("b.bit_idx").as("bit_idx"), col("b.a_bit").as("a_bit"),
          col("b.d_bit").as("d_bit"))
    }),

    // Clip-level near-dup: frame dHashes keyed by (clip, frame) run
    // through the SAME banded Hamming join (pigeonhole-exact at
    // radius 7), then matches aggregate to clip pairs with their
    // shared-frame count — the video twin of q237, never all-pairs.
    // Oracle: brute-force per-bit Hamming over all cross-clip frame
    // pairs, aggregated identically
    "q244_video_neardup" -> ((s, dir) => {
      val hs = graft.operators.Multimodal.videoFrameHashes(
        vhashMedia(s, dir), grid = 8)
      val keyed = hs.select(
        (col("media_id") * 1000 + col("frame_idx")).as("id"),
        col("dhash").as("simhash"))
      Dedup.simHashJoin(keyed, maxHamming = 7)
        .select(expr("a_id DIV 1000").as("a_media"),
          expr("b_id DIV 1000").as("b_media"))
        .filter(col("a_media") =!= col("b_media"))
        .groupBy("a_media", "b_media")
        .agg(count(lit(1)).as("n_matches"))
    }),

    // Perceptual dup-GROUPS: q237's banded Hamming pairs closed into
    // connected components with canonical ids (Dedup.dupGroups
    // verbatim) — the image screen feeding the same group/split
    // machinery the text near-dups use (q44/q222). Oracle: recursive-
    // CTE CC over the brute-force Hamming pairs of the closed-form bits
    "q240_image_dupgroups" -> ((s, dir) => {
      val hs = graft.operators.Multimodal.imageHashes(
        phashMedia(s, dir), grid = 8)
      val pairs = Dedup.simHashJoin(
        hs.select(col("media_id").as("id"), col("dhash").as("simhash")),
        maxHamming = 7)
      Dedup.dupGroups(pairs, hs.select(col("media_id")), "media_id")
    }),

    // Perceptual near-dup JOIN: banded Hamming self-join over the dHash
    // column (pigeonhole bands — Dedup.simHashJoin machinery verbatim;
    // never all-pairs). The oracle brute-forces pairwise Hamming from
    // the same closed-form bits — band recall at radius ≤ 7 is exact by
    // pigeonhole, so the outputs must match row for row
    "q237_image_neardup" -> ((s, dir) => {
      val hs = graft.operators.Multimodal.imageHashes(
        phashMedia(s, dir), grid = 8)
      Dedup.simHashJoin(
        hs.select(col("media_id").as("id"), col("dhash").as("simhash")),
        maxHamming = 7)
    }),

    "q23_ann_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("a_id"), col("embedding").as("a_v"))
      val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_v"))
      AnnSearch.ivfTopK(q, b, AnnK, nCentroids = IvfCents, nProbe = IvfProbe)
        .select(col("a_id").as("vec_id"), col("nbr_id"), col("rnk"))
    }),

    // IVF index INSERT (q234's dual — the standing index now has full
    // CRUD): centroids are the nightly build's, trained on the initial
    // corpus only (every 7th vector arrives later); the batch folds in
    // as one union and serving equals a from-scratch build table over
    // old ∪ new against the same centroids. Oracle: the full IVF
    // unroll with the centroid pipeline restricted to the initial
    // corpus and the serve side unrestricted
    "q238_ivf_insert" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("a_id"), col("embedding").as("a_v"))
      val init = e.filter(col("vec_id") % 7 =!= 0)
        .select(col("vec_id").as("b_id"), col("embedding").as("b_v"))
      val cents = AnnSearch.centroids(init, IvfCents)
      val grown = AnnSearch.addToIvf(init,
        e.filter(col("vec_id") % 7 === 0), "vec_id", "embedding")
      AnnSearch.ivfTopKPrebuilt(q, grown, AnnK, cents, IvfProbe)
        .select(col("a_id").as("vec_id"), col("nbr_id"), col("rnk"))
    }),

    // Minhash index APPEND (q233's dual): the store (doc_id % 3 == 0)
    // grows by an ingested batch (% 3 == 1), then a probe batch
    // (% 3 == 2) dedups against the grown store — matches can land in
    // either generation. Oracle: naive cross-pair Jaccard over
    // probe × grown-store
    "q239_index_append" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val idx = operators.Dedup.minHashIndex(
        d.filter(col("doc_id") % 3 === 0), "doc_id", "text", 3)
      val grown = operators.Dedup.appendToIndex(idx,
        d.filter(col("doc_id") % 3 === 1), "doc_id", "text", 3)
      operators.Dedup.minHashJoinAgainst(grown,
        d.filter(col("doc_id") % 3 === 2), "doc_id", "text", 3, 0.5)
    }),

    // Source parity: the reference's binary point format (op S-1). DuckDB
    // cannot read .bin, so the oracle reads a committed parquet TWIN of
    // the same fixture (fixtures/t4_8k_points.parquet; the .bin is the
    // committed byte-identical copy of the reference's t4.8k.bin,
    // FIXTURES.md §4c) — the scan is hash-checked coordinate-for-
    // coordinate: float32 → double casts are exact in both engines.
    // The path is relative to the project root, the forked run's
    // working directory.
    "q24_binary_scan" -> ((s, _) =>
      graft.sources.BinaryPoints.read(s, "fixtures/t4.8k.bin")
        .select(col("id"),
          element_at(col("features"), 1).cast("double").as("x"),
          element_at(col("features"), 2).cast("double").as("y"))),

    // Text analysis: BPE-ish pre-tokenization counts (letter runs / digit
    // runs / marks — the split BPE vocabularies train over)
    "q27_bpe_tokens" -> ((s, dir) => {
      val bt = TextFunctions.bpeTokens(col("text"))
      t(s, dir, "documents").select(
        col("doc_id"),
        size(bt).cast("long").as("n_bpe_tokens"),
        size(array_distinct(bt)).cast("long").as("n_distinct_bpe"))
    }),

    // Text analysis: winnowing rolling-hash fingerprints, exploded to
    // (doc_id, fp) scalar rows. The Karp–Rabin hash (base 131 mod 2^31−1)
    // is reproduced digit-for-digit by the DuckDB oracle
    "q28_winnowing" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        explode(graft.functions.WinnowingExpression.winnow(col("text")))
          .as("fp"))),

    // Dedup family: embedding-cosine near-dup pairs (exact baseline; the
    // LSH scale path is recall-tested in DedupSpec)
    "q26_embedding_dedup" -> ((s, dir) =>
      graft.operators.Dedup.embeddingNearDup(
        t(s, dir, "embeddings"), "vec_id", "embedding", 0.4)),

    // As-of (backward) join: each click joined to the user's most recent
    // purchase at-or-before it — one shuffle, no range-join explosion.
    // Oracle: DuckDB ASOF LEFT JOIN (sentinel -1 for no-match keeps the
    // pandas compare off nullable-int dtype drama)
    "q29_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val ms = eventMs(ev)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), ms.as("click_ms"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), ms.as("purchase_ms"), col("value"))
      graft.operators.AsofJoin.backward(clicks, purchases, Seq("user_id"),
          "click_ms", "purchase_ms", Seq("value"))
        .select(col("event_id"), col("user_id"), col("click_ms"),
          coalesce(col("asof_ts"), lit(-1L)).as("purchase_ms"),
          coalesce(col("value"), lit(-1.0)).as("purchase_value"))
    }),

    // Text analysis: per-document top-3 TF-IDF terms (tf × ln((N+1)/(df+1)),
    // rounded before ranking so both engines order identically)
    "q30_tfidf" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = docs.select(col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("tok"))
      // df falls out of tf (one row per (doc, tok) ⇒ count per tok = df):
      // no second tokenize scan, no distinct shuffle. No persist: a cached
      // block would outlive the query (nothing can unpersist a lazily
      // returned plan), and tf's recompute is one narrow agg.
      val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n"))
      val scored = tf.join(dfreq, "tok").crossJoin(broadcast(nDocs))
        .select(col("doc_id"), col("tok"),
          round(col("tf") * log((col("n") + lit(1.0)) / (col("df") + lit(1.0))),
            6).as("score"))
      scored.withColumn("rnk", row_number().over(
          Window.partitionBy("doc_id")
            .orderBy(col("score").desc, col("tok"))).cast("int"))
        .filter(col("rnk") <= 3)
        .select("doc_id", "tok", "score", "rnk")
    }),

    // Text analysis: corpus-wide top-20 bigrams by document frequency
    // (shingles are distinct per doc), deterministic tie-break on the gram
    "q31_top_ngrams" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(TextFunctions.shingles(col("text"), 2)).as("ngram"))
        .groupBy("ngram").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("ngram"))
        .limit(20)),

    // Relational: ROLLUP with grouping() sentinels (subtotal + grand-total
    // rows) — the reporting shape over a pricing summary
    "q32_rollup_pricing" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n"),
          grouping(col("l_returnflag")).as("g1"),
          grouping(col("l_linestatus")).as("g2"))
        .select(
          when(col("g1") === 1, lit("ALL")).otherwise(col("l_returnflag"))
            .as("l_returnflag"),
          when(col("g2") === 1, lit("ALL")).otherwise(col("l_linestatus"))
            .as("l_linestatus"),
          col("sum_qty"), col("n"))),

    // Relational: running per-customer revenue (window frame, integer-cents
    // accumulation so both engines agree bit-for-bit)
    "q33_running_revenue" -> ((s, dir) =>
      t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
        (sum(round(col("o_totalprice") * lit(100.0))).over(
          Window.partitionBy("o_custkey").orderBy("o_orderkey")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          / lit(100.0)).as("running_total"))),

    // Multimodal plumbing: documents as opaque binary payloads through the
    // per-partition batched decode (the codec is a deterministic md5-based
    // STUB — no media libs in this environment — but the schema contract,
    // mapPartitions batching, and feature values are exactly oracled)
    "q34_multimodal" -> ((s, dir) => {
      val media = t(s, dir, "documents").select(
        col("doc_id").as("media_id"),
        element_at(
          array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("modality"),
        col("text").cast("binary").as("payload"),
        lit(null).cast(
          graft.operators.Multimodal.mediaSchema("meta").dataType).as("meta"))
      graft.operators.Multimodal.extractFeatures(media, dim = 8)
        .select(col("media_id"), col("modality"), col("n_bytes"),
          posexplode(col("features")).as(Seq("pos", "f")))
        .select(col("media_id"), col("modality"), col("n_bytes"),
          col("pos").cast("int").as("pos"), col("f"))
    }),

    // Semi-structured metadata extraction (training pipelines carry JSON
    // sidecars): parse props, aggregate by event type
    "q25_props_json" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(col("k")).as("n_with_k"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))),

    // The curation pipeline end-to-end, one DAG: language-ID -> quality
    // gate -> exact content dedup -> per-survivor features. Dedup is a
    // SINGLE shuffle: the survivor (min doc_id) and its attributes come
    // from one min_by(struct(...), doc_id) aggregate keyed on the content
    // hash — no join-back to fetch survivor attributes, and doc_id is
    // unique so the pick is deterministic. The aggregate is sort-based
    // (struct-typed buffers aren't hash-aggregable) — the per-partition
    // sort on the hash key is cheaper at scale than the join-back's extra
    // exchanges.
    "q35_curation" -> ((s, dir) => {
      val ws = TextFunctions.tokens(col("text"))
      val scored = t(s, dir, "documents").select(
        col("doc_id"), col("text"),
        TextFunctions.langId(col("text")).as("lang_pred"),
        size(ws).cast("long").as("n_tokens"),
        size(array_distinct(ws)).cast("long").as("n_distinct"))
      val kept = scored.filter(col("lang_pred") === "en" &&
        col("n_tokens").between(10, 1000) &&
        (col("n_distinct").cast("double") / col("n_tokens")) >= 0.1)
      kept.groupBy(md5(col("text")).as("fp"))
        .agg(min_by(struct(col("doc_id"), col("lang_pred"),
          col("n_tokens")), col("doc_id")).as("s"))
        .select(col("s.doc_id").as("doc_id"),
          col("s.lang_pred").as("lang_pred"),
          col("s.n_tokens").as("n_tokens"), col("fp"))
    }),

    // Decontamination: training docs sharing any word-4-gram with the
    // benchmark split (doc_id % 10 == 0 stands in for an eval suite; n=4
    // keeps the fixture's tiny vocabulary from saturating the flag). The
    // benchmark gram set broadcasts; the corpus text is never shuffled.
    "q36_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.decontaminate(
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(10)) === 0),
        "doc_id", "text", 4)
    }),

    // Blocklist scrubbing: mask banned tokens, fingerprint the scrubbed
    // text (md5 — cross-engine checkable), count replacements
    "q37_redact" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.fingerprintMd5(
          TextFunctions.redact(col("text"), RedactList)).as("red_fp"),
        TextFunctions.redactCount(col("text"), RedactList)
          .cast("long").as("n_redacted"))),

    // Stable global row numbers WITHOUT the single-partition global-Window
    // anti-pattern: two-pass range-partition offsets (operator doc has the
    // scale argument). Sort key (fp, doc_id) is a total order.
    "q38_global_index" -> ((s, dir) =>
      graft.operators.GlobalIndex.rowNumbers(
          t(s, dir, "documents")
            .select(col("doc_id"), md5(col("text")).as("fp")),
          Seq("fp", "doc_id"))
        .select(col("doc_id"), col("fp"), col("row_num"))),

    // Deterministic train/val/test split: salted-hash bucketing — stable
    // under reruns/repartitioning, narrow (no shuffle), cross-engine md5
    "q39_hash_split" -> ((s, dir) =>
      graft.operators.Curation.hashSplit(
          t(s, dir, "documents").select("doc_id"), "doc_id",
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05), "s42")
        .select(col("doc_id"), col("bucket"), col("split"))),

    // Context-window chunking: ChunkWindow-token windows advancing by
    // ChunkStride; chunk text fingerprinted (md5) to keep the output scalar
    "q40_chunking" -> ((s, dir) => {
      val ws = TextFunctions.tokens(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), ws.as("ws"),
          explode(TextFunctions.chunkIndices(col("text"), ChunkWindow,
            ChunkStride)).as("chunk_id"))
        .select(col("doc_id"), col("chunk_id"),
          slice(col("ws"), (col("chunk_id") * ChunkStride + 1).cast("int"),
            lit(ChunkWindow)).as("ct"))
        .select(col("doc_id"), col("chunk_id"),
          size(col("ct")).cast("long").as("n_chunk_tokens"),
          md5(array_join(col("ct"), " ").cast("binary")).as("chunk_fp"))
    }),

    // Greedy sequence packing into 512-token training sequences, one
    // packer per lang shard (single shuffle + O(1)-state streaming scan)
    "q41_seq_pack" -> ((s, dir) =>
      graft.operators.Curation.packSequences(
        t(s, dir, "documents").select(col("doc_id"), col("lang"),
          size(TextFunctions.tokens(col("text"))).cast("long").as("n_tokens")),
        "lang", "doc_id", "n_tokens", 512L)),

    // Relational: CUBE (all grouping-set combinations) with sentinels,
    // the q32 rollup's big sibling
    "q42_cube_pricing" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n"),
          grouping(col("l_returnflag")).as("g1"),
          grouping(col("l_linestatus")).as("g2"))
        .select(
          when(col("g1") === 1, lit("ALL")).otherwise(col("l_returnflag"))
            .as("l_returnflag"),
          when(col("g2") === 1, lit("ALL")).otherwise(col("l_linestatus"))
            .as("l_linestatus"),
          col("sum_qty"), col("n"))),

    // Relational: anti join (NOT EXISTS) — customers with no high-value
    // order; the price predicate pushes into the orders scan
    "q43_anti_join" -> ((s, dir) =>
      t(s, dir, "customer").select("c_custkey", "c_nationkey")
        .join(t(s, dir, "orders")
            .filter(col("o_totalprice") > 300000.0).select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")),

    // Dedup family closed transitively: similarity pairs -> dup GROUPS
    // with a canonical min-id survivor, via the connected-components
    // engine (A~B, B~C groups A with C without a direct comparison)
    "q44_dup_groups" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.dupGroups(
        Dedup.jaccardJoin(docs, "doc_id", "text", 3, 0.5), docs, "doc_id")
    }),

    // Data mixing: deterministic per-language keep rates (downsample the
    // majority language, keep the rest) via salted-hash buckets — a
    // narrow filter, reproducible across reruns and repartitioning
    "q45_data_mix" -> ((s, dir) =>
      graft.operators.Curation.hashSampleBy(
        t(s, dir, "documents").select("doc_id", "lang"),
        "doc_id", "lang",
        Map("en" -> 0.5, "zh" -> 0.9), "mix1", defaultRate = 1.0)),

    // Corpus report: per-language doc counts, token volume, and
    // vocabulary size — count(distinct) inside a grouped aggregate
    // (Catalyst's expand + two-phase distinct aggregation)
    "q48_corpus_stats" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"), col("doc_id"),
          explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy("lang")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_tokens"),
          countDistinct(col("tok")).as("vocab"))),

    // The context-window pipeline end-to-end: chunk every doc into
    // ChunkWindow-token windows (q40's op), then greedily pack the chunks
    // into 512-token training sequences per lang shard (q41's op). The
    // surrogate chunk key doc_id*100 + chunk_id keeps packing order =
    // (doc_id, chunk_id) — chunks per doc are bounded far below 100 by
    // the corpus' ≤ ~1000-token docs.
    "q47_chunk_pack" -> ((s, dir) => {
      val ws = TextFunctions.tokens(col("text"))
      val chunks = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), ws.as("ws"),
          explode(TextFunctions.chunkIndices(col("text"), ChunkWindow,
            ChunkStride)).as("chunk_id"))
        .select(col("lang"),
          (col("doc_id") * 100 + col("chunk_id")).as("chunk_key"),
          size(slice(col("ws"), (col("chunk_id") * ChunkStride + 1).cast("int"),
            lit(ChunkWindow))).cast("long").as("n_chunk_tokens"))
      graft.operators.Curation.packSequences(chunks, "lang", "chunk_key",
        "n_chunk_tokens", 512L)
    }),

    // Relational: five-table supply-chain star join — every dimension
    // (supplier/nation/region/part) broadcasts; only the fact table scans
    // at scale. Closes fixture-table coverage (region/supplier/part).
    "q46_supply_chain" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .join(broadcast(t(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .groupBy("r_name", "p_brand")
        .agg(
          (sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * lit(10000.0))) / lit(10000.0)).as("revenue"),
          count(lit(1)).as("n_items"))),

    // Events: session concurrency — for each session, how many sessions
    // of OTHER users overlap it in time. Interval overlap via the
    // time-bin equi-join (IntervalJoin: report-once bin ownership, no
    // theta/cross join, no dedup shuffle); 1-hour bins ≈ the 30-min-gap
    // sessions' typical length.
    "q49_session_overlap" -> ((s, dir) => {
      val sess = sessionTable(s, dir)
      val n = graft.operators.IntervalJoin
        .overlapJoin(sess, sess, "start_ms", "end_ms", 3600000L)
        .filter(col("a_user_id") =!= col("b_user_id"))
        .groupBy("a_user_id", "a_session_id")
        .agg(count(lit(1)).as("n_concurrent"))
        .withColumnsRenamed(Map(
          "a_user_id" -> "user_id", "a_session_id" -> "session_id"))
      sess.select("user_id", "session_id")
        .join(n, Seq("user_id", "session_id"), "left")
        .select(col("user_id"), col("session_id"),
          coalesce(col("n_concurrent"), lit(0L)).as("n_concurrent"))
    }),

    // Events: 24h conversion funnel view -> click -> purchase — per-user
    // first-qualifying-step timestamps in ONE shuffle (chained
    // full-partition windows; Funnel). Sentinel -1 where the chain broke.
    "q50_funnel" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      graft.operators.Funnel.steps(
          ev.select(col("user_id"), eventMs(ev).as("ms"), col("event_type")),
          "user_id", "ms", "event_type",
          Seq("view", "click", "purchase"), Some(86400000L))
        .select(col("user_id"),
          coalesce(col("step_1_ts"), lit(-1L)).as("view_ms"),
          coalesce(col("step_2_ts"), lit(-1L)).as("click_ms"),
          coalesce(col("step_3_ts"), lit(-1L)).as("purchase_ms"))
    }),

    // Text quality: duplicate word-3-gram fraction per doc (the Gopher
    // "repetition" signal) — total vs distinct gram counts off one
    // native-shingle scan, no shuffle at all
    "q51_repetition" -> ((s, dir) => {
      val ws = TextFunctions.tokens(col("text"))
      t(s, dir, "documents")
        .filter(size(ws) >= 3)
        .select(col("doc_id"),
          (size(ws) - 2).cast("long").as("total_grams"),
          size(TextFunctions.shingles(col("text"), 3)).cast("long")
            .as("distinct_grams"))
        .withColumn("dup_ratio",
          round(lit(1.0) -
            col("distinct_grams").cast("double") / col("total_grams"), 6))
    }),

    // Text quality: unigram token entropy per doc (Zipf-conformity /
    // repetitiveness signal). log2(n) − Σc·log2(c)/n decomposition: both
    // sums come out of ONE grouped aggregate over (doc, token) counts —
    // partial+final agg, no token list ever collected
    "q52_token_entropy" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("w"))
        .groupBy("doc_id", "w")
        .agg(count(lit(1)).cast("double").as("cnt"))
        .groupBy("doc_id")
        .agg(round(
          log2(sum(col("cnt"))) -
            sum(col("cnt") * log2(col("cnt"))) / sum(col("cnt")), 6)
          .as("token_entropy"))),

    // Analytics: purchase-cohort retention matrix — cohort = a user's
    // first purchase day; a cell = distinct cohort users active (any
    // event type) at that day offset. The cohort aggregate and the
    // activity join both hash on user_id (the groupBy output joins
    // back co-partitioned); only the final matrix agg re-shuffles, and
    // its countDistinct partial-aggregates before the exchange.
    "q53_cohort_retention" -> ((s, dir) => {
      val ev0 = t(s, dir, "events")
      val ev = ev0
        .select(col("user_id"), col("event_type"), eventMs(ev0).as("ms"))
        .select(col("user_id"), col("event_type"),
          expr("ms DIV 86400000").as("day"))
      val cohort = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id").agg(min("day").as("cohort_day"))
      ev.join(cohort, Seq("user_id"))
        .filter(col("day") >= col("cohort_day"))
        .select(col("user_id"), col("cohort_day"),
          (col("day") - col("cohort_day")).as("day_offset"))
        .groupBy("cohort_day", "day_offset")
        .agg(countDistinct("user_id").as("n_users"))
    }),

    // Relational: PIVOT — monthly revenue matrix by return flag.
    // Explicit pivot values keep it a single conditional-aggregate pass
    // (Catalyst compiles pivot to sum(CASE WHEN ...) columns — one
    // shuffle, no per-value scan and no value-discovery job).
    "q54_pivot_monthly" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy((year(col("l_shipdate")) * 100 + month(col("l_shipdate")))
          .cast("long").as("ym"))
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sum(round(col("l_extendedprice") * 100)) / 100.0)
        .select(col("ym"),
          coalesce(col("A"), lit(0.0)).as("rev_a"),
          coalesce(col("N"), lit(0.0)).as("rev_n"),
          coalesce(col("R"), lit(0.0)).as("rev_r"))),

    // Relational: set operations — customers with orders in BOTH the
    // 'O' and 'F' status classes (INTERSECT), minus anyone who ever
    // filed an urgent-priority order (EXCEPT). Both compile to
    // distinct + hash joins on the single projected key column — the
    // scans prune to (o_custkey, filter column) only.
    "q55_set_ops" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      def custs(p: Column) = o.filter(p).select(col("o_custkey"))
      custs(col("o_orderstatus") === "O")
        .intersect(custs(col("o_orderstatus") === "F"))
        .except(custs(col("o_orderpriority") === "1-URGENT"))
    }),

    // Curation: deterministic exact-k audit sample per language — the
    // TopKByScore heap aggregate (O(log k) per row, k-sized shuffle
    // buffers) instead of a row_number window's full per-group sort.
    "q56_sample_k" -> ((s, dir) =>
      graft.operators.Curation.sampleKPerGroup(
        t(s, dir, "documents"), Seq("lang"), "doc_id", 20, "s1")),

    // Relational: skew-salted join — events fan onto 150 hot user keys;
    // the salt spreads each hot key over 8 shuffle partitions and the
    // replicated dimension side joins on (key, salt). Result identical
    // to the plain inner join (oracle is exactly that).
    "q57_skew_join" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("value"))
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      graft.operators.SkewJoin
        .saltedInner(ev, cust, "user_id", "c_custkey", 8)
        .groupBy("c_mktsegment")
        .agg((sum(round(col("value") * 100)) / 100.0).as("tot_value"),
          count(lit(1)).as("n_events"))
    }),

    // Graph: PageRank centrality over the session-concurrency graph —
    // edges = distinct user pairs with overlapping sessions (q49's
    // interval machinery), 10 rounds of the CC-style checkpointed
    // join+agg loop. Oracle: the same 10 iterations unrolled as CTEs.
    "q58_pagerank" -> ((s, dir) => {
      val sess = sessionTable(s, dir)
      val edges = graft.operators.IntervalJoin
        .overlapJoin(sess, sess, "start_ms", "end_ms", 3600000L)
        .filter(col("a_user_id") =!= col("b_user_id"))
        .select(col("a_user_id").as("src"), col("b_user_id").as("dst"))
      graft.operators.PageRank.run(edges, "src", "dst", PrIters, PrDamping)
        .select(col("id").as("user_id"), round(col("rank"), 8).as("rank"))
    }),

    // Sketches: per-language vocabulary estimate from MERGED per-source
    // HLL sketches — the sketch-once / re-aggregate-many scale path.
    // The portable-HLL register-table variant: build per (lang, source),
    // merge to lang by register max, estimate via the integer-exact
    // harmonic sum — every step order-free and cross-engine exact, so
    // the DuckDB oracle reproduces the ESTIMATE itself bit-for-bit
    // (q48 remains the exact-countDistinct twin; the DataSketches
    // binary path stays spec-covered in SketchesSpec).
    "q59_hll_vocab" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("lang"), col("source"),
          explode(TextFunctions.tokens(col("text"))).as("tok"))
      val perSource = graft.operators.Sketches
        .hllPortableRegisters(toks, Seq("lang", "source"), "tok")
      graft.operators.Sketches.hllPortableEstimate(
        graft.operators.Sketches.hllPortableMerge(perSource, Seq("lang")),
        Seq("lang"), estCol = "vocab_est")
    }),

    // Graph: per-user triangle counts on the session-concurrency graph
    // — degree-ordered wedge enumeration (hub fan-out bounded by the
    // ORIENTED out-degree), each triangle found once at its lowest-rank
    // vertex. Oracle: the order-free a<b<c three-way join.
    "q60_triangles" -> ((s, dir) => {
      val sess = sessionTable(s, dir)
      val edges = graft.operators.IntervalJoin
        .overlapJoin(sess, sess, "start_ms", "end_ms", 3600000L)
        .filter(col("a_user_id") =!= col("b_user_id"))
        .select(col("a_user_id").as("src"), col("b_user_id").as("dst"))
      graft.operators.TriangleCount.perNode(edges, "src", "dst")
        .withColumnRenamed("id", "user_id")
    }),

    // Feature prep: per-dimension z-score standardization of the
    // embedding table — one tiny per-dim moment aggregate broadcasts
    // back onto a narrow normalize pass (the fit/transform shape of
    // every feature scaler; nothing wide ever shuffles).
    "q61_standardize" -> ((s, dir) => {
      val u = t(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .select(col("vec_id"), (col("pos") + 1).as("dim"),
          col("v").cast("double").as("v"))
      val stats = u.groupBy("dim")
        .agg(avg("v").as("mu"), stddev_samp(col("v")).as("sd"))
      u.join(broadcast(stats), Seq("dim"))
        .select(col("vec_id"), col("dim"),
          round((col("v") - col("mu")) / col("sd"), 6).as("z"))
    }),

    // Data quality: the pre-ship validation gate — six constraints over
    // lineitem; every row-local check rides ONE aggregate pass,
    // uniqueness adds one hash agg, referential integrity one
    // broadcastable anti join. The fixture genuinely violates three of
    // them (range envelopes, composite-key duplicates).
    "q62_quality_report" -> ((s, dir) => {
      import graft.operators.QualityCheck._
      report(t(s, dir, "lineitem"), Seq(
        NotNull("l_orderkey"),
        InRange("l_quantity", 1, 45),
        InRange("l_discount", 0, 0.08),
        Satisfies("ships_before_2000", year(col("l_shipdate")) <= 1999),
        Unique(Seq("l_orderkey", "l_linenumber")),
        ReferentialTo(t(s, dir, "orders"), "l_orderkey", "o_orderkey")))
    }),

    // Profiling: fixed-width histogram of account balances per market
    // segment — distribution profiling as ONE hash aggregate on integer
    // bucket arithmetic (floor((v-lo)/w), clamped), no sort, no
    // percentile state; both engines run the identical IEEE ops.
    "q63_histogram" -> ((s, dir) => {
      val bucket = least(greatest(
        floor((col("c_acctbal") - lit(-1000.0)) / lit(1000.0)), lit(0.0)),
        lit(10.0)).cast("int")
      t(s, dir, "customer")
        .groupBy(col("c_mktsegment"), bucket.as("bucket"))
        .agg(count(lit(1)).as("n"),
          (sum(round(col("c_acctbal") * 100)) / 100.0).as("sum_bal"))
    }),

    // Relational: FULL OUTER reconciliation — orders vs their lineitem
    // rollup, classified into matched / order-without-items /
    // items-without-order (the two-sided integrity report a one-sided
    // anti join can't give). The lineitem side pre-aggregates to order
    // grain BEFORE the join, so the full-outer matches on unique keys.
    "q64_reconcile" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg((sum(round(col("l_extendedprice") * 100)) / 100.0)
          .as("li_revenue"))
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      o.join(li, col("o_orderkey") === col("l_orderkey"), "full_outer")
        .select(
          when(col("o_orderkey").isNotNull && col("l_orderkey").isNotNull,
            "matched")
            .when(col("o_orderkey").isNotNull, "order_without_items")
            .otherwise("items_without_order").as("status"),
          col("o_totalprice"), col("li_revenue"))
        .groupBy("status")
        .agg(count(lit(1)).as("n"),
          (sum(round(coalesce(col("o_totalprice"), lit(0.0)) * 100)) / 100.0)
            .as("sum_order_price"),
          (sum(round(coalesce(col("li_revenue"), lit(0.0)) * 100)) / 100.0)
            .as("sum_item_revenue"))
    }),

    // Analytics: RFM-style value segmentation — per-customer order
    // frequency/monetary rolled up once, then ntile(10) deciles WITHIN
    // each market segment (the partition key keeps the ranking window
    // distributed; a global ntile would funnel every row through one
    // task — the explicitly rejected shape). Ties broken by custkey so
    // both engines assign identical deciles.
    "q65_rfm" -> ((s, dir) => {
      val per = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          (sum(round(col("o_totalprice") * 100)) / 100.0).as("monetary"))
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
        .join(per, col("c_custkey") === col("o_custkey"))
        .select(col("c_custkey"), col("c_mktsegment"),
          col("n_orders"), col("monetary"))
        .withColumn("decile", ntile(10).over(
          Window.partitionBy("c_mktsegment")
            .orderBy(col("monetary").desc, col("c_custkey"))))
    }),

    // Dedup family: fuzzy match — part-name pairs within edit distance
    // 1 via lossless symmetric-delete blocking (equi-join on deletion
    // variants + exact levenshtein verify), never a quadratic scan.
    // Oracle: the naive cross join over the tiny distinct-name table.
    "q66_fuzzy_match" -> ((s, dir) =>
      graft.operators.FuzzyJoin.selfJoinEd1(t(s, dir, "part"), "p_name")),

    // Lakehouse MERGE: fold a CDC change stream (derived
    // deterministically from lineitem: R rows delete, others upsert,
    // every 7th line lands on a NEW key) onto the orders snapshot,
    // latest (seq, payload)-ordered change per key wins.
    "q67_cdc_apply" -> ((s, dir) => {
      val changes = t(s, dir, "lineitem").select(
        when(col("l_linenumber") % 7 === 0, col("l_orderkey") + 5000000L)
          .otherwise(col("l_orderkey")).as("o_orderkey"),
        col("l_linenumber").cast("long").as("seq"),
        when(col("l_returnflag") === "R", "D").otherwise("U").as("op"),
        col("l_partkey").as("o_custkey"),
        col("l_linestatus").as("o_orderstatus"),
        col("l_extendedprice").as("o_totalprice"),
        col("l_shipdate").as("o_orderdate"),
        concat(col("l_returnflag"), lit("-prio")).as("o_orderpriority"))
      graft.operators.Cdc.apply(t(s, dir, "orders"), changes,
        Seq("o_orderkey"), "seq", "op")
    }),

    // Exact corpus heavy hitters (bigram count·800 > n) through the
    // Misra–Gries candidates → exact-verify two-phase plan: the long
    // tail never reaches the aggregation exchange.
    "q68_heavy_hitters" -> ((s, dir) => {
      val grams = t(s, dir, "documents").select(
        explode(TextFunctions.shinglesAll(col("text"), 2)).as("gram"))
      graft.operators.HeavyHitters.exactOverThreshold(grams, "gram", 800)
    }),

    // Bloom-pruned selective join: lineitem rows are filtered by an
    // URGENT-orders bloom BEFORE the join exchange; the join removes
    // the false positives, so the plain join is the oracle.
    "q69_bloom_join" -> ((s, dir) => {
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("l_orderkey"))
      graft.operators.BloomJoin
        .innerPruned(t(s, dir, "lineitem"), urgent, "l_orderkey")
        .groupBy("l_linestatus")
        .agg((sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * 10000)) / 10000.0).as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // SCD Type-2 history: each customer's order-priority observations
    // become validity intervals (repeats collapse, current row open).
    "q70_scd2" -> ((s, dir) =>
      graft.operators.Cdc.scd2(t(s, dir, "orders"), Seq("o_custkey"),
        "o_orderpriority", "o_orderdate", Seq("o_orderkey"))),

    // 90-day rolling revenue per customer: a RANGE frame over integer
    // epoch days — peers (same-day orders) are in-frame by definition,
    // so no tie-break is needed and the result is order-independent.
    "q71_rolling_revenue" -> ((s, dir) => {
      val dayN = datediff(col("o_orderdate").cast("date"),
        lit(java.sql.Date.valueOf("1970-01-01")))
      val w = Window.partitionBy("o_custkey").orderBy(col("dayn"))
        .rangeBetween(-89, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), dayN.as("dayn"),
          col("o_totalprice"))
        .select(col("o_custkey"), col("o_orderkey"),
          (sum(round(col("o_totalprice") * 100)).over(w) / 100.0)
            .as("rolling_revenue"))
    }),

    // Time-series regularization: per-customer monthly spine with the
    // latest order price carried forward across empty months.
    "q72_forward_fill" -> ((s, dir) =>
      graft.operators.TimeSeries.forwardFill(
        t(s, dir, "orders").select(col("o_custkey"), col("o_orderdate"),
          col("o_orderkey"), col("o_totalprice")),
        Seq("o_custkey"), "o_orderdate", "o_totalprice", "month",
        Seq("o_orderkey"))),

    // Grouped exact quantiles at dyadic p over integer cents: the
    // interpolation arithmetic is exact dyadic-rational in a double,
    // so both engines produce bit-identical values — no rounding.
    "q73_quantiles" -> ((s, dir) =>
      t(s, dir, "orders")
        .withColumn("cents", round(col("o_totalprice") * 100))
        .groupBy("o_orderpriority")
        .agg((expr("percentile(cents, 0.25D)") / 100.0).as("p25"),
          (expr("percentile(cents, 0.5D)") / 100.0).as("p50"),
          (expr("percentile(cents, 0.75D)") / 100.0).as("p75"))),

    // CCNet-shaped perplexity quality filter: every document scored by
    // its average negative log2 likelihood under the corpus's own
    // add-one bigram model (integer counts ⇒ exact per-bigram ratios;
    // round(,6) absorbs the avg fold order, as in q30/q52).
    "q74_lm_score" -> ((s, dir) =>
      graft.operators.LanguageModel
        .bigramNll(t(s, dir, "documents"), "doc_id", "text")),

    // ANN via product quantization: ADC shortlist over 16×4-dim codes
    // + exact L2 re-rank. Codebooks train with exact integer-quantized
    // Lloyd and md5 seeding, ADC sums are exact integers — the DuckDB
    // oracle unrolls the whole pipeline (grouped per-subspace CTEs)
    // and hash-matches; recall is additionally covered in AnnSearchSpec
    "q75_ann_pq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qd = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("a_id"), col("embedding").as("a_v"))
      val bd = e.select(col("vec_id").as("b_id"), col("embedding").as("b_v"))
      val cb = AnnSearch.pqCodebook(bd, m = PqM, nCentroids = PqNc)
      val codes = AnnSearch.pqEncode(e, "vec_id", "embedding", cb)
      AnnSearch.pqTopKRerank(qd, bd, codes, cb, AnnK,
          shortlist = PqShortlist)
        .select(col("a_id").as("vec_id"), col("nbr_id"), col("rnk"))
    }),

    // PQ code-table retraction (the PQ member of the standing-index
    // CRUD family, q234's pattern): the codebook stays the nightly
    // build's, every 7th vector's code row is tombstoned (one
    // anti-join — a code derives from its vector + codebook alone),
    // and the rerank side drops the same ids. Oracle: the full PQ
    // unroll with the ADC candidate side filtered identically
    "q241_pq_retraction" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qd = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("a_id"), col("embedding").as("a_v"))
      val bd = e.select(col("vec_id").as("b_id"), col("embedding").as("b_v"))
      val cb = AnnSearch.pqCodebook(bd, m = PqM, nCentroids = PqNc)
      val codes = AnnSearch.retractFromPq(
        AnnSearch.pqEncode(e, "vec_id", "embedding", cb),
        e.filter(col("vec_id") % 7 === 0).select("vec_id"), "vec_id")
      AnnSearch.pqTopKRerank(qd,
          bd.filter(col("b_id") % 7 =!= 0), codes, cb, AnnK,
          shortlist = PqShortlist)
        .select(col("a_id").as("vec_id"), col("nbr_id"), col("rnk"))
    }),

    // PQ code-table INSERT (q241's dual — full CRUD on the third
    // standing index): the codebook trains on the initial corpus only
    // (every 7th vector arrives later), the batch encodes against it
    // and appends. Oracle: codebook-training CTEs restricted to the
    // initial generation, codes/serve over everything
    "q242_pq_insert" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qd = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("a_id"), col("embedding").as("a_v"))
      val bd = e.select(col("vec_id").as("b_id"), col("embedding").as("b_v"))
      val init = e.filter(col("vec_id") % 7 =!= 0)
      val cb = AnnSearch.pqCodebook(
        init.select(col("vec_id").as("b_id"), col("embedding").as("b_v")),
        m = PqM, nCentroids = PqNc)
      val codes = AnnSearch.addToPq(
        AnnSearch.pqEncode(init, "vec_id", "embedding", cb),
        e.filter(col("vec_id") % 7 === 0), "vec_id", "embedding", cb)
      AnnSearch.pqTopKRerank(qd, bd, codes, cb, AnnK,
          shortlist = PqShortlist)
        .select(col("a_id").as("vec_id"), col("nbr_id"), col("rnk"))
    }),

    // COMPOSED IVF-PQ (FAISS IVFPQ): coarse cells partition the corpus,
    // PQ codes quantize the RESIDUALS (v − cell centroid), serving
    // probes nProbe cells and runs ADC inside them with per-(query,
    // cell) residual distance tables, then exact-L2 re-ranks the
    // shortlist. The one ANN architecture a 100 TB serving fleet
    // actually deploys — q23's coarse index and q75's code compression
    // composed into a single standing index. Oracle: both training
    // unrolls chained through the residual CTE, digit for digit
    "q247_ivfpq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qd = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("a_id"), col("embedding").as("a_v"))
      val bd = e.select(col("vec_id").as("b_id"), col("embedding").as("b_v"))
      val (cents, cb, codes) = AnnSearch.ivfPqIndex(bd, IvfCents, PqM, PqNc)
      AnnSearch.ivfPqTopK(qd, bd, codes, cents, cb, AnnK, IvfProbe,
          PqShortlist)
        .select(col("a_id").as("vec_id"), col("nbr_id"), col("rnk"))
    }),

    // IVF-PQ tombstone retraction (the composed index joins the CRUD
    // family): artifacts stay the nightly build's, every 7th code row
    // is tombstoned, the re-rank fetches only shortlist survivors.
    // Oracle: the composed unroll with the ADC candidate side filtered
    "q248_ivfpq_retraction" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qd = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("a_id"), col("embedding").as("a_v"))
      val bd = e.select(col("vec_id").as("b_id"), col("embedding").as("b_v"))
      val (cents, cb, codes) = AnnSearch.ivfPqIndex(bd, IvfCents, PqM, PqNc)
      val live = AnnSearch.retractFromIvfPq(codes,
        e.filter(col("vec_id") % 7 === 0).select("vec_id"), "vec_id")
      AnnSearch.ivfPqTopK(qd, bd, live, cents, cb, AnnK, IvfProbe,
          PqShortlist)
        .select(col("a_id").as("vec_id"), col("nbr_id"), col("rnk"))
    }),

    // IVF-PQ INSERT (q248's dual — the composed index's CRUD square
    // closes): BOTH artifacts (coarse centroids + residual codebook)
    // train on the initial corpus only (every 7th vector arrives
    // later); the batch residual-encodes against the fixed artifacts
    // and appends. Oracle: both training unrolls restricted to the
    // initial generation, assignment/codes/serve over everything
    "q255_ivfpq_insert" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qd = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("a_id"), col("embedding").as("a_v"))
      val bd = e.select(col("vec_id").as("b_id"), col("embedding").as("b_v"))
      val init = e.filter(col("vec_id") % 7 =!= 0)
        .select(col("vec_id").as("b_id"), col("embedding").as("b_v"))
      val (cents, cb, codesInit) =
        AnnSearch.ivfPqIndex(init, IvfCents, PqM, PqNc)
      val codes = AnnSearch.addToIvfPq(codesInit,
        e.filter(col("vec_id") % 7 === 0), "vec_id", "embedding",
        cents, cb)
      AnnSearch.ivfPqTopK(qd, bd, codes, cents, cb, AnnK, IvfProbe,
          PqShortlist)
        .select(col("a_id").as("vec_id"), col("nbr_id"), col("rnk"))
    }),

    // Gaps-and-islands daily activity streaks (TimeSeries.streaks)
    "q76_streaks" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      operators.TimeSeries.streaks(
        ev.select(col("user_id"), eventMs(ev).as("ms"))
          .select(col("user_id"), expr("ms DIV 86400000").as("day")),
        Seq("user_id"), "day")
    }),

    // Pareto skyline: parts on the (cheapest, largest) frontier
    "q77_skyline" -> ((s, dir) =>
      operators.Skyline.pareto(
        t(s, dir, "part").withColumn("neg_size", -col("p_size")),
        Seq("p_retailprice", "neg_size"))
        .select(col("p_partkey"), col("p_retailprice"), col("p_size"))),

    // Grouped exact OLS regression (slope/intercept of price vs quantity)
    "q78_regression" -> ((s, dir) => {
      val z = t(s, dir, "lineitem").select(
        col("l_returnflag"), col("l_linestatus"),
        col("l_quantity").cast("long").as("x"),
        round(col("l_extendedprice") * 100).cast("long").as("y"))
      val a = z.groupBy("l_returnflag", "l_linestatus").agg(
        count(lit(1)).as("n"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"))
      // all sums are decimal-exact; only the final ratio divides in
      // double, so both engines execute identical IEEE ops
      val slope = (col("n") * col("sxy") - col("sx") * col("sy"))
        .cast("double") /
        (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
      a.select(col("l_returnflag"), col("l_linestatus"), col("n"),
        round(slope, 6).as("slope"),
        round((col("sy").cast("double") - slope * col("sx").cast("double"))
          / col("n").cast("double"), 6).as("intercept"))
    }),

    // Multi-source BFS hops over the supplier–part bipartite graph
    "q79_bfs" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_suppkey").cast("long").as("sk"),
        (col("l_partkey") + 1000000000L).as("pk"))
      val edges = li.select(col("sk").as("src"), col("pk").as("dst"))
        .unionAll(li.select(col("pk").as("src"), col("sk").as("dst")))
      val seeds = li.select(col("sk").as("id"))
        .filter(col("id") % 10 === 0).distinct()
      operators.ShortestPath.hops(edges, "src", "dst", seeds, "id",
        maxHops = 6)
    }),

    // Time-weighted average event value per user (LOCF weighting)
    "q80_twap" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      operators.TimeSeries.timeWeightedAvg(
        ev.select(col("user_id"), eventMs(ev).as("ms"), col("event_id"),
          col("value")),
        Seq("user_id"), "ms", "value", scale = 100L,
        tieCols = Seq("event_id"))
    }),

    // Corpus-level segment dedup (C4-style line dedup, 4-word segments)
    "q81_segment_dedup" -> ((s, dir) =>
      Dedup.dedupSegments(t(s, dir, "documents"), "doc_id", "text", 4)),

    // BPE merge learning (tokenizer training) — ordered merge table
    "q82_bpe_merges" -> ((s, dir) =>
      operators.Bpe.learnMerges(t(s, dir, "documents"), "text", BpeSteps)),

    // Apply the learned merges back to the corpus: per-doc subword
    // token counts under the trained vocabulary
    "q83_bpe_tokenize" -> ((s, dir) => {
      val merges = operators.Bpe
        .learnMerges(t(s, dir, "documents"), "text", BpeSteps)
        .orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      operators.Bpe.tokenCounts(t(s, dir, "documents"), "doc_id", "text",
        merges)
    }),

    // Exact per-group mode (argmax with deterministic tie-break): the
    // min(struct(-cnt, value)) trick — cnt DESC then value ASC in ONE
    // ordered-agg-free pass over the (group, value) counts
    "q84_mode" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("cnt"))
        .groupBy("user_id")
        .agg(min(struct((-col("cnt")).as("nc"),
          col("event_type").as("t"))).as("m"))
        .select(col("user_id"), col("m.t").as("top_type"),
          (-col("m.nc")).as("cnt"))),

    // Weighted shortest paths (Bellman-Ford, exact integer cents)
    "q85_sssp" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_suppkey").cast("long").as("sk"),
        (col("l_partkey") + 1000000000L).as("pk"),
        round(col("l_extendedprice") * 100).cast("long").as("w"))
      val edges = li.select(col("sk").as("src"), col("pk").as("dst"),
          col("w"))
        .unionAll(li.select(col("pk").as("src"), col("sk").as("dst"),
          col("w")))
      val seeds = li.select(col("sk").as("id"))
        .filter(col("id") % 10 === 0).distinct()
      operators.ShortestPath.weighted(edges, "src", "dst", "w",
        seeds, "id", rounds = SsspRounds)
    }),

    // Robust outlier report: median/MAD per order priority (exact
    // integer percentiles — half-cent/quarter-cent scaling)
    "q86_mad_outliers" -> ((s, dir) =>
      operators.Stats.madOutliers(t(s, dir, "orders"),
        Seq("o_orderpriority"), round(col("o_totalprice") * 100), k = 3)),

    // Pearson correlation matrix from decimal-exact moment sums
    "q87_corr_matrix" -> ((s, dir) =>
      operators.Stats.corrMatrix(t(s, dir, "lineitem"), CorrVars.map {
        case (n, e) => (n, expr(e)) })),

    // Synchronous label-propagation communities over the supplier-part
    // bipartite graph (deterministic LPA — ties to the smallest label)
    "q88_communities" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_suppkey").cast("long").as("sk"),
        (col("l_partkey") + 1000000000L).as("pk"))
      val edges = li.select(col("sk").as("src"), col("pk").as("dst"))
        .unionAll(li.select(col("pk").as("src"), col("sk").as("dst")))
      operators.LabelProp.run(edges, "src", "dst", LpaRounds)
    }),

    // A-priori frequent co-purchase pairs (market-basket mining)
    "q89_copurchase" -> ((s, dir) =>
      operators.Basket.frequentPairs(t(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", minSupport = 3)),

    // ANALYZE-style column profile of orders: ONE Expand-based
    // multi-distinct aggregate pass, pivoted to a per-column report
    "q90_profile" -> ((s, dir) =>
      operators.Profile.profile(t(s, dir, "orders"), ProfileCols)),

    // Point-in-interval (stabbing) join: events from OTHER users landing
    // inside each session's span — q49's overlap join re-keyed to
    // instant-vs-window containment
    "q91_session_events" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val pts = ev.select(col("event_id"), col("user_id"),
        eventMs(ev).as("ms"))
      operators.IntervalJoin.pointInInterval(pts, sessionTable(s, dir),
          "ms", "start_ms", "end_ms", 3600000L)
        .filter(col("p_user_id") =!= col("i_user_id"))
        .groupBy(col("i_user_id").as("user_id"),
          col("i_session_id").as("session_id"))
        .agg(count(lit(1)).as("n_foreign"))
    }),

    // Empirical Markov transition matrix over each user's event stream
    "q92_transitions" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      operators.Sequences.transitions(
        ev.select(col("user_id"), col("event_type"), eventMs(ev).as("ms"),
          col("event_id")),
        "user_id", "event_type", "ms", Seq("event_id"))
    }),

    // Sequential-pattern support (depth-1 PrefixSpan): users with some
    // `a` event strictly before some `b` event, per ordered type pair
    "q93_precedence" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      operators.Sequences.precedencePairs(
        ev.select(col("user_id"), col("event_type"), eventMs(ev).as("ms")),
        "user_id", "event_type", "ms")
    }),

    // PMI collocation mining over corpus bigram/unigram counts
    "q94_pmi" -> ((s, dir) =>
      operators.LanguageModel.pmi(t(s, dir, "documents"), "text",
        PmiMinCount)),

    // k-core of the co-purchase graph (support >= 2 edges): synchronous
    // peeling, KCoreRounds rounds (fixpoint at fixture scale — spec'd)
    "q95_kcore" -> ((s, dir) =>
      operators.KCore.run(
        operators.Basket.frequentPairs(t(s, dir, "lineitem"),
          "l_orderkey", "l_partkey", minSupport = 2),
        "item_a", "item_b", KCoreK, KCoreRounds)),

    // Exact tie-corrected ROC-AUC: embedding dim 1 (quantized to 1e-4)
    // scored against label==0 — the model-eval primitive
    "q96_auc" -> ((s, dir) =>
      operators.Stats.auc(t(s, dir, "embeddings"),
        col("label") === 0,
        round(element_at(col("embedding"), 1).cast("double") * 10000)
          .cast("long"))),

    // Binned ROC-AUC over a RAW CONTINUOUS score (distinct ≈ N — the
    // input q96's exact path must not take): 1024 equal-width bins over
    // the observed range, tie-corrected U on the bin histogram. The
    // cumulative window is over ≤ 1024 rows by construction
    "q250_auc_binned" -> ((s, dir) =>
      operators.Stats.aucBinned(t(s, dir, "embeddings"),
        col("label") === 0,
        element_at(col("embedding"), 1).cast("double"),
        nBins = 1024)),

    // Winsorized mean (clip at exact [p25, p75]) per order priority
    "q97_winsorized" -> ((s, dir) =>
      operators.Stats.winsorizedMean(t(s, dir, "orders"),
        Seq("o_orderpriority"), round(col("o_totalprice") * 100))),

    // Deterministic contrastive negative sampling over the corpus
    "q98_negatives" -> ((s, dir) =>
      operators.Curation.negativeSample(t(s, dir, "documents"), "doc_id",
        NegK, NegSalt)),

    // Degree assortativity of the co-purchase graph: Pearson correlation
    // of endpoint degrees over the symmetrized edge list, through the
    // same decimal-exact moment sums as q87
    "q99_assortativity" -> ((s, dir) =>
      operators.GraphStats.degreeAssortativity(
        operators.Basket.frequentPairs(t(s, dir, "lineitem"),
          "l_orderkey", "l_partkey", minSupport = 2),
        "item_a", "item_b")),

    // Point-in-time feature snapshot (feature-store primitive): per-user
    // trailing-window activity as of the cutoff, leakage-free
    "q100_features" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      operators.Features.snapshot(
        ev.select(col("user_id"), eventMs(ev).as("ms"), col("value")),
        "user_id", "ms", FeatCutoffMs, FeatWindows,
        round(col("value") * 100))
    }),

    // Daily new-vs-returning actives with a running known-user total
    "q101_new_users" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val da = ev.select(col("user_id"), eventMs(ev).as("__ms"))
        .select(col("user_id"), expr("__ms DIV 86400000").as("day"))
        .distinct()
      val withFirst = da.withColumn("first_day",
        min("day").over(Window.partitionBy("user_id")))
      val daily = withFirst.groupBy("day")
        .agg(count(lit(1)).as("n_active"),
          sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
            .as("n_new"))
      // the cumulative window runs over the day-sized table only
      val w = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.withColumn("cum_users", sum("n_new").over(w))
    }),

    // Relative standing within a partition: percent_rank (rank-based,
    // ties share) and cume_dist (inclusive peer fraction) over customer
    // balances per market segment — both exact integer ratios; closes
    // window-function coverage (rank/dense_rank/ntile/lead/lag/frames
    // are exercised by q19/q33/q65/q71/q92)
    "q103_balance_standing" -> ((s, dir) =>
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"),
          round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
        .withColumn("pr", round(percent_rank().over(
          Window.partitionBy("c_mktsegment").orderBy("bal_cents")), 6))
        .withColumn("cd", round(cume_dist().over(
          Window.partitionBy("c_mktsegment").orderBy("bal_cents")), 6))),

    // Index retraction + incremental probe: every third stored doc is
    // retracted from the persisted minhash index (one anti-join — per-
    // doc index rows make retraction EXACTLY a rebuild over survivors),
    // then the new batch probes the retracted index: removed docs can
    // no longer match. Oracle: naive cross-pair Jaccard over
    // new × surviving-store.
    "q233_index_retraction" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val idx = operators.Dedup.minHashIndex(
        d.filter(col("doc_id") % 2 === 0), "doc_id", "text", 3)
      val after = operators.Dedup.retractFromIndex(idx,
        d.filter(col("doc_id") % 6 === 0).select("doc_id"), "doc_id")
      operators.Dedup.minHashJoinAgainst(after,
        d.filter(col("doc_id") % 2 === 1), "doc_id", "text", 3, 0.5)
    }),

    // Incremental near-dup ingest: a new batch (odd doc ids) deduped
    // against the persisted minhash index of the store (even ids) —
    // cost scales with the batch, never the corpus. Recall 1 at these
    // parameters (q10's banding), so the naive cross-pair Jaccard SQL
    // is an exact oracle.
    "q105_incr_dedup" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      operators.Dedup.minHashJoinAgainst(
        operators.Dedup.minHashIndex(
          d.filter(col("doc_id") % 2 === 0), "doc_id", "text", 3),
        d.filter(col("doc_id") % 2 === 1), "doc_id", "text", 3, 0.5)
    }),

    // Time-series downsampling to hourly OHLC bars: open/close via the
    // one-pass min/max(struct(ts, tie, value)) argmin trick (q84's
    // shape) — ONE hash aggregate, no window over raw events
    "q104_ohlc" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      ev.select(eventMs(ev).as("ms"), col("event_type"), col("event_id"),
          round(col("value") * 100).cast("long").as("c"))
        .select(expr("ms DIV 3600000").as("hr"), col("event_type"),
          col("ms"), col("event_id"), col("c"))
        .groupBy("hr", "event_type")
        .agg(
          min(struct(col("ms"), col("event_id"), col("c"))).as("__o"),
          max(struct(col("ms"), col("event_id"), col("c"))).as("__cl"),
          max(col("c")).as("__h"), min(col("c")).as("__l"),
          count(lit(1)).as("n_events"))
        .select(col("hr"), col("event_type"),
          (col("__o.c") / lit(100.0)).as("open"),
          (col("__h") / lit(100.0)).as("high"),
          (col("__l") / lit(100.0)).as("low"),
          (col("__cl.c") / lit(100.0)).as("close"),
          col("n_events"))
    }),

    // Last-touch attribution: each purchase credited to the user's most
    // recent click within 24 h — AsofJoin's tolerance path on real data
    "q102_attribution" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val ms = eventMs(ev)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), ms.as("purchase_ms"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), ms.as("click_ms"),
          col("event_id").as("click_id"))
      operators.AsofJoin.backward(purchases, clicks, Seq("user_id"),
          "purchase_ms", "click_ms", Seq("click_id"),
          tolerance = Some(AttrHorizonMs))
        .select(col("event_id"), col("user_id"), col("purchase_ms"),
          coalesce(col("asof_ts"), lit(-1L)).as("click_ms"),
          coalesce(col("click_id"), lit(-1L)).as("click_id"))
    }),

    // Neighborhood Jaccard over the co-purchase graph ("customers also
    // bought"): shared-neighbor counts via the inverted-index wedge
    // join — the graph-space twin of q9's shingle join
    "q106_node_sim" -> ((s, dir) =>
      operators.GraphStats.commonNeighborSim(
        operators.Basket.frequentPairs(t(s, dir, "lineitem"),
          "l_orderkey", "l_partkey", minSupport = 2),
        "item_a", "item_b", minCommon = 2)),

    // Chi-square independence screen: market segment × order priority
    // (per-cell observed/expected/contribution off exact longs)
    "q107_chi_square" -> ((s, dir) =>
      operators.Stats.chiSquare(
        t(s, dir, "orders").join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey")),
        "c_mktsegment", "o_orderpriority")),

    // Windowed exponential smoothing of each user's daily spend —
    // finite-lag EWMA at dyadic alpha (exact cross-engine weights)
    "q108_ewma" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val daily = ev
        .select(col("user_id"), eventMs(ev).as("ms"), col("value"))
        .select(col("user_id"), expr("ms DIV 86400000").as("day"),
          round(col("value") * 100).cast("long").as("c"))
        .groupBy("user_id", "day")
        .agg(sum(col("c")).as("cents"))
      operators.TimeSeries.expSmooth(daily, Seq("user_id"), "day",
          "cents", alpha = 0.5, lags = 8)
        .select(col("user_id"), col("day"), col("cents"),
          round(col("ewma"), 6).as("ewma"))
    }),

    // Asymmetric containment near-dup join: catches a short doc quoted
    // whole inside a long one (Jaccard-invisible), same inverted-index
    // plan as q9 minus the (inapplicable) length filter
    "q109_containment" -> ((s, dir) =>
      operators.Dedup.containmentJoin(t(s, dir, "documents"),
        "doc_id", "text", 3, ContainMin)),

    // GROUPING SETS with an explicit non-rollup lattice ((flag,status),
    // (status), ()) — completes the rollup(q32)/cube(q42)/pivot(q54) row
    "q110_grouping_sets" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_linestatus")), Seq.empty),
          col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"),
          (sum(round(col("l_extendedprice") * 100)).cast("long") /
            lit(100.0)).as("revenue"),
          count(lit(1)).as("n"),
          grouping(col("l_returnflag")).as("g1"),
          grouping(col("l_linestatus")).as("g2"))
        .select(
          when(col("g1") === 1, lit("ALL")).otherwise(col("l_returnflag"))
            .as("l_returnflag"),
          when(col("g2") === 1, lit("ALL")).otherwise(col("l_linestatus"))
            .as("l_linestatus"),
          col("sum_qty"), col("revenue"), col("n"))),

    // Join-key skew report on lineitem's supplier key: the top-20
    // hottest keys with absolute/cumulative share — the pre-flight
    // check for SkewJoin(q57)/AQE decisions
    "q111_key_skew" -> ((s, dir) =>
      operators.Profile.keySkew(t(s, dir, "lineitem"), "l_suppkey", 20)
        .withColumnRenamed("rank", "rnk")),

    // Local clustering coefficient on the co-purchase graph: per-node
    // triangle participation (q60's census, per node) over neighbor
    // pairs — ego-network density
    "q112_clustering_coef" -> ((s, dir) =>
      operators.GraphStats.clusteringCoefficient(
        operators.Basket.frequentPairs(t(s, dir, "lineitem"),
          "l_orderkey", "l_partkey", minSupport = 2),
        "item_a", "item_b")),

    // Equi-depth (octile) histogram of order totals: quantile-bounded
    // bins, exact at dyadic p over integer cents — q63's fixed-width
    // histogram with data-adaptive edges
    "q113_equidepth_hist" -> ((s, dir) =>
      operators.Profile.equiDepthHist(t(s, dir, "orders"),
        round(col("o_totalprice") * 100), buckets = 8)),

    // Snapshot diff between two simulated versions of orders: keys
    // added/removed/changed via ONE co-partitioned full outer join —
    // the audit inverse of q67's CDC apply
    "q114_snapshot_diff" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val cents = round(col("o_totalprice") * 100).cast("long")
      val oldSnap = o.filter(col("o_orderkey") % 7 =!= 0)
        .select(col("o_orderkey"), cents.as("cents"))
      val newSnap = o.filter(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey"),
          (cents + when(col("o_orderkey") % 5 === 0, 500L).otherwise(0L))
            .as("cents"))
      operators.Cdc.snapshotDiff(oldSnap, newSnap, Seq("o_orderkey"),
          Seq("cents"))
        .select(col("o_orderkey"), col("status"),
          coalesce(col("old_cents"), lit(-1L)).as("old_cents"),
          coalesce(col("new_cents"), lit(-1L)).as("new_cents"))
    }),

    // BM25 retrieval scoring over the corpus: two near-uniform terms
    // plus the rare 'dup' token (high idf) — the query side of the
    // tf-idf/LM corpus machinery
    "q115_bm25" -> ((s, dir) =>
      operators.Search.bm25(t(s, dir, "documents"), "doc_id", "text",
        Bm25Terms, Bm25K1, Bm25B)),

    // Incremental materialized-view maintenance: last night's pricing
    // rollup + a signed CDC delta (inserts = the %10 orders, deletes =
    // the %13 parts) merged WITHOUT rescanning the fact table; oracle
    // recomputes the rollup from the effective table directly
    "q116_incr_agg" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val cents = round(col("l_extendedprice") * 100).cast("long")
      val old = li.filter(col("l_orderkey") % 10 =!= 0)
      val baseAgg = old.groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity")).as("sum_qty"),
          sum(cents).as("__cents"), count(lit(1)).as("n"))
      val delta = li.filter(col("l_orderkey") % 10 === 0)
        .withColumn("sign", lit(1))
        .unionByName(old.filter(col("l_partkey") % 13 === 0)
          .withColumn("sign", lit(-1)))
        .select(col("l_returnflag"), col("l_linestatus"),
          col("l_quantity"), cents.as("__c"), col("sign"))
      operators.Incremental.applyDelta(baseAgg, delta,
          Seq("l_returnflag", "l_linestatus"),
          Seq("sum_qty" -> "l_quantity", "__cents" -> "__c"), "n")
        .select(col("l_returnflag"), col("l_linestatus"), col("sum_qty"),
          (col("__cents") / lit(100.0)).as("revenue"), col("n"))
    }),

    // Deterministic systematic PPS sample: 20 spend-weighted picks per
    // market segment, all-integer boundary arithmetic in hash order
    "q117_weighted_sample" -> ((s, dir) =>
      operators.Curation.systematicSample(
        t(s, dir, "orders").join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey")),
        Seq("c_mktsegment"), "o_orderkey",
        round(col("o_totalprice") * 100), PpsK, PpsSalt)),

    // Weight-of-evidence / information value of order priority against
    // the finished-order label — the categorical-feature screen
    "q118_woe" -> ((s, dir) =>
      operators.Stats.woeIv(t(s, dir, "orders"), col("o_orderpriority"),
        col("o_orderstatus") === "F")
        .withColumnRenamed("bin", "o_orderpriority")),

    // HITS hubs & authorities on the bipartite supplier→part graph
    // (parts offset out of the supplier id space); oracle = 4 rounds
    // unrolled as normalized propagate CTE pairs
    "q119_hits" -> ((s, dir) =>
      operators.Hits.run(
        t(s, dir, "lineitem").select(col("l_suppkey").as("src"),
          (col("l_partkey") + lit(10000000L)).as("dst")),
        "src", "dst", HitsRounds)),

    // Lloyd k-means over the embeddings (k=8, 3 assignment rounds,
    // deterministic smallest-id seeds) — exact cross-engine labels via
    // quantized coordinates + ordered d² folds + integer centroid sums
    "q120_kmeans" -> ((s, dir) =>
      operators.KMeans.fit(t(s, dir, "embeddings"), "vec_id",
        "embedding", KmK, KmRounds)),

    // Rolling 7-day z-score anomaly flags on each user's daily spend —
    // the flag decided in pure integer arithmetic (boundary-exact)
    "q121_rolling_anomaly" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val daily = ev
        .select(col("user_id"), eventMs(ev).as("ms"), col("value"))
        .select(col("user_id"), expr("ms DIV 86400000").as("day"),
          round(col("value") * 100).cast("long").as("c"))
        .groupBy("user_id", "day")
        .agg(sum(col("c")).as("cents"))
      operators.TimeSeries.rollingAnomaly(daily, Seq("user_id"), "day",
        "cents", window = 7, k = 3)
    }),

    // Cross-document duplicate-span fraction: share of each doc's
    // distinct 4-gram windows appearing in >= 1 other doc — the
    // span-level memorization signal (within-doc q51 / benchmark q36
    // complete the repetition triad)
    "q122_cross_doc" -> ((s, dir) =>
      operators.Dedup.crossDocShared(t(s, dir, "documents"), "doc_id",
        "text", CrossDocN)),

    // Directed association rules (confidence/lift) over the q89
    // co-purchase frequent pairs — the Agrawal/Srikant second stage
    "q123_assoc_rules" -> ((s, dir) =>
      operators.Basket.rules(t(s, dir, "lineitem"), "l_orderkey",
        "l_partkey", minSupport = 3)),

    // Seasonal-naive forecast evaluation (MASE) on each user's daily
    // spend — calendar lags, integer SAE sums, one division per ratio
    "q130_forecast_eval" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val daily = ev
        .select(col("user_id"), eventMs(ev).as("ms"), col("value"))
        .select(col("user_id"), expr("ms DIV 86400000").as("day"),
          round(col("value") * 100).cast("long").as("c"))
        .groupBy("user_id", "day")
        .agg(sum(col("c")).as("cents"))
      operators.TimeSeries.naiveForecastEval(daily, Seq("user_id"),
        "day", "cents", season = 7)
    }),

    // Temperature-based (α=0.5) mixture resampling of the corpus by
    // language (en dominates 3x — the flattening is visible) —
    // integer-quantized weights, salted-hash row selection
    "q129_temperature_mix" -> ((s, dir) =>
      operators.Curation.temperatureMixReport(t(s, dir, "documents"),
        "doc_id", "lang", TempAlpha, TempBudgetFrac, TempSalt)),

    // Tf-idf cosine "more like this": top-5 most similar docs for each
    // query doc, entirely through the inverted index (sparse dot =
    // term-key join + pair aggregate — no dense vectors, no all-pairs)
    "q128_more_like_this" -> ((s, dir) =>
      operators.Search.moreLikeThis(t(s, dir, "documents"), "doc_id",
        "text", d => pmod(d, lit(MltQueryMod)) === 0, MltK)),

    // Reciprocal-rank fusion of lexical (BM25) and dense (embedding
    // cosine) retrieval — rank-only fusion needs no score calibration.
    // Each leg is ranked with GlobalIndex.rowNumbers (range-partitioned
    // distributed sort + partition offsets), NOT a global row_number
    // window: the full corpus never funnels through one task's sort,
    // and the (score desc, doc_id) total order — hence every rank and
    // the fused hash — is identical. Negating the score turns the
    // descending order into rowNumbers' ascending one; equal scores
    // stay ties (-0.0 == 0.0 under Spark's SQL double ordering) and
    // break by doc_id exactly as the window did.
    "q127_rank_fusion" -> ((s, dir) => {
      val lexical = operators.GlobalIndex.rowNumbers(
          operators.Search.bm25(t(s, dir, "documents"),
              "doc_id", "text", Bm25Terms, Bm25K1, Bm25B)
            .select(col("doc_id"), negate(col("score")).as("negs")),
          Seq("negs", "doc_id"), "rnk")
        .select(col("doc_id"), col("rnk"))
      val e = t(s, dir, "embeddings")
      val probe = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("qv"))
      val dense = operators.GlobalIndex.rowNumbers(
          e.crossJoin(broadcast(probe))
            .select(col("vec_id").as("doc_id"),
              negate(functions.VectorOps.cosine(col("embedding"),
                col("qv"))).as("negs")),
          Seq("negs", "doc_id"), "rnk")
        .select(col("doc_id"), col("rnk"))
      operators.Search.rrfFuse(Seq(lexical, dense), "doc_id", "rnk",
        RrfK, RrfTopK)
    }),

    // Newman modularity of LPA communities on the co-purchase graph
    // (q95's support>=2 edges — unipartite, so LPA finds real
    // communities; on the bipartite q88 graph synchronous LPA
    // oscillates between the sides and Q degenerates to -1/2).
    // Exact integers up to one division per community.
    "q126_modularity" -> ((s, dir) => {
      // persisted: the pair join feeds LPA (both orientations — two
      // reads) and the modularity arc set; uncached it would run 3x.
      // Released by the ContextCleaner with the plan.
      val fp = operators.Basket.frequentPairs(t(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", minSupport = 2)
        .select(col("item_a").as("src"), col("item_b").as("dst"))
        .persist()
      val labels = operators.LabelProp.run(
        fp.unionAll(fp.select(col("dst").as("src"),
          col("src").as("dst"))),
        "src", "dst", LpaRounds)
      operators.GraphStats.modularity(fp, "src", "dst", labels,
        "id", "label")
    }),

    // Depth-2 sequential patterns: a-before-b-before-c key support via
    // the double span reduction (only the middle type touches instants)
    "q125_pattern_triples" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      operators.Sequences.patternTriples(
        ev.select(col("user_id"), col("event_type"), eventMs(ev).as("ms")),
        "user_id", "event_type", "ms")
    }),

    // Exact rolling 7-day active users (sliding distinct via bounded
    // replication — no per-window set ever exists)
    "q124_rolling_actives" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      operators.TimeSeries.slidingDistinct(
        ev.select(col("user_id"), eventMs(ev).as("ms"))
          .select(col("user_id"), expr("ms DIV 86400000").as("day")),
        "user_id", "day", window = 7)
    }),

    // Exact multi-distinct per supplier via the Roaring-style bitmap
    // aggregate: one fact scan, no Expand replication — the 100 TB-safe
    // form of count(distinct a), count(distinct b) (plan-pinned)
    "q131_bitmap_distinct" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(
          functions.BitmapDistinctCount.bitmapDistinct(col("l_partkey"))
            .as("n_parts"),
          functions.BitmapDistinctCount.bitmapDistinct(col("l_orderkey"))
            .as("n_orders"),
          count(lit(1)).as("n_lines"))),

    // Exact weighted (lower) median unit price per supplier, weighted by
    // units sold — collapses to one row per (supplier, price) before the
    // cumulative-weight window ever runs
    "q132_weighted_median" -> ((s, dir) =>
      operators.Stats.weightedMedian(t(s, dir, "lineitem"),
        Seq("l_suppkey"),
        round(col("l_extendedprice") * 100),
        round(col("l_quantity")))),

    // Two-sided CUSUM change-point alarms on each user's daily spend
    // against the user's own mean — the zero-clamped recursion solved in
    // closed form (prefix sum minus running min), all-integer until the
    // final report division
    "q133_cusum" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val daily = ev
        .select(col("user_id"), eventMs(ev).as("ms"), col("value"))
        .select(col("user_id"), expr("ms DIV 86400000").as("day"),
          round(col("value") * 100).cast("long").as("c"))
        .groupBy("user_id", "day")
        .agg(sum(col("c")).as("cents"))
      operators.TimeSeries.cusum(daily, Seq("user_id"), "day", "cents",
        slack = CusumSlack, h = CusumH)
    }),

    // Two-sample KS drift test: does the order-value distribution of
    // fulfilled orders differ from the rest, per priority? The ECDF gap
    // max runs on cross-multiplied integers (exact); one division at end
    "q134_ks_test" -> ((s, dir) =>
      operators.Stats.ksTest(t(s, dir, "orders"),
        Seq("o_orderpriority"),
        round(col("o_totalprice") * 100),
        col("o_orderstatus") === "F")),

    // Exact Gini concentration of order value per priority — the
    // rank-weighted sum widened to decimal so petabyte group sizes hold
    "q135_gini" -> ((s, dir) =>
      operators.Stats.gini(t(s, dir, "orders"),
        Seq("o_orderpriority"),
        round(col("o_totalprice") * 100))),

    // Exact audience overlap between every pair of event types: ONE fact
    // scan builds a compressed user-id bitmap per segment; the pairwise
    // intersections run on the tiny segment table (Roaring-OLAP style —
    // the fact table is never re-scanned or self-joined per pair).
    // persisted: the segment table feeds both sides of the pair join;
    // released by the ContextCleaner with the plan (as q126 does).
    "q136_audience_overlap" -> ((s, dir) => {
      val seg = t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          functions.BitmapAggBytes.bitmapBytes(col("user_id")).as("bm"),
          functions.BitmapDistinctCount.bitmapDistinct(col("user_id"))
            .as("n_users"))
        .persist()
      val a = seg.select(col("event_type").as("type_a"),
        col("bm").as("bm_a"), col("n_users").as("n_a"))
      val b = seg.select(col("event_type").as("type_b"),
        col("bm").as("bm_b"), col("n_users").as("n_b"))
      a.join(broadcast(b), col("type_a") < col("type_b"))
        .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
          functions.BitmapAndCount.bitmapAndCount(col("bm_a"),
            col("bm_b")).as("n_both"))
        .withColumn("jaccard", round(col("n_both").cast("double") /
          (col("n_a") + col("n_b") - col("n_both")).cast("double"), 6))
    }),

    // q136's bounded-state sibling: KMV theta sketches (k=64 longs per
    // segment, forever) estimating per-segment distinct users AND
    // pairwise overlap — the deterministic estimator lets DuckDB
    // reproduce every digit from row_number() <= k (persisted as q136)
    "q137_theta_sketch" -> ((s, dir) => {
      val h = conv(substring(md5(col("user_id").cast("string")), 1, 15),
        16, 10).cast("long")
      val seg = t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(functions.KmvSketchAgg.kmvSketch(h, ThetaK).as("sk"))
        .persist()
      val a = seg.select(col("event_type").as("type_a"),
        col("sk").as("sk_a"))
      val b = seg.select(col("event_type").as("type_b"),
        col("sk").as("sk_b"))
      a.join(broadcast(b), col("type_a") < col("type_b"))
        .select(col("type_a"), col("type_b"),
          round(functions.KmvDistinctEstimate.kmvEstimate(col("sk_a"),
            ThetaK), 6).as("est_a"),
          round(functions.KmvDistinctEstimate.kmvEstimate(col("sk_b"),
            ThetaK), 6).as("est_b"),
          round(functions.KmvIntersectEstimate.kmvIntersect(col("sk_a"),
            col("sk_b"), ThetaK), 6).as("est_both"))
    }),

    // Weekly-seasonality fingerprint: autocorrelation of each user's
    // daily spend at calendar lags 1..7 — one join for all lags, exact
    // decimal moments, gaps drop pairs instead of shifting the series
    "q138_acf" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val daily = ev
        .select(col("user_id"), eventMs(ev).as("ms"), col("value"))
        .select(col("user_id"), expr("ms DIV 86400000").as("day"),
          round(col("value") * 100).cast("long").as("c"))
        .groupBy("user_id", "day")
        .agg(sum(col("c")).as("cents"))
      operators.TimeSeries.acf(daily, Seq("user_id"), "day", "cents",
        maxLag = AcfMaxLag)
    }),

    // How much does day-of-week tell you about what users do? Mutual
    // information between event type and weekday — per-cell log terms
    // rounded then summed as exact decimals (order-free transcendentals)
    "q139_mutual_info" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      operators.Stats.mutualInfo(
        ev.select(col("event_type"), eventMs(ev).as("ms"))
          .select(col("event_type"),
            expr("(ms DIV 86400000) % 7").as("dow")),
        col("event_type"), col("dow"))
    }),

    // LSH-bucketed cosine ANN — the training-free bucketed scale path
    // (brute q16 / IVF q23 / PQ q75 complete the index family): SRP
    // signatures bucket candidates, exact cosine re-ranks; buckets are
    // bit-exact cross-engine (literal ±1 planes), so the WHOLE
    // approximate result is DuckDB-oracled, not just rows-counted
    "q140_ann_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(pmod(col("vec_id"), lit(LshQueryMod)) === 0)
        .select(col("vec_id").as("a_id"), col("embedding").as("a_v"))
      val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_v"))
      operators.AnnSearch.lshTopK(q, b, LshK, LshPlanes)
        .select(col("a_id").as("vec_id"), col("nbr_id"), col("rnk"))
    }),

    // k-NN GRAPH via NN-Descent (Dong et al. 2011) — the graph-ANN
    // family's distributable member: md5-ring init, then per round a
    // symmetric neighbor-of-neighbor self-join proposes candidates and
    // the exact-cosine bounded heap keeps each vertex's top-k. Fully
    // deterministic → the oracle unrolls both refinement rounds
    "q252_knn_graph" -> ((s, dir) =>
      operators.AnnSearch.knnGraph(
        t(s, dir, "embeddings").select(col("vec_id").as("b_id"),
          col("embedding").as("b_v")),
        k = AnnK, iters = KgIters, buildK = KgBuildK)
        .select(col("a_id").as("vec_id"), col("nbr_id"), col("rnk"))),

    // Graph-ANN SERVING over the q252 standing graph: fixed-round beam
    // search (the BSP-friendly HNSW-descent variant) — 10 hash-chosen
    // entry points, beam 10, 2 walk rounds, emit top-5. The oracle
    // chains the graph-build unroll into the unrolled walk
    "q253_graph_search" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val bd = e.select(col("vec_id").as("b_id"), col("embedding").as("b_v"))
      val qd = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("a_id"), col("embedding").as("a_v"))
      val g = operators.AnnSearch.knnGraph(bd, k = KgBuildK,
        iters = KgIters, buildK = KgBuildK)
      operators.AnnSearch.graphTopK(qd, bd, g, AnnK, GsEf, GsRounds,
          nEntries = GsEf)
        .select(col("a_id").as("vec_id"), col("nbr_id"), col("rnk"))
    }),

    // k-NN graph INSERT (the graph joins the standing-index CRUD
    // family): the standing graph builds on the initial generation;
    // the arriving batch beam-searches it (width = the graph's K),
    // adopts its finds, discovered vertices consider the finders back,
    // and every touched vertex exactly re-prunes to K. Deterministic,
    // so the whole update unrolls into the oracle
    "q257_knn_graph_insert" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val init = e.filter(col("vec_id") % 7 =!= 0)
        .select(col("vec_id").as("b_id"), col("embedding").as("b_v"))
      val g0 = operators.AnnSearch.knnGraph(init, k = KgBuildK,
        iters = KgIters, buildK = KgBuildK)
      operators.AnnSearch.addToKnnGraph(g0, init,
          e.filter(col("vec_id") % 7 === 0), "vec_id", "embedding",
          k = KgBuildK, ef = KgBuildK, rounds = GsRounds,
          nEntries = GsEf)
        .select(col("a_id").as("vec_id"), col("nbr_id"), col("rnk"))
    }),

    // LAYERED index maintenance then layered serve (the CDC stream's
    // batch twin, spec-proven fold-equal): base and layer graphs build
    // on the initial generation, the id%7 batch folds into BOTH (the
    // layer takes only md5-promoted inserts — HNSW level assignment at
    // insert), and the layered serve walks the two UPDATED graphs
    "q270_layered_maintain" -> ((s, dir) => {
      val A = operators.AnnSearch
      val e = t(s, dir, "embeddings")
      val init = e.filter(col("vec_id") % 7 =!= 0)
        .select(col("vec_id").as("b_id"), col("embedding").as("b_v"))
      val batch = e.filter(col("vec_id") % 7 === 0)
      val g0 = A.knnGraph(init, k = KgBuildK, iters = KgIters,
        buildK = KgBuildK)
      val l1b0 = init.filter(A.layerPromoted(col("b_id"), LdDiv))
      val l1g0 = A.knnGraph(l1b0, k = KgBuildK, iters = KgIters,
        buildK = KgBuildK)
      val g1 = A.addToKnnGraph(g0, init, batch, "vec_id", "embedding",
        k = KgBuildK, ef = KgBuildK, rounds = GsRounds, nEntries = GsEf)
      val l1g1 = A.addToKnnGraph(l1g0, l1b0,
        batch.filter(A.layerPromoted(col("vec_id"), LdDiv)),
        "vec_id", "embedding",
        k = KgBuildK, ef = KgBuildK, rounds = GsRounds, nEntries = GsEf)
      val bd = e.select(col("vec_id").as("b_id"), col("embedding").as("b_v"))
      val qd = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("a_id"), col("embedding").as("a_v"))
      // l1Rounds = GsRounds: same measured saturation as q268 (layer
      // walks converge by round 2 on this fixture, output identical)
      A.graphTopKLayeredMulti(qd, bd, g1,
          Seq((bd.filter(A.layerPromoted(col("b_id"), LdDiv)), l1g1)),
          AnnK, GsEf, GsRounds, nEntries = GsEf, l1Rounds = GsRounds)
        .select(col("a_id").as("vec_id"), col("nbr_id"), col("rnk"))
    }),

    // REAL-decode image embedding, exact-integer surface: grid-gray
    // cell sums/counts + 8-octant gradient-orientation counts off
    // actually-decoded pixels (ImageIO); the oracle recomputes every
    // integer from the fixture's closed-form raster without decoding
    "q271_image_embed_stats" -> ((s, dir) =>
      operators.Multimodal.imageEmbeddingStats(phashMedia(s, dir),
        grid = 4)),

    // The similarity stack on REAL decoded content: cosine top-k over
    // the q271-derived float embedding (each value one exact double
    // division narrowed to float — bit-reproducible in SQL), replacing
    // the md5 decodeStub for the image modality end-to-end
    "q272_image_embed_ann" -> ((s, dir) => {
      val emb = operators.Multimodal.imageEmbedding(phashMedia(s, dir),
        grid = 4)
      val b = emb.select(col("vec_id").as("b_id"),
        col("embedding").as("b_v"))
      val q = emb.filter(col("vec_id") < 30)
        .select(col("vec_id").as("a_id"), col("embedding").as("a_v"))
      operators.AnnSearch.bruteForceTopK(q, b, AnnK)
        .select(col("a_id").as("vec_id"), col("nbr_id"), col("rnk"))
    }),

    // Embedding near-dup on REAL decoded content (q26's family member
    // over q272's embedding): the fixture plants 75 sparse-perturbation
    // near-copies, and the real-decode features separate them cleanly
    // (measured: near-pairs cos ≥ 0.998768, all other pairs ≤
    // 0.997796) — τ = 0.9985 recovers exactly the planted pairs
    "q273_image_embed_dedup" -> ((s, dir) =>
      graft.operators.Dedup.embeddingNearDup(
        operators.Multimodal.imageEmbedding(phashMedia(s, dir),
          grid = 4),
        "vec_id", "embedding", 0.9985)),

    // REAL text content embedding (the text-modality half of the
    // decodeStub replacement): single-pass native hashed-TF — tokens
    // by the corpus-wide single-space split, buckets by the portable
    // md5 60-bit bridge mod TfDims, values one exact double division
    // narrowed to float — exploded to scalar rows for the gate
    "q274_text_embed" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        posexplode(functions.TextExpressions.hashedTf(col("text"),
          TfDims)).as(Seq("dim_idx", "val")))),

    // the similarity stack on REAL text content: cosine top-k over the
    // q274 hashed-TF embedding (q272's shape for the text modality)
    "q275_text_embed_ann" -> ((s, dir) => {
      val emb = t(s, dir, "documents").select(
        col("doc_id").as("vec_id"),
        functions.TextExpressions.hashedTf(col("text"), TfDims)
          .as("embedding"))
      val b = emb.select(col("vec_id").as("b_id"),
        col("embedding").as("b_v"))
      val q = emb.filter(col("vec_id") < 30)
        .select(col("vec_id").as("a_id"), col("embedding").as("a_v"))
      operators.AnnSearch.bruteForceTopK(q, b, AnnK)
        .select(col("a_id").as("vec_id"), col("nbr_id"), col("rnk"))
    }),

    // REAL-decode audio embedding, exact-integer surface: per-window
    // signed sample sums/counts + zero-crossing count off actually
    // decoded PCM (javax.sound); the oracle recomputes every integer
    // from the q245 fixture's closed-form sample formula
    "q276_audio_embed_stats" -> ((s, dir) =>
      operators.Multimodal.audioEmbeddingStats(ahashMedia(s, dir),
        windows = 16)),

    // Embedding near-dup on REAL decoded audio (q273's audio twin):
    // signed window-mean + zero-crossing-rate embedding separates the
    // 60 planted sparse-perturbation near-copies cleanly (measured:
    // near-pairs cos ≥ 0.99970, all other pairs ≤ 0.96527) — τ = 0.999
    // recovers exactly the planted pairs
    "q277_audio_embed_dedup" -> ((s, dir) =>
      graft.operators.Dedup.embeddingNearDup(
        operators.Multimodal.audioEmbedding(ahashMedia(s, dir),
          windows = 16),
        "vec_id", "embedding", 0.999)),

    // REAL-decode video embedding, exact-integer surface: pooled cell
    // sums/counts, clip totals, per-frame gradient octants, and the
    // frame-delta motion pair off actually decoded GIF frames; the
    // oracle recomputes every integer from the q243 closed-form raster
    "q278_video_embed_stats" -> ((s, dir) =>
      operators.Multimodal.videoEmbeddingStats(vhashMedia(s, dir),
        grid = 4)),

    // the similarity stack on REAL decoded video: cosine top-k over
    // the centered-cells + octants + motion embedding (q272's shape) —
    // every query clip's top-1 is its planted sparse-perturbation copy
    // (measured 60/60, min top1−top2 gap 0.0033)
    "q279_video_embed_ann" -> ((s, dir) => {
      val emb = operators.Multimodal.videoEmbedding(vhashMedia(s, dir),
        grid = 4)
      val b = emb.select(col("vec_id").as("b_id"),
        col("embedding").as("b_v"))
      val q = emb.filter(col("vec_id") < 30)
        .select(col("vec_id").as("a_id"), col("embedding").as("a_v"))
      operators.AnnSearch.bruteForceTopK(q, b, AnnK)
        .select(col("a_id").as("vec_id"), col("nbr_id"), col("rnk"))
    }),

    // The FULL pipeline on real content: decode → embed → IVF index →
    // serve. Image embeddings (q272's vectors) train the q23 IVF
    // pipeline (md5 seed pool, farthest-first, quantized-integer
    // Lloyd) and serve the probe set — the composition a real corpus
    // runs nightly, every stage hash-gated
    "q281_image_embed_ivf" -> ((s, dir) => {
      val emb = operators.Multimodal.imageEmbedding(phashMedia(s, dir),
        grid = 4)
      val q = emb.filter(col("vec_id") < 50)
        .select(col("vec_id").as("a_id"), col("embedding").as("a_v"))
      val b = emb.select(col("vec_id").as("b_id"),
        col("embedding").as("b_v"))
      AnnSearch.ivfTopK(q, b, AnnK, nCentroids = IvfCents,
          nProbe = IvfProbe)
        .select(col("a_id").as("vec_id"), col("nbr_id"), col("rnk"))
    }),

    // The MODALITY ROUTER end-to-end: one mixed media table (150
    // images + 120 audio clips + 120 video clips, id-offset per
    // family), one contentEmbedding pass dispatching each row to its
    // REAL decoder — the oracle rebuilds all three embedding families
    // from their closed-form fixture CTEs in one UNION
    "q280_content_embed" -> ((s, dir) => {
      val mixed = phashMedia(s, dir)
        .unionAll(ahashMedia(s, dir)
          .withColumn("media_id", col("media_id") + 1000))
        .unionAll(vhashMedia(s, dir)
          .withColumn("media_id", col("media_id") + 2000))
      operators.Multimodal.contentEmbedding(mixed)
        .select(col("vec_id"), col("modality"),
          posexplode(col("embedding")).as(Seq("dim_idx", "val")))
    }),

    // k-NN graph tombstone retraction (q257's dual): edges touching
    // removed ids vanish (the shared no-retrain rule), the serve walks
    // the surviving graph. Oracle: the serve unroll with entries,
    // queries, and the edge set cut to survivors
    "q258_knn_graph_retraction" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val bd = e.select(col("vec_id").as("b_id"), col("embedding").as("b_v"))
      val g = operators.AnnSearch.knnGraph(bd, k = KgBuildK,
        iters = KgIters, buildK = KgBuildK)
      val live = operators.AnnSearch.retractFromKnnGraph(g,
        e.filter(col("vec_id") % 7 === 0).select("vec_id"), "vec_id")
      val qd = e.filter(col("vec_id") < 50 && col("vec_id") % 7 =!= 0)
        .select(col("vec_id").as("a_id"), col("embedding").as("a_v"))
      operators.AnnSearch.graphTopK(qd,
          bd.filter(col("b_id") % 7 =!= 0), live, AnnK, GsEf, GsRounds,
          nEntries = GsEf)
        .select(col("a_id").as("vec_id"), col("nbr_id"), col("rnk"))
    }),

    // Chunk-embedding mean pooling: one vector per parent doc from its
    // chunks' embeddings (vec_id mod 100 groups as the synthetic
    // parent) — quantized-integer per-dim sums, so the pooled values
    // are shuffle-order-free and engine-exact
    "q259_chunk_pool" -> ((s, dir) =>
      operators.Features.meanPoolEmbeddings(
        t(s, dir, "embeddings").select(
          pmod(col("vec_id"), lit(100L)).as("doc"), col("embedding")),
        "doc", "embedding")
        .select(col("grp").as("doc"), col("pos"), col("pooled"),
          col("n_chunks"))),

    // Graph-based SemDeDup: the k-NN graph AS the near-dup candidate
    // generator — standing edges rescored exactly, kept at cos ≥ 0.4
    // (q26's corpus-calibrated τ), closed into dup groups by the CC
    // machinery. The production alternative to LSH-bucketed SemDeDup
    // when a k-NN graph is already maintained for retrieval: candidate
    // quality is the graph's recall, and no second index exists
    "q256_graph_semdedup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val bd = e.select(col("vec_id").as("b_id"), col("embedding").as("b_v"))
      val g = operators.AnnSearch.knnGraph(bd, k = KgBuildK,
        iters = KgIters, buildK = KgBuildK)
      val pairs = g
        .join(e.select(col("vec_id").as("a_id"),
          col("embedding").as("av")), "a_id")
        .join(e.select(col("vec_id").as("nbr_id"),
          col("embedding").as("bv")), "nbr_id")
        .filter(functions.VectorOps.cosine(col("av"), col("bv"))
          >= SemTau)
        .select(col("a_id"), col("nbr_id").as("b_id"))
      Dedup.dupGroups(pairs,
          e.select(col("vec_id").as("doc_id")), "doc_id")
        .select(col("doc_id").as("vec_id"), col("canonical_id"),
          col("is_survivor"))
    }),

    // ---- Standing-index DURABILITY (q260-q264): the restart half of
    // the build-once / serve-many contract, one row per index family.
    // Each builds its index, SAVES it under IndexStore's
    // commit-manifest protocol, LOADS it back (parquet round-trip — no
    // lineage to the building plans, exactly a restarted session), and
    // serves from the loaded artifacts. The oracle is the family's
    // UNCHANGED serve oracle: any drift the round-trip introduced
    // (schema, value, ordering) breaks the hash. Crash-safety (a save
    // that dies mid-write refuses to load) is IndexStoreSpec's.

    // IVF: centroid table + vector table → ivfTopKPrebuilt (q23 oracle)
    "q260_ivf_persist" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("a_id"), col("embedding").as("a_v"))
      val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_v"))
      val cents = AnnSearch.centroids(b, IvfCents)
      val p = java.nio.file.Files.createTempDirectory("graft_ivf")
      try {
        operators.IndexStore.saveIvf(p.toString, cents, b, IvfCents,
          iters = 2, seed = 42L)
        val (lc, lv) = operators.IndexStore.loadIvf(s, p.toString,
          IvfCents, iters = 2, seed = 42L)
        // localCheckpoint materializes the loaded tables so the temp
        // dir can be deleted eagerly (the q235 discipline)
        AnnSearch.ivfTopKPrebuilt(q, lv.localCheckpoint(), AnnK,
            lc.localCheckpoint(), IvfProbe)
          .select(col("a_id").as("vec_id"), col("nbr_id"), col("rnk"))
      } finally Workloads.deleteTree(p.toString)
    }),

    // PQ: codebook + codes → pqTopKRerank (q75 oracle)
    "q261_pq_persist" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qd = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("a_id"), col("embedding").as("a_v"))
      val bd = e.select(col("vec_id").as("b_id"), col("embedding").as("b_v"))
      val cb = AnnSearch.pqCodebook(bd, m = PqM, nCentroids = PqNc)
      val codes = AnnSearch.pqEncode(e, "vec_id", "embedding", cb)
      val p = java.nio.file.Files.createTempDirectory("graft_pq")
      try {
        operators.IndexStore.savePq(p.toString, cb, codes, PqM, PqNc,
          iters = 2, seed = 42L)
        val (lcb, lcodes) = operators.IndexStore.loadPq(s, p.toString,
          PqM, PqNc, iters = 2, seed = 42L)
        AnnSearch.pqTopKRerank(qd, bd, lcodes.localCheckpoint(),
            lcb.localCheckpoint(), AnnK, shortlist = PqShortlist)
          .select(col("a_id").as("vec_id"), col("nbr_id"), col("rnk"))
      } finally Workloads.deleteTree(p.toString)
    }),

    // composed IVF-PQ: all three artifacts → ivfPqTopK (q247 oracle)
    "q262_ivfpq_persist" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qd = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("a_id"), col("embedding").as("a_v"))
      val bd = e.select(col("vec_id").as("b_id"), col("embedding").as("b_v"))
      val (cents, cb, codes) = AnnSearch.ivfPqIndex(bd, IvfCents, PqM, PqNc)
      val p = java.nio.file.Files.createTempDirectory("graft_ivfpq")
      try {
        operators.IndexStore.saveIvfPq(p.toString, cents, cb, codes,
          IvfCents, PqM, PqNc, iters = 2, seed = 42L)
        val (lc, lcb, lcodes) = operators.IndexStore.loadIvfPq(s,
          p.toString, IvfCents, PqM, PqNc, iters = 2, seed = 42L)
        AnnSearch.ivfPqTopK(qd, bd, lcodes.localCheckpoint(),
            lc.localCheckpoint(), lcb.localCheckpoint(), AnnK, IvfProbe,
            PqShortlist)
          .select(col("a_id").as("vec_id"), col("nbr_id"), col("rnk"))
      } finally Workloads.deleteTree(p.toString)
    }),

    // minhash: the persisted index → minHashJoinAgainst probe; store =
    // doc_id % 3 != 2, probe = % 3 == 2 (q239's grown-store oracle —
    // an index row derives from its doc alone, so one build over the
    // full store equals q239's build-then-append bit for bit)
    "q263_minhash_persist" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val idx = operators.Dedup.minHashIndex(
        d.filter(col("doc_id") % 3 =!= 2), "doc_id", "text", 3)
      val p = java.nio.file.Files.createTempDirectory("graft_mh")
      try {
        operators.IndexStore.saveMinHash(p.toString, idx, shingleN = 3,
          numHashes = 64)
        val loaded = operators.IndexStore.loadMinHash(s, p.toString, 3, 64)
          .localCheckpoint()
        operators.Dedup.minHashJoinAgainst(loaded,
          d.filter(col("doc_id") % 3 === 2), "doc_id", "text", 3, 0.5)
      } finally Workloads.deleteTree(p.toString)
    }),

    // MPEG audio (MP3) frame-header demux — the second library-free
    // byte-grammar parser (q249's ISO-BMFF recipe on 11172-3 frame
    // headers): stream params, exact frame/sample counts (duration),
    // CBR/VBR split, Xing totals, ID3v2 size. Fixtures are real frame
    // grammar whose every field is a closed form of the id, so the
    // oracle recomputes the parse without touching bytes
    "q265_mp3_metadata" -> ((s, dir) => {
      val gen = udf((id: Long) => graft.operators.Multimodal.syntheticMp3(id))
      graft.operators.Multimodal.mp3Metadata(
        t(s, dir, "documents").filter(col("doc_id") < 120)
          .select(col("doc_id").as("media_id"),
            gen(col("doc_id")).as("payload")))
    }),

    // LAYERED graph serve (HNSW's long-range idea, 2-layer BSP form):
    // the sparse md5-promoted layer's k-NN graph routes a 10-entry
    // walk to every query's region; its results seed the base walk.
    // Oracle: BOTH graph unrolls + both walks chained
    "q268_graph_layered" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val bd = e.select(col("vec_id").as("b_id"), col("embedding").as("b_v"))
      val qd = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("a_id"), col("embedding").as("a_v"))
      val g = operators.AnnSearch.knnGraph(bd, k = KgBuildK,
        iters = KgIters, buildK = KgBuildK)
      // TWO nested levels (divisors LdDiv, 2·LdDiv — round-11's HNSW
      // recursion), walked top-down with per-level re-entry seeding
      val layers = operators.AnnSearch.layerGraphs(bd, levelDiv = LdDiv,
        k = KgBuildK, iters = KgIters, growth = 2, minTop = 1L,
        maxLevels = 2)
      // l1Rounds trimmed to GsRounds: the layer walks saturate by round
      // 2 on this fixture — MEASURED (sf0.1 probe): output fingerprint
      // IDENTICAL to the 2×-rounds default, serve wall time 6.9→3.8 s.
      // The library default stays 2× for callers at unknown scales.
      operators.AnnSearch.graphTopKLayeredMulti(qd, bd, g, layers, AnnK,
          GsEf, GsRounds, nEntries = GsEf, l1Rounds = GsRounds)
        .select(col("a_id").as("vec_id"), col("nbr_id"), col("rnk"))
    }),

    // k-NN GRAPH, IVF-CELL-SHARDED (the cell-sharded scale build beside
    // q252's NN-Descent): top-2 cell assignment over the q23 centroid
    // pipeline, exact per-cell top-k, cross-cell bounded-heap merge,
    // then ONE NN-Descent refinement round on knnGraph's vertex blocks
    // (the round that buys back cell-coverage loss at 1M).
    // The oracle shares q23's centroid CTEs byte-for-byte, ranks the
    // distinct shared-cell pairs per vertex (== the engine's per-cell-
    // then-merge under the shared (cos desc, id) tie rule), and unrolls
    // the refinement round with q252's bn/cd/g template
    "q269_knn_graph_ivf" -> ((s, dir) =>
      operators.AnnSearch.knnGraphIvf(
        t(s, dir, "embeddings").select(col("vec_id").as("b_id"),
          col("embedding").as("b_v")),
        k = KgBuildK, nCells = IvfCents, nAssign = KgIvfAssign,
        lloydIters = IvfIters, refineIters = 1, seed = IvfSeed)
        .select(col("a_id").as("vec_id"), col("nbr_id"), col("rnk"))),

    // Unigram-LM (SentencePiece-style) tokenizer LEARNING: seed
    // substring candidates, then 2 hard-EM rounds (Viterbi E-step
    // under quantized integer log-probs, usage-count M-step, top-K
    // prune with always-kept single chars). The whole loop is
    // deterministic, so the oracle unrolls every round — DP positions,
    // backtrace, usage, prune — as CTEs (the BPE discipline)
    "q266_unigram_vocab" -> ((s, dir) =>
      operators.UnigramLm.learn(t(s, dir, "documents"), "text",
        maxPieceLen = UgL, minCount = UgMinCnt, vocabK = UgK,
        rounds = UgRounds)),

    // Unigram-LM TOKENIZATION under the learned vocab: Viterbi
    // segmentation of the distinct-word table (max score, smallest
    // split on ties) — the serving half of q266; the oracle chains one
    // more score table + DP unroll past the learning CTEs
    "q267_unigram_tokenize" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      operators.UnigramLm.tokenize(docs, "text",
        operators.UnigramLm.learn(docs, "text", UgL, UgMinCnt, UgK,
          UgRounds), UgL)
    }),

    // k-NN graph: the persisted edge table → graphTopK beam serve
    // (q253 oracle)
    "q264_graph_persist" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val bd = e.select(col("vec_id").as("b_id"), col("embedding").as("b_v"))
      val qd = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("a_id"), col("embedding").as("a_v"))
      val g = operators.AnnSearch.knnGraph(bd, k = KgBuildK,
        iters = KgIters, buildK = KgBuildK)
      val p = java.nio.file.Files.createTempDirectory("graft_kg")
      try {
        operators.IndexStore.saveKnnGraph(p.toString, g, KgBuildK,
          KgIters, seed = 42L)
        val lg = operators.IndexStore.loadKnnGraph(s, p.toString,
          KgBuildK, KgIters, seed = 42L).localCheckpoint()
        operators.AnnSearch.graphTopK(qd, bd, lg, AnnK, GsEf, GsRounds,
            nEntries = GsEf)
          .select(col("a_id").as("vec_id"), col("nbr_id"), col("rnk"))
      } finally Workloads.deleteTree(p.toString)
    }),

    // Multi-probe LSH (Lv et al. 2007): 4 tables × 3 probes — each
    // query also checks the buckets across its 2 nearest hyperplanes.
    // Standing index is HALF of q140's (4 tables' signatures) at
    // comparable recall; recall-vs-tables measured in AnnSearchSpec
    "q251_ann_lsh_multiprobe" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(pmod(col("vec_id"), lit(LshQueryMod)) === 0)
        .select(col("vec_id").as("a_id"), col("embedding").as("a_v"))
      val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_v"))
      operators.AnnSearch.lshTopKMultiProbe(q, b, LshK, LshMpPlanes,
          LshProbes)
        .select(col("a_id").as("vec_id"), col("nbr_id"), col("rnk"))
    }),

    // SemDeDup: k-means clusters scope the pairwise cosine prune —
    // O(Σ|c|²) instead of q26's O(n²); exact k-means (q120) makes the
    // cluster-scoped drop set deterministic and fully oracle-checkable
    "q141_semdedup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val asg = operators.KMeans.fit(e, "vec_id", "embedding", KmK, KmRounds)
      operators.Dedup.semDedup(e, "vec_id", "embedding", asg, SemTau)
    }),

    // DSIR importance weights: hashed-bigram log-likelihood ratio of
    // target (lang='en') vs raw corpus — the importance-resampling
    // scorer; B-bucket profile broadcasts, text never shuffles
    "q142_dsir" -> ((s, dir) =>
      operators.Curation.dsirImportance(t(s, dir, "documents"), "doc_id",
        "text", col("lang") === "en", n = 2, buckets = DsirBuckets)),

    // Contrastive hard-negative mining: per query, top-k cosine among
    // DIFFERENTLY-labeled embeddings (q16's exact kernel, label-pruned)
    "q143_hard_negatives" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("a_id"), col("embedding").as("a_v"),
          col("label").as("a_lab"))
      val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_v"),
        col("label").as("b_lab"))
      operators.AnnSearch
        .bruteForceTopKWhere(q, b, 5, col("a_lab") =!= col("b_lab"))
        .select(col("a_id").as("vec_id"), col("nbr_id"), col("rnk"))
    }),

    // Per-doc n-gram novelty (first-occurrence attribution): the
    // linear-cost dup screen — no pairwise join, one agg + one equi-join
    "q144_ngram_novelty" -> ((s, dir) =>
      operators.Dedup.noveltyReport(t(s, dir, "documents"), "doc_id",
        "text", n = 3)),

    // Gopher/C4-style rule report: per-doc quality flags with REASONS
    // (length band, mean word length band, top-word dominance, stopword
    // presence) — every compare is integer cross-multiplied, so the
    // keep decision is bit-exact cross-engine. Complements q13's ratio
    // scores: filters need the per-rule bitmask to audit WHY a doc died.
    // The dominance rule is the only shuffle (per-(doc,word) count,
    // max-reduced per doc); the rest is row-local arithmetic.
    "q145_gopher_rules" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val ws = TextFunctions.tokens(col("text"))
      val base = docs.select(col("doc_id"), col("text"),
        size(ws).cast("long").as("n_words"),
        size(array_intersect(array_distinct(ws),
          array(TextFunctions.langLexica.head._2.map(lit): _*)))
          .cast("long").as("stop_kinds"))
      val topFreq = docs
        .select(col("doc_id"), explode(ws).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(max(col("c")).as("top_freq"))
      base.join(topFreq, "doc_id")
        .select(col("doc_id"), col("n_words"), col("top_freq"),
          col("n_words").between(GoMinWords, GoMaxWords).as("r_len"),
          // mean word length in [3,10]: word chars = len − (n−1) spaces
          ((length(col("text")) - col("n_words") + 1) >=
            col("n_words") * 3 &&
           (length(col("text")) - col("n_words") + 1) <=
            col("n_words") * 10).as("r_wordlen"),
          (col("top_freq") * 5 <= col("n_words")).as("r_dominance"),
          (col("stop_kinds") >= 2).as("r_stopword"))
        .withColumn("keep", col("r_len") && col("r_wordlen") &&
          col("r_dominance") && col("r_stopword"))
    }),

    // Tokenizer fertility report per (lang, source): subword-per-word
    // and chars-per-subword off ONE scan — the corpus-planning view
    // (which shards inflate the token budget) over exact integer sums
    "q146_fertility" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"), col("source"),
          size(TextFunctions.tokens(col("text"))).cast("long").as("nw"),
          size(TextFunctions.bpeTokens(col("text"))).cast("long")
            .as("nb"),
          length(col("text")).cast("long").as("nc"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nw")).cast("long").as("n_words"),
          sum(col("nb")).cast("long").as("n_subwords"),
          sum(col("nc")).cast("long").as("n_chars"))
        // zero-guard: Spark double-division by 0 yields NULL while
        // DuckDB IEEE yields inf — make the degenerate group NULL in
        // BOTH engines (n_words >= 1 always: split("") = [""])
        .withColumn("fertility",
          round(col("n_subwords").cast("double") / col("n_words"), 6))
        .withColumn("chars_per_subword",
          when(col("n_subwords") > 0,
            round(col("n_chars").cast("double") / col("n_subwords"), 6)))),

    // Nearest-centroid confusion matrix over the labeled embeddings —
    // the label-separability probe; quantized components + decimal
    // distance terms keep the whole matrix oracle-exact
    "q147_centroid_classify" -> ((s, dir) =>
      operators.Stats.nearestCentroid(t(s, dir, "embeddings"), "vec_id",
        "embedding", "label")),

    // Johnson–Lindenstrauss 64→16 sign projection (exploded scalar
    // layout) — integer-exact ±1 dots, k=16 so 1/√k is exact
    "q148_jl_project" -> ((s, dir) =>
      operators.AnnSearch.jlProject(t(s, dir, "embeddings"), "vec_id",
        "embedding", JlPlanes)),

    // Calibration/reliability table for q96's scored outcome — the
    // "is the confidence honest" half of model eval, one hash agg
    "q149_calibration" -> ((s, dir) =>
      operators.Stats.calibration(t(s, dir, "embeddings"),
        col("label") === 0,
        round(element_at(col("embedding"), 1).cast("double") * 10000)
          .cast("long"),
        binWidth = 1000L, scale = 10000.0)),

    // Bottom-k-by-hash quantile sketch (q73's bounded-state sibling):
    // full rows never shuffle — k-sized heaps merge map-side; the
    // deterministic sample makes even the approximation oracle-exact
    "q150_quantile_sketch" -> ((s, dir) =>
      operators.Sketches.quantileSample(t(s, dir, "orders"),
        Seq("o_orderpriority"), round(col("o_totalprice") * 100),
        col("o_orderkey"), QskK, QskSalt)),

    // Adamic–Adar link prediction over the co-purchase graph — the
    // degree-discounted sibling of q106's Jaccard node similarity
    // (shared RARE neighbors score high, shared hubs score low)
    "q151_adamic_adar" -> ((s, dir) =>
      operators.GraphStats.adamicAdar(
        operators.Basket.frequentPairs(t(s, dir, "lineitem"),
          "l_orderkey", "l_partkey", minSupport = 2),
        "item_a", "item_b", minCommon = 2)),

    // Per-user covered activity time: merge overlapping [ms, ms+dur)
    // activity intervals (dur varies per event) and measure the union —
    // the sweep/coverage operator, one exchange end-to-end
    "q152_interval_union" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val iv = ev.select(col("user_id"), col("event_id"),
          eventMs(ev).as("lo"))
        .withColumn("hi",
          col("lo") + (col("event_id") % 10 + 1) * 60000L)
      operators.IntervalJoin.unionLength(iv, Seq("user_id"), "lo", "hi",
        tieCols = Seq("event_id"))
    }),

    // Ordered string aggregation (LISTAGG): premium customers per
    // nation as one deterministic comma-joined sorted string —
    // array_sort(collect_list) is engine-order-free by construction
    "q153_string_agg" -> ((s, dir) =>
      t(s, dir, "customer").filter(col("c_acctbal") > 9000)
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_customers"),
          array_join(array_sort(collect_list(col("c_name"))), ",")
            .as("names"))),

    // UNPIVOT: the wide pricing rollup melted to (measure, value) long
    // form via the native Dataset.unpivot (Expand — one pass, no
    // self-union); the relational inverse of q54's PIVOT
    "q154_unpivot" -> ((s, dir) => {
      val wide = t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(sum(col("l_quantity")).as("sum_qty"),
          (sum(round(col("l_extendedprice") * 100)).cast("long") / 100.0)
            .as("revenue"),
          count(lit(1)).cast("double").as("n"))
      wide.unpivot(Array(col("l_returnflag")),
        Array(col("sum_qty"), col("revenue"), col("n")),
        "measure", "value")
    }),

    // Benford first-digit audit of line revenue per return flag: the
    // fraud/data-entry screen — observed digit counts vs the Benford
    // expectation with per-cell chi-square contributions. The digit is
    // extracted from the INTEGER cents' decimal string (exact in both
    // engines — no log-based magnitude arithmetic on doubles)
    "q155_benford" -> ((s, dir) => {
      val cents = round(col("l_extendedprice") * 100).cast("long")
      val counts = t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          substring(cents.cast("string"), 1, 1).cast("int").as("digit"))
        .groupBy("l_returnflag", "digit")
        .agg(count(lit(1)).as("obs"))
      val n = sum(col("obs"))
        .over(Window.partitionBy(col("l_returnflag")))
      val e = n * log10(lit(1.0) + lit(1.0) / col("digit"))
      counts
        .withColumn("expected", round(e, 6))
        .withColumn("contrib",
          round((col("obs") - e) * (col("obs") - e) / e, 6))
    }),

    // Multinomial naive-Bayes language ID trained on the corpus itself
    // — the count-based classifier baseline (fastText-shaped routing
    // gate); reported as the label×prediction confusion matrix
    "q156_naive_bayes" -> ((s, dir) =>
      operators.LanguageModel.naiveBayes(t(s, dir, "documents"),
        "doc_id", "text", "lang")),

    // Two-feature OLS (price ~ quantity + discount) per (flag, status)
    // via closed-form 2×2 normal equations: first-level moments are
    // decimal-exact; the centered terms cast to double ONCE and every
    // second-level product/ratio is fixed-order IEEE — q78's pattern
    // one matrix rank higher
    "q157_ols2" -> ((s, dir) =>
      operators.Stats.ols2(t(s, dir, "lineitem"),
        Seq("l_returnflag", "l_linestatus"),
        col("l_quantity"), round(col("l_discount") * 100),
        round(col("l_extendedprice") * 100))),

    // Dirichlet-smoothed query likelihood over the q115 query — the
    // language-model ranking family beside BM25's, same inverted-index
    // plan (matched postings only + a per-doc length normalizer)
    "q158_dirichlet_ql" -> ((s, dir) =>
      operators.Search.dirichletQl(t(s, dir, "documents"), "doc_id",
        "text", Bm25Terms, QlMu)),

    // Per-cluster simplified silhouette of the q120 k-means fit — the
    // cohesion/separation report the reference reads off its progress
    // logs by hand; one literal-centroid projection pass + one agg
    "q159_silhouette" -> ((s, dir) =>
      operators.ClusterEval.simplifiedSilhouette(t(s, dir, "embeddings"),
        "vec_id", "embedding", KmK, KmRounds)),

    // Adjusted Rand Index: recovered k-means clusters vs the corpus's
    // planted labels — exact integer pair-counting, one closing ratio
    "q160_rand_index" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      operators.ClusterEval.adjustedRandIndex(
        operators.KMeans.fit(e, "vec_id", "embedding", KmK, KmRounds)
          .select(col("vec_id"), col("cluster")),
        e.select(col("vec_id"), col("label")))
    }),

    // Sorted 4-dist curve as an equi-depth decile profile (Ester et
    // al. §4.2's eps-selection heuristic, made first-class)
    "q161_kdist" -> ((s, dir) =>
      operators.ClusterEval.kDistProfile(t(s, dir, "embeddings"),
        "vec_id", "embedding", KDistK, KDistBuckets)),

    // Cohen's kappa of the q12 language-ID heuristic against the
    // corpus's gold lang column — chance-corrected classifier
    // agreement, exact integers to one closing division
    "q162_kappa" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      operators.Stats.cohensKappa(
        d.select(TextFunctions.langId(col("text")).as("a"),
          col("lang").as("b")))
    }),

    // Embedding-level eval decontamination: held-out vectors with ANY
    // training vector within cosine SemTau — the semantic complement
    // of q36's n-gram screen; τ filter prunes pairs before the agg
    "q163_contamination" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      operators.Curation.embeddingContamination(
        e.filter(col("vec_id") % 20 === 0),
        e.filter(col("vec_id") % 20 =!= 0),
        "vec_id", "embedding", SemTau)
    }),

    // Incremental DBSCAN: cluster 90% of the corpus, then fold the
    // remaining batch in (only the tiles within 2ε of it re-solve) —
    // labels identical to the from-scratch q6 run, so it shares q6's
    // oracle
    "q164_incr_dbscan" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      // pin between folds: labels then plans on shallow checkpointed
      // leaves, not the whole fold history's DAG (3× at fixture scale)
      val st0 = operators.IncrementalDbscan.pin(
        operators.IncrementalDbscan.init(
          e.filter(col("vec_id") % 10 =!= 0), "vec_id", "embedding",
          Eps, MinPts, Nil))
      val st1 = operators.IncrementalDbscan.pin(
        operators.IncrementalDbscan.addPoints(st0,
          e.filter(col("vec_id") % 10 === 0), "vec_id", "embedding",
          Eps, MinPts, Nil))
      operators.IncrementalDbscan.labels(st1)
    }),

    // Mann–Kendall monotonic-trend test over each priority's daily
    // revenue: S, z, τ_b all from exact integers (pair sign sums +
    // tie-corrected variance, decimal-widened) — the nonparametric
    // "is revenue drifting" screen beside q133's CUSUM changepoints
    "q165_mann_kendall" -> ((s, dir) => {
      val daily = t(s, dir, "orders")
        .select(col("o_orderpriority"),
          datediff(col("o_orderdate").cast("date"),
            lit(java.sql.Date.valueOf("1970-01-01"))).as("day"),
          round(col("o_totalprice") * 100).cast("long").as("c"))
        .groupBy("o_orderpriority", "day")
        .agg(sum("c").as("cents"))
      operators.Stats.mannKendall(daily, Seq("o_orderpriority"), "day",
        col("cents"))
    }),

    // Lead–lag cross-correlation between event types' daily spend at
    // calendar lags 0..7 — acf's (q138) two-series sibling; ONE
    // period equi-join carries the pair fan-out and every lag
    "q166_cross_corr" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val daily = ev
        .select(col("event_type"), eventMs(ev).as("ms"), col("value"))
        .select(col("event_type"), expr("ms DIV 86400000").as("day"),
          round(col("value") * 100).cast("long").as("c"))
        .groupBy("event_type", "day")
        .agg(sum(col("c")).as("cents"))
      operators.TimeSeries.crossCorr(daily, "event_type", "day", "cents",
        XcfMaxLag)
    }),

    // Welch's unequal-variance t report on the q134 split (fulfilled
    // vs open orders per priority): the parametric "did the mean
    // move" beside KS's distributional drift — decimal-exact moments,
    // fixed-order closing expressions
    "q167_welch_t" -> ((s, dir) =>
      operators.Stats.welchT(t(s, dir, "orders"),
        Seq("o_orderpriority"),
        round(col("o_totalprice") * 100),
        col("o_orderstatus") === "F")),

    // k-anonymity / l-diversity release audit over customer
    // quasi-identifiers (segment × nation), sensitive = balance sign:
    // every equivalence class a release would have to suppress
    "q168_k_anonymity" -> ((s, dir) =>
      operators.Privacy.kAnonymityAudit(t(s, dir, "customer"),
        Seq("c_mktsegment", "c_nationkey"),
        col("c_acctbal") < 0, KAnonK, KAnonL)),

    // ε-DP released counts per event type: deterministic hash-seeded
    // Laplace(1/ε) noise — same release, same noise; the inverse-CDF
    // draw is a fixed-order expression both engines reproduce
    "q169_dp_counts" -> ((s, dir) =>
      operators.Privacy.dpNoisyCounts(t(s, dir, "events"),
        col("event_type"), DpEps, DpSalt)),

    // Wilson score intervals for the negative-balance rate per market
    // segment — small-n-honest proportion CIs from (k, n) longs and
    // one pre-squared z literal
    "q170_wilson" -> ((s, dir) =>
      operators.Stats.wilsonInterval(t(s, dir, "customer"),
        Seq("c_mktsegment"), col("c_acctbal") < 0, WilsonZ)),

    // Kaplan–Meier user-retention curve over right-censored lifetimes
    // (last activity within ChurnGapDays of corpus end = censored):
    // per-step exact (n−d)/n ratios, order-free rounded-ln product
    "q171_survival" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val pu = ev.select(col("user_id"), eventMs(ev).as("ms"))
        .groupBy("user_id")
        .agg(min("ms").as("f"), max("ms").as("l"))
      val mx = pu.agg(max("l").as("mx"))
      val dur = pu.crossJoin(broadcast(mx))
        .select(expr("(l - f) DIV 86400000").as("dur_days"),
          (col("l") < col("mx") - lit(ChurnGapDays * 86400000L))
            .as("died"))
      operators.TimeSeries.kaplanMeier(dur, Nil, col("dur_days"),
        col("died"))
    }),

    // Personalized PageRank from the user_id%50 seed cohort over the
    // q58 session-concurrency graph — teleport mass concentrated on
    // the seeds ("importance relative to THESE users"); oracle = the
    // same rounds unrolled with the seeded reset vector
    "q172_ppr" -> ((s, dir) => {
      val sess = sessionTable(s, dir)
      val edges = graft.operators.IntervalJoin
        .overlapJoin(sess, sess, "start_ms", "end_ms", 3600000L)
        .filter(col("a_user_id") =!= col("b_user_id"))
        .select(col("a_user_id").as("src"), col("b_user_id").as("dst"))
      val seeds = t(s, dir, "events")
        .select(col("user_id").as("sid"))
        .filter(pmod(col("sid"), lit(PprSeedMod)) === 0)
      operators.PageRank.personalized(edges, "src", "dst", seeds, "sid",
        PrIters, PrDamping)
        .select(col("id").as("user_id"), round(col("rank"), 8).as("rank"))
    }),

    // Conversion-latency quantiles for the q50 funnel: dyadic p over
    // integer ms offsets from the first step — exact interpolation in
    // both engines (the q73 invariant), one tiny per-step aggregate
    "q173_funnel_latency" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val st = operators.Funnel.steps(
        ev.select(col("user_id"), eventMs(ev).as("ms"),
          col("event_type")),
        "user_id", "ms", "event_type",
        Seq("view", "click", "purchase"), Some(86400000L))
      st.select(explode(array(
          struct(lit("click").as("step"),
            (col("step_2_ts") - col("step_1_ts")).as("dur")),
          struct(lit("purchase").as("step"),
            (col("step_3_ts") - col("step_1_ts")).as("dur")))).as("r"))
        .select(col("r.step").as("step"), col("r.dur").as("dur"))
        .filter(col("dur").isNotNull)
        .groupBy("step")
        .agg(count(lit(1)).as("n"),
          expr("percentile(dur, 0.25)").as("p25"),
          expr("percentile(dur, 0.5)").as("p50"),
          expr("percentile(dur, 0.75)").as("p75"))
    }),

    // A-priori level 3: frequent part TRIPLES per order — both prune
    // levels (frequent items, then frequent sub-pairs) are lossless by
    // downward closure, so the naive three-way-join oracle matches
    "q174_basket_triples" -> ((s, dir) =>
      operators.Basket.frequentTriples(t(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", minSupport = TripleSupport)),

    // Positional-index exact phrase search ("table hash" as a quoted
    // query): consecutive-position posting intersection — the
    // capability the bag-of-words scorers (q115/q158) discard
    "q175_phrase_search" -> ((s, dir) =>
      operators.Search.phraseCount(t(s, dir, "documents"), "doc_id",
        "text", PhraseWords)),

    // Lexical diversity per document: type–token ratio + hapax share —
    // the vocabulary-richness axes beside entropy (q52) and
    // repetition (q51) in the corpus-quality bundle
    "q176_lexical_diversity" -> ((s, dir) =>
      operators.LanguageModel.lexicalDiversity(t(s, dir, "documents"),
        "doc_id", "text")),

    // Theil T inequality of order value per priority — the
    // decomposable entropy complement to q135's Gini; share-form terms
    // keep every rounded transcendental O(1)
    "q177_theil" -> ((s, dir) =>
      operators.Stats.theilIndex(t(s, dir, "orders"),
        Seq("o_orderpriority"), round(col("o_totalprice") * 100))),

    // Per-cluster k-means inertia (within-cluster SSE) — the
    // elbow-method readout beside q159's silhouette; same
    // literal-centroid projection plan, micro-quantized exact sums
    "q178_kmeans_inertia" -> ((s, dir) =>
      operators.ClusterEval.inertia(t(s, dir, "embeddings"),
        "vec_id", "embedding", KmK, KmRounds)),

    // Tokenizer-coverage screen: per-doc OOV rate under the corpus's
    // own top-20 vocabulary (rank window over the vocab table only)
    "q179_oov_rate" -> ((s, dir) =>
      operators.LanguageModel.oovRate(t(s, dir, "documents"),
        "doc_id", "text", OovVocabK)),

    // Week-over-week revenue growth per priority: calendar-lag self
    // join on the weekly aggregate (never a row lag — gaps stay gaps),
    // growth NULL on a missing or zero base week
    "q180_wow_growth" -> ((s, dir) => {
      val weekly = t(s, dir, "orders")
        .select(col("o_orderpriority"),
          datediff(col("o_orderdate").cast("date"),
            lit(java.sql.Date.valueOf("1970-01-01"))).as("day"),
          round(col("o_totalprice") * 100).cast("long").as("c"))
        .select(col("o_orderpriority"),
          expr("CAST(day DIV 7 AS INT)").as("wk"), col("c"))
        .groupBy("o_orderpriority", "wk")
        .agg(sum("c").as("cents"))
        .persist() // both sides of the lag self-join
      val prev = weekly.select(col("o_orderpriority"),
        (col("wk") + 1).as("wk"), col("cents").as("prev_cents"))
      weekly.join(prev, Seq("o_orderpriority", "wk"), "left")
        .select(col("o_orderpriority"), col("wk"), col("cents"),
          col("prev_cents"),
          when(col("prev_cents") =!= 0L,
            round((col("cents") - col("prev_cents")).cast("double") /
              col("prev_cents").cast("double"), 6)).as("wow_growth"))
    }),

    // One-way ANOVA F across all five priorities — does ANY priority's
    // mean order value differ? q167's Welch test generalized to k
    // groups; centered squares round to integer cents² and sum as
    // exact decimals, F is one fixed-order closing expression
    "q181_anova" -> ((s, dir) =>
      operators.Stats.anovaF(t(s, dir, "orders"),
        col("o_orderpriority"), round(col("o_totalprice") * 100))),

    // Spearman rank correlation of quantity vs line price per return
    // flag — monotone association on ×2-integral tie-averaged ranks
    // (the scale factors cancel in r)
    "q182_spearman" -> ((s, dir) =>
      operators.Stats.spearman(t(s, dir, "lineitem"),
        Seq("l_returnflag"), col("l_quantity"),
        round(col("l_extendedprice") * 100))),

    // Population-stability report of the order-value distribution,
    // fulfilled vs the rest — the binned drift monitor beside q134's
    // KS and q167's t on the same split; per-bin terms only, the
    // total is the caller's tiny sum (the chi-square stance)
    "q183_psi" -> ((s, dir) => {
      val cents = round(col("o_totalprice") * 100).cast("long")
      operators.Stats.psi(
        t(s, dir, "orders").select(cents.as("c"),
          (col("o_orderstatus") === "F").as("a")),
        expr(s"(c - pmod(c, $PsiBinW)) DIV $PsiBinW"), col("a"))
    }),

    // Smoothed target encoding of supplier by line price — rare
    // suppliers shrink toward the global mean under an m=20 prior;
    // exact integer moments, one fixed-order closing expression
    "q184_target_encoding" -> ((s, dir) =>
      operators.Features.targetEncode(t(s, dir, "lineitem"),
        col("l_suppkey"), round(col("l_extendedprice") * 100),
        TargetEncM)),

    // Semi-supervised label spreading: clamp the 10% seed labels and
    // propagate across the ε-graph for 3 synchronous rounds — the
    // transductive "annotate a sample, spread over similarity"
    // step; oracle = the rounds unrolled with the same argmax rule
    "q185_label_spreading" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val pairs = operators.EpsilonJoin
        .selfJoin(e, "vec_id", "embedding", Eps, Nil)
        .select(col("a_id").as("src"), col("b_id").as("dst"))
      val seeds = e.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id"), col("label"))
      operators.LabelProp.spread(pairs, "src", "dst", seeds,
        "vec_id", "label", SpreadRounds)
        .select(col("id").as("vec_id"), col("label").as("label_pred"))
    }),

    // Poisson-bootstrap confidence band for mean order value per
    // priority: 64 deterministic hash-seeded resamples, rank-based
    // quartile band (existing values picked by rank — no
    // interpolation arithmetic to diverge); same salt, same band
    "q186_bootstrap_ci" -> ((s, dir) =>
      operators.Stats.poissonBootstrap(t(s, dir, "orders"),
        Seq("o_orderpriority"), col("o_orderkey"),
        round(col("o_totalprice") * 100), BootB, BootSalt)),

    // How predictable is the next event from the current one alone?
    // The q92 Markov matrix scored as a predictor (argmax successor,
    // ties to the smallest label) against every observed transition
    "q187_markov_eval" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      operators.Sequences.transitionEval(
        ev.select(col("user_id"), col("event_type"), eventMs(ev).as("ms"),
          col("event_id")),
        "user_id", "event_type", "ms", Seq("event_id"))
    }),

    // ---- forced-distributed twins (localThreshold = 0) ----
    // At oracle scale (sf0.01) the size-dispatched operators all take
    // their fused single-task fast path, so CORRECTNESS greens the fused
    // branch while the distributed branch — the one that actually runs on
    // a cluster — is covered only by path-equality specs. These twins pin
    // the SAME oracle SQL directly onto the distributed branch: a dispatch
    // refactor that breaks the scale path now fails the hash gate, not
    // just a spec. (Reference anchor: the distributed merge is exactly
    // what the reference got wrong — cluster counts drift with rank count,
    // `Progress-5-Nov-19.txt:9-29`.)
    "q6d_dbscan_dist" -> ((s, dir) =>
      Dbscan.run(t(s, dir, "embeddings"), "vec_id", "embedding",
        Eps, MinPts, Nil, localThreshold = 0L)),

    "q58d_pagerank_dist" -> ((s, dir) => {
      val sess = sessionTable(s, dir)
      val edges = graft.operators.IntervalJoin
        .overlapJoin(sess, sess, "start_ms", "end_ms", 3600000L)
        .filter(col("a_user_id") =!= col("b_user_id"))
        .select(col("a_user_id").as("src"), col("b_user_id").as("dst"))
      graft.operators.PageRank.run(edges, "src", "dst", PrIters, PrDamping,
          localThreshold = 0L)
        .select(col("id").as("user_id"), round(col("rank"), 8).as("rank"))
    }),

    "q82d_bpe_dist" -> ((s, dir) =>
      operators.Bpe.learnMerges(t(s, dir, "documents"), "text", BpeSteps,
        localThreshold = 0L)),

    "q85d_sssp_dist" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_suppkey").cast("long").as("sk"),
        (col("l_partkey") + 1000000000L).as("pk"),
        round(col("l_extendedprice") * 100).cast("long").as("w"))
      val edges = li.select(col("sk").as("src"), col("pk").as("dst"),
          col("w"))
        .unionAll(li.select(col("pk").as("src"), col("sk").as("dst"),
          col("w")))
      val seeds = li.select(col("sk").as("id"))
        .filter(col("id") % 10 === 0).distinct()
      operators.ShortestPath.weighted(edges, "src", "dst", "w",
        seeds, "id", rounds = SsspRounds, localThreshold = 0L)
    }),

    "q95d_kcore_dist" -> ((s, dir) =>
      operators.KCore.run(
        operators.Basket.frequentPairs(t(s, dir, "lineitem"),
          "l_orderkey", "l_partkey", minSupport = 2),
        "item_a", "item_b", KCoreK, KCoreRounds, localThreshold = 0L)),

    // High-dimensional Euclidean ε-join on the FULL 64-d embedding
    // vector through the tiled kd-tree path (DbscanTiles tiles at halo
    // reach ε + one kd-tree per tile, all-dims pruning) — the path for
    // radius queries the ≤3-dim grid cannot prune (VERDICT r4 gap #3).
    // Exact, so fully oracled: pair set == the naive distance join.
    "q188_highdim_eps" -> ((s, dir) =>
      operators.EpsilonJoin.selfJoinKd(t(s, dir, "embeddings"),
          "vec_id", "embedding", Eps)
        .select(col("a_id"), col("b_id"))),

    // second wave of forced-distributed twins: the remaining
    // size-dispatched graph operators (triangles, BFS, LPA, clustering
    // coefficient, HITS, personalized PageRank), same rationale as the
    // q6d family above — the oracle hash gate onto the scale branch
    "q60d_triangles_dist" -> ((s, dir) => {
      val sess = sessionTable(s, dir)
      val edges = graft.operators.IntervalJoin
        .overlapJoin(sess, sess, "start_ms", "end_ms", 3600000L)
        .filter(col("a_user_id") =!= col("b_user_id"))
        .select(col("a_user_id").as("src"), col("b_user_id").as("dst"))
      graft.operators.TriangleCount.perNode(edges, "src", "dst",
          localThreshold = 0L)
        .withColumnRenamed("id", "user_id")
    }),

    "q79d_bfs_dist" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_suppkey").cast("long").as("sk"),
        (col("l_partkey") + 1000000000L).as("pk"))
      val edges = li.select(col("sk").as("src"), col("pk").as("dst"))
        .unionAll(li.select(col("pk").as("src"), col("sk").as("dst")))
      val seeds = li.select(col("sk").as("id"))
        .filter(col("id") % 10 === 0).distinct()
      operators.ShortestPath.hops(edges, "src", "dst", seeds, "id",
        maxHops = 6, localThreshold = 0L)
    }),

    "q88d_communities_dist" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_suppkey").cast("long").as("sk"),
        (col("l_partkey") + 1000000000L).as("pk"))
      val edges = li.select(col("sk").as("src"), col("pk").as("dst"))
        .unionAll(li.select(col("pk").as("src"), col("sk").as("dst")))
      operators.LabelProp.run(edges, "src", "dst", LpaRounds,
        localThreshold = 0L)
    }),

    "q112d_clustering_dist" -> ((s, dir) =>
      operators.GraphStats.clusteringCoefficient(
        operators.Basket.frequentPairs(t(s, dir, "lineitem"),
          "l_orderkey", "l_partkey", minSupport = 2),
        "item_a", "item_b", localThreshold = 0L)),

    "q119d_hits_dist" -> ((s, dir) =>
      operators.Hits.run(
        t(s, dir, "lineitem").select(col("l_suppkey").as("src"),
          (col("l_partkey") + lit(10000000L)).as("dst")),
        "src", "dst", HitsRounds, localThreshold = 0L)),

    "q172d_ppr_dist" -> ((s, dir) => {
      val sess = sessionTable(s, dir)
      val edges = graft.operators.IntervalJoin
        .overlapJoin(sess, sess, "start_ms", "end_ms", 3600000L)
        .filter(col("a_user_id") =!= col("b_user_id"))
        .select(col("a_user_id").as("src"), col("b_user_id").as("dst"))
      val seeds = t(s, dir, "events")
        .select(col("user_id").as("sid"))
        .filter(pmod(col("sid"), lit(PprSeedMod)) === 0)
      operators.PageRank.personalized(edges, "src", "dst", seeds, "sid",
        PrIters, PrDamping, localThreshold = 0L)
        .select(col("id").as("user_id"), round(col("rank"), 8).as("rank"))
    }),

    // Sink parity (reference K-1): the embeddings table written to the
    // reference's literal netCDF-3 cluster layout (library-free CDF
    // writer, rank-parallel positioned slices), read back through the
    // netcdfPoints DataSourceV2, sampled coordinates emitted. The oracle
    // reproduces the rows from parquet directly — a hash match proves
    // the on-disk round trip is lossless (float32 bits survive the
    // big-endian encode/decode exactly).
    "q189_netcdf_roundtrip" -> ((s, dir) => {
      val p = java.nio.file.Files.createTempFile("graft_nc", ".nc")
      java.nio.file.Files.delete(p)
      p.toFile.deleteOnExit()
      graft.sources.NetcdfPoints.write(t(s, dir, "embeddings"),
        "vec_id", "embedding", "label", p.toString)
      val back = graft.sources.NetcdfPoints.read(s, p.toString)
        .select(col("id").as("rn"),
          col("position_col_X0").as("x0"),
          col("position_col_X31").as("x31"),
          col("position_col_X63").as("x63"),
          col("cluster_id"))
      back
    }),

    // Strict ε-DP release over a DECLARED domain (q169's domain caveat
    // resolved): every nation appears exactly once — the 23-of-25
    // nations with zero qualifying customers at sf0.01 get a noisy
    // zero, so presence in the release leaks nothing about the data
    "q190_dp_domain" -> ((s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_acctbal") < -990)
        .join(t(s, dir, "nation"),
          col("c_nationkey") === col("n_nationkey"))
      operators.Privacy.dpNoisyCountsOverDomain(c, col("n_name"),
        t(s, dir, "nation").select("n_name"), DpEps, DpDomainSalt)
    }),

    // ExactSubstr dedup (Lee et al. 2021) at character level: maximal
    // corpus-duplicated 40-char spans per document — stride-1 window
    // hashes, one multiplicity shuffle, gaps-and-islands merge. The
    // span-level view a dedup cut pass consumes.
    "q191_dup_spans" -> ((s, dir) =>
      operators.SubstringDedup.duplicatedSpans(
        t(s, dir, "documents"), "doc_id", "text", SubstrL)),

    // The same pass as per-doc char accounting: how much of each
    // affected document is corpus-duplicated text (span char intervals
    // unioned — runs closer than L overlap)
    "q192_dup_chars" -> ((s, dir) =>
      operators.SubstringDedup.duplicatedCharStats(
        t(s, dir, "documents"), "doc_id", "text", SubstrL)),

    // Phrase-blocklist screening (the C4/RefinedWeb badwords pass) via
    // ONE Aho-Corasick scan per document — per-pattern corpus rollup.
    // Counts are per-pattern non-overlapping (replace() semantics),
    // so the oracle reproduces them with pure SQL; "scan" nested
    // inside "scan slow" exercises the automaton's output links.
    "q193_blocklist_hits" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(posexplode(functions.TextExpressions.multiMatchCounts(
          col("text"), BlockPatterns)).as(Seq("pi", "c")))
        .groupBy("pi")
        .agg(sum("c").cast("long").as("n_occurrences"),
          sum(when(col("c") > 0, 1L).otherwise(0L)).as("n_docs"))
        .select(element_at(typedLit(BlockPatterns), col("pi") + 1)
          .as("pattern"), col("n_occurrences"), col("n_docs"))),

    // The same scan as the per-document screen a filter pass consumes:
    // docs with >=1 phrase hit, their total hits + distinct patterns
    "q194_blocklist_docs" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(functions.TextExpressions.multiMatchCounts(
            col("text"), BlockPatterns)).as(Seq("pi", "c")))
        .groupBy("doc_id")
        .agg(sum("c").cast("long").as("n_hits"),
          sum(when(col("c") > 0, 1L).otherwise(0L)).as("n_patterns"))
        .filter(col("n_hits") > 0)),

    // Pattern-PII scan (the C4/Dolma regex scrubbing pass): per-doc
    // occurrence counts per PII kind on the raw text. Fixture text is
    // PII-free word soup, so the scan's subject is a deterministic
    // "dirty" corpus derived from the SAME tables in both engines
    // (see piiDirty); zero-, one- and multi-hit rows all occur.
    "q195_pii_scan" -> ((s, dir) => {
      val counts = functions.TextFunctions.PiiPatterns.map {
        case (kind, p) =>
          functions.TextFunctions.piiCount(col("text"), p)
            .cast("long").as(s"n_$kind")
      }
      piiDirty(s, dir)
        .select(col("doc_id") +: counts: _*)
        .withColumn("n_total",
          col("n_email") + col("n_ipv4") + col("n_phone"))
    }),

    // The matching redaction pass: every hit masked with its <KIND>
    // tag, output verified by md5 — one codegen'd projection, the
    // corpus is scanned once and never shuffled
    "q196_pii_redact" -> ((s, dir) => {
      val red = functions.TextFunctions.piiRedact(col("text"))
      piiDirty(s, dir).select(col("doc_id"),
        length(red).cast("long").as("red_len"),
        md5(red.cast("binary")).as("red_md5"))
    }),

    // Stupid Backoff trigram LM (Brants 2007) trained on the English
    // slice, scored over the whole corpus — non-English docs walk the
    // full backoff chain down to the OOV floor
    "q197_lm_backoff" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      operators.LanguageModel.stupidBackoff(
        d.filter(col("lang") === "en"), d, "doc_id", "text")
    }),

    // Weighted reservoir sample (A-ES): per-language char-weighted
    // subsample — longer documents proportionally more likely kept
    "q198_weighted_sample" -> ((s, dir) =>
      operators.Curation.weightedSampleKPerGroup(
        t(s, dir, "documents"), Seq("lang"), "doc_id", "n_chars", 10,
        "w1")),

    // Good–Turing frequency-of-frequencies over corpus TRIGRAM types
    // (the fixture's closed word vocabulary has no low-count tail;
    // trigrams do — the LM-smoothing regime the table exists for)
    "q199_count_of_counts" -> ((s, dir) =>
      operators.LanguageModel.countOfCounts(
        t(s, dir, "documents"), "text", 10, n = 3)),

    // One-pass PCA statistics: covariance of the first 16 embedding
    // dims via the CovMoments typed aggregate (no d^2 row explode —
    // only the few-KB moment buffers ever move)
    "q200_pca_cov" -> ((s, dir) =>
      operators.Pca.covariance(t(s, dir, "embeddings"), "embedding",
        PcaD)),

    // Classical additive seasonal decomposition of the daily revenue
    // series per event type (period 7 = day-of-week)
    "q201_seasonal" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val daily = ev
        .select(col("event_type"), eventMs(ev).as("ms"), col("value"))
        .select(col("event_type"), expr("ms DIV 86400000").as("day"),
          round(col("value") * 100).cast("long").as("c"))
        .groupBy("event_type", "day")
        .agg(sum(col("c")).as("cents"))
      operators.TimeSeries.decompose(daily, Seq("event_type"), "day",
        col("cents"), period = 7)
    }),

    // Trained linear quality classifier: fixed-step batch-GD logistic
    // regression over deterministic surface statistics (length scale,
    // space ratio, 'e' ratio), label lang='en'. The fixture's text is
    // language-agnostic by construction, so the model honestly
    // converges toward the base rate here — the oracle pins the
    // DESCENT ARITHMETIC digit-for-digit (unrolled-SQL twin of every
    // gradient pass); LogisticSpec proves actual learning on a
    // separable planted dataset.
    "q202_logistic_quality" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(length(col("text")) > 0)
        .select(col("doc_id"),
          (col("lang") === "en").cast("int").as("y"),
          (length(col("text")) / lit(1000.0)).as("x1"),
          (length(col("text")) - length(expr("replace(text, ' ', '')")))
            .cast("double")
            ./(length(col("text")).cast("double")).as("x2"),
          (length(col("text")) - length(expr("replace(text, 'e', '')")))
            .cast("double")
            ./(length(col("text")).cast("double")).as("x3"))
      operators.Logistic.fitScore(d,
          Seq(col("x1"), col("x2"), col("x3")), col("y"),
          lr = 2.0, iters = 3)
        .select(col("doc_id"), col("y"), col("prob"))
    }),

    // Interpolated Kneser–Ney bigram LM: train on the English slice,
    // score every document — the smoothed-probability twin of q197's
    // Stupid Backoff (same train/score split, true probabilities)
    "q203_kneser_ney" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      operators.LanguageModel.knBigram(
        d.filter(col("lang") === "en"), d, "doc_id", "text")
    }),

    // int8 embedding quantization audit: per-vector code sums +
    // reconstruction error in exact 1e-12 units, one projection pass
    "q204_int8_quant" -> ((s, dir) =>
      operators.Features.int8QuantReport(
        t(s, dir, "embeddings"), "vec_id", "embedding")),

    // Average precision per query bucket (MAP decomposition): q96's
    // score/label framing, ranked retrieval eval with explicit ties
    "q205_avg_precision" -> ((s, dir) =>
      operators.Stats.averagePrecision(
        t(s, dir, "embeddings")
          .withColumn("qbucket", pmod(col("vec_id"), lit(4L))),
        Seq("qbucket"),
        col("label") === 0,
        round(element_at(col("embedding"), 1).cast("double") * 10000)
          .cast("long"),
        col("vec_id"))),

    // nDCG per query bucket: graded relevance = label capped at 3,
    // same score/tie framing as q205's AP
    "q207_ndcg" -> ((s, dir) =>
      operators.Stats.ndcg(
        t(s, dir, "embeddings")
          .withColumn("qbucket", pmod(col("vec_id"), lit(4L))),
        Seq("qbucket"),
        least(col("label"), lit(3)).cast("long"),
        round(element_at(col("embedding"), 1).cast("double") * 10000)
          .cast("long"),
        col("vec_id"))),

    // Tokenizer vocabulary coverage at fixed top-k cuts: what share
    // of BIGRAM positions a k-entry vocab covers (the
    // vocabulary-sizing diagnostic; fixed cuts, no global cumsum)
    "q215_vocab_coverage" -> ((s, dir) => {
      val counts = t(s, dir, "documents")
        .select(explode(TextFunctions.shinglesAll(col("text"), 2))
          .as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
        .withColumn("__negc", -col("cnt"))
      val ranked = operators.GlobalIndex.rowNumbers(
        counts, Seq("__negc", "tok"), "rnk")
      val sums = ranked.agg(
        sum(col("cnt")).as("total"),
        VocabCuts.map(k => sum(when(col("rnk") <= k, col("cnt"))
          .otherwise(0L)).as(s"c$k")): _*)
      sums.select(explode(array(VocabCuts.map(k =>
          struct(lit(k).as("k"), col(s"c$k").as("covered"),
            col("total"))): _*)).as("e"))
        .select(col("e.k"), col("e.covered"), col("e.total"),
          round(col("e.covered").cast("double") /
            col("e.total").cast("double"), 6).as("coverage"))
    }),

    // Near-dup cluster size histogram over q44's components — the
    // "how big are dup clusters" dedup audit
    "q216_dup_sizes" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.dupGroups(
          Dedup.jaccardJoin(docs, "doc_id", "text", 3, 0.5), docs,
          "doc_id")
        .groupBy(col("canonical_id")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz")).agg(count(lit(1)).as("n_groups"))
    }),

    // Brier score of q202's trained classifier probabilities — the
    // proper scoring rule (calibration + refinement in one number)
    "q219_brier" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(length(col("text")) > 0)
        .select(col("doc_id"),
          (col("lang") === "en").cast("int").as("y"),
          (length(col("text")) / lit(1000.0)).as("x1"),
          (length(col("text")) - length(expr("replace(text, ' ', '')")))
            .cast("double")
            ./(length(col("text")).cast("double")).as("x2"),
          (length(col("text")) - length(expr("replace(text, 'e', '')")))
            .cast("double")
            ./(length(col("text")).cast("double")).as("x3"))
      operators.Stats.brierScore(
        operators.Logistic.fitScore(d,
          Seq(col("x1"), col("x2"), col("x3")), col("y"),
          lr = 2.0, iters = 3),
        col("prob"), col("y") === 1)
    }),

    // REAL image decode (javax.imageio): deterministic PNGs generated
    // in-engine (closed-form pixel pattern shared with the oracle),
    // decoded back by ImageIO per partition, reduced to exact integer
    // pixel stats + a 4×4 gray downsample. PNG is lossless, so the
    // DuckDB oracle recomputing the pattern arithmetically hash-gates
    // the decode path end to end. The generator UDF runs over the
    // fixture rows only (build side, never a serving path).
    "q220_image_stats" -> ((s, dir) => {
      val gen = udf((id: Long) => graft.operators.Multimodal.syntheticPng(
        id, (8 + id % 5 * 4).toInt, (6 + id % 3 * 6).toInt))
      val media = t(s, dir, "documents")
        .filter(col("doc_id") < 200)
        .select(col("doc_id").as("media_id"), lit("image").as("modality"),
          gen(col("doc_id")).as("payload"))
      graft.operators.Multimodal.imageFeatures(media, grid = 4)
        .select(col("media_id"), col("width"), col("height"),
          col("r_sum"), col("g_sum"), col("b_sum"),
          col("r_sq"), col("g_sq"), col("b_sq"),
          posexplode(col("cells")).as(Seq("cell_idx", "cell_sum")))
        .select(col("media_id"), col("width"), col("height"),
          col("r_sum"), col("g_sum"), col("b_sum"),
          col("r_sq"), col("g_sq"), col("b_sq"),
          col("cell_idx").cast("int").as("cell_idx"), col("cell_sum"))
    }),

    // Preference-pair assembly (the DPO/RLHF-data primitive): per
    // user, the 3 best-scored events × the 3 worst, margin ≥ 500
    // cents — two bounded heaps in ONE aggregate, never an in-group
    // all-pairs. Integral cent scores keep the margin exact
    "q254_preference_pairs" -> ((s, dir) =>
      operators.Curation.preferencePairs(
        t(s, dir, "events"), "user_id", "event_id",
        round(col("value") * 100).cast("long"),
        nTop = 3, nBottom = 3, minMargin = 500L)),

    // SFT transcript assembly: documents as fake conversation turns
    // (conv = doc_id mod 100, alternating user/assistant roles, ordered
    // by doc_id) -> one transcript per conversation + the assistant
    // loss-mask char spans — the post-training data-prep composition
    "q230_sft_transcripts" -> ((s, dir) =>
      graft.operators.Curation.sftTranscripts(
        t(s, dir, "documents").select(
          pmod(col("doc_id"), lit(100L)).as("conv"),
          col("doc_id").as("ord"),
          when(col("doc_id") % 2 === 0, lit("user"))
            .otherwise(lit("assistant")).as("role"),
          col("text")),
        "conv", "ord", "role", "text")),

    // Dup-group retraction: the standing near-dup state (q222's split
    // key) retracts a 10% doc batch — a removed doc may have been a
    // cluster's canonical id or a BRIDGE whose loss splits the
    // cluster, so exactly the groups that lost a member re-derive
    // their pair graph; the split stays leakage-safe because the
    // re-keyed canonical equals the from-scratch build (the oracle is
    // the full q222 pipeline over the survivors)
    "q232_split_retraction" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val groups = Dedup.dupGroups(
        Dedup.jaccardJoin(docs, "doc_id", "text", 3, 0.5), docs, "doc_id")
      val after = Dedup.retractDocs(groups, docs,
        docs.filter(col("doc_id") % 10 === 0).select("doc_id"),
        "doc_id", d => Dedup.jaccardJoin(d, "doc_id", "text", 3, 0.5))
      graft.operators.Curation.hashSplit(
          after.select(col("doc_id"), col("canonical_id")),
          "canonical_id",
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05), "s42")
        .select(col("doc_id"), col("canonical_id"), col("bucket"),
          col("split"))
    }),

    // Decremental DBSCAN: the standing clustering retracts a 10%
    // delete batch (retention windows / GDPR erasure) — q164's dual.
    // The fold re-solves only the tiles within 2ε of a deleted point
    // plus those of components that may split. Oracle: from-scratch DBSCAN
    // over the survivor set — label equality IS the contract
    "q231_decr_dbscan" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val st0 = operators.IncrementalDbscan.pin(
        operators.IncrementalDbscan.init(e, "vec_id", "embedding",
          Eps, MinPts, Nil))
      val st1 = operators.IncrementalDbscan.pin(
        operators.IncrementalDbscan.removePoints(st0,
          e.filter(col("vec_id") % 10 === 0).select("vec_id"), "vec_id",
          Eps, MinPts, Nil))
      operators.IncrementalDbscan.labels(st1)
    }),

    // Content-defined chunking (the FastCDC/LBFS idea): cut where the
    // rolling k-gram hash ≡ 0 mod 64 — boundaries follow CONTENT, so an
    // edit re-cuts one chunk, not every downstream window (the
    // dedup-stable alternative to q40's fixed stride). Chunks emitted
    // as (start, len, md5)
    "q229_cdc_chunks" -> ((s, dir) => {
      val cuts = graft.functions.WinnowingExpression
        .cdcBoundaries(col("text"), 8, 64)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("cut")
      t(s, dir, "documents")
        .filter(length(col("text")) >= 1)
        .select(col("doc_id"), col("text"),
          explode(concat(cuts, array(length(col("text")).cast("long"))))
            .as("cut"))
        .withColumn("start",
          coalesce(lag(col("cut"), 1).over(w) + 1, lit(1L)))
        .select(col("doc_id"), col("start"),
          (col("cut") - col("start") + 1).as("chunk_len"),
          md5(expr("CAST(substring(text, CAST(start AS INT), " +
            "CAST(cut - start + 1 AS INT)) AS BINARY)")).as("chunk_md5"))
    }),

    // REAL video decode (JDK animated-GIF reader): deterministic
    // grayscale multi-frame clips generated in-engine (closed-form
    // pattern, ≤256 grays so the GIF palette is lossless), decoded
    // frame by frame, reduced to exact per-frame integer stats — the
    // third member of the real-decode multimodal triad
    "q228_video_stats" -> ((s, dir) => {
      val gen = udf((id: Long) => graft.operators.Multimodal.syntheticGif(
        id, (8 + id % 4 * 4).toInt, (6 + id % 2 * 6).toInt,
        (3 + id % 3).toInt))
      val media = t(s, dir, "documents")
        .filter(col("doc_id") < 150)
        .select(col("doc_id").as("media_id"), lit("video").as("modality"),
          gen(col("doc_id")).as("payload"))
      graft.operators.Multimodal.videoFeatures(media)
    }),

    // the gzip twin of q225: one gzip MEMBER per record (Common
    // Crawl's actual .warc.gz layout), multi-member decompress on read
    "q227_warcgz_roundtrip" -> ((s, dir) => {
      val p = java.nio.file.Files.createTempDirectory("graft_warcgz")
      p.toFile.deleteOnExit()
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("https://example.org/doc/"), col("doc_id")).as("uri"),
        col("text"))
      graft.sources.WarcDocs.write(docs, "doc_id", "uri", "text",
        p.toString, gzip = true)
      graft.sources.WarcDocs.read(s, p.toString)
    }),

    // Zipf power-law fit per language: token frequency vs rank in
    // log-log space over the top-1000 ranks — the corpus-health
    // statistic (a natural-language corpus sits near slope −1; template
    // spam and word soup drift off it). Exponent, ln-intercept, R²
    "q226_zipf_fit" -> ((s, dir) => {
      val cnt = t(s, dir, "documents")
        .select(col("lang"), explode(TextFunctions.tokens(col("text")))
          .as("tok"))
        .groupBy("lang", "tok").agg(count(lit(1)).as("cnt"))
      // top-1000 per lang via the bounded-heap aggregate, NOT a
      // row_number window: the window must shuffle and fully SORT the
      // whole per-lang (tok, cnt) table (vocabulary-sized at corpus
      // scale); the heap runs partial/final with only 1000-entry
      // buffers crossing the shuffle. The fit consumes (rnk, cnt)
      // only, and the kept-cnt multiset is invariant under cnt ties,
      // so the heap's hash-id tie-break cannot change the result —
      // same oracle, window-free plan (spec-pinned).
      val top = cnt.groupBy("lang")
        .agg(graft.functions.TopKByScore.topkMin(
          xxhash64(col("tok")), -col("cnt").cast("double"), 1000).as("top"))
      val ranked = top
        .select(col("lang"), posexplode(col("top")).as(Seq("pos", "p")))
        .select(col("lang"), (col("pos") + 1).as("rnk"),
          (-col("p.score")).cast("long").as("cnt"))
      operators.Stats.powerLawFit(ranked, Seq("lang"), col("rnk"),
        col("cnt"))
    }),

    // WARC round-trip: the Common Crawl interchange format — documents
    // written as WARC/1.0 resource records (Content-Length framing, one
    // .warc shard per partition) and parsed back with per-file
    // parallelism. The oracle is the source table: any framing or
    // UTF-8 length bug breaks the hash
    "q225_warc_roundtrip" -> ((s, dir) => {
      val p = java.nio.file.Files.createTempDirectory("graft_warc")
      p.toFile.deleteOnExit()
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("https://example.org/doc/"), col("doc_id")).as("uri"),
        col("text"))
      graft.sources.WarcDocs.write(docs, "doc_id", "uri", "text",
        p.toString)
      graft.sources.WarcDocs.read(s, p.toString)
    }),

    // JSONL round-trip: the LLM-corpus interchange format. Write the
    // documents table as newline-delimited JSON (Spark's json sink: one
    // object per line, per-partition files) and read it back with an
    // EXPLICIT schema (schema-on-read, no inference pass — the only
    // shape that scales). Losslessness is the gate: the oracle is the
    // parquet table itself, so any escaping/encoding drift in either
    // direction breaks the hash.
    "q224_jsonl_roundtrip" -> ((s, dir) => {
      val p = java.nio.file.Files.createTempDirectory("graft_jsonl")
      java.nio.file.Files.delete(p) // the sink wants to create the dir
      p.toFile.deleteOnExit()
      val docs = t(s, dir, "documents")
      docs.write.json(p.toString)
      s.read.schema(docs.schema).json(p.toString)
    }),

    // APPLY the ExactSubstr pass (Lee et al. 2021's remediation): cut
    // every corpus-duplicated char span out of every document — q191
    // finds the spans, this emits the cleaned corpus (fully-duplicated
    // docs come back empty, untouched docs verbatim)
    "q223_dup_cut" -> ((s, dir) =>
      operators.SubstringDedup.cutDuplicates(
        t(s, dir, "documents"), "doc_id", "text", SubstrL)),

    // Leakage-safe train/val/test split: the split key is the near-dup
    // CLUSTER's canonical id, not the doc id — near-duplicates can
    // never straddle a split boundary (the eval-contamination bug a
    // doc-keyed split commits: a test doc's near-copy in train). One CC
    // pass over the similarity graph + one hash projection.
    "q222_leakage_safe_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val groups = Dedup.dupGroups(
        Dedup.jaccardJoin(docs, "doc_id", "text", 3, 0.5), docs, "doc_id")
      graft.operators.Curation.hashSplit(
          groups.select(col("doc_id"), col("canonical_id")),
          "canonical_id",
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05), "s42")
        .select(col("doc_id"), col("canonical_id"), col("bucket"),
          col("split"))
    }),

    // REAL audio decode (javax.sound.sampled): deterministic 16-bit
    // PCM WAVs generated in-engine (closed-form samples shared with
    // the oracle), decoded back by AudioSystem per partition, reduced
    // to exact integer sample stats + zero crossings — q220's twin for
    // the audio modality (PCM is lossless)
    "q221_audio_stats" -> ((s, dir) => {
      val gen = udf((id: Long) => graft.operators.Multimodal.syntheticWav(
        id, (500 + id % 7 * 100).toInt, (8000 + id % 3 * 4000).toInt))
      val media = t(s, dir, "documents")
        .filter(col("doc_id") < 200)
        .select(col("doc_id").as("media_id"), lit("audio").as("modality"),
          gen(col("doc_id")).as("payload"))
      graft.operators.Multimodal.audioFeatures(media)
    }),

    // MCC of the nearest-centroid classifier for class 0 — the
    // imbalance-robust scalar beside q210's per-class report
    "q218_mcc" -> ((s, dir) =>
      operators.Stats.mcc(
        operators.Stats.nearestCentroid(t(s, dir, "embeddings"),
          "vec_id", "embedding", "label"),
        lit(0))),

    // Gain/lift table: q96's score/label framing cut into 10 rank
    // bins — per-bin and cumulative positive capture
    "q217_lift_table" -> ((s, dir) =>
      operators.Stats.liftTable(t(s, dir, "embeddings"),
        col("label") === 0,
        round(element_at(col("embedding"), 1).cast("double") * 10000)
          .cast("long"),
        col("vec_id"))),

    // Quantile normalization of dim-1 onto the pooled distribution,
    // per label group — the cross-source feature aligner
    "q214_quantile_norm" -> ((s, dir) =>
      operators.Features.quantileNormalize(
        t(s, dir, "embeddings"), "label", "vec_id",
        round(element_at(col("embedding"), 1).cast("double") * 10000)
          .cast("long"))),

    // Jackknife SE of a ratio metric (purchase cents per click) over
    // 32 deterministic user buckets — the block-jackknife CI machinery
    "q213_jackknife" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      operators.Stats.jackknifeRatio(
        ev.select(pmod(col("user_id"), lit(32L)).as("bucket"),
          when(col("event_type") === "purchase",
            round(col("value") * 100).cast("long")).otherwise(0L).as("pc"),
          when(col("event_type") === "click", 1L).otherwise(0L)
            .as("ck")),
        col("bucket"), col("pc"), col("ck"))
    }),

    // CUPED variance reduction: pre-period spend (before the q100
    // cutoff) as covariate, post-period spend as metric, variant =
    // user parity — adjusted means per variant
    "q212_cuped" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val per = ev
        .select(col("user_id"), eventMs(ev).as("ms"),
          round(col("value") * 100).cast("long").as("c"))
        .groupBy("user_id")
        .agg(sum(when(col("ms") < FeatCutoffMs, col("c")).otherwise(0L))
            .as("x"),
          sum(when(col("ms") >= FeatCutoffMs, col("c")).otherwise(0L))
            .as("y"))
      operators.Stats.cuped(
        per.withColumn("variant", pmod(col("user_id"), lit(2L))),
        col("variant"), col("x"), col("y"))
    }),

    // Linear interpolation across interior monthly gaps (the
    // between-observations complement of q72's forward fill)
    "q211_interpolate" -> ((s, dir) =>
      operators.TimeSeries.interpolate(
        t(s, dir, "orders").select(col("o_custkey"), col("o_orderdate"),
          col("o_orderkey"), col("o_totalprice")),
        Seq("o_custkey"), "o_orderdate", "o_totalprice", "month",
        Seq("o_orderkey"))),

    // Per-class precision/recall/F1 over the nearest-centroid
    // classifier's confusion matrix (q147 upstream)
    "q210_f1_report" -> ((s, dir) =>
      operators.Stats.f1Report(
        operators.Stats.nearestCentroid(t(s, dir, "embeddings"),
          "vec_id", "embedding", "label"))),

    // Holt level+trend smoothing of the daily revenue series per
    // event type — the exact recursive fold (q108's EWMA is the
    // windowed approximation)
    "q209_holt" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val daily = ev
        .select(col("event_type"), eventMs(ev).as("ms"), col("value"))
        .select(col("event_type"), expr("ms DIV 86400000").as("day"),
          round(col("value") * 100).cast("long").as("c"))
        .groupBy("event_type", "day")
        .agg(sum(col("c")).as("cents"))
      operators.TimeSeries.holt(daily, Seq("event_type"), "day",
          col("cents"))
        .select(col("event_type"), col("day"), col("x"),
          round(col("level"), 6).as("level"),
          round(col("trend"), 6).as("trend"))
    }),

    // Rank-biased overlap between two per-bucket top-10 rankings
    // (dims 1 and 2 as competing scorers) — ranking-agreement eval
    "q208_rbo" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .withColumn("qbucket", pmod(col("vec_id"), lit(4L)))
      def ranked(idx: Int) = e.select(
        col("qbucket").as("g"), col("vec_id").as("item"),
        row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("qbucket")
            .orderBy(round(element_at(col("embedding"), idx)
              .cast("double") * 10000).cast("long").desc,
              col("vec_id"))).as("rnk"))
      operators.Stats.rbo(ranked(1), ranked(2), depth = 10)
    }),

    // MMR diversified rerank: top-10 cosine shortlist per query, 3
    // greedy diversity-aware selections (lambda = 1/2)
    "q206_mmr_rerank" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      operators.AnnSearch.mmrRerank(
        e.filter(col("vec_id") < 50)
          .select(col("vec_id").as("a_id"), col("embedding").as("a_v")),
        e.select(col("vec_id").as("b_id"), col("embedding").as("b_v")),
        m = 10, k = 3)
    }),
  )

  /** q200's dimension count (the oracle enumerates d(d+1)/2 pair sums —
    * 16 keeps the generated SQL reviewable; the ENGINE aggregate runs
    * any d). */
  private val PcaD = 16

  /** q200's oracle: the same quantized moment sums (exact integers in
    * any engine/order), closed per pair by the same fixed-order double
    * expression as `Pca.covariance`. */
  private def pcaCovOracle: String = {
    val d = PcaD
    val sums = (0 until d).map(i =>
      s"""CAST(sum(CAST(round(CAST(embedding[${i + 1}] AS DOUBLE)
         |    * 1048576.0) AS BIGINT)) AS BIGINT) AS s_$i""".stripMargin) ++
      (for { i <- 0 until d; j <- i until d } yield
        s"""CAST(sum(CAST(round(CAST(embedding[${i + 1}] AS DOUBLE)
           |    * CAST(embedding[${j + 1}] AS DOUBLE)
           |    * 1048576.0) AS BIGINT)) AS BIGINT) AS sp_${i}_$j"""
          .stripMargin)
    val rows = for { i <- 0 until d; j <- i until d } yield
      s"""SELECT $i AS i, $j AS j,
         |  round(CAST(sp_${i}_$j AS DOUBLE) / n / 1048576.0
         |    - (CAST(s_$i AS DOUBLE) / n / 1048576.0)
         |      * (CAST(s_$j AS DOUBLE) / n / 1048576.0), 9) AS cov
         |FROM m""".stripMargin
    s"""WITH m AS (SELECT CAST(count(*) AS DOUBLE) AS n,
       |  ${sums.mkString(",\n  ")}
       |  FROM embeddings)
       |${rows.mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** q193/q194 phrase blocklist. "scan" ⊂ "scan slow" is deliberate:
    * nested patterns must count independently (output links). */
  private val BlockPatterns = Seq("table part", "scan slow", "scan",
    "query line", "spark a", "join small", "big vector", "customer fast",
    "stream window", "sort key", "agg row")

  /** q191/q192 ExactSubstr window length (chars). The paper's 50-token
    * threshold is ~200+ chars; fixture docs average ~300 chars, so 40
    * keeps real positive rates. */
  private val SubstrL = 40

  /** q195/q196 "dirty" corpus: document text prefix + customer contact
    * fields (email from name+segment, phone/IP from the keys). Every
    * third/fourth/fifth customer contributes each kind (twelfths get a
    * second phone), so per-kind counts cover 0, 1 and 2. Joined on
    * `c_custkey = doc_id` — the customer table always covers the doc-id
    * range at every sf. The SQL twin is [[piiDirtySql]]; the two MUST
    * stay field-for-field identical. */
  private def piiDirty(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select("doc_id", "text")
    val c = t(s, dir, "customer")
    val email = concat(lit(" reach "),
      replace(lower(col("c_name")), lit("#"), lit(".")),
      lit("@"), lower(col("c_mktsegment")), lit(".example.com"))
    val phone = concat(lit(" call 555-"),
      lpad((col("c_custkey") % 10000).cast("string"), 4, "0"))
    val phone2 = concat(lit(" alt 555-"),
      lpad(((col("c_custkey") * 7) % 10000).cast("string"), 4, "0"))
    val ip = concat(lit(" host 10."),
      (col("c_custkey") % 256).cast("string"), lit("."),
      (col("c_nationkey") % 200).cast("string"), lit("."),
      (col("c_custkey") % 250).cast("string"))
    d.join(c, col("c_custkey") === col("doc_id"))
      .select(col("doc_id"), concat(
        substring(col("text"), 1, 64),
        when(col("c_custkey") % 3 === 0, email).otherwise(lit("")),
        when(col("c_custkey") % 4 === 0, phone).otherwise(lit("")),
        when(col("c_custkey") % 12 === 0, phone2).otherwise(lit("")),
        when(col("c_custkey") % 5 === 0, ip).otherwise(lit(""))
      ).as("text"))
  }

  /** SQL twin of [[piiDirty]] (a CTE body named `dirty`). NB: no line
    * may BEGIN with `||` — this string is interpolated into templates
    * whose own `.stripMargin` would eat a leading pipe. */
  private val PiiDirtySql: String =
    """dirty AS (SELECT d.doc_id,
      |    substring(d.text, 1, 64) ||
      |    CASE WHEN c.c_custkey % 3 = 0 THEN ' reach ' ||
      |         replace(lower(c.c_name), '#', '.') || '@' ||
      |         lower(c.c_mktsegment) || '.example.com' ELSE '' END ||
      |    CASE WHEN c.c_custkey % 4 = 0 THEN ' call 555-' ||
      |         lpad(CAST(c.c_custkey % 10000 AS VARCHAR), 4, '0')
      |         ELSE '' END ||
      |    CASE WHEN c.c_custkey % 12 = 0 THEN ' alt 555-' ||
      |         lpad(CAST((c.c_custkey * 7) % 10000 AS VARCHAR), 4, '0')
      |         ELSE '' END ||
      |    CASE WHEN c.c_custkey % 5 = 0 THEN ' host 10.' ||
      |         CAST(c.c_custkey % 256 AS VARCHAR) || '.' ||
      |         CAST(c.c_nationkey % 200 AS VARCHAR) || '.' ||
      |         CAST(c.c_custkey % 250 AS VARCHAR) ELSE '' END
      |    AS text
      |  FROM documents d JOIN customer c ON c.c_custkey = d.doc_id)"""
      .stripMargin

  /** q161's k (the DBSCAN paper's 4-dist) and profile depth. */
  private val KDistK = 4
  private val KDistBuckets = 10

  /** q166's lag horizon (a week of daily lags, incl. lag 0). */
  private val XcfMaxLag = 7

  /** q168's anonymity bounds: classes under 10 rows or with a single
    * sensitive value get reported. */
  private val KAnonK = 10
  private val KAnonL = 2

  /** q169's privacy budget (b = 1/ε = 10 — visibly noisy at fixture
    * counts) and release salt. */
  private val DpEps = 0.1
  private val DpSalt = "graft-dp-v1"
  private val DpDomainSalt = "graft-dp-domain-v1"

  /** q170's critical value (95% two-sided). */
  private val WilsonZ = 1.96

  /** q171's censoring horizon: users last seen within 3 days of the
    * corpus end are censored, not churned. */
  private val ChurnGapDays = 3L

  /** q172's seed cohort: every 50th user id (~2% of users). */
  private val PprSeedMod = 50

  /** q174's support floor: 12 triples clear it at sf0.01. */
  private val TripleSupport = 2L

  /** q175's quoted query — the corpus's most frequent bigram. */
  private val PhraseWords = Seq("table", "hash")

  /** q179's vocabulary size: 20 of the fixture's ~31 words stay in
    * vocabulary — mid-range OOV rates, both outcomes common. */
  private val OovVocabK = 20

  /** q183's bin width in cents (50k-dollar bands — ~11 populated bins
    * over the order-value range). */
  private val PsiBinW = 5000000L

  /** q184's smoothing prior: ~1/7 of the mean per-supplier support at
    * sf0.01, so shrinkage is visible without drowning the signal. */
  private val TargetEncM = 20.0

  /** q185's propagation budget — 3 rounds reach past the seeds'
    * second-hop neighborhoods on the fixture's ε-graph. */
  private val SpreadRounds = 3

  /** q186's resample count (band ranks 16/32/48) and draw salt. */
  private val BootB = 64
  private val BootSalt = "graft-boot-v1"

  /** q158's Dirichlet pseudo-count — near the fixture's mean document
    * length, the standard heuristic. */
  private val QlMu = 300.0

  /** q150's sample size and salt: 256 holds every estimate within
    * ±5 rank-percent of its target on the fixture (sampling stddev
    * 1/(2√k) ≈ 3%). */
  private val QskK = 256
  private val QskSalt = ":qsk1"

  /** q148's projection width: 16 keeps √k exact (=4) so the closing
    * scale is one exact double literal in both engines. */
  private val JlComps = 16
  private lazy val JlPlanes =
    operators.AnnSearch.srpPlanes(1, JlComps, LshDims)(0)

  /** q142's feature-hash domain: 64 buckets keeps per-bucket counts in
    * the hundreds at sf0.01 (smoothing stays negligible) while the λ
    * table remains a broadcast literal at any corpus size. */
  private val DsirBuckets = 64

  /** q145's length band — Gopher's 50..100k word rule, upper bound
    * tightened to the fixture's ≤ ~1000-word docs so BOTH outcomes
    * occur at sf0.01. */
  private val GoMinWords = 50
  private val GoMaxWords = 1000

  /** q138's lag horizon: one week of daily lags. */
  private val AcfMaxLag = 7

  /** q137's sketch size: 64 keeps the estimator visibly approximate on
    * the 150-user sf0.01 fixture (segments hold ~140 distinct users). */
  private val ThetaK = 64

  /** The md5-prefix hash domain (2^60) shared with the DuckDB oracle. */
  private val KmvDomain = functions.KmvIntersectEstimate.Md5Domain

  /** q133's CUSUM allowance/threshold in cents: ~half / ~1.5x the daily
    * spend sd — 507 hi / 151 lo alarms on the sf0.01 fixture. */
  private val CusumSlack = 5000L
  private val CusumH = 15000L

  /** q122's window length (4-grams: ~12% mean cross-doc sharing on the
    * fixture — n=3 saturates at 64%, n=5 undershoots). */
  private val CrossDocN = 4

  /** q117 systematic sampling: picks per segment and the salt. */
  private val PpsK = 20
  private val PpsSalt = "graft-pps-v1"

  /** q119 HITS rounds — shared with the unrolled oracle. */
  private val HitsRounds = 4

  /** q120 k-means: clusters and assignment rounds (rounds−1 Lloyd
    * updates), shared with the unrolled oracle. */
  private val KmK = 8
  private val KmRounds = 3

  /** q23 IVF index geometry, shared with the unrolled oracle (the
    * engine defaults: iters = 2 Lloyd rounds, seed = 42, pool =
    * [[operators.AnnSearch.seedPoolFactor]] × centroids). */
  private val IvfCents = 8
  private val IvfProbe = 3
  private val IvfIters = 2
  private val IvfSeed = 42L
  private val IvfPool = operators.AnnSearch.seedPoolFactor * IvfCents
  private val AnnK = 5

  /** q274/q275 hashed-TF bucket count — small enough that the DuckDB
    * oracle's per-doc bucket grid stays cheap, large enough that the
    * 500-doc corpus gets distinguishing vectors. */
  private val TfDims = 32

  /** q75 PQ geometry, shared with the unrolled oracle (engine
    * defaults: 2 Lloyd rounds, seed 42). */
  private val PqM = 16
  private val PqNc = 16
  private val PqIters = 2
  private val PqSeed = 42L
  private val PqShortlist = 50

  /** q140 SRP-LSH: 4-bit signatures × 8 independent tables, top-5 for
    * every 20th vector — tuned on the fixture (recall@5 ≈ 0.71 vs
    * brute force; this corpus is nearly isotropic, so recall needs
    * tables more than bits; a real embedding corpus with directional
    * structure runs deeper signatures). The planes are deterministic
    * (seeded LCG) and print exactly into the oracle. */
  private val LshBits = 4
  private val LshTables = 8
  private val LshK = 5
  private val LshQueryMod = 20
  private val LshDims = 64
  private lazy val LshPlanes =
    operators.AnnSearch.srpPlanes(LshTables, LshBits, LshDims)

  /** q251 multi-probe LSH: HALF of q140's tables, 3 probes per table —
    * the probes-for-tables trade (probes widen only the query side;
    * tables multiply the stored index and the build shuffle). */
  private val LshMpTables = 4
  private val LshProbes = 3
  private lazy val LshMpPlanes =
    operators.AnnSearch.srpPlanes(LshMpTables, LshBits, LshDims)

  /** q141 SemDeDup cosine threshold (q26's corpus-calibrated 0.4). */
  private val SemTau = 0.4

  /** DuckDB-side exact dot/cosine folds shared by the graph-family
    * oracle builders (q252/q253/q256/q257/q258) — ONE text, so the
    * engine-parity contract cannot drift per copy. */
  private def dotSql(x: String, y: String): String =
    s"list_sum(list_transform(list_zip($x.embedding, $y.embedding), " +
      "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
  private def cosSql: String =
    s"${dotSql("ea", "eb")} / sqrt(${dotSql("ea", "ea")} * ${dotSql("eb", "eb")})"

  /** q252 NN-Descent geometry: the graph refines at buildK = 20 wide
    * and the emit cuts to [[AnnK]] (build-K > query-k — the paper's
    * K-sensitivity lever; at k=5 on this near-isotropic corpus the
    * narrow graph converges 2-3x slower). Seed is the engine default. */
  private val KgIters = 2
  private val KgBuildK = 20

  /** q269 sharded-build geometry: each build vector lands in its 2
    * nearest of the [[IvfCents]] cells (the q23 centroid pipeline,
    * shared CTE text). */
  private val KgIvfAssign = 2

  /** q252's oracle: the NN-Descent build unrolled — md5-ring init CTE,
    * then per round the symmetric closure (bn), the 2-hop candidate
    * join ∪ the current graph (cd), and the exact-cosine top-k (g).
    * Candidates are a SET (DISTINCT), so join multiplicity cannot
    * matter; ranks tie by neighbor id — identical to the engine heap. */
  private def knnGraphOracle: String = {
    val cos = cosSql
    // concatenated, NOT interpolated into a stripMargin template: the
    // CTE body contains `|| ':' ||` lines that a second stripMargin
    // pass would mangle into single `|`s
    "WITH " + knnGraphCtes() + "\n" +
      s"""SELECT a_id AS vec_id, nbr AS nbr_id, CAST(rn AS INTEGER) AS rnk
         |FROM (SELECT c.a_id, c.nbr, row_number() OVER (
         |    PARTITION BY c.a_id ORDER BY $cos DESC, c.nbr) AS rn
         |  FROM g$KgIters c JOIN p ea ON ea.id = c.a_id
         |    JOIN p eb ON eb.id = c.nbr) r
         |WHERE rn <= $AnnK""".stripMargin
  }

  // ---- Unigram-LM tokenizer (q266/q267) oracle machinery ----

  /** q266/q267 geometry: piece length ≤ 4, seed floor 2, prune to the
    * top 24 multi-char pieces, 2 hard-EM rounds. `UgW` bounds the DP
    * unroll depth — the fixture corpus' max word length is 8 (a longer
    * word would mismatch LOUDLY: the engine segments it, the oracle's
    * unroll stops at position 8). */
  private val UgL = 4
  private val UgMinCnt = 2L
  private val UgK = 24
  private val UgW = 8
  private val UgRounds = 2

  /** One Viterbi-DP unroll for EM round `r` under score CTE
    * `s${r-1}`: dp positions 1..UgW (each the row_number pick over the
    * ≤ UgL candidate split points — max score, then SMALLEST split,
    * the engine heap's exact tie rule), then the backtrace chain and
    * the segment emit `r${r}s` (word, start, piece). */
  private def unigramDpRound(r: Int): String = {
    val sCte = s"s${r - 1}"
    val dps = (1 to UgW).map { i =>
      val lo = math.max(0, i - UgL)
      s"""r${r}d$i AS MATERIALIZED (SELECT word, pos, sc, bp FROM r${r}d${i - 1}
         |  UNION ALL SELECT word, $i AS pos, sc, bp FROM (
         |    SELECT d.word, d.sc + v.sq AS sc, d.pos AS bp,
         |      row_number() OVER (PARTITION BY d.word
         |        ORDER BY d.sc + v.sq DESC, d.pos) AS rn
         |    FROM r${r}d${i - 1} d JOIN $sCte v
         |      ON v.piece = substr(d.word, d.pos + 1, $i - d.pos)
         |    WHERE d.pos >= $lo AND d.pos < $i AND length(d.word) >= $i)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val bts = (1 to UgW).map { k =>
      s"""r${r}b$k AS MATERIALIZED (SELECT b.word, d.bp AS pos
         |  FROM r${r}b${k - 1} b JOIN r${r}d$UgW d
         |    ON d.word = b.word AND d.pos = b.pos
         |  WHERE b.pos > 0)""".stripMargin
    }.mkString(",\n")
    val segs = (0 until UgW).map { k =>
      s"""SELECT t.word, n.pos AS start,
         |    substr(t.word, n.pos + 1, t.pos - n.pos) AS piece
         |  FROM r${r}b$k t JOIN r${r}b${k + 1} n ON n.word = t.word"""
        .stripMargin
    }.mkString("\n  UNION ALL ")
    s"""r${r}d0 AS (SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS sc,
       |    0 AS bp FROM wt),
       |$dps,
       |r${r}b0 AS (SELECT word, CAST(length(word) AS INTEGER) AS pos
       |  FROM wt),
       |$bts,
       |r${r}s AS MATERIALIZED (
       |  $segs)""".stripMargin
  }

  /** Quantized-log score CTE `s$r` over vocab CTE `v$r` (each ln
    * rounded separately from exact integer counts — the engine's
    * identical BIGINT). */
  private def unigramScoreCte(r: Int): String =
    s"""s$r AS MATERIALIZED (SELECT piece,
       |    CAST(round(ln(CAST(cnt AS DOUBLE)) * 1e9) AS BIGINT)
       |    - (SELECT CAST(round(ln(CAST(sum(cnt) AS DOUBLE)) * 1e9)
       |         AS BIGINT) FROM v$r) AS sq
       |  FROM v$r)""".stripMargin

  /** M-step + prune CTEs for round `r`: usage counts from `r${r}s`,
    * then singles (usage+1 smoothing, always kept) ∪ top-UgK
    * multi-char pieces by (cnt desc, piece asc). */
  private def unigramMStep(r: Int): String =
    s"""u$r AS MATERIALIZED (SELECT piece, CAST(sum(wf) AS BIGINT) AS cnt
       |  FROM r${r}s JOIN wt USING (word) GROUP BY 1),
       |v$r AS MATERIALIZED (
       |  SELECT c.piece, COALESCE(u.cnt, 0) + 1 AS cnt
       |  FROM chars c LEFT JOIN u$r u ON u.piece = c.piece
       |  UNION ALL
       |  SELECT piece, cnt FROM (SELECT piece, cnt,
       |      row_number() OVER (ORDER BY cnt DESC, piece) AS rn
       |    FROM u$r WHERE length(piece) > 1) WHERE rn <= $UgK)"""
      .stripMargin

  /** The full unigram-LM learning unroll through vocab CTE
    * `v$UgRounds`: word freqs, seed candidates, then per EM round the
    * score table, the Viterbi DP, and the M-step/prune. Concatenated
    * (never re-stripMargin'd — the `||` trap). */
  private def unigramCtes: String = {
    val base =
      s"""wt AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS wf
         |  FROM (SELECT unnest(string_split(text, ' ')) AS word
         |        FROM documents)
         |  WHERE length(word) >= 1 GROUP BY 1),
         |c0 AS MATERIALIZED (SELECT
         |    substr(word, CAST(u.i AS INTEGER) + 1, CAST(l.k AS INTEGER))
         |      AS piece,
         |    CAST(sum(wf) AS BIGINT) AS cnt
         |  FROM wt, unnest(range(length(word))) AS u(i),
         |       unnest(range(1, ${UgL + 1})) AS l(k)
         |  WHERE u.i + l.k <= length(word)
         |  GROUP BY 1),
         |chars AS MATERIALIZED (SELECT piece FROM c0
         |  WHERE length(piece) = 1),
         |v0 AS MATERIALIZED (SELECT piece, cnt FROM c0
         |  WHERE cnt >= $UgMinCnt OR length(piece) = 1)""".stripMargin
    val rounds = (1 to UgRounds).map { r =>
      unigramScoreCte(r - 1) + ",\n" + unigramDpRound(r) + ",\n" +
        unigramMStep(r)
    }.mkString(",\n")
    base + ",\n" + rounds
  }

  /** q266's oracle: the learned vocabulary after [[UgRounds]] EM
    * rounds. */
  private def unigramVocabOracle: String =
    "WITH " + unigramCtes + s"\nSELECT piece, cnt FROM v$UgRounds"

  /** q267's oracle: tokenize the distinct words under the learned
    * vocabulary — one more score table + DP unroll past [[unigramCtes]]. */
  private def unigramTokenizeOracle: String =
    "WITH " + unigramCtes + ",\n" + unigramScoreCte(UgRounds) + ",\n" +
      unigramDpRound(UgRounds + 1) +
      s"\nSELECT word, start, piece FROM r${UgRounds + 1}s"

  /** The WITH-body of [[knnGraphOracle]] (init + all refinement
    * rounds, ending at CTE `g$KgIters`) — shared with the serve/CRUD
    * unrolls (q253/q256/q257/q258), which walk the same standing
    * graph. `buildCond` restricts the graph's corpus (q257 builds on
    * the initial generation only); `pall` always carries every vector
    * so serve-side queries outside the build corpus can score. */
  private def knnGraphCtes(buildCond: String = "TRUE",
      pfx: String = ""): String = {
    val cos = cosSql
    val rounds = (1 to KgIters).map { r =>
      val prev = s"${pfx}g${r - 1}"
      s"""${pfx}bn$r AS MATERIALIZED (SELECT DISTINCT a_id, nbr FROM (
         |    SELECT a_id, nbr FROM $prev
         |    UNION ALL SELECT nbr AS a_id, a_id AS nbr FROM $prev)),
         |${pfx}cd$r AS MATERIALIZED (SELECT DISTINCT a_id, nbr FROM (
         |    SELECT x.a_id, y.nbr FROM ${pfx}bn$r x JOIN ${pfx}bn$r y
         |      ON y.a_id = x.nbr
         |    WHERE x.a_id != y.nbr
         |    UNION ALL SELECT a_id, nbr FROM $prev)),
         |${pfx}g$r AS MATERIALIZED (SELECT a_id, nbr FROM (
         |    SELECT c.a_id, c.nbr, row_number() OVER (PARTITION BY c.a_id
         |      ORDER BY $cos DESC, c.nbr) AS rn
         |    FROM ${pfx}cd$r c JOIN ${pfx}p ea ON ea.id = c.a_id
         |      JOIN ${pfx}p eb ON eb.id = c.nbr)
         |  WHERE rn <= $KgBuildK)""".stripMargin
    }.mkString(",\n")
    s"""${pfx}pall AS MATERIALIZED (SELECT vec_id AS id, embedding
       |  FROM embeddings),
       |${pfx}p AS MATERIALIZED (SELECT * FROM ${pfx}pall
       |  WHERE $buildCond),
       |${pfx}rk AS MATERIALIZED (SELECT id,
       |    row_number() OVER (ORDER BY id) AS pos
       |  FROM ${pfx}p),
       |${pfx}g0 AS MATERIALIZED (SELECT DISTINCT a.id AS a_id, b.id AS nbr
       |  FROM ${pfx}rk a, unnest(range(1, ${KgBuildK + 1})) AS u(j),
       |    ${pfx}rk b
       |  WHERE b.pos = CAST('0x' || substr(md5(CAST(a.id AS VARCHAR)
       |      || ':' || CAST(u.j AS VARCHAR) || ':42'), 1, 12) AS BIGINT)
       |    % (SELECT count(*) FROM ${pfx}rk) + 1
       |    AND a.id != b.id),
       |$rounds""".stripMargin
  }

  /** q253 serve geometry: beam width/entry count 10, 2 walk rounds,
    * emit [[AnnK]] — over the q252-geometry graph. */
  private val GsEf = 10
  private val GsRounds = 2

  /** q253's oracle: [[knnGraphCtes]] (the standing graph) + the beam
    * walk unrolled — entry shortlist, round-0 scoring, then per round
    * the out-neighbor expansion ∪ beam (a SET — join multiplicity
    * cannot matter) and the exact-cosine top-ef; final top-k. Same
    * double-strip rule as [[knnGraphOracle]]: concatenated, never
    * re-interpolated through stripMargin. */
  private def graphSearchOracle: String =
    graphSearchOracleWith(_ => "TRUE")

  /** [[graphSearchOracle]] with `live` producing a survivor predicate
    * for a given column ref — q258 passes the tombstone predicate:
    * entries, queries, and the walked edge set (`lg`) are all cut to
    * survivors, exactly the engine's retract-then-serve. */
  private def graphSearchOracleWith(live: String => String): String = {
    val cos = cosSql
    val walk = (1 to GsRounds).map { r =>
      val prev = s"sb${r - 1}"
      s"""sx$r AS MATERIALIZED (SELECT DISTINCT a_id, nbr FROM (
         |    SELECT b.a_id AS a_id, g.nbr AS nbr
         |    FROM $prev b JOIN lg g ON g.a_id = b.nbr
         |    UNION ALL SELECT a_id, nbr FROM $prev)
         |  WHERE a_id != nbr),
         |sb$r AS MATERIALIZED (SELECT a_id, nbr FROM (
         |    SELECT x.a_id, x.nbr, row_number() OVER (PARTITION BY x.a_id
         |      ORDER BY $cos DESC, x.nbr) AS rn
         |    FROM sx$r x JOIN p ea ON ea.id = x.a_id
         |      JOIN p eb ON eb.id = x.nbr)
         |  WHERE rn <= $GsEf)""".stripMargin
    }.mkString(",\n")
    val serve =
      s"""lg AS MATERIALIZED (SELECT a_id, nbr FROM g$KgIters
         |  WHERE (${live("a_id")}) AND (${live("nbr")})),
         |en AS MATERIALIZED (SELECT id FROM (
         |    SELECT id, row_number() OVER (
         |      ORDER BY md5(CAST(id AS VARCHAR) || ':42'), id) AS rn
         |    FROM p WHERE ${live("id")}) WHERE rn <= $GsEf),
         |qs AS MATERIALIZED (SELECT id AS a_id FROM p
         |  WHERE id < 50 AND (${live("id")})),
         |sb0 AS MATERIALIZED (SELECT a_id, nbr FROM (
         |    SELECT q.a_id, e.id AS nbr, row_number() OVER (
         |      PARTITION BY q.a_id ORDER BY $cos DESC, e.id) AS rn
         |    FROM qs q CROSS JOIN en e
         |      JOIN p ea ON ea.id = q.a_id JOIN p eb ON eb.id = e.id
         |    WHERE q.a_id != e.id) WHERE rn <= $GsEf),
         |$walk
         |SELECT a_id AS vec_id, nbr AS nbr_id, CAST(rn AS INTEGER) AS rnk
         |FROM (SELECT c.a_id, c.nbr, row_number() OVER (
         |    PARTITION BY c.a_id ORDER BY $cos DESC, c.nbr) AS rn
         |  FROM sb$GsRounds c JOIN p ea ON ea.id = c.a_id
         |    JOIN p eb ON eb.id = c.nbr) r
         |WHERE rn <= $AnnK""".stripMargin
    "WITH " + knnGraphCtes() + ",\n" + serve
  }

  /** q268 layer divisor: every ~8th vector promotes at the fixture
    * scale (≈62 layer members at sf0.01, ≈625 at sf0.1). */
  private val LdDiv = 8

  /** q268's oracle: THREE graphs unrolled ([[knnGraphCtes]] thrice —
    * the base over everything, `L` over the divisor-[[LdDiv]] promoted
    * subset, `M` over the divisor-2·[[LdDiv]] subset; the divisors
    * divide, so the levels NEST), then the top-down multi-level serve:
    * the M walk from the md5 entry shortlist, the L walk seeded by the
    * DISTINCT union of the M results and L's OWN shortlist
    * ([[graft.operators.AnnSearch.graphTopKLayeredMulti]]'s re-entry
    * seeding — the measured fix for wrong-basin stranding), and the
    * base walk seeded by the L results. */
  private def graphLayeredOracle: String = {
    val cos = cosSql
    val lEf = 2 * GsEf
    val lRounds = 2 * GsRounds
    val lNe = math.max(GsEf, 64)
    def promo(div: Int) = "CAST('0x' || substr(md5(CAST(id AS VARCHAR) " +
      s"|| ':lvl:42'), 1, 12) AS BIGINT) % $div = 0"
    // one fixed-round beam walk over ${pfx}g$KgIters from ${pfx}sb0
    def walk(pfx: String, ef: Int, rounds: Int) = (1 to rounds).map { r =>
      val prev = s"${pfx}sb${r - 1}"
      s"""${pfx}sx$r AS MATERIALIZED (SELECT DISTINCT a_id, nbr FROM (
         |    SELECT b.a_id AS a_id, g.nbr AS nbr
         |    FROM $prev b JOIN ${pfx}g$KgIters g ON g.a_id = b.nbr
         |    UNION ALL SELECT a_id, nbr FROM $prev)
         |  WHERE a_id != nbr),
         |${pfx}sb$r AS MATERIALIZED (SELECT a_id, nbr FROM (
         |    SELECT x.a_id, x.nbr, row_number() OVER (PARTITION BY x.a_id
         |      ORDER BY $cos DESC, x.nbr) AS rn
         |    FROM ${pfx}sx$r x JOIN p ea ON ea.id = x.a_id
         |      JOIN p eb ON eb.id = x.nbr)
         |  WHERE rn <= $ef)""".stripMargin
    }.mkString(",\n")
    val serve =
      s"""qs AS MATERIALIZED (SELECT id AS a_id FROM p WHERE id < 50),
         |Men AS MATERIALIZED (SELECT id FROM (
         |    SELECT id, row_number() OVER (
         |      ORDER BY md5(CAST(id AS VARCHAR) || ':42'), id) AS rn
         |    FROM Mp) WHERE rn <= $lNe),
         |Msb0 AS MATERIALIZED (SELECT a_id, nbr FROM (
         |    SELECT q.a_id, e.id AS nbr, row_number() OVER (
         |      PARTITION BY q.a_id ORDER BY $cos DESC, e.id) AS rn
         |    FROM qs q CROSS JOIN Men e
         |      JOIN p ea ON ea.id = q.a_id JOIN p eb ON eb.id = e.id
         |    WHERE q.a_id != e.id) WHERE rn <= $lEf),
         |${walk("M", lEf, lRounds)},
         |Len AS MATERIALIZED (SELECT id FROM (
         |    SELECT id, row_number() OVER (
         |      ORDER BY md5(CAST(id AS VARCHAR) || ':42'), id) AS rn
         |    FROM Lp) WHERE rn <= $lNe),
         |Lsd AS MATERIALIZED (SELECT a_id, nbr FROM (
         |    SELECT a_id, nbr FROM Msb$lRounds
         |    UNION
         |    SELECT q.a_id, e.id AS nbr FROM qs q CROSS JOIN Len e)
         |  WHERE a_id != nbr),
         |Lsb0 AS MATERIALIZED (SELECT a_id, nbr FROM (
         |    SELECT x.a_id, x.nbr, row_number() OVER (PARTITION BY x.a_id
         |      ORDER BY $cos DESC, x.nbr) AS rn
         |    FROM Lsd x JOIN p ea ON ea.id = x.a_id
         |      JOIN p eb ON eb.id = x.nbr) WHERE rn <= $lEf),
         |${walk("L", lEf, lRounds)},
         |sb0 AS MATERIALIZED (SELECT a_id, nbr FROM (
         |    SELECT x.a_id, x.nbr, row_number() OVER (PARTITION BY x.a_id
         |      ORDER BY $cos DESC, x.nbr) AS rn
         |    FROM Lsb$lRounds x JOIN p ea ON ea.id = x.a_id
         |      JOIN p eb ON eb.id = x.nbr
         |    WHERE x.a_id != x.nbr) WHERE rn <= $GsEf),
         |${walk("", GsEf, GsRounds)}
         |SELECT a_id AS vec_id, nbr AS nbr_id, CAST(rn AS INTEGER) AS rnk
         |FROM (SELECT c.a_id, c.nbr, row_number() OVER (
         |    PARTITION BY c.a_id ORDER BY $cos DESC, c.nbr) AS rn
         |  FROM sb$GsRounds c JOIN p ea ON ea.id = c.a_id
         |    JOIN p eb ON eb.id = c.nbr) r
         |WHERE rn <= $AnnK""".stripMargin
    "WITH " + knnGraphCtes() + ",\n" + knnGraphCtes(promo(LdDiv), "L") +
      ",\n" + knnGraphCtes(promo(2 * LdDiv), "M") + ",\n" + serve
  }

  /** q257's oracle: the graph built on the INITIAL generation
    * ([[knnGraphCtes]] buildCond), then the batch's beam walk (width =
    * the graph's K — the engine searches at ef = buildK), the reverse
    * update, and the exact re-prune to K per vertex. */
  private def knnGraphInsertOracle: String =
    "WITH " + knnGraphCtes("id % 7 != 0") + ",\n" +
      graphInsertCtes("", "id % 7 = 0") + "\n" +
      s"""SELECT a_id AS vec_id, nbr AS nbr_id, CAST(rnk AS INTEGER) AS rnk
         |FROM upd""".stripMargin

  /** Insert-fold CTE chain shared by q257 and q270: the arriving ids
    * (`insertCond` over `${pfx}pall`) beam-walk the standing
    * `${pfx}g$KgIters` graph (entries from the graph's init corpus
    * `${pfx}p`, width = the graph's K — the engine inserts at
    * ef = buildK), adopt their finds, reverse-update the discovered
    * vertices, and every touched vertex exactly re-prunes to K —
    * ending at `${pfx}upd`, the ranked UPDATED edge table
    * (a_id, nbr, rnk). Requires [[knnGraphCtes]] with the same prefix
    * upstream. */
  private def graphInsertCtes(pfx: String, insertCond: String): String = {
    val cos = cosSql
    val walk = (1 to GsRounds).map { r =>
      val prev = s"${pfx}sb${r - 1}"
      s"""${pfx}sx$r AS MATERIALIZED (SELECT DISTINCT a_id, nbr FROM (
         |    SELECT b.a_id AS a_id, g.nbr AS nbr
         |    FROM $prev b JOIN ${pfx}g$KgIters g ON g.a_id = b.nbr
         |    UNION ALL SELECT a_id, nbr FROM $prev)
         |  WHERE a_id != nbr),
         |${pfx}sb$r AS MATERIALIZED (SELECT a_id, nbr FROM (
         |    SELECT x.a_id, x.nbr, row_number() OVER (PARTITION BY x.a_id
         |      ORDER BY $cos DESC, x.nbr) AS rn
         |    FROM ${pfx}sx$r x JOIN ${pfx}pall ea ON ea.id = x.a_id
         |      JOIN ${pfx}pall eb ON eb.id = x.nbr)
         |  WHERE rn <= $KgBuildK)""".stripMargin
    }.mkString(",\n")
    s"""${pfx}en AS MATERIALIZED (SELECT id FROM (
       |    SELECT id, row_number() OVER (
       |      ORDER BY md5(CAST(id AS VARCHAR) || ':42'), id) AS rn
       |    FROM ${pfx}p) WHERE rn <= $GsEf),
       |${pfx}qs AS MATERIALIZED (SELECT id AS a_id FROM ${pfx}pall
       |  WHERE $insertCond),
       |${pfx}sb0 AS MATERIALIZED (SELECT a_id, nbr FROM (
       |    SELECT q.a_id, e.id AS nbr, row_number() OVER (
       |      PARTITION BY q.a_id ORDER BY $cos DESC, e.id) AS rn
       |    FROM ${pfx}qs q CROSS JOIN ${pfx}en e
       |      JOIN ${pfx}pall ea ON ea.id = q.a_id
       |      JOIN ${pfx}pall eb ON eb.id = e.id
       |    WHERE q.a_id != e.id) WHERE rn <= $KgBuildK),
       |$walk
       |,${pfx}found AS MATERIALIZED (SELECT a_id, nbr
       |  FROM ${pfx}sb$GsRounds),
       |${pfx}alle AS MATERIALIZED (SELECT DISTINCT a_id, nbr FROM (
       |    SELECT a_id, nbr FROM ${pfx}g$KgIters
       |    UNION ALL SELECT nbr AS a_id, a_id AS nbr FROM ${pfx}found
       |    UNION ALL SELECT a_id, nbr FROM ${pfx}found)),
       |${pfx}upd AS MATERIALIZED (SELECT a_id, nbr, rn AS rnk
       |  FROM (SELECT c.a_id, c.nbr, row_number() OVER (
       |      PARTITION BY c.a_id ORDER BY $cos DESC, c.nbr) AS rn
       |    FROM ${pfx}alle c JOIN ${pfx}pall ea ON ea.id = c.a_id
       |      JOIN ${pfx}pall eb ON eb.id = c.nbr)
       |  WHERE rn <= $KgBuildK)""".stripMargin
  }

  /** q270's oracle — layered MAINTENANCE then layered SERVE, fully
    * unrolled: base and layer graphs built from scratch on the INITIAL
    * generation ([[knnGraphCtes]] twice), the id%7 batch folded into
    * BOTH via [[graphInsertCtes]] (the layer receives only the
    * md5-promoted inserts — HNSW level assignment at insert), then the
    * single-level [[graft.operators.AnnSearch.graphTopKLayeredMulti]]
    * serve over the two UPDATED graphs: layer walk from the md5
    * shortlist of the POST-insert promoted corpus, base walk seeded by
    * its beam. */
  private def graphLayeredMaintainOracle: String = {
    val cos = cosSql
    val lEf = 2 * GsEf
    val lRounds = 2 * GsRounds
    val lNe = math.max(GsEf, 64)
    val promo = "CAST('0x' || substr(md5(CAST(id AS VARCHAR) " +
      s"|| ':lvl:42'), 1, 12) AS BIGINT) % $LdDiv = 0"
    def walk(pfx: String, over: String, ef: Int, rounds: Int) =
      (1 to rounds).map { r =>
        val prev = s"${pfx}sb${r - 1}"
        s"""${pfx}sx$r AS MATERIALIZED (SELECT DISTINCT a_id, nbr FROM (
           |    SELECT b.a_id AS a_id, g.nbr AS nbr
           |    FROM $prev b JOIN $over g ON g.a_id = b.nbr
           |    UNION ALL SELECT a_id, nbr FROM $prev)
           |  WHERE a_id != nbr),
           |${pfx}sb$r AS MATERIALIZED (SELECT a_id, nbr FROM (
           |    SELECT x.a_id, x.nbr, row_number() OVER (PARTITION BY x.a_id
           |      ORDER BY $cos DESC, x.nbr) AS rn
           |    FROM ${pfx}sx$r x JOIN pall ea ON ea.id = x.a_id
           |      JOIN pall eb ON eb.id = x.nbr)
           |  WHERE rn <= $ef)""".stripMargin
      }.mkString(",\n")
    val serve =
      s"""ven AS MATERIALIZED (SELECT id FROM (
         |    SELECT id, row_number() OVER (
         |      ORDER BY md5(CAST(id AS VARCHAR) || ':42'), id) AS rn
         |    FROM pall WHERE $promo) WHERE rn <= $lNe),
         |vqs AS MATERIALIZED (SELECT id AS a_id FROM pall
         |  WHERE id < 50),
         |vsb0 AS MATERIALIZED (SELECT a_id, nbr FROM (
         |    SELECT q.a_id, e.id AS nbr, row_number() OVER (
         |      PARTITION BY q.a_id ORDER BY $cos DESC, e.id) AS rn
         |    FROM vqs q CROSS JOIN ven e
         |      JOIN pall ea ON ea.id = q.a_id JOIN pall eb ON eb.id = e.id
         |    WHERE q.a_id != e.id) WHERE rn <= $lEf),
         |${walk("v", "Lupd", lEf, lRounds)},
         |bsb0 AS MATERIALIZED (SELECT a_id, nbr FROM (
         |    SELECT x.a_id, x.nbr, row_number() OVER (PARTITION BY x.a_id
         |      ORDER BY $cos DESC, x.nbr) AS rn
         |    FROM vsb$lRounds x JOIN pall ea ON ea.id = x.a_id
         |      JOIN pall eb ON eb.id = x.nbr
         |    WHERE x.a_id != x.nbr) WHERE rn <= $GsEf),
         |${walk("b", "upd", GsEf, GsRounds)}
         |SELECT a_id AS vec_id, nbr AS nbr_id, CAST(rn AS INTEGER) AS rnk
         |FROM (SELECT c.a_id, c.nbr, row_number() OVER (
         |    PARTITION BY c.a_id ORDER BY $cos DESC, c.nbr) AS rn
         |  FROM bsb$GsRounds c JOIN pall ea ON ea.id = c.a_id
         |    JOIN pall eb ON eb.id = c.nbr) r
         |WHERE rn <= $AnnK""".stripMargin
    "WITH " + knnGraphCtes("id % 7 != 0") + ",\n" +
      knnGraphCtes(s"($promo) AND id % 7 != 0", "L") + ",\n" +
      graphInsertCtes("", "id % 7 = 0") + ",\n" +
      graphInsertCtes("L", s"($promo) AND id % 7 = 0") + ",\n" + serve
  }

  /** q256's oracle: the graph-build unroll, edges rescored exactly and
    * kept at cos ≥ [[SemTau]], then q44's recursive-CTE min-id
    * component closure over the symmetrized edge set. */
  private def graphSemDedupOracle: String = {
    val cos = cosSql
    val close =
      s"""ge AS MATERIALIZED (SELECT c.a_id AS src, c.nbr AS dst
         |  FROM g$KgIters c JOIN p ea ON ea.id = c.a_id
         |    JOIN p eb ON eb.id = c.nbr
         |  WHERE $cos >= $SemTau),
         |edges AS (SELECT src, dst FROM ge
         |  UNION ALL SELECT dst, src FROM ge),
         |reach(id, r) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.dst, r.r FROM reach r JOIN edges e ON e.src = r.id
         |),
         |comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id)
         |SELECT d.id AS vec_id,
         |  COALESCE(c.comp, d.id) AS canonical_id,
         |  COALESCE(c.comp, d.id) = d.id AS is_survivor
         |FROM p d LEFT JOIN comp c ON c.id = d.id""".stripMargin
    "WITH RECURSIVE " + knnGraphCtes() + ",\n" + close
  }

  /** q119's oracle: h₀=1, then per round an authority and a hub
    * normalized-propagation CTE pair — every multiply-referenced CTE
    * MATERIALIZED (the q95 lesson). */
  private def hitsOracle: String = {
    val rounds = (1 to HitsRounds).map { r =>
      val hp = if (r == 1) "h0" else s"h${r - 1}"
      s"""ar$r AS MATERIALIZED (SELECT e.dst AS id, sum($hp.s) AS v
         |  FROM e JOIN $hp ON e.src = $hp.id GROUP BY 1),
         |a$r AS MATERIALIZED (SELECT n.id,
         |    coalesce(ar$r.v, CAST(0 AS DOUBLE))
         |      / (SELECT sum(v) FROM ar$r) AS s
         |  FROM nodes n LEFT JOIN ar$r USING (id)),
         |hr$r AS MATERIALIZED (SELECT e.src AS id, sum(a$r.s) AS v
         |  FROM e JOIN a$r ON e.dst = a$r.id GROUP BY 1),
         |h$r AS MATERIALIZED (SELECT n.id,
         |    coalesce(hr$r.v, CAST(0 AS DOUBLE))
         |      / (SELECT sum(v) FROM hr$r) AS s
         |  FROM nodes n LEFT JOIN hr$r USING (id))""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (SELECT DISTINCT l_suppkey AS src,
       |    l_partkey + 10000000 AS dst FROM lineitem),
       |nodes AS MATERIALIZED (SELECT src AS id FROM e
       |  UNION SELECT dst FROM e),
       |h0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS s FROM nodes),
       |$rounds
       |SELECT CAST(h$HitsRounds.id AS BIGINT) AS id,
       |  round(h$HitsRounds.s, 8) AS hub,
       |  round(a$HitsRounds.s, 8) AS auth
       |FROM h$HitsRounds JOIN a$HitsRounds USING (id)""".stripMargin
  }

  /** q23's oracle: the ENTIRE IVF pipeline unrolled — md5-ordered seed
    * pool, farthest-first (Gonzalez) selection rounds, quantized-integer
    * Lloyd updates, nearest-cell assignment, nProbe probing, exact
    * cosine top-k. Every arithmetic step is the exact double/integer op
    * the engine executes (the q120 discipline extended to an index
    * build): d² and dot products are pinned left-to-right `list_sum`
    * folds, Lloyd means are round(v·1e6) integer sums closed by two
    * double divisions, and every argmin/argmax tie breaks on the same
    * id/cid the engine's kernels use. */
  /** Probe batch (% 3 = 2) against the % 3 != 2 store — naive
    * cross-pair Jaccard. Shared by q239 (build-then-append store) and
    * q263 (persisted store): an index row derives from its doc alone,
    * so both stores hold identical rows. */
  private def minhashProbeOracle: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
      |           FROM documents),
      |sh AS (SELECT doc_id, list_distinct(list_transform(range(len(ws) - 2),
      |         i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS toks
      |       FROM w)
      |SELECT new_id, idx_id, jac FROM (
      |  SELECT a.doc_id AS new_id, b.doc_id AS idx_id,
      |    CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
      |      / (len(a.toks) + len(b.toks)
      |         - len(list_intersect(a.toks, b.toks))) AS jac
      |  FROM sh a JOIN sh b
      |    ON a.doc_id % 3 = 2 AND b.doc_id % 3 != 2) p
      |WHERE jac >= 0.5""".stripMargin

  private def ivfOracle: String = ivfOracleWith("TRUE")

  /** q23's full-pipeline IVF oracle, with `serveCond` filtering the
    * SERVE-side candidate set pre-ranking (q234 passes the tombstone
    * predicate; build/centroid CTEs always run over the full corpus —
    * retraction never retrains). */
  /** Exact-d²/dot SQL folds shared by every centroid-pipeline oracle
    * (q23-family + the q269 sharded graph build) — ONE text each, the
    * [[dotSql]] discipline. */
  private def d2SqlV(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), " +
      "x -> (x[1] - x[2]) * (x[1] - x[2])))"
  private def dotSqlV(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), x -> x[1] * x[2]))"

  /** The IVF centroid-training CTE body (vector table `p`, training
    * corpus `tp`, md5-ordered seed `pool`, farthest-first rounds,
    * quantized-integer Lloyd rounds through `c$IvfIters`) — shared
    * verbatim by [[ivfOracleWith]] (q23 family) and
    * [[knnGraphIvfOracle]] (q269), which diverge only downstream of
    * the trained centroids. */
  private def ivfCentroidCtes(buildCond: String,
      src: String = "SELECT vec_id AS id,\n" +
        "    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v\n" +
        "  FROM embeddings"): String = {
    def d2(a: String, b: String) = d2SqlV(a, b)
    // farthest-first rounds 2..n: argmax of min-d² to the chosen set,
    // ties to the smallest pool rank (= smallest id)
    val ff = (2 to IvfCents).map { r =>
      s"""f$r AS MATERIALIZED (SELECT rid, v FROM (
         |    SELECT pl.rid, pl.v, row_number() OVER (ORDER BY
         |        (SELECT min(${d2("pl.v", "c.v")}) FROM ch${r - 1} c) DESC,
         |        pl.rid) AS rn
         |    FROM pool pl WHERE pl.rid NOT IN (SELECT rid FROM ch${r - 1}))
         |  WHERE rn = 1),
         |ch$r AS MATERIALIZED (SELECT * FROM ch${r - 1}
         |  UNION ALL SELECT * FROM f$r)""".stripMargin
    }.mkString(",\n")
    val lloyd = (1 to IvfIters).map { r =>
      val c = s"c${r - 1}"
      s"""a$r AS MATERIALIZED (SELECT id, cid FROM (
         |    SELECT tp.id, $c.cid, row_number() OVER (PARTITION BY tp.id
         |      ORDER BY ${d2("tp.v", s"$c.cv")}, $c.cid) AS rn
         |    FROM tp CROSS JOIN $c) WHERE rn = 1),
         |c$r AS MATERIALIZED (SELECT cid,
         |    list(CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE) / 1000000.0
         |      ORDER BY dim) AS cv
         |  FROM (SELECT a$r.cid, u.dim,
         |      CAST(sum(CAST(round(tp.v[u.dim] * 1000000.0) AS BIGINT))
         |        AS BIGINT) AS s,
         |      CAST(count(*) AS BIGINT) AS cnt
         |    FROM a$r JOIN tp USING (id),
         |      unnest(range(1, len(tp.v) + 1)) AS u(dim)
         |    GROUP BY 1, 2)
         |  GROUP BY cid)""".stripMargin
    }.mkString(",\n")
    s"""p AS MATERIALIZED ($src),
       |tp AS MATERIALIZED (SELECT * FROM p WHERE $buildCond),
       |pool AS MATERIALIZED (SELECT
       |    CAST(row_number() OVER (ORDER BY id) AS INTEGER) AS rid, v
       |  FROM (SELECT id, v FROM tp
       |    ORDER BY md5(CAST(id AS VARCHAR) || ':$IvfSeed')
       |    LIMIT $IvfPool)),
       |ch1 AS MATERIALIZED (SELECT rid, v FROM pool WHERE rid = 1),
       |$ff,
       |c0 AS MATERIALIZED (SELECT
       |    CAST(row_number() OVER (ORDER BY rid) AS INTEGER) AS cid,
       |    v AS cv FROM ch$IvfCents),
       |$lloyd""".stripMargin
  }

  /** q269's oracle: the IVF-SHARDED k-NN graph build unrolled — the
    * shared centroid pipeline ([[ivfCentroidCtes]], byte-identical to
    * q23's), then top-[[KgIvfAssign]] cell assignment per BUILD vector
    * (`rn <= n`, where q23's build assignment takes `rn = 1`), the
    * DISTINCT shared-cell candidate pairs, one global exact-cosine
    * rank into the sharded graph `ivg0`, and ONE NN-Descent refinement
    * round (q252's bn/cd/g round template, `iv`-prefixed, seeded by
    * `ivg0` instead of the md5 ring). Global-rank-over-covered-pairs
    * equals the engine's per-cell-top-k-then-merge because a vertex's
    * global top-k member inside a cell is inside that cell's top-k too
    * (same tie rule both levels). */
  private def knnGraphIvfOracle: String = {
    val fc = s"c$IvfIters"
    val cosq = s"${dotSqlV("qa.v", "qb.v")} /\n" +
      s"        sqrt(${dotSqlV("qa.v", "qa.v")} * " +
      s"${dotSqlV("qb.v", "qb.v")})"
    "WITH " + ivfCentroidCtes("TRUE") + ",\n" +
      s"""bi2 AS MATERIALIZED (SELECT id, cid FROM (
         |    SELECT p.id, c.cid, row_number() OVER (PARTITION BY p.id
         |      ORDER BY ${d2SqlV("p.v", "c.cv")}, c.cid) AS rn
         |    FROM p CROSS JOIN $fc c) WHERE rn <= $KgIvfAssign),
         |cand AS MATERIALIZED (SELECT DISTINCT a.id AS a_id, b.id AS nbr
         |  FROM bi2 a JOIN bi2 b USING (cid) WHERE a.id != b.id),
         |ivg0 AS MATERIALIZED (SELECT a_id, nbr FROM (
         |    SELECT c.a_id, c.nbr, row_number() OVER (
         |      PARTITION BY c.a_id ORDER BY $cosq DESC, c.nbr) AS rn
         |    FROM cand c JOIN p qa ON qa.id = c.a_id
         |      JOIN p qb ON qb.id = c.nbr)
         |  WHERE rn <= $KgBuildK),
         |ivbn AS MATERIALIZED (SELECT DISTINCT a_id, nbr FROM (
         |    SELECT a_id, nbr FROM ivg0
         |    UNION ALL SELECT nbr AS a_id, a_id AS nbr FROM ivg0)),
         |ivcd AS MATERIALIZED (SELECT DISTINCT a_id, nbr FROM (
         |    SELECT x.a_id, y.nbr FROM ivbn x JOIN ivbn y
         |      ON y.a_id = x.nbr
         |    WHERE x.a_id != y.nbr
         |    UNION ALL SELECT a_id, nbr FROM ivg0))
         |SELECT a_id AS vec_id, nbr AS nbr_id, CAST(rn AS INTEGER) AS rnk
         |FROM (SELECT c.a_id, c.nbr, row_number() OVER (
         |    PARTITION BY c.a_id ORDER BY $cosq DESC, c.nbr) AS rn
         |  FROM ivcd c JOIN p qa ON qa.id = c.a_id
         |    JOIN p qb ON qb.id = c.nbr) r
         |WHERE rn <= $KgBuildK""".stripMargin
  }

  private def ivfOracleWith(serveCond: String,
      buildCond: String = "TRUE", prelude: String = "",
      src: String = "SELECT vec_id AS id,\n" +
        "    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v\n" +
        "  FROM embeddings"): String = {
    def d2(a: String, b: String) = d2SqlV(a, b)
    def dot(a: String, b: String) = dotSqlV(a, b)
    val fc = s"c$IvfIters"
    "WITH " + prelude + ivfCentroidCtes(buildCond, src) + ",\n" +
      s"""bi AS MATERIALIZED (SELECT id, cid FROM (
       |    SELECT p.id, c.cid, row_number() OVER (PARTITION BY p.id
       |      ORDER BY ${d2("p.v", "c.cv")}, c.cid) AS rn
       |    FROM p CROSS JOIN $fc c) WHERE rn = 1),
       |pr AS MATERIALIZED (SELECT id AS a_id, cid FROM (
       |    SELECT p.id, c.cid, row_number() OVER (PARTITION BY p.id
       |      ORDER BY ${d2("p.v", "c.cv")}, c.cid) AS rn
       |    FROM p CROSS JOIN $fc c WHERE p.id < 50) WHERE rn <= $IvfProbe)
       |SELECT vec_id, nbr_id, CAST(rnk AS INTEGER) AS rnk FROM (
       |  SELECT pr.a_id AS vec_id, bi.id AS nbr_id,
       |    row_number() OVER (PARTITION BY pr.a_id ORDER BY
       |      ${dot("qa.v", "qb.v")} /
       |        sqrt(${dot("qa.v", "qa.v")} * ${dot("qb.v", "qb.v")}) DESC,
       |      bi.id) AS rnk
       |  FROM pr JOIN bi USING (cid)
       |    JOIN p qa ON qa.id = pr.a_id JOIN p qb ON qb.id = bi.id
       |  WHERE pr.a_id != bi.id AND ($serveCond)) r
       |WHERE rnk <= $AnnK""".stripMargin
  }

  /** q75's oracle: the PQ pipeline unrolled — all [[PqM]] subspace
    * codebooks train TOGETHER as grouped CTEs (seeds = the [[PqNc]]
    * smallest per-sub md5 hashes, id-ordered cids; quantized-integer
    * Lloyd rounds exactly like [[ivfOracle]]'s), codes are the final
    * per-sub argmin, ADC table entries quantize to
    * floor(d²·1e9 + 0.5) BIGINTs (so the per-pair sum over m terms is
    * an exact integer sum — the engine computes the identical chain),
    * the shortlist ranks by (ad2, id), and the exact-L2 re-rank closes
    * by (d2, id). Codes join dtab on the stored (sub, cid) labels —
    * equivalent to the engine's positional reindex, since both sides
    * of the lookup derive from the same cid-sorted order. */
  private def pqOracle: String = pqOracleWith("TRUE")

  /** [[pqOracle]] with `serveCond` filtering the ADC candidate side
    * (q241 passes the tombstone predicate over `cd.id`) and
    * `buildCond` restricting the CODEBOOK-training corpus (q242 trains
    * on the initial generation only; codes always cover the full
    * corpus — insertion never retrains, like the IVF rule). */
  private def pqOracleWith(serveCond: String,
      buildCond: String = "TRUE"): String = {
    def d2(a: String, b: String) =
      s"list_sum(list_transform(list_zip($a, $b), " +
        "x -> (x[1] - x[2]) * (x[1] - x[2])))"
    val lloyd = (1 to PqIters).map { r =>
      val c = s"pc${r - 1}"
      s"""pa$r AS MATERIALIZED (SELECT id, sub, cid FROM (
         |    SELECT tps.id, tps.sub, $c.cid,
         |      row_number() OVER (PARTITION BY tps.id, tps.sub
         |        ORDER BY ${d2("tps.sv", s"$c.cv")}, $c.cid) AS rn
         |    FROM tps JOIN $c USING (sub)) WHERE rn = 1),
         |pc$r AS MATERIALIZED (SELECT sub, cid,
         |    list(CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE) / 1000000.0
         |      ORDER BY dim) AS cv
         |  FROM (SELECT a.sub, a.cid, u.dim,
         |      CAST(sum(CAST(round(tps.sv[u.dim] * 1000000.0) AS BIGINT))
         |        AS BIGINT) AS s,
         |      CAST(count(*) AS BIGINT) AS cnt
         |    FROM pa$r a JOIN tps ON tps.id = a.id AND tps.sub = a.sub,
         |      unnest(range(1, len(tps.sv) + 1)) AS u(dim)
         |    GROUP BY 1, 2, 3)
         |  GROUP BY sub, cid)""".stripMargin
    }.mkString(",\n")
    val fc = s"pc$PqIters"
    s"""WITH p AS MATERIALIZED (SELECT vec_id AS id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |ps AS MATERIALIZED (SELECT p.id, u.sub,
       |    list_slice(p.v, u.sub * (len(p.v) // $PqM) + 1,
       |      (u.sub + 1) * (len(p.v) // $PqM)) AS sv
       |  FROM p, unnest(range(0, $PqM)) AS u(sub)),
       |tps AS MATERIALIZED (SELECT * FROM ps WHERE $buildCond),
       |sd AS MATERIALIZED (SELECT sub, id, sv FROM (
       |    SELECT sub, id, sv, row_number() OVER (PARTITION BY sub
       |      ORDER BY md5(CAST(id AS VARCHAR) || ':' ||
       |        CAST(sub + $PqSeed AS VARCHAR))) AS rh
       |    FROM tps) WHERE rh <= $PqNc),
       |pc0 AS MATERIALIZED (SELECT sub,
       |    CAST(row_number() OVER (PARTITION BY sub ORDER BY id)
       |      AS INTEGER) AS cid, sv AS cv
       |  FROM sd),
       |$lloyd,
       |codes AS MATERIALIZED (SELECT id, sub, cid FROM (
       |    SELECT ps.id, ps.sub, c.cid,
       |      row_number() OVER (PARTITION BY ps.id, ps.sub
       |        ORDER BY ${d2("ps.sv", "c.cv")}, c.cid) AS rn
       |    FROM ps JOIN $fc c USING (sub)) WHERE rn = 1),
       |dt AS MATERIALIZED (SELECT q.id AS a_id, c.sub, c.cid,
       |    CAST(floor(${d2("qs.sv", "c.cv")} * 1000000000.0 + 0.5)
       |      AS BIGINT) AS dq
       |  FROM p q JOIN ps qs ON qs.id = q.id
       |    JOIN $fc c ON c.sub = qs.sub
       |  WHERE q.id < 50),
       |adc AS MATERIALIZED (SELECT dt.a_id, cd.id AS b_id,
       |    CAST(sum(dt.dq) AS BIGINT) AS ad2
       |  FROM codes cd JOIN dt ON dt.sub = cd.sub AND dt.cid = cd.cid
       |  WHERE dt.a_id != cd.id AND ($serveCond)
       |  GROUP BY 1, 2),
       |sl AS MATERIALIZED (SELECT a_id, b_id FROM (
       |    SELECT a_id, b_id, row_number() OVER (PARTITION BY a_id
       |      ORDER BY ad2, b_id) AS rn
       |    FROM adc) WHERE rn <= $PqShortlist)
       |SELECT vec_id, nbr_id, CAST(rnk AS INTEGER) AS rnk FROM (
       |  SELECT sl.a_id AS vec_id, sl.b_id AS nbr_id,
       |    row_number() OVER (PARTITION BY sl.a_id
       |      ORDER BY ${d2("qa.v", "qb.v")}, sl.b_id) AS rnk
       |  FROM sl JOIN p qa ON qa.id = sl.a_id
       |    JOIN p qb ON qb.id = sl.b_id) r
       |WHERE rnk <= $AnnK""".stripMargin
  }

  /** q247's oracle: the COMPOSED IVF-PQ unrolled — [[ivfOracleWith]]'s
    * coarse-centroid training chained into [[pqOracleWith]]'s subspace
    * training through the residual CTE `rp` (v − assigned centroid),
    * per-(query, probed-cell) residual ADC tables, exact-L2 re-rank of
    * the shortlist. Every arithmetic step is the exact op the engine
    * executes: same pinned d² folds, same quantized Lloyd means, same
    * floor(d²·1e9 + 0.5) BIGINT ADC entries (integer-exact sums), same
    * id tie-breaks at every ranking. */
  private def ivfPqOracle: String = ivfPqOracleWith("TRUE")

  /** [[ivfPqOracle]] with `serveCond` filtering the ADC candidate side
    * (q248 passes the tombstone predicate over `cd.id`; neither
    * training unroll is filtered — retraction never retrains) and
    * `buildCond` restricting BOTH training unrolls' corpus (q255
    * trains coarse centroids and the residual codebook on the initial
    * generation only; assignment/codes/serve still cover everything —
    * insertion never retrains, the q242 rule composed). */
  private def ivfPqOracleWith(serveCond: String,
      buildCond: String = "TRUE"): String = {
    def d2(a: String, b: String) =
      s"list_sum(list_transform(list_zip($a, $b), " +
        "x -> (x[1] - x[2]) * (x[1] - x[2])))"
    // coarse farthest-first rounds 2..n (argmax of min-d², ties to the
    // smallest pool rank) — ivfOracleWith's text over the unfiltered p
    val ff = (2 to IvfCents).map { r =>
      s"""f$r AS MATERIALIZED (SELECT rid, v FROM (
         |    SELECT pl.rid, pl.v, row_number() OVER (ORDER BY
         |        (SELECT min(${d2("pl.v", "c.v")}) FROM ch${r - 1} c) DESC,
         |        pl.rid) AS rn
         |    FROM pool pl WHERE pl.rid NOT IN (SELECT rid FROM ch${r - 1}))
         |  WHERE rn = 1),
         |ch$r AS MATERIALIZED (SELECT * FROM ch${r - 1}
         |  UNION ALL SELECT * FROM f$r)""".stripMargin
    }.mkString(",\n")
    val lloyd = (1 to IvfIters).map { r =>
      val c = s"c${r - 1}"
      s"""a$r AS MATERIALIZED (SELECT id, cid FROM (
         |    SELECT tp.id, $c.cid, row_number() OVER (PARTITION BY tp.id
         |      ORDER BY ${d2("tp.v", s"$c.cv")}, $c.cid) AS rn
         |    FROM tp CROSS JOIN $c) WHERE rn = 1),
         |c$r AS MATERIALIZED (SELECT cid,
         |    list(CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE) / 1000000.0
         |      ORDER BY dim) AS cv
         |  FROM (SELECT a$r.cid, u.dim,
         |      CAST(sum(CAST(round(tp.v[u.dim] * 1000000.0) AS BIGINT))
         |        AS BIGINT) AS s,
         |      CAST(count(*) AS BIGINT) AS cnt
         |    FROM a$r JOIN tp USING (id),
         |      unnest(range(1, len(tp.v) + 1)) AS u(dim)
         |    GROUP BY 1, 2)
         |  GROUP BY cid)""".stripMargin
    }.mkString(",\n")
    val fc = s"c$IvfIters"
    // PQ Lloyd over the TRAINING residual subspaces (tps)
    val pqLloyd = (1 to PqIters).map { r =>
      val c = s"pc${r - 1}"
      s"""pa$r AS MATERIALIZED (SELECT id, sub, cid FROM (
         |    SELECT tps.id, tps.sub, $c.cid,
         |      row_number() OVER (PARTITION BY tps.id, tps.sub
         |        ORDER BY ${d2("tps.sv", s"$c.cv")}, $c.cid) AS rn
         |    FROM tps JOIN $c USING (sub)) WHERE rn = 1),
         |pc$r AS MATERIALIZED (SELECT sub, cid,
         |    list(CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE) / 1000000.0
         |      ORDER BY dim) AS cv
         |  FROM (SELECT a.sub, a.cid, u.dim,
         |      CAST(sum(CAST(round(tps.sv[u.dim] * 1000000.0) AS BIGINT))
         |        AS BIGINT) AS s,
         |      CAST(count(*) AS BIGINT) AS cnt
         |    FROM pa$r a JOIN tps ON tps.id = a.id AND tps.sub = a.sub,
         |      unnest(range(1, len(tps.sv) + 1)) AS u(dim)
         |    GROUP BY 1, 2, 3)
         |  GROUP BY sub, cid)""".stripMargin
    }.mkString(",\n")
    val fq = s"pc$PqIters"
    s"""WITH p AS MATERIALIZED (SELECT vec_id AS id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |tp AS MATERIALIZED (SELECT * FROM p WHERE $buildCond),
       |pool AS MATERIALIZED (SELECT
       |    CAST(row_number() OVER (ORDER BY id) AS INTEGER) AS rid, v
       |  FROM (SELECT id, v FROM tp
       |    ORDER BY md5(CAST(id AS VARCHAR) || ':$IvfSeed')
       |    LIMIT $IvfPool)),
       |ch1 AS MATERIALIZED (SELECT rid, v FROM pool WHERE rid = 1),
       |$ff,
       |c0 AS MATERIALIZED (SELECT
       |    CAST(row_number() OVER (ORDER BY rid) AS INTEGER) AS cid,
       |    v AS cv FROM ch$IvfCents),
       |$lloyd,
       |bi AS MATERIALIZED (SELECT id, cid FROM (
       |    SELECT p.id, c.cid, row_number() OVER (PARTITION BY p.id
       |      ORDER BY ${d2("p.v", "c.cv")}, c.cid) AS rn
       |    FROM p CROSS JOIN $fc c) WHERE rn = 1),
       |rp AS MATERIALIZED (SELECT p.id, bi.cid AS cell,
       |    list_transform(list_zip(p.v, c.cv), x -> x[1] - x[2]) AS v
       |  FROM p JOIN bi USING (id) JOIN $fc c ON c.cid = bi.cid),
       |ps AS MATERIALIZED (SELECT rp.id, rp.cell, u.sub,
       |    list_slice(rp.v, u.sub * (len(rp.v) // $PqM) + 1,
       |      (u.sub + 1) * (len(rp.v) // $PqM)) AS sv
       |  FROM rp, unnest(range(0, $PqM)) AS u(sub)),
       |tps AS MATERIALIZED (SELECT ps.* FROM ps
       |  JOIN tp ON tp.id = ps.id),
       |sd AS MATERIALIZED (SELECT sub, id, sv FROM (
       |    SELECT sub, id, sv, row_number() OVER (PARTITION BY sub
       |      ORDER BY md5(CAST(id AS VARCHAR) || ':' ||
       |        CAST(sub + $PqSeed AS VARCHAR))) AS rh
       |    FROM tps) WHERE rh <= $PqNc),
       |pc0 AS MATERIALIZED (SELECT sub,
       |    CAST(row_number() OVER (PARTITION BY sub ORDER BY id)
       |      AS INTEGER) AS cid, sv AS cv
       |  FROM sd),
       |$pqLloyd,
       |codes AS MATERIALIZED (SELECT id, cell, sub, cid FROM (
       |    SELECT ps.id, ps.cell, ps.sub, c.cid,
       |      row_number() OVER (PARTITION BY ps.id, ps.sub
       |        ORDER BY ${d2("ps.sv", "c.cv")}, c.cid) AS rn
       |    FROM ps JOIN $fq c USING (sub)) WHERE rn = 1),
       |pr AS MATERIALIZED (SELECT id AS a_id, cid FROM (
       |    SELECT p.id, c.cid, row_number() OVER (PARTITION BY p.id
       |      ORDER BY ${d2("p.v", "c.cv")}, c.cid) AS rn
       |    FROM p CROSS JOIN $fc c WHERE p.id < 50) WHERE rn <= $IvfProbe),
       |qr AS MATERIALIZED (SELECT pr.a_id, pr.cid AS cell,
       |    list_transform(list_zip(q.v, c.cv), x -> x[1] - x[2]) AS v
       |  FROM pr JOIN p q ON q.id = pr.a_id JOIN $fc c ON c.cid = pr.cid),
       |qs AS MATERIALIZED (SELECT qr.a_id, qr.cell, u.sub,
       |    list_slice(qr.v, u.sub * (len(qr.v) // $PqM) + 1,
       |      (u.sub + 1) * (len(qr.v) // $PqM)) AS sv
       |  FROM qr, unnest(range(0, $PqM)) AS u(sub)),
       |dt AS MATERIALIZED (SELECT qs.a_id, qs.cell, qs.sub, c.cid,
       |    CAST(floor(${d2("qs.sv", "c.cv")} * 1000000000.0 + 0.5)
       |      AS BIGINT) AS dq
       |  FROM qs JOIN $fq c USING (sub)),
       |adc AS MATERIALIZED (SELECT dt.a_id, cd.id AS b_id,
       |    CAST(sum(dt.dq) AS BIGINT) AS ad2
       |  FROM codes cd JOIN dt ON dt.cell = cd.cell AND dt.sub = cd.sub
       |    AND dt.cid = cd.cid
       |  WHERE dt.a_id != cd.id AND ($serveCond)
       |  GROUP BY 1, 2),
       |sl AS MATERIALIZED (SELECT a_id, b_id FROM (
       |    SELECT a_id, b_id, row_number() OVER (PARTITION BY a_id
       |      ORDER BY ad2, b_id) AS rn
       |    FROM adc) WHERE rn <= $PqShortlist)
       |SELECT vec_id, nbr_id, CAST(rnk AS INTEGER) AS rnk FROM (
       |  SELECT sl.a_id AS vec_id, sl.b_id AS nbr_id,
       |    row_number() OVER (PARTITION BY sl.a_id
       |      ORDER BY ${d2("qa.v", "qb.v")}, sl.b_id) AS rnk
       |  FROM sl JOIN p qa ON qa.id = sl.a_id
       |    JOIN p qb ON qb.id = sl.b_id) r
       |WHERE rnk <= $AnnK""".stripMargin
  }

  /** q120's oracle: seeds = k smallest ids, then per round an argmin
    * assignment CTE (row_number ORDER BY the d2Sql-ordered fold, ties
    * on cid — KMeans.fit's least(struct) order) and, between
    * assignment rounds, an integer-sum centroid update. */
  private def kmeansOracle: String =
    s"""WITH $kmeansCteBody
       |SELECT id AS vec_id, CAST(cid AS INTEGER) AS cluster
       |FROM a$KmRounds""".stripMargin

  /** The k-means CTE chain (seeds → Lloyd rounds), ending at
    * `a$KmRounds (id, cid)` — shared by the q120 oracle and q141's
    * cluster-scoped dedup. */
  private def kmeansCteBody: String = {
    def d2(c: String) =
      s"list_sum(list_transform(list_zip(p.qv, $c.cv), " +
        "x -> (x[1] - x[2]) * (x[1] - x[2])))"
    val rounds = (1 to KmRounds).map { r =>
      val c = s"c${r - 1}"
      val assign =
        s"""a$r AS MATERIALIZED (SELECT id, cid FROM (
           |    SELECT p.id, $c.cid, row_number() OVER (PARTITION BY p.id
           |      ORDER BY ${d2(c)}, $c.cid) AS rn
           |    FROM p CROSS JOIN $c) WHERE rn = 1)""".stripMargin
      if (r == KmRounds) assign
      else assign + s""",
           |c$r AS MATERIALIZED (SELECT cid,
           |    list(CAST(s AS DOUBLE) / cnt ORDER BY dim) AS cv
           |  FROM (SELECT a$r.cid, u.dim,
           |      CAST(sum(CAST(p.qv[u.dim] AS BIGINT)) AS BIGINT) AS s,
           |      CAST(count(*) AS BIGINT) AS cnt
           |    FROM a$r JOIN p USING (id),
           |      unnest(range(1, len(p.qv) + 1)) AS u(dim)
           |    GROUP BY 1, 2)
           |  GROUP BY cid)""".stripMargin
    }.mkString(",\n")
    s"""p AS MATERIALIZED (SELECT vec_id AS id,
       |    list_transform(embedding,
       |      x -> round(CAST(x AS DOUBLE) * 1000000.0)) AS qv
       |  FROM embeddings),
       |c0 AS MATERIALIZED (SELECT
       |    CAST(row_number() OVER (ORDER BY id) AS INTEGER) - 1 AS cid,
       |    qv AS cv
       |  FROM (SELECT id, qv FROM p ORDER BY id LIMIT $KmK)),
       |$rounds""".stripMargin
  }

  /** q159's oracle: distances to the FINAL centroids (`c_{rounds-1}` —
    * the ones [[operators.KMeans.fit]]'s last assignment sees), ranked
    * per point by (d2, cid); a = rn 1 (the assigned cluster), b = rn 2;
    * s = (√b − √a)/√b quantized to ×1e9 longs, per-cluster mean as one
    * exact integer sum + the same two-division close as the engine. */
  private def silhouetteOracle: String = {
    val d2 = "list_sum(list_transform(list_zip(p.qv, c.cv), " +
      "x -> (x[1] - x[2]) * (x[1] - x[2])))"
    s"""WITH $kmeansCteBody,
       |dst AS MATERIALIZED (SELECT p.id, c.cid, $d2 AS d2,
       |    row_number() OVER (PARTITION BY p.id ORDER BY $d2, c.cid)
       |      AS rn
       |  FROM p CROSS JOIN c${KmRounds - 1} c),
       |ab AS (SELECT a.id, a.cid AS cluster,
       |    sqrt(a.d2) AS da, sqrt(b.d2) AS db
       |  FROM dst a JOIN dst b USING (id) WHERE a.rn = 1 AND b.rn = 2),
       |sq AS (SELECT cluster,
       |    CAST(round((CASE WHEN db > 0 THEN (db - da) / db
       |                     ELSE 0.0 END) * 1000000000.0) AS BIGINT)
       |      AS s
       |  FROM ab)
       |SELECT CAST(cluster AS INTEGER) AS cluster,
       |  CAST(count(*) AS BIGINT) AS n_pts,
       |  CAST(sum(s) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |    / 1000000000.0 AS mean_sil
       |FROM sq GROUP BY 1""".stripMargin
  }

  /** q160's oracle: the k-means unroll's labels against the planted
    * `label` column — contingency counts, ×2-scaled pair sums
    * (Σ x(x−1)), and ClusterEval.adjustedRandIndex's exact-integer
    * ARI formula with its single closing division. */
  private def randIndexOracle: String =
    s"""WITH $kmeansCteBody,
       |ct AS MATERIALIZED (SELECT a$KmRounds.cid AS ca, e.label AS cb,
       |    CAST(count(*) AS BIGINT) AS nij
       |  FROM a$KmRounds JOIN embeddings e ON a$KmRounds.id = e.vec_id
       |  GROUP BY 1, 2),
       |s1 AS (SELECT CAST(sum(nij * (nij - 1)) AS BIGINT) AS sij,
       |    CAST(sum(nij) AS BIGINT) AS n,
       |    CAST(count(DISTINCT ca) AS BIGINT) AS k_a,
       |    CAST(count(DISTINCT cb) AS BIGINT) AS k_b
       |  FROM ct),
       |s2 AS (SELECT CAST(sum(ai * (ai - 1)) AS BIGINT) AS sa FROM
       |  (SELECT CAST(sum(nij) AS BIGINT) AS ai FROM ct GROUP BY ca)),
       |s3 AS (SELECT CAST(sum(bj * (bj - 1)) AS BIGINT) AS sb FROM
       |  (SELECT CAST(sum(nij) AS BIGINT) AS bj FROM ct GROUP BY cb))
       |SELECT n, k_a, k_b,
       |  CASE WHEN n * (n - 1) * (sa + sb) - 2 * sa * sb <> 0 THEN
       |    CAST(2 * (n * (n - 1) * sij - sa * sb) AS DOUBLE)
       |      / CAST(n * (n - 1) * (sa + sb) - 2 * sa * sb AS DOUBLE)
       |  END AS ari
       |FROM s1, s2, s3""".stripMargin

  /** q161's oracle: the naive O(n²) k-dist (rnk = [[KDistK]] of the
    * q5-ordered pair ranking), micro-unit quantization, global
    * (qd, id) row_number, and the same non-negative floor-division
    * decile fold as the engine. */
  private def kdistOracle: String =
    s"""WITH kth AS MATERIALIZED (
       |  SELECT a_id AS id,
       |    CAST(round(sqrt(d2) * 1000000) AS BIGINT) AS qd
       |  FROM (
       |    SELECT a.vec_id AS a_id, ${d2Sql("a", "b")} AS d2,
       |      row_number() OVER (PARTITION BY a.vec_id
       |        ORDER BY ${d2Sql("a", "b")}, b.vec_id) AS rnk
       |    FROM embeddings a JOIN embeddings b
       |      ON a.vec_id <> b.vec_id) r
       |  WHERE rnk = $KDistK),
       |rk AS (SELECT qd, row_number() OVER (ORDER BY qd, id) AS rk,
       |    (SELECT count(*) FROM kth) AS n
       |  FROM kth)
       |SELECT CAST((rk - 1) * $KDistBuckets // n + 1 AS INTEGER)
       |    AS decile,
       |  CAST(count(*) AS BIGINT) AS n_pts,
       |  min(qd) AS min_d_e6, max(qd) AS max_d_e6
       |FROM rk GROUP BY 1""".stripMargin

  /** q140's oracle: signatures from the PRINTED ±1 planes (list_zip
    * fold — the d2Sql bit-parity precedent), per-table bucket
    * self-joins unioned (set union = the cross-table pair dedup), exact
    * cosine re-rank. */
  /** q148's oracle: the SAME ±1 planes printed as list literals, the
    * same round(v·1e6) quantization, exact integer dots, one printed
    * double divisor — bit-identical projections. */
  private def jlOracle: String = {
    val lists = JlPlanes.zipWithIndex.map { case (p, c) =>
      s"($c, [${p.map(_.toInt).mkString(",")}])"
    }.mkString(",\n    ")
    val denom = math.sqrt(JlComps.toDouble) * 1e6
    s"""WITH planes AS (SELECT comp, CAST(i AS INTEGER) AS pos,
       |    l[i+1] AS sign
       |  FROM (VALUES
       |    $lists) t(comp, l), unnest(range(len(l))) AS r(i)),
       |pe AS (SELECT vec_id, CAST(i AS INTEGER) AS pos,
       |    CAST(round(CAST(embedding[i+1] AS DOUBLE) * 1000000)
       |      AS BIGINT) AS vq
       |  FROM embeddings, unnest(range(len(embedding))) AS r(i))
       |SELECT vec_id, comp, CAST(sum(sign * vq) AS DOUBLE)
       |    / CAST($denom AS DOUBLE) AS proj
       |FROM pe JOIN planes USING (pos) GROUP BY 1, 2""".stripMargin
  }

  private def lshOracle: String = {
    def planeDot(p: Array[Double]) =
      s"list_sum(list_transform(list_zip(embedding, " +
        s"[${p.mkString(", ")}]), q -> CAST(q[1] AS DOUBLE) * q[2]))"
    val bktCols = (0 until LshTables).map { tb =>
      (0 until LshBits).map { bit =>
        s"(CASE WHEN ${planeDot(LshPlanes(tb)(bit))} >= 0 " +
          s"THEN ${1L << bit} ELSE 0 END)"
      }.mkString("\n      + ") + s" AS bkt$tb"
    }.mkString(",\n    ")
    val unions = (0 until LshTables).map { tb =>
      s"""  SELECT a.vec_id AS a_id, b.vec_id AS b_id
         |  FROM sig a JOIN sig b ON a.bkt$tb = b.bkt$tb
         |  WHERE a.vec_id % $LshQueryMod = 0
         |    AND a.vec_id <> b.vec_id""".stripMargin
    }.mkString("\n  UNION\n")
    def dot(x: String, y: String) =
      s"list_sum(list_transform(list_zip($x.embedding, $y.embedding), " +
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    s"""WITH sig AS MATERIALIZED (SELECT vec_id, embedding,
       |    ${bktCols}
       |  FROM embeddings),
       |pairs AS (
       |$unions),
       |scored AS (SELECT p.a_id, p.b_id,
       |    ${dot("ea", "eb")}
       |      / sqrt(${dot("ea", "ea")} * ${dot("eb", "eb")}) AS cos
       |  FROM pairs p
       |  JOIN embeddings ea ON ea.vec_id = p.a_id
       |  JOIN embeddings eb ON eb.vec_id = p.b_id)
       |SELECT a_id AS vec_id, b_id AS nbr_id, CAST(rnk AS INTEGER) AS rnk
       |FROM (SELECT a_id, b_id, row_number() OVER (PARTITION BY a_id
       |    ORDER BY cos DESC, b_id) AS rnk FROM scored) r
       |WHERE rnk <= $LshK""".stripMargin
  }

  /** q251's oracle: [[lshOracle]]'s machinery with the QUERY side
    * widened to the multi-probe set — per table, the base bucket plus
    * single-bit flips of the (LshProbes − 1) smallest-|margin| bits
    * (margins are the same printed-plane dot folds the sign bits use;
    * struct sort ties by bit). Build-side signatures stay one bucket
    * per table — the standing index is unchanged. */
  private def lshMpOracle: String = {
    def planeDot(p: Array[Double]) =
      s"list_sum(list_transform(list_zip(embedding, " +
        s"[${p.mkString(", ")}]), q -> CAST(q[1] AS DOUBLE) * q[2]))"
    val bktCols = (0 until LshMpTables).map { tb =>
      (0 until LshBits).map { bit =>
        s"(CASE WHEN ${planeDot(LshMpPlanes(tb)(bit))} >= 0 " +
          s"THEN ${1L << bit} ELSE 0 END)"
      }.mkString("\n      + ") + s" AS bkt$tb"
    }.mkString(",\n    ")
    val probeCols = (0 until LshMpTables).map { tb =>
      val structs = (0 until LshBits).map { bit =>
        s"{'m': abs(${planeDot(LshMpPlanes(tb)(bit))}), 'b': $bit}"
      }.mkString(",\n        ")
      s"""list_prepend(bkt$tb, list_transform(
         |      list_slice(list_sort([$structs]), 1, ${LshProbes - 1}),
         |      s -> xor(bkt$tb, (1::BIGINT << s.b)))) AS probes$tb"""
        .stripMargin
    }.mkString(",\n    ")
    val unions = (0 until LshMpTables).map { tb =>
      s"""  SELECT a.vec_id AS a_id, b.vec_id AS b_id
         |  FROM (SELECT vec_id, unnest(probes$tb) AS pb FROM qsig) a
         |  JOIN sig b ON a.pb = b.bkt$tb
         |  WHERE a.vec_id <> b.vec_id""".stripMargin
    }.mkString("\n  UNION\n")
    def dot(x: String, y: String) =
      s"list_sum(list_transform(list_zip($x.embedding, $y.embedding), " +
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    s"""WITH sig AS MATERIALIZED (SELECT vec_id, embedding,
       |    $bktCols
       |  FROM embeddings),
       |qsig AS MATERIALIZED (SELECT vec_id,
       |    $probeCols
       |  FROM sig WHERE vec_id % $LshQueryMod = 0),
       |pairs AS (
       |$unions),
       |scored AS (SELECT p.a_id, p.b_id,
       |    ${dot("ea", "eb")}
       |      / sqrt(${dot("ea", "ea")} * ${dot("eb", "eb")}) AS cos
       |  FROM pairs p
       |  JOIN embeddings ea ON ea.vec_id = p.a_id
       |  JOIN embeddings eb ON eb.vec_id = p.b_id)
       |SELECT a_id AS vec_id, b_id AS nbr_id, CAST(rnk AS INTEGER) AS rnk
       |FROM (SELECT a_id, b_id, row_number() OVER (PARTITION BY a_id
       |    ORDER BY cos DESC, b_id) AS rnk FROM scored) r
       |WHERE rnk <= $LshK""".stripMargin
  }

  /** q141's oracle: the k-means chain, then the order-free smaller-id
    * EXISTS drop rule on exact cosine (q26's dot style). */
  private def semDedupOracle: String = {
    def dot(x: String, y: String) =
      s"list_sum(list_transform(list_zip($x.embedding, $y.embedding), " +
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    s"""WITH $kmeansCteBody,
       |pe AS MATERIALIZED (SELECT a.id, a.cid, e.embedding
       |  FROM a$KmRounds a JOIN embeddings e ON e.vec_id = a.id),
       |drp AS (SELECT DISTINCT x.id FROM pe x JOIN pe y
       |  ON x.cid = y.cid AND y.id < x.id
       |  AND ${dot("x", "y")}
       |    / sqrt(${dot("x", "x")} * ${dot("y", "y")}) >= $SemTau)
       |SELECT pe.id AS vec_id, CAST(pe.cid AS INTEGER) AS cluster,
       |  drp.id IS NULL AS kept
       |FROM pe LEFT JOIN drp ON drp.id = pe.id""".stripMargin
  }

  /** q115 BM25: query terms and the standard (k1, b) — the doubles are
    * printed into the oracle so both engines use identical constants. */
  private val Bm25Terms = Seq("spark", "stream", "dup")
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75

  /** The BM25 scoring chain as a reusable WITH-body ending at
    * `bs (doc_id, n_terms, score)` — shared by the q115 oracle and
    * q127's lexical ranking leg. */
  private def bm25ScoreCte: String =
    s"""d AS (SELECT doc_id, string_split(text, ' ') AS ws
       |      FROM documents),
       |stats AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(len(ws)) AS BIGINT) AS sumdl FROM d),
       |tl AS (SELECT doc_id, len(ws) AS dl, w AS term,
       |    CAST(count(*) AS BIGINT) AS tf
       |  FROM d, unnest(ws) AS t(w)
       |  WHERE w IN (${Bm25Terms.map("'" + _ + "'").mkString(", ")})
       |  GROUP BY 1, 2, 3),
       |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
       |          FROM tl GROUP BY 1),
       |bs AS (SELECT tl.doc_id, CAST(count(*) AS BIGINT) AS n_terms,
       |  round(sum(
       |    ln(1.0 + (CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
       |            / (CAST(df AS DOUBLE) + 0.5))
       |    * (CAST(tf AS DOUBLE) * ${Bm25K1 + 1.0})
       |    / (CAST(tf AS DOUBLE) + $Bm25K1 * (${1.0 - Bm25B} + $Bm25B
       |        * (CAST(dl AS DOUBLE) * CAST(n AS DOUBLE)
       |           / CAST(sumdl AS DOUBLE))))), 6) AS score
       |  FROM tl JOIN dfreq USING (term) CROSS JOIN stats
       |  GROUP BY tl.doc_id)""".stripMargin

  /** q127: RRF constants + the probe embedding row. */
  private val RrfK = 60
  private val RrfTopK = 20

  /** q128: every doc_id ≡ 0 (mod 100) is a query; top-5 answers. */
  private val MltQueryMod = 100
  private val MltK = 5

  /** q129 temperature mix: α (0.5 ⇒ IEEE-exact sqrt), row budget,
    * bucket salt. */
  private val TempAlpha = 0.5
  private val TempBudgetFrac = 0.3
  private val TempSalt = "graft-temp-v1"

  /** q109's containment threshold (max-direction). */
  private val ContainMin = 0.8

  /** q215's vocabulary cut sizes — shared with the generated oracle
    * (bigram vocab at the fixture is ~1k, so the cuts straddle it). */
  private val VocabCuts = Seq(100, 500, 2000)

  /** q100's snapshot instant (2024-01-21T00:00:00Z — 10 days before the
    * fixture's last event) and trailing windows — shared with the
    * generated oracle. */
  private val FeatCutoffMs = 1705795200000L
  private val FeatWindows = Seq("1d" -> 86400000L, "7d" -> 604800000L)

  /** q102's attribution horizon: clicks older than this never get
    * credit. */
  private val AttrHorizonMs = 86400000L

  /** LPA rounds — shared by q88 and its unrolled oracle. */
  private val LpaRounds = 3

  /** q90's profiled columns (name, numeric?) — single source for the
    * Spark query and the per-column UNION ALL oracle. */
  private val ProfileCols =
    Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus",
      "o_orderpriority")
  private val ProfileNumeric =
    Set("o_orderkey", "o_custkey", "o_totalprice")

  /** q94 PMI: minimum bigram count (rare-pair PMI is noise). */
  private val PmiMinCount = 5L

  /** q95 k-core: k and the synchronous peel round budget — shared by
    * the engine call and the unrolled oracle. 10 rounds reach the
    * fixpoint at sf0.01 (935-node 3-core; KCoreSpec asserts one more
    * round is a no-op). */
  private val KCoreK = 3
  private val KCoreRounds = 10

  /** q98 negative sampling: draws per row and the determinism salt. */
  private val NegK = 2
  private val NegSalt = "graft-neg-v1"

  /** q87's variables: (name, integer-quantizing SQL expression) — the
    * same expression text feeds the Spark query and the DuckDB oracle. */
  private val CorrVars: Seq[(String, String)] = Seq(
    "qty" -> "CAST(l_quantity AS BIGINT)",
    "price" -> "CAST(round(l_extendedprice * 100) AS BIGINT)",
    "disc" -> "CAST(round(l_discount * 100) AS BIGINT)",
    "tax" -> "CAST(round(l_tax * 100) AS BIGINT)")

  /** SSSP relaxation rounds — shared by q85 and its unrolled oracle. */
  private val SsspRounds = 4

  /** BPE training rounds — shared by q82/q83 and their unrolled oracles. */
  private val BpeSteps = 8

  /** Blocklist for q37 — stands in for a banned-term / PII-tagged
    * vocabulary; chosen from the fixture corpus so masking actually fires. */
  private val RedactList = Seq("customer", "order", "key")

  /** q40 chunk geometry — single source for the Spark query AND its DuckDB
    * oracle (the slice arithmetic must agree with chunkIndices' count). */
  private val ChunkWindow = 64
  private val ChunkStride = 48

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = {
    val base = oracleSqlBase
    // the remaining forced-distributed twins (see the q6d family in
    // `queries`) reuse their originals' oracle SQL verbatim
    base ++ Map(
      "q60d_triangles_dist" -> base("q60_triangles"),
      "q79d_bfs_dist" -> base("q79_bfs"),
      "q88d_communities_dist" -> base("q88_communities"),
      "q112d_clustering_dist" -> base("q112_clustering_coef"),
      "q119d_hits_dist" -> base("q119_hits"),
      "q172d_ppr_dist" -> base("q172_ppr"),

      // netCDF round-trip: writer orders rows by vec_id, so the read-back
      // row ordinal is the vec_id rank; float32 list elements are emitted
      // unconverted on both sides (bit-exact)
      "q189_netcdf_roundtrip" ->
        """SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
          |         AS rn,
          |       embedding[1] AS x0, embedding[32] AS x31,
          |       embedding[64] AS x63,
          |       CAST(label AS INTEGER) AS cluster_id
          |FROM embeddings""".stripMargin,

      // domain-complete DP release: LEFT JOIN from the nation domain
      // (filter in the ON clause so unmatched nations survive with
      // count 0), then q169's noise formula verbatim
      "q190_dp_domain" ->
        s"""WITH g AS (SELECT n.n_name AS dim,
           |    CAST(count(c.c_custkey) AS BIGINT) AS n
           |  FROM nation n LEFT JOIN customer c
           |    ON c.c_nationkey = n.n_nationkey AND c.c_acctbal < -990
           |  GROUP BY 1),
           |u AS (SELECT *,
           |    (CAST(CAST('0x' || substr(md5('$DpDomainSalt:' || dim), 1, 15)
           |        AS BIGINT) % 4503599627370496 AS DOUBLE) + 0.5)
           |      / 4503599627370496.0 AS u
           |  FROM g)
           |SELECT dim, n,
           |  round(n + CASE WHEN u <= 0.5 THEN ${1.0 / DpEps} * ln(u * 2.0)
           |    ELSE ${-1.0 / DpEps} * ln(2.0 - u * 2.0) END, 6) AS noisy_n
           |FROM u""".stripMargin,

      // the oracle partitions on window CONTENT where the engine uses a
      // 128-bit hash pair — identical absent a 2^-129-probability
      // collision (SubstringDedup scaladoc)
      "q191_dup_spans" ->
        s"""WITH w AS (SELECT doc_id,
           |    unnest(range(1, greatest(length(text) - ${SubstrL - 1}, 0)
           |      + 1)) AS pos, text
           |  FROM documents),
           |ws AS (SELECT doc_id, pos,
           |    substring(text, CAST(pos AS INTEGER), $SubstrL) AS win
           |  FROM w),
           |f AS (SELECT doc_id, pos,
           |    count(*) OVER (PARTITION BY win) AS c
           |  FROM ws),
           |d AS (SELECT doc_id, pos,
           |    row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
           |  FROM f WHERE c > 1)
           |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
           |  CAST(max(pos) - min(pos) + $SubstrL AS BIGINT) AS span_len,
           |  CAST(count(*) AS BIGINT) AS n_windows
           |FROM d GROUP BY doc_id, pos - rn""".stripMargin,

      "q192_dup_chars" ->
        s"""WITH w AS (SELECT doc_id,
           |    unnest(range(1, greatest(length(text) - ${SubstrL - 1}, 0)
           |      + 1)) AS pos, text
           |  FROM documents),
           |ws AS (SELECT doc_id, pos,
           |    substring(text, CAST(pos AS INTEGER), $SubstrL) AS win
           |  FROM w),
           |f AS (SELECT doc_id, pos,
           |    count(*) OVER (PARTITION BY win) AS c
           |  FROM ws),
           |d AS (SELECT doc_id, pos,
           |    row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
           |  FROM f WHERE c > 1),
           |sp AS (SELECT doc_id, min(pos) AS lo,
           |    max(pos) + $SubstrL AS hi
           |  FROM d GROUP BY doc_id, pos - rn),
           |p AS (SELECT doc_id, lo, hi,
           |    max(hi) OVER (PARTITION BY doc_id ORDER BY lo
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
           |  FROM sp),
           |isl AS (SELECT doc_id, lo, hi,
           |    CAST(sum(CASE WHEN pm IS NULL OR lo > pm THEN 1 ELSE 0 END)
           |      OVER (PARTITION BY doc_id ORDER BY lo
           |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
           |  FROM p),
           |cov AS (SELECT doc_id,
           |    CAST(sum(mhi - mlo) AS BIGINT) AS dup_chars
           |  FROM (SELECT doc_id, island, min(lo) AS mlo, max(hi) AS mhi
           |        FROM isl GROUP BY 1, 2) g
           |  GROUP BY 1)
           |SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
           |  cov.dup_chars,
           |  round(CAST(cov.dup_chars AS DOUBLE) / length(d.text), 6)
           |    AS dup_frac
           |FROM documents d JOIN cov ON d.doc_id = cov.doc_id""".stripMargin,

      // the cut pass: q191's duplicated positions, merged to islands on
      // [pos, pos+L) (identical sweep to the engine's span merge), then
      // the KEEP pieces spliced back with an ordered string_agg; docs
      // whose islands cover everything come back EMPTY
      "q223_dup_cut" ->
        s"""WITH w AS (SELECT doc_id,
           |    unnest(range(1, greatest(length(text) - ${SubstrL - 1}, 0)
           |      + 1)) AS pos, text
           |  FROM documents),
           |ws AS (SELECT doc_id, pos,
           |    substring(text, CAST(pos AS INTEGER), $SubstrL) AS win
           |  FROM w),
           |f AS (SELECT doc_id, pos,
           |    count(*) OVER (PARTITION BY win) AS c
           |  FROM ws),
           |d AS (SELECT doc_id, pos FROM f WHERE c > 1),
           |i AS (SELECT doc_id, pos AS lo, pos + $SubstrL AS hi,
           |    max(pos + $SubstrL) OVER (PARTITION BY doc_id ORDER BY pos
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
           |  FROM d),
           |isl AS (SELECT doc_id, lo, hi,
           |    CAST(sum(CASE WHEN pm IS NULL OR lo > pm THEN 1 ELSE 0 END)
           |      OVER (PARTITION BY doc_id ORDER BY lo
           |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
           |  FROM i),
           |m AS (SELECT doc_id, island, min(lo) AS lo, max(hi) AS hi
           |  FROM isl GROUP BY 1, 2),
           |pp AS (SELECT doc_id, start, lo - start AS plen FROM (
           |    SELECT doc_id,
           |      coalesce(lag(hi) OVER (PARTITION BY doc_id ORDER BY lo),
           |        CAST(1 AS BIGINT)) AS start, lo
           |    FROM m) b),
           |tp AS (SELECT tl.doc_id, tl.start,
           |    length(dd.text) + 1 - tl.start AS plen
           |  FROM (SELECT doc_id, max(hi) AS start FROM m GROUP BY 1) tl
           |  JOIN documents dd ON dd.doc_id = tl.doc_id),
           |pieces AS (SELECT * FROM pp WHERE plen > 0
           |  UNION ALL SELECT * FROM tp WHERE plen > 0),
           |cuts AS (SELECT p.doc_id,
           |    string_agg(substring(dd.text, CAST(p.start AS INTEGER),
           |      CAST(p.plen AS INTEGER)), '' ORDER BY p.start) AS cut
           |  FROM pieces p JOIN documents dd ON dd.doc_id = p.doc_id
           |  GROUP BY 1),
           |affc AS (SELECT a.doc_id, coalesce(c.cut, '') AS cut
           |  FROM (SELECT DISTINCT doc_id FROM m) a
           |  LEFT JOIN cuts c ON c.doc_id = a.doc_id)
           |SELECT dd.doc_id, CAST(length(dd.text) AS BIGINT) AS n_chars,
           |  CAST(coalesce(length(coalesce(ac.cut, dd.text)), 0)
           |    AS BIGINT) AS n_kept,
           |  coalesce(ac.cut, dd.text) AS text_cut
           |FROM documents dd LEFT JOIN affc ac ON ac.doc_id = dd.doc_id"""
          .stripMargin,

      // non-overlapping occurrence counts via the replace() length trick
      // — exactly the engine's greedy left-to-right contract
      "q193_blocklist_hits" -> BlockPatterns.map { p =>
        s"""SELECT '$p' AS pattern,
           |  CAST(sum((length(text) - length(replace(text, '$p', '')))
           |    // length('$p')) AS BIGINT) AS n_occurrences,
           |  CAST(sum(CASE WHEN position('$p' IN text) > 0 THEN 1 ELSE 0
           |    END) AS BIGINT) AS n_docs
           |FROM documents""".stripMargin
      }.mkString("\n", "\nUNION ALL\n", ""),

      "q194_blocklist_docs" -> {
        val occ = BlockPatterns.map(p =>
          s"((length(text) - length(replace(text, '$p', ''))) // length('$p'))")
          .mkString(" + ")
        val np = BlockPatterns.map(p =>
          s"(CASE WHEN position('$p' IN text) > 0 THEN 1 ELSE 0 END)")
          .mkString(" + ")
        s"""SELECT doc_id, CAST($occ AS BIGINT) AS n_hits,
           |  CAST($np AS BIGINT) AS n_patterns
           |FROM documents WHERE ($occ) > 0""".stripMargin
      },

      // RE2 and Java regex agree on these patterns (leftmost-first, no
      // lookaround) — counts on the raw dirty text, per kind
      "q195_pii_scan" -> {
        val counts = functions.TextFunctions.PiiPatterns.map {
          case (kind, p) =>
            s"CAST(len(regexp_extract_all(text, '$p')) AS BIGINT) AS n_$kind"
        }.mkString(",\n  ")
        s"""WITH $PiiDirtySql
           |SELECT doc_id,
           |  $counts,
           |  CAST(len(regexp_extract_all(text,
           |      '${functions.TextFunctions.PiiPatterns(0)._2}'))
           |    + len(regexp_extract_all(text,
           |      '${functions.TextFunctions.PiiPatterns(1)._2}'))
           |    + len(regexp_extract_all(text,
           |      '${functions.TextFunctions.PiiPatterns(2)._2}'))
           |    AS BIGINT) AS n_total
           |FROM dirty""".stripMargin
      },

      "q196_pii_redact" -> {
        val red = functions.TextFunctions.PiiPatterns.foldLeft("text") {
          case (acc, (kind, p)) =>
            s"regexp_replace($acc, '$p', '<${kind.toUpperCase}>', 'g')"
        }
        s"""WITH $PiiDirtySql
           |SELECT doc_id, CAST(length($red) AS BIGINT) AS red_len,
           |  md5($red) AS red_md5
           |FROM dirty""".stripMargin
      },

      // Stupid Backoff: every S is exact-long ratios times IEEE-exact
      // alpha powers (CAST(0.4 AS DOUBLE) squared multiplies bit-
      // identically to the engine's lit(0.4*0.4)); fold order of the
      // per-doc mean is absorbed by round(6), the q74 discipline
      "q197_lm_backoff" ->
        """WITH tr AS (SELECT text FROM documents WHERE lang = 'en'),
          |tw AS (SELECT unnest(string_split(text, ' ')) AS w FROM tr),
          |c1 AS (SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM tw
          |       GROUP BY w),
          |nn AS (SELECT CAST(sum(c1) AS BIGINT) AS n FROM c1),
          |bi AS (SELECT unnest(list_transform(range(len(ws) - 1),
          |         i -> ws[i+1] || ' ' || ws[i+2])) AS bg
          |       FROM (SELECT string_split(text, ' ') AS ws FROM tr)),
          |c2 AS (SELECT bg, CAST(count(*) AS BIGINT) AS c2 FROM bi
          |       GROUP BY bg),
          |ti AS (SELECT unnest(list_transform(range(len(ws) - 2),
          |         i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]))
          |         AS tg
          |       FROM (SELECT string_split(text, ' ') AS ws FROM tr)),
          |c3 AS (SELECT tg, CAST(count(*) AS BIGINT) AS c3 FROM ti
          |       GROUP BY tg),
          |occ AS (SELECT doc_id,
          |          unnest(list_transform(range(len(ws) - 2),
          |            i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]))
          |            AS tg
          |        FROM (SELECT doc_id, string_split(text, ' ') AS ws
          |              FROM documents)),
          |sp AS (SELECT doc_id, tg, string_split(tg, ' ') AS p FROM occ),
          |j AS (SELECT sp.doc_id, c3.c3, c2a.c2 AS c2_12,
          |        c2b.c2 AS c2_23, c1a.c1 AS c1_2, c1b.c1 AS c1_3, nn.n
          |      FROM sp
          |      LEFT JOIN c3 ON sp.tg = c3.tg
          |      LEFT JOIN c2 c2a ON c2a.bg = p[1] || ' ' || p[2]
          |      LEFT JOIN c2 c2b ON c2b.bg = p[2] || ' ' || p[3]
          |      LEFT JOIN c1 c1a ON c1a.w = p[2]
          |      LEFT JOIN c1 c1b ON c1b.w = p[3], nn)
          |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
          |  round(avg(log2(CASE
          |    WHEN c3 IS NOT NULL
          |      THEN CAST(c3 AS DOUBLE) / CAST(c2_12 AS DOUBLE)
          |    WHEN c2_23 IS NOT NULL
          |      THEN CAST(0.4 AS DOUBLE)
          |        * (CAST(c2_23 AS DOUBLE) / CAST(c1_2 AS DOUBLE))
          |    ELSE (CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE))
          |      * (CAST(coalesce(c1_3, 1) AS DOUBLE) / CAST(n AS DOUBLE))
          |    END)), 6) AS sb_score
          |FROM j GROUP BY doc_id""".stripMargin,

      // A-ES weighted reservoir: identical doubles on both sides —
      // exact 52-bit uniform, round(ln,9), then one IEEE division
      "q198_weighted_sample" ->
        """SELECT lang, doc_id FROM (
          |  SELECT lang, doc_id,
          |    row_number() OVER (PARTITION BY lang ORDER BY
          |      -(round(ln((CAST(CAST('0x' ||
          |            substr(md5(CAST(doc_id AS VARCHAR) || ':w1'), 1, 13)
          |          AS BIGINT) AS DOUBLE) + 0.5) / 4503599627370496.0),
          |          9)
          |        / CAST(n_chars AS DOUBLE)), doc_id) AS rn
          |  FROM documents) r
          |WHERE rn <= 10""".stripMargin,

      "q199_count_of_counts" ->
        """WITH wc AS (SELECT w, count(*) AS c FROM (
          |    SELECT unnest(list_transform(range(len(ws) - 2),
          |      i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS w
          |    FROM (SELECT string_split(text, ' ') AS ws
          |          FROM documents) d) t GROUP BY w),
          |nr AS (SELECT c AS r, CAST(count(*) AS BIGINT) AS n_r
          |       FROM wc GROUP BY c)
          |SELECT a.r, a.n_r,
          |  round((a.r + 1) * CAST(b.n_r AS DOUBLE)
          |    / CAST(a.n_r AS DOUBLE), 6) AS r_star
          |FROM nr a LEFT JOIN nr b ON b.r = a.r + 1
          |WHERE a.r <= 10""".stripMargin,

      "q200_pca_cov" -> pcaCovOracle,

      // exact-integer window/phase/global sums; each output closes in
      // the same fixed-order double expression as the engine
      "q201_seasonal" ->
        """WITH daily AS (
          |  SELECT event_type, epoch_ms(ts) // 86400000 AS day,
          |    CAST(sum(round(value * 100)) AS BIGINT) AS cents
          |  FROM events GROUP BY 1, 2),
          |tr AS (
          |  SELECT event_type, day, cents,
          |    CAST(sum(cents) OVER w AS BIGINT) AS s,
          |    count(*) OVER w AS n
          |  FROM daily
          |  WINDOW w AS (PARTITION BY event_type ORDER BY day
          |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
          |tw AS (SELECT *, cents * 7 - s AS num, day % 7 AS phase
          |       FROM tr WHERE n = 7),
          |ph AS (SELECT event_type, phase,
          |    CAST(sum(num) AS BIGINT) AS pnum,
          |    CAST(count(*) AS BIGINT) AS pn
          |  FROM tw GROUP BY 1, 2),
          |gl AS (SELECT event_type,
          |    CAST(sum(num) AS BIGINT) AS gnum,
          |    CAST(count(*) AS BIGINT) AS gn
          |  FROM tw GROUP BY 1)
          |SELECT t.event_type, t.day, t.cents AS val_int,
          |  round(CAST(t.s AS DOUBLE) / 7, 6) AS trend,
          |  round(CAST(p.pnum AS DOUBLE) / CAST(p.pn * 7 AS DOUBLE)
          |    - CAST(g.gnum AS DOUBLE) / CAST(g.gn * 7 AS DOUBLE), 6)
          |    AS seasonal,
          |  round(CAST(t.num AS DOUBLE) / 7
          |    - (CAST(p.pnum AS DOUBLE) / CAST(p.pn * 7 AS DOUBLE)
          |       - CAST(g.gnum AS DOUBLE) / CAST(g.gn * 7 AS DOUBLE)), 6)
          |    AS remainder
          |FROM tw t
          |JOIN ph p ON p.event_type = t.event_type AND p.phase = t.phase
          |JOIN gl g ON g.event_type = t.event_type""".stripMargin,

      "q202_logistic_quality" -> logisticOracle,

      // Kneser–Ney: one bigram-type table sources every count; the
      // two-term sum's operation order mirrors the engine verbatim
      "q203_kneser_ney" ->
        """WITH tr AS (SELECT text FROM documents WHERE lang = 'en'),
          |bi AS (SELECT unnest(list_transform(range(len(ws) - 1),
          |         i -> ws[i+1] || ' ' || ws[i+2])) AS bg
          |       FROM (SELECT string_split(text, ' ') AS ws FROM tr)),
          |ty AS (SELECT bg, CAST(count(*) AS BIGINT) AS c2,
          |         string_split(bg, ' ') AS p
          |       FROM bi GROUP BY bg),
          |ctx AS (SELECT p[1] AS w1, CAST(sum(c2) AS BIGINT) AS c1ctx,
          |          CAST(count(*) AS BIGINT) AS n1f
          |        FROM ty GROUP BY p[1]),
          |cont AS (SELECT p[2] AS w2, CAST(count(*) AS BIGINT) AS n1b
          |         FROM ty GROUP BY p[2]),
          |nbb AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM ty),
          |occ AS (SELECT doc_id,
          |          unnest(list_transform(range(len(ws) - 1),
          |            i -> ws[i+1] || ' ' || ws[i+2])) AS bg
          |        FROM (SELECT doc_id, string_split(text, ' ') AS ws
          |              FROM documents)),
          |sp AS (SELECT doc_id, bg, string_split(bg, ' ') AS q
          |       FROM occ),
          |j AS (SELECT sp.doc_id, ty.c2, ctx.c1ctx, ctx.n1f,
          |        cont.n1b, nbb.nb
          |      FROM sp
          |      LEFT JOIN ty ON sp.bg = ty.bg
          |      LEFT JOIN ctx ON ctx.w1 = q[1]
          |      LEFT JOIN cont ON cont.w2 = q[2], nbb)
          |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
          |  round(avg(log2(CASE WHEN c1ctx IS NOT NULL THEN
          |      (CASE WHEN c2 IS NOT NULL
          |        THEN (CAST(c2 AS DOUBLE) - 0.75)
          |          / CAST(c1ctx AS DOUBLE)
          |        ELSE 0.0 END)
          |      + ((0.75 * CAST(n1f AS DOUBLE))
          |          / CAST(c1ctx AS DOUBLE))
          |        * (CAST(coalesce(n1b, 1) AS DOUBLE)
          |          / CAST(nb AS DOUBLE))
          |    ELSE CAST(coalesce(n1b, 1) AS DOUBLE)
          |      / CAST(nb AS DOUBLE) END)), 6) AS kn_score
          |FROM j GROUP BY doc_id""".stripMargin,

      // int8 quantization: the half-up rule is DEFINED as floor(x+0.5)
      // (identical doubles -> identical floors; engine round() at the
      // half boundary never enters); all sums are exact integers
      "q204_int8_quant" ->
        """WITH e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v
          |           FROM embeddings
          |           WHERE len(embedding) > 0
          |             AND len(list_filter(embedding, x -> x IS NULL)) = 0),
          |a AS (SELECT vec_id, max(abs(v)) AS amax FROM e GROUP BY vec_id),
          |j AS (SELECT e.vec_id, v, amax,
          |        CASE WHEN amax = 0 THEN 0
          |        ELSE least(greatest(
          |          CAST(floor(v / (amax / 127.0) + 0.5) AS BIGINT),
          |          -127), 127) END AS qi
          |      FROM e JOIN a USING (vec_id))
          |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_dims,
          |  CAST(sum(qi) AS BIGINT) AS sum_q,
          |  CAST(sum(abs(qi)) AS BIGINT) AS sum_absq,
          |  CAST(sum(CASE WHEN amax = 0 THEN 0 ELSE
          |    CAST(floor((v - qi * (amax / 127.0))
          |      * (v - qi * (amax / 127.0))
          |      * 1000000000000.0 + 0.5) AS BIGINT) END) AS BIGINT)
          |    AS err_q12
          |FROM j GROUP BY vec_id""".stripMargin,

      // AP: (score DESC, vec_id) is a total order, so row_number and
      // the running positive count are engine-identical; each
      // precision@k term rounds at 9 then decimal-sums exactly
      "q205_avg_precision" ->
        """WITH e AS (SELECT vec_id % 4 AS qbucket,
          |    CASE WHEN label = 0 THEN 1 ELSE 0 END AS y,
          |    CAST(round(CAST(embedding[1] AS DOUBLE) * 10000) AS BIGINT)
          |      AS s,
          |    vec_id AS t
          |  FROM embeddings),
          |r AS (SELECT qbucket, y,
          |    row_number() OVER (PARTITION BY qbucket
          |      ORDER BY s DESC, t) AS k,
          |    sum(y) OVER (PARTITION BY qbucket
          |      ORDER BY s DESC, t) AS cp
          |  FROM e)
          |SELECT qbucket, CAST(sum(y) AS BIGINT) AS n_pos,
          |  CAST(count(*) AS BIGINT) AS n_rows,
          |  CASE WHEN sum(y) > 0 THEN
          |    round(CAST(sum(CASE WHEN y = 1 THEN
          |        CAST(round(CAST(cp AS DOUBLE) / CAST(k AS DOUBLE), 9)
          |          AS DECIMAL(38,9))
          |      ELSE CAST(0.0 AS DECIMAL(38,9)) END) AS DOUBLE)
          |      / CAST(sum(y) AS DOUBLE), 6)
          |  END AS ap
          |FROM r GROUP BY qbucket""".stripMargin,

      "q206_mmr_rerank" -> mmrOracle,

      // Holt: the recursive CTE replays the fold operation-for-
      // operation (l_new recomputed inline in the trend row is the
      // identical double) — raw values match, round(6) is display
      "q209_holt" ->
        """WITH RECURSIVE daily AS (
          |  SELECT event_type, epoch_ms(ts) // 86400000 AS day,
          |    CAST(sum(round(value * 100)) AS BIGINT) AS cents
          |  FROM events GROUP BY 1, 2),
          |s AS (SELECT event_type, day, cents,
          |    row_number() OVER (PARTITION BY event_type
          |      ORDER BY day) AS rn
          |  FROM daily),
          |r AS (
          |  SELECT event_type, day, cents, rn,
          |    CAST(cents AS DOUBLE) AS l, CAST(0 AS DOUBLE) AS b
          |  FROM s WHERE rn = 1
          |  UNION ALL
          |  SELECT s.event_type, s.day, s.cents, s.rn,
          |    0.5 * CAST(s.cents AS DOUBLE) + 0.5 * (r.l + r.b),
          |    0.25 * ((0.5 * CAST(s.cents AS DOUBLE)
          |        + 0.5 * (r.l + r.b)) - r.l)
          |      + 0.75 * r.b
          |  FROM s JOIN r ON s.event_type = r.event_type
          |    AND s.rn = r.rn + 1)
          |SELECT event_type, day, cents AS x,
          |  round(l, 6) AS level, round(b, 6) AS trend
          |FROM r""".stripMargin,

      // RBO: the depth weights are the ENGINE's own literals
      // (Stats.rboWeights, round(9)) printed into the SQL, so both
      // engines sum identical decimals
      "q208_rbo" -> {
        val w = operators.Stats.rboWeights(10, 0.875)
          .mkString("[", ", ", "]")
        s"""WITH e AS (SELECT vec_id % 4 AS g, vec_id AS item,
           |    CAST(round(CAST(embedding[1] AS DOUBLE) * 10000) AS BIGINT)
           |      AS s1,
           |    CAST(round(CAST(embedding[2] AS DOUBLE) * 10000) AS BIGINT)
           |      AS s2
           |  FROM embeddings),
           |ra AS (SELECT g, item, row_number() OVER (PARTITION BY g
           |    ORDER BY s1 DESC, item) AS ra FROM e),
           |rb AS (SELECT g, item, row_number() OVER (PARTITION BY g
           |    ORDER BY s2 DESC, item) AS rb FROM e),
           |m AS (SELECT ra.g,
           |    ($w)[greatest(ra.ra, rb.rb)] AS wm
           |  FROM ra JOIN rb ON ra.g = rb.g AND ra.item = rb.item
           |  WHERE ra.ra <= 10 AND rb.rb <= 10),
           |s AS (SELECT g, sum(CAST(wm AS DECIMAL(38,9))) AS sm
           |  FROM m GROUP BY g)
           |SELECT gg.g, round(0.125 * coalesce(CAST(sm AS DOUBLE), 0.0), 6)
           |    AS rbo
           |FROM (SELECT DISTINCT g FROM e) gg
           |LEFT JOIN s ON s.g = gg.g""".stripMargin
      },

      // nDCG: both rankings from one scan; per-term round(9) absorbs
      // the libm log2 ulp, sums are exact decimals. NULL relevance is
      // excluded like NULL score (Stats.ndcg's documented rule — a
      // NULL grade must not consume a rank position)
      "q207_ndcg" ->
        """WITH e AS (SELECT vec_id % 4 AS qbucket,
          |    CAST(least(label, 3) AS BIGINT) AS r,
          |    CAST(round(CAST(embedding[1] AS DOUBLE) * 10000) AS BIGINT)
          |      AS s,
          |    vec_id AS t
          |  FROM embeddings
          |  WHERE label IS NOT NULL),
          |k AS (SELECT qbucket, (1::BIGINT << r) - 1 AS gain,
          |    row_number() OVER (PARTITION BY qbucket
          |      ORDER BY s DESC, t) AS kd,
          |    row_number() OVER (PARTITION BY qbucket
          |      ORDER BY r DESC, t) AS ki
          |  FROM e),
          |a AS (SELECT qbucket, CAST(count(*) AS BIGINT) AS n_rows,
          |    sum(CAST(round(CAST(gain AS DOUBLE)
          |      / log2(CAST(kd AS DOUBLE) + 1.0), 9)
          |      AS DECIMAL(38,9))) AS dcg,
          |    sum(CAST(round(CAST(gain AS DOUBLE)
          |      / log2(CAST(ki AS DOUBLE) + 1.0), 9)
          |      AS DECIMAL(38,9))) AS idcg
          |  FROM k GROUP BY qbucket)
          |SELECT qbucket, n_rows,
          |  CASE WHEN idcg > 0 THEN
          |    round(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE), 6)
          |  END AS ndcg
          |FROM a""".stripMargin)
  }

  /** q44's oracle (recursive-CTE connected components over the naive
    * jaccard pairs) — also the inner subquery of q216's size
    * histogram, so the two stay textually in sync. */
  private def dupGroupsOracle: String =
    s"""WITH RECURSIVE jac AS (
       |$jaccardOracle
       |),
       |edges AS (
       |  SELECT a_id AS src, b_id AS dst FROM jac
       |  UNION ALL SELECT b_id, a_id FROM jac
       |),
       |reach(id, r) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT e.dst, r.r FROM reach r JOIN edges e ON e.src = r.id
       |),
       |comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id)
       |SELECT d.doc_id,
       |  COALESCE(c.comp, d.doc_id) AS canonical_id,
       |  COALESCE(c.comp, d.doc_id) = d.doc_id AS is_survivor
       |FROM documents d LEFT JOIN comp c ON c.id = d.doc_id""".stripMargin

  /** q222's oracle: q44's recursive-CTE dup-group closure, then q39's
    * md5 bucket arithmetic keyed on the CANONICAL id. `docSrc` is the
    * doc source (q232 passes the post-retraction survivors — the
    * retraction fold must land exactly where a from-scratch build over
    * the surviving corpus lands). */
  private def leakageSafeSplitOracleFrom(docSrc: String): String =
    s"""WITH RECURSIVE jac AS (
       |${jaccardOracleFrom(docSrc)}
       |),
       |edges AS (
       |  SELECT a_id AS src, b_id AS dst FROM jac
       |  UNION ALL SELECT b_id, a_id FROM jac
       |),
       |reach(id, r) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT e.dst, r.r FROM reach r JOIN edges e ON e.src = r.id
       |),
       |comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
       |keyed AS (SELECT d.doc_id,
       |    COALESCE(c.comp, d.doc_id) AS canonical_id
       |  FROM $docSrc d LEFT JOIN comp c ON c.id = d.doc_id)
       |SELECT doc_id, canonical_id, bucket,
       |  CASE WHEN bucket < 9000 THEN 'train'
       |       WHEN bucket < 9500 THEN 'val' ELSE 'test' END AS split
       |FROM (SELECT doc_id, canonical_id,
       |        CAST('0x' || substr(md5(CAST(canonical_id AS VARCHAR)
       |          || ':s42'), 1, 15) AS BIGINT) % 10000 AS bucket
       |      FROM keyed) b""".stripMargin

  private def leakageSafeSplitOracle: String =
    leakageSafeSplitOracleFrom("documents")

  /** q147's oracle (nearest-centroid confusion matrix) — also the inner
    * subquery of q210's F1 report, so the two stay textually in sync. */
  private def centroidConfusionOracle: String =
    """WITH pe AS MATERIALIZED (SELECT vec_id AS id, label,
      |    CAST(i AS INTEGER) AS pos,
      |    CAST(round(CAST(embedding[i+1] AS DOUBLE) * 1000000)
      |      AS BIGINT) AS vq
      |  FROM embeddings, unnest(range(len(embedding))) AS r(i)),
      |cents AS (SELECT label AS clabel, pos,
      |    CAST(sum(vq) AS DOUBLE)
      |      / (CAST(count(*) AS DOUBLE) * 1000000.0) AS c
      |  FROM pe GROUP BY 1, 2),
      |d2 AS (SELECT pe.id, pe.label, c.clabel,
      |    round(CAST(sum(CAST(round(
      |        (CAST(pe.vq AS DOUBLE) / 1000000.0 - c.c)
      |        * (CAST(pe.vq AS DOUBLE) / 1000000.0 - c.c)
      |        * 1000000000000.0) AS BIGINT))
      |      AS DOUBLE) / 1000000000000.0, 6) AS d2
      |  FROM pe JOIN cents c USING (pos) GROUP BY 1, 2, 3),
      |best AS (SELECT id, label, clabel AS pred,
      |    row_number() OVER (PARTITION BY id ORDER BY d2, clabel)
      |      AS rn FROM d2)
      |SELECT label, pred, CAST(count(*) AS BIGINT) AS n
      |FROM best WHERE rn = 1 GROUP BY 1, 2""".stripMargin

  /** q206's oracle: the k=3 MMR greedy loop unrolled — one (remaining,
    * pairwise-max-sim, argmax) CTE triple per round. rel/sim are
    * round(6)+0.0 canonicalized cosines; the shortlist ranks on the RAW
    * cosine with b_id ties exactly like the engine's bounded heap. */
  private def mmrOracle: String = {
    def dot(x: String, y: String) =
      s"list_sum(list_transform(list_zip($x.embedding, $y.embedding), " +
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    def cosRaw(x: String, y: String) =
      s"${dot(x, y)} / sqrt(${dot(x, x)} * ${dot(y, y)})"
    def cos6(x: String, y: String) = s"round(${cosRaw(x, y)}, 6) + 0.0"
    // one refinement round: remaining shortlist -> max sim against the
    // selected-so-far union -> per-query argmax of the MMR score
    def round_(t: Int, selUnion: String): String =
      s"""rem$t AS (SELECT sl.* FROM sl WHERE NOT EXISTS (
         |  SELECT 1 FROM $selUnion s WHERE s.a_id = sl.a_id
         |    AND s.sel_id = sl.b_id)),
         |p$t AS (SELECT r.a_id, r.b_id, r.rel,
         |    max(${cos6("bc", "bs")}) AS maxsim
         |  FROM rem$t r
         |  JOIN $selUnion s ON s.a_id = r.a_id
         |  JOIN b bc ON bc.vec_id = r.b_id
         |  JOIN b bs ON bs.vec_id = s.sel_id
         |  GROUP BY r.a_id, r.b_id, r.rel),
         |s$t AS (SELECT a_id, b_id AS sel_id FROM (
         |  SELECT a_id, b_id, row_number() OVER (PARTITION BY a_id
         |    ORDER BY 0.5 * rel - 0.5 * maxsim DESC, b_id) AS rr
         |  FROM p$t) z WHERE rr = 1)""".stripMargin
    s"""WITH b AS (SELECT vec_id, embedding FROM embeddings),
       |q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 50),
       |cand AS (SELECT q.vec_id AS a_id, b.vec_id AS b_id,
       |    ${cos6("q", "b")} AS rel,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${cosRaw("q", "b")} DESC, b.vec_id) AS rn
       |  FROM q JOIN b ON q.vec_id != b.vec_id),
       |sl AS (SELECT a_id, b_id, rel FROM cand WHERE rn <= 10),
       |s1 AS (SELECT a_id, b_id AS sel_id FROM (
       |  SELECT a_id, b_id, row_number() OVER (PARTITION BY a_id
       |    ORDER BY rel DESC, b_id) AS rr FROM sl) z WHERE rr = 1),
       |${round_(2, "s1")},
       |s12 AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2),
       |${round_(3, "s12")}
       |SELECT a_id, CAST(1 AS INTEGER) AS step, sel_id FROM s1
       |UNION ALL
       |SELECT a_id, CAST(2 AS INTEGER) AS step, sel_id FROM s2
       |UNION ALL
       |SELECT a_id, CAST(3 AS INTEGER) AS step, sel_id FROM s3""".stripMargin
  }

  /** q202's oracle: the batch-GD loop unrolled — one (gradient CTE,
    * weight CTE) pair per iteration. Gradient terms round to 9 decimals
    * and sum as DECIMAL(38,9) (exact, order-free — the q139
    * discipline); every weight update and the final σ are the same
    * fixed-order IEEE doubles the engine computes, so weights and
    * probabilities match digit-for-digit. */
  private def logisticOracle: String = {
    val iters = 3
    val lr = "2.0"
    // identical left-assoc fold to Logistic.sigmoid
    val z = "w0 + x1*w1 + x2*w2 + x3*w3"
    val sig = s"1.0/(1.0+exp(-($z)))"
    val stages = (1 to iters).map { k =>
      val prev = if (k == 1) "wi" else s"w${k - 1}"
      val terms = Seq("", "*x1", "*x2", "*x3").zipWithIndex.map {
        case (m, j) =>
          s"sum(CAST(round(($sig - y)$m, 9) AS DECIMAL(38,9))) AS g$j"
      }
      val upd = (0 to 3).map(j =>
        s"w$j - $lr*(CAST(g$j AS DOUBLE)/CAST(n AS DOUBLE)) AS w$j")
      s"""g$k AS (SELECT ${terms.mkString(",\n    ")},
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM f CROSS JOIN $prev),
         |w$k AS (SELECT ${upd.mkString(",\n    ")}
         |  FROM g$k CROSS JOIN $prev)""".stripMargin
    }
    s"""WITH f AS (SELECT doc_id,
       |    CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS INT) AS y,
       |    length(text)/1000.0 AS x1,
       |    CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE)
       |      / CAST(length(text) AS DOUBLE) AS x2,
       |    CAST(length(text) - length(replace(text, 'e', '')) AS DOUBLE)
       |      / CAST(length(text) AS DOUBLE) AS x3
       |  FROM documents WHERE length(text) > 0),
       |wi AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3),
       |${stages.mkString(",\n")}
       |SELECT doc_id, y, round($sig, 6) AS prob
       |FROM f CROSS JOIN w$iters""".stripMargin
  }

  private def oracleSqlBase: Map[String, String] = Map(
    "q1_bbox" ->
      """SELECT CAST(pos AS INTEGER) AS dim, min(CAST(v AS DOUBLE)) AS mn,
        |       max(CAST(v AS DOUBLE)) AS mx
        |FROM (SELECT generate_subscripts(embedding, 1) AS pos,
        |             unnest(embedding) AS v FROM embeddings) u
        |GROUP BY dim""".stripMargin,

    "q2_median" ->
      """SELECT CAST(pos AS INTEGER) AS dim,
        |       round(median(CAST(v AS DOUBLE)), 6) AS med
        |FROM (SELECT generate_subscripts(embedding, 1) AS pos,
        |             unnest(embedding) AS v FROM embeddings) u
        |GROUP BY dim""".stripMargin,

    "q3_neighbor_count" ->
      s"""SELECT a.vec_id, CAST(count(b.vec_id) + 1 AS BIGINT) AS n_neighbors
         |FROM embeddings a LEFT JOIN embeddings b
         |  ON a.vec_id != b.vec_id AND ${d2Sql("a", "b")} <= $Eps*$Eps
         |GROUP BY a.vec_id""".stripMargin,

    "q4_core_points" ->
      s"""SELECT a.vec_id
         |FROM embeddings a JOIN embeddings b
         |  ON a.vec_id != b.vec_id AND ${d2Sql("a", "b")} <= $Eps*$Eps
         |GROUP BY a.vec_id HAVING count(*) + 1 >= $MinPts""".stripMargin,

    "q5_knn" ->
      s"""SELECT vec_id, nbr_id, CAST(rnk AS INTEGER) AS rnk FROM (
         |  SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id,
         |         row_number() OVER (PARTITION BY a.vec_id
         |                            ORDER BY ${d2Sql("a", "b")}, b.vec_id) AS rnk
         |  FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id) r
         |WHERE rnk <= 5""".stripMargin,

    "q8_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  sum(round(l_extendedprice * 100)) / 100.0 AS sum_base_price,
        |  sum(round(l_extendedprice * (1.0 - l_discount) * 10000)) / 10000.0 AS sum_disc_price,
        |  CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q6_dbscan" -> dbscanOracle,

    // forced-distributed twins: identical semantics, identical oracle —
    // the twin entries exist so the DISTRIBUTED branch of each
    // size-dispatched operator gets its own hash-match row
    "q6d_dbscan_dist" -> dbscanOracle,
    "q58d_pagerank_dist" -> pagerankOracle,
    "q82d_bpe_dist" -> bpeMergesOracle,
    "q85d_sssp_dist" -> ssspOracle,
    "q95d_kcore_dist" -> kcoreOracle,

    "q188_highdim_eps" ->
      s"""SELECT a.vec_id AS a_id, b.vec_id AS b_id
         |FROM embeddings a JOIN embeddings b
         |  ON a.vec_id != b.vec_id AND ${d2Sql("a", "b")} <= $Eps*$Eps""".stripMargin,

    // the committed parquet twin of fixtures/t4.8k.bin (see the
    // q24 query comment), resolved against the working directory like
    // the query's own read — float32→double casts are exact in both engines
    "q24_binary_scan" ->
      s"""SELECT id, CAST(features[1] AS DOUBLE) AS x,
        |  CAST(features[2] AS DOUBLE) AS y
        |FROM read_parquet('${new java.io.File(
          "fixtures/t4_8k_points.parquet").getAbsolutePath}')""".stripMargin,

    "q7_cluster_stats" ->
      s"""SELECT
         |  CAST(sum(CASE WHEN cluster_id != 0 THEN 1 ELSE 0 END) AS BIGINT) AS points_in_clusters,
         |  CAST(sum(CASE WHEN cluster_id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS noise,
         |  CAST(count(*) AS BIGINT) AS total_points,
         |  CAST(max(cluster_id) AS BIGINT) AS n_clusters
         |FROM (
         |$dbscanOracle
         |) labels""".stripMargin,

    "q22_simhash" -> simhashOracle,
    "q23_ann_ivf" -> ivfOracle,

    // tombstone retraction: same pipeline, serve-side candidates
    // filtered (centroids from the FULL corpus — never retrained)
    "q234_ivf_retraction" -> ivfOracleWith("bi.id % 7 != 0"),

    // insert dual: centroid pipeline trained on the INITIAL corpus
    // only (every 7th vector ingested later), serve over everything
    "q238_ivf_insert" -> ivfOracleWith("TRUE", buildCond = "id % 7 != 0"),

    // append dual of q233: probe batch (% 3 = 2) vs the GROWN store
    // (original % 3 = 0 plus appended % 3 = 1)
    "q239_index_append" -> minhashProbeOracle,
    "q75_ann_pq" -> pqOracle,

    // PQ tombstone: ADC candidates filtered, codebook unchanged
    "q241_pq_retraction" -> pqOracleWith("cd.id % 7 != 0"),

    // PQ insert: codebook trained on the initial generation only
    "q242_pq_insert" -> pqOracleWith("TRUE", buildCond = "id % 7 != 0"),

    // MP4 metadata: the closed-form fixture grammar recomputed in SQL
    // (video track always; audio track on odd ids, no stss ⇒ all sync)
    "q249_mp4_metadata" ->
      s"""WITH m AS (SELECT doc_id AS media_id FROM documents
         |  WHERE doc_id < 120)
         |SELECT media_id, 'isom' AS major_brand,
         |  CAST(1000 + (media_id % 3) * 500 AS BIGINT) AS timescale,
         |  CAST(2000 + (media_id % 7) * 300 AS BIGINT) AS duration_ticks,
         |  CAST(1 AS INTEGER) AS track_id, 'vide' AS handler,
         |  CASE media_id % 3 WHEN 0 THEN 'avc1' WHEN 1 THEN 'hev1'
         |    ELSE 'vp09' END AS codec,
         |  CAST(24 + (media_id % 5) * 6 AS BIGINT) AS n_samples,
         |  CAST((24 + (media_id % 5) * 6 + 3 + media_id % 4 - 1)
         |    // (3 + media_id % 4) AS BIGINT) AS n_keyframes,
         |  CAST(320 + (media_id % 4) * 16 AS INTEGER) AS width,
         |  CAST(240 + (media_id % 3) * 16 AS INTEGER) AS height
         |FROM m
         |UNION ALL
         |SELECT media_id, 'isom',
         |  CAST(1000 + (media_id % 3) * 500 AS BIGINT),
         |  CAST(2000 + (media_id % 7) * 300 AS BIGINT),
         |  CAST(2 AS INTEGER), 'soun', 'mp4a',
         |  CAST(40 + (media_id % 6) * 5 AS BIGINT),
         |  CAST(40 + (media_id % 6) * 5 AS BIGINT),
         |  CAST(0 AS INTEGER), CAST(0 AS INTEGER)
         |FROM m WHERE media_id % 2 = 1""".stripMargin,

    // composed IVF-PQ: coarse training + residual PQ training chained
    "q247_ivfpq" -> ivfPqOracle,
    // composed tombstone: ADC candidates filtered, artifacts unchanged
    "q248_ivfpq_retraction" -> ivfPqOracleWith("cd.id % 7 != 0"),

    // composed insert: both trainings on the initial generation only
    "q255_ivfpq_insert" ->
      ivfPqOracleWith("TRUE", buildCond = "id % 7 != 0"),
    "q28_winnowing" -> winnowingOracle,

    "q9_jaccard_pairs" -> jaccardOracle,
    "q10_minhash_dedup" -> jaccardOracle,

    // the naive Jaccard join restricted to (odd=new, even=store) pairs
    // q105's oracle with the retracted store rows (doc_id % 6 = 0)
    // excluded from the index side
    "q233_index_retraction" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(range(len(ws) - 2),
        |         i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS toks
        |       FROM w)
        |SELECT new_id, idx_id, jac FROM (
        |  SELECT a.doc_id AS new_id, b.doc_id AS idx_id,
        |    CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |      / (len(a.toks) + len(b.toks)
        |         - len(list_intersect(a.toks, b.toks))) AS jac
        |  FROM sh a JOIN sh b
        |    ON a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
        |       AND b.doc_id % 6 != 0) p
        |WHERE jac >= 0.5""".stripMargin,

    "q105_incr_dedup" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(range(len(ws) - 2),
        |         i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS toks
        |       FROM w)
        |SELECT new_id, idx_id, jac FROM (
        |  SELECT a.doc_id AS new_id, b.doc_id AS idx_id,
        |    CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |      / (len(a.toks) + len(b.toks)
        |         - len(list_intersect(a.toks, b.toks))) AS jac
        |  FROM sh a JOIN sh b
        |    ON a.doc_id % 2 = 1 AND b.doc_id % 2 = 0) p
        |WHERE jac >= 0.5""".stripMargin,

    "q11_token_stats" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
        |  round(CAST(list_sum(list_transform(string_split(text, ' '), w -> len(w))) AS DOUBLE)
        |        / len(string_split(text, ' ')), 6) AS avg_token_len
        |FROM documents""".stripMargin,

    "q12_lang_id" -> langIdOracle,

    "q13_quality" ->
      """SELECT doc_id,
        |  CAST(len(text) AS BIGINT) AS n_chars_calc,
        |  CAST(len(ws) AS BIGINT) AS n_tokens,
        |  round(CAST(len(dws) AS DOUBLE) / len(ws), 6) AS distinct_ratio,
        |  round(CAST(len(list_intersect(dws, ['the','of','and','to','in','is','a','for'])) AS DOUBLE)
        |        / len(dws), 6) AS stopword_ratio,
        |  (len(ws) BETWEEN 10 AND 1000 AND CAST(len(dws) AS DOUBLE)/len(ws) >= 0.1) AS quality_ok
        |FROM (SELECT doc_id, text, string_split(text, ' ') AS ws,
        |             list_distinct(string_split(text, ' ')) AS dws
        |      FROM documents) t""".stripMargin,

    "q14_fingerprint" ->
      "SELECT doc_id, md5(text) AS fp FROM documents",

    "q15_dedup_exact" ->
      "SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)",

    "q16_ann_cosine" -> {
      def dot(x: String, y: String) =
        s"list_sum(list_transform(list_zip($x.embedding, $y.embedding), " +
          "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
      s"""SELECT vec_id, nbr_id, CAST(rnk AS INTEGER) AS rnk FROM (
         |  SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY ${dot("a", "b")} / sqrt(${dot("a", "a")} * ${dot("b", "b")}) DESC,
         |               b.vec_id) AS rnk
         |  FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
         |  WHERE a.vec_id < 50) r
         |WHERE rnk <= 5""".stripMargin
    },

    "q17_join_revenue" ->
      """SELECT n_name,
        |  sum(round(l_extendedprice * (1.0 - l_discount) * 10000)) / 10000.0 AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,

    "q18_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    "q19_window_rank" ->
      """SELECT o_custkey, o_orderkey, CAST(rnk AS INTEGER) AS rnk FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders) r
        |WHERE rnk <= 3""".stripMargin,

    "q20_events_hourly" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hr, event_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  sum(round(value * 100)) / 100.0 AS sum_value
        |FROM events GROUP BY hr, event_type""".stripMargin,

    "q21_sessions" ->
      s"""WITH $SessionIvCte
         |SELECT user_id, session_id, n_events, start_ms, end_ms
         |FROM iv""".stripMargin,

    "q27_bpe_tokens" ->
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${TextFunctions.BpePattern}')) AS BIGINT) AS n_bpe_tokens,
         |  CAST(len(list_distinct(regexp_extract_all(text, '${TextFunctions.BpePattern}'))) AS BIGINT) AS n_distinct_bpe
         |FROM documents""".stripMargin,

    "q26_embedding_dedup" -> {
      def dot(x: String, y: String) =
        s"list_sum(list_transform(list_zip($x.embedding, $y.embedding), " +
          "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
      s"""SELECT a_id, b_id, cos FROM (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |    ${dot("a", "b")} / sqrt(${dot("a", "a")} * ${dot("b", "b")}) AS cos
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id) p
         |WHERE cos >= 0.4""".stripMargin
    },

    "q29_asof_join" ->
      """WITH c AS (SELECT event_id, user_id, epoch_ms(ts) AS click_ms
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, epoch_ms(ts) AS purchase_ms, value
        |      FROM events WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, c.click_ms,
        |  COALESCE(p.purchase_ms, -1) AS purchase_ms,
        |  COALESCE(p.value, -1.0) AS purchase_value
        |FROM c ASOF LEFT JOIN p
        |  ON c.user_id = p.user_id AND c.click_ms >= p.purchase_ms""".stripMargin,

    "q30_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |s AS (SELECT doc_id, tok,
        |        round(tf * ln((n.n + 1.0) / (df.df + 1.0)), 6) AS score
        |      FROM tf JOIN df USING (tok) CROSS JOIN n)
        |SELECT doc_id, tok, score, CAST(rn AS INTEGER) AS rnk
        |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
        |        ORDER BY score DESC, tok) AS rn FROM s) r
        |WHERE rn <= 3""".stripMargin,

    "q31_top_ngrams" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |         range(len(ws) - 1), i -> ws[i+1] || ' ' || ws[i+2]))) AS ngram
        |       FROM w)
        |SELECT ngram, CAST(count(*) AS BIGINT) AS df FROM sh
        |GROUP BY ngram ORDER BY df DESC, ngram LIMIT 20""".stripMargin,

    "q32_rollup_pricing" ->
      """SELECT
        |  CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS l_returnflag,
        |  CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    "q33_running_revenue" ->
      """SELECT o_custkey, o_orderkey,
        |  sum(round(o_totalprice * 100)) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderkey ROWS UNBOUNDED PRECEDING) / 100.0
        |    AS running_total
        |FROM orders""".stripMargin,

    "q34_multimodal" ->
      """SELECT doc_id AS media_id,
        |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
        |       WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
        |  CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  CAST(j AS INTEGER) AS pos,
        |  CAST(CAST('0x' || substr(md5(text || ':' || CAST(j AS VARCHAR)), 1, 15)
        |         AS BIGINT) % 1000 / 1000.0 AS REAL) AS f
        |FROM documents, range(8) t(j)""".stripMargin,

    "q25_props_json" ->
      """SELECT event_type,
        |  CAST(count(k) AS BIGINT) AS n_with_k,
        |  CAST(sum(k) AS BIGINT) AS sum_k,
        |  CAST(min(k) AS BIGINT) AS min_k,
        |  CAST(max(k) AS BIGINT) AS max_k
        |FROM (SELECT event_type,
        |        CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |      FROM events) e
        |GROUP BY event_type""".stripMargin,

    "q35_curation" ->
      s"""WITH lang AS (
         |$langIdOracle
         |),
         |feat AS (
         |  SELECT doc_id, md5(text) AS fp,
         |         len(string_split(text, ' ')) AS n_tokens,
         |         len(list_distinct(string_split(text, ' '))) AS n_distinct
         |  FROM documents
         |),
         |kept AS (
         |  SELECT f.doc_id, l.lang_pred,
         |         CAST(f.n_tokens AS BIGINT) AS n_tokens, f.fp
         |  FROM feat f JOIN lang l ON f.doc_id = l.doc_id
         |  WHERE l.lang_pred = 'en'
         |    AND f.n_tokens BETWEEN 10 AND 1000
         |    AND CAST(f.n_distinct AS DOUBLE) / f.n_tokens >= 0.1
         |)
         |SELECT doc_id, lang_pred, n_tokens, fp FROM (
         |  SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
         |  FROM kept) t
         |WHERE rn = 1""".stripMargin,

    "q36_decontaminate" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(range(len(ws) - 3),
        |         i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])) AS toks
        |       FROM w),
        |bench AS (SELECT DISTINCT unnest(toks) AS g FROM sh WHERE doc_id % 10 = 0),
        |tg AS (SELECT doc_id, unnest(toks) AS g FROM sh WHERE doc_id % 10 != 0),
        |hits AS (SELECT tg.doc_id, CAST(count(*) AS BIGINT) AS n_hits
        |         FROM tg JOIN bench USING (g) GROUP BY tg.doc_id)
        |SELECT d.doc_id, COALESCE(h.n_hits, 0) AS n_hits,
        |       COALESCE(h.n_hits, 0) > 0 AS contaminated
        |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        |WHERE d.doc_id % 10 != 0""".stripMargin,

    "q37_redact" -> {
      val inList = RedactList.map(w => s"'$w'").mkString(", ")
      s"""SELECT doc_id,
         |  md5(array_to_string(list_transform(string_split(text, ' '),
         |    w -> CASE WHEN w IN ($inList) THEN '<MASK>' ELSE w END), ' ')) AS red_fp,
         |  CAST(len(list_filter(string_split(text, ' '),
         |    w -> w IN ($inList))) AS BIGINT) AS n_redacted
         |FROM documents""".stripMargin
    },

    "q38_global_index" ->
      """SELECT doc_id, md5(text) AS fp,
        |  CAST(row_number() OVER (ORDER BY md5(text), doc_id) AS BIGINT)
        |    AS row_num
        |FROM documents""".stripMargin,

    "q39_hash_split" ->
      """SELECT doc_id, bucket,
        |  CASE WHEN bucket < 9000 THEN 'train'
        |       WHEN bucket < 9500 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':s42'), 1, 15)
        |          AS BIGINT) % 10000 AS bucket
        |      FROM documents) b""".stripMargin,

    "q40_chunking" -> {
      val (w, s) = (ChunkWindow, ChunkStride)
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |n AS (SELECT doc_id, ws, len(ws) AS n FROM w),
         |c AS (SELECT doc_id, ws,
         |        unnest(range(CASE WHEN n <= $w THEN 1
         |          ELSE CAST(floor(CAST(n - $w + ${s - 1} AS DOUBLE) / $s) AS BIGINT) + 1
         |          END)) AS chunk_id
         |      FROM n)
         |SELECT doc_id, chunk_id,
         |  CAST(len(ws[chunk_id*$s+1 : chunk_id*$s+$w]) AS BIGINT) AS n_chunk_tokens,
         |  md5(array_to_string(ws[chunk_id*$s+1 : chunk_id*$s+$w], ' ')) AS chunk_fp
         |FROM c""".stripMargin
    },

    "q41_seq_pack" ->
      """WITH RECURSIVE d AS (
        |  SELECT lang, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        |  FROM documents),
        |r AS (
        |  SELECT lang, rn, doc_id, n_tokens, n_tokens AS acc,
        |         CAST(0 AS BIGINT) AS seq_id
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.lang, d.rn, d.doc_id, d.n_tokens,
        |    CASE WHEN r.acc + d.n_tokens > 512 THEN d.n_tokens
        |         ELSE r.acc + d.n_tokens END,
        |    CASE WHEN r.acc + d.n_tokens > 512 THEN r.seq_id + 1
        |         ELSE r.seq_id END
        |  FROM r JOIN d ON d.lang = r.lang AND d.rn = r.rn + 1)
        |SELECT lang, doc_id, n_tokens, seq_id FROM r""".stripMargin,

    "q42_cube_pricing" ->
      """SELECT
        |  CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS l_returnflag,
        |  CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,

    "q43_anti_join" ->
      """SELECT c_custkey, c_nationkey FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_totalprice > 300000)""".stripMargin,

    "q44_dup_groups" -> dupGroupsOracle,
    "q222_leakage_safe_split" -> leakageSafeSplitOracle,

    // round-trip identity: the JSONL write/read must reproduce the
    // parquet table byte-for-byte
    "q224_jsonl_roundtrip" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",

    // Zipf fit: ln terms round(9) into DECIMAL(18,9) (products exact at
    // 36,18 under the 38-digit multiply cap), moments decimal-summed,
    // the close a fixed-order double expression — PMI's discipline
    "q226_zipf_fit" ->
      """WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |c AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS cnt
        |  FROM tok GROUP BY 1, 2),
        |r AS (SELECT lang, cnt, row_number() OVER (PARTITION BY lang
        |    ORDER BY cnt DESC, tok) AS rnk FROM c),
        |t AS (SELECT lang,
        |    CAST(round(ln(CAST(rnk AS DOUBLE)), 9) AS DECIMAL(18,9)) AS lx,
        |    CAST(round(ln(CAST(cnt AS DOUBLE)), 9) AS DECIMAL(18,9)) AS ly
        |  FROM r WHERE rnk <= 1000),
        |m AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |    sum(lx) AS sx, sum(ly) AS sy, sum(lx * ly) AS sxy,
        |    sum(lx * lx) AS sxx, sum(ly * ly) AS syy,
        |    min(lx) AS mnx, max(lx) AS mxx,
        |    min(ly) AS mny, max(ly) AS mxy
        |  FROM t GROUP BY 1)
        |SELECT lang, n,
        |  CASE WHEN n >= 2 AND mnx != mxx THEN
        |    round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) END
        |    AS slope,
        |  CASE WHEN n >= 2 AND mnx != mxx THEN
        |    round((CAST(sy AS DOUBLE)
        |        - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |          / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |          * CAST(sx AS DOUBLE))
        |      / CAST(n AS DOUBLE), 6) END AS icept_ln,
        |  CASE WHEN n >= 2 AND mnx != mxx AND mny != mxy THEN
        |    round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) END
        |    AS r2
        |FROM m""".stripMargin,

    // round-trip identity for the WARC framing (plain and gzip)
    "q225_warc_roundtrip" ->
      """SELECT doc_id,
        |  'https://example.org/doc/' || CAST(doc_id AS VARCHAR) AS uri,
        |  text
        |FROM documents""".stripMargin,
    "q227_warcgz_roundtrip" ->
      """SELECT doc_id,
        |  'https://example.org/doc/' || CAST(doc_id AS VARCHAR) AS uri,
        |  text
        |FROM documents""".stripMargin,

    // dup-cluster size histogram: q44's oracle as a subquery, so the
    // component computation stays textually shared
    "q216_dup_sizes" ->
      s"""SELECT sz, CAST(count(*) AS BIGINT) AS n_groups FROM (
         |  SELECT canonical_id, CAST(count(*) AS BIGINT) AS sz
         |  FROM ($dupGroupsOracle) g GROUP BY canonical_id) s
         |GROUP BY sz""".stripMargin,

    "q45_data_mix" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix1'), 1, 15)
        |      AS BIGINT) % 10000 AS bucket
        |  FROM documents) b
        |WHERE bucket < (CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.9
        |                ELSE 1.0 END) * 10000""".stripMargin,

    "q48_corpus_stats" ->
      """SELECT lang,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(count(DISTINCT tok) AS BIGINT) AS vocab
        |FROM (SELECT lang, doc_id, unnest(string_split(text, ' ')) AS tok
        |      FROM documents) t
        |GROUP BY lang""".stripMargin,

    "q47_chunk_pack" -> {
      val (w, st) = (ChunkWindow, ChunkStride)
      s"""WITH RECURSIVE ws AS (
         |  SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
         |n AS (SELECT doc_id, lang, ws, len(ws) AS n FROM ws),
         |c AS (SELECT doc_id, lang, ws,
         |        unnest(range(CASE WHEN n <= $w THEN 1
         |          ELSE CAST(floor(CAST(n - $w + ${st - 1} AS DOUBLE) / $st) AS BIGINT) + 1
         |          END)) AS chunk_id
         |      FROM n),
         |chunks AS (
         |  SELECT lang, doc_id*100 + chunk_id AS chunk_key,
         |    CAST(len(ws[chunk_id*$st+1 : chunk_id*$st+$w]) AS BIGINT) AS n_chunk_tokens
         |  FROM c),
         |d AS (SELECT lang, chunk_key, n_chunk_tokens,
         |        row_number() OVER (PARTITION BY lang ORDER BY chunk_key) AS rn
         |      FROM chunks),
         |r AS (
         |  SELECT lang, rn, chunk_key, n_chunk_tokens, n_chunk_tokens AS acc,
         |         CAST(0 AS BIGINT) AS seq_id
         |  FROM d WHERE rn = 1
         |  UNION ALL
         |  SELECT d.lang, d.rn, d.chunk_key, d.n_chunk_tokens,
         |    CASE WHEN r.acc + d.n_chunk_tokens > 512 THEN d.n_chunk_tokens
         |         ELSE r.acc + d.n_chunk_tokens END,
         |    CASE WHEN r.acc + d.n_chunk_tokens > 512 THEN r.seq_id + 1
         |         ELSE r.seq_id END
         |  FROM r JOIN d ON d.lang = r.lang AND d.rn = r.rn + 1)
         |SELECT lang, chunk_key, n_chunk_tokens, seq_id FROM r""".stripMargin
    },

    "q46_supply_chain" ->
      """SELECT r_name, p_brand,
        |  sum(round(l_extendedprice * (1.0 - l_discount) * 10000)) / 10000.0 AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |JOIN part ON l_partkey = p_partkey
        |GROUP BY r_name, p_brand""".stripMargin,

    // deliberately naive interval theta-join (auditably the definition;
    // DuckDB's IEJoin keeps it tractable) over the q21 session CTE
    "q49_session_overlap" ->
      s"""WITH $SessionIvCte
         |SELECT a.user_id, a.session_id,
         |  CAST(count(b.user_id) AS BIGINT) AS n_concurrent
         |FROM iv a LEFT JOIN iv b
         |  ON a.user_id != b.user_id
         | AND a.start_ms <= b.end_ms AND b.start_ms <= a.end_ms
         |GROUP BY a.user_id, a.session_id""".stripMargin,

    "q50_funnel" ->
      s"""WITH $FunnelCte
        |SELECT f.user_id,
        |  coalesce(v.v_ms, -1) AS view_ms,
        |  coalesce(c.c_ms, -1) AS click_ms,
        |  coalesce(p.p_ms, -1) AS purchase_ms
        |FROM f LEFT JOIN v USING(user_id) LEFT JOIN c USING(user_id)
        |       LEFT JOIN p USING(user_id)""".stripMargin,

    "q51_repetition" ->
      """SELECT doc_id, total_grams, distinct_grams,
        |  round(1.0 - CAST(distinct_grams AS DOUBLE) / total_grams, 6)
        |    AS dup_ratio
        |FROM (
        |  SELECT doc_id,
        |    CAST(len(ws) - 2 AS BIGINT) AS total_grams,
        |    CAST(len(list_distinct(list_transform(range(len(ws) - 2),
        |      i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]))) AS BIGINT)
        |      AS distinct_grams
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) w
        |  WHERE len(ws) >= 3) g""".stripMargin,

    "q52_token_entropy" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |             FROM documents),
        |g AS (SELECT doc_id, w, CAST(count(*) AS DOUBLE) AS cnt
        |      FROM tok GROUP BY doc_id, w)
        |SELECT doc_id,
        |  round(log2(sum(cnt)) - sum(cnt * log2(cnt)) / sum(cnt), 6)
        |    AS token_entropy
        |FROM g GROUP BY doc_id""".stripMargin,

    "q53_cohort_retention" ->
      """WITH e AS (SELECT user_id, event_type,
        |                  epoch_ms(ts) // 86400000 AS day FROM events),
        |c AS (SELECT user_id, min(day) AS cohort_day FROM e
        |      WHERE event_type = 'purchase' GROUP BY user_id)
        |SELECT c.cohort_day, e.day - c.cohort_day AS day_offset,
        |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
        |FROM e JOIN c USING(user_id)
        |WHERE e.day >= c.cohort_day
        |GROUP BY 1, 2""".stripMargin,

    "q54_pivot_monthly" ->
      """SELECT CAST(year(l_shipdate)*100 + month(l_shipdate) AS BIGINT) AS ym,
        |  coalesce(sum(CASE WHEN l_returnflag = 'A'
        |    THEN round(l_extendedprice * 100) END) / 100.0, 0.0) AS rev_a,
        |  coalesce(sum(CASE WHEN l_returnflag = 'N'
        |    THEN round(l_extendedprice * 100) END) / 100.0, 0.0) AS rev_n,
        |  coalesce(sum(CASE WHEN l_returnflag = 'R'
        |    THEN round(l_extendedprice * 100) END) / 100.0, 0.0) AS rev_r
        |FROM lineitem GROUP BY ym""".stripMargin,

    "q55_set_ops" ->
      """(SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        | INTERSECT
        | SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin,

    "q56_sample_k" ->
      """SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
        |                 || ':s1'), 1, 13) AS BIGINT), doc_id) AS rn
        |  FROM documents) r
        |WHERE rn <= 20""".stripMargin,

    "q57_skew_join" ->
      """SELECT c_mktsegment,
        |  sum(round(value * 100)) / 100.0 AS tot_value,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,

    "q58_pagerank" -> pagerankOracle,

    // Portable HLL, replayed from the paper: 60-bit md5 hash → top-12
    // bits bucket, rho over the remaining 48 (length(bin(x)) is the
    // exact integer bit length); registers max-merge source→lang; the
    // harmonic denominator is the EXACT integer Σ 2^(62−reg) with
    // absent buckets as a complement term; the numerator literal is
    // α₄₀₉₆·4096²·2^62 as one IEEE double; linear counting rounds its
    // single ln() to 9 places before an exact decimal multiply
    "q59_hll_vocab" ->
      """WITH tok AS (SELECT lang, source,
        |    unnest(string_split(text, ' ')) AS tok FROM documents),
        |h AS (SELECT lang, source,
        |    CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h FROM tok),
        |reg1 AS (SELECT lang, source, h >> 48 AS bucket,
        |    CASE WHEN (h & 281474976710655) = 0 THEN 49
        |         ELSE 49 - length(bin(h & 281474976710655)) END AS rho
        |  FROM h),
        |regs AS (SELECT lang, source, bucket, CAST(max(rho) AS INT) AS reg
        |  FROM reg1 GROUP BY 1, 2, 3),
        |merged AS (SELECT lang, bucket, max(reg) AS reg
        |  FROM regs GROUP BY 1, 2),
        |agg AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(1::BIGINT << (62 - reg) AS DECIMAL(38,0))) AS s
        |  FROM merged GROUP BY 1)
        |SELECT lang,
        |  CASE WHEN n < 4096 AND
        |      5.57931869232093113e25 /
        |        CAST(CAST(4096 - n AS DECIMAL(6,0)) * 4611686018427387904
        |          + s AS DOUBLE) <= 1.024e4
        |    THEN CAST(round(4096 * CAST(round(
        |        ln(CAST(4096 AS DOUBLE) / CAST(4096 - n AS DOUBLE)), 9)
        |        AS DECIMAL(18,9)), 6) AS DOUBLE)
        |    ELSE round(5.57931869232093113e25 /
        |      CAST(CAST(4096 - n AS DECIMAL(6,0)) * 4611686018427387904
        |        + s AS DOUBLE), 6) END AS vocab_est
        |FROM agg""".stripMargin,

    "q60_triangles" ->
      s"""WITH $SessionIvCte,
         |$OverlapEdgesCte,
         |ce AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |       FROM edges),
         |tri AS (
         |  SELECT e1.u AS x, e1.v AS y, e2.v AS z
         |  FROM ce e1 JOIN ce e2 ON e2.u = e1.v
         |  JOIN ce e3 ON e3.u = e1.u AND e3.v = e2.v),
         |pc AS (SELECT id, CAST(count(*) AS BIGINT) AS n_triangles FROM (
         |         SELECT unnest([x, y, z]) AS id FROM tri) t GROUP BY id),
         |nodes AS (SELECT DISTINCT u AS id FROM ce
         |          UNION SELECT DISTINCT v FROM ce)
         |SELECT n.id AS user_id, coalesce(pc.n_triangles, 0) AS n_triangles
         |FROM nodes n LEFT JOIN pc ON pc.id = n.id""".stripMargin,

    "q61_standardize" ->
      """WITH u AS (SELECT vec_id,
        |             CAST(generate_subscripts(embedding, 1) AS INTEGER) AS dim,
        |             CAST(unnest(embedding) AS DOUBLE) AS v
        |           FROM embeddings),
        |st AS (SELECT dim, avg(v) AS mu, stddev_samp(v) AS sd
        |       FROM u GROUP BY dim)
        |SELECT u.vec_id, u.dim, round((u.v - st.mu) / st.sd, 6) AS z
        |FROM u JOIN st USING(dim)""".stripMargin,

    "q62_quality_report" ->
      """SELECT 'not_null(l_orderkey)' AS check_name,
        |  CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS violations FROM lineitem
        |UNION ALL
        |SELECT 'in_range(l_quantity,1.0,45.0)',
        |  CAST(sum(CASE WHEN l_quantity IS NOT NULL
        |    AND (l_quantity < 1.0 OR l_quantity > 45.0)
        |    THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
        |UNION ALL
        |SELECT 'in_range(l_discount,0.0,0.08)',
        |  CAST(sum(CASE WHEN l_discount IS NOT NULL
        |    AND (l_discount < 0.0 OR l_discount > 0.08)
        |    THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
        |UNION ALL
        |SELECT 'satisfies(ships_before_2000)',
        |  CAST(sum(CASE WHEN NOT coalesce(year(l_shipdate) <= 1999, FALSE)
        |    THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
        |UNION ALL
        |SELECT 'unique(l_orderkey,l_linenumber)',
        |  coalesce(CAST(sum(c) AS BIGINT), 0) FROM (
        |    SELECT count(*) AS c FROM lineitem
        |    GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1) g
        |UNION ALL
        |SELECT 'ref(l_orderkey->o_orderkey)',
        |  CAST(count(*) AS BIGINT) FROM lineitem l
        |WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS (
        |  SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)""".stripMargin,

    "q63_histogram" ->
      """SELECT c_mktsegment,
        |  CAST(least(greatest(floor((c_acctbal - (-1000.0)) / 1000.0),
        |    0.0), 10.0) AS INTEGER) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n,
        |  sum(round(c_acctbal * 100)) / 100.0 AS sum_bal
        |FROM customer GROUP BY 1, 2""".stripMargin,

    "q64_reconcile" ->
      """WITH li AS (
        |  SELECT l_orderkey,
        |    sum(round(l_extendedprice * 100)) / 100.0 AS li_revenue
        |  FROM lineitem GROUP BY l_orderkey)
        |SELECT
        |  CASE WHEN o_orderkey IS NOT NULL AND l_orderkey IS NOT NULL
        |         THEN 'matched'
        |       WHEN o_orderkey IS NOT NULL THEN 'order_without_items'
        |       ELSE 'items_without_order' END AS status,
        |  CAST(count(*) AS BIGINT) AS n,
        |  sum(round(coalesce(o_totalprice, 0.0) * 100)) / 100.0
        |    AS sum_order_price,
        |  sum(round(coalesce(li_revenue, 0.0) * 100)) / 100.0
        |    AS sum_item_revenue
        |FROM orders FULL OUTER JOIN li ON o_orderkey = l_orderkey
        |GROUP BY 1""".stripMargin,

    "q65_rfm" ->
      """WITH per AS (
        |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
        |    sum(round(o_totalprice * 100)) / 100.0 AS monetary
        |  FROM orders GROUP BY o_custkey)
        |SELECT c_custkey, c_mktsegment, n_orders, monetary,
        |  CAST(ntile(10) OVER (PARTITION BY c_mktsegment
        |    ORDER BY monetary DESC, c_custkey) AS INTEGER) AS decile
        |FROM customer JOIN per ON c_custkey = o_custkey""".stripMargin,

    "q66_fuzzy_match" ->
      """WITH n AS (SELECT DISTINCT p_name FROM part WHERE p_name IS NOT NULL)
        |SELECT a.p_name AS a_p_name, b.p_name AS b_p_name,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS d
        |FROM n a JOIN n b ON a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 1""".stripMargin,

    "q67_cdc_apply" ->
      """WITH ch AS (
        |  SELECT CASE WHEN l_linenumber % 7 = 0 THEN l_orderkey + 5000000
        |           ELSE l_orderkey END AS o_orderkey,
        |    CAST(l_linenumber AS BIGINT) AS seq,
        |    CASE WHEN l_returnflag = 'R' THEN 'D' ELSE 'U' END AS op,
        |    l_partkey AS o_custkey, l_linestatus AS o_orderstatus,
        |    l_extendedprice AS o_totalprice, l_shipdate AS o_orderdate,
        |    l_returnflag || '-prio' AS o_orderpriority
        |  FROM lineitem),
        |latest AS (
        |  SELECT *, row_number() OVER (PARTITION BY o_orderkey
        |    ORDER BY seq DESC, op DESC, o_custkey DESC, o_orderstatus DESC,
        |      o_totalprice DESC, o_orderdate DESC, o_orderpriority DESC) AS rn
        |  FROM ch)
        |SELECT * FROM orders
        |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM ch)
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderdate, o_orderpriority
        |FROM latest WHERE rn = 1 AND op <> 'D'""".stripMargin,

    "q68_heavy_hitters" ->
      """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT unnest(list_transform(range(len(ws) - 1),
        |        i -> ws[i+1] || ' ' || ws[i+2])) AS gram FROM w),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM g)
        |SELECT gram, CAST(count(*) AS BIGINT) AS cnt
        |FROM g, tot GROUP BY gram, n HAVING count(*) * 800 > n""".stripMargin,

    "q69_bloom_join" ->
      """SELECT l_linestatus,
        |  sum(round(l_extendedprice * (1.0 - l_discount) * 10000)) / 10000.0
        |    AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY l_linestatus""".stripMargin,

    "q70_scd2" ->
      """WITH seq AS (
        |  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
        |    lag(o_orderpriority) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS pv
        |  FROM orders),
        |ch AS (SELECT * FROM seq WHERE pv IS NULL OR pv <> o_orderpriority)
        |SELECT o_custkey, o_orderpriority, o_orderdate AS valid_from,
        |  lead(o_orderdate) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey) AS valid_to,
        |  (lead(o_orderdate) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey) IS NULL) AS is_current
        |FROM ch""".stripMargin,

    "q71_rolling_revenue" ->
      """SELECT o_custkey, o_orderkey,
        |  sum(round(o_totalprice * 100)) OVER (PARTITION BY o_custkey
        |    ORDER BY date_diff('day', DATE '1970-01-01',
        |      CAST(o_orderdate AS DATE))
        |    RANGE BETWEEN 89 PRECEDING AND CURRENT ROW) / 100.0
        |    AS rolling_revenue
        |FROM orders""".stripMargin,

    "q72_forward_fill" ->
      """WITH r AS (
        |  SELECT o_custkey, date_trunc('month', o_orderdate) AS period,
        |    o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey,
        |      date_trunc('month', o_orderdate)
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders),
        |mv AS (SELECT o_custkey, period, o_totalprice FROM r WHERE rn = 1),
        |b AS (SELECT o_custkey, min(period) AS mn, max(period) AS mx
        |      FROM mv GROUP BY o_custkey),
        |spine AS (SELECT o_custkey,
        |    unnest(generate_series(mn, mx, INTERVAL 1 MONTH)) AS period
        |  FROM b)
        |SELECT s.o_custkey, s.period,
        |  last_value(mv.o_totalprice IGNORE NULLS) OVER (
        |    PARTITION BY s.o_custkey ORDER BY s.period)
        |    AS o_totalprice_fill
        |FROM spine s LEFT JOIN mv
        |  ON mv.o_custkey = s.o_custkey AND mv.period = s.period""".stripMargin,

      // vocab coverage: integer conditional sums at fixed cuts; the
      // rank tie order (cnt DESC, tok) matches rowNumbers' sort
      "q215_vocab_coverage" -> {
        val cuts = VocabCuts.map(k =>
          s"CAST(sum(CASE WHEN rnk <= $k THEN cnt ELSE 0 END) " +
            s"AS BIGINT) AS c$k").mkString(",\n    ")
        val rows = VocabCuts.map(k =>
          s"SELECT $k AS k, c$k AS covered, total, " +
            s"round(CAST(c$k AS DOUBLE) / CAST(total AS DOUBLE), 6) " +
            "AS coverage FROM a").mkString("\nUNION ALL\n")
        s"""WITH bg AS (SELECT unnest(list_transform(range(len(ws) - 1),
           |    i -> ws[i+1] || ' ' || ws[i+2])) AS tok
           |  FROM (SELECT string_split(text, ' ') AS ws FROM documents)),
           |c AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM bg
           |      GROUP BY tok),
           |r AS (SELECT cnt,
           |    row_number() OVER (ORDER BY cnt DESC, tok) AS rnk
           |  FROM c),
           |a AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
           |    $cuts
           |  FROM r)
           |$rows""".stripMargin
      },

      // Brier: q202's GD-unroll oracle as subquery; squared residuals
      // round(9) then decimal-sum
      "q219_brier" ->
        s"""SELECT CAST(count(*) AS BIGINT) AS n,
           |  round(CAST(sum(CAST(round(
           |      (prob - CAST(y AS DOUBLE)) * (prob - CAST(y AS DOUBLE)),
           |      9) AS DECIMAL(38,9))) AS DOUBLE)
           |    / CAST(count(*) AS DOUBLE), 6) AS brier
           |FROM ($logisticOracle) t""".stripMargin,

      // image decode: regenerate the closed-form pixel pattern
      // arithmetically (lateral unnest over each image's w×h grid) and
      // aggregate the SAME exact integer stats the engine reads back
      // out of the PNG bytes — all 16 downsample cells are non-empty
      // because the fixture sizes keep w, h >= grid
      "q220_image_stats" ->
        """WITH ids AS MATERIALIZED (SELECT doc_id AS m,
          |    CAST(8 + (doc_id % 5) * 4 AS INTEGER) AS w,
          |    CAST(6 + (doc_id % 3) * 6 AS INTEGER) AS h
          |  FROM documents WHERE doc_id < 200),
          |px AS MATERIALIZED (SELECT m, w, h, ux.x, uy.y,
          |    (m * 31 + ux.x * 7 + uy.y * 13) % 256 AS r,
          |    (m * 17 + ux.x * 3 + uy.y * 5) % 256 AS g,
          |    (m * 29 + ux.x * 11 + uy.y * 2) % 256 AS b
          |  FROM ids, unnest(range(0, w)) ux(x),
          |    unnest(range(0, h)) uy(y)),
          |agg AS (SELECT m, w, h,
          |    CAST(sum(r) AS BIGINT) AS r_sum,
          |    CAST(sum(g) AS BIGINT) AS g_sum,
          |    CAST(sum(b) AS BIGINT) AS b_sum,
          |    CAST(sum(r * r) AS BIGINT) AS r_sq,
          |    CAST(sum(g * g) AS BIGINT) AS g_sq,
          |    CAST(sum(b * b) AS BIGINT) AS b_sq
          |  FROM px GROUP BY 1, 2, 3),
          |cl AS (SELECT m,
          |    CAST((y * 4 // h) * 4 + (x * 4 // w) AS INTEGER) AS cell_idx,
          |    CAST(sum(r + g + b) AS BIGINT) AS cell_sum
          |  FROM px GROUP BY 1, 2)
          |SELECT agg.m AS media_id, agg.w AS width, agg.h AS height,
          |  r_sum, g_sum, b_sum, r_sq, g_sq, b_sq, cell_idx, cell_sum
          |FROM agg JOIN cl ON cl.m = agg.m""".stripMargin,

      // SFT assembly: the same block concat + cumulative-length window
      // in SQL; string_agg(ORDER BY ord) is the transcript, span math
      // is exact integers
      "q254_preference_pairs" ->
        """WITH c AS (SELECT user_id, event_id,
          |    CAST(round(value * 100) AS BIGINT) AS s
          |  FROM events WHERE value IS NOT NULL),
          |bt AS (SELECT user_id, event_id, s FROM (
          |    SELECT user_id, event_id, s, row_number() OVER (
          |      PARTITION BY user_id ORDER BY s DESC, event_id) AS rn
          |    FROM c) WHERE rn <= 3),
          |wb AS (SELECT user_id, event_id, s FROM (
          |    SELECT user_id, event_id, s, row_number() OVER (
          |      PARTITION BY user_id ORDER BY s, event_id) AS rn
          |    FROM c) WHERE rn <= 3)
          |SELECT bt.user_id, bt.event_id AS chosen_id,
          |  wb.event_id AS rejected_id,
          |  CAST(bt.s - wb.s AS BIGINT) AS margin
          |FROM bt JOIN wb ON bt.user_id = wb.user_id
          |WHERE bt.event_id != wb.event_id
          |  AND bt.s - wb.s >= 500""".stripMargin,

      "q230_sft_transcripts" ->
        """WITH t AS (SELECT doc_id % 100 AS conv, doc_id AS ord,
          |    CASE WHEN doc_id % 2 = 0 THEN 'user'
          |         ELSE 'assistant' END AS role,
          |    coalesce(text, '') AS txt
          |  FROM documents),
          |b AS (SELECT *,
          |    '<' || role || '>' || chr(10) || txt || chr(10) AS blk
          |  FROM t),
          |o AS (SELECT *, CAST(sum(len(blk)) OVER (PARTITION BY conv
          |    ORDER BY ord) AS BIGINT) AS end_off FROM b),
          |sp AS (SELECT conv,
          |    end_off - len(blk) + 1 + len(role) + 3 AS span_start,
          |    len(txt) AS span_len
          |  FROM o WHERE role = 'assistant'),
          |tr AS (SELECT conv, CAST(count(*) AS BIGINT) AS n_turns,
          |    string_agg(blk, '' ORDER BY ord) AS transcript
          |  FROM o GROUP BY 1)
          |SELECT sp.conv, tr.n_turns,
          |  CAST(len(tr.transcript) AS BIGINT) AS n_chars,
          |  md5(tr.transcript) AS transcript_md5,
          |  CAST(sp.span_start AS BIGINT) AS span_start,
          |  CAST(sp.span_len AS BIGINT) AS span_len
          |FROM sp JOIN tr USING (conv)""".stripMargin,

      // decremental fold vs a from-scratch run over the survivors
      "q231_decr_dbscan" ->
        dbscanOracleFrom("(SELECT * FROM embeddings WHERE vec_id % 10 != 0)"),

      // save → reload → fold vs the same from-scratch survivor oracle
      "q235_state_reload" ->
        dbscanOracleFrom("(SELECT * FROM embeddings WHERE vec_id % 10 != 0)"),

      // perceptual hashes bit-by-bit from the closed-form rasters
      "q236_image_phash" ->
        s"""$phashOracleCtes,
           |ab AS (SELECT ca.m, ca.k,
           |    CASE WHEN ca.s * tot.tp > tot.ts * ca.c
           |         THEN 1 ELSE 0 END AS a_bit
           |  FROM ca JOIN tot USING (m))
           |SELECT ab.m AS media_id, CAST(ab.k AS INTEGER) AS bit_idx,
           |  CAST(ab.a_bit AS INTEGER) AS a_bit,
           |  CAST(db.d_bit AS INTEGER) AS d_bit
           |FROM ab JOIN db ON db.m = ab.m AND db.k = ab.k""".stripMargin,

      // recursive-CTE connected components over the brute-force
      // Hamming pairs (q44's closure shape on the q237 pair set)
      "q240_image_dupgroups" ->
        s"""${phashOracleCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
           |ham AS (
           |  SELECT a.m AS a_id, b.m AS b_id
           |  FROM db a JOIN db b ON b.k = a.k AND a.m < b.m
           |  GROUP BY 1, 2
           |  HAVING sum(CASE WHEN a.d_bit != b.d_bit THEN 1 ELSE 0 END)
           |    <= 7),
           |edges AS (
           |  SELECT a_id AS src, b_id AS dst FROM ham
           |  UNION ALL SELECT b_id, a_id FROM ham
           |),
           |reach(id, r) AS (
           |  SELECT DISTINCT src, src FROM edges
           |  UNION
           |  SELECT e.dst, r.r FROM reach r JOIN edges e ON e.src = r.id
           |),
           |comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id)
           |SELECT i.m AS media_id,
           |  COALESCE(c.comp, i.m) AS canonical_id,
           |  COALESCE(c.comp, i.m) = i.m AS is_survivor
           |FROM ids i LEFT JOIN comp c ON c.id = i.m""".stripMargin,

      // energy-hash bits from the closed-form PCM samples
      "q245_audio_phash" ->
        s"""$ahashOracleCtes
           |SELECT m AS media_id, CAST(k AS INTEGER) AS bit_idx,
           |  CAST(e_bit AS INTEGER) AS e_bit
           |FROM eb""".stripMargin,

      // banded-join output vs brute-force pairwise Hamming over the
      // same closed-form energy bits
      "q246_audio_neardup" ->
        s"""$ahashOracleCtes
           |SELECT a.m AS a_id, b.m AS b_id,
           |  CAST(sum(CASE WHEN a.e_bit != b.e_bit THEN 1 ELSE 0 END)
           |    AS INTEGER) AS hamming
           |FROM eb a JOIN eb b ON b.k = a.k AND a.m < b.m
           |GROUP BY 1, 2
           |HAVING sum(CASE WHEN a.e_bit != b.e_bit THEN 1 ELSE 0 END)
           |  <= 7""".stripMargin,

      // per-frame hashes bit-by-bit from the closed-form frame rasters
      "q243_video_phash" ->
        s"""$vhashOracleCtes,
           |vab AS (SELECT vca.m, vca.f, vca.k,
           |    CASE WHEN vca.s * vtot.tp > vtot.ts * vca.c
           |         THEN 1 ELSE 0 END AS a_bit
           |  FROM vca JOIN vtot ON vtot.m = vca.m AND vtot.f = vca.f)
           |SELECT vab.m AS media_id, CAST(vab.f AS INTEGER) AS frame_idx,
           |  CAST(vab.k AS INTEGER) AS bit_idx,
           |  CAST(vab.a_bit AS INTEGER) AS a_bit,
           |  CAST(vdb.d_bit AS INTEGER) AS d_bit
           |FROM vab JOIN vdb ON vdb.m = vab.m AND vdb.f = vab.f
           |  AND vdb.k = vab.k""".stripMargin,

      // clip pairs by shared near-identical frames: brute-force
      // per-bit Hamming over cross-clip frame pairs, aggregated to
      // (clip, clip, n_matches) exactly like the engine's banded join
      "q244_video_neardup" ->
        s"""$vhashOracleCtes
           |SELECT a_media, b_media,
           |  CAST(count(*) AS BIGINT) AS n_matches FROM (
           |  SELECT a.m AS a_media, a.f AS af, b.m AS b_media, b.f AS bf
           |  FROM vdb a JOIN vdb b ON b.k = a.k
           |    AND (a.m * 1000 + a.f) < (b.m * 1000 + b.f)
           |  GROUP BY 1, 2, 3, 4
           |  HAVING sum(CASE WHEN a.d_bit != b.d_bit THEN 1 ELSE 0 END)
           |    <= 7) p
           |WHERE a_media != b_media
           |GROUP BY 1, 2""".stripMargin,

      // banded-join output vs brute-force pairwise Hamming over the
      // same closed-form dHash bits (band recall at radius 7 is exact
      // by pigeonhole, so the sets must be identical)
      "q237_image_neardup" ->
        s"""$phashOracleCtes
           |SELECT a.m AS a_id, b.m AS b_id,
           |  CAST(sum(CASE WHEN a.d_bit != b.d_bit THEN 1 ELSE 0 END)
           |    AS INTEGER) AS hamming
           |FROM db a JOIN db b ON b.k = a.k AND a.m < b.m
           |GROUP BY 1, 2
           |HAVING sum(CASE WHEN a.d_bit != b.d_bit THEN 1 ELSE 0 END)
           |  <= 7""".stripMargin,

      // retraction fold vs the full q222 pipeline over the survivors
      "q232_split_retraction" -> leakageSafeSplitOracleFrom(
        "(SELECT * FROM documents WHERE doc_id % 10 != 0)"),

      // CDC: the winnowing oracle's Karp-Rabin gram chain, gated on
      // h % 64 = 0, final cut appended, spans via per-doc lag
      "q229_cdc_chunks" -> {
        val k = 8
        val gram = (1 until k).foldLeft(
          s"CAST(ord(substr(text, CAST(i AS INTEGER)+1, 1)) AS BIGINT)") {
          (acc, j) =>
            s"(($acc) * 131 + ord(substr(text, " +
              s"CAST(i AS INTEGER)+${j + 1}, 1))) % 2147483647"
        }
        s"""WITH b AS (SELECT doc_id, text, len(text) AS n,
           |    list_filter(list_transform(range(len(text) - ${k - 1}),
           |      i -> CASE WHEN ($gram) % 64 = 0 AND i + $k < len(text)
           |           THEN i + $k END), x -> x IS NOT NULL) AS cuts
           |  FROM documents WHERE len(text) >= 1),
           |c AS (SELECT doc_id, text,
           |    unnest(list_append(cuts, n)) AS cut FROM b),
           |s AS (SELECT doc_id, text, cut,
           |    coalesce(lag(cut) OVER (PARTITION BY doc_id ORDER BY cut),
           |      0) + 1 AS start
           |  FROM c)
           |SELECT doc_id, CAST(start AS BIGINT) AS start,
           |  CAST(cut - start + 1 AS BIGINT) AS chunk_len,
           |  md5(substr(text, CAST(start AS INTEGER),
           |    CAST(cut - start + 1 AS INTEGER))) AS chunk_md5
           |FROM s""".stripMargin
      },

      // video decode: regenerate the closed-form grayscale frames
      // (lateral unnest over clip × frame × pixel grids) and aggregate
      // the exact integer stats the engine reads back out of the GIF
      "q228_video_stats" ->
        """WITH ids AS MATERIALIZED (SELECT doc_id AS m,
          |    CAST(8 + (doc_id % 4) * 4 AS INTEGER) AS w,
          |    CAST(6 + (doc_id % 2) * 6 AS INTEGER) AS h,
          |    CAST(3 + (doc_id % 3) AS INTEGER) AS nf
          |  FROM documents WHERE doc_id < 150),
          |px AS MATERIALIZED (SELECT m, w, h, uf.f, ux.x, uy.y,
          |    (m * 31 + uf.f * 17 + ux.x * 7 + uy.y * 13) % 256 AS v
          |  FROM ids, unnest(range(0, nf)) uf(f),
          |    unnest(range(0, w)) ux(x), unnest(range(0, h)) uy(y))
          |SELECT m AS media_id, CAST(f AS INTEGER) AS frame_idx,
          |  w AS width, h AS height,
          |  CAST(sum(v) AS BIGINT) AS v_sum,
          |  CAST(sum(v * v) AS BIGINT) AS v_sq
          |FROM px GROUP BY 1, 2, 3, 4""".stripMargin,

      // audio decode: regenerate the closed-form PCM samples (lateral
      // unnest per clip) and aggregate the SAME exact integer stats the
      // engine reads back out of the WAV bytes; the previous sample is
      // recomputed from the formula, so zero crossings need no window
      "q221_audio_stats" ->
        """WITH ids AS MATERIALIZED (SELECT doc_id AS m,
          |    CAST(500 + (doc_id % 7) * 100 AS BIGINT) AS n,
          |    CAST(8000 + (doc_id % 3) * 4000 AS INTEGER) AS rate
          |  FROM documents WHERE doc_id < 200),
          |sm AS MATERIALIZED (SELECT m, n, rate, u.i,
          |    (m * 37 + u.i * 13) % 4096 - 2048 AS s,
          |    CASE WHEN u.i > 0
          |      THEN (m * 37 + (u.i - 1) * 13) % 4096 - 2048
          |      ELSE 0 END AS sp
          |  FROM ids, unnest(range(0, n)) u(i))
          |SELECT m AS media_id, rate AS sample_rate,
          |  CAST(1 AS INTEGER) AS channels, n AS n_samples,
          |  CAST(sum(s) AS BIGINT) AS s_sum,
          |  CAST(sum(s * s) AS BIGINT) AS s_sq,
          |  CAST(sum(CASE WHEN i > 0 AND ((s >= 0) != (sp >= 0))
          |    THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
          |FROM sm GROUP BY 1, 2, 3, 4""".stripMargin,

      // MCC: the shared confusion subquery again; four exact cells,
      // HUGEINT products, one sqrt + division
      "q218_mcc" ->
        s"""WITH conf AS (SELECT * FROM ($centroidConfusionOracle) c),
           |cells AS (SELECT
           |    CAST(coalesce(sum(CASE WHEN label = 0 AND pred = 0
           |      THEN n END), 0) AS BIGINT) AS tp,
           |    CAST(coalesce(sum(CASE WHEN label != 0 AND pred = 0
           |      THEN n END), 0) AS BIGINT) AS fp,
           |    CAST(coalesce(sum(CASE WHEN label = 0 AND pred != 0
           |      THEN n END), 0) AS BIGINT) AS fn,
           |    CAST(coalesce(sum(CASE WHEN label != 0 AND pred != 0
           |      THEN n END), 0) AS BIGINT) AS tn
           |  FROM conf)
           |SELECT tp, fp, fn, tn,
           |  CASE WHEN CAST(tp + fp AS HUGEINT) * (tp + fn)
           |      * (tn + fp) * (tn + fn) > 0 THEN
           |    round(CAST(CAST(tp AS HUGEINT) * tn
           |        - CAST(fp AS HUGEINT) * fn AS DOUBLE)
           |      / sqrt(CAST(CAST(tp + fp AS HUGEINT) * (tp + fn)
           |        * (tn + fp) * (tn + fn) AS DOUBLE)), 6)
           |  END AS mcc
           |FROM cells""".stripMargin,

      // lift table: explicit rank-bin formula (never ntile — engines
      // would have to agree on remainder spreading); integer counts,
      // two closing ratios
      "q217_lift_table" ->
        """WITH e AS (SELECT
          |    CASE WHEN label = 0 THEN 1 ELSE 0 END AS y,
          |    CAST(round(CAST(embedding[1] AS DOUBLE) * 10000) AS BIGINT)
          |      AS s,
          |    vec_id AS t
          |  FROM embeddings),
          |r AS (SELECT y, row_number() OVER (ORDER BY s DESC, t) AS rnk,
          |    (SELECT count(*) FROM e) AS nn
          |  FROM e),
          |pb AS (SELECT (rnk - 1) * 10 // nn + 1 AS bin,
          |    CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
          |  FROM r GROUP BY 1),
          |tot AS (SELECT CAST(sum(n) AS BIGINT) AS tn,
          |    CAST(sum(pos) AS BIGINT) AS tp FROM pb),
          |c AS (SELECT bin, n, pos,
          |    CAST(sum(pos) OVER (ORDER BY bin
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |      AS BIGINT) AS cum_pos
          |  FROM pb)
          |SELECT bin, n, pos, cum_pos,
          |  CASE WHEN tp > 0 THEN round(CAST(cum_pos AS DOUBLE)
          |    / CAST(tp AS DOUBLE), 6) END AS capture,
          |  CASE WHEN tp > 0 THEN round(
          |    (CAST(pos AS DOUBLE) / CAST(n AS DOUBLE))
          |    / (CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE)), 6) END AS lift
          |FROM c, tot""".stripMargin,

      // quantile norm: all-integer rank mapping; pooled ranking tie
      // order (v, grp, id) matches rowNumbers' sort exactly
      "q214_quantile_norm" ->
        """WITH base AS (SELECT label AS grp, vec_id AS id,
          |    CAST(round(CAST(embedding[1] AS DOUBLE) * 10000) AS BIGINT)
          |      AS v
          |  FROM embeddings),
          |pool AS (SELECT v AS qn,
          |    row_number() OVER (ORDER BY v, grp, id) AS gidx
          |  FROM base),
          |r AS (SELECT grp, id, v,
          |    row_number() OVER (PARTITION BY grp ORDER BY v, id) AS rr,
          |    count(*) OVER (PARTITION BY grp) AS n,
          |    (SELECT count(*) FROM base) AS nn
          |  FROM base)
          |SELECT r.grp, r.id, r.v, p.qn
          |FROM r JOIN pool p ON p.gidx = (r.rr * r.nn + r.n - 1) // r.n
          |""".stripMargin,

      // jackknife: replicate ratios round(9) then decimal-mean;
      // squared deviations round(12) then decimal-sum — order-free
      "q213_jackknife" ->
        """WITH e AS (SELECT user_id % 32 AS b,
          |    CASE WHEN event_type = 'purchase'
          |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END AS pc,
          |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ck
          |  FROM events),
          |pb AS (SELECT b, CAST(sum(pc) AS BIGINT) AS si,
          |    CAST(sum(ck) AS BIGINT) AS ti
          |  FROM e GROUP BY b),
          |tot AS (SELECT CAST(sum(si) AS BIGINT) AS s,
          |    CAST(sum(ti) AS BIGINT) AS t FROM pb),
          |reps AS (SELECT s, t,
          |    round(CAST(s - si AS DOUBLE) / CAST(t - ti AS DOUBLE), 9)
          |      AS ri
          |  FROM pb, tot WHERE t - ti != 0),
          |rb AS (SELECT s, t, CAST(count(*) AS BIGINT) AS nb,
          |    CAST(sum(CAST(ri AS DECIMAL(38,9))) AS DOUBLE)
          |      / CAST(count(*) AS DOUBLE) AS rbar
          |  FROM reps GROUP BY s, t),
          |sd AS (SELECT r.s, r.t, rb.nb,
          |    sum(CAST(round((r.ri - rb.rbar) * (r.ri - rb.rbar), 12)
          |      AS DECIMAL(38,12))) AS ssd
          |  FROM reps r, rb GROUP BY r.s, r.t, rb.nb)
          |SELECT nb AS n_buckets,
          |  CASE WHEN t != 0 THEN
          |    round(CAST(s AS DOUBLE) / CAST(t AS DOUBLE), 6) END AS ratio,
          |  round(sqrt(CAST(nb - 1 AS DOUBLE) / CAST(nb AS DOUBLE)
          |    * CAST(ssd AS DOUBLE)), 6) AS se_jk
          |FROM sd""".stripMargin,

      // CUPED: exact HUGEINT moments, theta and the adjustment are
      // the same fixed-order double expressions as the engine
      "q212_cuped" ->
        s"""WITH per AS (SELECT user_id,
           |    CAST(sum(CASE WHEN epoch_ms(ts) < $FeatCutoffMs
           |      THEN round(value * 100) ELSE 0 END) AS BIGINT) AS x,
           |    CAST(sum(CASE WHEN epoch_ms(ts) >= $FeatCutoffMs
           |      THEN round(value * 100) ELSE 0 END) AS BIGINT) AS y
           |  FROM events GROUP BY user_id),
           |b AS (SELECT user_id % 2 AS variant, x, y FROM per),
           |g AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
           |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
           |  FROM b),
           |v AS (SELECT variant, CAST(count(*) AS BIGINT) AS nv,
           |    CAST(sum(x) AS BIGINT) AS sxv,
           |    CAST(sum(y) AS BIGINT) AS syv
           |  FROM b GROUP BY variant),
           |j AS (SELECT v.*, g.*,
           |    CAST(g.n AS HUGEINT) * g.sxy
           |      - CAST(g.sx AS HUGEINT) * g.sy AS num,
           |    CAST(g.n AS HUGEINT) * g.sxx
           |      - CAST(g.sx AS HUGEINT) * g.sx AS den
           |  FROM v, g)
           |SELECT variant, nv AS n,
           |  round(CAST(syv AS DOUBLE) / CAST(nv AS DOUBLE), 6) AS y_mean,
           |  round(CAST(syv AS DOUBLE) / CAST(nv AS DOUBLE)
           |    - (CASE WHEN den != 0
           |        THEN CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
           |        ELSE 0.0 END)
           |      * (CAST(sxv AS DOUBLE) / CAST(nv AS DOUBLE)
           |        - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)), 6)
           |    AS y_adj
           |FROM j""".stripMargin,

    // interpolate: the spine-index distance (dense by construction)
    // is the x-axis; pv/nv are the same picked observations, so the
    // one interpolation expression sees identical doubles
    "q211_interpolate" ->
      """WITH r AS (
        |  SELECT o_custkey, date_trunc('month', o_orderdate) AS period,
        |    o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey,
        |      date_trunc('month', o_orderdate)
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders),
        |mv AS (SELECT o_custkey, period, o_totalprice FROM r WHERE rn = 1),
        |b AS (SELECT o_custkey, min(period) AS mn, max(period) AS mx
        |      FROM mv GROUP BY o_custkey),
        |spine AS (SELECT o_custkey,
        |    unnest(generate_series(mn, mx, INTERVAL 1 MONTH)) AS period
        |  FROM b),
        |ji AS (SELECT s.o_custkey, s.period, mv.o_totalprice AS v,
        |    row_number() OVER (PARTITION BY s.o_custkey
        |      ORDER BY s.period) AS i
        |  FROM spine s LEFT JOIN mv
        |    ON mv.o_custkey = s.o_custkey AND mv.period = s.period),
        |jw AS (SELECT *,
        |    last_value(v IGNORE NULLS) OVER wb AS pv,
        |    last_value(CASE WHEN v IS NOT NULL THEN i END IGNORE NULLS)
        |      OVER wb AS pi,
        |    first_value(v IGNORE NULLS) OVER wf AS nv,
        |    first_value(CASE WHEN v IS NOT NULL THEN i END IGNORE NULLS)
        |      OVER wf AS ni
        |  FROM ji
        |  WINDOW wb AS (PARTITION BY o_custkey ORDER BY period
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wf AS (PARTITION BY o_custkey ORDER BY period
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT o_custkey, period,
        |  CASE WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
        |    WHEN pi IS NOT NULL AND ni IS NOT NULL THEN
        |      CAST(pv AS DOUBLE)
        |        + (CAST(nv AS DOUBLE) - CAST(pv AS DOUBLE))
        |          * (CAST(i - pi AS DOUBLE) / CAST(ni - pi AS DOUBLE))
        |  END AS o_totalprice_interp
        |FROM jw""".stripMargin,

    "q73_quantiles" ->
      """SELECT o_orderpriority,
        |  quantile_cont(round(o_totalprice * 100), 0.25) / 100.0 AS p25,
        |  quantile_cont(round(o_totalprice * 100), 0.5) / 100.0 AS p50,
        |  quantile_cont(round(o_totalprice * 100), 0.75) / 100.0 AS p75
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    "q74_lm_score" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents),
        |bi AS (SELECT doc_id, unnest(list_transform(range(len(ws) - 1),
        |         i -> ws[i+1] || ' ' || ws[i+2])) AS bg FROM w),
        |bc AS (SELECT bg, CAST(count(*) AS BIGINT) AS c2,
        |         string_split(bg, ' ')[1] AS w1,
        |         string_split(bg, ' ')[2] AS w2
        |       FROM bi GROUP BY bg),
        |uc AS (SELECT w1, sum(c2) AS c1 FROM bc GROUP BY w1),
        |vv AS (SELECT count(DISTINCT w2) AS v FROM bc),
        |model AS (SELECT bg, -log2((c2 + 1) / (c1 + v)) AS nl
        |          FROM bc JOIN uc USING (w1), vv)
        |SELECT doc_id, round(avg(nl), 6) AS nll
        |FROM bi JOIN model USING (bg) GROUP BY doc_id""".stripMargin,

    "q76_streaks" ->
      """WITH d AS (SELECT DISTINCT user_id,
        |                  epoch_ms(ts) // 86400000 AS day FROM events),
        |r AS (SELECT user_id, day,
        |  day - row_number() OVER (PARTITION BY user_id ORDER BY day)
        |    AS island FROM d)
        |SELECT user_id, min(day) AS streak_start,
        |  CAST(count(*) AS BIGINT) AS streak_len
        |FROM r GROUP BY user_id, island""".stripMargin,

    "q77_skyline" ->
      """SELECT a.p_partkey, a.p_retailprice, a.p_size FROM part a
        |WHERE NOT EXISTS (SELECT 1 FROM part b
        |  WHERE b.p_retailprice <= a.p_retailprice
        |    AND b.p_size >= a.p_size
        |    AND (b.p_retailprice < a.p_retailprice
        |         OR b.p_size > a.p_size))""".stripMargin,

    "q78_regression" ->
      """WITH z AS (SELECT l_returnflag, l_linestatus,
        |  CAST(l_quantity AS BIGINT) AS x,
        |  CAST(round(l_extendedprice * 100) AS BIGINT) AS y FROM lineitem),
        |a AS (SELECT l_returnflag, l_linestatus,
        |  CAST(count(*) AS HUGEINT) AS n,
        |  CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
        |  CAST(sum(x*x) AS HUGEINT) AS sxx,
        |  CAST(sum(x*y) AS HUGEINT) AS sxy
        |  FROM z GROUP BY l_returnflag, l_linestatus)
        |SELECT l_returnflag, l_linestatus, CAST(n AS BIGINT) AS n,
        |  round(CAST(n*sxy - sx*sy AS DOUBLE)
        |        / CAST(n*sxx - sx*sx AS DOUBLE), 6) AS slope,
        |  round((CAST(sy AS DOUBLE)
        |         - (CAST(n*sxy - sx*sy AS DOUBLE)
        |            / CAST(n*sxx - sx*sx AS DOUBLE)) * CAST(sx AS DOUBLE))
        |        / CAST(n AS DOUBLE), 6) AS intercept
        |FROM a""".stripMargin,

    "q79_bfs" ->
      """WITH RECURSIVE li AS (SELECT DISTINCT
        |    CAST(l_suppkey AS BIGINT) AS sk,
        |    CAST(l_partkey + 1000000000 AS BIGINT) AS pk FROM lineitem),
        |e AS (SELECT sk AS src, pk AS dst FROM li
        |      UNION ALL SELECT pk, sk FROM li),
        |r AS (
        |  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS id, 0 AS h
        |  FROM lineitem WHERE l_suppkey % 10 = 0
        |  UNION
        |  SELECT e.dst, r.h + 1 FROM r JOIN e ON e.src = r.id
        |  WHERE r.h < 6)
        |SELECT id, CAST(min(h) AS INTEGER) AS hops
        |FROM r GROUP BY id""".stripMargin,

    "q80_twap" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS t,
        |  CAST(round(value * 100) AS BIGINT) AS v FROM events),
        |d AS (SELECT user_id, v,
        |  lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) - t
        |    AS dt FROM e),
        |a AS (SELECT user_id,
        |  CAST(sum(CAST(v AS HUGEINT) * dt) AS HUGEINT) AS num,
        |  CAST(sum(CAST(dt AS HUGEINT)) AS HUGEINT) AS den
        |  FROM d WHERE dt IS NOT NULL GROUP BY user_id)
        |SELECT user_id,
        |  round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 100, 6)
        |    AS value_twa
        |FROM a WHERE den > 0""".stripMargin,

    "q82_bpe_merges" -> bpeMergesOracle,
    "q83_bpe_tokenize" -> bpeTokenizeOracle,

    "q84_mode" ->
      """WITH c AS (SELECT user_id, event_type,
        |           CAST(count(*) AS BIGINT) AS cnt
        |           FROM events GROUP BY user_id, event_type),
        |r AS (SELECT user_id, event_type, cnt,
        |  row_number() OVER (PARTITION BY user_id
        |                     ORDER BY cnt DESC, event_type) AS rn FROM c)
        |SELECT user_id, event_type AS top_type, cnt
        |FROM r WHERE rn = 1""".stripMargin,

    "q85_sssp" -> ssspOracle,
    "q88_communities" -> lpaOracle,

    "q89_copurchase" ->
      """WITH it AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |            FROM lineitem)
        |SELECT x.i AS item_a, y.i AS item_b,
        |  CAST(count(*) AS BIGINT) AS support
        |FROM it x JOIN it y ON x.b = y.b AND x.i < y.i
        |GROUP BY x.i, y.i HAVING count(*) >= 3""".stripMargin,

    "q90_profile" -> profileOracle,

    "q91_session_events" ->
      s"""WITH $SessionIvCte,
         |ev AS (SELECT event_id, user_id, epoch_ms(ts) AS ms FROM events)
         |SELECT iv.user_id, iv.session_id,
         |  CAST(count(*) AS BIGINT) AS n_foreign
         |FROM ev JOIN iv
         |  ON iv.start_ms <= ev.ms AND ev.ms <= iv.end_ms
         | AND ev.user_id <> iv.user_id
         |GROUP BY iv.user_id, iv.session_id""".stripMargin,

    "q92_transitions" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms,
        |           event_id FROM events),
        |s AS (SELECT event_type AS src_type,
        |  lead(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ms, event_id) AS dst_type FROM e),
        |c AS (SELECT src_type, dst_type, CAST(count(*) AS BIGINT) AS cnt
        |  FROM s WHERE dst_type IS NOT NULL GROUP BY src_type, dst_type)
        |SELECT src_type, dst_type, cnt,
        |  round(CAST(cnt AS DOUBLE)
        |    / CAST(sum(cnt) OVER (PARTITION BY src_type) AS DOUBLE), 6)
        |    AS p
        |FROM c""".stripMargin,

    "q93_precedence" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms
        |           FROM events),
        |sp AS (SELECT user_id, event_type, min(ms) AS mn, max(ms) AS mx
        |       FROM e GROUP BY user_id, event_type)
        |SELECT x.event_type AS type_a, y.event_type AS type_b,
        |  CAST(count(*) AS BIGINT) AS n_keys
        |FROM sp x JOIN sp y
        |  ON x.user_id = y.user_id AND x.event_type <> y.event_type
        | AND x.mn < y.mx
        |GROUP BY x.event_type, y.event_type""".stripMargin,

    "q94_pmi" ->
      s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w
         |            FROM documents),
         |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c
         |        FROM tok GROUP BY w),
         |tw AS (SELECT CAST(sum(c) AS BIGINT) AS tot_w FROM uni),
         |ws AS (SELECT string_split(text, ' ') AS ws FROM documents),
         |bg AS (SELECT unnest(list_transform(range(len(ws) - 1),
         |         i -> ws[i+1] || ' ' || ws[i+2])) AS bg FROM ws),
         |bc AS (SELECT bg, CAST(count(*) AS BIGINT) AS c_ab
         |       FROM bg GROUP BY bg),
         |tn AS (SELECT CAST(sum(c_ab) AS BIGINT) AS tot_n FROM bc)
         |SELECT string_split(b.bg, ' ')[1] AS w1,
         |  string_split(b.bg, ' ')[2] AS w2, b.c_ab,
         |  round(log2((CAST(b.c_ab AS DOUBLE) / tot_n)
         |    / ((CAST(ua.c AS DOUBLE) / tot_w)
         |       * (CAST(ub.c AS DOUBLE) / tot_w))), 6) AS pmi
         |FROM bc b
         |CROSS JOIN tw CROSS JOIN tn
         |JOIN uni ua ON ua.w = string_split(b.bg, ' ')[1]
         |JOIN uni ub ON ub.w = string_split(b.bg, ' ')[2]
         |WHERE b.c_ab >= $PmiMinCount""".stripMargin,

    "q95_kcore" -> kcoreOracle,

    "q96_auc" ->
      """WITH s AS (SELECT
        |    CAST(round(CAST(embedding[1] AS DOUBLE) * 10000) AS BIGINT)
        |      AS sc,
        |    CASE WHEN label = 0 THEN 1 ELSE 0 END AS y
        |  FROM embeddings),
        |g AS (SELECT sc, CAST(sum(y) AS BIGINT) AS p,
        |    CAST(count(*) - sum(y) AS BIGINT) AS ng
        |  FROM s GROUP BY sc),
        |c AS (SELECT p, ng, coalesce(sum(ng) OVER (ORDER BY sc
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cn
        |  FROM g),
        |a AS (SELECT
        |    CAST(sum(CAST(p AS HUGEINT) * (cn * 2 + ng)) AS HUGEINT)
        |      AS u2,
        |    CAST(sum(p) AS BIGINT) AS n_pos,
        |    CAST(sum(ng) AS BIGINT) AS n_neg
        |  FROM c)
        |SELECT round(CAST(u2 AS DOUBLE)
        |    / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE) * 2.0), 6)
        |    AS auc,
        |  n_pos, n_neg
        |FROM a""".stripMargin,

    "q250_auc_binned" ->
      """WITH s AS (SELECT CAST(embedding[1] AS DOUBLE) AS sc,
        |    CASE WHEN label = 0 THEN 1 ELSE 0 END AS y
        |  FROM embeddings
        |  WHERE embedding[1] IS NOT NULL
        |    AND isfinite(CAST(embedding[1] AS DOUBLE))),
        |mm AS (SELECT min(sc) AS mn, max(sc) AS mx FROM s),
        |b AS (SELECT CASE WHEN mx = mn THEN 0
        |    ELSE least(CAST(floor((sc - mn) / (mx - mn) * 1024.0)
        |      AS BIGINT), 1023) END AS bin, y
        |  FROM s, mm),
        |g AS (SELECT bin, CAST(sum(y) AS BIGINT) AS p,
        |    CAST(count(*) - sum(y) AS BIGINT) AS ng
        |  FROM b GROUP BY bin),
        |c AS (SELECT p, ng, coalesce(sum(ng) OVER (ORDER BY bin
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cn
        |  FROM g),
        |a AS (SELECT
        |    CAST(sum(CAST(p AS HUGEINT) * (cn * 2 + ng)) AS HUGEINT)
        |      AS u2,
        |    CAST(sum(p) AS BIGINT) AS n_pos,
        |    CAST(sum(ng) AS BIGINT) AS n_neg
        |  FROM c)
        |SELECT round(CAST(u2 AS DOUBLE)
        |    / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE) * 2.0), 6)
        |    AS auc,
        |  n_pos, n_neg
        |FROM a""".stripMargin,

    "q97_winsorized" ->
      """WITH o AS (SELECT o_orderpriority,
        |    CAST(round(o_totalprice * 100) AS BIGINT) * 4 AS qc
        |  FROM orders),
        |q AS (SELECT o_orderpriority,
        |    quantile_cont(qc, 0.25) AS qlo, quantile_cont(qc, 0.75) AS qhi
        |  FROM o GROUP BY o_orderpriority)
        |SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  round(any_value(qlo) / 400.0, 6) AS lo,
        |  round(any_value(qhi) / 400.0, 6) AS hi,
        |  round(CAST(sum(greatest(qlo, least(qhi, qc))) AS DOUBLE)
        |    / count(*) / 400.0, 6) AS wmean
        |FROM o JOIN q USING (o_orderpriority)
        |GROUP BY o.o_orderpriority""".stripMargin,

    "q98_negatives" ->
      s"""WITH idx AS (SELECT doc_id,
         |    row_number() OVER (ORDER BY doc_id) AS pos FROM documents),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |c AS (SELECT doc_id, pos, j,
         |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#'
         |      || CAST(j AS VARCHAR) || ':' || '$NegSalt'), 1, 15)
         |      AS BIGINT) % n AS h
         |  FROM idx CROSS JOIN nn
         |  CROSS JOIN (SELECT unnest(range($NegK)) AS j) js),
         |tgt AS (SELECT doc_id, j,
         |    CASE WHEN h + 1 = pos THEN (h + 1) % (SELECT n FROM nn) + 1
         |         ELSE h + 1 END AS tpos
         |  FROM c)
         |SELECT t.doc_id, CAST(t.j AS INTEGER) AS j,
         |  i.doc_id AS neg_id
         |FROM tgt t JOIN idx i ON i.pos = t.tpos""".stripMargin,

    "q99_assortativity" -> assortativityOracle,

    "q100_features" -> featuresOracle,

    "q101_new_users" ->
      """WITH e AS (SELECT DISTINCT user_id,
        |    epoch_ms(ts) // 86400000 AS day FROM events),
        |f AS (SELECT user_id, day,
        |    min(day) OVER (PARTITION BY user_id) AS first_day FROM e),
        |d AS (SELECT day, CAST(count(*) AS BIGINT) AS n_active,
        |    CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_new
        |  FROM f GROUP BY day)
        |SELECT day, n_active, n_new,
        |  CAST(sum(n_new) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS cum_users
        |FROM d""".stripMargin,

    "q103_balance_standing" ->
      """SELECT c_custkey, c_mktsegment, bal_cents,
        |  round(percent_rank() OVER (PARTITION BY c_mktsegment
        |    ORDER BY bal_cents), 6) AS pr,
        |  round(cume_dist() OVER (PARTITION BY c_mktsegment
        |    ORDER BY bal_cents), 6) AS cd
        |FROM (SELECT c_custkey, c_mktsegment,
        |        CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
        |      FROM customer) t""".stripMargin,

    "q104_ohlc" ->
      """WITH e AS (SELECT epoch_ms(ts) // 3600000 AS hr, event_type,
        |    epoch_ms(ts) AS ms, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY hr, event_type
        |    ORDER BY ms, event_id) AS rn,
        |  count(*) OVER (PARTITION BY hr, event_type) AS n FROM e)
        |SELECT hr, event_type,
        |  max(CASE WHEN rn = 1 THEN c END) / 100.0 AS open,
        |  max(c) / 100.0 AS high,
        |  min(c) / 100.0 AS low,
        |  max(CASE WHEN rn = n THEN c END) / 100.0 AS close,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM r GROUP BY hr, event_type""".stripMargin,

    "q102_attribution" ->
      s"""WITH p AS (SELECT event_id, user_id, epoch_ms(ts) AS pms
         |           FROM events WHERE event_type = 'purchase'),
         |c AS (SELECT user_id, epoch_ms(ts) AS cms, event_id AS cid
         |      FROM events WHERE event_type = 'click'),
         |j AS (SELECT p.event_id, c.cms, c.cid,
         |    row_number() OVER (PARTITION BY p.event_id
         |      ORDER BY c.cms DESC, c.cid DESC) AS rn
         |  FROM p JOIN c ON p.user_id = c.user_id
         |    AND c.cms <= p.pms AND c.cms >= p.pms - $AttrHorizonMs)
         |SELECT p.event_id, p.user_id, p.pms AS purchase_ms,
         |  coalesce(j.cms, -1) AS click_ms,
         |  coalesce(j.cid, -1) AS click_id
         |FROM p LEFT JOIN (SELECT * FROM j WHERE rn = 1) j
         |  ON j.event_id = p.event_id""".stripMargin,

    "q106_node_sim" ->
      """WITH it AS (SELECT DISTINCT l_orderkey AS bsk, l_partkey AS i
        |            FROM lineitem),
        |fp AS (SELECT x.i AS a, y.i AS b
        |       FROM it x JOIN it y ON x.bsk = y.bsk AND x.i < y.i
        |       GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT a AS src, b AS dst FROM fp
        |      UNION ALL SELECT b AS src, a AS dst FROM fp),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d
        |        FROM e GROUP BY src),
        |cm AS (SELECT x.dst AS item_a, y.dst AS item_b,
        |         CAST(count(*) AS BIGINT) AS common_cnt
        |       FROM e x JOIN e y ON x.src = y.src AND x.dst < y.dst
        |       GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT cm.item_a, cm.item_b, common_cnt,
        |  CAST(common_cnt AS DOUBLE) / (da.d + db.d - common_cnt) AS sim
        |FROM cm JOIN deg da ON cm.item_a = da.src
        |        JOIN deg db ON cm.item_b = db.src""".stripMargin,

    "q107_chi_square" ->
      """WITH cells AS (SELECT c_mktsegment AS a, o_orderpriority AS b,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |rt AS (SELECT a, CAST(sum(cnt) AS BIGINT) AS rt FROM cells
        |       GROUP BY a),
        |ct AS (SELECT b, CAST(sum(cnt) AS BIGINT) AS ct FROM cells
        |       GROUP BY b),
        |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM cells)
        |SELECT rt.a, ct.b, coalesce(cnt, 0) AS cnt,
        |  round(CAST(rt * ct AS DOUBLE) / n, 6) AS expected,
        |  round((coalesce(cnt, 0) - CAST(rt * ct AS DOUBLE) / n)
        |      * (coalesce(cnt, 0) - CAST(rt * ct AS DOUBLE) / n)
        |      / (CAST(rt * ct AS DOUBLE) / n), 6) AS contrib
        |FROM rt CROSS JOIN ct
        |  LEFT JOIN cells ON cells.a = rt.a AND cells.b = ct.b
        |  CROSS JOIN n""".stripMargin,

    "q108_ewma" ->
      """WITH d AS (SELECT user_id, epoch_ms(ts) // 86400000 AS day,
        |    CAST(sum(round(value * 100)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT user_id, day, cents,
        |    lag(cents, 1) OVER w AS x1, lag(cents, 2) OVER w AS x2,
        |    lag(cents, 3) OVER w AS x3, lag(cents, 4) OVER w AS x4,
        |    lag(cents, 5) OVER w AS x5, lag(cents, 6) OVER w AS x6,
        |    lag(cents, 7) OVER w AS x7
        |  FROM d WINDOW w AS (PARTITION BY user_id ORDER BY day))
        |SELECT user_id, day, cents, round(
        |  (CAST(cents AS DOUBLE) * 1.0
        |    + coalesce(CAST(x1 AS DOUBLE) * 0.5, 0.0)
        |    + coalesce(CAST(x2 AS DOUBLE) * 0.25, 0.0)
        |    + coalesce(CAST(x3 AS DOUBLE) * 0.125, 0.0)
        |    + coalesce(CAST(x4 AS DOUBLE) * 0.0625, 0.0)
        |    + coalesce(CAST(x5 AS DOUBLE) * 0.03125, 0.0)
        |    + coalesce(CAST(x6 AS DOUBLE) * 0.015625, 0.0)
        |    + coalesce(CAST(x7 AS DOUBLE) * 0.0078125, 0.0))
        |  / (1.0
        |    + CASE WHEN x1 IS NULL THEN 0.0 ELSE 0.5 END
        |    + CASE WHEN x2 IS NULL THEN 0.0 ELSE 0.25 END
        |    + CASE WHEN x3 IS NULL THEN 0.0 ELSE 0.125 END
        |    + CASE WHEN x4 IS NULL THEN 0.0 ELSE 0.0625 END
        |    + CASE WHEN x5 IS NULL THEN 0.0 ELSE 0.03125 END
        |    + CASE WHEN x6 IS NULL THEN 0.0 ELSE 0.015625 END
        |    + CASE WHEN x7 IS NULL THEN 0.0 ELSE 0.0078125 END), 6)
        |  AS ewma
        |FROM l""".stripMargin,

    "q109_containment" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
         |           FROM documents),
         |sh AS (SELECT doc_id,
         |         list_distinct(list_transform(range(len(ws) - 2),
         |           i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]))
         |           AS toks
         |       FROM w)
         |SELECT a_id, b_id, inter, cont_a, cont_b FROM (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |    CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS inter,
         |    CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
         |      / len(a.toks) AS cont_a,
         |    CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
         |      / len(b.toks) AS cont_b
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id) p
         |WHERE greatest(cont_a, cont_b) >= $ContainMin""".stripMargin,

    "q110_grouping_sets" ->
      """SELECT
        |  CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL'
        |       ELSE l_returnflag END AS l_returnflag,
        |  CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL'
        |       ELSE l_linestatus END AS l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(sum(round(l_extendedprice * 100)) AS BIGINT) / 100.0
        |    AS revenue,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |                        (l_linestatus), ())""".stripMargin,

    "q111_key_skew" ->
      """WITH c AS (SELECT CAST(l_suppkey AS VARCHAR) AS key,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |    CAST(sum(cnt) AS BIGINT) AS n_rows FROM c),
        |r AS (SELECT key, cnt,
        |    row_number() OVER (ORDER BY cnt DESC, key) AS rnk,
        |    sum(cnt) OVER (ORDER BY cnt DESC, key
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM c)
        |SELECT rnk, key, cnt,
        |  round(CAST(cnt AS DOUBLE) / n_rows, 6) AS share,
        |  round(CAST(cum AS DOUBLE) / n_rows, 6) AS cum_share,
        |  n_keys, n_rows
        |FROM r CROSS JOIN t WHERE rnk <= 20""".stripMargin,

    "q112_clustering_coef" ->
      """WITH it AS (SELECT DISTINCT l_orderkey AS bsk, l_partkey AS i
        |            FROM lineitem),
        |fp AS (SELECT x.i AS a, y.i AS b
        |       FROM it x JOIN it y ON x.bsk = y.bsk AND x.i < y.i
        |       GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT a AS src, b AS dst FROM fp
        |      UNION ALL SELECT b AS src, a AS dst FROM fp),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS degree
        |        FROM e GROUP BY src),
        |tri AS (SELECT t1.a AS x, t1.b AS y, t2.b AS z
        |        FROM fp t1 JOIN fp t2 ON t2.a = t1.b
        |          JOIN fp t3 ON t3.a = t1.a AND t3.b = t2.b),
        |pv AS (SELECT v, CAST(count(*) AS BIGINT) AS t FROM (
        |    SELECT x AS v FROM tri UNION ALL SELECT y AS v FROM tri
        |    UNION ALL SELECT z AS v FROM tri) u GROUP BY v)
        |SELECT deg.src AS id, degree, coalesce(pv.t, 0) AS n_triangles,
        |  CASE WHEN degree >= 2
        |    THEN CAST(2 * coalesce(pv.t, 0) AS DOUBLE)
        |      / (degree * (degree - 1))
        |    ELSE 0.0 END AS cc
        |FROM deg LEFT JOIN pv ON pv.v = deg.src""".stripMargin,

    "q113_equidepth_hist" ->
      """WITH o AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
        |           FROM orders),
        |q AS (SELECT quantile_cont(c, [0.0, 0.125, 0.25, 0.375, 0.5,
        |        0.625, 0.75, 0.875, 1.0]) AS qs FROM o),
        |b AS (SELECT c,
        |    (CASE WHEN c >= qs[2] THEN 1 ELSE 0 END
        |   + CASE WHEN c >= qs[3] THEN 1 ELSE 0 END
        |   + CASE WHEN c >= qs[4] THEN 1 ELSE 0 END
        |   + CASE WHEN c >= qs[5] THEN 1 ELSE 0 END
        |   + CASE WHEN c >= qs[6] THEN 1 ELSE 0 END
        |   + CASE WHEN c >= qs[7] THEN 1 ELSE 0 END
        |   + CASE WHEN c >= qs[8] THEN 1 ELSE 0 END) AS bucket
        |  FROM o CROSS JOIN q)
        |SELECT bucket,
        |  round(qs[bucket + 1] / 100.0, 6) AS lo,
        |  round(qs[bucket + 2] / 100.0, 6) AS hi,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM b CROSS JOIN q GROUP BY 1, 2, 3""".stripMargin,

    "q114_snapshot_diff" ->
      """WITH os AS (SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS c
        |  FROM orders WHERE o_orderkey % 7 <> 0),
        |ns AS (SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT)
        |      + CASE WHEN o_orderkey % 5 = 0 THEN 500 ELSE 0 END AS c
        |  FROM orders WHERE o_orderkey % 3 <> 0)
        |SELECT coalesce(os.k, ns.k) AS o_orderkey,
        |  CASE WHEN os.k IS NULL THEN 'added'
        |       WHEN ns.k IS NULL THEN 'removed'
        |       ELSE 'changed' END AS status,
        |  coalesce(os.c, -1) AS old_cents,
        |  coalesce(ns.c, -1) AS new_cents
        |FROM os FULL OUTER JOIN ns ON os.k = ns.k
        |WHERE os.k IS NULL OR ns.k IS NULL OR os.c <> ns.c""".stripMargin,

    "q115_bm25" ->
      s"WITH $bm25ScoreCte\nSELECT doc_id, n_terms, score FROM bs",

    "q116_incr_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(sum(round(l_extendedprice * 100)) AS BIGINT) / 100.0
        |    AS revenue,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |WHERE l_orderkey % 10 = 0 OR l_partkey % 13 <> 0
        |GROUP BY 1, 2""".stripMargin,

    "q117_weighted_sample" ->
      s"""WITH o AS (SELECT c_mktsegment, o_orderkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS weight,
        |    CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)
        |      || ':$PpsSalt'), 1, 15) AS BIGINT) AS h
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |c AS (SELECT c_mktsegment, o_orderkey, weight,
        |    CAST(sum(weight) OVER (PARTITION BY c_mktsegment
        |      ORDER BY h, o_orderkey ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cum,
        |    CAST(sum(weight) OVER (PARTITION BY c_mktsegment)
        |      AS BIGINT) AS tot
        |  FROM o)
        |SELECT c_mktsegment, o_orderkey, weight,
        |  CAST((cum * $PpsK + tot - 1) // tot
        |    - ((cum - weight) * $PpsK + tot - 1) // tot AS BIGINT)
        |    AS n_picks
        |FROM c WHERE tot > 0
        |  AND (cum * $PpsK + tot - 1) // tot
        |    > ((cum - weight) * $PpsK + tot - 1) // tot""".stripMargin,

    "q118_woe" ->
      """WITH b AS (SELECT o_orderpriority,
        |    CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_pos,
        |    CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END)
        |      AS BIGINT) AS n_neg
        |  FROM orders GROUP BY 1),
        |t AS (SELECT CAST(sum(n_pos) AS BIGINT) AS p,
        |    CAST(sum(n_neg) AS BIGINT) AS n FROM b)
        |SELECT o_orderpriority, n_pos, n_neg,
        |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
        |    round(ln(CAST(n_pos * n AS DOUBLE)
        |           / CAST(n_neg * p AS DOUBLE)), 6) END AS woe,
        |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
        |    round((CAST(n_pos AS DOUBLE) / CAST(p AS DOUBLE)
        |         - CAST(n_neg AS DOUBLE) / CAST(n AS DOUBLE))
        |      * ln(CAST(n_pos * n AS DOUBLE)
        |         / CAST(n_neg * p AS DOUBLE)), 6) END AS iv
        |FROM b CROSS JOIN t""".stripMargin,

    "q119_hits" -> hitsOracle,

    "q120_kmeans" -> kmeansOracle,

    "q121_rolling_anomaly" ->
      """WITH d AS (SELECT user_id, epoch_ms(ts) // 86400000 AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM events GROUP BY 1, 2),
        |w AS (SELECT user_id, day, cents,
        |    CAST(sum(cents) OVER win AS BIGINT) AS s,
        |    CAST(sum(cents * cents) OVER win AS BIGINT) AS s2,
        |    CAST(count(*) OVER win AS BIGINT) AS n
        |  FROM d WINDOW win AS (PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |SELECT user_id, day, cents,
        |  CASE WHEN n * s2 - s * s > 0 THEN
        |    round(CAST(n * cents - s AS DOUBLE)
        |      / sqrt(CAST(n * s2 - s * s AS DOUBLE)), 6) END AS z,
        |  coalesce((n * s2 - s * s > 0 AND
        |      (n * cents - s) * (n * cents - s) > 9 * (n * s2 - s * s))
        |    OR (n * s2 - s * s = 0 AND n >= 2 AND n * cents - s <> 0),
        |    false) AS is_anomaly
        |FROM w""".stripMargin,

    "q122_cross_doc" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents),
        |g AS (SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(len(ws) - 3),
        |      i -> array_to_string(ws[i+1:i+4], ' '))) AS gr
        |  FROM w WHERE len(ws) >= 4),
        |dfq AS (SELECT gr, CAST(count(*) AS BIGINT) AS df
        |        FROM g GROUP BY 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_shared,
        |  round(CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 6) AS shared_frac
        |FROM g JOIN dfq USING (gr) GROUP BY doc_id""".stripMargin,

    "q123_assoc_rules" ->
      """WITH it AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |            FROM lineitem),
        |cnt AS (SELECT i, CAST(count(*) AS BIGINT) AS n FROM it
        |        GROUP BY 1 HAVING count(*) >= 3),
        |pr AS (SELECT x.i AS ia, y.i AS ib,
        |    CAST(count(*) AS BIGINT) AS support
        |  FROM it x JOIN it y ON x.b = y.b AND x.i < y.i
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS nb_total
        |       FROM it),
        |bo AS (SELECT ia AS antecedent, ib AS consequent, support FROM pr
        |       UNION ALL
        |       SELECT ib, ia, support FROM pr)
        |SELECT antecedent, consequent, support,
        |  a.n AS n_ante, c.n AS n_cons,
        |  round(CAST(support AS DOUBLE) / CAST(a.n AS DOUBLE), 6)
        |    AS confidence,
        |  round(CAST(support AS DOUBLE) * CAST(nb_total AS DOUBLE)
        |    / (CAST(a.n AS DOUBLE) * CAST(c.n AS DOUBLE)), 6) AS lift
        |FROM bo JOIN cnt a ON bo.antecedent = a.i
        |        JOIN cnt c ON bo.consequent = c.i
        |        CROSS JOIN nb""".stripMargin,

    "q126_modularity" -> modularityOracle,

    "q130_forecast_eval" ->
      """WITH d AS (SELECT user_id, epoch_ms(ts) // 86400000 AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS c
        |  FROM events GROUP BY 1, 2)
        |SELECT x.user_id, CAST(count(*) AS BIGINT) AS n_eval,
        |  round(CAST(sum(abs(x.c - p1.c)) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 6) AS mae_naive,
        |  round(CAST(sum(abs(x.c - p7.c)) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 6) AS mae_seasonal,
        |  CASE WHEN sum(abs(x.c - p1.c)) > 0 THEN
        |    round(CAST(sum(abs(x.c - p7.c)) AS DOUBLE)
        |      / CAST(sum(abs(x.c - p1.c)) AS DOUBLE), 6) END AS mase
        |FROM d x JOIN d p1 ON x.user_id = p1.user_id
        |                  AND x.day = p1.day + 1
        |         JOIN d p7 ON x.user_id = p7.user_id
        |                  AND x.day = p7.day + 7
        |GROUP BY 1""".stripMargin,

    "q129_temperature_mix" ->
      s"""WITH c AS (SELECT lang AS stratum,
         |    CAST(count(*) AS BIGINT) AS n_docs
         |  FROM documents GROUP BY 1),
         |q AS (SELECT stratum, n_docs,
         |    CAST(round(sqrt(CAST(n_docs AS DOUBLE)) * 1000000.0)
         |      AS BIGINT) AS q_s FROM c),
         |t AS (SELECT CAST(sum(q_s) AS BIGINT) AS q_tot,
         |    CAST(sum(n_docs) AS BIGINT) AS n_tot FROM q),
         |r AS (SELECT stratum, n_docs, q_s, q_tot,
         |    CAST(floor($TempBudgetFrac * CAST(n_tot AS DOUBLE))
         |      AS BIGINT) AS budget
         |  FROM q CROSS JOIN t),
         |b AS (SELECT lang AS stratum,
         |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
         |      || ':$TempSalt'), 1, 15) AS BIGINT) % 10000 AS bucket
         |  FROM documents),
         |k AS (SELECT b.stratum,
         |    CAST(sum(CASE WHEN CAST(bucket AS HUGEINT) * q_tot * n_docs
         |        < CAST(10000 AS HUGEINT) * budget * q_s
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
         |  FROM b JOIN r USING (stratum) GROUP BY 1)
         |SELECT r.stratum, n_docs,
         |  round(CAST(q_s AS DOUBLE) / CAST(q_tot AS DOUBLE), 6)
         |    AS weight,
         |  round(least(1.0, CAST(budget AS DOUBLE) * CAST(q_s AS DOUBLE)
         |    / (CAST(q_tot AS DOUBLE) * CAST(n_docs AS DOUBLE))), 6)
         |    AS rate,
         |  n_sampled
         |FROM r JOIN k USING (stratum)""".stripMargin,

    "q128_more_like_this" ->
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' '))
         |    AS term FROM documents),
         |tf AS (SELECT doc_id AS doc, term,
         |    CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
         |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
         |          FROM tf GROUP BY 1),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |w AS (SELECT doc, term,
         |    CAST(tf AS DOUBLE) * ln((CAST(n AS DOUBLE) + 1.0)
         |      / (CAST(df AS DOUBLE) + 1.0)) AS w
         |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
         |norms AS (SELECT doc, sqrt(sum(w * w)) AS nrm FROM w
         |          GROUP BY 1 HAVING sqrt(sum(w * w)) > 0),
         |qw AS (SELECT doc AS query_id, term, w AS wq FROM w
         |       WHERE doc % $MltQueryMod = 0),
         |dots AS (SELECT query_id, w.doc, sum(wq * w.w) AS dot
         |  FROM qw JOIN w USING (term) WHERE query_id <> w.doc
         |  GROUP BY 1, 2),
         |sims AS (SELECT query_id, dots.doc AS doc_id,
         |    round(dot / (qn.nrm * dn.nrm), 6) AS cos_sim
         |  FROM dots JOIN norms qn ON dots.query_id = qn.doc
         |            JOIN norms dn ON dots.doc = dn.doc)
         |SELECT query_id, doc_id, cos_sim, CAST(rnk AS INTEGER) AS rnk
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_sim DESC, doc_id) AS rnk FROM sims) r
         |WHERE rnk <= $MltK""".stripMargin,

    "q127_rank_fusion" -> {
      def dot(x: String, y: String) =
        s"list_sum(list_transform(list_zip($x, $y), " +
          "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
      s"""WITH $bm25ScoreCte,
         |br AS (SELECT doc_id AS id, row_number() OVER (
         |    ORDER BY score DESC, doc_id) AS rnk FROM bs),
         |probe AS (SELECT embedding AS qv FROM embeddings
         |          WHERE vec_id = 0),
         |cs AS (SELECT vec_id AS id,
         |    ${dot("embedding", "qv")}
         |      / sqrt(${dot("embedding", "embedding")}
         |             * ${dot("qv", "qv")}) AS c
         |  FROM embeddings, probe),
         |cr AS (SELECT id, row_number() OVER (ORDER BY c DESC, id)
         |       AS rnk FROM cs),
         |u AS (SELECT id, 1.0 / (${RrfK.toDouble}
         |        + CAST(rnk AS DOUBLE)) AS contrib FROM br
         |      UNION ALL
         |      SELECT id, 1.0 / (${RrfK.toDouble}
         |        + CAST(rnk AS DOUBLE)) FROM cr)
         |SELECT id AS doc_id, round(sum(contrib), 6) AS rrf_score,
         |  CAST(count(*) AS BIGINT) AS n_lists
         |FROM u GROUP BY 1
         |ORDER BY rrf_score DESC, doc_id LIMIT $RrfTopK""".stripMargin
    },

    "q125_pattern_triples" ->
      """WITH e AS (SELECT user_id AS k, event_type AS t,
        |           epoch_ms(ts) AS ms FROM events),
        |sp AS (SELECT k, t, min(ms) AS mn, max(ms) AS mx
        |       FROM e GROUP BY 1, 2),
        |mids AS (SELECT DISTINCT k, t, ms FROM e),
        |tr AS (SELECT DISTINCT a.k, a.t AS type_a, b.t AS type_b,
        |    c.t AS type_c
        |  FROM sp a JOIN sp c ON a.k = c.k AND a.mn < c.mx
        |    JOIN mids b ON b.k = a.k AND b.ms > a.mn AND b.ms < c.mx)
        |SELECT type_a, type_b, type_c, CAST(count(*) AS BIGINT) AS n_keys
        |FROM tr GROUP BY 1, 2, 3""".stripMargin,

    "q124_rolling_actives" ->
      """WITH d AS (SELECT DISTINCT user_id,
        |    epoch_ms(ts) // 86400000 AS day FROM events),
        |w AS (SELECT user_id, day + j AS win
        |      FROM d, unnest(range(7)) AS t(j))
        |SELECT win, CAST(count(DISTINCT user_id) AS BIGINT) AS actives,
        |  CAST(count(*) AS BIGINT) AS key_periods
        |FROM w GROUP BY 1""".stripMargin,

    "q131_bitmap_distinct" ->
      """SELECT l_suppkey,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
        |  CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem GROUP BY 1""".stripMargin,

    "q132_weighted_median" ->
      """WITH pv AS (SELECT l_suppkey,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
        |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (SELECT l_suppkey, v, w,
        |    CAST(sum(w) OVER (PARTITION BY l_suppkey ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(sum(w) OVER (PARTITION BY l_suppkey) AS BIGINT) AS tot,
        |    CAST(count(*) OVER (PARTITION BY l_suppkey) AS BIGINT) AS nv
        |  FROM pv)
        |SELECT l_suppkey, CAST(min(v) AS BIGINT) AS w_median,
        |  CAST(min(tot) AS BIGINT) AS total_w,
        |  CAST(min(nv) AS BIGINT) AS n_values
        |FROM c WHERE cum * 2 >= tot GROUP BY 1""".stripMargin,

    "q133_cusum" ->
      s"""WITH d AS (SELECT user_id, epoch_ms(ts) // 86400000 AS day,
         |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         |      AS cents
         |  FROM events GROUP BY 1, 2),
         |b AS (SELECT user_id, day, cents,
         |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n,
         |    CAST(sum(cents) OVER (PARTITION BY user_id) AS BIGINT) AS s
         |  FROM d),
         |p AS (SELECT user_id, day, cents, n,
         |    CAST(sum(n * cents - s - n * $CusumSlack) OVER win
         |      AS BIGINT) AS p_hi,
         |    CAST(sum(s - n * cents - n * $CusumSlack) OVER win
         |      AS BIGINT) AS p_lo
         |  FROM b WINDOW win AS (PARTITION BY user_id ORDER BY day
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |m AS (SELECT user_id, day, cents, n, p_hi, p_lo,
         |    p_hi - least(CAST(0 AS BIGINT),
         |      CAST(min(p_hi) OVER win AS BIGINT)) AS s_hi,
         |    p_lo - least(CAST(0 AS BIGINT),
         |      CAST(min(p_lo) OVER win AS BIGINT)) AS s_lo
         |  FROM p WINDOW win AS (PARTITION BY user_id ORDER BY day
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT user_id, day, cents,
         |  round(CAST(s_hi AS DOUBLE) / n / 100, 6) AS cusum_hi,
         |  round(CAST(s_lo AS DOUBLE) / n / 100, 6) AS cusum_lo,
         |  s_hi > n * $CusumH AS alarm_hi,
         |  s_lo > n * $CusumH AS alarm_lo
         |FROM m""".stripMargin,

    "q134_ks_test" ->
      """WITH pv AS (SELECT o_orderpriority,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS v,
        |    CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END)
        |      AS BIGINT) AS cb
        |  FROM orders GROUP BY 1, 2),
        |c AS (SELECT o_orderpriority,
        |    CAST(sum(ca) OVER win AS BIGINT) AS fa,
        |    CAST(sum(cb) OVER win AS BIGINT) AS fb,
        |    CAST(sum(ca) OVER (PARTITION BY o_orderpriority)
        |      AS BIGINT) AS na,
        |    CAST(sum(cb) OVER (PARTITION BY o_orderpriority)
        |      AS BIGINT) AS nb
        |  FROM pv WINDOW win AS (PARTITION BY o_orderpriority ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT o_orderpriority,
        |  CAST(min(na) AS BIGINT) AS n_a, CAST(min(nb) AS BIGINT) AS n_b,
        |  round(CAST(max(abs(CAST(fa AS DECIMAL(38,0)) * nb -
        |      CAST(fb AS DECIMAL(38,0)) * na)) AS DOUBLE)
        |    / (CAST(min(na) AS DOUBLE) * CAST(min(nb) AS DOUBLE)), 6)
        |    AS ks_d
        |FROM c WHERE na > 0 AND nb > 0 GROUP BY 1""".stripMargin,

    "q135_gini" ->
      """WITH r AS (SELECT o_orderpriority,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS x,
        |    CAST(row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY round(o_totalprice * 100)) AS BIGINT) AS i
        |  FROM orders)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x) AS BIGINT) AS total,
        |  CASE WHEN sum(x) <> 0 THEN
        |    round(CAST(2 * sum(CAST(i AS DECIMAL(38,0)) * x)
        |        - (count(*) + 1) * CAST(sum(x) AS DECIMAL(38,0))
        |        AS DOUBLE)
        |      / (CAST(count(*) AS DOUBLE) * CAST(sum(x) AS DOUBLE)), 6)
        |  END AS gini
        |FROM r GROUP BY 1""".stripMargin,

    "q136_audience_overlap" ->
      """WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
        |n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
        |      FROM du GROUP BY 1),
        |ov AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    CAST(count(*) AS BIGINT) AS n_both
        |  FROM du a JOIN du b ON a.user_id = b.user_id
        |    AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT na.event_type AS type_a, nb.event_type AS type_b,
        |  na.n AS n_a, nb.n AS n_b,
        |  CAST(coalesce(ov.n_both, 0) AS BIGINT) AS n_both,
        |  round(CAST(coalesce(ov.n_both, 0) AS DOUBLE)
        |    / CAST(na.n + nb.n - coalesce(ov.n_both, 0) AS DOUBLE), 6)
        |    AS jaccard
        |FROM n na JOIN n nb ON na.event_type < nb.event_type
        |LEFT JOIN ov ON ov.type_a = na.event_type
        |  AND ov.type_b = nb.event_type""".stripMargin,

    "q137_theta_sketch" ->
      s"""WITH h AS (SELECT DISTINCT event_type,
         |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
         |      AS BIGINT) AS hv
         |  FROM events),
         |rk AS (SELECT event_type, hv,
         |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY hv)
         |      AS BIGINT) AS rn,
         |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS nd
         |  FROM h),
         |sk AS (SELECT * FROM rk WHERE rn <= $ThetaK),
         |th AS (SELECT event_type,
         |    CASE WHEN max(nd) >= $ThetaK THEN max(hv)
         |         ELSE $KmvDomain END AS theta,
         |    round(CASE WHEN max(nd) >= $ThetaK
         |      THEN ${ThetaK - 1}.0 * $KmvDomain.0 / CAST(max(hv) AS DOUBLE)
         |      ELSE CAST(max(nd) AS DOUBLE) END, 6) AS est
         |  FROM sk GROUP BY 1),
         |ov AS (SELECT x.event_type AS type_a, y.event_type AS type_b,
         |    x.hv
         |  FROM sk x JOIN sk y ON x.hv = y.hv
         |    AND x.event_type < y.event_type),
         |base AS (SELECT ta.event_type AS type_a, tb.event_type AS type_b,
         |    least(ta.theta, tb.theta) AS theta,
         |    ta.est AS est_a, tb.est AS est_b
         |  FROM th ta JOIN th tb ON ta.event_type < tb.event_type),
         |cm AS (SELECT b.type_a, b.type_b,
         |    CAST(count(*) AS BIGINT) AS common
         |  FROM base b JOIN ov o ON o.type_a = b.type_a
         |    AND o.type_b = b.type_b AND o.hv < b.theta
         |  GROUP BY 1, 2)
         |SELECT b.type_a, b.type_b, b.est_a, b.est_b,
         |  round(CAST(coalesce(cm.common, 0) AS DOUBLE) * $KmvDomain.0
         |    / CAST(b.theta AS DOUBLE), 6) AS est_both
         |FROM base b LEFT JOIN cm ON cm.type_a = b.type_a
         |  AND cm.type_b = b.type_b""".stripMargin,

    "q138_acf" ->
      s"""WITH d AS (SELECT user_id, epoch_ms(ts) // 86400000 AS day,
         |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         |      AS cents
         |  FROM events GROUP BY 1, 2),
         |l AS (SELECT user_id, day + r.lag AS day, cents AS vl,
         |    CAST(r.lag AS INTEGER) AS lag
         |  FROM d, range(1, ${AcfMaxLag + 1}) r(lag)),
         |p AS (SELECT x.user_id, l.lag,
         |    CAST(x.cents AS HUGEINT) AS a, CAST(l.vl AS HUGEINT) AS b
         |  FROM d x JOIN l ON x.user_id = l.user_id AND x.day = l.day)
         |SELECT user_id, lag, CAST(count(*) AS BIGINT) AS n_pairs,
         |  CASE WHEN sqrt(CAST(count(*)*sum(a*a) - sum(a)*sum(a)
         |        AS DOUBLE))
         |      * sqrt(CAST(count(*)*sum(b*b) - sum(b)*sum(b)
         |        AS DOUBLE)) <> 0
         |    THEN round(CAST(count(*)*sum(a*b) - sum(a)*sum(b) AS DOUBLE)
         |      / (sqrt(CAST(count(*)*sum(a*a) - sum(a)*sum(a) AS DOUBLE))
         |         * sqrt(CAST(count(*)*sum(b*b) - sum(b)*sum(b)
         |             AS DOUBLE))), 6)
         |  END AS acf
         |FROM p GROUP BY 1, 2""".stripMargin,

    "q139_mutual_info" ->
      """WITH p AS (SELECT event_type AS x,
        |    (epoch_ms(ts) // 86400000) % 7 AS y
        |  FROM events),
        |c AS (SELECT x, y, CAST(count(*) AS BIGINT) AS cxy
        |      FROM p GROUP BY 1, 2),
        |mx AS (SELECT x, CAST(sum(cxy) AS BIGINT) AS cx FROM c GROUP BY 1),
        |my AS (SELECT y, CAST(sum(cxy) AS BIGINT) AS cy FROM c GROUP BY 1),
        |tt AS (SELECT CAST(sum(cxy) AS BIGINT) AS n FROM c),
        |cell AS (SELECT cxy, cx, cy, n,
        |    CAST(round(CAST(cxy AS DOUBLE)
        |      * log2(CAST(CAST(cxy AS HUGEINT) * n AS DOUBLE)
        |        / CAST(CAST(cx AS HUGEINT) * cy AS DOUBLE)), 9)
        |      AS DECIMAL(38,9)) AS term
        |  FROM c JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tt)
        |SELECT CAST(min(n) AS BIGINT) AS n,
        |  CAST((SELECT count(*) FROM mx) AS BIGINT) AS levels_x,
        |  CAST((SELECT count(*) FROM my) AS BIGINT) AS levels_y,
        |  round(CAST(sum(term) AS DOUBLE) / CAST(min(n) AS DOUBLE), 6)
        |    AS mi_bits
        |FROM cell""".stripMargin,

    "q140_ann_lsh" -> lshOracle,

    // multi-probe: query side widened to margin-ordered bit flips
    "q251_ann_lsh_multiprobe" -> lshMpOracle,

    // NN-Descent k-NN graph: init + both rounds unrolled
    "q252_knn_graph" -> knnGraphOracle,

    // graph serve: the build unroll chained into the beam-walk unroll
    "q253_graph_search" -> graphSearchOracle,

    // graph SemDeDup: graph edges rescored + thresholded, then the
    // q44 recursive-CTE component closure
    "q256_graph_semdedup" -> graphSemDedupOracle,

    // chunk pooling: quantized-integer per-dim means, unrounded close
    "q259_chunk_pool" ->
      """SELECT vec_id % 100 AS doc, CAST(u.i AS INTEGER) AS pos,
        |  CAST(sum(CAST(round(CAST(embedding[u.i + 1] AS DOUBLE)
        |      * 1000000) AS BIGINT)) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) / 1000000.0 AS pooled,
        |  CAST(count(*) AS BIGINT) AS n_chunks
        |FROM embeddings, unnest(range(len(embedding))) AS u(i)
        |GROUP BY 1, 2""".stripMargin,

    // graph insert: initial-corpus build + batch walk + reverse update
    "q257_knn_graph_insert" -> knnGraphInsertOracle,
    // graph tombstone: serve over survivor-cut edges/entries/queries
    "q258_knn_graph_retraction" ->
      graphSearchOracleWith(c => s"$c % 7 != 0"),

    // standing-index durability (q260-q264): save → load → serve must
    // equal the in-memory serve, so each reuses its family's serve
    // oracle verbatim — any round-trip drift breaks the hash
    "q260_ivf_persist" -> ivfOracle,
    "q261_pq_persist" -> pqOracle,
    "q262_ivfpq_persist" -> ivfPqOracle,
    "q263_minhash_persist" -> minhashProbeOracle,
    "q264_graph_persist" -> graphSearchOracle,

    // unigram-LM: learning and tokenization, full EM unrolls
    "q266_unigram_vocab" -> unigramVocabOracle,
    "q267_unigram_tokenize" -> unigramTokenizeOracle,

    // layered graph serve: three graph unrolls + chained walks
    "q268_graph_layered" -> graphLayeredOracle,

    // layered maintenance: two builds + two insert folds + the
    // layered serve over the updated pair
    "q270_layered_maintain" -> graphLayeredMaintainOracle,

    // real-decode image embedding: exact integers off the closed-form
    // raster (q236's px CTE), grid-4 cells + 8 gradient octants
    "q271_image_embed_stats" -> (phashOracleCtes + ",\n" +
      imageEmbedCtes + "\n" +
      """SELECT m AS media_id, CAST(k AS INTEGER) AS dim_idx,
        |  s AS num, c AS den FROM c4
        |UNION ALL
        |SELECT m, CAST(16 + b AS INTEGER), cnt, tot FROM oc"""
        .stripMargin),

    // cosine top-k over the real-decode embedding: floats rebuilt by
    // the identical exact divisions (double op, REAL narrow), fold in
    // dim order — the whole ANN ranking reproduced on real content
    "q272_image_embed_ann" -> (phashOracleCtes + ",\n" +
      imageEmbedCtes + ",\n" +
      s"""vals AS MATERIALIZED (SELECT m, k AS dim,
         |    CAST(CAST(s AS DOUBLE) / (c * 765.0) AS REAL) AS v
         |  FROM c4
         |  UNION ALL
         |  SELECT m, 16 + b,
         |    CAST(CASE WHEN tot = 0 THEN 0.0
         |         ELSE CAST(cnt AS DOUBLE) / tot END AS REAL)
         |  FROM oc),
         |ev AS MATERIALIZED (SELECT m AS id,
         |    list(CAST(v AS DOUBLE) ORDER BY dim) AS v
         |  FROM vals GROUP BY m)
         |SELECT a_id AS vec_id, nbr_id, CAST(rnk AS INTEGER) AS rnk
         |FROM (SELECT a.id AS a_id, b.id AS nbr_id,
         |    row_number() OVER (PARTITION BY a.id ORDER BY
         |      ${dotSqlV("a.v", "b.v")} /
         |        sqrt(${dotSqlV("a.v", "a.v")} * ${dotSqlV("b.v", "b.v")})
         |        DESC, b.id) AS rnk
         |  FROM ev a JOIN ev b ON b.id != a.id WHERE a.id < 30) r
         |WHERE rnk <= $AnnK""".stripMargin),

    // near-dup pairs on the real-decode embedding (q26's shape over
    // q272's `ev` vectors) — recovers exactly the 75 planted pairs
    "q273_image_embed_dedup" -> (phashOracleCtes + ",\n" +
      imageEmbedCtes + ",\n" +
      s"""vals AS MATERIALIZED (SELECT m, k AS dim,
         |    CAST(CAST(s AS DOUBLE) / (c * 765.0) AS REAL) AS v
         |  FROM c4
         |  UNION ALL
         |  SELECT m, 16 + b,
         |    CAST(CASE WHEN tot = 0 THEN 0.0
         |         ELSE CAST(cnt AS DOUBLE) / tot END AS REAL)
         |  FROM oc),
         |ev AS MATERIALIZED (SELECT m AS id,
         |    list(CAST(v AS DOUBLE) ORDER BY dim) AS v
         |  FROM vals GROUP BY m)
         |SELECT a_id, b_id, cos FROM (
         |  SELECT a.id AS a_id, b.id AS b_id,
         |    ${dotSqlV("a.v", "b.v")} /
         |      sqrt(${dotSqlV("a.v", "a.v")} * ${dotSqlV("b.v", "b.v")})
         |      AS cos
         |  FROM ev a JOIN ev b ON a.id < b.id) p
         |WHERE cos >= 0.9985""".stripMargin),

    // hashed-TF text embedding: token buckets via the portable md5
    // 60-bit bridge, zero buckets materialized by the dim grid, each
    // value one exact double division narrowed to REAL
    "q274_text_embed" -> (textEmbedCtes(TfDims) + "\n" +
      s"""SELECT dc.doc_id, CAST(g.b AS INTEGER) AS dim_idx,
         |  CAST(CAST(coalesce(bc.cnt, 0) AS DOUBLE) / dc.tot AS REAL)
         |    AS val
         |FROM dc CROSS JOIN unnest(range(0, $TfDims)) g(b)
         |LEFT JOIN bc ON bc.doc_id = dc.doc_id AND bc.b = g.b"""
        .stripMargin),

    // cosine top-k over the hashed-TF embedding — q272's oracle shape
    // (vectors rebuilt by the identical exact divisions, fold in dim
    // order) on the text modality
    "q275_text_embed_ann" -> (textEmbedCtes(TfDims) + ",\n" +
      s"""ev AS MATERIALIZED (SELECT dc.doc_id AS id,
         |    list(CAST(CAST(CAST(coalesce(bc.cnt, 0) AS DOUBLE) /
         |      dc.tot AS REAL) AS DOUBLE) ORDER BY g.b) AS v
         |  FROM dc CROSS JOIN unnest(range(0, $TfDims)) g(b)
         |  LEFT JOIN bc ON bc.doc_id = dc.doc_id AND bc.b = g.b
         |  GROUP BY dc.doc_id)
         |SELECT a_id AS vec_id, nbr_id, CAST(rnk AS INTEGER) AS rnk
         |FROM (SELECT a.id AS a_id, b.id AS nbr_id,
         |    row_number() OVER (PARTITION BY a.id ORDER BY
         |      ${dotSqlV("a.v", "b.v")} /
         |        sqrt(${dotSqlV("a.v", "a.v")} * ${dotSqlV("b.v", "b.v")})
         |        DESC, b.id) AS rnk
         |  FROM ev a JOIN ev b ON b.id != a.id WHERE a.id < 30) r
         |WHERE rnk <= $AnnK""".stripMargin),

    // real-decode audio embedding: exact integers off the q245
    // fixture's closed-form samples (sm CTE) — 16 window sums/counts
    // + the zero-crossing pair count
    "q276_audio_embed_stats" -> (ahashOracleCtes + ",\n" +
      audioEmbedCtes + "\n" +
      """SELECT m AS media_id, CAST(w AS INTEGER) AS dim_idx,
        |  sw AS num, c AS den FROM ws
        |UNION ALL
        |SELECT m, CAST(16 AS INTEGER), nx, pairs FROM zc"""
        .stripMargin),

    // near-dup pairs on the real-decode audio embedding (q273's shape
    // on the audio modality) — recovers exactly the 60 planted pairs
    "q277_audio_embed_dedup" -> (ahashOracleCtes + ",\n" +
      audioEmbedCtes + ",\n" +
      s"""av AS (SELECT m, w AS dim,
         |    CAST(CAST(sw AS DOUBLE) / (c * 32768.0) AS REAL) AS v
         |  FROM ws
         |  UNION ALL
         |  SELECT m, 16, CAST(CAST(nx AS DOUBLE) / pairs AS REAL)
         |  FROM zc),
         |ev AS MATERIALIZED (SELECT m AS id,
         |    list(CAST(v AS DOUBLE) ORDER BY dim) AS v
         |  FROM av GROUP BY m)
         |SELECT a_id, b_id, cos FROM (
         |  SELECT a.id AS a_id, b.id AS b_id,
         |    ${dotSqlV("a.v", "b.v")} /
         |      sqrt(${dotSqlV("a.v", "a.v")} * ${dotSqlV("b.v", "b.v")})
         |      AS cos
         |  FROM ev a JOIN ev b ON a.id < b.id) p
         |WHERE cos >= 0.999""".stripMargin),

    // real-decode video embedding: exact integers off the q243
    // fixture's closed-form raster (vpx CTE) — pooled cells, clip
    // totals, gradient octants, frame-delta motion
    "q278_video_embed_stats" -> (vhashOracleCtes + ",\n" +
      videoEmbedCtes + "\n" +
      """SELECT m AS media_id, CAST(k AS INTEGER) AS dim_idx,
        |  s AS num, c AS den FROM vcs
        |UNION ALL SELECT m, CAST(16 AS INTEGER), ts, tp FROM vct
        |UNION ALL SELECT m, CAST(17 + b AS INTEGER), cnt, tot FROM voc
        |UNION ALL SELECT m, CAST(25 AS INTEGER), md, mc FROM vmd"""
        .stripMargin),

    // cosine top-k over the real-decode video embedding — floats
    // rebuilt by the identical exact op chain (two divisions, center,
    // /255, REAL narrow), fold in dim order (q272's oracle shape)
    "q279_video_embed_ann" -> (vhashOracleCtes + ",\n" +
      videoEmbedCtes + ",\n" +
      s"""vv AS (SELECT vcs.m, vcs.k AS dim,
         |    CAST((CAST(vcs.s AS DOUBLE) / vcs.c -
         |      CAST(vct.ts AS DOUBLE) / vct.tp) / 255.0 AS REAL) AS v
         |  FROM vcs JOIN vct ON vct.m = vcs.m
         |  UNION ALL
         |  SELECT m, 16 + b,
         |    CAST(CASE WHEN tot = 0 THEN 0.0
         |         ELSE CAST(cnt AS DOUBLE) / tot END AS REAL)
         |  FROM voc
         |  UNION ALL
         |  SELECT m, 24,
         |    CAST(CASE WHEN mc = 0 THEN 0.0
         |         ELSE CAST(md AS DOUBLE) / (mc * 255.0) END AS REAL)
         |  FROM vmd),
         |ev AS MATERIALIZED (SELECT m AS id,
         |    list(CAST(v AS DOUBLE) ORDER BY dim) AS v
         |  FROM vv GROUP BY m)
         |SELECT a_id AS vec_id, nbr_id, CAST(rnk AS INTEGER) AS rnk
         |FROM (SELECT a.id AS a_id, b.id AS nbr_id,
         |    row_number() OVER (PARTITION BY a.id ORDER BY
         |      ${dotSqlV("a.v", "b.v")} /
         |        sqrt(${dotSqlV("a.v", "a.v")} * ${dotSqlV("b.v", "b.v")})
         |        DESC, b.id) AS rnk
         |  FROM ev a JOIN ev b ON b.id != a.id WHERE a.id < 30) r
         |WHERE rnk <= $AnnK""".stripMargin),

    // decode → embed → index → serve: the q23 IVF unroll with its
    // vector source swapped for the image-embedding doubles (the
    // list-of-doubles CTE == the engine floats widened) — training,
    // assignment, probing, and ranking all replayed on real content
    "q281_image_embed_ivf" -> ivfOracleWith("TRUE",
      prelude = phashOracleCtes.stripPrefix("WITH ") + ",\n" +
        imageEmbedCtes + ",\n" +
        """ivals AS MATERIALIZED (SELECT m, k AS dim,
          |    CAST(CAST(s AS DOUBLE) / (c * 765.0) AS REAL) AS v
          |  FROM c4
          |  UNION ALL
          |  SELECT m, 16 + b,
          |    CAST(CASE WHEN tot = 0 THEN 0.0
          |         ELSE CAST(cnt AS DOUBLE) / tot END AS REAL)
          |  FROM oc),
          |iev AS MATERIALIZED (SELECT m AS id,
          |    list(CAST(v AS DOUBLE) ORDER BY dim) AS v
          |  FROM ivals GROUP BY m)""".stripMargin + ",\n",
      src = "SELECT id, v FROM iev"),

    // the modality router: all three real-decode embedding families
    // rebuilt from their closed-form fixture CTEs (image px / audio sm
    // / video vpx chains co-resident — distinct CTE names by
    // construction) and UNIONed with the engine's id offsets
    "q280_content_embed" -> (phashOracleCtes + ",\n" +
      imageEmbedCtes + ",\n" +
      ahashOracleCtes.stripPrefix("WITH ") + ",\n" +
      audioEmbedCtes + ",\n" +
      vhashOracleCtes.stripPrefix("WITH ") + ",\n" +
      videoEmbedCtes + "\n" +
      """SELECT m AS vec_id, 'image' AS modality,
        |  CAST(k AS INTEGER) AS dim_idx,
        |  CAST(CAST(s AS DOUBLE) / (c * 765.0) AS REAL) AS val
        |FROM c4
        |UNION ALL SELECT m, 'image', CAST(16 + b AS INTEGER),
        |  CAST(CASE WHEN tot = 0 THEN 0.0
        |       ELSE CAST(cnt AS DOUBLE) / tot END AS REAL)
        |FROM oc
        |UNION ALL SELECT m + 1000, 'audio', CAST(w AS INTEGER),
        |  CAST(CAST(sw AS DOUBLE) / (c * 32768.0) AS REAL)
        |FROM ws
        |UNION ALL SELECT m + 1000, 'audio', CAST(16 AS INTEGER),
        |  CAST(CAST(nx AS DOUBLE) / pairs AS REAL)
        |FROM zc
        |UNION ALL SELECT vcs.m + 2000, 'video',
        |  CAST(vcs.k AS INTEGER),
        |  CAST((CAST(vcs.s AS DOUBLE) / vcs.c -
        |    CAST(vct.ts AS DOUBLE) / vct.tp) / 255.0 AS REAL)
        |FROM vcs JOIN vct ON vct.m = vcs.m
        |UNION ALL SELECT m + 2000, 'video', CAST(16 + b AS INTEGER),
        |  CAST(CASE WHEN tot = 0 THEN 0.0
        |       ELSE CAST(cnt AS DOUBLE) / tot END AS REAL)
        |FROM voc
        |UNION ALL SELECT m + 2000, 'video', CAST(24 AS INTEGER),
        |  CAST(CASE WHEN mc = 0 THEN 0.0
        |       ELSE CAST(md AS DOUBLE) / (mc * 255.0) END AS REAL)
        |FROM vmd""".stripMargin),

    // IVF-sharded k-NN graph build: q23's centroid CTEs + top-2 cell
    // assignment + global rank over distinct shared-cell pairs
    "q269_knn_graph_ivf" -> knnGraphIvfOracle,

    // MP3 demux: every output column recomputed from the fixture's
    // closed form (q249's discipline) — a parse bug moves an integer
    "q265_mp3_metadata" ->
      """WITH m AS (SELECT doc_id AS media_id FROM documents
        |           WHERE doc_id < 120),
        |f AS (SELECT media_id, u.f AS f,
        |    list_value(32,40,48,56,64,80,96,112,128,
        |               160,192,224,256,320)[
        |      CASE WHEN media_id % 3 = 0 THEN 1 + (media_id + u.f) % 14
        |           ELSE 1 + media_id % 14 END] AS kbps,
        |    u.f % 2 AS pad,
        |    list_value(44100,48000,32000)[media_id % 3 + 1] AS rate
        |  FROM m, unnest(range(8 + media_id % 5)) AS u(f)),
        |agg AS (SELECT media_id, rate,
        |    count(*) AS n_frames, min(kbps) AS brmin, max(kbps) AS brmax,
        |    sum((144 * kbps * 1000) // rate + pad) AS total
        |  FROM f GROUP BY 1, 2)
        |SELECT media_id, 'MPEG1' AS version, CAST(3 AS INTEGER) AS layer,
        |  CAST(rate AS INTEGER) AS sample_rate,
        |  list_value('stereo','joint_stereo','dual_channel','mono')[
        |    media_id % 4 + 1] AS channel_mode,
        |  CAST(n_frames AS BIGINT) AS n_frames,
        |  (n_frames * 1152 * 1000) // rate AS duration_ms,
        |  CAST(brmin AS INTEGER) AS bitrate_kbps_min,
        |  CAST(brmax AS INTEGER) AS bitrate_kbps_max,
        |  brmin <> brmax AS is_vbr,
        |  CAST(CASE WHEN media_id % 2 = 1
        |    THEN 10 + 13 + (media_id % 4) * 7 ELSE 0 END AS INTEGER)
        |    AS id3v2_size,
        |  CAST(CASE WHEN media_id % 2 = 0 THEN n_frames ELSE -1 END
        |    AS BIGINT) AS xing_frames,
        |  CAST(CASE WHEN media_id % 2 = 0 THEN total ELSE -1 END
        |    AS BIGINT) AS xing_bytes
        |FROM agg""".stripMargin,

    "q141_semdedup" -> semDedupOracle,

    "q142_dsir" ->
      s"""WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws
         |           FROM documents),
         |g AS (SELECT doc_id,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS flag,
         |    unnest(list_transform(range(len(ws) - 1),
         |      i -> ws[i+1] || ' ' || ws[i+2])) AS gram
         |  FROM w),
         |dc AS (SELECT doc_id, flag,
         |    CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) % $DsirBuckets
         |      AS bkt,
         |    CAST(count(*) AS BIGINT) AS c
         |  FROM g GROUP BY 1, 2, 3),
         |bs AS (SELECT bkt, CAST(sum(c) AS BIGINT) AS raw,
         |    CAST(sum(c * flag) AS BIGINT) AS tgt
         |  FROM dc GROUP BY 1),
         |tt AS (SELECT CAST(sum(raw) AS BIGINT) AS nr,
         |    CAST(sum(tgt) AS BIGINT) AS nt FROM bs),
         |ll AS (SELECT bkt,
         |    log2(CAST(CAST(tgt + 1 AS HUGEINT) * (nr + $DsirBuckets)
         |           AS DOUBLE)
         |      / CAST(CAST(raw + 1 AS HUGEINT) * (nt + $DsirBuckets)
         |           AS DOUBLE)) AS lam
         |  FROM bs CROSS JOIN tt)
         |SELECT dc.doc_id, CAST(sum(dc.c) AS BIGINT) AS n_grams,
         |  round(CAST(sum(CAST(round(CAST(dc.c AS DOUBLE) * ll.lam, 9)
         |    AS DECIMAL(38,9))) AS DOUBLE), 6) AS logw_bits
         |FROM dc JOIN ll USING (bkt) GROUP BY 1""".stripMargin,

    "q143_hard_negatives" -> {
      def dot(x: String, y: String) =
        s"list_sum(list_transform(list_zip($x.embedding, $y.embedding), " +
          "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
      s"""SELECT vec_id, nbr_id, CAST(rnk AS INTEGER) AS rnk FROM (
         |  SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY ${dot("a", "b")} / sqrt(${dot("a", "a")} * ${dot("b", "b")}) DESC,
         |               b.vec_id) AS rnk
         |  FROM embeddings a JOIN embeddings b ON a.label != b.label
         |  WHERE a.vec_id < 50) r
         |WHERE rnk <= 5""".stripMargin
    },

    "q148_jl_project" -> jlOracle,

    "q150_quantile_sketch" ->
      s"""WITH h AS (SELECT o_orderpriority,
         |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         |    CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)
         |      || '$QskSalt'), 1, 12) AS BIGINT) AS hv
         |  FROM orders),
         |rk AS (SELECT o_orderpriority, cents,
         |    row_number() OVER (PARTITION BY o_orderpriority
         |      ORDER BY hv, cents) AS rn
         |  FROM h),
         |s AS (SELECT o_orderpriority, cents FROM rk WHERE rn <= $QskK)
         |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_sample,
         |  quantile_cont(cents * 4, 0.25) / 400.0 AS p25,
         |  quantile_cont(cents * 4, 0.5) / 400.0 AS p50,
         |  quantile_cont(cents * 4, 0.75) / 400.0 AS p75
         |FROM s GROUP BY 1""".stripMargin,

    "q149_calibration" ->
      """WITH s AS (SELECT
        |    CASE WHEN label = 0 THEN 1 ELSE 0 END AS pos,
        |    CAST(round(CAST(embedding[1] AS DOUBLE) * 10000) AS BIGINT)
        |      AS sq
        |  FROM embeddings)
        |SELECT (sq - ((sq % 1000 + 1000) % 1000)) // 1000 AS bin,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(pos) AS BIGINT) AS n_pos,
        |  round(CAST(sum(sq) AS DOUBLE) / count(*) / 10000.0, 6)
        |    AS mean_score,
        |  round(CAST(sum(pos) AS DOUBLE) / count(*), 6) AS pos_rate
        |FROM s GROUP BY 1""".stripMargin,

    "q147_centroid_classify" -> centroidConfusionOracle,

    // F1 report over q147's confusion matrix — the shared oracle text
    // wraps as a subquery, so both stay in lockstep
    "q210_f1_report" ->
      s"""WITH conf AS (SELECT * FROM ($centroidConfusionOracle) c),
         |t AS (SELECT label AS class, CAST(sum(n) AS BIGINT) AS n_true
         |      FROM conf GROUP BY 1),
         |p AS (SELECT pred AS class, CAST(sum(n) AS BIGINT) AS n_pred
         |      FROM conf GROUP BY 1),
         |tp AS (SELECT label AS class, n AS tp FROM conf
         |       WHERE label = pred),
         |s AS (SELECT class, coalesce(n_true, 0) AS n_true,
         |    coalesce(n_pred, 0) AS n_pred, coalesce(tp, 0) AS tp
         |  FROM t FULL OUTER JOIN p USING (class)
         |  LEFT JOIN tp USING (class))
         |SELECT class, n_true, n_pred, tp,
         |  CASE WHEN n_pred > 0 THEN round(
         |    CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE), 6) END AS prec,
         |  CASE WHEN n_true > 0 THEN round(
         |    CAST(tp AS DOUBLE) / CAST(n_true AS DOUBLE), 6) END AS rec,
         |  CASE WHEN n_true + n_pred > 0 THEN round(
         |    CAST(tp * 2 AS DOUBLE) / CAST(n_true + n_pred AS DOUBLE), 6)
         |  END AS f1
         |FROM s""".stripMargin,

    "q145_gopher_rules" -> {
      val stops = TextFunctions.langLexica.head._2
        .map(w => s"'$w'").mkString(",")
      s"""WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS ws
         |           FROM documents),
         |base AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
         |    CAST(len(list_intersect(list_distinct(ws), [$stops]))
         |      AS BIGINT) AS stop_kinds,
         |    CAST(len(text) AS BIGINT) AS n_chars
         |  FROM w),
         |tf AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_freq FROM (
         |    SELECT doc_id, wd, count(*) AS c FROM (
         |      SELECT doc_id, unnest(ws) AS wd FROM w) u GROUP BY 1, 2) g
         |  GROUP BY 1)
         |SELECT b.doc_id, b.n_words, t.top_freq,
         |  b.n_words BETWEEN $GoMinWords AND $GoMaxWords AS r_len,
         |  (b.n_chars - b.n_words + 1) >= b.n_words * 3
         |    AND (b.n_chars - b.n_words + 1) <= b.n_words * 10
         |    AS r_wordlen,
         |  t.top_freq * 5 <= b.n_words AS r_dominance,
         |  b.stop_kinds >= 2 AS r_stopword,
         |  (b.n_words BETWEEN $GoMinWords AND $GoMaxWords)
         |    AND (b.n_chars - b.n_words + 1) >= b.n_words * 3
         |    AND (b.n_chars - b.n_words + 1) <= b.n_words * 10
         |    AND t.top_freq * 5 <= b.n_words
         |    AND b.stop_kinds >= 2 AS keep
         |FROM base b JOIN tf t USING (doc_id)""".stripMargin
    },

    "q146_fertility" ->
      s"""SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_words,
         |  CAST(sum(len(regexp_extract_all(text,
         |    '${TextFunctions.BpePattern}'))) AS BIGINT) AS n_subwords,
         |  CAST(sum(len(text)) AS BIGINT) AS n_chars,
         |  round(CAST(sum(len(regexp_extract_all(text,
         |      '${TextFunctions.BpePattern}'))) AS DOUBLE)
         |    / CAST(sum(len(string_split(text, ' '))) AS DOUBLE), 6)
         |    AS fertility,
         |  CASE WHEN sum(len(regexp_extract_all(text,
         |      '${TextFunctions.BpePattern}'))) > 0
         |    THEN round(CAST(sum(len(text)) AS DOUBLE)
         |      / CAST(sum(len(regexp_extract_all(text,
         |        '${TextFunctions.BpePattern}'))) AS DOUBLE), 6)
         |  END AS chars_per_subword
         |FROM documents GROUP BY 1, 2""".stripMargin,

    "q144_ngram_novelty" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |         range(len(ws) - 2),
        |         i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]))) AS s
        |       FROM w),
        |f AS (SELECT s, min(doc_id) AS fid FROM sh GROUP BY 1)
        |SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
        |  CAST(sum(CASE WHEN f.fid = sh.doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_novel,
        |  round(CAST(sum(CASE WHEN f.fid = sh.doc_id THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*), 6) AS novelty
        |FROM sh JOIN f USING (s) GROUP BY 1""".stripMargin,

    "q86_mad_outliers" ->
      """WITH o AS (SELECT o_orderpriority,
        |    CAST(round(o_totalprice * 100) AS BIGINT) * 2 AS hc
        |  FROM orders),
        |m AS (SELECT o_orderpriority, quantile_cont(hc, 0.5) AS med_hc
        |  FROM o GROUP BY o_orderpriority),
        |d AS (SELECT o.o_orderpriority, abs(o.hc - m.med_hc) * 2 AS dev_qc
        |  FROM o JOIN m USING (o_orderpriority)),
        |md AS (SELECT o_orderpriority, quantile_cont(dev_qc, 0.5) AS mad_qc
        |  FROM d GROUP BY o_orderpriority)
        |SELECT d.o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN dev_qc > 3 * mad_qc THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers,
        |  any_value(mad_qc) / 400.0 AS mad
        |FROM d JOIN md USING (o_orderpriority)
        |GROUP BY d.o_orderpriority""".stripMargin,

    "q87_corr_matrix" -> corrOracle,

    "q81_segment_dedup" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents),
        |seg AS (SELECT doc_id, CAST(i AS INTEGER) AS idx,
        |    array_to_string(ws[i*4+1 : i*4+4], ' ') AS seg
        |  FROM w, unnest(range((len(ws)-1)//4 + 1)) AS t(i)),
        |k AS (SELECT doc_id, idx, seg,
        |    row_number() OVER (PARTITION BY seg ORDER BY doc_id, idx)
        |      AS rn FROM seg)
        |SELECT doc_id, string_agg(seg, ' ' ORDER BY idx) AS text_dedup
        |FROM k WHERE rn = 1 GROUP BY doc_id""".stripMargin,

    // MATERIALIZED on the multiply-referenced CTEs (fp twice via e,
    // ed twice in the wedge join) — the q95 inlining lesson
    "q151_adamic_adar" ->
      """WITH it AS MATERIALIZED (SELECT DISTINCT l_orderkey AS bsk,
        |      l_partkey AS i FROM lineitem),
        |fp AS MATERIALIZED (SELECT x.i AS a, y.i AS b
        |  FROM it x JOIN it y ON x.bsk = y.bsk AND x.i < y.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT a AS src, b AS dst FROM fp
        |      UNION ALL SELECT b AS src, a AS dst FROM fp),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d
        |        FROM e GROUP BY src),
        |ed AS MATERIALIZED (SELECT e.src, e.dst, deg.d
        |  FROM e JOIN deg USING (src))
        |SELECT x.dst AS item_a, y.dst AS item_b,
        |  CAST(count(*) AS BIGINT) AS common_cnt,
        |  round(CAST(sum(CAST(round(1.0 / log2(x.d), 9)
        |    AS DECIMAL(38,9))) AS DOUBLE), 6) AS aa_score
        |FROM ed x JOIN ed y ON x.src = y.src AND x.dst < y.dst
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,

    "q152_interval_union" ->
      """WITH iv AS (SELECT user_id, event_id, epoch_ms(ts) AS lo,
        |    epoch_ms(ts) + (event_id % 10 + 1) * 60000 AS hi
        |  FROM events),
        |p AS (SELECT user_id, event_id, lo, hi,
        |    max(hi) OVER (PARTITION BY user_id ORDER BY lo, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM iv),
        |isl AS (SELECT user_id, lo, hi,
        |    CAST(sum(CASE WHEN pm IS NULL OR lo > pm THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY lo, event_id
        |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
        |  FROM p),
        |g AS (SELECT user_id, island, CAST(count(*) AS BIGINT) AS n,
        |    min(lo) AS mlo, max(hi) AS mhi
        |  FROM isl GROUP BY 1, 2)
        |SELECT user_id, CAST(sum(n) AS BIGINT) AS n_intervals,
        |  CAST(count(*) AS BIGINT) AS n_islands,
        |  CAST(sum(mhi - mlo) AS BIGINT) AS covered
        |FROM g GROUP BY 1""".stripMargin,

    "q153_string_agg" ->
      """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_customers,
        |  string_agg(c_name, ',' ORDER BY c_name) AS names
        |FROM customer WHERE c_acctbal > 9000
        |GROUP BY 1""".stripMargin,

    "q154_unpivot" ->
      """WITH a AS (SELECT l_returnflag,
        |    sum(l_quantity) AS sum_qty,
        |    CAST(sum(round(l_extendedprice * 100)) AS BIGINT) / 100.0
        |      AS revenue,
        |    CAST(count(*) AS DOUBLE) AS n
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value
        |FROM a
        |UNION ALL
        |SELECT l_returnflag, 'revenue' AS measure, revenue AS value
        |FROM a
        |UNION ALL
        |SELECT l_returnflag, 'n' AS measure, n AS value FROM a""".stripMargin,

    "q155_benford" ->
      """WITH d AS (SELECT l_returnflag,
        |    CAST(substr(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
        |      AS VARCHAR), 1, 1) AS INTEGER) AS digit
        |  FROM lineitem),
        |c AS (SELECT l_returnflag, digit, CAST(count(*) AS BIGINT) AS obs
        |  FROM d GROUP BY 1, 2),
        |w AS (SELECT l_returnflag, digit, obs,
        |    CAST(sum(obs) OVER (PARTITION BY l_returnflag) AS BIGINT)
        |      AS n
        |  FROM c)
        |SELECT l_returnflag, digit, obs,
        |  round(n * log10(1.0 + 1.0 / digit), 6) AS expected,
        |  round((obs - n * log10(1.0 + 1.0 / digit))
        |      * (obs - n * log10(1.0 + 1.0 / digit))
        |      / (n * log10(1.0 + 1.0 / digit)), 6) AS contrib
        |FROM w""".stripMargin,

    // The DSIR λ-sum discipline end-to-end: per-(class,token) logs
    // round(9), per-doc terms round(9) → decimal(38,9) sum, argmax on
    // (score DESC, class). dt/ctok MATERIALIZED (multiply referenced)
    "q156_naive_bayes" ->
      """WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws
        |           FROM documents),
        |dt AS MATERIALIZED (SELECT doc_id, lang, tok,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT doc_id, lang, unnest(ws) AS tok FROM w) u
        |  GROUP BY 1, 2, 3),
        |ctok AS MATERIALIZED (SELECT lang AS cl, tok,
        |    CAST(sum(c) AS BIGINT) AS ct
        |  FROM dt GROUP BY 1, 2),
        |vv AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM dt),
        |ctot AS (SELECT cl, CAST(sum(ct) AS BIGINT) AS tot
        |         FROM ctok GROUP BY 1),
        |model AS (SELECT cl, tok,
        |    round(log2(CAST(ct + 1 AS DOUBLE) / CAST(tot + v AS DOUBLE)),
        |      9) AS lp
        |  FROM ctok JOIN ctot USING (cl) CROSS JOIN vv),
        |dflt AS (SELECT cl,
        |    round(log2(1.0 / CAST(tot + v AS DOUBLE)), 9) AS lp0
        |  FROM ctot CROSS JOIN vv),
        |pri AS (SELECT lang AS cl,
        |    round(log2(CAST(count(*) AS DOUBLE)
        |      / (SELECT CAST(count(*) AS DOUBLE) FROM documents)), 9)
        |      AS lpr
        |  FROM documents GROUP BY 1),
        |sc AS (SELECT dt.doc_id, dt.lang, f.cl,
        |    sum(CAST(round(CAST(dt.c AS DOUBLE)
        |      * coalesce(m.lp, f.lp0), 9) AS DECIMAL(38,9))) AS s
        |  FROM dt CROSS JOIN dflt f
        |  LEFT JOIN model m ON m.cl = f.cl AND m.tok = dt.tok
        |  GROUP BY 1, 2, 3),
        |best AS (SELECT sc.doc_id, sc.lang, sc.cl AS pred,
        |    row_number() OVER (PARTITION BY sc.doc_id
        |      ORDER BY sc.s + CAST(p.lpr AS DECIMAL(38,9)) DESC, sc.cl)
        |      AS rn
        |  FROM sc JOIN pri p ON p.cl = sc.cl)
        |SELECT lang, pred, CAST(count(*) AS BIGINT) AS n
        |FROM best WHERE rn = 1 GROUP BY 1, 2""".stripMargin,

    "q157_ols2" ->
      """WITH z AS (SELECT l_returnflag, l_linestatus,
        |    CAST(l_quantity AS BIGINT) AS x1,
        |    CAST(round(l_discount * 100) AS BIGINT) AS x2,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        |  FROM lineitem),
        |a AS (SELECT l_returnflag, l_linestatus,
        |    CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(x1) AS HUGEINT) AS s1,
        |    CAST(sum(x2) AS HUGEINT) AS s2,
        |    CAST(sum(y) AS HUGEINT) AS sy,
        |    CAST(sum(x1*x1) AS HUGEINT) AS s11,
        |    CAST(sum(x2*x2) AS HUGEINT) AS s22,
        |    CAST(sum(x1*x2) AS HUGEINT) AS s12,
        |    CAST(sum(x1*y) AS HUGEINT) AS s1y,
        |    CAST(sum(x2*y) AS HUGEINT) AS s2y
        |  FROM z GROUP BY 1, 2),
        |c AS (SELECT l_returnflag, l_linestatus, n, s1, s2, sy,
        |    CAST(n*s11 - s1*s1 AS DOUBLE) AS c11,
        |    CAST(n*s22 - s2*s2 AS DOUBLE) AS c22,
        |    CAST(n*s12 - s1*s2 AS DOUBLE) AS c12,
        |    CAST(n*s1y - s1*sy AS DOUBLE) AS c1y,
        |    CAST(n*s2y - s2*sy AS DOUBLE) AS c2y
        |  FROM a),
        |d AS (SELECT *, c11*c22 - c12*c12 AS det FROM c)
        |SELECT l_returnflag, l_linestatus, CAST(n AS BIGINT) AS n,
        |  CASE WHEN det <> 0
        |    THEN round((c22*c1y - c12*c2y) / det, 6) END AS b1,
        |  CASE WHEN det <> 0
        |    THEN round((c11*c2y - c12*c1y) / det, 6) END AS b2,
        |  CASE WHEN det <> 0
        |    THEN round((CAST(sy AS DOUBLE)
        |      - ((c22*c1y - c12*c2y) / det) * CAST(s1 AS DOUBLE)
        |      - ((c11*c2y - c12*c1y) / det) * CAST(s2 AS DOUBLE))
        |      / CAST(n AS DOUBLE), 6) END AS b0
        |FROM d""".stripMargin,

    "q158_dirichlet_ql" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
         |           FROM documents),
         |stats AS (SELECT CAST(sum(len(ws)) AS BIGINT) AS ct FROM d),
         |tl AS (SELECT doc_id, len(ws) AS dl, w AS term,
         |    CAST(count(*) AS BIGINT) AS tf
         |  FROM d, unnest(ws) AS t(w)
         |  WHERE w IN (${Bm25Terms.map("'" + _ + "'").mkString(", ")})
         |  GROUP BY 1, 2, 3),
         |cf AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cf
         |       FROM tl GROUP BY 1)
         |SELECT tl.doc_id, CAST(count(*) AS BIGINT) AS n_terms,
         |  round(sum(log2(1.0 + CAST(tf AS DOUBLE)
         |      / ($QlMu * CAST(cf.cf AS DOUBLE) / CAST(ct AS DOUBLE))))
         |    + ${Bm25Terms.distinct.size.toDouble}
         |      * log2($QlMu / (CAST(dl AS DOUBLE) + $QlMu)), 6) AS score
         |FROM tl JOIN cf USING (term) CROSS JOIN stats
         |GROUP BY tl.doc_id, tl.dl""".stripMargin,

    "q159_silhouette" -> silhouetteOracle,
    "q160_rand_index" -> randIndexOracle,
    "q161_kdist" -> kdistOracle,

    // the incremental fold ends at the same clustering as the
    // from-scratch run — one oracle text serves both
    "q164_incr_dbscan" -> dbscanOracle,

    "q162_kappa" ->
      s"""WITH pred AS MATERIALIZED ($langIdOracle),
         |ct AS MATERIALIZED (SELECT p.lang_pred AS a, d.lang AS b,
         |    CAST(count(*) AS BIGINT) AS c
         |  FROM pred p JOIN documents d USING (doc_id) GROUP BY 1, 2),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT)
         |      AS agree
         |  FROM ct),
         |mar AS (SELECT CAST(coalesce(sum(r * cc), 0) AS BIGINT) AS s
         |  FROM (SELECT a, CAST(sum(c) AS BIGINT) AS r FROM ct
         |        GROUP BY a) ra
         |  JOIN (SELECT b, CAST(sum(c) AS BIGINT) AS cc FROM ct
         |        GROUP BY b) cb ON ra.a = cb.b)
         |SELECT n, agree,
         |  CASE WHEN n * n - s <> 0 THEN
         |    CAST(n * agree - s AS DOUBLE) / CAST(n * n - s AS DOUBLE)
         |  END AS kappa
         |FROM tot, mar""".stripMargin,

    "q163_contamination" -> {
      def dot(x: String, y: String) =
        s"list_sum(list_transform(list_zip($x.embedding, $y.embedding), " +
          "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
      s"""WITH h AS (SELECT * FROM embeddings WHERE vec_id % 20 = 0),
         |tr AS (SELECT * FROM embeddings WHERE vec_id % 20 <> 0),
         |flt AS MATERIALIZED (SELECT * FROM (
         |    SELECT h.vec_id AS a_id, tr.vec_id AS b_id,
         |      ${dot("h", "tr")}
         |        / sqrt(${dot("h", "h")} * ${dot("tr", "tr")}) AS cos
         |    FROM h JOIN tr ON TRUE) p
         |  WHERE cos >= $SemTau),
         |top AS (SELECT a_id, b_id, cos, row_number() OVER (
         |    PARTITION BY a_id ORDER BY cos DESC, b_id) AS rn
         |  FROM flt)
         |SELECT f.a_id AS vec_id, CAST(count(*) AS BIGINT) AS n_hits,
         |  max(t.b_id) AS top_train_id, round(max(t.cos), 6) AS top_cos
         |FROM flt f JOIN top t ON f.a_id = t.a_id AND t.rn = 1
         |GROUP BY 1""".stripMargin
    },

    "q165_mann_kendall" ->
      """WITH d AS (SELECT o_orderpriority,
        |    date_diff('day', DATE '1970-01-01',
        |      CAST(o_orderdate AS DATE)) AS day,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1, 2),
        |sp AS (SELECT a.o_orderpriority,
        |    CAST(sum(CASE WHEN b.cents > a.cents THEN 1
        |      WHEN b.cents < a.cents THEN -1 ELSE 0 END) AS BIGINT) AS s,
        |    CAST(count(*) AS BIGINT) AS tt
        |  FROM d a JOIN d b ON a.o_orderpriority = b.o_orderpriority
        |    AND a.day < b.day
        |  GROUP BY 1),
        |tv AS (SELECT o_orderpriority, cents,
        |    CAST(count(*) AS BIGINT) AS t FROM d GROUP BY 1, 2),
        |ties AS (SELECT o_orderpriority, CAST(sum(t) AS BIGINT) AS n,
        |    sum(CAST(t AS HUGEINT) * (t - 1) * (t * 2 + 5)) AS tcor,
        |    sum(CAST(t AS HUGEINT) * (t - 1)) AS tx2
        |  FROM tv GROUP BY 1),
        |v AS (SELECT ties.o_orderpriority, ties.n,
        |    coalesce(sp.s, 0) AS s, coalesce(sp.tt, 0) AS tt, ties.tx2,
        |    CAST(n AS HUGEINT) * (n - 1) * (CAST(n AS HUGEINT) * 2 + 5)
        |      - tcor AS var18
        |  FROM ties LEFT JOIN sp USING (o_orderpriority))
        |SELECT o_orderpriority, n, s,
        |  CASE WHEN CAST(var18 AS DOUBLE) > 0 THEN
        |    round(CAST(CASE WHEN s > 0 THEN s - 1 WHEN s < 0 THEN s + 1
        |        ELSE 0 END AS DOUBLE)
        |      / sqrt(CAST(var18 AS DOUBLE) / 18.0), 6)
        |  END AS z,
        |  CASE WHEN sqrt(CAST(tt * 2 - tx2 AS DOUBLE) / 2.0)
        |      * sqrt(CAST(tt AS DOUBLE)) <> 0 THEN
        |    round(CAST(s AS DOUBLE)
        |      / (sqrt(CAST(tt * 2 - tx2 AS DOUBLE) / 2.0)
        |        * sqrt(CAST(tt AS DOUBLE))), 6)
        |  END AS tau_b
        |FROM v""".stripMargin,

    "q166_cross_corr" ->
      s"""WITH d AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day,
         |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         |      AS cents
         |  FROM events GROUP BY 1, 2),
         |l AS (SELECT event_type AS series_b,
         |    CAST(r.lag AS INTEGER) AS lag, day - r.lag AS day,
         |    CAST(cents AS HUGEINT) AS vb
         |  FROM d, range(0, ${XcfMaxLag + 1}) r(lag)),
         |p AS (SELECT a.event_type AS series_a, l.series_b, l.lag,
         |    CAST(a.cents AS HUGEINT) AS va, l.vb
         |  FROM d a JOIN l ON a.day = l.day
         |    AND a.event_type <> l.series_b)
         |SELECT series_a, series_b, lag,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  CASE WHEN sqrt(CAST(count(*)*sum(va*va) - sum(va)*sum(va)
         |        AS DOUBLE))
         |      * sqrt(CAST(count(*)*sum(vb*vb) - sum(vb)*sum(vb)
         |        AS DOUBLE)) <> 0
         |    THEN round(CAST(count(*)*sum(va*vb) - sum(va)*sum(vb)
         |        AS DOUBLE)
         |      / (sqrt(CAST(count(*)*sum(va*va) - sum(va)*sum(va)
         |          AS DOUBLE))
         |        * sqrt(CAST(count(*)*sum(vb*vb) - sum(vb)*sum(vb)
         |            AS DOUBLE))), 6)
         |  END AS xcf
         |FROM p GROUP BY 1, 2, 3""".stripMargin,

    "q167_welch_t" ->
      """WITH v AS (SELECT o_orderpriority,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS v,
        |    (o_orderstatus = 'F') AS a
        |  FROM orders),
        |m AS (SELECT o_orderpriority,
        |    CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
        |    sum(CASE WHEN a THEN CAST(v AS HUGEINT) ELSE 0 END) AS sa,
        |    sum(CASE WHEN a THEN 0 ELSE CAST(v AS HUGEINT) END) AS sb,
        |    sum(CASE WHEN a THEN CAST(v AS HUGEINT) * v ELSE 0 END)
        |      AS ssa,
        |    sum(CASE WHEN a THEN 0 ELSE CAST(v AS HUGEINT) * v END)
        |      AS ssb
        |  FROM v GROUP BY 1),
        |d AS (SELECT *,
        |    CASE WHEN n_a > 0 THEN CAST(sa AS DOUBLE)
        |      / CAST(n_a AS DOUBLE) END AS ma,
        |    CASE WHEN n_b > 0 THEN CAST(sb AS DOUBLE)
        |      / CAST(n_b AS DOUBLE) END AS mb,
        |    CASE WHEN n_a > 1 THEN CAST(n_a * ssa - sa * sa AS DOUBLE)
        |      / (CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) - 1.0))
        |      / CAST(n_a AS DOUBLE) END AS sea,
        |    CASE WHEN n_b > 1 THEN CAST(n_b * ssb - sb * sb AS DOUBLE)
        |      / (CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) - 1.0))
        |      / CAST(n_b AS DOUBLE) END AS seb
        |  FROM m)
        |SELECT o_orderpriority, n_a, n_b,
        |  CASE WHEN n_a > 0 THEN round(ma, 6) END AS mean_a,
        |  CASE WHEN n_b > 0 THEN round(mb, 6) END AS mean_b,
        |  CASE WHEN n_a > 1 AND n_b > 1 AND sea + seb > 0 THEN
        |    round((ma - mb) / sqrt(sea + seb), 6) END AS t_stat,
        |  CASE WHEN n_a > 1 AND n_b > 1 AND sea + seb > 0 THEN
        |    round((sea + seb) * (sea + seb)
        |      / (sea * sea / (CAST(n_a AS DOUBLE) - 1.0)
        |        + seb * seb / (CAST(n_b AS DOUBLE) - 1.0)), 6)
        |  END AS df
        |FROM d""".stripMargin,

    "q168_k_anonymity" ->
      s"""SELECT c_mktsegment, c_nationkey,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(DISTINCT c_acctbal < 0) AS BIGINT) AS n_sensitive,
         |  count(*) < $KAnonK AS k_violation,
         |  count(DISTINCT c_acctbal < 0) < $KAnonL AS l_violation
         |FROM customer GROUP BY 1, 2
         |HAVING count(*) < $KAnonK
         |  OR count(DISTINCT c_acctbal < 0) < $KAnonL""".stripMargin,

    "q169_dp_counts" ->
      s"""WITH g AS (SELECT event_type AS dim,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM events GROUP BY 1),
         |u AS (SELECT *,
         |    (CAST(CAST('0x' || substr(md5('$DpSalt:' || dim), 1, 15)
         |        AS BIGINT) % 4503599627370496 AS DOUBLE) + 0.5)
         |      / 4503599627370496.0 AS u
         |  FROM g)
         |SELECT dim, n,
         |  round(n + CASE WHEN u <= 0.5 THEN ${1.0 / DpEps} * ln(u * 2.0)
         |    ELSE ${-1.0 / DpEps} * ln(2.0 - u * 2.0) END, 6) AS noisy_n
         |FROM u""".stripMargin,

    "q170_wilson" ->
      s"""WITH m AS (SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS k
         |  FROM customer GROUP BY 1),
         |d AS (SELECT *, CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p,
         |    1.0 + ${WilsonZ * WilsonZ} / CAST(n AS DOUBLE) AS denom
         |  FROM m)
         |SELECT c_mktsegment, n, k, round(p, 6) AS p_hat,
         |  round((p + ${WilsonZ * WilsonZ} / (CAST(n AS DOUBLE) * 2.0))
         |      / denom
         |    - ($WilsonZ / denom) * sqrt(p * (1.0 - p) / CAST(n AS DOUBLE)
         |      + ${WilsonZ * WilsonZ}
         |        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 4.0)), 6)
         |    AS lo,
         |  round((p + ${WilsonZ * WilsonZ} / (CAST(n AS DOUBLE) * 2.0))
         |      / denom
         |    + ($WilsonZ / denom) * sqrt(p * (1.0 - p) / CAST(n AS DOUBLE)
         |      + ${WilsonZ * WilsonZ}
         |        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 4.0)), 6)
         |    AS hi
         |FROM d""".stripMargin,

    "q171_survival" ->
      s"""WITH pu AS (SELECT user_id, min(epoch_ms(ts)) AS f,
         |    max(epoch_ms(ts)) AS l
         |  FROM events GROUP BY 1),
         |mx AS (SELECT max(l) AS m FROM pu),
         |d AS (SELECT (l - f) // 86400000 AS t,
         |    CASE WHEN l < m - ${ChurnGapDays * 86400000L} THEN 1
         |      ELSE 0 END AS dd
         |  FROM pu, mx),
         |pt AS (SELECT t, CAST(sum(dd) AS BIGINT) AS n_events,
         |    CAST(count(*) - sum(dd) AS BIGINT) AS n_censored
         |  FROM d GROUP BY 1),
         |b AS (SELECT t, n_events, n_censored,
         |    CAST(sum(n_events + n_censored) OVER () AS BIGINT)
         |      - CAST(coalesce(sum(n_events + n_censored) OVER (
         |          ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
         |          AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
         |  FROM pt),
         |c AS (SELECT *,
         |    sum(CAST(round(CASE WHEN n_events > 0
         |        AND n_events < n_risk THEN
         |        ln(CAST(n_risk - n_events AS DOUBLE)
         |          / CAST(n_risk AS DOUBLE))
         |      ELSE 0.0 END, 9) AS DECIMAL(38,9))) OVER (ORDER BY t
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS lnsum,
         |    max(CASE WHEN n_events = n_risk THEN 1 ELSE 0 END)
         |      OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
         |        AND CURRENT ROW) AS dead
         |  FROM b)
         |SELECT t, n_risk, n_events, n_censored,
         |  CASE WHEN dead = 1 THEN 0.0
         |    ELSE round(exp(CAST(lnsum AS DOUBLE)), 6) END AS survival
         |FROM c""".stripMargin,

    "q172_ppr" -> pprOracle,

    "q173_funnel_latency" ->
      s"""WITH $FunnelCte,
        |d AS (
        |  SELECT 'click' AS step, c_ms - v_ms AS dur
        |  FROM c JOIN v USING (user_id)
        |  UNION ALL
        |  SELECT 'purchase' AS step, p_ms - v_ms AS dur
        |  FROM p JOIN v USING (user_id))
        |SELECT step, CAST(count(*) AS BIGINT) AS n,
        |  quantile_cont(dur, 0.25) AS p25,
        |  quantile_cont(dur, 0.5) AS p50,
        |  quantile_cont(dur, 0.75) AS p75
        |FROM d GROUP BY 1""".stripMargin,

    "q174_basket_triples" ->
      s"""WITH it AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
         |  FROM lineitem)
         |SELECT x.i AS item_a, y.i AS item_b, z.i AS item_c,
         |  CAST(count(*) AS BIGINT) AS support
         |FROM it x JOIN it y ON x.b = y.b AND x.i < y.i
         |  JOIN it z ON y.b = z.b AND y.i < z.i
         |GROUP BY 1, 2, 3
         |HAVING count(*) >= $TripleSupport""".stripMargin,

    "q175_phrase_search" -> {
      val anchors = PhraseWords.zipWithIndex.map { case (w, k) =>
        s"a$k AS (SELECT doc_id, pos - $k AS anchor FROM p " +
          s"WHERE term = '$w')"
      }.mkString(",\n")
      val joins = PhraseWords.indices.tail.map(k =>
        s"JOIN a$k ON a$k.doc_id = a0.doc_id AND a$k.anchor = a0.anchor")
        .mkString("\n")
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
         |  FROM documents),
         |p AS (SELECT doc_id, i AS pos, list_extract(ws, i + 1) AS term
         |  FROM d, unnest(range(len(ws))) r(i)),
         |$anchors
         |SELECT a0.doc_id, CAST(count(*) AS BIGINT) AS n_hits
         |FROM a0
         |$joins
         |GROUP BY 1""".stripMargin
    },

    "q176_lexical_diversity" ->
      """WITH c AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |        FROM documents)
        |  GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS n_types,
        |  round(CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6)
        |    AS ttr,
        |  round(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 6) AS hapax_frac
        |FROM c GROUP BY 1""".stripMargin,

    "q177_theil" ->
      """WITH o AS (SELECT o_orderpriority,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS x
        |  FROM orders WHERE round(o_totalprice * 100) > 0),
        |m AS (SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS total
        |  FROM o GROUP BY 1)
        |SELECT m.o_orderpriority, m.n, m.total,
        |  round(CAST(sum(CAST(round(
        |      (CAST(x AS DOUBLE) / CAST(total AS DOUBLE))
        |        * ln(CAST(CAST(x AS HUGEINT) * n AS DOUBLE)
        |          / CAST(total AS DOUBLE)), 9) AS DECIMAL(38,9)))
        |    AS DOUBLE), 6) AS theil
        |FROM o JOIN m USING (o_orderpriority)
        |GROUP BY 1, 2, 3""".stripMargin,

    "q178_kmeans_inertia" -> {
      val d2 = "list_sum(list_transform(list_zip(p.qv, c.cv), " +
        "x -> (x[1] - x[2]) * (x[1] - x[2])))"
      s"""WITH $kmeansCteBody,
         |dst AS MATERIALIZED (SELECT p.id, c.cid, $d2 AS d2,
         |    row_number() OVER (PARTITION BY p.id ORDER BY $d2, c.cid)
         |      AS rn
         |  FROM p CROSS JOIN c${KmRounds - 1} c),
         |q AS (SELECT cid AS cluster,
         |    CAST(round(d2 / 1000000.0) AS BIGINT) AS qd2
         |  FROM dst WHERE rn = 1)
         |SELECT CAST(cluster AS INTEGER) AS cluster,
         |  CAST(count(*) AS BIGINT) AS n_pts,
         |  CAST(sum(qd2) AS DOUBLE) / 1000000.0 AS sse
         |FROM q GROUP BY 1""".stripMargin
    },

    "q179_oov_rate" ->
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |  FROM documents),
         |v AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1),
         |tv AS (SELECT w FROM (SELECT w,
         |    row_number() OVER (ORDER BY c DESC, w) AS r FROM v)
         |  WHERE r <= $OovVocabK),
         |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
         |  FROM t GROUP BY 1),
         |kn AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_in
         |  FROM t JOIN tv USING (w) GROUP BY 1)
         |SELECT tot.doc_id, n_tokens,
         |  CAST(coalesce(n_in, 0) AS BIGINT) AS n_known,
         |  round(CAST(n_tokens - coalesce(n_in, 0) AS DOUBLE)
         |    / CAST(n_tokens AS DOUBLE), 6) AS oov_rate
         |FROM tot LEFT JOIN kn USING (doc_id)""".stripMargin,

    "q180_wow_growth" ->
      """WITH w AS (SELECT o_orderpriority,
        |    CAST(date_diff('day', DATE '1970-01-01',
        |      CAST(o_orderdate AS DATE)) // 7 AS INTEGER) AS wk,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1, 2)
        |SELECT w.o_orderpriority, w.wk, w.cents, p.cents AS prev_cents,
        |  CASE WHEN p.cents <> 0 THEN
        |    round(CAST(w.cents - p.cents AS DOUBLE)
        |      / CAST(p.cents AS DOUBLE), 6) END AS wow_growth
        |FROM w LEFT JOIN w p ON p.o_orderpriority = w.o_orderpriority
        |  AND p.wk = w.wk - 1""".stripMargin,

    "q181_anova" ->
      """WITH o AS (SELECT o_orderpriority AS g,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS x FROM orders),
        |grp AS (SELECT g, CAST(count(*) AS BIGINT) AS ng,
        |    sum(CAST(x AS HUGEINT)) AS sg FROM o GROUP BY 1),
        |grp2 AS (SELECT *, CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE) AS mg
        |  FROM grp),
        |tot AS (SELECT CAST(sum(ng) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS k, sum(sg) AS s FROM grp2),
        |tot2 AS (SELECT *, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS m
        |  FROM tot),
        |sw AS (SELECT sum(CAST(round((x - mg) * (x - mg)) AS HUGEINT))
        |    AS ssw
        |  FROM o JOIN grp2 USING (g)),
        |sb AS (SELECT sum(CAST(ng AS HUGEINT)
        |      * CAST(round((mg - m) * (mg - m)) AS HUGEINT)) AS ssb
        |  FROM grp2, tot2)
        |SELECT k, n,
        |  CASE WHEN k > 1 AND n > k AND CAST(ssw AS DOUBLE) > 0 THEN
        |    round((CAST(ssb AS DOUBLE) / (CAST(k AS DOUBLE) - 1.0))
        |      / (CAST(ssw AS DOUBLE)
        |        / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))), 6)
        |  END AS f_stat
        |FROM tot2, sb, sw""".stripMargin,

    "q182_spearman" ->
      """WITH o AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        |  FROM lineitem),
        |r AS (SELECT l_returnflag,
        |    CAST(2 * rank() OVER (PARTITION BY l_returnflag ORDER BY x)
        |      + count(*) OVER (PARTITION BY l_returnflag, x) - 1
        |      AS HUGEINT) AS rx,
        |    CAST(2 * rank() OVER (PARTITION BY l_returnflag ORDER BY y)
        |      + count(*) OVER (PARTITION BY l_returnflag, y) - 1
        |      AS HUGEINT) AS ry
        |  FROM o)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  CASE WHEN sqrt(CAST(count(*)*sum(rx*rx) - sum(rx)*sum(rx)
        |        AS DOUBLE))
        |      * sqrt(CAST(count(*)*sum(ry*ry) - sum(ry)*sum(ry)
        |        AS DOUBLE)) <> 0
        |    THEN round(CAST(count(*)*sum(rx*ry) - sum(rx)*sum(ry)
        |        AS DOUBLE)
        |      / (sqrt(CAST(count(*)*sum(rx*rx) - sum(rx)*sum(rx)
        |          AS DOUBLE))
        |        * sqrt(CAST(count(*)*sum(ry*ry) - sum(ry)*sum(ry)
        |            AS DOUBLE))), 6)
        |  END AS spearman
        |FROM r GROUP BY 1""".stripMargin,

    "q183_psi" ->
      s"""WITH v AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c,
         |    (o_orderstatus = 'F') AS a FROM orders),
         |b AS (SELECT (c - ((c % $PsiBinW + $PsiBinW) % $PsiBinW))
         |      // $PsiBinW AS bin,
         |    CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |    CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
         |  FROM v GROUP BY 1),
         |t AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta,
         |    CAST(sum(n_b) AS BIGINT) AS tb FROM b)
         |SELECT bin, n_a, n_b,
         |  CASE WHEN n_a > 0 AND n_b > 0 AND ta > 0 AND tb > 0 THEN
         |    round((CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE)
         |        - CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE))
         |      * ln(CAST(CAST(n_a AS HUGEINT) * tb AS DOUBLE)
         |        / CAST(CAST(n_b AS HUGEINT) * ta AS DOUBLE)), 6)
         |  END AS psi_term
         |FROM b, t""".stripMargin,

    "q185_label_spreading" -> labelSpreadOracle,

    "q187_markov_eval" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms,
        |           event_id FROM events),
        |s AS (SELECT event_type AS src_type,
        |  lead(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ms, event_id) AS dst_type FROM e),
        |c AS (SELECT src_type, dst_type, CAST(count(*) AS BIGINT) AS cnt
        |  FROM s WHERE dst_type IS NOT NULL GROUP BY src_type, dst_type),
        |pr AS (SELECT src_type, dst_type AS predicted FROM (
        |    SELECT src_type, dst_type, row_number() OVER (
        |      PARTITION BY src_type ORDER BY cnt DESC, dst_type) AS rn
        |    FROM c) WHERE rn = 1)
        |SELECT c.src_type, pr.predicted,
        |  CAST(sum(cnt) AS BIGINT) AS n_steps,
        |  CAST(sum(CASE WHEN c.dst_type = pr.predicted THEN cnt
        |    ELSE 0 END) AS BIGINT) AS n_correct,
        |  round(CAST(sum(CASE WHEN c.dst_type = pr.predicted THEN cnt
        |      ELSE 0 END) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE), 6)
        |    AS accuracy
        |FROM c JOIN pr USING (src_type)
        |GROUP BY 1, 2""".stripMargin,

    "q186_bootstrap_ci" -> {
      val cases = operators.Stats.PoissonCdf1.zipWithIndex
        .map { case (f, k) => s"WHEN uu < $f THEN $k" }.mkString(" ")
      s"""WITH o AS (SELECT o_orderpriority AS g, o_orderkey AS id,
         |    CAST(round(o_totalprice * 100) AS BIGINT) AS x
         |  FROM orders),
         |r AS (SELECT g, id, x, CAST(t.gg AS INTEGER) AS gg,
         |    md5('$BootSalt:' || CAST(id AS VARCHAR) || ':'
         |      || CAST(t.gg AS VARCHAR)) AS h
         |  FROM o, range(0, ${(BootB + 7) / 8}) t(gg)),
         |d AS (SELECT g, CAST(gg * 8 + s.s AS INTEGER) AS b, x,
         |    (CAST(CAST('0x' || substr(h, CAST(s.s * 4 + 1 AS INTEGER),
         |        4) AS BIGINT) AS DOUBLE) + 0.5) / 65536.0 AS uu
         |  FROM r, range(0, 8) s(s)
         |  WHERE gg * 8 + s.s < $BootB),
         |c AS (SELECT g, b, x, CASE $cases ELSE 8 END AS c FROM d),
         |m AS (SELECT g, b,
         |    round(CAST(sum(CAST(c AS HUGEINT) * x) AS DOUBLE)
         |      / CAST(sum(c) AS DOUBLE), 6) AS qm
         |  FROM c GROUP BY 1, 2 HAVING sum(c) > 0),
         |rk AS (SELECT g, b, qm,
         |    row_number() OVER (PARTITION BY g ORDER BY qm, b) AS rn
         |  FROM m)
         |SELECT g AS o_orderpriority, CAST(count(*) AS BIGINT)
         |    AS n_resamples,
         |  min(CASE WHEN rn = ${BootB / 4} THEN qm END) AS boot_lo,
         |  min(CASE WHEN rn = ${BootB / 2} THEN qm END) AS boot_med,
         |  min(CASE WHEN rn = ${3 * BootB / 4} THEN qm END) AS boot_hi
         |FROM rk GROUP BY 1""".stripMargin
    },

    "q184_target_encoding" ->
      s"""WITH c AS (SELECT l_suppkey AS category,
         |    CAST(count(*) AS BIGINT) AS n,
         |    sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
         |      AS HUGEINT)) AS sy
         |  FROM lineitem GROUP BY 1),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS tn, sum(sy) AS ts
         |  FROM c)
         |SELECT category, n,
         |  round((CAST(sy AS DOUBLE)
         |      + $TargetEncM * (CAST(ts AS DOUBLE) / CAST(tn AS DOUBLE)))
         |    / (CAST(n AS DOUBLE) + $TargetEncM), 6) AS enc
         |FROM c, t""".stripMargin,
  )

  /** PageRank iteration budget — shared by q58 and its unrolled oracle. */
  private val PrIters = 10
  private val PrDamping = 0.85

  /** q185's oracle: the ε-pair graph, the clamped seed set, and
    * [[SpreadRounds]] synchronous spreading rounds unrolled — each
    * round the (count DESC, label ASC) argmax over labeled neighbors,
    * coalesced under the seed clamp, exactly
    * [[operators.LabelProp.spread]]'s all-integer rule. */
  private def labelSpreadOracle: String = {
    val head =
      s"""WITH pairs AS MATERIALIZED (
         |  SELECT a.vec_id AS src, b.vec_id AS dst
         |  FROM embeddings a JOIN embeddings b
         |    ON a.vec_id != b.vec_id AND ${d2Sql("a", "b")} <= $Eps*$Eps),
         |nodes AS (SELECT DISTINCT src AS id FROM pairs),
         |seeds AS (SELECT vec_id AS id, CAST(label AS BIGINT) AS sl
         |  FROM embeddings WHERE vec_id % 10 = 0),
         |l0 AS MATERIALIZED (SELECT nodes.id, s.sl AS label
         |  FROM nodes LEFT JOIN seeds s USING (id))""".stripMargin
    val rounds = (1 to SpreadRounds).map { r =>
      s"""v$r AS (SELECT id, vote FROM (
         |    SELECT p.dst AS id, l.label AS vote,
         |      row_number() OVER (PARTITION BY p.dst
         |        ORDER BY count(*) DESC, l.label) AS rn
         |    FROM pairs p JOIN l${r - 1} l ON p.src = l.id
         |    WHERE l.label IS NOT NULL
         |    GROUP BY p.dst, l.label) WHERE rn = 1),
         |l$r AS MATERIALIZED (SELECT l.id,
         |    coalesce(s.sl, v.vote, l.label) AS label
         |  FROM l${r - 1} l LEFT JOIN seeds s USING (id)
         |  LEFT JOIN v$r v USING (id))""".stripMargin
    }
    (head +: rounds).mkString(",\n") +
      s"\nSELECT id AS vec_id, label AS label_pred FROM l$SpreadRounds"
  }

  /** Sessionization CTE chain (e → flagged → sess → iv) — the SINGLE
    * textual source behind the q21/q49/q58 oracles, mirroring
    * [[sessionTable]]'s 30-min gaps-and-islands logic (keep the two in
    * sync; three hand-copies drifted risk before this was factored). */
  private val SessionIvCte: String =
    """e AS (SELECT user_id, epoch_ms(ts) AS ms FROM events),
      |flagged AS (
      |  SELECT user_id, ms,
      |    CASE WHEN lag(ms) OVER (PARTITION BY user_id ORDER BY ms) IS NULL
      |           OR ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms) > 1800000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM e),
      |sess AS (
      |  SELECT user_id, ms,
      |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ms
      |      ROWS UNBOUNDED PRECEDING) AS INTEGER) AS session_id
      |  FROM flagged),
      |iv AS (SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
      |       min(ms) AS start_ms, max(ms) AS end_ms
      |       FROM sess GROUP BY user_id, session_id)""".stripMargin

  /** q50/q173's shared funnel CTE chain (e → f → v → c → p): first
    * view, first in-horizon click after it, first in-horizon purchase
    * after that — the single textual source mirroring
    * [[graft.operators.Funnel.steps]]'s chained conditional-min
    * windows. */
  private val FunnelCte: String =
    """e AS (SELECT user_id, epoch_ms(ts) AS ms, event_type FROM events),
      |f AS (SELECT DISTINCT user_id FROM e
      |      WHERE event_type IN ('view','click','purchase')),
      |v AS (SELECT user_id, min(ms) AS v_ms FROM e
      |      WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, min(ms) AS c_ms FROM e JOIN v USING(user_id)
      |      WHERE event_type = 'click'
      |        AND ms >= v_ms AND ms <= v_ms + 86400000
      |      GROUP BY e.user_id),
      |p AS (SELECT e.user_id, min(ms) AS p_ms FROM e JOIN c USING(user_id)
      |      WHERE event_type = 'purchase'
      |        AND ms >= c_ms AND ms <= c_ms + 86400000
      |      GROUP BY e.user_id)""".stripMargin

  /** Session-concurrency edge set (distinct user pairs with overlapping
    * sessions, both orientations) — the single source for the q58/q60
    * graph oracles, mirroring the engine's IntervalJoin-derived edges. */
  private val OverlapEdgesCte: String =
    """edges AS (
      |  SELECT DISTINCT a.user_id AS src, b.user_id AS dst
      |  FROM iv a JOIN iv b
      |    ON a.user_id != b.user_id
      |   AND a.start_ms <= b.end_ms AND b.start_ms <= a.end_ms)""".stripMargin

  /** q58's oracle: the shared session CTE, the overlap edge set, then
    * [[PrIters]] PageRank rounds UNROLLED as paired (contribution,
    * rank) CTEs. Float parity: the engine bakes `(1-d)/n` as one
    * Scala-computed literal; the oracle casts the identically-printed
    * literal to DOUBLE so both engines run the same IEEE ops; residual
    * sum-order noise is absorbed by round(,8) (same acceptance as
    * q30's rounded logs). */
  private def pagerankOracle: String = {
    val head =
      s"""WITH $SessionIvCte,
        |$OverlapEdgesCte,
        |nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        |deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg
        |        FROM edges GROUP BY src),
        |r0 AS (SELECT id, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn)"""
        .stripMargin
    val rounds = (1 to PrIters).map { i =>
      s"""c$i AS (SELECT e.dst AS id, sum(r.rank / d.deg) AS m
         |  FROM edges e JOIN r${i - 1} r ON e.src = r.id
         |  JOIN deg d ON d.src = e.src GROUP BY e.dst),
         |r$i AS (SELECT nodes.id,
         |  CAST(${1.0 - PrDamping} AS DOUBLE) / nn.n
         |    + CAST($PrDamping AS DOUBLE) * coalesce(c$i.m, 0.0) AS rank
         |  FROM nodes CROSS JOIN nn LEFT JOIN c$i ON c$i.id = nodes.id)"""
        .stripMargin
    }
    (head +: rounds).mkString(",\n") +
      s"\nSELECT id AS user_id, round(rank, 8) AS rank FROM r$PrIters"
  }

  /** q172's oracle: [[pagerankOracle]] with the teleport vector
    * concentrated on the seed cohort — r₀ and the per-round base term
    * carry the seeded CASE; the damping literals print the SAME Scala
    * doubles the engine bakes in, and 1.0/|S| divides in-SQL exactly
    * as the engine's Scala division of the same operands. */
  private def pprOracle: String = {
    val head =
      s"""WITH $SessionIvCte,
        |$OverlapEdgesCte,
        |nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
        |seeds AS (SELECT id FROM nodes WHERE id % $PprSeedMod = 0),
        |ns AS (SELECT CAST(count(*) AS DOUBLE) AS s FROM seeds),
        |deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg
        |        FROM edges GROUP BY src),
        |r0 AS (SELECT nodes.id,
        |  CASE WHEN sd.id IS NOT NULL THEN 1.0 / ns.s ELSE 0.0 END AS rank
        |  FROM nodes CROSS JOIN ns LEFT JOIN seeds sd ON sd.id = nodes.id)"""
        .stripMargin
    val rounds = (1 to PrIters).map { i =>
      s"""c$i AS (SELECT e.dst AS id, sum(r.rank / d.deg) AS m
         |  FROM edges e JOIN r${i - 1} r ON e.src = r.id
         |  JOIN deg d ON d.src = e.src GROUP BY e.dst),
         |r$i AS (SELECT nodes.id,
         |  (CASE WHEN sd.id IS NOT NULL
         |    THEN CAST(${1.0 - PrDamping} AS DOUBLE) * (1.0 / ns.s)
         |    ELSE 0.0 END)
         |    + CAST($PrDamping AS DOUBLE) * coalesce(c$i.m, 0.0) AS rank
         |  FROM nodes CROSS JOIN ns
         |  LEFT JOIN seeds sd ON sd.id = nodes.id
         |  LEFT JOIN c$i ON c$i.id = nodes.id)""".stripMargin
    }
    (head +: rounds).mkString(",\n") +
      s"\nSELECT id AS user_id, round(rank, 8) AS rank FROM r$PrIters"
  }

  /** Language-ID in pure SQL, generated from the SAME lexica the engine
    * uses (`TextFunctions.langLexica`) — shared by q12 and q35. */
  private val langIdOracle: String = {
    val scores = TextFunctions.langLexica.map { case (lang, ws) =>
      s"len(list_intersect(list_distinct(string_split(text, ' ')), " +
        s"[${ws.map(w => s"'$w'").mkString(",")}])) AS s_$lang"
    }.mkString(",\n  ")
    val langs = TextFunctions.langLexica.map(_._1)
    val best = s"greatest(${langs.map("s_" + _).mkString(",")})"
    val cases = langs.map(l =>
      s"WHEN s_$l = m AND s_$l > 0 THEN '$l'").mkString(" ")
    s"""SELECT doc_id, CASE $cases ELSE 'und' END AS lang_pred FROM (
       |  SELECT doc_id, $best AS m, * FROM (
       |    SELECT doc_id, $scores FROM documents) sc) s""".stripMargin
  }

  /** Closed-form CTE chain shared by the q236/q237 oracles: regenerate
    * the [[phashMedia]] fixture rasters arithmetically, reduce to exact
    * integer per-cell gray sums/counts for both hash grids (8×8 aHash,
    * 8×9 dHash — floor-division cell membership like the engine), and
    * derive the dHash bit table. All comparisons are integer
    * cross-multiplications — nothing to drift. */
  private val phashOracleCtes: String =
    """WITH ids AS MATERIALIZED (SELECT doc_id AS m, doc_id % 75 AS base,
      |    CASE WHEN doc_id < 75 THEN 0 ELSE 9 END AS delta,
      |    CAST(12 + (doc_id % 75) % 4 * 4 AS INTEGER) AS w,
      |    CAST(9 + (doc_id % 75) % 3 * 3 AS INTEGER) AS h
      |  FROM documents WHERE doc_id < 150),
      |px AS MATERIALIZED (SELECT m, w, h, ux.x, uy.y,
      |    (base * 31 + ux.x * 7 + uy.y * 13
      |      + CASE WHEN (ux.x * 5 + uy.y * 3) % 29 = 0
      |             THEN delta ELSE 0 END) % 256
      |  + (base * 17 + ux.x * 3 + uy.y * 5
      |      + CASE WHEN (ux.x * 5 + uy.y * 3) % 29 = 0
      |             THEN delta ELSE 0 END) % 256
      |  + (base * 29 + ux.x * 11 + uy.y * 2
      |      + CASE WHEN (ux.x * 5 + uy.y * 3) % 29 = 0
      |             THEN delta ELSE 0 END) % 256 AS gray
      |  FROM ids, unnest(range(0, w)) ux(x), unnest(range(0, h)) uy(y)),
      |tot AS (SELECT m, CAST(sum(gray) AS BIGINT) AS ts,
      |    CAST(count(*) AS BIGINT) AS tp FROM px GROUP BY 1),
      |ca AS (SELECT m, (y * 8 // h) * 8 + (x * 8 // w) AS k,
      |    CAST(sum(gray) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS c
      |  FROM px GROUP BY 1, 2),
      |cd AS (SELECT m, y * 8 // h AS cy, x * 9 // w AS cx,
      |    CAST(sum(gray) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS c
      |  FROM px GROUP BY 1, 2, 3),
      |db AS (SELECT l.m, l.cy * 8 + l.cx AS k,
      |    CASE WHEN l.s * r.c > r.s * l.c THEN 1 ELSE 0 END AS d_bit
      |  FROM cd l JOIN cd r ON r.m = l.m AND r.cy = l.cy
      |    AND r.cx = l.cx + 1)""".stripMargin

  /** Real-decode embedding CTEs shared by q271/q272, chained after
    * [[phashOracleCtes]]' `px` raster: grid-4 cell gray sums/counts
    * (`c4`) and the 8-octant gradient histogram (`oc` — forward
    * differences via self-joins on the raster, octant by the same
    * integer sign/magnitude CASE the engine runs, zero-gradient pixels
    * skipped, absent octants coalesced to 0). */
  private val imageEmbedCtes: String =
    """c4 AS MATERIALIZED (SELECT m, (y * 4 // h) * 4 + (x * 4 // w) AS k,
      |    CAST(sum(gray) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS c
      |  FROM px GROUP BY 1, 2),
      |gr AS MATERIALIZED (SELECT l.m,
      |    r.gray - l.gray AS dx, d.gray - l.gray AS dy
      |  FROM px l JOIN px r ON r.m = l.m AND r.y = l.y AND r.x = l.x + 1
      |    JOIN px d ON d.m = l.m AND d.x = l.x AND d.y = l.y + 1),
      |ob AS MATERIALIZED (SELECT m,
      |    CASE WHEN dx > 0 AND dy >= 0 THEN
      |           CASE WHEN dx > dy THEN 0 ELSE 1 END
      |         WHEN dx <= 0 AND dy > 0 THEN
      |           CASE WHEN dy > -dx THEN 2 ELSE 3 END
      |         WHEN dx < 0 THEN
      |           CASE WHEN -dx > -dy THEN 4 ELSE 5 END
      |         ELSE CASE WHEN -dy > dx THEN 6 ELSE 7 END
      |    END AS b
      |  FROM gr WHERE dx != 0 OR dy != 0),
      |oc AS MATERIALIZED (SELECT i.m, ub.b,
      |    CAST(coalesce(cb.cnt, 0) AS BIGINT) AS cnt,
      |    CAST(coalesce(t.tot, 0) AS BIGINT) AS tot
      |  FROM (SELECT DISTINCT m FROM px) i
      |  CROSS JOIN unnest(range(0, 8)) ub(b)
      |  LEFT JOIN (SELECT m, b, count(*) AS cnt FROM ob GROUP BY 1, 2) cb
      |    ON cb.m = i.m AND cb.b = ub.b
      |  LEFT JOIN (SELECT m, count(*) AS tot FROM ob GROUP BY 1) t
      |    ON t.m = i.m)""".stripMargin

  /** Token-level CTEs shared by the q274/q275 oracles: every document
    * split on single spaces KEEPING trailing empties (DuckDB
    * `string_split` == Spark `split(text, ' ', -1)` — the corpus-wide
    * convention), per-doc token totals (`dc` — every doc has >= 1
    * token, so the downstream division never sees 0), and per-(doc,
    * bucket) counts (`bc`) where the bucket is the portable md5 60-bit
    * bridge mod `dims` — byte-identical to the engine's
    * [[graft.functions.HashedTf]] kernel. */
  private def textEmbedCtes(dims: Int): String =
    s"""WITH tok AS MATERIALIZED (SELECT doc_id,
       |    unnest(string_split(text, ' ')) AS w
       |  FROM documents),
       |dc AS MATERIALIZED (SELECT doc_id, count(*) AS tot
       |  FROM tok GROUP BY 1),
       |bc AS MATERIALIZED (SELECT doc_id,
       |    CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) % $dims AS b,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM tok GROUP BY 1, 2)""".stripMargin

  /** Closed-form CTE chain shared by the q243/q244 oracles — the
    * per-frame twin of [[phashOracleCtes]]: regenerate the
    * [[vhashMedia]] clip rasters, reduce to per-(clip, frame) cell
    * sums for both hash grids, derive the dHash bit table. The
    * grayscale palette makes r=g=b=v, so comparing v-sums is
    * bit-identical to the engine's (r+g+b)-sums (both sides scale by
    * exactly 3 — strict inequalities are invariant). */
  private val vhashOracleCtes: String =
    """WITH vids AS MATERIALIZED (SELECT doc_id AS m, doc_id % 60 AS base,
      |    CASE WHEN doc_id < 60 THEN 0 ELSE 9 END AS delta,
      |    CAST(12 + (doc_id % 60) % 3 * 4 AS INTEGER) AS w,
      |    CAST(9 + (doc_id % 60) % 2 * 3 AS INTEGER) AS h,
      |    CAST(2 + (doc_id % 60) % 3 AS INTEGER) AS nf
      |  FROM documents WHERE doc_id < 120),
      |vpx AS MATERIALIZED (SELECT m, w, h, uf.f, ux.x, uy.y,
      |    (base * 31 + uf.f * 17 + ux.x * 7 + uy.y * 13
      |      + (ux.x * uy.y * (1 + base % 5)) % 23
      |      + CASE WHEN (ux.x * 5 + uy.y * 3) % 29 = 0
      |             THEN delta ELSE 0 END) % 256 AS v
      |  FROM vids, unnest(range(0, nf)) uf(f),
      |    unnest(range(0, w)) ux(x), unnest(range(0, h)) uy(y)),
      |vtot AS (SELECT m, f, CAST(sum(v) AS BIGINT) AS ts,
      |    CAST(count(*) AS BIGINT) AS tp FROM vpx GROUP BY 1, 2),
      |vca AS (SELECT m, f, (y * 8 // h) * 8 + (x * 8 // w) AS k,
      |    CAST(sum(v) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS c
      |  FROM vpx GROUP BY 1, 2, 3),
      |vcd AS (SELECT m, f, y * 8 // h AS cy, x * 9 // w AS cx,
      |    CAST(sum(v) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS c
      |  FROM vpx GROUP BY 1, 2, 3, 4),
      |vdb AS (SELECT l.m, l.f, l.cy * 8 + l.cx AS k,
      |    CASE WHEN l.s * r.c > r.s * l.c THEN 1 ELSE 0 END AS d_bit
      |  FROM vcd l JOIN vcd r ON r.m = l.m AND r.f = l.f
      |    AND r.cy = l.cy AND r.cx = l.cx + 1)""".stripMargin

  /** Closed-form CTE chain shared by the q245/q246 oracles: regenerate
    * the [[ahashMedia]] PCM samples arithmetically (PCM is lossless, so
    * the engine decodes the identical integers), window energies by
    * floor division, and the 1-D dHash bit table via adjacent-window
    * cross-multiplied mean comparisons. */
  private val ahashOracleCtes: String =
    """WITH aids AS MATERIALIZED (SELECT doc_id AS m, doc_id % 60 AS base,
      |    CASE WHEN doc_id < 60 THEN 0 ELSE 25 END AS delta,
      |    CAST(300 + (doc_id % 60) % 5 * 200 AS BIGINT) AS n
      |  FROM documents WHERE doc_id < 120),
      |sm AS MATERIALIZED (SELECT m, n, u.i,
      |    (base * 37 + u.i * 13
      |      + (u.i * u.i * (1 + base % 7)) % 199) % 4096 - 2048
      |    + CASE WHEN u.i % 31 = 0 THEN delta ELSE 0 END AS s
      |  FROM aids, unnest(range(0, n)) u(i)),
      |we AS (SELECT m, i * 65 // n AS w, CAST(sum(s * s) AS BIGINT) AS e,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM sm GROUP BY 1, 2),
      |eb AS (SELECT l.m, l.w AS k,
      |    CASE WHEN l.e * r.c > r.e * l.c THEN 1 ELSE 0 END AS e_bit
      |  FROM we l JOIN we r ON r.m = l.m AND r.w = l.w + 1)""".stripMargin

  /** Video-embedding CTEs shared by q278/q279, chained after
    * [[vhashOracleCtes]]' `vpx` raster: 4×4 cell gray sums/counts
    * pooled over frames (`vcs`), clip totals (`vct`), the 8-octant
    * per-frame gradient histogram (`vgr`/`vob`/`voc` — the image
    * embedding's integer octant rule with a frame key), and the
    * frame-delta motion pair (`vmd` — aligned-pixel |Δ| sum over the
    * f+1 self-join). */
  private val videoEmbedCtes: String =
    """vcs AS MATERIALIZED (SELECT m,
      |    (y * 4 // h) * 4 + (x * 4 // w) AS k,
      |    CAST(sum(v) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS c
      |  FROM vpx GROUP BY 1, 2),
      |vct AS MATERIALIZED (SELECT m, CAST(sum(v) AS BIGINT) AS ts,
      |    CAST(count(*) AS BIGINT) AS tp
      |  FROM vpx GROUP BY 1),
      |vgr AS MATERIALIZED (SELECT l.m,
      |    r.v - l.v AS dx, d.v - l.v AS dy
      |  FROM vpx l
      |  JOIN vpx r ON r.m = l.m AND r.f = l.f AND r.y = l.y
      |    AND r.x = l.x + 1
      |  JOIN vpx d ON d.m = l.m AND d.f = l.f AND d.x = l.x
      |    AND d.y = l.y + 1),
      |vob AS MATERIALIZED (SELECT m,
      |    CASE WHEN dx > 0 AND dy >= 0 THEN
      |           CASE WHEN dx > dy THEN 0 ELSE 1 END
      |         WHEN dx <= 0 AND dy > 0 THEN
      |           CASE WHEN dy > -dx THEN 2 ELSE 3 END
      |         WHEN dx < 0 THEN
      |           CASE WHEN -dx > -dy THEN 4 ELSE 5 END
      |         ELSE CASE WHEN -dy > dx THEN 6 ELSE 7 END
      |    END AS b
      |  FROM vgr WHERE dx != 0 OR dy != 0),
      |voc AS MATERIALIZED (SELECT i.m, ub.b,
      |    CAST(coalesce(cb.cnt, 0) AS BIGINT) AS cnt,
      |    CAST(coalesce(t.tot, 0) AS BIGINT) AS tot
      |  FROM (SELECT DISTINCT m FROM vpx) i
      |  CROSS JOIN unnest(range(0, 8)) ub(b)
      |  LEFT JOIN (SELECT m, b, count(*) AS cnt FROM vob GROUP BY 1, 2)
      |    cb ON cb.m = i.m AND cb.b = ub.b
      |  LEFT JOIN (SELECT m, count(*) AS tot FROM vob GROUP BY 1) t
      |    ON t.m = i.m),
      |vmd AS MATERIALIZED (SELECT l.m,
      |    CAST(sum(abs(r.v - l.v)) AS BIGINT) AS md,
      |    CAST(count(*) AS BIGINT) AS mc
      |  FROM vpx l
      |  JOIN vpx r ON r.m = l.m AND r.f = l.f + 1 AND r.x = l.x
      |    AND r.y = l.y
      |  GROUP BY 1)""".stripMargin

  /** Audio-embedding CTEs shared by q276/q277, chained after
    * [[ahashOracleCtes]]' `sm` samples: 16 floor-division window
    * signed sums/counts (`ws`) and the zero-crossing pair count
    * (`zc` — sign(s) = s >= 0 flips between adjacent samples, the
    * [[graft.operators.Multimodal.decodeAudioStats]] convention;
    * count(*) of the i+1 self-join is exactly n − 1). */
  private val audioEmbedCtes: String =
    """ws AS MATERIALIZED (SELECT m, i * 16 // n AS w,
      |    CAST(sum(s) AS BIGINT) AS sw, CAST(count(*) AS BIGINT) AS c
      |  FROM sm GROUP BY 1, 2),
      |zc AS MATERIALIZED (SELECT l.m,
      |    CAST(count(*) FILTER ((l.s >= 0) <> (r.s >= 0)) AS BIGINT)
      |      AS nx,
      |    CAST(count(*) AS BIGINT) AS pairs
      |  FROM sm l JOIN sm r ON r.m = l.m AND r.i = l.i + 1
      |  GROUP BY 1)""".stripMargin

  /** DBSCAN labels in pure SQL: the ε self-join, core test, recursive-CTE
    * min-label connected components, min-comp border attach, size-≥2 dense
    * ids and noise=0 — mirroring Dbscan.run's deterministic label rules. */
  /** From-scratch DBSCAN oracle over an arbitrary point source —
    * `src` is any table or parenthesized subquery with embeddings'
    * schema (q231 passes the post-delete survivor set). */
  private def dbscanOracleFrom(src: String): String =
    s"""WITH RECURSIVE pts AS (SELECT * FROM $src),
       |pairs AS (
       |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
       |  FROM pts a JOIN pts b
       |    ON a.vec_id != b.vec_id AND ${d2Sql("a", "b")} <= $Eps*$Eps
       |),
       |cores AS (
       |  SELECT a_id AS id FROM pairs GROUP BY a_id
       |  HAVING count(*) + 1 >= $MinPts
       |),
       |core_edges AS (
       |  SELECT p.a_id AS src, p.b_id AS dst FROM pairs p
       |  JOIN cores ca ON p.a_id = ca.id JOIN cores cb ON p.b_id = cb.id
       |),
       |reach(id, r) AS (
       |  SELECT id, id FROM cores
       |  UNION
       |  SELECT e.dst, r.r FROM reach r JOIN core_edges e ON e.src = r.id
       |),
       |comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
       |border AS (
       |  SELECT p.a_id AS id, min(c.comp) AS comp
       |  FROM pairs p JOIN cores cb ON p.b_id = cb.id
       |  JOIN comp c ON c.id = p.b_id
       |  WHERE p.a_id NOT IN (SELECT id FROM cores)
       |  GROUP BY p.a_id
       |),
       |labeled AS (SELECT id, comp FROM comp UNION ALL SELECT id, comp FROM border),
       |comp_ids AS (
       |  SELECT comp, CAST(row_number() OVER (ORDER BY comp) AS INTEGER) AS cluster_id
       |  FROM (SELECT comp FROM labeled GROUP BY comp HAVING count(*) >= 2) g
       |)
       |SELECT e.vec_id AS id, COALESCE(ci.cluster_id, 0) AS cluster_id
       |FROM pts e
       |LEFT JOIN labeled l ON l.id = e.vec_id
       |LEFT JOIN comp_ids ci ON ci.comp = l.comp""".stripMargin

  private val dbscanOracle: String = dbscanOracleFrom("embeddings")

  /** Winnowing fingerprints in pure SQL (k/w from WinnowingExpression's
    * defaults): rolling k-gram Karp–Rabin hashes, per-window minima,
    * distinct (doc_id, fp) rows. */
  private val winnowingOracle: String = {
    val (k, w) = (5, 4) // keep in sync with WinnowingExpression.winnow defaults
    val gram = (1 until k).foldLeft(
      s"CAST(ord(substr(text, CAST(i AS INTEGER)+1, 1)) AS BIGINT)") {
      (acc, j) =>
        s"(($acc) * 131 + ord(substr(text, CAST(i AS INTEGER)+${j + 1}, 1))) % 2147483647"
    }
    s"""WITH hs AS (
       |  SELECT doc_id,
       |    list_transform(range(len(text) - ${k - 1}), i -> $gram) AS h
       |  FROM documents WHERE len(text) >= $k
       |),
       |mins AS (
       |  SELECT doc_id,
       |    CASE WHEN len(h) <= $w THEN [list_min(h)]
       |         ELSE list_transform(range(len(h) - ${w - 1}),
       |                i -> list_min(h[CAST(i AS INTEGER)+1 : CAST(i AS INTEGER)+$w]))
       |    END AS ms
       |  FROM hs)
       |SELECT DISTINCT doc_id, CAST(unnest(ms) AS BIGINT) AS fp FROM mins""".stripMargin
  }

  /** SimHash in pure SQL over the portable md5-derived 60-bit token hash:
    * 60 per-bit frequency-weighted ±1 sums, positive sums set the bit. */
  private val simhashOracle: String = {
    val bitSums = (0 until 60).map(j =>
      s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j")
      .mkString(",\n    ")
    val assemble = (0 until 60).map(j =>
      s"CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |h AS (
       |  SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
       |  FROM toks),
       |bits AS (
       |  SELECT doc_id,
       |    $bitSums
       |  FROM h GROUP BY doc_id)
       |SELECT doc_id AS id, CAST($assemble AS BIGINT) AS simhash FROM bits""".stripMargin
  }

  /** Shared oracle for q9/q10 (MinHash-LSH verified output == exact
    * Jaccard join at this threshold — recall ≈ 1 by band design). */
  /** Naive jaccard-pairs oracle over an arbitrary doc source (q232
    * passes the post-retraction survivor set). */
  private def jaccardOracleFrom(src: String): String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM $src),
      |sh AS (SELECT doc_id, list_distinct(list_transform(range(len(ws) - 2),
      |         i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS toks
      |       FROM w)
      |SELECT a_id, b_id, jac FROM (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |    CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
      |      / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) AS jac
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id) p
      |WHERE jac >= 0.5""".stripMargin

  private val jaccardOracle: String = jaccardOracleFrom("documents")

  /** BPE training rounds as CTEs, unrolled like [[pagerankOracle]]:
    * w0 = word-type table with spaced characters; per round i, pair
    * counts (p/c), the argmax merge (b — tie-break freq DESC, lhs, rhs,
    * mirroring learnMerges' orderBy), and the merge applied by the same
    * triple left-to-right replace scan the engine uses (w). */
  private def bpeRoundsCte: String = {
    val head =
      """w0 AS (
        |  SELECT trim(regexp_replace(w, '(.)', '\1 ', 'g')) AS s,
        |         CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE len(w) > 0 GROUP BY w)""".stripMargin
    val rounds = (1 to BpeSteps).map { i =>
      s"""p$i AS (SELECT unnest(list_transform(range(len(ws) - 1),
         |    j -> ws[j+1] || ' ' || ws[j+2])) AS bg, cnt
         |  FROM (SELECT string_split(s, ' ') AS ws, cnt FROM w${i - 1})),
         |c$i AS (SELECT string_split(bg, ' ')[1] AS l,
         |    string_split(bg, ' ')[2] AS r,
         |    CAST(sum(cnt) AS BIGINT) AS freq
         |  FROM p$i GROUP BY bg),
         |b$i AS (SELECT l, r, freq FROM c$i
         |  ORDER BY freq DESC, l, r LIMIT 1),
         |w$i AS (SELECT trim(replace(replace(replace(' ' || w.s || ' ',
         |    ' ' || b.l || ' ' || b.r || ' ', ' ' || b.l || b.r || ' '),
         |    ' ' || b.l || ' ' || b.r || ' ', ' ' || b.l || b.r || ' '),
         |    ' ' || b.l || ' ' || b.r || ' ', ' ' || b.l || b.r || ' ')) AS s,
         |    w.cnt
         |  FROM w${i - 1} w, b$i b)""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  /** q90's oracle: one SELECT per profiled column, UNION ALL — numeric
    * columns report typed min/max as DOUBLE, strings as VARCHAR, the
    * other pair NULL (mirroring Profile.profile's typed report). */
  private def profileOracle: String =
    ProfileCols.map { c =>
      val (mnn, mxn, mns, mxs) =
        if (ProfileNumeric(c))
          (s"CAST(min($c) AS DOUBLE)", s"CAST(max($c) AS DOUBLE)",
            "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
        else
          ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)",
            s"min($c)", s"max($c)")
      s"""SELECT '$c' AS col_name,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count($c) AS BIGINT) AS n_nonnull,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  $mnn AS min_num, $mxn AS max_num,
         |  $mns AS min_str, $mxs AS max_str
         |FROM orders""".stripMargin
    }.mkString("\nUNION ALL ")

  /** q95's oracle: [[KCoreRounds]] synchronous peel rounds unrolled —
    * per round the surviving-node set (degree >= k over the live edge
    * set) and the edge set restricted to it, exactly the engine's
    * Jacobi recurrence. The A-priori item prune in the engine's edge
    * build is lossless for pairs, so the oracle builds pairs directly. */
  private def kcoreOracle: String = {
    // MATERIALIZED CTEs are load-bearing here — see CopurchaseEdgeCte
    val head = s"WITH $CopurchaseEdgeCte"
    val rounds = (1 to KCoreRounds).map { i =>
      s"""n$i AS MATERIALIZED (SELECT src AS v FROM e${i - 1}
         |  GROUP BY src HAVING count(*) >= $KCoreK),
         |e$i AS MATERIALIZED (SELECT e.src, e.dst FROM e${i - 1} e
         |  JOIN n$i x ON e.src = x.v JOIN n$i y ON e.dst = y.v)""".stripMargin
    }
    (head +: rounds).mkString(",\n") +
      s"\nSELECT src AS node, CAST(count(*) AS BIGINT) AS deg" +
      s"\nFROM e$KCoreRounds GROUP BY src"
  }

  /** Co-purchase (support ≥ 2) canonical + symmetrized edge CTEs
    * (it → fp → e0) — the SINGLE textual source behind the q95/q99
    * oracles; both must describe the same graph. AS MATERIALIZED is
    * load-bearing: DuckDB inlines plain CTEs, and kcoreOracle's rounds
    * reference e0's successors three times each — 3^R expansions of
    * the lineitem scan without it (observed as "too many open files"
    * at R=10). */
  private val CopurchaseEdgeCte: String =
    """it AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS bk, l_partkey AS i FROM lineitem),
      |fp AS MATERIALIZED (SELECT x.i AS a, y.i AS b FROM it x JOIN it y
      |       ON x.bk = y.bk AND x.i < y.i
      |       GROUP BY x.i, y.i HAVING count(*) >= 2),
      |e0 AS MATERIALIZED (SELECT a AS src, b AS dst FROM fp
      |       UNION ALL SELECT b, a FROM fp)""".stripMargin

  /** q99's oracle: symmetrized co-purchase edges joined to endpoint
    * degrees, then the corrOracle template for the single (deg_a,
    * deg_b) pair — HUGEINT moment sums, fixed-order double finish. */
  private def assortativityOracle: String =
    s"""WITH $CopurchaseEdgeCte,
      |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d
      |        FROM e0 GROUP BY src),
      |z AS (SELECT da.d AS x_a, db.d AS x_b
      |  FROM e0 e JOIN deg da ON e.src = da.src
      |            JOIN deg db ON e.dst = db.src),
      |m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
      |    CAST(sum(x_a) AS HUGEINT) AS s_a,
      |    CAST(sum(x_b) AS HUGEINT) AS s_b,
      |    CAST(sum(x_a * x_a) AS HUGEINT) AS ss_a,
      |    CAST(sum(x_b * x_b) AS HUGEINT) AS ss_b,
      |    CAST(sum(x_a * x_b) AS HUGEINT) AS sp
      |  FROM z)
      |SELECT 'deg_a' AS var_a, 'deg_b' AS var_b,
      |  round(CAST(n * sp - s_a * s_b AS DOUBLE)
      |    / (sqrt(CAST(n * ss_a - s_a * s_a AS DOUBLE))
      |       * sqrt(CAST(n * ss_b - s_b * s_b AS DOUBLE))), 6) AS corr
      |FROM m""".stripMargin

  /** q100's oracle: the same conditional-aggregate pass, one CASE pair
    * per trailing window, generated from [[FeatWindows]]. */
  private def featuresOracle: String = {
    val winCols = FeatWindows.flatMap { case (name, len) =>
      Seq(
        s"""  CAST(sum(CASE WHEN ms >= $FeatCutoffMs - $len
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_$name""".stripMargin,
        s"""  CAST(sum(CASE WHEN ms >= $FeatCutoffMs - $len
           |    THEN v ELSE 0 END) AS BIGINT) AS v_${name}_cents""".stripMargin)
    }
    s"""WITH e AS (SELECT user_id, epoch_ms(ts) AS ms,
       |    CAST(round(value * 100) AS BIGINT) AS v
       |  FROM events WHERE epoch_ms(ts) < $FeatCutoffMs)
       |SELECT user_id,
       |  $FeatCutoffMs - max(ms) AS recency,
       |  CAST(count(*) AS BIGINT) AS n_life,
       |  CAST(sum(v) AS BIGINT) AS v_life_cents,
       |${winCols.mkString(",\n")}
       |FROM e GROUP BY user_id""".stripMargin
  }

  /** q88's oracle: [[LpaRounds]] synchronous LPA rounds unrolled —
    * per round the in-neighbor label counts and the (cnt DESC, label
    * ASC) pick via row_number, mirroring the engine's
    * min(struct(-cnt, label)) argmin. Every node of this bidirectional
    * graph has in-edges, so the engine's keep-own-label fallback never
    * fires and the rounds are plain adopt steps. */
  /** The synchronous-LPA round unroll over an arc CTE named `eCte`
    * (expects a seed CTE `l0 (id, label)`); ends at `l{rounds}`.
    * Shared by the q88 (bipartite) and q126 (co-purchase) oracles. */
  private def lpaRoundCtes(eCte: String, rounds: Int): String =
    (1 to rounds).map { i =>
      s"""a$i AS (SELECT e.dst, l.label, CAST(count(*) AS BIGINT) AS cnt
         |  FROM $eCte e JOIN l${i - 1} l ON e.src = l.id
         |  GROUP BY e.dst, l.label),
         |l$i AS (SELECT dst AS id, label FROM (
         |    SELECT dst, label, row_number() OVER (PARTITION BY dst
         |      ORDER BY cnt DESC, label) AS rn FROM a$i) r
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")

  private def lpaOracle: String = {
    val head =
      """WITH li AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS sk,
        |    CAST(l_partkey + 1000000000 AS BIGINT) AS pk FROM lineitem),
        |e AS (SELECT sk AS src, pk AS dst FROM li
        |      UNION ALL SELECT pk, sk FROM li),
        |l0 AS (SELECT DISTINCT src AS id, src AS label FROM e)""".stripMargin
    head + ",\n" + lpaRoundCtes("e", LpaRounds) +
      s"\nSELECT id, label FROM l$LpaRounds"
  }

  /** q126's oracle: co-purchase arcs (q95/q99's edge CTE), the LPA
    * unroll over them, then per-community Newman modularity — all
    * counts exact integers (HUGEINT-widened products), one double
    * division per row, mirroring GraphStats.modularity operand for
    * operand. */
  private def modularityOracle: String =
    s"""WITH $CopurchaseEdgeCte,
       |l0 AS (SELECT DISTINCT src AS id, src AS label FROM e0),
       |${lpaRoundCtes("e0", LpaRounds)},
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d
       |        FROM e0 GROUP BY 1),
       |lab AS (SELECT id, label AS community FROM l$LpaRounds),
       |ds AS (SELECT community, CAST(count(*) AS BIGINT) AS n_nodes,
       |    CAST(sum(d) AS BIGINT) AS degree_sum
       |  FROM deg JOIN lab ON deg.src = lab.id GROUP BY 1),
       |ia AS (SELECT ls.community,
       |    CAST(count(*) AS BIGINT) AS internal_arcs
       |  FROM e0 e JOIN lab ls ON e.src = ls.id
       |         JOIN lab ld ON e.dst = ld.id
       |  WHERE ls.community = ld.community GROUP BY 1),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM e0)
       |SELECT ds.community, n_nodes, degree_sum,
       |  coalesce(internal_arcs, CAST(0 AS BIGINT)) AS internal_arcs,
       |  round(CAST(CAST(coalesce(internal_arcs, 0) AS HUGEINT) * m2
       |      - CAST(degree_sum AS HUGEINT) * degree_sum AS DOUBLE)
       |    / (CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE)), 6) + 0.0
       |    AS q_contrib
       |FROM ds LEFT JOIN ia ON ds.community = ia.community
       |CROSS JOIN m""".stripMargin

  /** q87's oracle: one HUGEINT moment-sum aggregate, then the same
    * fixed-order double arithmetic as Stats.corrMatrix per pair. */
  private def corrOracle: String = {
    val sums = CorrVars.flatMap { case (n, e) => Seq(
      s"CAST(sum(x_$n) AS HUGEINT) AS s_$n",
      s"CAST(sum(x_$n * x_$n) AS HUGEINT) AS ss_$n")
    } ++ (for {
      i <- CorrVars.indices; j <- (i + 1) until CorrVars.size
    } yield {
      val (a, b) = (CorrVars(i)._1, CorrVars(j)._1)
      s"CAST(sum(x_$a * x_$b) AS HUGEINT) AS sp_${a}_$b"
    })
    val rows = (for {
      i <- CorrVars.indices; j <- (i + 1) until CorrVars.size
    } yield {
      val (a, b) = (CorrVars(i)._1, CorrVars(j)._1)
      s"""SELECT '$a' AS var_a, '$b' AS var_b,
         |  round(CAST(n*sp_${a}_$b - s_$a*s_$b AS DOUBLE)
         |    / (sqrt(CAST(n*ss_$a - s_$a*s_$a AS DOUBLE))
         |       * sqrt(CAST(n*ss_$b - s_$b*s_$b AS DOUBLE))), 6) AS corr
         |FROM a""".stripMargin
    }).mkString("\nUNION ALL ")
    val exprs = CorrVars.map { case (n, e) => s"$e AS x_$n" }.mkString(",\n    ")
    s"""WITH z AS (SELECT
       |    $exprs
       |  FROM lineitem),
       |a AS (SELECT CAST(count(*) AS HUGEINT) AS n,
       |  ${sums.mkString(",\n  ")}
       |  FROM z)
       |$rows""".stripMargin
  }

  /** q85's oracle: [[SsspRounds]] Bellman-Ford rounds unrolled as
    * (relax, min-merge) CTE pairs — the weighted twin of the PageRank
    * unroll. All-integer cents arithmetic: no float caveats at all. */
  private def ssspOracle: String = {
    val head =
      """WITH li AS (SELECT CAST(l_suppkey AS BIGINT) AS sk,
        |    CAST(l_partkey + 1000000000 AS BIGINT) AS pk,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS w
        |  FROM lineitem),
        |e AS (SELECT src, dst, min(w) AS w FROM (
        |    SELECT sk AS src, pk AS dst, w FROM li
        |    UNION ALL SELECT pk, sk, w FROM li) u GROUP BY src, dst),
        |d0 AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS id,
        |    CAST(0 AS BIGINT) AS dist
        |  FROM lineitem WHERE l_suppkey % 10 = 0)""".stripMargin
    val rounds = (1 to SsspRounds).map { i =>
      s"""r$i AS (SELECT e.dst AS id, min(d.dist + e.w) AS dist
         |  FROM d${i - 1} d JOIN e ON e.src = d.id GROUP BY e.dst),
         |d$i AS (SELECT id, CAST(min(dist) AS BIGINT) AS dist FROM (
         |    SELECT * FROM d${i - 1} UNION ALL SELECT * FROM r$i) u
         |  GROUP BY id)""".stripMargin
    }
    (head +: rounds).mkString(",\n") +
      s"\nSELECT id, dist FROM d$SsspRounds"
  }

  private def bpeMergesOracle: String =
    s"WITH $bpeRoundsCte\n" +
      (1 to BpeSteps).map(i =>
        s"SELECT CAST($i AS INTEGER) AS step, l AS lhs, r AS rhs, freq FROM b$i")
        .mkString("\nUNION ALL ")

  /** q83: re-tokenize every document's words through the b1..b8 merges
    * (same padded triple-replace scan), then count subword tokens. */
  private def bpeTokenizeOracle: String = {
    val head =
      """d0 AS (
        |  SELECT doc_id,
        |    ' ' || trim(regexp_replace(w, '(.)', '\1 ', 'g')) || ' ' AS s
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |        FROM documents)
        |  WHERE len(w) > 0)""".stripMargin
    // LEFT JOIN ON TRUE, not a cross join: if the corpus exhausts its
    // pairs before BpeSteps merges, an empty b_i must pass documents
    // through unchanged (a cross join would annihilate every row and
    // return 0 docs while the engine returns all of them)
    val rounds = (1 to BpeSteps).map { i =>
      s"""d$i AS (SELECT doc_id,
         |    CASE WHEN b.l IS NULL THEN s
         |    ELSE replace(replace(replace(s,
         |    ' ' || b.l || ' ' || b.r || ' ', ' ' || b.l || b.r || ' '),
         |    ' ' || b.l || ' ' || b.r || ' ', ' ' || b.l || b.r || ' '),
         |    ' ' || b.l || ' ' || b.r || ' ', ' ' || b.l || b.r || ' ')
         |    END AS s
         |  FROM d${i - 1} LEFT JOIN b$i b ON TRUE)""".stripMargin
    }
    s"WITH $bpeRoundsCte,\n" + (head +: rounds).mkString(",\n") +
      s"""
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(len(string_split(trim(s), ' '))) AS BIGINT) AS n_tokens
         |FROM d$BpeSteps GROUP BY doc_id""".stripMargin
  }
}
