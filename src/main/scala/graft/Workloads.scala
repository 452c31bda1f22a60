package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Reference-dataset workload constructors shared by [[Bench]] and
  * [[Explain]] — one definition of the persist-before-pickBucketDims
  * dance and the localThreshold plumbing, so the profiled plan is always
  * the benchmarked plan. */
object Workloads {

  /** Full DBSCAN over one of the reference's binary point files.
    * @param localThreshold forwarded to [[operators.Dbscan.run]]; pass 0
    *   to force the distributed pipeline. */
  def dbscanBin(spark: SparkSession, path: String, eps: Double, minPts: Int,
      samplePct: Double = 1.0,
      localThreshold: Long = 100_000L): DataFrame = {
    val pts0 = graft.sources.BinaryPoints.read(spark, path)
    // cache before pickBucketDims: it and Dbscan.run share the scan
    val pts = graft.operators.PointSink.sampleGate(pts0, samplePct).persist()
    val dims = graft.operators.EpsilonJoin.pickBucketDims(pts, "features",
      eps, knownDim = graft.sources.BinaryPoints.header(path)._2)
    graft.operators.Dbscan.run(pts, "id", "features", eps, minPts, dims,
      localThreshold = localThreshold)
  }

  /** Deterministic synthetic clustered point cloud, generated IN-ENGINE
    * (spark.range + xxhash64 uniforms — no files, no driver data): `k`
    * cluster centers uniform in [0,100]^dims, each point offset ±3 per
    * dim around its hash-assigned center, 5% background noise uniform in
    * the cube. Scale-evidence workload: the reference tops out at 61k
    * points; this runs the SAME distributed DBSCAN (forced shuffling
    * path) at millions of rows, where job-count overhead stops mattering
    * and the ε-join + CC loop dominate — the regime a real cluster runs.
    * Generation is a narrow codegen'd projection: negligible next to the
    * clustering itself, and identical under any partitioning. */
  def synthPoints(spark: SparkSession, n: Long, k: Int,
      dims: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    def u01(seed: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      pmod(xxhash64(seed), lit(1000000L)).cast("double") / lit(1000000.0)
    val id = col("id")
    val cluster = pmod(xxhash64(id, lit("c")), lit(k.toLong))
    val isNoise = u01(concat(id.cast("string"), lit("n"))) < lit(0.05)
    val feats = array((0 until dims).map { d =>
      val center = u01(concat(cluster.cast("string"), lit(s"#$d"))) * 100.0
      val off = (u01(concat(id.cast("string"), lit(s"@$d"))) - 0.5) * 6.0
      val noiseCoord = u01(concat(id.cast("string"), lit(s"!$d"))) * 100.0
      when(isNoise, noiseCoord).otherwise(center + off)
        .cast("float")
    }: _*)
    spark.range(n).select(id, feats.as("features"))
  }

  /** Distributed DBSCAN over [[synthPoints]] — always the shuffling
    * pipeline (localThreshold = 0). */
  def dbscanSynth(spark: SparkSession, n: Long, k: Int, dims: Int,
      eps: Double, minPts: Int): DataFrame = {
    val pts = synthPoints(spark, n, k, dims).persist()
    val bDims = graft.operators.EpsilonJoin.pickBucketDims(pts, "features",
      eps, knownDim = dims)
    graft.operators.Dbscan.run(pts, "id", "features", eps, minPts, bDims,
      localThreshold = 0L)
  }

  /** Decremental-fold scale twin: bootstrap the standing clustering
    * over `n` synthetic points, then fold a LOCALIZED delete batch OUT
    * and label — every point of 2 of the k planted blobs (~8% of the
    * corpus at k=25), the retention-window shape where expired data
    * lives in specific regions, not sprinkled uniformly. Only the tiles
    * within 2ε of those blobs (and of components that may split)
    * re-solve; the state rows of the other k−2 blobs pass through.
    * Interpreting the number: this measures init + fold;
    * `dbscan_synth500k` beside it measures a from-scratch run alone,
    * so (this − that) is the marginal cost of answering a localized
    * delete with the standing state, versus paying a whole second
    * recluster (the reference's only answer). The honest worst case is
    * documented, not measured: a delete sprinkled across EVERY tile
    * re-solves everything — targeting is a property of the batch's
    * locality, and from-scratch label equality holds either way (q231
    * oracles a uniform 10% delete). */
  def dbscanDecrSynth(spark: SparkSession, n: Long, k: Int, dims: Int,
      eps: Double, minPts: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.operators.IncrementalDbscan
    val (pts, bDims, st0) = decrBootstrap(spark, n, k, dims, eps, minPts)
    // synthPoints' planted blob assignment: delete blobs 0 and 1
    // wholesale (their noise-flagged points included — noise locality
    // does not matter, component locality does)
    val expired = pts.select("id")
      .filter(pmod(xxhash64(col("id"), lit("c")), lit(k.toLong)) < 2)
    // pin before labels — the established fold discipline: labels then
    // plans against shallow checkpointed leaves, not the fold DAG
    // (unpinned measured 43.7 s of optimizer/codegen vs ~4 s pinned)
    val st1 = IncrementalDbscan.pin(IncrementalDbscan.removePoints(st0,
      expired, "id", eps, minPts, bDims))
    IncrementalDbscan.labels(st1)
  }

  /** Durability scale twin: the SAME scenario as [[dbscanDecrSynth]],
    * but the fold runs against a state that went through a full
    * parquet save → reload seam first (IncrementalDbscan.saveState /
    * loadState) — the restarted-session path q235 oracles at sf
    * scale, measured at 500k. Interpreting the number: (this −
    * dbscan_decr_synth500k) ≈ the cost of persisting and re-reading
    * the four state tables; the fold itself plans against freshly-
    * scanned parquet leaves instead of in-memory pins, which is
    * exactly what a daily-batch restart pays. */
  def dbscanStateRoundTrip(spark: SparkSession, n: Long, k: Int,
      dims: Int, eps: Double, minPts: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.operators.IncrementalDbscan
    val (pts, bDims, st0) = decrBootstrap(spark, n, k, dims, eps, minPts)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_state_rt").toString
    try {
      IncrementalDbscan.saveState(st0, dir, eps, minPts, bDims)
      val st1 = IncrementalDbscan.loadState(spark, dir, eps, minPts, bDims)
      val expired = pts.select("id")
        .filter(pmod(xxhash64(col("id"), lit("c")), lit(k.toLong)) < 2)
      // pin is an eager localCheckpoint: after it, neither the fold nor
      // labels() ever re-reads the parquet state, so the dir can go now
      val st2 = IncrementalDbscan.pin(IncrementalDbscan.removePoints(st1,
        expired, "id", eps, minPts, bDims))
      IncrementalDbscan.labels(st2)
    } finally deleteTree(dir)
  }

  /** Recursive temp-dir delete (deleteOnExit cannot remove a non-empty
    * directory, so per-rep state dirs would otherwise pile up in /tmp). */
  private[graft] def deleteTree(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root)) {
      val walk = java.nio.file.Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
  }

  /** Shared bootstrap of the standing 500k clustering — it exists BY
    * DEFINITION of the decremental/durability scenarios, so it is
    * built once and cached across bench reps (rep 1 pays the init;
    * the init cost itself is ~dbscan_synth500k). */
  private def decrBootstrap(spark: SparkSession, n: Long, k: Int,
      dims: Int, eps: Double, minPts: Int)
      : (DataFrame, Seq[Int], graft.operators.IncrementalDbscan.State) = {
    import graft.operators.IncrementalDbscan
    val key = s"decr:$n:$k:$dims:$eps:$minPts"
    // the cache hit must also be SESSION-bound: a later call with the
    // same key after the owning session was stopped/recreated would
    // hand back persisted frames and localCheckpoint blocks of a dead
    // SparkContext (runtime failure); on mismatch, release the stale
    // entry's pin and rebuild against the live session
    decrCache match {
      case Some((`key`, v)) if v._1.sparkSession eq spark => v
      case stale =>
        stale.foreach { case (_, (oldPts, _, _)) =>
          if (oldPts.sparkSession eq spark)
            oldPts.unpersist(blocking = false)
        }
        decrCache = None
        val p = synthPoints(spark, n, k, dims).persist()
        val bd = graft.operators.EpsilonJoin.pickBucketDims(p,
          "features", eps, knownDim = dims)
        val s0 = IncrementalDbscan.pin(IncrementalDbscan.init(
          p, "id", "features", eps, minPts, bd))
        decrCache = Some((key, (p, bd, s0)))
        (p, bd, s0)
    }
  }

  private var decrCache: Option[(String,
    (DataFrame, Seq[Int], graft.operators.IncrementalDbscan.State))] = None

  /** Deterministic synthetic near-dup corpus, generated IN-ENGINE like
    * [[synthPoints]] (one narrow codegen'd projection, no files):
    * `templates` base documents of `len` tokens over a `vocab`-word
    * lexicon; each doc instantiates its hash-assigned template with
    * `mutPct`% of positions rewritten to a doc-private word. Docs
    * sharing a template are near-duplicates (expected token overlap
    * (1 − mutPct/100)² per position); different templates are unrelated
    * word soup. */
  def synthDocs(spark: SparkSession, n: Long, templates: Int,
      docLen: Int, vocab: Int, mutPct: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    val id = col("id")
    val tpl = pmod(xxhash64(id, lit("t")), lit(templates.toLong))
    val words = (0 until docLen).map { p =>
      val base = concat(lit("w"),
        pmod(xxhash64(tpl, lit(p)), lit(vocab.toLong)).cast("string"))
      val mut = concat(lit("m"),
        pmod(xxhash64(id, lit(p), lit("m")), lit(vocab.toLong))
          .cast("string"))
      when(pmod(xxhash64(id, lit(p), lit("x")), lit(100L)) < mutPct, mut)
        .otherwise(base)
    }
    spark.range(n)
      .select(id.as("doc_id"), concat_ws(" ", words: _*).as("text"))
  }

  /** Deterministic synthetic power-law-ish directed graph, generated
    * IN-ENGINE: `m` edges over `nodes` vertices; destinations
    * concentrate on low ids (hash of hash — a crude preferential
    * skew), sources near-uniform. The graph-family scale workload
    * generator. */
  def synthEdges(spark: SparkSession, m: Long, nodes: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val id = col("id")
    val src = pmod(xxhash64(id, lit("s")), lit(nodes))
    // skew: second hash squashes toward 0 (x*x/n keeps range, favors
    // small values) — hubs receive many in-edges like a web graph
    val h = pmod(xxhash64(id, lit("d")), lit(nodes))
    val dst = (h * h) % lit(nodes)
    spark.range(m).select(src.as("src"), dst.as("dst"))
      .filter(col("src") =!= col("dst"))
  }

  /** Forced-distributed PageRank over [[synthEdges]] — the BSP loop
    * (out-degree join + contribution shuffle per round) at a scale
    * where per-round orchestration stops mattering; scale-evidence
    * twin of [[dbscanSynth]] for the graph family. */
  def pagerankSynth(spark: SparkSession, m: Long, nodes: Long,
      iterations: Int = 10): DataFrame = {
    val e = synthEdges(spark, m, nodes).persist()
    graft.operators.PageRank.run(e, "src", "dst",
      iterations = iterations, localThreshold = 0L)
  }

  /** MinHash-LSH near-dup over [[synthDocs]] — the full shingle →
    * signature → band-bucket → exact-verify pipeline at synthetic
    * scale (~n/10 docs per template ⇒ the verified pair stream is
    * ~4.5n rows). Scale-evidence twin of [[dbscanSynth]] for the dedup
    * family. */
  def dedupSynth(spark: SparkSession, n: Long): DataFrame =
    graft.operators.Dedup.minHashJoin(
      synthDocs(spark, n, templates = math.max((n / 10).toInt, 10),
        docLen = 60, vocab = 5000, mutPct = 5),
      "doc_id", "text", n = 5, minJaccard = 0.35)

  /** ExactSubstr scale twin: a REALISTIC duplication profile — 95%
    * unique documents (mutPct = 100 makes every word id-derived) plus
    * 5% boilerplate docs in ~10-near-copy template groups — through
    * the ANCHORED duplicated-span pass (L = 40 chars, stride 4). The
    * anchored design's whole point is that only the 1/stride content
    * anchors reach the multiplicity exchange and the extension phase
    * touches only duplicated neighborhoods; a fully-templated corpus
    * (every doc 10× near-copied, the minhash_synth1m shape) is the
    * ANTI-profile — there the dup-anchor set IS the corpus and the
    * ±8·stride neighborhoods explode to billions of rows (measured:
    * ~630 s at 1M docs vs ~1 min on this profile). Real ExactSubstr
    * corpora are a few percent boilerplate (Lee et al. 2021), which
    * is what this pins. Closed by a bounded span-length histogram so
    * the bench action consumes every span row. */
  def substrSynth(spark: SparkSession, n: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val nDup = math.max(n / 20, 100L)
    val uniq = synthDocs(spark, n - nDup, templates = 1, docLen = 60,
      vocab = 5000, mutPct = 100)
    val dup = synthDocs(spark, nDup,
        templates = math.max((nDup / 10).toInt, 5),
        docLen = 60, vocab = 5000, mutPct = 5)
      .select((col("doc_id") + lit(n - nDup)).as("doc_id"), col("text"))
    graft.operators.SubstringDedup.duplicatedSpansAnchored(
      uniq.unionAll(dup), "doc_id", "text", l = 40, stride = 4)
      .groupBy(floor(col("span_len") / 40L).cast("long").as("len_band"))
      .agg(count(lit(1)).as("n_spans"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(col("span_len")).as("dup_chars"))
  }

  /** TEXT-family scale twin: the per-document quality battery (token
    * count, entropy, duplicate-3-gram repetition, lexical diversity —
    * all native shingle/token kernels) over `n` in-engine documents,
    * closed by a per-quality-band rollup so the bench action consumes
    * every column. One tokenize-shaped scan + one aggregate — the
    * linear pipeline whose 100 TB cost IS scan throughput. */
  def textStatsSynth(spark: SparkSession, n: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions.{tokens, shinglesAll}
    val docs = synthDocs(spark, n, templates = math.max((n / 10).toInt, 10),
      docLen = 60, vocab = 5000, mutPct = 5)
    val toks = tokens(col("text"))
    val grams = shinglesAll(col("text"), 3)
    val perDoc = docs.select(col("doc_id"),
        size(toks).as("n_tokens"),
        size(grams).as("n_grams"),
        size(array_distinct(grams)).as("n_dist_grams"),
        size(array_distinct(toks)).as("n_types"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_grams") - col("n_dist_grams")).as("dup_grams"),
        expr("(n_types * 100L) DIV n_tokens").as("ttr_pct"))
    perDoc.groupBy((col("ttr_pct") - pmod(col("ttr_pct"), lit(10L)))
        .as("ttr_band"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("tokens"),
        sum(col("dup_grams")).as("dup_grams"))
  }

  /** End-to-end CURATION pipeline scale twin — the composition the
    * single-family diagnostics exercise one at a time: near-dup LSH →
    * survivor selection (CC canonical ids) → quality gate (token-count
    * band + duplicate-3-gram repetition cap, native kernels) →
    * deterministic train/val split → 512-token greedy sequence
    * packing. Returns the per-split summary (docs, sequences, tokens) —
    * one number path for "would the whole pipeline hold at n docs".
    * Every stage is an operator the oracle suite already hash-checks at
    * fixture scale; this measures their composition. */
  def curationSynth(spark: SparkSession, n: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.operators.{Curation, Dedup}
    import graft.functions.TextFunctions.{tokens, shinglesAll}
    val docs = synthDocs(spark, n, templates = math.max((n / 10).toInt, 10),
      docLen = 60, vocab = 5000, mutPct = 5).persist()
    val pairs = Dedup.minHashJoin(docs, "doc_id", "text", 5, 0.35)
      .select(col("a_id"), col("b_id"))
    val kept = Dedup.dupGroups(pairs, docs, "doc_id")
      .filter(col("is_survivor")).select(col("doc_id"))
      .join(docs, "doc_id")
    val toks = tokens(col("text"))
    val grams = shinglesAll(col("text"), 3)
    val quality = kept
      .withColumn("__nt", size(toks).cast("long"))
      .withColumn("__dup",
        (size(grams) - size(array_distinct(grams))).cast("long"))
      // Gopher-shaped gate: length band + repetition cap (dup 3-grams
      // under 20% of gram positions)
      .filter(col("__nt").between(10, 1000) &&
        col("__dup") * 5 < (col("__nt") - 2))
    val split = Curation.hashSplit(
      quality.select(col("doc_id"), col("__nt")),
      "doc_id", Seq("train" -> 0.99, "val" -> 0.01), "curation-v1")
    val packed = Curation
      .packSequences(split.withColumnRenamed("split", "shard"),
        "shard", "doc_id", "__nt", budget = 512L)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("seq_id")).as("n_seqs"),
        sum(col("__nt")).as("tokens"))
    // post-training tail at the same scale: the train shard's docs
    // become conversation turns (~60 per conv), assemble into SFT
    // transcripts with loss-mask spans, and the transcripts pack into
    // 8k-char context windows — the q230 + q41 composition carrying
    // its evidence at 250k docs instead of fixture scale
    val turns = split.filter(col("split") === "train")
      .join(docs, "doc_id")
      .select(pmod(col("doc_id"), lit(math.max(n / 60L, 1L))).as("conv"),
        col("doc_id").as("ord"),
        when(col("doc_id") % 2 === 0, lit("user"))
          .otherwise(lit("assistant")).as("role"),
        col("text"))
    val sft = Curation.sftTranscripts(turns, "conv", "ord", "role", "text")
    val sftPacked = Curation.packSequences(
      sft.groupBy("conv").agg(max("n_chars").as("__nc"))
        .withColumn("shard", lit("sft_train")),
      "shard", "conv", "__nc", budget = 8192L)
    packed.unionByName(sftPacked.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("seq_id")).as("n_seqs"),
        sum(col("__nc")).as("tokens")))
  }

  /** Deterministic synthetic clustered embedding corpus, generated
    * IN-ENGINE like [[synthPoints]]: `k` cluster directions uniform in
    * [0,1]^dims, each vector jittered ±0.05 per dim around its
    * hash-assigned direction. Clustered like a real embedding space, so
    * IVF cells genuinely prune — uniform vectors would make any
    * cell-probed ANN look artificially bad (nothing prunes) or good
    * (everything is equidistant). */
  def synthEmbeddings(spark: SparkSession, n: Long, dims: Int,
      k: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    def u01(seed: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      pmod(xxhash64(seed), lit(1000000L)).cast("double") / lit(1000000.0)
    val id = col("id")
    val cluster = pmod(xxhash64(id, lit("c")), lit(k.toLong))
    val feats = array((0 until dims).map { d =>
      val center = u01(concat(cluster.cast("string"), lit(s"#$d")))
      val off = (u01(concat(id.cast("string"), lit(s"@$d"))) - 0.5) * 0.1
      (center + off).cast("float")
    }: _*)
    spark.range(n).select(id.as("vec_id"), feats.as("embedding"))
  }

  /** High-dimensional Euclidean ε-join scale twin — the tiled kd-tree
    * path ([[graft.operators.EpsilonJoin.selfJoinKd]]: DbscanTiles tiles
    * at halo reach ε + ghost replication + per-tile kd radius queries)
    * over 32-d clustered vectors, where the 3-dim grid path alone would
    * prune weakly. Returns the per-blob pair histogram (bounded output;
    * the pair stream itself is the measured work). */
  def kdEpsSynth(spark: SparkSession, n: Long, eps: Double): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.operators.EpsilonJoin.selfJoinKd(
        synthEmbeddings(spark, n, 32, 64), "vec_id", "embedding", eps)
      // reconstruct the PLANTED blob id (synthEmbeddings' assignment
      // hash) so the histogram actually reflects per-blob pair mass
      .groupBy(pmod(xxhash64(col("a_id"), lit("c")), lit(64L)).as("blob"))
      .agg(count(lit(1)).as("pairs"))
  }

  /** IVF ANN over [[synthEmbeddings]] — the nightly-build + serve
    * shape at synthetic scale: Lloyd over the full corpus, then exact
    * cosine top-k inside the probed cells for one query per 1000
    * vectors. Scale-evidence twin of [[dedupSynth]] for the
    * similarity-search family: the candidate stream is
    * queries × nProbe × cell-size, never corpus². The data has a FIXED
    * 64 planted blobs while the index defaults to 256 cells — several
    * cells per blob, so nProbe genuinely has to find the right
    * sub-cells (index geometry tied to data geometry would make every
    * probe trivially correct). Cell size n/nCentroids is the scan
    * knob: at 1M/256 each probe touches ~3.9k vectors. */
  def annSynth(spark: SparkSession, n: Long, dims: Int = 32,
      nCentroids: Int = 256, k: Int = 10, nProbe: Int = 8): DataFrame = {
    import org.apache.spark.sql.functions._
    val emb = synthEmbeddings(spark, n, dims, k = 64).persist()
    val q = emb.filter(pmod(col("vec_id"), lit(1000L)) === 0)
      .select(col("vec_id").as("a_id"), col("embedding").as("a_v"))
    val b = emb.select(col("vec_id").as("b_id"), col("embedding").as("b_v"))
    graft.operators.AnnSearch.ivfTopK(q, b, k, nCentroids, nProbe)
  }

  /** ANN-index DURABILITY at scale — [[annSynth]]'s nightly-build/serve
    * pair with the [[graft.operators.IndexStore]] seam in the middle:
    * build the IVF artifacts over `n` vectors, SAVE under the commit
    * manifest, LOAD back (no lineage to the building session), and
    * serve the query batch from the loaded artifacts. The delta vs
    * `ann_synth1m` is the price of persisting + re-reading the index —
    * the restart path a real serving fleet takes nightly
    * (dbscan_state_rt_synth500k's shape for the ANN family).
    *
    * The temp index dir is deleted BEFORE the returned serve plan is
    * evaluated — sound here only because the loaded tables are
    * localCheckpoint'd (eager blocks, no parquet lineage) and
    * bench/verify run single-host: an executor loss after deletion
    * would make the blocks unrecoverable with the source gone. A real
    * serving fleet keeps the index dir alive for the serve's lifetime
    * (delete after the consuming action, not after load). */
  def annIndexRoundTrip(spark: SparkSession, n: Long, dims: Int = 32,
      nCentroids: Int = 256, k: Int = 10, nProbe: Int = 8): DataFrame = {
    import org.apache.spark.sql.functions._
    val emb = synthEmbeddings(spark, n, dims, k = 64).persist()
    val b = emb.select(col("vec_id").as("b_id"), col("embedding").as("b_v"))
    val cents = graft.operators.AnnSearch.centroids(b, nCentroids)
    val dir = java.nio.file.Files.createTempDirectory("graft_annrt")
    try {
      graft.operators.IndexStore.saveIvf(dir.toString, cents, b,
        nCentroids, iters = 2, seed = 42L)
      val (lc, lv) = graft.operators.IndexStore.loadIvf(spark,
        dir.toString, nCentroids, iters = 2, seed = 42L)
      val q = emb.filter(pmod(col("vec_id"), lit(1000L)) === 0)
        .select(col("vec_id").as("a_id"), col("embedding").as("a_v"))
      graft.operators.AnnSearch.ivfTopKPrebuilt(q, lv.localCheckpoint(),
        k, lc.localCheckpoint(), nProbe)
    } finally deleteTree(dir.toString)
  }

  /** Graph-ANN build + serve + MEASURED recall on [[synthEmbeddings]]
    * (the ann_synth1m corpus): NN-Descent graph at (`buildK`,
    * `iters`), beam serve at (`ef`, `rounds`), recall@`k` of the beam
    * result against exact brute-force cosine over `nQueries` sampled
    * queries — the knob table a real graph-ANN user tunes by. Returns
    * (build_sec, serve_sec, recall); everything is deterministic, so
    * recall is a standing golden, not a random measurement.
    * @param nQueries sampled as vec_id % (n / nQueries) == 0 —
    *   corpus members, matching the brute-force self-exclusion. */
  def knnGraphRecall(spark: SparkSession, n: Long, buildK: Int,
      iters: Int, ef: Int, rounds: Int, k: Int = 10,
      nQueries: Int = 200, nEntries: Int = 0,
      layered: Boolean = false, levelDiv: Int = 16,
      ivfCells: Int = 0)
      : (Double, Double, Double, Double) = {
    import org.apache.spark.sql.functions._
    // n/nQueries is the sampling modulus — n < nQueries would make it
    // 0 (NULL pmod → silently zero queries → recall 0.0, a WRONG
    // standing golden rather than an error)
    require(n >= nQueries,
      s"need n >= nQueries, got n=$n nQueries=$nQueries")
    val A = graft.operators.AnnSearch
    val emb = synthEmbeddings(spark, n, 32, 64)
    val bd = emb.select(col("vec_id").as("b_id"),
      col("embedding").as("b_v")).persist()
    bd.count() // corpus generation outside the build clock
    val t0 = System.nanoTime()
    // knnGraph localCheckpoints its result — count() pins the clock to
    // full materialization anyway. ivfCells > 0 selects the IVF-cell-
    // sharded build (knnGraphIvf), whose sharded exchanges are linear
    // in n, where NN-Descent at buildK=20/1M overflowed this host's
    // shuffle disk (round-10 finding)
    val g =
      if (ivfCells > 0)
        // one NN-Descent round on top of the sharded
        // build (measured at 1M/1024 cells: graph recall 0.66 sharded
        // → ~0.9 refined). knnGraphIvf checkpoints its own output.
        A.knnGraphIvf(bd, k = buildK, nCells = ivfCells, refineIters = 1)
      // localThreshold = 0: the knob table is SCALE evidence for the
      // distributed build/serve machinery — the fused single-task twin
      // (bit-identical rows) must not absorb the 50k rows it would
      // otherwise win, or the build_sec columns stop measuring what
      // the table documents (round-11 optimization rule)
      else A.knnGraph(bd, k = buildK, iters = iters, buildK = buildK,
        localThreshold = 0L)
    g.count()
    // the layered index builds its multi-level stack INSIDE the build
    // clock (it is part of the standing index)
    val layer =
      if (layered) {
        val ls = A.layerGraphs(bd, levelDiv, k = buildK, iters = iters,
          localThreshold = 0L)
          .map { case (lb, lg) =>
            val pg = lg.localCheckpoint(); pg.count(); (lb, pg)
          }
        Some(ls)
      } else None
    val buildSec = (System.nanoTime() - t0) / 1e9
    val qd = emb.filter(pmod(col("vec_id"), lit(n / nQueries)) === 0)
      .select(col("vec_id").as("a_id"), col("embedding").as("a_v"))
      .persist()
    qd.count()
    def pairSet(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val t1 = System.nanoTime()
    // entry count defaults to ef (the q253 geometry), but on CLUSTERED
    // corpora it is the recall lever: a k-NN graph over well-separated
    // blobs disconnects into per-blob components, and the beam can
    // only reach components that hold an entry — entries must cover
    // the cluster structure (HNSW's long-range layers solve the same
    // problem; entries are the BSP-friendly knob: a broadcast shortlist)
    val ne = if (nEntries > 0) nEntries else ef
    val served = pairSet((layer match {
      case Some(ls) => A.graphTopKLayeredMulti(qd, bd, g, ls, k,
        ef, rounds, nEntries = ne, localThreshold = 0L)
      case None => A.graphTopK(qd, bd, g, k, ef, rounds, nEntries = ne,
        localThreshold = 0L)
    }).select("a_id", "nbr_id"))
    val serveSec = (System.nanoTime() - t1) / 1e9
    val truth = pairSet(A.bruteForceTopK(qd, bd, k)
      .select("a_id", "nbr_id"))
    val recall =
      if (truth.isEmpty) 0.0
      else served.intersect(truth).size.toDouble / truth.size
    // the graph's INTRINSIC quality at the same k — separates build
    // loss (true neighbor not an edge) from walk loss (edge exists but
    // the beam never reaches it): queries are corpus members, so their
    // top-k edge rows are directly comparable to the brute-force truth
    val graphEdges = pairSet(g.filter(col("rnk") <= k)
      .join(qd.select(col("a_id")), "a_id")
      .select("a_id", "nbr_id"))
    val graphRecall =
      if (truth.isEmpty) 0.0
      else graphEdges.intersect(truth).size.toDouble / truth.size
    bd.unpersist(blocking = false)
    qd.unpersist(blocking = false)
    (math.rint(buildSec * 100) / 100, math.rint(serveSec * 100) / 100,
      math.rint(recall * 10000) / 10000,
      math.rint(graphRecall * 10000) / 10000)
  }
}
