package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Unified durable persistence for the engine's standing indexes — the
  * restart half of the build-once / serve-many contract that every
  * 100 TB pipeline needs: a nightly job builds an index, SAVES it, and
  * every later session (or a crashed-and-restarted one) LOADS and
  * serves without re-reading the corpus. The reference has no standing
  * state at all (it re-reads and re-clusters its input file every run,
  * mpi_main.cpp:137-186); here the five standing-index families —
  * minhash near-dup index, IVF, PQ, composed IVF-PQ, and the NN-Descent
  * k-NN graph — all share one commit-manifest protocol, the
  * [[IncrementalDbscan.saveState]] pattern generalized:
  *
  *  - every save writes a fresh GENERATION directory `gen<g>` — data
  *    tables first, each with its DataFrame's own parallelism (at scale
  *    the index is cluster-wide parquet; nothing funnels through the
  *    driver);
  *  - a one-row `manifest-gen<g>` commits LAST — its presence marks a
  *    complete generation, so a crash anywhere mid-save leaves no new
  *    manifest and [[load]] keeps serving the PREVIOUS committed
  *    generation (a failed nightly re-save must never strand the
  *    restart path — detection AND availability are both crash-safe;
  *    a first save that crashes leaves nothing committed and [[load]]
  *    refuses the directory);
  *  - only after the new manifest lands are older generations garbage-
  *    collected, each old manifest strictly before its data (no
  *    committed manifest ever points at deleted tables);
  *  - the manifest records the index KIND and its build parameters; the
  *    loader restates what it intends to serve with and a mismatch
  *    throws with both sides (probing a minhash index with a different
  *    shingle width, or serving IVF-PQ codes against foreign centroid
  *    geometry, silently corrupts results — the exact failure class the
  *    guard exists for).
  *
  * Family-typed wrappers below fix each family's table names and
  * parameter keys; `save`/`load` are the shared protocol.
  */
object IndexStore {

  /** Bump when the on-disk layout changes shape (2 = generation dirs:
    * gen<g>/ + manifest-gen<g>/, crash-safe re-save). */
  private val FormatVersion = 2

  private val ManifestPrefix = "manifest-gen"
  private val GenPrefix = "gen"

  /** Generation numbers present under `dir` for dir names shaped
    * `<prefix><g>` — committed or partial. */
  private def genNumbers(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, prefix: String): Seq[Long] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith(prefix) &&
        n.drop(prefix.length).forall(_.isDigit) &&
        n.length > prefix.length)
      .map(_.drop(prefix.length).toLong)

  /** Durable save under the generation-commit protocol (see object
    * doc): tables land in a fresh `gen<g>` staging directory, the
    * `manifest-gen<g>` write is the commit point, and prior
    * generations are GC'd only after it lands — so the previous index
    * stays loadable through the entire replace window.
    * @param kind index family tag, guarded at load
    * @param params build parameters, guarded at load (exact match)
    * @param tables (name → table); names become subdirectories. */
  def save(dir: String, kind: String, params: Map[String, String],
      tables: Seq[(String, DataFrame)]): Unit = {
    require(tables.nonEmpty, "an index save needs at least one table")
    require(tables.map(_._1).distinct.length == tables.length,
      s"duplicate table names in ${tables.map(_._1)}")
    require(tables.forall(t => t._1.nonEmpty && !t._1.contains('/') &&
        t._1 != "manifest"),
      s"table names must be plain non-'manifest' dir names, " +
        s"got ${tables.map(_._1)}")
    val spark = tables.head._2.sparkSession
    val dPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // next generation: past every committed AND partial one (a crashed
    // save's orphan staging dir is never re-entered — it is GC'd when
    // this save commits)
    val g = ((genNumbers(fs, dPath, ManifestPrefix) ++
      genNumbers(fs, dPath, GenPrefix)) :+ 0L).max + 1
    tables.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$dir/$GenPrefix$g/$name")
    }
    import spark.implicits._
    val ks = params.keys.toSeq.sorted
    // the COMMIT: readers switch to generation g the moment this lands
    Seq((FormatVersion, g, kind, ks, ks.map(params), tables.map(_._1)))
      .toDF("format_version", "generation", "kind", "param_keys",
        "param_vals", "table_names")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/$ManifestPrefix$g")
    // GC superseded generations — each manifest strictly BEFORE its
    // data, so no committed manifest ever points at deleted tables
    (genNumbers(fs, dPath, ManifestPrefix) ++
      genNumbers(fs, dPath, GenPrefix)).distinct.filter(_ < g).sorted
      .foreach { old =>
        fs.delete(new org.apache.hadoop.fs.Path(
          s"$dir/$ManifestPrefix$old"), true)
        fs.delete(new org.apache.hadoop.fs.Path(
          s"$dir/$GenPrefix$old"), true)
      }
  }

  /** Load a [[save]]d index for serving: the newest COMMITTED
    * generation (highest readable `manifest-gen<g>`; a torn manifest
    * from a crash mid-commit falls back to the previous generation).
    * Restated `kind`/`params` are guarded against the manifest (see
    * object doc). Loaded tables read straight from parquet — no
    * lineage to the building session.
    * @return tables by name, exactly the set that was saved. */
  def load(spark: SparkSession, dir: String, kind: String,
      params: Map[String, String]): Map[String, DataFrame] = {
    val dPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed = genNumbers(fs, dPath, ManifestPrefix).sorted.reverse
      .iterator.map { g =>
        try Some((g,
          spark.read.parquet(s"$dir/$ManifestPrefix$g").head()))
        catch {
          // a torn manifest (crash inside the commit write) is not a
          // committed generation — fall back to the one before it
          case _: org.apache.spark.sql.AnalysisException => None
          case _: org.apache.spark.SparkException => None
        }
      }.collectFirst { case Some(gm) => gm }
    val (g, m) = committed.getOrElse(throw new IllegalArgumentException(
      s"$dir holds no complete saved index (no committed manifest — " +
        "interrupted save?)"))
    val mv = m.getAs[Int]("format_version")
    require(mv == FormatVersion,
      s"index at $dir has format_version=$mv, this build reads " +
        s"$FormatVersion")
    val mKind = m.getAs[String]("kind")
    require(mKind == kind,
      s"index at $dir is a '$mKind' index, caller asked for '$kind'")
    val mParams = m.getAs[scala.collection.Seq[String]]("param_keys")
      .zip(m.getAs[scala.collection.Seq[String]]("param_vals")).toMap
    require(mParams == params,
      s"index at $dir was built with $mParams; serving it with $params " +
        "would corrupt results")
    m.getAs[scala.collection.Seq[String]]("table_names").map { name =>
      name -> spark.read.parquet(s"$dir/$GenPrefix$g/$name")
    }.toMap
  }

  // ---------------- family-typed wrappers ----------------

  /** Persist a [[Dedup.minHashIndex]] (`id`, `sig`, `toks`).
    * @param shingleN shingle width the index was built with
    * @param numHashes signature length (the `k` of minHashIndex). */
  def saveMinHash(dir: String, index: DataFrame, shingleN: Int,
      numHashes: Int): Unit =
    save(dir, "minhash",
      Map("shingle_n" -> shingleN.toString,
        "num_hashes" -> numHashes.toString),
      Seq("index" -> index))

  /** Load for [[Dedup.minHashJoinAgainst]] probes — `shingleN`/
    * `numHashes` must match the build (band keys and probe signatures
    * are derived from them). */
  def loadMinHash(spark: SparkSession, dir: String, shingleN: Int,
      numHashes: Int): DataFrame =
    load(spark, dir, "minhash",
      Map("shingle_n" -> shingleN.toString,
        "num_hashes" -> numHashes.toString))("index")

  /** Persist an IVF index: the [[AnnSearch.centroids]] table plus the
    * assigned vector table [[AnnSearch.ivfTopKPrebuilt]] serves from. */
  def saveIvf(dir: String, centroids: DataFrame, vectors: DataFrame,
      nCentroids: Int, iters: Int, seed: Long): Unit =
    save(dir, "ivf",
      Map("n_centroids" -> nCentroids.toString, "iters" -> iters.toString,
        "seed" -> seed.toString),
      Seq("centroids" -> centroids, "vectors" -> vectors))

  /** @return (centroids, vectors) for [[AnnSearch.ivfTopKPrebuilt]]. */
  def loadIvf(spark: SparkSession, dir: String, nCentroids: Int,
      iters: Int, seed: Long): (DataFrame, DataFrame) = {
    val t = load(spark, dir, "ivf",
      Map("n_centroids" -> nCentroids.toString, "iters" -> iters.toString,
        "seed" -> seed.toString))
    (t("centroids"), t("vectors"))
  }

  /** Persist a PQ index: [[AnnSearch.pqCodebook]] + [[AnnSearch.pqEncode]]
    * codes. */
  def savePq(dir: String, codebook: DataFrame, codes: DataFrame,
      m: Int, nCodes: Int, iters: Int, seed: Long): Unit =
    save(dir, "pq",
      Map("m" -> m.toString, "n_codes" -> nCodes.toString,
        "iters" -> iters.toString, "seed" -> seed.toString),
      Seq("codebook" -> codebook, "codes" -> codes))

  /** @return (codebook, codes) for [[AnnSearch.pqTopKRerank]]. */
  def loadPq(spark: SparkSession, dir: String, m: Int, nCodes: Int,
      iters: Int, seed: Long): (DataFrame, DataFrame) = {
    val t = load(spark, dir, "pq",
      Map("m" -> m.toString, "n_codes" -> nCodes.toString,
        "iters" -> iters.toString, "seed" -> seed.toString))
    (t("codebook"), t("codes"))
  }

  /** Persist a composed [[AnnSearch.ivfPqIndex]] (all three artifacts —
    * the serving fleet's nightly build). */
  def saveIvfPq(dir: String, centroids: DataFrame, codebook: DataFrame,
      codes: DataFrame, nCentroids: Int, m: Int, nCodes: Int, iters: Int,
      seed: Long): Unit =
    save(dir, "ivfpq",
      Map("n_centroids" -> nCentroids.toString, "m" -> m.toString,
        "n_codes" -> nCodes.toString, "iters" -> iters.toString,
        "seed" -> seed.toString),
      Seq("centroids" -> centroids, "codebook" -> codebook,
        "codes" -> codes))

  /** @return (centroids, codebook, codes) for [[AnnSearch.ivfPqTopK]]. */
  def loadIvfPq(spark: SparkSession, dir: String, nCentroids: Int,
      m: Int, nCodes: Int, iters: Int, seed: Long)
      : (DataFrame, DataFrame, DataFrame) = {
    val t = load(spark, dir, "ivfpq",
      Map("n_centroids" -> nCentroids.toString, "m" -> m.toString,
        "n_codes" -> nCodes.toString, "iters" -> iters.toString,
        "seed" -> seed.toString))
    (t("centroids"), t("codebook"), t("codes"))
  }

  /** Persist an [[AnnSearch.knnGraph]] edge table (`a_id`, `nbr_id`,
    * `rnk`) — the standing graph [[AnnSearch.graphTopK]] serves and
    * [[AnnSearch.addToKnnGraph]]/[[AnnSearch.retractFromKnnGraph]]
    * maintain. */
  def saveKnnGraph(dir: String, edges: DataFrame, k: Int, iters: Int,
      seed: Long): Unit =
    save(dir, "knn_graph",
      Map("k" -> k.toString, "iters" -> iters.toString,
        "seed" -> seed.toString),
      Seq("edges" -> edges))

  /** @return the standing edge table. */
  def loadKnnGraph(spark: SparkSession, dir: String, k: Int, iters: Int,
      seed: Long): DataFrame =
    load(spark, dir, "knn_graph",
      Map("k" -> k.toString, "iters" -> iters.toString,
        "seed" -> seed.toString))("edges")

  /** Persist a LAYERED graph index — a one-level
    * [[AnnSearch.layerGraphs]] stack + base-[[AnnSearch.knnGraph]]
    * triple that [[AnnSearch.graphTopKLayeredMulti]] serves from: base
    * edges, the promoted layer's vectors, and the layer's edges, under one
    * manifest (serving needs all three consistently — persisting them
    * separately invites mixed-generation loads). */
  def saveLayeredGraph(dir: String, baseEdges: DataFrame,
      layerVecs: DataFrame, layerEdges: DataFrame, k: Int, iters: Int,
      levelDiv: Int, seed: Long): Unit =
    save(dir, "layered_graph",
      Map("k" -> k.toString, "iters" -> iters.toString,
        "level_div" -> levelDiv.toString, "seed" -> seed.toString),
      Seq("edges" -> baseEdges, "layer_vecs" -> layerVecs,
        "layer_edges" -> layerEdges))

  /** @return (base edges, layer vectors, layer edges) for
    * [[AnnSearch.graphTopKLayeredMulti]] (layers = Seq((layer vectors,
    * layer edges))). */
  def loadLayeredGraph(spark: SparkSession, dir: String, k: Int,
      iters: Int, levelDiv: Int, seed: Long)
      : (DataFrame, DataFrame, DataFrame) = {
    val t = load(spark, dir, "layered_graph",
      Map("k" -> k.toString, "iters" -> iters.toString,
        "level_div" -> levelDiv.toString, "seed" -> seed.toString))
    (t("edges"), t("layer_vecs"), t("layer_edges"))
  }
}
