package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Strong-scaling sweep — the mirror of the reference's own rank sweep
  * (`manyTests.py` at 2/4/8/16 MPI ranks), with the result the
  * reference could NOT produce: its cluster count drifts with ranks
  * (51/49/45/42 on clus50k — `Progress-5-Nov-19.txt:9-29`, the ≥4-rank
  * merge bug), while this engine's labels are partitioning-invariant by
  * construction, so the sweep shows the SAME fingerprint at every
  * parallelism plus the wall-clock curve.
  *
  * Runs the forced-distributed DBSCAN (never the fused single-task
  * path — a scaling study of a one-task path would be vacuous) on
  * clus50k and the 500k synthetic cloud at 2/4/8/16/32 cores, one
  * fresh session per level (new shuffle parallelism, cleared JVM
  * caches are NOT possible in-process — min-of-2 reps strips the
  * first-session JIT instead). Prints one JSON line and writes
  * SCALING.json.
  *
  * Beside the `local[N]` curve the sweep runs a FORKED-JVM curve:
  * `local-cluster[w,c,m]` at `SPARK_GRAFT_SCALING_WORKERS` workers
  * (default 2,4,8 × 4 cores), where task closures serialize over the
  * wire and shuffle blocks are fetched remotely — the true multi-JVM
  * scaling signal local[N]'s single-JVM short-circuits can't give
  * (its 16→32 flattening is one JVM saturating one shuffle disk).
  * Every run row carries its `master`; the fingerprint-invariance
  * gate spans BOTH curves (a label that drifted between local and
  * forked execution fails the run). Requires SPARK_HOME +
  * SPARK_SCALA_VERSION=2.13 (the executor launcher) when the forked
  * levels are enabled; set SPARK_GRAFT_SCALING_WORKERS= (empty) to
  * skip them.
  */
object Scaling {

  /** Order-free digest — shared by the scaling sweep and Bench's
    * reference-dataset matrix. Label tables get the richer
    * "n|clusters|noise|checksum" form; any other schema gets
    * "n|checksum" over every column (xxhash64 of the full row, summed
    * exactly — order-free, partitioning-free as long as the VALUES
    * are, which is each workload's own invariance contract). */
  private[graft] def fingerprint(df: DataFrame): String =
    if (df.columns.contains("cluster_id")) {
      val r = df.agg(
        count(lit(1)).as("n"),
        countDistinct(when(col("cluster_id") =!= 0, col("cluster_id")))
          .as("k"),
        sum(when(col("cluster_id") === 0, 1L).otherwise(0L)).as("noise"),
        sum(xxhash64(col("id"), col("cluster_id")).cast("decimal(38,0)"))
          .as("chk")).head
      r.toSeq.mkString("|")
    } else {
      val r = df.agg(
        count(lit(1)).as("n"),
        sum(xxhash64(df.columns.map(col).toIndexedSeq: _*)
          .cast("decimal(38,0)")).as("chk")).head
      r.toSeq.mkString("|")
    }

  def main(args: Array[String]): Unit = {
    // scaling curves measure the DISTRIBUTED machinery — pin the fused
    // single-task twins off so core counts stay the variable
    System.setProperty("graft.graphAnn.localThreshold", "0")
    System.setProperty("graft.incrDbscan.localThreshold", "0")
    val levels = sys.env.getOrElse("SPARK_GRAFT_SCALING_CPUS", "2,4,8,16,32")
      .split(',').map(_.trim.toInt).toSeq
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALING_REPS", "2").toInt
    val workloads: Seq[(String, SparkSession => DataFrame)] = Seq(
      "dbscan_clus50k_dist" -> (s =>
        Workloads.dbscanBin(s, "/root/reference/clus50k.bin", 25.0, 5,
          localThreshold = 0L)),
      "dbscan_synth500k" -> (s =>
        Workloads.dbscanSynth(s, 500_000L, k = 25, dims = 5,
          eps = 1.0, minPts = 5)),
      // DEDUP family: full MinHash-LSH over 1M synthetic near-dup docs
      // — banded buckets + exact verify; the verified pair set (and
      // its exact-ratio jaccard) must be identical at every core count
      "minhash_synth1m" -> (s => Workloads.dedupSynth(s, 1_000_000L)),
      // BSP-loop family (q58d's shape, forced-distributed): 10 rounds
      // of out-degree join + contribution shuffle over 1M edges. Ranks
      // round to 8 decimals — the same absorber q58d's oracle uses for
      // double-sum association noise; at that precision the sweep must
      // fingerprint bit-equal
      "pagerank_synth1m" -> (s =>
        Workloads.pagerankSynth(s, 1_000_000L, 100_000L)
          .select(col("id"), round(col("rank"), 8).as("rank"))),
      // GRAPH-ANN family (fifth): NN-Descent build + beam serve over
      // 50k clustered vectors — hash init, id-tie heaps, so the SERVED
      // NEIGHBOR TABLE (not just the graph) must be bit-equal at every
      // core count
      "knn_graph_serve_50k" -> (s => {
        val emb = Workloads.synthEmbeddings(s, 50_000L, 32, 64)
        val bd = emb.select(col("vec_id").as("b_id"),
          col("embedding").as("b_v")).persist()
        val g = graft.operators.AnnSearch.knnGraph(bd, k = 10,
          iters = 2, buildK = 10)
        val qd = emb.filter(pmod(col("vec_id"), lit(250L)) === 0)
          .select(col("vec_id").as("a_id"), col("embedding").as("a_v"))
        graft.operators.AnnSearch.graphTopK(qd, bd, g, 10, 20, 4,
          nEntries = 256)
      }),
    )
    // forked-JVM levels: worker counts for local-cluster[w,c,m]; empty
    // string disables the forked curve (e.g. no SPARK_HOME available)
    val workerLevels = sys.env.getOrElse("SPARK_GRAFT_SCALING_WORKERS",
      "2,4,8").split(',').map(_.trim).filter(_.nonEmpty).map(_.toInt).toSeq
    val workerCores = sys.env.getOrElse("SPARK_GRAFT_SCALING_WORKER_CORES",
      "4").toInt
    val workerMemMb = 6144
    if (workerLevels.nonEmpty) {
      require(sys.env.contains("SPARK_HOME"),
        "forked scaling levels launch executor JVMs via SPARK_HOME " +
          "(export it, or SPARK_GRAFT_SCALING_WORKERS= to skip)")
      require(sys.env.contains("SPARK_SCALA_VERSION"),
        "export SPARK_SCALA_VERSION=2.13 — the executor launcher " +
          "needs it on a packaged Spark dist")
    }
    // (master spec, total cores, reps) — the local curve then the
    // forked curve, one fresh session per level for both
    val sweepLevels: Seq[(String, Int, Int)] =
      levels.map(c => (s"local[$c]", c, reps)) ++
        workerLevels.map(w =>
          (s"local-cluster[$w,$workerCores,$workerMemMb]",
            w * workerCores, reps))

    val rows = scala.collection.mutable.ArrayBuffer.empty[String]
    var baseline = Map.empty[String, String]
    var invariant = true
    for ((master, cpus, levelReps) <- sweepLevels) {
      val spark = Sessions.start(master, cpus)
      try workloads.foreach { case (name, fn) =>
        var best = Double.MaxValue
        var fp = ""
        (0 until levelReps).foreach { _ =>
          spark.catalog.clearCache(); System.gc()
          val t0 = System.nanoTime()
          fp = fingerprint(fn(spark))
          best = math.min(best, (System.nanoTime() - t0) / 1e9)
        }
        if (!baseline.contains(name)) baseline += name -> fp
        else if (baseline(name) != fp) invariant = false
        rows += s"""{"workload":"$name","master":"$master",""" +
          s""""cpus":$cpus,""" +
          s""""sec":${math.rint(best * 100) / 100},"fingerprint":"$fp"}"""
        System.err.println(s"[scaling] $name master=$master cpus=$cpus " +
          s"sec=${math.rint(best * 100) / 100} fp=$fp")
      } finally spark.stop()
    }
    // carried in the artifact so a reader can't mistake the local-mode
    // top-end flattening for a scaling defect
    val note = "fingerprints must be identical at every level AND " +
      "across local/forked masters (invariant); wall-clock at 16->32 " +
      "cores may regress in local[N] mode (single-JVM shuffle " +
      "saturation) - the scaling signal is 2->16, the forked " +
      "local-cluster rows (separate executor JVMs, real exchanges), " +
      "plus fingerprint equality"
    val out = s"""{"invariant":$invariant,"note":"$note",""" +
      s""""runs":[${rows.mkString(",")}]}"""
    val path = sys.env.getOrElse("SPARK_GRAFT_SCALING_OUT",
      "SCALING.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      out + "\n")
    println(out)
    if (!invariant) sys.exit(1)
  }
}
