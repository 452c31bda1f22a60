package graft.perfbench

import graft.{Scaling, SparkEntry}
import graft.operators.{AnnSearch, ConnectedComponents, Dbscan, EpsilonJoin}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What a timed run produced, as the output checks see it: order-free
  * digests (`Scaling.fingerprint`) of every output, by call. */
final case class Outcome(digests: Seq[(String, String)]) {
  def digest: String = digests.map { case (k, d) => s"$k=$d" }.mkString(";")
}

/** One benchmark workload. The runner calls [[prepare]] before every
  * run (outside the clock), times [[run]], then calls [[check]] and, in
  * traced runs, [[isolated]] — both outside the clock. */
trait BenchWorkload {
  def name: String
  /** How the workload uses `--seed`. */
  def seedNote: String
  /** Generates, persists and materializes the inputs; returns the rows
    * generated. */
  def prepare(spark: SparkSession, seed: Long): Long
  /** The timed calls, each ending in an action over its whole output. */
  def run(t: Tracer): Outcome
  /** Why `o` is wrong, if it is. */
  def check(o: Outcome): Option[String]
  /** Extra single-layer calls of a traced run. */
  def isolated(t: Tracer): Unit = ()
  /** Workload-specific per-layer metrics of one traced run, read from
    * the spans of that run. */
  def layers(v: RunView): Map[String, Double]
  /** Figures printed with the end-to-end metrics but not gated. */
  def reportOnly: Seq[String] = Nil
}

/** The spans and Spark work of one traced run. */
final class RunView(tracer: Tracer, tracker: JobTracker, runId: Int) {
  private val spans = tracer.spans.filter(_.run == runId)
  def span(name: String): Option[Span] = spans.find(_.name == name)
  def seconds(name: String): Double = span(name).fold(0.0)(_.seconds)
  def work(name: String): GroupStats =
    span(name).fold(new GroupStats)(tracer.work(tracker, _))
  def counter(name: String, key: String): Double =
    span(name).flatMap(_.counters.get(key)).getOrElse(0.0)
}

object BenchWorkloads {
  val Mb = 1024.0 * 1024.0

  def names: Seq[String] = Seq("dbscan", "graph_ann")

  def apply(name: String, workDir: String): BenchWorkload = name match {
    case "dbscan" => new DbscanWorkload(DbscanWorkload.Points,
      DbscanWorkload.DefaultSeedDigest)
    case "graph_ann" => new GraphAnnWorkload(
      new GraphWorkload(GraphWorkload.Lineitems, s"$workDir/graph-tables"),
      new AnnWorkload(AnnWorkload.Vectors, AnnWorkload.DefaultSeedDigest))
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: ${names.mkString(", ")})")
  }

  /** Clusters and noise count of an "n|clusters|noise|checksum" digest. */
  private[perfbench] def labelCounts(digest: String): (Double, Double) =
    digest.split('|') match {
      case Array(_, k, noise, _) => (k.toDouble, noise.toDouble)
      case _ => (0.0, 0.0)
    }
}

/** One blob of 5-d synthetic points through `pickBucketDims`, then
  * `Dbscan.run` (ε = 1.0, minPts = 5) twice on the same input: forced
  * distributed (ε-join, core aggregate, connected components), then with
  * the default size dispatch, which takes the one-task fused kernel. The
  * two label sets must be equal, and equal to `defaultSeedDigest` at
  * the default seed. */
final class DbscanWorkload(n: Long, defaultSeedDigest: String)
    extends BenchWorkload {
  val name = "dbscan"
  private val Dims = 5
  private val Eps = 1.0
  private val MinPts = 5
  private var pts: DataFrame = _
  private var seed = Inputs.DefaultSeed

  def seedNote: String = "seeds the point generator"

  def prepare(spark: SparkSession, seed: Long): Long = {
    this.seed = seed
    pts = Inputs.points(spark, n, 1, Dims, seed).persist()
    pts.count()
  }

  private def bucketDims: Seq[Int] =
    EpsilonJoin.pickBucketDims(pts, "features", Eps, knownDim = Dims)

  def run(t: Tracer): Outcome = {
    val dims = bucketDims
    val dist = t.span("dbscan.dist", "call") {
      Scaling.fingerprint(Dbscan.run(pts, "id", "features", Eps, MinPts,
        dims, localThreshold = 0L))
    }
    val fused = t.span("dbscan.fused", "call") {
      val d = Scaling.fingerprint(Dbscan.run(pts, "id", "features", Eps,
        MinPts, dims))
      val (k, noise) = BenchWorkloads.labelCounts(d)
      t.count("clusters", k)
      t.count("noise", noise)
      d
    }
    Outcome(Seq("dist" -> dist, "fused" -> fused))
  }

  def check(o: Outcome): Option[String] = {
    val d = o.digests.toMap
    if (!d("dist").startsWith(s"$n|")) Some(s"labelled ${d("dist")} rows")
    else if (d("dist") != d("fused"))
      Some(s"distributed labels ${d("dist")} != fused labels ${d("fused")}")
    else if (seed == Inputs.DefaultSeed && d("dist") != defaultSeedDigest)
      Some(s"labels ${d("dist")} != committed $defaultSeedDigest")
    else None
  }

  override def isolated(t: Tracer): Unit = {
    val dims = bucketDims
    val pairs = t.span("epsjoin", "isolated") {
      val salts = EpsilonJoin.denseCellSalts(pts, "features", Eps, dims)
      t.count("salt_cells", salts.fold(0L)(_.count()).toDouble)
      val p = EpsilonJoin.selfJoinSalted(pts, "id", "features", Eps, dims,
        salts).select(col("a_id"), col("b_id")).persist()
      t.count("pairs", p.count().toDouble)
      p
    }
    t.span("cc", "isolated") {
      val comps = ConnectedComponents.run(
        pairs.select(col("a_id").as("src"), col("b_id").as("dst")))
      t.count("components", comps.select("comp").distinct().count().toDouble)
    }
    pairs.unpersist()
    t.span("dbscan.neighborCounts", "isolated") {
      t.count("cores", Dbscan.neighborCounts(pts, "id", "features", Eps, dims)
        .filter(col("n_neighbors") >= MinPts).count().toDouble)
    }
  }

  def layers(v: RunView): Map[String, Double] = {
    val ej = v.work("epsjoin")
    val pairs = v.counter("epsjoin", "pairs")
    val ccWork = v.work("cc")
    val levels = ccWork.jobsByDesc.keys
      .flatMap(d => "cc: level (\\d+)".r.findFirstMatchIn(d).map(_.group(1)))
      .toSet.size
    Map(
      "dbscan.dist_s" -> v.seconds("dbscan.dist"),
      "dbscan.dist_jobs" -> v.work("dbscan.dist").jobs.toDouble,
      "dbscan.fused_s" -> v.seconds("dbscan.fused"),
      "dbscan.fused_jobs" -> v.work("dbscan.fused").jobs.toDouble,
      "dbscan.cores" -> v.counter("dbscan.neighborCounts", "cores"),
      "dbscan.clusters" -> v.counter("dbscan.fused", "clusters"),
      "dbscan.noise" -> v.counter("dbscan.fused", "noise"),
      "epsjoin.s" -> v.seconds("epsjoin"),
      "epsjoin.jobs" -> ej.jobs.toDouble,
      "epsjoin.pairs" -> pairs,
      "epsjoin.pairs_per_point" -> pairs / n,
      "epsjoin.shuffle_write_mb" -> ej.shuffleWriteBytes / BenchWorkloads.Mb,
      "epsjoin.salt_cells" -> v.counter("epsjoin", "salt_cells"),
      "cc.s" -> v.seconds("cc"),
      "cc.jobs" -> ccWork.jobs.toDouble,
      "cc.edges" -> pairs,
      "cc.components" -> v.counter("cc", "components"),
      "cc.levels" -> levels.toDouble)
  }
}

object DbscanWorkload {
  val Points = 10000L
  /** Labels of [[Points]] points at the default seed (both paths). */
  val DefaultSeedDigest = "10000|26|1229|695960559336485463071"
}

/** The graph operators in one run: the BSP loops of [[GraphWorkload]],
  * then the graph-ANN build and serve of [[AnnWorkload]]. */
final class GraphAnnWorkload(graph: GraphWorkload, ann: AnnWorkload)
    extends BenchWorkload {
  val name = "graph_ann"

  def seedNote: String = s"${graph.seedNote}; ${ann.seedNote}"

  def prepare(spark: SparkSession, seed: Long): Long =
    graph.prepare(spark, seed) + ann.prepare(spark, seed)

  def run(t: Tracer): Outcome =
    Outcome(graph.run(t).digests ++ ann.run(t).digests)

  def check(o: Outcome): Option[String] = {
    val (a, g) = o.digests.partition(_._1 == AnnWorkload.Output)
    graph.check(Outcome(g)).orElse(ann.check(Outcome(a)))
  }

  def layers(v: RunView): Map[String, Double] = graph.layers(v) ++ ann.layers(v)

  override def reportOnly: Seq[String] = ann.reportOnly
}

/** Two BSP graph loops over the supplier–part graph of a synthetic
  * `lineitem` table, through `SparkEntry.queries`: weighted shortest
  * paths (4 rounds) and label propagation (3 rounds), each forced
  * distributed (`_dist`), then its fused twin. Every `_dist` digest must
  * equal its twin's. */
final class GraphWorkload(lineitems: Long, dir: String)
    extends BenchWorkload {
  val name = "graph_bsp"
  private var spark: SparkSession = _

  def seedNote: String = "seeds the synthetic lineitem table the queries read"

  def prepare(spark: SparkSession, seed: Long): Long = {
    this.spark = spark
    Inputs.writeLineitems(spark, s"$dir/lineitem.parquet", lineitems, seed)
  }

  def run(t: Tracer): Outcome = {
    val qs = SparkEntry.queries
    Outcome(GraphWorkload.Queries.map { q =>
      q -> t.span(s"graph.${GraphWorkload.short(q)}", "call") {
        Scaling.fingerprint(qs(q)(spark, dir))
      }
    })
  }

  def check(o: Outcome): Option[String] = {
    val d = o.digests.toMap
    GraphWorkload.Pairs.collectFirst {
      case (dq, fq) if d(dq) != d(fq) =>
        s"$dq digest ${d(dq)} != $fq digest ${d(fq)}"
      case (dq, _) if d(dq).startsWith("0|") => s"$dq returned no rows"
    }
  }

  def layers(v: RunView): Map[String, Double] = {
    def spanOf(q: String) = s"graph.${GraphWorkload.short(q)}"
    val dist = GraphWorkload.Pairs.map(p => spanOf(p._1))
    val fused = GraphWorkload.Pairs.map(p => spanOf(p._2))
    GraphWorkload.Queries.flatMap { q =>
      val s = spanOf(q)
      Seq(s"$s.s" -> v.seconds(s), s"$s.jobs" -> v.work(s).jobs.toDouble,
        s"$s.shuffle_write_mb" ->
          v.work(s).shuffleWriteBytes / BenchWorkloads.Mb)
    }.toMap ++ Map(
      "graph.dist_s" -> dist.map(v.seconds).sum,
      "graph.fused_s" -> fused.map(v.seconds).sum,
      "graph.jobs_per_round" ->
        dist.map(v.work(_).jobs).sum.toDouble / GraphWorkload.Rounds)
  }
}

object GraphWorkload {
  val Lineitems = 6000L

  /** (`_dist` query, fused twin). */
  val Pairs: Seq[(String, String)] = Seq(
    "q85d_sssp_dist" -> "q85_sssp",
    "q88d_communities_dist" -> "q88_communities")

  /** Run order: every `_dist` query, then the twins. */
  val Queries: Seq[String] = Pairs.map(_._1) ++ Pairs.map(_._2)

  /** Configured rounds of the `_dist` loops (shortest paths 4, label
    * propagation 3). */
  val Rounds = 7

  /** `q85d_sssp_dist` -> `q85d`, `q85_sssp` -> `q85`. */
  def short(q: String): String = q.takeWhile(_ != '_')
}

/** Graph-ANN over 32-d clustered embeddings: the distributed NN-Descent
  * build (`knnGraph`, k = buildK = 10, 2 iterations) and a beam serve
  * (`graphTopK`, ef = 20, 4 rounds, 256 entries) for 200 corpus-member
  * queries. Checked: exactly 2000 served rows, recall@10 against a
  * brute-force truth at least [[AnnWorkload.RecallFloor]], and
  * `defaultSeedDigest` at the default seed. */
final class AnnWorkload(n: Long, defaultSeedDigest: String)
    extends BenchWorkload {
  val name = "ann_graph"
  private val K = 10
  private val Queries = 200
  require(n % Queries == 0, s"n=$n must be a multiple of $Queries")
  private var seed = Inputs.DefaultSeed
  private var build: DataFrame = _
  private var queries: DataFrame = _
  private var graph: DataFrame = _
  private[perfbench] var served: DataFrame = _
  private var truth: Option[Set[(Long, Long)]] = None
  private[perfbench] var recall = 0.0
  private[perfbench] var graphRecall = 0.0

  def seedNote: String = "seeds the embedding generator"

  def prepare(spark: SparkSession, seed: Long): Long = {
    this.seed = seed
    val emb = Inputs.embeddings(spark, n, 32, 64, seed)
    build = emb.select(col("vec_id").as("b_id"), col("embedding").as("b_v"))
      .persist()
    queries = emb.filter(pmod(col("vec_id"), lit(n / Queries)) === 0)
      .select(col("vec_id").as("a_id"), col("embedding").as("a_v"))
      .persist()
    build.count() + queries.count()
  }

  def run(t: Tracer): Outcome = {
    graph = t.span("ann.build", "call") {
      val g = AnnSearch.knnGraph(build, k = K, iters = 2, buildK = K,
        localThreshold = 0L)
      g.count()
      g
    }
    t.span("ann.serve", "call") {
      served = AnnSearch.graphTopK(queries, build, graph, K, 20, 4,
        nEntries = 256).persist()
      Outcome(Seq(AnnWorkload.Output -> Scaling.fingerprint(served)))
    }
  }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("a_id", "nbr_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Recall is computed once per process: later runs must serve the
    * same rows (the runner checks that their digests are equal). */
  def check(o: Outcome): Option[String] = {
    if (truth.isEmpty) {
      val tr = pairs(AnnSearch.bruteForceTopK(queries, build, K))
      truth = Some(tr)
      recall = pairs(served).intersect(tr).size.toDouble / tr.size
      graphRecall = pairs(graph.filter(col("rnk") <= K)
          .join(queries.select("a_id"), "a_id"))
        .intersect(tr).size.toDouble / tr.size
    }
    val d = o.digests.toMap.apply(AnnWorkload.Output)
    val rows = Queries * K
    if (!d.startsWith(s"$rows|"))
      Some(s"served ${d.takeWhile(_ != '|')} rows, expected $rows")
    else if (recall < AnnWorkload.RecallFloor)
      Some(f"recall@10 $recall%.4f below ${AnnWorkload.RecallFloor}")
    else if (seed == Inputs.DefaultSeed && d != defaultSeedDigest)
      Some(s"served digest $d != committed $defaultSeedDigest")
    else None
  }

  override def reportOnly: Seq[String] = Seq(f"recall_at_10 $recall%.4f " +
    "(served top-10 against brute-force truth)")

  def layers(v: RunView): Map[String, Double] = {
    val b = v.work("ann.build")
    Map(
      "ann.build_s" -> v.seconds("ann.build"),
      "ann.build_jobs" -> b.jobs.toDouble,
      "ann.build_shuffle_write_mb" -> b.shuffleWriteBytes / BenchWorkloads.Mb,
      "ann.serve_s" -> v.seconds("ann.serve"),
      "ann.serve_jobs" -> v.work("ann.serve").jobs.toDouble,
      "ann.graph_recall_at_10" -> graphRecall,
      "ann.recall_at_10" -> recall)
  }
}

object AnnWorkload {
  val Vectors = 2000L
  /** The outcome key of the served rows. */
  val Output = "served"
  /** Lowest recall@10 a run may serve. */
  val RecallFloor = 0.8
  /** Served rows of [[Vectors]] vectors at the default seed. */
  val DefaultSeedDigest = "2000|267564947000090396042"
}
