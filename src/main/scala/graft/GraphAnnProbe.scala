package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph-ANN serve-knob profiler (dev diagnostic, the SubstrProfile
  * pattern): build the IVF-sharded k-NN graph ONCE over the synthetic
  * blob corpus, pin it, then sweep serve configurations — flat walks
  * across (ef, rounds, nEntries) and the layered serve — against the
  * same brute-force truth. Separates BUILD loss (true neighbor absent
  * from the graph: `graph_recall`) from WALK loss (edge present, beam
  * never arrives), which the single-number bench row can't.
  *
  * Knobs (env): SPARK_GRAFT_PROBE_N (default 1000000),
  * SPARK_GRAFT_PROBE_CELLS (1024), SPARK_GRAFT_PROBE_K (20). */
object GraphAnnProbe {
  def main(args: Array[String]): Unit = {
    // the probe characterizes the DISTRIBUTED build/serve knobs
    System.setProperty("graft.graphAnn.localThreshold", "0")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .appName("graft-graphann-probe").master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val A = graft.operators.AnnSearch
    val n = sys.env.getOrElse("SPARK_GRAFT_PROBE_N", "1000000").toLong
    val cells = sys.env.getOrElse("SPARK_GRAFT_PROBE_CELLS", "1024").toInt
    val k = sys.env.getOrElse("SPARK_GRAFT_PROBE_K", "20").toInt
    val refine = sys.env.getOrElse("SPARK_GRAFT_PROBE_REFINE", "1").toInt
    val emb = Workloads.synthEmbeddings(spark, n, 32, 64)
    val bd = emb.select(col("vec_id").as("b_id"),
      col("embedding").as("b_v")).persist()
    bd.count()
    def timed[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[probe] $tag: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }
    val g = timed(s"build knnGraphIvf n=$n cells=$cells k=$k " +
        s"refine=$refine") {
      val x = A.knnGraphIvf(bd, k = k, nCells = cells,
        refineIters = refine)
      x.count(); x
    }
    val qd = emb.filter(pmod(col("vec_id"), lit(n / 200)) === 0)
      .select(col("vec_id").as("a_id"), col("embedding").as("a_v"))
      .persist()
    qd.count()
    def pairSet(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = timed("brute-force truth") {
      pairSet(A.bruteForceTopK(qd, bd, 10).select("a_id", "nbr_id"))
    }
    def recallOf(df: DataFrame): Double = {
      val s = pairSet(df.select("a_id", "nbr_id"))
      truth.intersect(s).size.toDouble / truth.size
    }
    val gRec = recallOf(g.filter(col("rnk") <= 10)
      .join(qd.select(col("a_id")), "a_id"))
    println(f"[probe] graph_recall@10 = $gRec%.4f")
    for ((ef, rounds, ne) <- Seq((20, 4, 256), (20, 8, 256),
        (32, 8, 256), (20, 8, 512), (32, 12, 512))) {
      val r = timed(s"flat ef=$ef rounds=$rounds ne=$ne") {
        recallOf(A.graphTopK(qd, bd, g, 10, ef, rounds, ne))
      }
      println(f"[probe] flat ef=$ef rounds=$rounds ne=$ne recall=$r%.4f")
    }
    val ldiv = sys.env.getOrElse("SPARK_GRAFT_PROBE_LDIV", "64").toInt
    val lgrow = sys.env.getOrElse("SPARK_GRAFT_PROBE_LGROW", "8").toInt
    val layers = timed(s"layer stack build (levelDiv=$ldiv, growth=$lgrow)") {
      A.layerGraphs(bd, ldiv, k = k, iters = 2, growth = lgrow)
        .map { case (lb, lg) =>
        val pg = lg.localCheckpoint(); pg.count()
        (lb.persist(), pg)
      }
    }
    println(s"[probe] layer stack depth = ${layers.length}, sizes = " +
      layers.map(_._1.count()).mkString(","))
    for ((ef, rounds, ne, le, lr, lne) <- Seq(
        (20, 4, 10, 0, 0, 0), (20, 8, 10, 0, 0, 0), (32, 8, 10, 0, 0, 0),
        // localize the loss: (a) whole-layer entries (layer walk
        // removed), (b) wider/longer layer walk, (c) longer base walk
        (20, 4, 10, 0, 0, 1000000), (20, 12, 10, 0, 0, 0),
        (20, 4, 10, 64, 16, 0), (32, 12, 10, 0, 0, 1000000))) {
      val r = timed(s"multilayer ef=$ef rounds=$rounds ne=$ne " +
          s"lEf=$le lR=$lr lNe=$lne") {
        recallOf(A.graphTopKLayeredMulti(qd, bd, g, layers, 10, ef,
          rounds, ne, l1Ef = le, l1Rounds = lr, l1Entries = lne))
      }
      println(f"[probe] multilayer ef=$ef rounds=$rounds ne=$ne " +
        f"lEf=$le lR=$lr lNe=$lne recall=$r%.4f")
    }
    spark.stop()
  }
}
