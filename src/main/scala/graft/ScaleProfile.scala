package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One-off phase profiler for the round-12 scale diagnostics — times
  * each internal stage of minhash_synth1m / ann_index_rt_synth1m /
  * kdeps_synth200k with the noop sink and labeled jobs (the
  * SubstrProfile pattern, guide §1.4/§1.5) so the
  * expensive stage is measured, not guessed. Not part of the bench
  * surface. Mode is args(0): minhash | annrt | kdeps. */
object ScaleProfile {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("minhash")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .appName(s"graft-scale-profile-$mode")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def t[A](name: String)(f: => A): A = {
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      val r = f
      System.err.println(
        f"[scaleprof] $name%-36s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      spark.sparkContext.setJobDescription(null)
      r
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    mode match {
      case "minhash" =>
        val n = sys.env.getOrElse("SPARK_GRAFT_PROF_N", "1000000").toLong
        val (k, bands) = (64, 16)
        val rowsPerBand = k / bands
        val docs = Workloads.synthDocs(spark, n,
          templates = math.max((n / 10).toInt, 10),
          docLen = 60, vocab = 5000, mutPct = 5)
        t("corpus gen (noop)")(noop(docs))
        // phase replay of Dedup.minHashJoin internals
        val docTable = docs.select(col("doc_id").as("id"),
            explode(graft.functions.TextFunctions.shingles(col("text"), 5))
              .as("__s"))
          .select(col("id"), xxhash64(col("__s")).as("shingle"))
          .groupBy("id")
          .agg(graft.functions.MinHashAgg.minhash(col("shingle"), k)
            .as("sig"), collect_list(col("shingle")).as("toks"))
          .persist()
        t("docTable agg sig+toks (noop)")(noop(docTable))
        val banded = docTable.select(col("id"),
            explode(array((0 until bands).map(b =>
              struct(lit(b).as("band"),
                slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)
                  .as("key"))): _*)).as("bk"))
        t("banded explode (noop)")(noop(banded))
        val postings = banded
          .groupBy(col("bk.band"), col("bk.key"))
          .agg(sort_array(collect_list(col("id"))).as("ids"))
          .filter(size(col("ids")) >= 2)
        t("posting lists agg (noop)")(noop(postings))
        val pairsPre = postings.select(
          graft.functions.PairExpressions.explodePostingPairs(col("ids")))
        t("pairs pre-distinct (noop)")(noop(pairsPre))
        val cand = pairsPre.distinct()
        t("pairs distinct (noop)")(noop(cand))
        val docSets = docTable.select("id", "toks")
        val verified = cand
          .join(docSets.select(col("id").as("a_id"),
            col("toks").as("a_toks")), "a_id")
          .join(docSets.select(col("id").as("b_id"),
            col("toks").as("b_toks")), "b_id")
          .select(col("a_id"), col("b_id"),
            size(array_intersect(col("a_toks"), col("b_toks")))
              .cast("long").as("inter"),
            size(col("a_toks")).cast("long").as("a_sz"),
            size(col("b_toks")).cast("long").as("b_sz"))
          .select(col("a_id"), col("b_id"),
            (col("inter").cast("double") /
              (col("a_sz") + col("b_sz") - col("inter"))).as("jac"))
          .filter(col("jac") >= 0.35)
        t("verify joins (noop)")(noop(verified))
        t("FULL minHashJoin (count)")(System.err.println(
          "  pairs=" + Workloads.dedupSynth(spark, n).count()))

      case "annrt" =>
        val n = sys.env.getOrElse("SPARK_GRAFT_PROF_N", "1000000").toLong
        val (dims, nCentroids, k, nProbe) = (32, 256, 10, 8)
        val emb = Workloads.synthEmbeddings(spark, n, dims, 64).persist()
        t("emb gen (noop)")(noop(emb))
        val b = emb.select(col("vec_id").as("b_id"),
          col("embedding").as("b_v"))
        val cents = t("centroids (Lloyd x2 + collect)")(
          graft.operators.AnnSearch.centroids(b, nCentroids))
        val dir = java.nio.file.Files.createTempDirectory("graft_prof_annrt")
        try {
          t("saveIvf (parquet write)")(
            graft.operators.IndexStore.saveIvf(dir.toString, cents, b,
              nCentroids, iters = 2, seed = 42L))
          val (lc, lv) = t("loadIvf (manifest+read)")(
            graft.operators.IndexStore.loadIvf(spark, dir.toString,
              nCentroids, iters = 2, seed = 42L))
          val (lcc, lvc) = t("localCheckpoint both")(
            (lc.localCheckpoint(), lv.localCheckpoint()))
          val q = emb.filter(pmod(col("vec_id"), lit(1000L)) === 0)
            .select(col("vec_id").as("a_id"), col("embedding").as("a_v"))
          t("serve ivfTopKPrebuilt (noop)")(noop(
            graft.operators.AnnSearch.ivfTopKPrebuilt(q, lvc, k, lcc,
              nProbe)))
        } finally Workloads.deleteTree(dir.toString)
        t("FULL annIndexRoundTrip (count)")(System.err.println(
          "  rows=" + Workloads.annIndexRoundTrip(spark, n).count()))
        t("ann_synth (no RT, count)")(System.err.println(
          "  rows=" + Workloads.annSynth(spark, n).count()))

      case "kdeps" =>
        val n = sys.env.getOrElse("SPARK_GRAFT_PROF_N", "200000").toLong
        val eps = 0.2
        val pts = Workloads.synthEmbeddings(spark, n, 32, 64).persist()
        t("points gen (noop)")(noop(pts))
        // replicate kdHeuristic's choice to expose the geometry
        val dim = 32
        val aggs = (0 until dim).flatMap { d =>
          val c = element_at(col("embedding"), d + 1).cast("double")
          Seq(min(c).as(s"mn$d"), max(c).as(s"mx$d"))
        }
        val row = t("ranges agg")(pts.agg(aggs.head, aggs.tail: _*).first())
        val ranges = (0 until dim)
          .map(d => d -> (row.getDouble(2 * d + 1) - row.getDouble(2 * d)))
          .sortBy { case (d, r) => (-r, d) }.take(3).filter(_._2 > 0)
        val cells = 4 * 32
        val volume = ranges.map(_._2).product
        val cellSize =
          math.max(eps, math.pow(volume / cells, 1.0 / ranges.size))
        System.err.println(s"[scaleprof] dims=${ranges.map(_._1)} " +
          f"cellSize=$cellSize%.4f (eps=$eps)")
        // replication factor of the envelope flatMap
        val dimsArr = ranges.map(_._1).toArray
        val repl = t("envelope replication count") {
          pts.select(col("embedding")).rdd.map { r =>
            val v = r.getSeq[Float](0).toArray
            var prod = 1L
            dimsArr.foreach { d =>
              val x = v(d).toDouble
              prod *= (math.floor((x + eps) / cellSize).toLong -
                math.floor((x - eps) / cellSize).toLong + 1)
            }
            prod
          }.sum()
        }
        System.err.println(f"[scaleprof] keyed rows=${repl}%.0f " +
          f"(${repl / n}%.1fx replication)")
        val pairs = graft.operators.EpsilonJoin.selfJoinKdAuto(
          pts, "vec_id", "embedding", eps)
        t("pair stream (noop)")(noop(pairs))
        t("FULL kdEpsSynth (count)")(System.err.println(
          "  rows=" + Workloads.kdEpsSynth(spark, n, eps).count()))

      case other => sys.error(s"unknown mode $other")
    }
    spark.stop()
  }
}
