package graft

import graft.operators.{AnnSearch, GraphAnnLocal}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The fused single-task graph-ANN twins must be BIT-IDENTICAL to the
  * forced-distributed path (localThreshold = 0) — same graphs, same
  * serves, same inserts, row for row. This is the DbscanSpec
  * local==distributed discipline applied to the round-11 fused paths. */
class AnnSearchLocalSpec extends SparkSpec {

  private lazy val emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet").persist()

  private def b = emb
    .select(col("vec_id").as("b_id"), col("embedding").as("b_v"))
  private def q = emb.filter(col("vec_id") < 30)
    .select(col("vec_id").as("a_id"), col("embedding").as("a_v"))

  private def rows(df: DataFrame): Seq[(Long, Long, Int)] =
    df.select(col("a_id").cast("long"), col("nbr_id").cast("long"),
        col("rnk").cast("int"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSeq.sorted

  test("portable kernels match the SQL expressions") {
    import spark.implicits._
    val ids = Seq("7:1:42", "123:3:99", "0:lvl:42", "41:lvl:42")
    val sql = ids.toDF("s")
      .select(graft.functions.TextFunctions.portableHash48(col("s")),
        md5(col("s").cast("binary")))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val local = ids.map(s =>
      (GraphAnnLocal.h48(s), GraphAnnLocal.md5HexUtf8(s)))
    assert(sql.toSeq == local)
    // dot fold parity on a float vector
    val v = Array(0.25f, -1.5f, 3.1f, 0.0f)
    val w = Array(2.0f, 0.7f, -0.3f, 5.5f)
    val sqlDot = Seq((v.toSeq, w.toSeq)).toDF("a", "b")
      .select(graft.functions.VectorExpressions.dotProduct(
        col("a").cast("array<float>"), col("b").cast("array<float>")))
      .head.getDouble(0)
    assert(java.lang.Double.doubleToRawLongBits(sqlDot) ==
      java.lang.Double.doubleToRawLongBits(GraphAnnLocal.dot(v, w)))
  }

  test("knnGraph: fused == forced-distributed, row for row") {
    // k < buildK throughout; the input is repartitioned to 1, 3 and 13
    // partitions and the distributed build gets as many vertex blocks
    for (iters <- Seq(0, 1, 3); parts <- Seq(1, 3, 13); seed <- Seq(42L, 7L))
      withShufflePartitions(parts) {
        val in = b.repartition(parts)
        val fused = rows(AnnSearch.knnGraph(in, k = 5, iters = iters,
          seed = seed, buildK = 8))
        val dist = rows(AnnSearch.knnGraph(in, k = 5, iters = iters,
          seed = seed, buildK = 8, localThreshold = 0L))
        assert(fused == dist, s"iters=$iters parts=$parts seed=$seed")
        assert(fused.size == 500 * 5, s"iters=$iters parts=$parts seed=$seed")
      }
  }

  test("a duplicated id fails on both knnGraph paths") {
    val dup = b.unionAll(b.filter(col("b_id") === 17L))
    Seq("fused" -> GraphAnnLocal.defaultThreshold, "distributed" -> 0L)
      .foreach { case (name, threshold) =>
        val e = intercept[Exception](AnnSearch.knnGraph(dup, k = 5,
          iters = 1, buildK = 8, localThreshold = threshold).collect())
        assert(Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).exists(c =>
            c.isInstanceOf[IllegalArgumentException] &&
              c.getMessage.contains("unique ids, got duplicate 17")),
          s"$name: $e")
      }
  }

  test("a null vector scores nothing on both knnGraph paths") {
    val withNull = b.select(col("b_id"),
      when(col("b_id") =!= 17L, col("b_v")).as("b_v"))
    val fused = rows(AnnSearch.knnGraph(withNull, k = 5, iters = 2,
      buildK = 8))
    val dist = rows(AnnSearch.knnGraph(withNull, k = 5, iters = 2,
      buildK = 8, localThreshold = 0L))
    assert(fused == dist)
    assert(fused.size == 499 * 5)
    assert(!fused.exists { case (a, w, _) => a == 17L || w == 17L })
  }

  test("distributed knnGraph runs one job per round plus two setup jobs") {
    b.count() // warm the scan outside the counted window
    Seq(0, 1, 3).foreach { iters =>
      val jobs = jobsOf(AnnSearch.knnGraph(b, k = 5, iters = iters,
        buildK = 8, localThreshold = 0L))
      assert(jobs <= iters + 6, s"iters=$iters ran $jobs jobs")
    }
  }

  test("graphTopK serve: fused == forced-distributed") {
    val g = AnnSearch.knnGraph(b, k = 8, iters = 2, buildK = 8)
    val fused = rows(AnnSearch.graphTopK(q, b, g, 5, 10, 2, nEntries = 10))
    val dist = rows(AnnSearch.graphTopK(q, b, g, 5, 10, 2, nEntries = 10,
      localThreshold = 0L))
    assert(fused == dist)
    assert(fused.nonEmpty)
  }

  test("graphTopKFrom with multiset seeds (incl. duplicates) matches") {
    val g = AnnSearch.knnGraph(b, k = 8, iters = 2, buildK = 8)
    // seeds deliberately contain a DUPLICATE pair and a self pair —
    // round 0 is multiset-faithful in both paths (no distinct)
    val seeds = q.select(col("a_id"), (col("a_id") % 7).as("nbr"))
      .unionAll(q.select(col("a_id"), (col("a_id") % 7).as("nbr")))
      .unionAll(q.select(col("a_id"), col("a_id").as("nbr")))
      .unionAll(q.select(col("a_id"), lit(3L).as("nbr")))
    val fused = rows(AnnSearch.graphTopKFrom(q, b, g, 5, 10, 2, seeds))
    val dist = rows(AnnSearch.graphTopKFrom(q, b, g, 5, 10, 2, seeds,
      localThreshold = 0L))
    assert(fused == dist)
    assert(fused.nonEmpty)
  }

  test("addToKnnGraph insert fold: fused == forced-distributed") {
    val init = emb.filter(col("vec_id") % 7 =!= 0)
      .select(col("vec_id").as("b_id"), col("embedding").as("b_v"))
    val batch = emb.filter(col("vec_id") % 7 === 0)
    val g0f = AnnSearch.knnGraph(init, k = 8, iters = 2, buildK = 8)
    val fused = rows(AnnSearch.addToKnnGraph(g0f, init, batch,
      "vec_id", "embedding", k = 8, ef = 8, rounds = 2, nEntries = 10))
    val dist = rows(AnnSearch.addToKnnGraph(g0f, init, batch,
      "vec_id", "embedding", k = 8, ef = 8, rounds = 2, nEntries = 10,
      localThreshold = 0L))
    assert(fused == dist)
    assert(fused.nonEmpty)
  }

  test("layered multi serve: fused == forced-distributed") {
    val g = AnnSearch.knnGraph(b, k = 8, iters = 2, buildK = 8)
    val layers = AnnSearch.layerGraphs(b, levelDiv = 4, k = 8, iters = 1,
      growth = 2, minTop = 1L, maxLevels = 2)
    val fused = rows(AnnSearch.graphTopKLayeredMulti(q, b, g, layers,
      5, 10, 2, nEntries = 10))
    val dist = rows(AnnSearch.graphTopKLayeredMulti(q, b, g, layers,
      5, 10, 2, nEntries = 10, localThreshold = 0L))
    assert(fused == dist)
    assert(fused.nonEmpty)
  }

  test("fused knnGraph runs in ~2 jobs (probe + one-task build)") {
    // the final frame hides behind a localCheckpoint either way — the
    // honest fused-path evidence is the JOB count: size probe + the
    // single-task build materialization, nothing else
    b.count() // warm the scan outside the counted window
    val jobs = jobsOf(AnnSearch.knnGraph(b, k = 5, iters = 2, buildK = 8))
    assert(jobs <= 3, s"fused build should be ~2 jobs, ran $jobs")
  }

  test("retraction serve over a fused-built graph matches distributed") {
    val bd = b
    val g = AnnSearch.knnGraph(bd, k = 8, iters = 2, buildK = 8)
    val live = AnnSearch.retractFromKnnGraph(g,
      emb.filter(col("vec_id") % 7 === 0).select("vec_id"), "vec_id")
    val qd = emb.filter(col("vec_id") < 30 && col("vec_id") % 7 =!= 0)
      .select(col("vec_id").as("a_id"), col("embedding").as("a_v"))
    val bLive = bd.filter(col("b_id") % 7 =!= 0)
    val fused = rows(AnnSearch.graphTopK(qd, bLive, live, 5, 10, 2,
      nEntries = 10))
    val dist = rows(AnnSearch.graphTopK(qd, bLive, live, 5, 10, 2,
      nEntries = 10, localThreshold = 0L))
    assert(fused == dist)
    assert(fused.nonEmpty)
  }
}
