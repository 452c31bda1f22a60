package graft

import graft.operators.Stats
import org.apache.spark.sql.functions._

class StatsSpec extends SparkSpec {

  test("madOutliers: hand case — median 5, MAD 1, one far point") {
    // group g: values 3,4,5,6,7,100 (cents): median 5.5? n=6 → med is
    // midpoint of 5,6 = 5.5; devs |x-5.5| = 2.5,1.5,.5,.5,1.5,94.5 →
    // MAD = midpoint of sorted devs (.5,.5,1.5,1.5,2.5,94.5) = 1.5;
    // outliers: dev > 3*1.5=4.5 → only 100
    val df = spark.createDataFrame(
      Seq(3, 4, 5, 6, 7, 100).map(v => ("g", v.toLong)))
      .toDF("grp", "cents").repartition(3)
    val got = Stats.madOutliers(df, Seq("grp"), col("cents"), k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got == Seq(("g", 6L, 1L, 0.015))) // MAD 1.5 cents = 0.015 units
  }

  test("madOutliers: all-equal group has MAD 0 and no outliers") {
    val df = spark.createDataFrame(
      Seq.fill(5)(("h", 42L)) :+ (("h", 42L))).toDF("grp", "cents")
    val got = Stats.madOutliers(df, Seq("grp"), col("cents"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq((6L, 0L, 0.0)))
  }

  test("corrMatrix: perfect positive, perfect negative, zero") {
    // x increases 1..4; y = 2x (corr 1); z = -x (corr -1 with x);
    // w alternates independent of x's order? use orthogonal pattern
    val df = spark.createDataFrame(Seq(
      (1L, 2L, -1L, 1L), (2L, 4L, -2L, -1L),
      (3L, 6L, -3L, -1L), (4L, 8L, -4L, 1L)))
      .toDF("x", "y", "z", "w").repartition(2)
    val got = Stats.corrMatrix(df, Seq(
      "x" -> col("x"), "y" -> col("y"), "z" -> col("z"), "w" -> col("w")))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(got(("x", "y")) == 1.0)
    assert(got(("x", "z")) == -1.0)
    assert(got(("y", "z")) == -1.0)
    assert(math.abs(got(("x", "w"))) < 0.5) // near-orthogonal
    assert(got.size == 6)
  }

  test("corrMatrix: row order and partitioning do not change results") {
    val rnd = new scala.util.Random(5)
    val rows = (1 to 500).map { _ =>
      val x = rnd.nextInt(1000).toLong
      (x, x / 2 + rnd.nextInt(100), rnd.nextInt(50).toLong)
    }
    def run(df: org.apache.spark.sql.DataFrame) =
      Stats.corrMatrix(df, Seq("a" -> col("a"), "b" -> col("b"),
        "c" -> col("c")))
        .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
        .toSet
    val df = spark.createDataFrame(rows).toDF("a", "b", "c")
    assert(run(df.repartition(1)) == run(df.repartition(17).orderBy("c")))
  }

  test("averagePrecision: hand case, perfect ranking, empty positives") {
    def run(rows: Seq[(Long, Long, Boolean, Long)]) = {
      val df = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 3))
        .toDF("g", "s", "pos", "t")
      Stats.averagePrecision(df, Seq("g"), col("pos"), col("s"), col("t"))
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2),
            if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    }
    // group 0: ranks (10,t1,+), (8,t2,-), (8,t3,+), (2,t4,+)
    //   AP = (1/1 + 2/3 + 3/4) / 3 = 0.805556 (tie at 8 broken by t)
    // group 1: perfect ranking -> AP = 1
    // group 2: no positives -> NULL
    val got = run(Seq(
      (0L, 10L, true, 1L), (0L, 8L, false, 2L), (0L, 8L, true, 3L),
      (0L, 2L, true, 4L),
      (1L, 9L, true, 1L), (1L, 5L, true, 2L), (1L, 1L, false, 3L),
      (2L, 7L, false, 1L), (2L, 3L, false, 2L)))
    assert(got(0L) == (3L, 4L, Some(0.805556)))
    assert(got(1L) == (2L, 3L, Some(1.0)))
    assert(got(2L) == (0L, 2L, None))
    // the tie column is load-bearing: swapping t2/t3 flips the ranking
    val swapped = run(Seq(
      (0L, 10L, true, 1L), (0L, 8L, false, 3L), (0L, 8L, true, 2L),
      (0L, 2L, true, 4L)))
    assert(swapped(0L)._3 == Some(math.rint(
      (1.0 + 1.0 + 0.75) / 3.0 * 1e6) / 1e6))
  }

  test("ndcg: perfect ranking = 1, hand-checked inversion, no positives") {
    def run(rows: Seq[(Long, Long, Long, Long)]) = {
      val df = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 3))
        .toDF("g", "r", "s", "t")
      Stats.ndcg(df, Seq("g"), col("r"), col("s"), col("t"))
        .collect().map(x => x.getLong(0) ->
          (x.getLong(1), if (x.isNullAt(2)) None else Some(x.getDouble(2))))
        .toMap
    }
    def r9(x: Double) = math.rint(x * 1e9) / 1e9
    def lg2(x: Double) = StrictMath.log(x) / StrictMath.log(2.0)
    val got = run(Seq(
      // g0: score order == ideal order -> 1.0
      (0L, 3L, 30L, 1L), (0L, 1L, 20L, 2L), (0L, 0L, 10L, 3L),
      // g1: the irrelevant doc ranks first
      (1L, 0L, 30L, 1L), (1L, 3L, 10L, 2L),
      // g2: all rel 0 -> IDCG 0 -> NULL
      (2L, 0L, 9L, 1L), (2L, 0L, 8L, 2L)))
    assert(got(0L) == (3L, Some(1.0)))
    val dcg1 = r9(0.0 / lg2(2.0)) + r9(7.0 / lg2(3.0))
    val idcg1 = r9(7.0 / lg2(2.0)) + r9(0.0 / lg2(3.0))
    assert(got(1L) == (2L, Some(math.rint(dcg1 / idcg1 * 1e6) / 1e6)))
    assert(got(2L) == (2L, None))
    // NULL rel must not consume a rank position (it would deflate the
    // discounts of every later row): g0 + a NULL-rel row == plain g0
    val withNull = spark.sql(
      """SELECT * FROM VALUES (0L, 3L, 30L, 1L), (0L, CAST(NULL AS BIGINT),
        |  25L, 2L), (0L, 1L, 20L, 3L), (0L, 0L, 10L, 4L) t(g, r, s, t)
        |""".stripMargin)
    val nres = Stats.ndcg(withNull, Seq("g"), col("r"), col("s"), col("t"))
      .collect()(0)
    assert(nres.getLong(1) == 3L && nres.getDouble(2) == 1.0)
  }

  test("rbo: identical = 1-p^D, disjoint = 0, hand-checked overlap") {
    def rank(rows: Seq[(Long, Long, Long)]) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2))
        .toDF("g", "item", "rnk")
    def run(a: Seq[(Long, Long, Long)], b: Seq[(Long, Long, Long)],
        depth: Int) =
      Stats.rbo(rank(a), rank(b), depth)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val w10 = Stats.rboWeights(10, 0.875)
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    // identical rankings: Σ W(m) telescopes to (1-p^D)/(1-p)
    val ident = (1L to 10L).map(i => (0L, 100L + i, i))
    assert(run(ident, ident, 10) ==
      Map(0L -> r6(0.125 * w10.sum)))
    assert(math.abs(run(ident, ident, 10)(0L) -
      (1.0 - math.pow(0.875, 10))) < 1e-5)
    // disjoint prefixes: 0.0 via the left-join path
    val other = (1L to 10L).map(i => (0L, 200L + i, i))
    assert(run(ident, other, 10) == Map(0L -> 0.0))
    // partial overlap at depth 2: only item y matches, at ranks (2, 1)
    val w2 = Stats.rboWeights(2, 0.875)
    val got = run(Seq((0L, 1L, 1L), (0L, 2L, 2L)),
      Seq((0L, 2L, 1L), (0L, 3L, 2L)), 2)
    assert(got == Map(0L -> r6(0.125 * w2(1))))
  }

  test("f1Report: hand confusion incl. one-sided classes and zero rows") {
    // labels: a(3 true), b(2), c(1); preds: a predicted 4x, b 1x, d 1x
    val conf = spark.createDataFrame(Seq(
        ("a", "a", 2L), ("a", "d", 1L),  // a: tp=2, 1 leaked to d
        ("b", "a", 1L), ("b", "b", 1L),  // b: tp=1
        ("c", "a", 1L)))                 // c: never predicted
      .toDF("label", "pred", "n")
    val got = Stats.f1Report(conf).collect().map { r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Double]),
        Option(r.get(5)).map(_.asInstanceOf[Double]),
        Option(r.get(6)).map(_.asInstanceOf[Double]))
    }.toMap
    def r6(x: Double) = Some(math.rint(x * 1e6) / 1e6)
    assert(got("a") == (3L, 4L, 2L, r6(2.0 / 4), r6(2.0 / 3), r6(4.0 / 7)))
    assert(got("b") == (2L, 1L, 1L, r6(1.0), r6(0.5), r6(2.0 / 3)))
    // c: true but never predicted -> prec NULL, rec 0, f1 0
    assert(got("c") == (1L, 0L, 0L, None, r6(0.0), r6(0.0)))
    // d: predicted but never true -> rec NULL, prec 0, f1 0
    assert(got("d") == (0L, 1L, 0L, r6(0.0), None, r6(0.0)))
  }

  test("cuped: perfect covariate removes variant spread; den=0 degrades") {
    def run(rows: Seq[(Long, Long, Long)]) = {
      val df = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 3)).toDF("variant", "x", "y")
      Stats.cuped(df, col("variant"), col("x"), col("y"))
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    }
    // y = 2x exactly: theta = 2, adjusted means equalize to 2*xbar
    // (variant 0 had the bigger covariate draw — pure imbalance)
    val got = run(Seq(
      (0L, 100L, 200L), (0L, 300L, 600L),
      (1L, 10L, 20L), (1L, 30L, 60L)))
    assert(got(0L)._2 == 400.0 && got(1L)._2 == 40.0) // raw means differ
    assert(got(0L)._3 == got(1L)._3, s"adjusted should equalize: $got")
    assert(got(0L)._3 == 220.0) // 2 * global xbar = 2 * 110
    // constant covariate: den = 0 -> theta = 0 -> adjusted == raw
    val const = run(Seq((0L, 5L, 10L), (1L, 5L, 99L)))
    assert(const(0L)._3 == const(0L)._2 && const(1L)._3 == const(1L)._2)
  }

  test("jackknifeRatio: hand case, constant-ratio zero SE, empty-den skip") {
    def run(rows: Seq[(Long, Long, Long)]) = {
      val df = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 3)).toDF("b", "x", "y")
      Stats.jackknifeRatio(df, col("b"), col("x"), col("y")).collect()(0)
    }
    // constant per-bucket ratio 2: every replicate is 2 -> SE 0
    val const = run(Seq((0L, 20L, 10L), (1L, 40L, 20L), (2L, 6L, 3L)))
    assert(const.getLong(0) == 3 && const.getDouble(1) == 2.0 &&
      const.getDouble(2) == 0.0)
    // hand case: buckets (10,1), (20,1), (60,2); S=90 T=4
    // R_i: 80/3, 70/3, 30/2 -> mean + se by the same r9/decimal fold
    val got = run(Seq((0L, 10L, 1L), (1L, 20L, 1L), (2L, 60L, 2L)))
    def r9(x: Double) = math.rint(x * 1e9) / 1e9
    val ris = Seq(80.0 / 3, 70.0 / 3, 30.0 / 2).map(r9)
    val rbar = ris.map(BigDecimal.valueOf).sum.toDouble / 3
    val ssd = ris.map(r => BigDecimal.valueOf(
      math.rint((r - rbar) * (r - rbar) * 1e12) / 1e12)).sum.toDouble
    assert(got.getDouble(1) == math.rint(90.0 / 4 * 1e6) / 1e6)
    assert(got.getDouble(2) ==
      math.rint(math.sqrt(2.0 / 3.0 * ssd) * 1e6) / 1e6)
    // a bucket holding ALL the denominator: its replicate is skipped
    val skip = run(Seq((0L, 10L, 5L), (1L, 7L, 0L), (2L, 3L, 0L)))
    assert(skip.getLong(0) == 2) // only buckets 1 and 2 leave T-ti != 0
    // DEGENERATE: every bucket's removal empties the denominator (the
    // only bucket holds all clicks) — still one row: (0, ratio, NULL)
    val degen = run(Seq((0L, 10L, 5L)))
    assert(degen.getLong(0) == 0 && degen.getDouble(1) == 2.0 &&
      degen.isNullAt(2))
    // and an all-zero denominator reports NULL ratio too, not a crash
    val zeroT = run(Seq((0L, 10L, 0L), (1L, 7L, 0L)))
    assert(zeroT.getLong(0) == 0 && zeroT.isNullAt(1) && zeroT.isNullAt(2))
  }

  test("powerLawFit: exact power law, Zipf-ish slope, degenerate NULLs") {
    def run(rows: Seq[(String, Long, Long)]) = {
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 3)).toDF("g", "x", "y")
      Stats.powerLawFit(df, Seq("g"), col("x"), col("y")).collect()
        .map(r => r.getString(0) -> ((r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)),
          if (r.isNullAt(4)) None else Some(r.getDouble(4))))).toMap
    }
    // exact law y = 3x^2: slope 2, r2 1 (log-log is exactly linear up
    // to the round(9) term quantization)
    val exact = run((1L to 6L).map(x => ("a", x, 3 * x * x)))
    assert(exact("a")._1 == 6L)
    assert(math.abs(exact("a")._2.get - 2.0) < 1e-6)
    assert(math.abs(exact("a")._3.get - 1.0) < 1e-6)
    // a decaying rank/frequency profile fits a NEGATIVE exponent
    val zipf = run((1L to 100L).map(r => ("z", r, math.max(1000 / r, 1L))))
    assert(zipf("z")._2.get < -0.5)
    // degenerate: one point, and zero x-variance -> NULLs, no crash
    val degen = run(Seq(("p", 5L, 7L), ("q", 2L, 3L), ("q", 2L, 9L)))
    assert(degen("p")._2.isEmpty && degen("q")._2.isEmpty)
  }

  test("liftTable: hand curve, uneven-N binning, all-negative NULLs") {
    def run(rows: Seq[(Long, Boolean, Long)], bins: Int) = {
      val df = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 3)).toDF("s", "pos", "t")
      Stats.liftTable(df, col("pos"), col("s"), col("t"), bins)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3),
            Option(r.get(4)).map(_.asInstanceOf[Double]),
            Option(r.get(5)).map(_.asInstanceOf[Double]))).toMap
    }
    // 10 rows, positives hold the 3 best scores: one row per bin
    val rows = (1 to 10).map(i => (11L - i, i <= 3, i.toLong))
    val got = run(rows, 10)
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    assert(got(1L) == (1L, 1L, 1L, Some(r6(1.0 / 3)), Some(r6(10.0 / 3))))
    assert(got(3L)._3 == 3L && got(3L)._4 == Some(1.0))
    assert(got(10L) == (1L, 0L, 3L, Some(1.0), Some(0.0)))
    // N=7 into 3 bins: the explicit formula gives sizes 3, 2, 2
    val sizes = run((1 to 7).map(i => (10L - i, false, i.toLong)), 3)
      .toSeq.sortBy(_._1).map(_._2._1)
    assert(sizes == Seq(3L, 2L, 2L))
    // zero positives: capture/lift NULL, counts still reported
    assert(run((1 to 7).map(i => (10L - i, false, i.toLong)), 3)
      .values.forall(v => v._4.isEmpty && v._5.isEmpty))
  }

  test("mcc: hand cells, perfect prediction = 1, degenerate margin NULL") {
    def run(rows: Seq[(Long, Long, Long)], pos: Long) = {
      val df = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 2)).toDF("label", "pred", "n")
      Stats.mcc(df, lit(pos)).collect()(0)
    }
    // tp=6 fp=1 fn=2 tn=3: mcc = 16 / sqrt(7*8*4*5)
    val got = run(Seq((1L, 1L, 6L), (0L, 1L, 1L), (1L, 0L, 2L),
      (0L, 0L, 3L)), 1L)
    assert((got.getLong(0), got.getLong(1), got.getLong(2),
      got.getLong(3)) == (6L, 1L, 2L, 3L))
    assert(got.getDouble(4) ==
      math.rint(16.0 / math.sqrt(1120.0) * 1e6) / 1e6)
    // perfect prediction
    assert(run(Seq((1L, 1L, 5L), (0L, 0L, 5L)), 1L).getDouble(4) == 1.0)
    // degenerate: everything predicted positive -> a zero margin -> NULL
    assert(run(Seq((1L, 1L, 5L), (0L, 1L, 5L)), 1L).isNullAt(4))
  }

  test("brierScore: perfect = 0, coin = 0.25, hand residuals") {
    def run(rows: Seq[(Double, Boolean)]) = {
      val df = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 2)).toDF("p", "y")
      Stats.brierScore(df, col("p"), col("y")).collect()(0)
    }
    assert(run(Seq((1.0, true), (0.0, false))).getDouble(1) == 0.0)
    assert(run(Seq((0.5, true), (0.5, false))).getDouble(1) == 0.25)
    // hand: residuals 0.3² and 0.2² -> (0.09 + 0.04)/2
    val got = run(Seq((0.7, true), (0.2, false)))
    assert(got.getLong(0) == 2 && got.getDouble(1) == 0.065)
  }

  test("auc: separation extremes and the hand-checked tie case") {
    def run(rows: Seq[(Long, Boolean)]) = {
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 3)).toDF("s", "pos")
      Stats.auc(df, col("pos"), col("s")).collect()(0)
    }
    // perfect separation both ways
    val perfect = Seq((1L, false), (2L, false), (3L, true), (4L, true))
    assert(run(perfect).getDouble(0) == 1.0)
    assert(run(perfect.map { case (s, y) => (s, !y) }).getDouble(0) == 0.0)
    // ties: pos scores {1,2,2}, neg {2,3}. Pairs: (1 vs 2)=1, (1 vs 3)=1
    // wins-for-neg... U_pos = #(pos>neg)+0.5#(=): pos1: 0; pos2: 0.5;
    // pos2: 0.5 → U=1, AUC = 1/(3*2) = 0.166667
    val tied = run(Seq((1L, true), (2L, true), (2L, true),
      (2L, false), (3L, false)))
    assert(tied.getDouble(0) == 0.166667)
    assert(tied.getLong(1) == 3 && tied.getLong(2) == 2)
    // an empty class yields NULL, not a divide-by-zero error
    val onlyPos = run(Seq((1L, true), (2L, true)))
    assert(onlyPos.isNullAt(0) && onlyPos.getLong(2) == 0)
    // a half-way AUC rounds half up: 8 positives, 16 negatives, one
    // winning pair (3 > 2) → U = 1, AUC = 1/128 = 0.0078125
    val half = run(Seq.fill(7)((0L, true)) ++ Seq((3L, true), (2L, false)) ++
      Seq.fill(15)((5L, false)))
    assert(half.getDouble(0) == 0.007813)
  }

  test("auc: NULL scores are excluded, not ranked lowest") {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("s",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("pos",
        org.apache.spark.sql.types.BooleanType)))
    val rows = Seq[(java.lang.Long, Boolean)](
      (1L, false), (2L, true), (null, false), (null, false))
      .map { case (s, p) => org.apache.spark.sql.Row(s, p) }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val r = Stats.auc(df, col("pos"), col("s")).collect()(0)
    // the two NULL-score negatives vanish: 1 pos vs 1 neg, separated
    assert(r.getDouble(0) == 1.0)
    assert(r.getLong(1) == 1 && r.getLong(2) == 1)
  }

  test("auc: partitioning-invariant, random data matches brute force") {
    val rnd = new scala.util.Random(11)
    val rows = (1 to 400).map { _ =>
      (rnd.nextInt(40).toLong, rnd.nextInt(3) == 0)
    }
    val brute = {
      val pos = rows.filter(_._2).map(_._1)
      val neg = rows.filterNot(_._2).map(_._1)
      val u = (for (p <- pos; n <- neg) yield {
        if (p > n) 1.0 else if (p == n) 0.5 else 0.0
      }).sum
      math.rint(u / (pos.size * neg.size) * 1e6) / 1e6
    }
    for (parts <- Seq(1, 7)) {
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, parts)).toDF("s", "pos")
      val got = Stats.auc(df, col("pos"), col("s")).collect()(0)
      assert(got.getDouble(0) == brute, s"parts=$parts")
    }
  }

  test("aucBinned: order-preserving bins reproduce auc exactly; coarse " +
      "bins stay close; degenerate score is 0.5") {
    val rnd = new scala.util.Random(23)
    val rows = (1 to 500).map { _ =>
      (rnd.nextInt(40).toLong, rnd.nextInt(3) == 0)
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 5)).toDF("s", "pos")
    val exact = Stats.auc(df, col("pos"), col("s")).collect()(0)
    // bin width ≤ 1 over integer scores: binning is injective on the
    // distinct values, so the binned ranking == the score ranking
    val fine = Stats.aucBinned(df, col("pos"), col("s"), nBins = 64)
      .collect()(0)
    assert(fine.getDouble(0) == exact.getDouble(0))
    assert(fine.getLong(1) == exact.getLong(1) &&
      fine.getLong(2) == exact.getLong(2))
    // a genuinely continuous score: coarse bins approximate within
    // O(1/nBins); 256 bins on [0,1) noise keeps two digits
    val contRows = (1 to 2000).map { i =>
      val s = rnd.nextDouble()
      (s, s + rnd.nextGaussian() * 0.3 > 0.7)
    }
    val cdf = spark.createDataFrame(
      spark.sparkContext.parallelize(contRows, 7)).toDF("s", "pos")
    // exact on the 1e-6-quantized twin as ground truth
    val truth = Stats.auc(cdf, col("pos"),
      round(col("s") * 1e6).cast("long")).collect()(0).getDouble(0)
    val approx = Stats.aucBinned(cdf, col("pos"), col("s"), nBins = 256)
      .collect()(0).getDouble(0)
    assert(math.abs(approx - truth) < 0.01, s"$approx vs $truth")
    // constant score: every pair ties → 0.5
    val const = Stats.aucBinned(
      spark.createDataFrame(Seq((1.0, true), (1.0, false), (1.0, true)))
        .toDF("s", "pos"), col("pos"), col("s")).collect()(0)
    assert(const.getDouble(0) == 0.5)
    // NaN AND ±Infinity scores are excluded like NULLs, not ranked —
    // an Inf would otherwise poison the min/max bounds and collapse
    // every finite row into bin 0
    val withBad = Stats.aucBinned(
      spark.createDataFrame(Seq((0.1, false), (0.9, true),
        (Double.NaN, false), (Double.PositiveInfinity, false),
        (Double.NegativeInfinity, true))).toDF("s", "pos"),
      col("pos"), col("s")).collect()(0)
    assert(withBad.getDouble(0) == 1.0 &&
      withBad.getLong(1) == 1 && withBad.getLong(2) == 1)
  }

  test("winsorizedMean: clips at exact quartiles, hand-checked") {
    // group g: cents 100..800 (n=8): idx = .25*7 = 1.75 → lo =
    // 200 + .75*100 = 275; hi at 5.25 → 600+.25*100 = 625
    val rows = (1 to 8).map(i => ("g", i * 100L))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3)).toDF("k", "cents")
    val r = Stats.winsorizedMean(df, Seq("k"), col("cents")).collect()(0)
    assert(r.getLong(1) == 8)
    assert(r.getDouble(2) == 2.75 && r.getDouble(3) == 6.25)
    // clipped: 275,275,300,400,500,600,625,625 → mean 450 → 4.50 units
    assert(r.getDouble(4) == 4.5)
  }

  test("winsorizedMean: outlier-robust vs plain mean, per group") {
    val rows = Seq.tabulate(50)(i => ("a", 100L + i)) :+ (("a", 100000L))
    val df = spark.createDataFrame(rows).toDF("k", "cents")
    val r = Stats.winsorizedMean(df, Seq("k"), col("cents")).collect()(0)
    // the 1000-unit outlier is clipped to p75 (~1.37): wmean stays ~1.25
    assert(r.getDouble(4) < 1.4, s"wmean ${r.getDouble(4)}")
  }

  private def chi(rows: Seq[(String, String)]): Map[(String, String),
      (Long, Double, Double)] =
    Stats.chiSquare(spark.createDataFrame(rows).toDF("x", "y"), "x", "y")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4))))
      .toMap

  test("chiSquare: independent table has zero contribution everywhere") {
    // rows x:(10,20), y:(30,60) — exactly proportional marginals
    val rows = Seq.fill(10)(("x", "u")) ++ Seq.fill(20)(("x", "v")) ++
      Seq.fill(30)(("y", "u")) ++ Seq.fill(60)(("y", "v"))
    val r = chi(rows)
    assert(r.size == 4)
    r.foreach { case (cell, (cnt, exp, contrib)) =>
      assert(cnt.toDouble == exp, s"$cell")
      assert(contrib == 0.0, s"$cell")
    }
  }

  test("chiSquare: hand-computed 2x2 with dependence") {
    // 30/10/10/30: N=80, all marginals 40, expected 20, contrib 100/20=5
    val rows = Seq.fill(30)(("x", "u")) ++ Seq.fill(10)(("x", "v")) ++
      Seq.fill(10)(("y", "u")) ++ Seq.fill(30)(("y", "v"))
    val r = chi(rows)
    assert(r.values.forall { case (_, exp, c) => exp == 20.0 && c == 5.0 })
    assert(r(("x", "u"))._1 == 30L && r(("x", "v"))._1 == 10L)
  }

  test("chiSquare: unobserved cells appear with cnt 0, contrib = expected") {
    // y never pairs with v: the (y, v) zero cell must still be reported
    val rows = Seq.fill(8)(("x", "u")) ++ Seq.fill(8)(("x", "v")) ++
      Seq.fill(4)(("y", "u"))
    val r = chi(rows)
    assert(r.size == 4)
    val (cnt, exp, contrib) = r(("y", "v"))
    assert(cnt == 0L)
    // rt(y)=4, ct(v)=8, N=20 -> expected 1.6; contrib = (0-1.6)^2/1.6
    assert(exp == 1.6 && contrib == 1.6)
  }

  test("woeIv: hand case — separating and balanced bins") {
    // bin A: 6 pos, 2 neg; bin B: 2 pos, 6 neg; P = N = 8
    val df = spark.createDataFrame(
      (Seq.fill(6)(("A", 1)) ++ Seq.fill(2)(("A", 0)) ++
        Seq.fill(2)(("B", 1)) ++ Seq.fill(6)(("B", 0))))
      .toDF("bin", "y").repartition(3)
    val got = Stats.woeIv(df, col("bin"), col("y") === 1)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toMap
    val woeA = math.log(6.0 * 8 / (2.0 * 8))
    assert(got("A")._1 == 6 && got("A")._2 == 2)
    assert(math.abs(got("A")._3 - woeA) < 1e-6)
    assert(math.abs(got("A")._4 - (6.0 / 8 - 2.0 / 8) * woeA) < 1e-6)
    // B mirrors A (swap classes): woe_B = -woe_A, iv_B = iv_A
    assert(math.abs(got("B")._3 + got("A")._3) < 1e-6)
    assert(math.abs(got("B")._4 - got("A")._4) < 1e-6)
  }

  test("woeIv: a bin with a zero side reports NULL woe/iv") {
    val df = spark.createDataFrame(Seq(
      ("A", 1), ("A", 0), ("Z", 1), ("Z", 1))).toDF("bin", "y")
    val got = Stats.woeIv(df, col("bin"), col("y") === 1)
      .collect().map(r => r.getString(0) ->
        (r.isNullAt(3), r.isNullAt(4))).toMap
    assert(got("Z") == ((true, true)))
    assert(got("A") == ((false, false)))
  }

  test("woeIv: a non-separating bin has woe 0") {
    // both bins carry the same pos:neg ratio as the totals -> woe = 0
    val df = spark.createDataFrame(
      (Seq.fill(2)(("A", 1)) ++ Seq.fill(2)(("A", 0)) ++
        Seq.fill(3)(("B", 1)) ++ Seq.fill(3)(("B", 0)))).toDF("bin", "y")
    val got = Stats.woeIv(df, col("bin"), col("y") === 1)
      .collect().map(r => (r.getDouble(3), r.getDouble(4)))
    assert(got.forall { case (w, iv) => w == 0.0 && iv == 0.0 })
  }

  test("mutualInfo: 0 for independence, log2(k) for identity") {
    // independent: every (x, y) cell has exactly the product count
    val ind = for { x <- 0 until 3; y <- 0 until 4; _ <- 0 until (x + 1) }
      yield (s"x$x", s"y$y")
    val dfInd = spark.createDataFrame(ind).toDF("a", "b").repartition(4)
    val gotInd = Stats.mutualInfo(dfInd, col("a"), col("b"))
      .collect().head
    assert(gotInd.getLong(0) == ind.size &&
      gotInd.getLong(1) == 3 && gotInd.getLong(2) == 4)
    assert(gotInd.getDouble(3) == 0.0)
    // identity on 4 equally likely levels: MI = log2(4) = 2 bits
    val id4 = (0 until 400).map(i => (s"v${i % 4}", s"v${i % 4}"))
    val gotId = Stats.mutualInfo(
      spark.createDataFrame(id4).toDF("a", "b").repartition(4),
      col("a"), col("b")).collect().head
    assert(gotId.getDouble(3) == 2.0)
  }

  test("mutualInfo == brute force; exact partitioning invariance") {
    val rnd = new scala.util.Random(37)
    val rows = (1 to 2000).map { _ =>
      val x = rnd.nextInt(5)
      // y correlates with x but is noisy
      val y = if (rnd.nextDouble() < 0.6) x % 3 else rnd.nextInt(3)
      (s"x$x", s"y$y")
    }
    val df = spark.createDataFrame(rows).toDF("a", "b")
    def run(d: org.apache.spark.sql.DataFrame) =
      Stats.mutualInfo(d, col("a"), col("b")).collect().head.getDouble(3)
    val got = run(df.repartition(17))
    assert(got == run(df.coalesce(1))) // decimal cell sum: bit-exact
    val n = rows.size.toDouble
    val cxy = rows.groupBy(identity).map { case (k, v) => k -> v.size }
    val cx = rows.groupBy(_._1).map { case (k, v) => k -> v.size }
    val cy = rows.groupBy(_._2).map { case (k, v) => k -> v.size }
    val brute = cxy.map { case ((x, y), c) =>
      c / n * (math.log(c * n / (cx(x).toDouble * cy(y))) / math.log(2))
    }.sum
    assert(math.abs(got - brute) < 2e-6)
    assert(got > 0.1) // the correlation is detectable
  }

  test("ksTest: disjoint samples give D=1, identical give D=0") {
    val df = spark.createDataFrame(Seq(
      ("dis", 1L, true), ("dis", 2L, true), ("dis", 3L, false),
      ("dis", 4L, false),
      ("same", 5L, true), ("same", 6L, true), ("same", 5L, false),
      ("same", 6L, false),
      ("onesided", 1L, true), ("onesided", 2L, true)))
      .toDF("grp", "v", "isA").repartition(3)
    val got = Stats.ksTest(df, Seq("grp"), col("v"), col("isA"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got == Map(
      "dis" -> ((2L, 2L, 1.0)),
      "same" -> ((2L, 2L, 0.0)))) // one-sided group omitted
  }

  test("ksTest == brute-force ECDF gap on random data, with ties") {
    val rnd = new scala.util.Random(29)
    val rows = (1 to 600).map { i =>
      (s"g${i % 3}", rnd.nextInt(40).toLong, rnd.nextBoolean()) }
    val df = spark.createDataFrame(rows).toDF("grp", "v", "isA")
      .repartition(11)
    val got = Stats.ksTest(df, Seq("grp"), col("v"), col("isA"))
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    val brute = rows.groupBy(_._1).collect {
      case (g, rs) if rs.exists(_._3) && rs.exists(!_._3) =>
        val a = rs.filter(_._3).map(_._2)
        val b = rs.filter(!_._3).map(_._2)
        val d = rs.map(_._2).distinct.map { v =>
          math.abs(a.count(_ <= v).toDouble / a.size -
            b.count(_ <= v).toDouble / b.size)
        }.max
        g -> BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble
    }
    assert(got.keySet == brute.keySet)
    brute.foreach { case (g, d) =>
      assert(math.abs(got(g) - d) < 2e-6, s"group $g") }
  }

  test("gini: equality is 0, max concentration approaches 1, hand case") {
    val df = spark.createDataFrame(Seq(
      ("eq", 7L), ("eq", 7L), ("eq", 7L), ("eq", 7L),
      ("hand", 0L), ("hand", 1L), // (2·2 − 3·1)/(2·1) = 0.5
      ("conc", 0L), ("conc", 0L), ("conc", 0L), ("conc", 100L),
      ("zero", 0L), ("zero", 0L)))
      .toDF("grp", "v").repartition(3)
    val got = Stats.gini(df, Seq("grp"), col("v"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(3))))).toMap
    assert(got("eq") == ((4L, 28L, Some(0.0))))
    assert(got("hand") == ((2L, 1L, Some(0.5))))
    assert(got("conc") == ((4L, 100L, Some(0.75)))) // (n-1)/n
    assert(got("zero") == ((2L, 0L, None))) // undefined, NULL
  }

  test("gini: tie-break and partitioning invariant, matches brute force") {
    val rnd = new scala.util.Random(31)
    val rows = (1 to 500).map { i =>
      (s"g${i % 4}", rnd.nextInt(30).toLong) } // heavy ties
    val df = spark.createDataFrame(rows).toDF("grp", "v")
    def run(d: org.apache.spark.sql.DataFrame) =
      Stats.gini(d, Seq("grp"), col("v"))
        .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    val a = run(df.repartition(13))
    assert(a == run(df.coalesce(1).orderBy(desc("v"))))
    rows.groupBy(_._1).foreach { case (g, rs) =>
      val xs = rs.map(_._2).sorted
      val n = xs.size
      val six = xs.zipWithIndex.map { case (x, i) => (i + 1L) * x }.sum
      val d = (2.0 * six - (n + 1L) * xs.sum) / (n.toDouble * xs.sum)
      assert(math.abs(a(g) - d) < 2e-6, s"group $g")
    }
  }

  test("weightedMedian: hand case — lower median by cumulative weight") {
    // g: 10(w1), 20(w2), 30(w1): total 4, cum at 10 is 1 (2·1 < 4),
    // cum at 20 is 3 (2·3 ≥ 4) → 20. h: single value. z: exact tie —
    // 5(w2), 9(w2): cum at 5 is 2 (2·2 ≥ 4) → ties take the LOWER value
    val df = spark.createDataFrame(Seq(
      ("g", 10L, 1L), ("g", 20L, 2L), ("g", 30L, 1L),
      ("h", 7L, 5L),
      ("z", 5L, 2L), ("z", 9L, 2L),
      ("drop", 1L, 0L))) // weight 0 rows vanish; group disappears
      .toDF("grp", "v", "w").repartition(3)
    val got = Stats.weightedMedian(df, Seq("grp"), col("v"), col("w"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      "g" -> ((20L, 4L, 3L)),
      "h" -> ((7L, 5L, 1L)),
      "z" -> ((5L, 4L, 2L))))
  }

  test("weightedMedian == lower median over weight-exploded rows") {
    val rnd = new scala.util.Random(13)
    val rows = (1 to 400).map { i =>
      (s"g${i % 7}", rnd.nextInt(50).toLong, rnd.nextInt(5).toLong + 1) }
    val df = spark.createDataFrame(rows).toDF("grp", "v", "w")
      .repartition(9)
    val got = Stats.weightedMedian(df, Seq("grp"), col("v"), col("w"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val brute = rows.groupBy(_._1).map { case (g, rs) =>
      val exploded = rs.flatMap { case (_, v, w) =>
        Seq.fill(w.toInt)(v) }.sorted
      // lower median: element at ceil(N/2) (1-based) of the sorted bag
      g -> exploded((exploded.size + 1) / 2 - 1)
    }
    assert(got == brute)
  }

  test("weightedMedian: partitioning-invariant; empty group list rejected") {
    val rnd = new scala.util.Random(3)
    val rows = (1 to 300).map { i =>
      (s"g${i % 4}", rnd.nextInt(100).toLong, rnd.nextInt(9).toLong + 1) }
    val df = spark.createDataFrame(rows).toDF("grp", "v", "w")
    def run(d: org.apache.spark.sql.DataFrame) =
      Stats.weightedMedian(d, Seq("grp"), col("v"), col("w"))
        .collect().map(_.toSeq).toSet
    assert(run(df.repartition(17)) == run(df.coalesce(1)))
    intercept[IllegalArgumentException] {
      Stats.weightedMedian(df, Seq.empty, col("v"), col("w"))
    }
  }

  test("calibration: hand bins, FLOOR semantics on negative scores") {
    // scores -1500..1500: bin width 1000 must FLOOR (-1500 -> bin -2,
    // -1 -> bin -1), never truncate toward zero
    val df = spark.createDataFrame(Seq(
      (-1500L, true), (-1L, false), (0L, true), (999L, false),
      (1000L, true), (1500L, true))).toDF("sq", "pos")
    val got = Stats.calibration(df, col("pos"), col("sq"), 1000L, 1000.0)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(got.keySet == Set(-2L, -1L, 0L, 1L))
    assert(got(-2L) == ((1L, 1L, -1.5, 1.0)))
    assert(got(-1L) == ((1L, 0L, -0.001, 0.0)))
    assert(got(0L) == ((2L, 1L, 0.4995, 0.5)))
    assert(got(1L) == ((2L, 2L, 1.25, 1.0)))
    // bins partition the rows: supports sum to the input size
    assert(got.values.map(_._1).sum == 6)
    intercept[IllegalArgumentException] {
      Stats.calibration(df, col("pos"), col("sq"), 0L, 1000.0)
    }
  }

  test("nearestCentroid: separable clusters give a diagonal confusion " +
      "matrix; overlap misclassifies; partitioning-invariant") {
    // two tight clusters around (0,0) and (10,10); one label-1 point
    // sits AT the label-0 centroid and must be claimed by label 0
    val rows = Seq(
      (1L, Seq(0.1f, 0.0f), 0), (2L, Seq(-0.1f, 0.1f), 0),
      (3L, Seq(0.0f, -0.1f), 0),
      (4L, Seq(10.1f, 10.0f), 1), (5L, Seq(9.9f, 10.1f), 1),
      (6L, Seq(0.0f, 0.0f), 1))
    val df = spark.createDataFrame(rows).toDF("id", "vec", "label")
    def run(d: org.apache.spark.sql.DataFrame) =
      Stats.nearestCentroid(d, "id", "vec", "label")
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2))
        .toMap
    val got = run(df)
    assert(got == Map((0, 0) -> 3L, (1, 1) -> 2L, (1, 0) -> 1L), got)
    assert(got == run(df.repartition(7)), "partitioning changed the matrix")
    // the fixture embeddings are label-informative: diagonal mass must
    // beat uniform chance (10 labels -> 10%)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val m = Stats.nearestCentroid(emb, "vec_id", "embedding", "label")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val total = m.values.sum
    val diag = m.collect { case ((a, b), n) if a == b => n }.sum
    assert(diag.toDouble / total > 0.2,
      s"centroid accuracy ${diag.toDouble / total} not above chance")
  }

  test("ols2: recovers an exact plane; collinear features go NULL") {
    val rnd = new scala.util.Random(7)
    // noise-free integer plane y = 3 + 2·x1 − x2: every moment and
    // every Cramer product is an exact double, so the closed form
    // returns the coefficients EXACTLY (no tolerance needed)
    val pts = (1 to 200).map { _ =>
      val x1 = rnd.nextInt(10).toLong; val x2 = rnd.nextInt(10).toLong
      ("g", x1, x2, 3 + 2 * x1 - x2)
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(pts, 5)).toDF("g", "x1", "x2", "y")
    val got = Stats.ols2(df, Seq("g"), col("x1"), col("x2"), col("y"))
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(got("g") == ((200L, 2.0, -1.0, 3.0)))
    // x2 = 2·x1 makes the normal matrix singular -> NULL coefficients
    val col2 = spark.createDataFrame(pts.map(p =>
      ("c", p._2, 2 * p._2, p._4))).toDF("g", "x1", "x2", "y")
    val deg = Stats.ols2(col2, Seq("g"), col("x1"), col("x2"), col("y"))
      .collect().head
    assert(deg.isNullAt(2) && deg.isNullAt(3) && deg.isNullAt(4))
  }

  test("cohensKappa: perfect agreement is 1, independence near 0") {
    val same = spark.createDataFrame(
      (0 until 30).map(i => (s"l${i % 3}", s"l${i % 3}"))).toDF("a", "b")
    val r = Stats.cohensKappa(same).collect().head
    assert(r.getLong(0) == 30 && r.getLong(1) == 30)
    assert(r.getDouble(2) == 1.0)
    // checkerboard: marginals uniform, agreement exactly chance level
    val indep = spark.createDataFrame(for (i <- 0 until 4; j <- 0 until 4)
      yield (s"a$i", s"b$j")).toDF("a", "b")
    assert(Stats.cohensKappa(indep).collect().head.getDouble(2) == 0.0)
  }

  test("cohensKappa: matches the textbook formula on a known table") {
    // classic 2x2 example: po = 0.7, pe = 0.5 -> kappa = 0.4
    val rows = Seq.fill(25)(("y", "y")) ++ Seq.fill(10)(("y", "n")) ++
      Seq.fill(5)(("n", "y")) ++ Seq.fill(10)(("n", "n"))
    val r = Stats.cohensKappa(
      spark.createDataFrame(rows).toDF("a", "b")).collect().head
    // n=50, D=35, S = ry*cy + rn*cn = 35*30 + 15*20 = 1350
    // kappa = (50*35 - 1350)/(2500 - 1350) = 400/1150
    assert(math.abs(r.getDouble(2) - 400.0 / 1150.0) < 1e-15)
  }

  test("cohensKappa: single shared category is NULL (undefined)") {
    val one = spark.createDataFrame(Seq.fill(5)(("x", "x"))).toDF("a", "b")
    assert(Stats.cohensKappa(one).collect().head.isNullAt(2))
  }
}
