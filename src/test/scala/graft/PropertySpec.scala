package graft

import graft.operators.{Dbscan, EpsilonJoin, KCore, Stats}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty

/** Generator-driven property tests (SURVEY §5 plan item 3): the
  * invariants fixed-fixture specs sample once, checked across random
  * inputs with shrinking. Each case runs real Spark jobs, so the case
  * counts are deliberately modest — the fixed-seed specs remain the
  * fast regression net; these catch generator-shaped edge cases
  * (degenerate clusters, disconnected graphs, all-tied scores).
  */
class PropertySpec extends SparkSpec {

  /** Runs `prop` from a random seed; a failure reports the seed, which
    * `withInitialSeed(Seed.fromBase64(seed).get)` replays, and the shrunk
    * failing case. */
  private def check(name: String, cases: Int)(prop: Prop): Unit = {
    val seed = Seed.random()
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(cases)
        .withWorkers(1).withInitialSeed(seed), prop)
    assert(res.passed, s"$name failed with seed ${seed.toBase64}:\n" +
      Pretty.pretty(res, Pretty.Params(2)))
  }

  private val pointsGen: Gen[List[(Float, Float)]] = for {
    n <- Gen.choose(20, 90)
    // two loose blobs + uniform noise — keeps cluster structure varied
    pts <- Gen.listOfN(n, Gen.oneOf(
      Gen.zip(Gen.choose(0f, 30f), Gen.choose(0f, 30f)),
      Gen.zip(Gen.choose(60f, 95f), Gen.choose(60f, 95f)),
      Gen.zip(Gen.choose(0f, 100f), Gen.choose(0f, 100f))))
  } yield pts

  private def pointDf(pts: List[(Float, Float)], parts: Int) =
    spark.createDataFrame(spark.sparkContext.parallelize(
        pts.zipWithIndex.map { case ((x, y), i) =>
          (i.toLong, Array(x, y)) }, parts))
      .toDF("id", "features")

  test("property: ε-join equals the brute-force neighbor set") {
    check("eps-join", 8)(Prop.forAll(pointsGen,
      Gen.choose(3.0, 25.0)) { (pts, eps) =>
      val got = EpsilonJoin
        .selfJoin(pointDf(pts, 3), "id", "features", eps, Seq(0, 1))
        .select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val e2 = eps * eps
      // selfJoin emits proper pairs only (both orientations, no self-
      // pair): the self neighbor is added downstream by neighborCounts
      val ref = (for {
        (a, i) <- pts.zipWithIndex; (b, j) <- pts.zipWithIndex
        if i != j
        // float-widen then double math — the engine's numeric contract
        dx = a._1.toDouble - b._1.toDouble
        dy = a._2.toDouble - b._2.toDouble
        if dx * dx + dy * dy <= e2
      } yield (i.toLong, j.toLong)).toSet
      // the kd path must produce the identical pair set from the same
      // input (different physical route, same contract)
      val kd = EpsilonJoin
        .selfJoinKd(pointDf(pts, 3), "id", "features", eps,
          partitionDims = Seq(0), cellSize = 2 * eps)
        .select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      got == ref && kd == ref
    })
  }

  test("property: DBSCAN labels invariant to partitioning, permutation, path") {
    val gen = for {
      pts <- pointsGen
      eps <- Gen.choose(5.0, 20.0)
      minPts <- Gen.choose(2, 6)
      seed <- Gen.choose(0L, 1000L)
    } yield (pts, eps, minPts, seed)
    check("dbscan-invariance", 6)(Prop.forAll(gen) {
      case (pts, eps, minPts, seed) =>
        def labels(df: org.apache.spark.sql.DataFrame, threshold: Long) =
          Dbscan.run(df, "id", "features", eps, minPts, Seq(0, 1),
            localThreshold = threshold)
            .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
        val base = labels(pointDf(pts, 3), 100000L) // fused path
        val shuffled = new scala.util.Random(seed).shuffle(pts.zipWithIndex)
        val permDf = spark.createDataFrame(spark.sparkContext.parallelize(
            shuffled.map { case ((x, y), i) => (i.toLong, Array(x, y)) }, 7))
          .toDF("id", "features")
        labels(permDf, 100000L) == base &&   // permutation + partitioning
          labels(pointDf(pts, 4), 0L) == base // distributed path
    })
  }

  test("property: k-core fused == distributed on random graphs") {
    val gen = for {
      n <- Gen.choose(5, 25)
      m <- Gen.choose(5, 80)
      es <- Gen.listOfN(m,
        Gen.zip(Gen.choose(0L, n.toLong), Gen.choose(0L, n.toLong)))
      k <- Gen.choose(1, 4)
      rounds <- Gen.choose(1, 6)
    } yield (es, k, rounds)
    check("kcore-paths", 8)(Prop.forAll(gen) { case (es, k, rounds) =>
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(es, 3)).toDF("s", "d")
      def run(thr: Long) =
        KCore.run(df, "s", "d", k, rounds, localThreshold = thr)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      run(5_000_000L) == run(0L)
    })
  }

  test("property: AUC equals the brute-force U statistic") {
    val gen = for {
      n <- Gen.choose(10, 120)
      rows <- Gen.listOfN(n,
        Gen.zip(Gen.choose(0L, 15L), Gen.oneOf(true, false)))
      if rows.exists(_._2) && rows.exists(!_._2)
    } yield rows
    check("auc-brute", 8)(Prop.forAll(gen) { rows =>
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 3)).toDF("s", "pos")
      val got = Stats.auc(df, col("pos"), col("s")).collect()(0).getDouble(0)
      val pos = rows.filter(_._2).map(_._1)
      val neg = rows.filterNot(_._2).map(_._1)
      val u = (for (p <- pos; q <- neg) yield {
        if (p > q) 1.0 else if (p == q) 0.5 else 0.0
      }).sum
      // round(x, 6) rounds half up, in Spark and in DuckDB: an AUC such
      // as 1/128 = 0.0078125 sits exactly on a half, where a half-even
      // rint(x * 1e6) would round down
      val want = java.math.BigDecimal.valueOf(u / (pos.size.toDouble *
        neg.size)).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
      (got == want) :| s"auc $got, brute force $want"
    })
  }

  test("property: DSIR weights invariant to partitioning and row order " +
      "on random corpora") {
    // the operator's core claim: rounded-then-decimal-summed λ terms
    // make every weight independent of physical layout, for ANY corpus
    // shape (the fixture spec samples one corpus; this samples many,
    // including single-word docs, empty-ish vocab, and all-target mixes)
    val corpusGen: Gen[List[(String, Boolean)]] = for {
      n <- Gen.choose(5, 25)
      docs <- Gen.listOfN(n, for {
        len <- Gen.choose(1, 12)
        ws <- Gen.listOfN(len, Gen.oneOf("a", "b", "c", "dog", "cat"))
        tgt <- Gen.oneOf(true, false)
      } yield (ws.mkString(" "), tgt))
    } yield docs
    check("dsir-invariance", 6)(Prop.forAll(corpusGen) { docs =>
      val df = spark.createDataFrame(
          docs.zipWithIndex.map { case ((t, f), i) => (i.toLong, t, f) })
        .toDF("doc_id", "text", "tgt")
      def run(d: org.apache.spark.sql.DataFrame) =
        graft.operators.Curation
          .dsirImportance(d, "doc_id", "text", col("tgt"), 2, 8)
          .collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
          .toMap
      run(df) == run(df.repartition(7).orderBy(col("doc_id").desc))
    })
  }

  test("property: spearman equals the brute rank-Pearson, in [-1, 1]") {
    val rowsGen = for {
      n <- Gen.choose(5, 40)
      xs <- Gen.listOfN(n, Gen.choose(-50L, 50L))
      ys <- Gen.listOfN(n, Gen.choose(-50L, 50L))
    } yield xs.zip(ys)
    check("spearman", 8)(Prop.forAll(rowsGen) { rows =>
      val got = Stats.spearman(
        spark.createDataFrame(rows.map { case (x, y) => ("g", x, y) })
          .toDF("g", "x", "y").repartition(3),
        Seq("g"), col("x"), col("y")).collect().head
      val r = if (got.isNullAt(2)) None else Some(got.getDouble(2))
      // brute: tie-averaged ranks ×2, Pearson over them
      def rank2(vs: Seq[Long]): Seq[Long] = {
        val sorted = vs.sorted
        vs.map { v =>
          val lt = sorted.count(_ < v); val eq = sorted.count(_ == v)
          2L * (lt + 1) + eq - 1
        }
      }
      val rx = rank2(rows.map(_._1)).map(_.toDouble)
      val ry = rank2(rows.map(_._2)).map(_.toDouble)
      val n = rows.size.toDouble
      val num = n * rx.zip(ry).map { case (a, b) => a * b }.sum -
        rx.sum * ry.sum
      val den = math.sqrt(n * rx.map(a => a * a).sum - rx.sum * rx.sum) *
        math.sqrt(n * ry.map(a => a * a).sum - ry.sum * ry.sum)
      val expect = if (den == 0.0) None
        else Some(BigDecimal(num / den)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      val close = (r, expect) match {
        case (None, None) => true
        case (Some(a), Some(b)) => math.abs(a - b) <= 1e-6 &&
          a >= -1.0000001 && a <= 1.0000001
        case _ => false
      }
      close
    })
  }

  test("property: Kaplan–Meier survival is non-increasing in [0, 1]") {
    val subjGen = for {
      n <- Gen.choose(3, 60)
      rows <- Gen.listOfN(n,
        Gen.zip(Gen.choose(0L, 15L), Gen.oneOf(true, false)))
    } yield rows
    check("km", 8)(Prop.forAll(subjGen) { rows =>
      val curve = graft.operators.TimeSeries.kaplanMeier(
        spark.createDataFrame(rows).toDF("t", "died").repartition(3),
        Nil, col("t"), col("died")).collect()
        .map(r => (r.getLong(0), r.getDouble(4))).sortBy(_._1)
      val s = curve.map(_._2)
      s.forall(v => v >= 0.0 && v <= 1.0) &&
        s.zip(s.drop(1)).forall { case (a, b) => b <= a + 1e-9 }
    })
  }

  test("property: piiRedact is idempotent and piiCounts bound the masks") {
    import graft.functions.TextFunctions
    val wordGen = Gen.oneOf(
      Gen.alphaLowerStr.map(_.take(6)),
      Gen.const("a.b@x.io"), Gen.const("10.0.0.1"),
      Gen.const("555-1234"), Gen.const("call 020-99887"),
      Gen.const("x@y"), Gen.const("1.2.3"), Gen.const("12-345"))
    val textGen = Gen.listOf(wordGen).map(_.mkString(" "))
    check("pii", 12)(Prop.forAll(textGen) { txt =>
      val df = spark.createDataFrame(Seq(Tuple1(txt))).toDF("text")
      val cols = TextFunctions.piiRedact(col("text")).as("r") +:
        TextFunctions.PiiPatterns.map { case (k, p) =>
          TextFunctions.piiCount(col("text"), p).as(k)
        }
      val r = df.select(cols: _*).collect()(0)
      val red = r.getString(0)
      // idempotent: a second pass finds nothing new
      val twice = spark.createDataFrame(Seq(Tuple1(red))).toDF("text")
        .select(TextFunctions.piiRedact(col("text"))).collect()(0)
        .getString(0)
      // counts on the RAW text upper-bound the masks actually placed
      // (earlier patterns can consume a later pattern's match)
      val masks = Seq("<EMAIL>", "<IPV4>", "<PHONE>").map(m =>
        red.sliding(m.length).count(_ == m)).sum
      val counts = (1 to 3).map(r.getInt).sum
      twice == red && masks <= counts
    })
  }

  test("property: A-ES sample is exact-k, deterministic, weight-monotone") {
    import graft.operators.Curation
    val gen = for {
      n <- Gen.choose(30, 120)
      k <- Gen.choose(1, 10)
      ws <- Gen.listOfN(n, Gen.choose(1L, 50L))
    } yield (k, ws.zipWithIndex.map { case (w, i) => (i.toLong, w) })
    check("aes", 8)(Prop.forAll(gen) { case (k, rows) =>
      val df = spark.createDataFrame(rows).toDF("id", "w")
        .withColumn("g", lit("all"))
      val got = Curation
        .weightedSampleKPerGroup(df, Seq("g"), "id", "w", k, "p1")
        .collect().map(_.getLong(1)).toSet
      val again = Curation
        .weightedSampleKPerGroup(df.repartition(5), Seq("g"), "id", "w",
          k, "p1")
        .collect().map(_.getLong(1)).toSet
      // scalar-twin cross-check: the batch pick == driver A-ES fold
      val brute = rows.sortBy { case (id, w) =>
        (Curation.aesScore(id, w, "p1"), id)
      }.take(k).map(_._1).toSet
      got.size == math.min(k, rows.size) && got == again && got == brute
    })
  }

  test("property: Good-Turing mass identity Σ r·N_r == token count") {
    import graft.operators.LanguageModel
    val docGen = Gen.listOfN(8,
      Gen.listOf(Gen.oneOf("a", "b", "c", "d", "e", "f"))
        .map(_.mkString(" "))).map(_.filter(_.nonEmpty))
    check("gt-mass", 8)(Prop.forAll(docGen) { texts =>
      texts.isEmpty || {
        val df = spark.createDataFrame(
          texts.zipWithIndex.map { case (t, i) => (i.toLong, t) })
          .toDF("doc_id", "text")
        val nr = LanguageModel.countOfCounts(df, "text", Int.MaxValue)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        val tokens = texts.map(_.split(" ", -1).length).sum
        nr.map { case (r, n) => r * n }.sum == tokens
      }
    })
  }

  test("property: PSI total is non-negative over two-sided bins") {
    val binsGen = for {
      k <- Gen.choose(2, 8)
      cs <- Gen.listOfN(k, Gen.zip(Gen.choose(1L, 40L), Gen.choose(1L, 40L)))
    } yield cs.zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }
    check("psi", 8)(Prop.forAll(binsGen) { bins =>
      val terms = Stats.psiFromCounts(
        spark.createDataFrame(bins).toDF("bin", "n_a", "n_b"))
        .collect().map(r => r.getDouble(3))
      // Jeffreys divergence: every rounding-fuzzed term sums ≥ ~0
      terms.sum >= -1e-5
    })
  }

  test("property: AP equals the brute prefix-precision mean, in (0, 1]") {
    val gen = for {
      n <- Gen.choose(5, 60)
      rows <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, 12L),
        Gen.oneOf(true, false)))
      if rows.exists(_._2)
    } yield rows.zipWithIndex.map { case ((s, y), i) => (s, y, i.toLong) }
    check("ap-brute", 8)(Prop.forAll(gen) { rows =>
      val df = spark.createDataFrame(
          spark.sparkContext.parallelize(rows.map(r => (1L, r._1, r._2, r._3)), 3))
        .toDF("g", "s", "pos", "t")
      val got = Stats.averagePrecision(df, Seq("g"), col("pos"), col("s"),
        col("t")).collect()(0).getDouble(3)
      val ranked = rows.sortBy { case (s, _, t) => (-s, t) }
      def r9(x: Double) = math.rint(x * 1e9) / 1e9
      var cp = 0L
      val terms = ranked.zipWithIndex.flatMap { case ((_, y, _), i) =>
        if (y) { cp += 1; Some(BigDecimal.valueOf(r9(cp.toDouble / (i + 1)))) }
        else None
      }
      val want = math.rint(terms.sum.toDouble / terms.size * 1e6) / 1e6
      got == want && got > 0.0 && got <= 1.0
    })
  }

  test("property: nDCG in (0, 1]; 1 exactly when score order is ideal") {
    val gen = for {
      n <- Gen.choose(4, 50)
      rows <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, 3L), Gen.choose(0L, 9L)))
      if rows.exists(_._1 > 0)
    } yield rows.zipWithIndex.map { case ((r, s), i) => (r, s, i.toLong) }
    check("ndcg-range", 8)(Prop.forAll(gen) { rows =>
      val df = spark.createDataFrame(
          spark.sparkContext.parallelize(rows.map(r => (1L, r._1, r._2, r._3)), 3))
        .toDF("g", "r", "s", "t")
      val nd = Stats.ndcg(df, Seq("g"), col("r"), col("s"), col("t"))
        .collect()(0).getDouble(2)
      // ranking BY RELEVANCE (same ties) must score exactly 1
      val ideal = Stats.ndcg(df, Seq("g"), col("r"), col("r"), col("t"))
        .collect()(0).getDouble(2)
      nd > 0.0 && nd <= 1.0 && ideal == 1.0
    })
  }

  test("property: RBO in [0, 1]; reflexive = 1 - p^D; symmetric") {
    // permutations via Gen-drawn sort keys, NOT an unseeded global
    // Random — failures must replay from ScalaCheck's seed
    val permGen = Gen.listOfN(20, Gen.choose(0, 1 << 30))
      .map(pri => (1L to 20L).sortBy(i => (pri(i.toInt - 1), i)).toList)
    val gen = for {
      d <- Gen.choose(2, 8)
      permA <- permGen
      permB <- permGen
    } yield (d, permA, permB)
    check("rbo-props", 6)(Prop.forAll(gen) { case (d, permA, permB) =>
      def rank(perm: List[Long]) = spark.createDataFrame(
          spark.sparkContext.parallelize(
            perm.zipWithIndex.map { case (it, i) => (0L, it, i + 1L) }, 2))
        .toDF("g", "item", "rnk")
      def rbo(a: List[Long], b: List[Long]) =
        Stats.rbo(rank(a), rank(b), d).collect()(0).getDouble(1)
      val ab = rbo(permA, permB)
      val self = rbo(permA, permA)
      val w = Stats.rboWeights(d, 0.875)
      val selfWant = math.rint(0.125 * w.sum * 1e6) / 1e6
      ab >= 0.0 && ab <= 1.0 && ab == rbo(permB, permA) && self == selfWant
    })
  }

  test("property: WARC round-trip is lossless for arbitrary payloads") {
    // Content-Length framing must not care what the text contains:
    // CRLF runs, full header-block lookalikes, multi-byte and
    // supplementary-plane unicode (lengths are BYTES, not chars)
    val textGen: Gen[String] = Gen.listOf(Gen.oneOf(
      Gen.asciiPrintableChar.map(_.toString),
      Gen.oneOf("\r", "\n", "\r\n", "\u20ac", "\u6f22",
        "\ud83d\ude42", " "),
      Gen.const("WARC/1.0\r\nContent-Length: 3\r\n\r\nabc\r\n\r\n")))
      .map(_.mkString)
    val docsGen = for {
      n <- Gen.choose(1, 8)
      ds <- Gen.listOfN(n, Gen.zip(textGen,
        Gen.alphaNumStr.map(u => s"https://example.org/$u")))
    } yield ds
    check("warc-roundtrip", 8)(Prop.forAll(docsGen) { docs =>
      val rows = docs.zipWithIndex.map { case ((txt, uri), i) =>
        (i.toLong, uri, txt)
      }
      val tmp = java.nio.file.Files.createTempDirectory("graft_warc_prop")
      try {
        val df = spark.createDataFrame(rows).toDF("doc_id", "uri", "text")
          .repartition(2)
        graft.sources.WarcDocs.write(df, "doc_id", "uri", "text",
          tmp.toString)
        val back = graft.sources.WarcDocs.read(spark, tmp.toString)
          .collect()
          .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2))))
          .toMap
        back == rows.map(r => r._1 -> ((r._2, r._3))).toMap
      } finally {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
    })
  }
}
