package graft

import graft.operators.{AnnSearch, GraphAnnLocal}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class AnnSearchSpec extends SparkSpec {

  private lazy val emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet").persist()

  private def q = emb.filter(col("vec_id") < 30)
    .select(col("vec_id").as("a_id"), col("embedding").as("a_v"))
  private def b = emb
    .select(col("vec_id").as("b_id"), col("embedding").as("b_v"))

  test("bruteForceTopK == scala brute force") {
    val got = AnnSearch.bruteForceTopK(q, b, 5).collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], bb: Array[Float]): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dp += a(i).toDouble * bb(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += bb(i).toDouble * bb(i).toDouble
        i += 1
      }
      dp / math.sqrt(na * nb)
    }
    for (aId <- vecs.keys.filter(_ < 30)) {
      val exp = vecs.keys.filter(_ != aId).toSeq
        .map(bId => (bId, cos(vecs(aId), vecs(bId))))
        .sortBy { case (bId, c) => (-c, bId) }.take(5).map(_._1)
      exp.zipWithIndex.foreach { case (bId, i) =>
        assert(got((aId, i + 1)) == bId, s"query $aId rank ${i + 1}")
      }
    }
  }

  test("bruteForceTopKWhere: label-pruned == scala hard negatives") {
    val lq = emb.filter(col("vec_id") < 30)
      .select(col("vec_id").as("a_id"), col("embedding").as("a_v"),
        col("label").as("a_lab"))
    val lb = emb.select(col("vec_id").as("b_id"), col("embedding").as("b_v"),
      col("label").as("b_lab"))
    val got = AnnSearch
      .bruteForceTopKWhere(lq, lb, 5, col("a_lab") =!= col("b_lab"))
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    val rows = emb.collect()
      .map(r => r.getLong(0) -> (r.getSeq[Float](1).toArray, r.getInt(2)))
      .toMap
    def cos(a: Array[Float], bb: Array[Float]): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dp += a(i).toDouble * bb(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += bb(i).toDouble * bb(i).toDouble
        i += 1
      }
      dp / math.sqrt(na * nb)
    }
    for (aId <- rows.keys.filter(_ < 30)) {
      val (av, alab) = rows(aId)
      val exp = rows.toSeq.collect { case (bId, (bv, blab)) if blab != alab =>
        (bId, cos(av, bv))
      }.sortBy { case (bId, c) => (-c, bId) }.take(5).map(_._1)
      assert(exp.nonEmpty, "fixture must contain >1 label")
      exp.zipWithIndex.foreach { case (bId, i) =>
        assert(got((aId, i + 1)) == bId, s"query $aId rank ${i + 1}")
        // a hard negative never shares the query's label
        assert(rows(bId)._2 != alab, s"label leak at query $aId")
      }
    }
  }

  test("ivfTopK: high recall vs exact, far fewer candidates") {
    val exact = AnnSearch.bruteForceTopK(q, b, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = AnnSearch.ivfTopK(q, b, 5, nCentroids = 8, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    // bound recalibrated when seeding became portable farthest-first
    // (exact md5 pool + Gonzalez, stable across seeds): on this fixture
    // even CONVERGED Lloyd (12 iters, several seeds) lands 0.62–0.70 —
    // probing 3 of 8 cells genuinely misses ~1/3 of true neighbors.
    // Cross-engine exactness of the whole pipeline is pinned much
    // harder by q23's DuckDB hash oracle; this floor only guards
    // against a broken index (chance is 5/499 ≈ 0.01).
    assert(recall >= 0.6, s"IVF recall@5 = $recall (8 centroids, probe 3)")
  }

  test("prebuilt index round-trips through parquet == fresh build") {
    val fresh = AnnSearch.ivfTopK(q, b, 5, nCentroids = 8, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_idx")
    try {
      val dir = tmp.toString + "/cents"
      AnnSearch.centroids(b, nCentroids = 8).write.parquet(dir)
      val served = AnnSearch.ivfTopKPrebuilt(q, b, 5,
          spark.read.parquet(dir), nProbe = 3)
        .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
      // identical centroids (same seed, persisted losslessly as doubles)
      // must give identical candidate sets and identical ranked output
      assert(served == fresh)
      assertThrows[IllegalArgumentException] {
        AnnSearch.ivfTopKPrebuilt(q, b, 5,
          spark.read.parquet(dir).limit(0), nProbe = 3).collect()
      }
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("retractFromIvf: removed ids unreachable, untouched rankings " +
      "identical, vacated slots refill in order") {
    val spark2 = spark
    import spark2.implicits._
    val cents = AnnSearch.centroids(b, nCentroids = 8)
    val before = AnnSearch.ivfTopKPrebuilt(q, b, 5, cents, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1))
      .toMap
    val rmIds = Set(3L, 17L, 42L, 99L)
    val after = AnnSearch.ivfTopKPrebuilt(q,
        AnnSearch.retractFromIvf(b, rmIds.toSeq.toDF("id"), "id"),
        5, cents, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1))
      .toMap
    // 1. retracted vectors never serve
    assert(after.values.forall(v => !rmIds(v)))
    // 2. a query whose pre-retraction top-5 had no removed vector is
    //    byte-identical; one that did keeps its surviving prefix in
    //    order (the vacated slots refill from below)
    val byQuery = before.groupBy(_._1._1)
    byQuery.foreach { case (qid, rows) =>
      val pre = rows.toSeq.sortBy(_._1._2).map(_._2)
      val post = (1 to 5).flatMap(r => after.get((qid, r)))
      if (pre.forall(v => !rmIds(v)))
        assert(post == pre, s"query $qid changed without cause")
      else
        assert(post.take(pre.count(v => !rmIds(v)))
            .zip(pre.filter(v => !rmIds(v))).forall(p => p._1 == p._2),
          s"query $qid: surviving prefix reordered")
    }
    // 3. at least one query actually exercised the refill path
    assert(byQuery.exists(_._2.values.exists(rmIds)),
      "fixture never hit a retracted neighbor — strengthen rmIds")
  }

  test("addToIvf: serving old ∪ ingested equals the from-scratch build " +
      "table against the same centroids") {
    // centroids trained on the initial corpus only (the nightly build);
    // assignment is a pure function of them, so append == rebuild
    val init = b.filter(col("b_id") % 7 =!= 0)
    val cents = AnnSearch.centroids(init, nCentroids = 8)
    val grown = AnnSearch.addToIvf(init,
      emb.filter(col("vec_id") % 7 === 0), "vec_id", "embedding")
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    val viaAppend = rows(AnnSearch.ivfTopKPrebuilt(q, grown, 5, cents,
      nProbe = 3))
    val fromScratch = rows(AnnSearch.ivfTopKPrebuilt(q, b, 5, cents,
      nProbe = 3))
    assert(viaAppend == fromScratch && viaAppend.nonEmpty)
    // the ingested generation actually serves (not a vacuous append)
    assert(viaAppend.values.exists(_ % 7 == 0),
      "no ingested vector reached a top-k slot — weaken the split")
  }

  test("PQ code-table CRUD: append == from-scratch encode, retracted " +
      "codes never serve, survivors' rankings keep their prefix") {
    val spark2 = spark
    import spark2.implicits._
    val cb = AnnSearch.pqCodebook(b, m = 8, nCentroids = 8)
    def codeRows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    // INSERT: encoding the batch against the FIXED codebook and
    // appending equals encoding the whole corpus from scratch
    val init = emb.filter(col("vec_id") % 7 =!= 0)
    val grown = AnnSearch.addToPq(
      AnnSearch.pqEncode(init, "vec_id", "embedding", cb),
      emb.filter(col("vec_id") % 7 === 0), "vec_id", "embedding", cb)
    assert(codeRows(grown) ==
      codeRows(AnnSearch.pqEncode(emb, "vec_id", "embedding", cb)))
    // DELETE: tombstoned ids are unreachable; a query untouched by the
    // retraction keeps its ranking byte-identical
    val all = AnnSearch.pqEncode(emb, "vec_id", "embedding", cb)
    val rmIds = Set(3L, 17L, 42L, 99L)
    def served(codes: org.apache.spark.sql.DataFrame) =
      AnnSearch.pqTopK(q, codes, cb, 5).collect()
        .map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    val before = served(all)
    val after = served(AnnSearch.retractFromPq(all,
      rmIds.toSeq.toDF("id"), "id"))
    assert(after.values.forall(v => !rmIds(v)))
    before.groupBy(_._1._1).foreach { case (qid, rows) =>
      val pre = rows.toSeq.sortBy(_._1._2).map(_._2)
      if (pre.forall(v => !rmIds(v)))
        assert((1 to 5).flatMap(r => after.get((qid, r))) == pre,
          s"query $qid changed without cause")
    }
    assert(before.values.exists(rmIds),
      "fixture never hit a retracted neighbor — strengthen rmIds")
  }

  test("knnBroadcast kernel == shuffle-aggregate knn (exact, same ties)") {
    import graft.operators.KnnJoin
    val agg = KnnJoin.knn(q, b, 7).collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    val bcast = KnnJoin.knnBroadcast(q, b, 7).collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    assert(bcast == agg)
    // the auto router picks the broadcast kernel at this size
    val auto = KnnJoin.knnAuto(q, b, 7).collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    assert(auto == agg)
  }

  test("knnAuto on an empty build side returns no rows (no NPE)") {
    val spark2 = spark
    import spark2.implicits._
    val q = Seq((1L, Seq(1.0f, 2.0f))).toDF("a_id", "a_v")
    val empty = Seq.empty[(Long, Seq[Float])].toDF("b_id", "b_v")
    assert(graft.operators.KnnJoin.knnAuto(q, empty, 3).count() == 0L)
  }

  test("centroids: a ragged build vector fails naming both lengths") {
    // id 40 is never the pool's first (smallest-id) seed vector, so the
    // dimension is 3 and the ragged one is 40, shorter or longer
    val spark2 = spark
    import spark2.implicits._
    for (bad <- Seq(2, 4)) {
      val build = (1L to 40L)
        .map(i => (i, Seq.fill(if (i == 40L) bad else 3)(i.toFloat)))
        .toDF("b_id", "b_v")
      val ex = intercept[Exception](
        AnnSearch.centroids(build, nCentroids = 2).collect())
      val msgs = Iterator.iterate[Throwable](ex)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
      assert(msgs.contains(s"length $bad differs from the first seed " +
        "vector's length 3"), msgs)
    }
  }

  test("ivfTopK with full probing == exact") {
    val exact = AnnSearch.bruteForceTopK(q, b, 3).collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    val full = AnnSearch.ivfTopK(q, b, 3, nCentroids = 4, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    assert(full == exact)
  }

  /** Exact L2 top-k by Scala brute force — PQ quantizes L2, so its
    * recall target is the L2 ranking, not the cosine one. */
  private def exactL2TopK(k: Int): Map[Long, Seq[Long]] = {
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def d2(a: Array[Float], bb: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) {
        val d = a(i).toDouble - bb(i).toDouble; s += d * d; i += 1
      }
      s
    }
    vecs.keys.filter(_ < 30).map { aId =>
      aId -> vecs.keys.filter(_ != aId).toSeq
        .map(bId => (bId, d2(vecs(aId), vecs(bId))))
        .sortBy { case (bId, d) => (d, bId) }.take(k).map(_._1)
    }.toMap
  }

  test("PQ: codes well-formed/deterministic; rerank repairs ADC recall") {
    val cb = AnnSearch.pqCodebook(b, m = 16, nCentroids = 16)
    val codes = AnnSearch.pqEncode(
      emb, "vec_id", "embedding", cb).persist()
    val rows = codes.collect()
    assert(rows.length == emb.count())
    rows.foreach { r =>
      val cs = r.getSeq[Int](1)
      assert(cs.length == 16 && cs.forall(c => c >= 1 && c <= 16), s"$cs")
    }
    // same codebook → identical codes (pure projection, no randomness)
    val again = AnnSearch.pqEncode(emb, "vec_id", "embedding", cb).collect()
    assert(rows.map(_.toString).sorted.toSeq ==
      again.map(_.toString).sorted.toSeq)

    val exact = exactL2TopK(5)
    def recallOf(pairs: Set[(Long, Long)]): Double =
      exact.toSeq.map { case (aId, nbrs) =>
        nbrs.count(n => pairs.contains((aId, n)))
      }.sum.toDouble / (exact.size * 5)
    // plain ADC: coarse but far above chance (5/499 ≈ 0.01)
    val adc5 = AnnSearch.pqTopK(q, codes, cb, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val adcRecall = recallOf(adc5)
    assert(adcRecall >= 0.2, s"PQ ADC recall@5 = $adcRecall")
    // production shape: ADC shortlist 50 + exact L2 re-rank to top-5
    val rr = AnnSearch.pqTopKRerank(q, b, codes, cb, 5, shortlist = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rrRecall = recallOf(rr)
    assert(rrRecall >= 0.8,
      s"PQ rerank recall@5 = $rrRecall (ADC alone: $adcRecall)")
    assert(rrRecall > adcRecall)
    codes.unpersist()
  }

  test("IVF-PQ composed: full-probe serve == exact; production recall; " +
      "CRUD duals bit-equal") {
    val (cents, cb, codes) =
      AnnSearch.ivfPqIndex(b, nCentroids = 8, m = 16, nCodes = 16)
    val codesP = codes.persist()
    val rows = codesP.collect()
    assert(rows.length == emb.count())
    rows.foreach { r =>
      assert(r.getInt(1) >= 1 && r.getInt(1) <= 8, s"bad cell: $r")
      val cs = r.getSeq[Int](2)
      assert(cs.length == 16 && cs.forall(c => c >= 1 && c <= 16), s"$cs")
    }
    val exact = exactL2TopK(5)
    // probing EVERY cell with an uncut shortlist degenerates to exact
    // search: candidates = all, re-rank = exact L2 — the composed
    // pipeline's end-to-end correctness gate (the "full probing" twin
    // of the plain-IVF test)
    val full = AnnSearch.ivfPqTopK(q, b, codesP, cents, cb, 5,
        nProbe = 8, shortlist = 1000)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(1)))
      .groupBy(_._1)
      .map { case (a, ps) => a -> ps.sortBy(_._2).map(_._3).toSeq }
    assert(full == exact)
    // production geometry: 3 of 8 cells + shortlist 50 → useful recall
    val prod = AnnSearch.ivfPqTopK(q, b, codesP, cents, cb, 5,
        nProbe = 3, shortlist = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.toSeq.map { case (aId, nbrs) =>
      nbrs.count(n => prod.contains((aId, n)))
    }.sum.toDouble / (exact.size * 5)
    assert(recall >= 0.5, s"IVF-PQ recall@5 = $recall")
    // CRUD duals: append == from-scratch encode (fixed artifacts),
    // retraction drops exactly the tombstoned rows
    val newBatch = emb.filter(col("vec_id") % 5 === 0)
    val grown = AnnSearch.addToIvfPq(
      codesP.filter(col("id") % 5 =!= 0), newBatch,
      "vec_id", "embedding", cents, cb)
    assert(grown.collect().map(_.toString).sorted.toSeq ==
      rows.map(_.toString).sorted.toSeq)
    val retracted = AnnSearch.retractFromIvfPq(codesP,
      newBatch.select("vec_id"), "vec_id")
    assert(retracted.collect().map(_.toString).sorted.toSeq ==
      rows.filter(_.getLong(0) % 5 != 0).map(_.toString).sorted.toSeq)
    codesP.unpersist()
  }

  test("PQ hand codebook: encode + ADC are positionally correct") {
    val spark2 = spark
    import spark2.implicits._
    val cb = Seq(
      (0, 1, Seq(0.0, 0.0)), (0, 2, Seq(10.0, 10.0)),
      (1, 1, Seq(0.0, 0.0)), (1, 2, Seq(10.0, 10.0))
    ).toDF("sub", "c_id", "c_v")
    val vecs = Seq(
      (1L, Seq(0.0f, 0.0f, 10.0f, 10.0f)),
      (2L, Seq(10.0f, 10.0f, 0.0f, 0.0f)),
      (3L, Seq(9.0f, 9.0f, 9.0f, 9.0f))
    ).toDF("vec_id", "embedding")
    val codes = AnnSearch.pqEncode(vecs, "vec_id", "embedding", cb)
    val got = codes.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(got(1L) == Seq(1, 2) && got(2L) == Seq(2, 1) &&
      got(3L) == Seq(2, 2), got)
    val qq = Seq((9L, Seq(0.0f, 0.0f, 0.0f, 0.0f))).toDF("a_id", "a_v")
    val top = AnnSearch.pqTopK(qq, codes, cb, 3).collect()
      .map(r => (r.getInt(2), r.getLong(1))).sorted
    // approx d2: v1 -> 0+200; v2 -> 200+0 (tie with v1, id breaks);
    // v3 -> 200+200
    assert(top.toSeq == Seq((1, 1L), (2, 2L), (3, 3L)), top.toSeq)
  }

  test("PQ codebook round-trips through parquet == fresh (like IVF)") {
    val cb = AnnSearch.pqCodebook(b, m = 4, nCentroids = 8)
    val fresh = AnnSearch.pqTopK(q,
      AnnSearch.pqEncode(emb, "vec_id", "embedding", cb), cb, 3)
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    val tmp = java.nio.file.Files.createTempDirectory("graft_pq_idx")
    try {
      val dir = tmp.toString + "/cb"
      cb.write.parquet(dir)
      val stored = spark.read.parquet(dir)
      val served = AnnSearch.pqTopK(q,
        AnnSearch.pqEncode(emb, "vec_id", "embedding", stored), stored, 3)
        .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
      assert(served == fresh)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("jlProject == scala quantized sign dots; distances roughly kept") {
    val planes = AnnSearch.srpPlanes(1, 16, 64)(0)
    val got = AnnSearch.jlProject(emb, "vec_id", "embedding", planes)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2))
      .toMap
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    assert(got.size == vecs.size * 16)
    // exact reimplementation: round(v*1e6) longs, ±1 sums, /4e6
    for ((id, v) <- vecs; c <- 0 until 16) {
      val s = v.indices.map(i =>
        planes(c)(i).toLong * math.round(v(i).toDouble * 1e6)).sum
      assert(got((id, c)) == s.toDouble / 4e6, s"vec $id comp $c")
    }
    // JL sanity: projected L2 correlates with original L2 over a sample
    val ids = vecs.keys.toSeq.sorted.take(20)
    def d2(a: Array[Double], b: Array[Double]) =
      a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    val pairs = for (i <- ids.indices; j <- (i + 1) until ids.size)
      yield (ids(i), ids(j))
    // the JL guarantee is RATIO concentration (E[proj d²] = orig d²,
    // variance ~1/k), not rank correlation — on a corpus whose pairwise
    // distances all sit in a narrow band, correlation is meaningless
    val ratios = pairs.map { case (a, b) =>
      d2((0 until 16).map(c => got((a, c))).toArray,
        (0 until 16).map(c => got((b, c))).toArray) /
        d2(vecs(a).map(_.toDouble), vecs(b).map(_.toDouble))
    }
    val mean = ratios.sum / ratios.size
    assert(mean > 0.7 && mean < 1.3, s"distance scale drifted: $mean")
    val within2x = ratios.count(r => r > 0.5 && r < 2.0).toDouble
    assert(within2x / ratios.size > 0.8,
      s"only ${within2x / ratios.size} of pairs within 2x distortion")
    intercept[IllegalArgumentException] {
      AnnSearch.jlProject(emb, "vec_id", "embedding",
        IndexedSeq(Array(0.5, 1.0)))
    }
    // planes built for the wrong embedding width must FAIL, not
    // silently project onto a prefix through the pos equi-join
    intercept[IllegalArgumentException] {
      AnnSearch.jlProject(emb, "vec_id", "embedding",
        AnnSearch.srpPlanes(1, 8, 32)(0))
    }
    intercept[IllegalArgumentException] {
      AnnSearch.lshTopK(q, b, 5, AnnSearch.srpPlanes(2, 4, 16))
    }
    // query-side-only mismatch must fail too (the build side is valid)
    val q32 = emb.filter(col("vec_id") < 30)
      .select(col("vec_id").as("a_id"),
        slice(col("embedding"), 1, 32).as("a_v"))
    intercept[IllegalArgumentException] {
      AnnSearch.lshTopK(q32, b, 5, AnnSearch.srpPlanes(2, 4, 64))
    }
    // a null-vector row must not poison the probe (size(NULL) = -1)
    val withNull = emb.select(col("vec_id").as("a_id"),
      when(col("vec_id") === 0, lit(null)).otherwise(col("embedding"))
        .as("a_v"))
    AnnSearch.jlProject(withNull, "a_id", "a_v",
      AnnSearch.srpPlanes(1, 4, 64)(0))
  }

  test("srpPlanes: deterministic, right shape, ±1 components") {
    val p1 = AnnSearch.srpPlanes(3, 6, 64)
    val p2 = AnnSearch.srpPlanes(3, 6, 64)
    assert(p1.length == 3 && p1.forall(_.length == 6) &&
      p1.flatten.forall(_.length == 64))
    assert(p1.flatten.map(_.toSeq) == p2.flatten.map(_.toSeq))
    assert(p1.flatten.flatten.forall(v => v == 1.0 || v == -1.0))
    // a different seed actually changes the planes
    assert(p1.flatten.map(_.toSeq) !=
      AnnSearch.srpPlanes(3, 6, 64, seed = 7L).flatten.map(_.toSeq))
  }

  test("lshTopK == brute-force ranking restricted to bucket mates") {
    val planes = AnnSearch.srpPlanes(3, 6, 64)
    val got = AnnSearch.lshTopK(q, b, 5, planes).collect()
      .groupBy(_.getLong(0))
      .map { case (a, rs) =>
        a -> rs.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq }
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    // the spec's independent signature: same fold order as DotProduct
    def sig(v: Array[Float], tbl: Int): Long =
      (0 until 6).map { bit =>
        var acc = 0.0; var i = 0
        while (i < v.length) { acc += v(i).toDouble * planes(tbl)(bit)(i); i += 1 }
        if (acc >= 0) 1L << bit else 0L
      }.sum
    def cos(a: Array[Float], bb: Array[Float]): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dp += a(i).toDouble * bb(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += bb(i).toDouble * bb(i).toDouble
        i += 1
      }
      dp / math.sqrt(na * nb)
    }
    val sigs = vecs.map { case (id, v) =>
      id -> (0 until 3).map(sig(v, _)) }
    for (aId <- vecs.keys.filter(_ < 30)) {
      val cands = vecs.keys.filter(bId => bId != aId &&
        (0 until 3).exists(tb => sigs(aId)(tb) == sigs(bId)(tb))).toSeq
      val exp = cands.map(bId => (bId, cos(vecs(aId), vecs(bId))))
        .sortBy { case (bId, c) => (-c, bId) }.take(5).map(_._1)
      assert(got.getOrElse(aId, Seq.empty) == exp, s"query $aId")
    }
  }

  test("lshTopK: useful recall vs exact at a fraction of the pair scan") {
    // 8 tables × 4 bits — q140's production shape on this near-isotropic
    // corpus (recall needs tables more than bits here)
    val exact = AnnSearch.bruteForceTopK(q, b, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = AnnSearch
      .lshTopK(q, b, 5, AnnSearch.srpPlanes(8, 4, 64)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    assert(recall >= 0.6, s"SRP-LSH recall@5 = $recall (8 tables, 4 bits)")
  }

  test("NN-Descent knnGraph: refinement rounds converge toward the " +
      "exact k-NN graph, monotonically on the fixture") {
    // exact 5-NN graph by cosine over ALL ids (not just the q probes)
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], bb: Array[Float]): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dp += a(i).toDouble * bb(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += bb(i).toDouble * bb(i).toDouble
        i += 1
      }
      dp / math.sqrt(na * nb)
    }
    val exact = vecs.keys.map { aId =>
      aId -> vecs.keys.filter(_ != aId).toSeq
        .map(bId => (bId, cos(vecs(aId), vecs(bId))))
        .sortBy { case (bId, c) => (-c, bId) }.take(5).map(_._1).toSet
    }.toMap
    def recallOf(iters: Int, buildK: Int): Double = {
      val got = AnnSearch.knnGraph(b, 5, iters, buildK = buildK)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (a, ps) => a -> ps.map(_._2).toSet }
      exact.toSeq.map { case (a, nb) =>
        nb.count(got.getOrElse(a, Set.empty).contains)
      }.sum.toDouble / (exact.size * 5)
    }
    // narrow graph (buildK = k): monotone but slow on this
    // near-isotropic corpus — the hardest case for
    // neighbor-of-neighbor transitivity (the SRP-LSH comment's point)
    val n0 = recallOf(0, 5)
    val n2 = recallOf(2, 5)
    assert(n2 > n0, s"narrow graph did not improve: $n0 -> $n2")
    // the production shape: refine at buildK=20, emit top-5 — the
    // paper's K-sensitivity lever (q252's geometry)
    val w1 = recallOf(1, 20)
    val w2 = recallOf(2, 20)
    info(s"NN-Descent recall@5: narrow $n0 -> $n2; wide(20) $w1 -> $w2")
    assert(w2 > w1, s"wide round 2 did not improve: $w1 -> $w2")
    assert(w2 > n2, s"buildK=20 not better than narrow: $w2 vs $n2")
    assert(w2 >= 0.6, s"2-round buildK=20 recall too low: $w2")
  }

  test("knnGraphIvf: nAssign == nCells covers every pair — the sharded " +
      "build equals the exact k-NN graph (merge + dedup machinery)") {
    // with every vector in ALL cells, per-cell top-k == global top-k in
    // each of the 4 cells; the cross-cell dedup + merge must collapse
    // the 4 bit-identical copies into the exact graph
    val got = AnnSearch.knnGraphIvf(b, k = 5, nCells = 4, nAssign = 4)
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], bb: Array[Float]): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dp += a(i).toDouble * bb(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += bb(i).toDouble * bb(i).toDouble
        i += 1
      }
      dp / math.sqrt(na * nb)
    }
    for (aId <- vecs.keys) {
      val exp = vecs.keys.filter(_ != aId).toSeq
        .map(bId => (bId, cos(vecs(aId), vecs(bId))))
        .sortBy { case (bId, c) => (-c, bId) }.take(5).map(_._1)
      exp.zipWithIndex.foreach { case (bId, i) =>
        assert(got((aId, i + 1)) == bId, s"vertex $aId rank ${i + 1}")
      }
    }
  }

  test("knnGraphIvf: production shape (top-2 of 16 cells) — high recall " +
      "on a clustered corpus, bit-identical under repartition") {
    val bd = Workloads.synthEmbeddings(spark, 4000, 16, 16)
      .select(col("vec_id").as("b_id"), col("embedding").as("b_v"))
      .persist()
    def edgeSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val g1 = edgeSet(AnnSearch.knnGraphIvf(bd.repartition(13), 10,
      nCells = 16, nAssign = 2))
    val g2 = edgeSet(AnnSearch.knnGraphIvf(bd.repartition(3), 10,
      nCells = 16, nAssign = 2))
    assert(g1 == g2, "sharded build is partitioning-dependent")
    // recall vs exact 10-NN on sampled queries: on a blob corpus the
    // true neighbors share a top-2 cell — this is the corpus family
    // where NN-Descent at host-feasible width measured 0.10 at 1M
    val qd = bd.filter(col("b_id") % 20 === 0)
      .select(col("b_id").as("a_id"), col("b_v").as("a_v"))
    val truth = AnnSearch.bruteForceTopK(qd, bd, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotPairs = g1.collect { case (a, nb, _) if a % 20 == 0 => (a, nb) }
    val recall = truth.count(gotPairs.contains).toDouble / truth.size
    info(s"knnGraphIvf recall@10 on 4k/16-blob corpus: $recall")
    assert(recall >= 0.9, s"sharded-build recall too low: $recall")
    // the NN-Descent refinement round: monotone (the current graph is
    // always in the candidate set) and partitioning-invariant like the
    // sharded base
    val r1 = edgeSet(AnnSearch.knnGraphIvf(bd.repartition(13), 10,
      nCells = 16, nAssign = 2, refineIters = 1))
    val r2 = edgeSet(AnnSearch.knnGraphIvf(bd.repartition(3), 10,
      nCells = 16, nAssign = 2, refineIters = 1))
    assert(r1 == r2, "refined sharded build is partitioning-dependent")
    val refinedPairs = r1.collect {
      case (a, nb, _) if a % 20 == 0 => (a, nb)
    }
    val refinedRecall =
      truth.count(refinedPairs.contains).toDouble / truth.size
    info(s"knnGraphIvf+refine recall@10: $refinedRecall")
    assert(refinedRecall >= recall,
      s"refinement round LOST recall: $recall -> $refinedRecall")
    bd.unpersist(blocking = false)
  }

  /** (a_id → neighbors by rank) of an (a_id, nbr_id, rnk) graph. */
  private def lists(df: DataFrame): Map[Long, Seq[Long]] = df
    .select(col("a_id"), col("nbr_id"), col("rnk")).collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    .groupBy(_._1).map { case (a, rs) => a -> rs.sortBy(_._3).map(_._2) }

  test("knnGraphIvf refine == plain-Scala NN-Descent rounds started " +
      "from the sharded graph, at 1, 3 and 7 vertex blocks") {
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val norms = vecs.map { case (v, a) => v -> GraphAnnLocal.dot(a, a) }
    // one round: symmetric closure bn, candidates = own list ∪ 2-hop
    // over bn minus self, exact DotProduct-order cosine, top-k by
    // (cos desc, id)
    def round(g: Map[Long, Seq[Long]], k: Int): Map[Long, Seq[Long]] = {
      val bn = g.toSeq.flatMap { case (a, ws) => ws.flatMap(w =>
          Seq(a -> w, w -> a)) }
        .groupBy(_._1).map { case (a, ps) => a -> ps.map(_._2).distinct }
      (bn.keySet ++ g.keySet).toSeq.map { v =>
        val cs = (g.getOrElse(v, Nil) ++
          bn.getOrElse(v, Nil).flatMap(bn)).distinct.filter(_ != v)
        v -> cs.map(w => (-(GraphAnnLocal.dot(vecs(v), vecs(w)) /
            math.sqrt(norms(v) * norms(w))) + 0.0, w))
          .sortBy(identity).take(k).map(_._2)
      }.filter(_._2.nonEmpty).toMap
    }
    // ~4 vectors per cell, two cells per vector: some vectors' cells
    // hold ≤ k other members between them
    val k = 8
    def ivf(refine: Int) = lists(AnnSearch.knnGraphIvf(b, k,
      nCells = 128, refineIters = refine))
    val g0 = ivf(0)
    assert(vecs.keys.exists(v => g0.getOrElse(v, Nil).size < k),
      "every vector's cells hold more than k members: the short-list " +
        "case is untested")
    val (r1, r2) = (round(g0, k), round(round(g0, k), k))
    assert(r1 != g0 && r2 != r1, "the rounds change nothing here")
    for (blocks <- Seq(1, 3, 7)) withShufflePartitions(blocks) {
      assert(ivf(1) == r1, s"refineIters = 1 at $blocks blocks")
      assert(ivf(2) == r2, s"refineIters = 2 at $blocks blocks")
    }
  }

  test("knnGraphIvf refine: one job per extra round, only the output's " +
      "checkpoint stays cached") {
    b.count() // warm the scan outside the counted windows
    def ivf(refine: Int) =
      AnnSearch.knnGraphIvf(b, 5, nCells = 16, refineIters = refine)
    val left = persistedBy(ivf(1))
    assert(left.size == 1 && left.head.isCheckpointed, left)
    val rounds = Seq(1, 2).map(r =>
      jobsByDesc(ivf(r)).getOrElse("knn-graph: round", 0))
    assert(rounds(1) == rounds.head + 1, rounds)
  }

  test("knnGraphIvf refine: a duplicate b_id, k or fewer vectors and a " +
      "start-graph id absent from build each fail with their message") {
    import spark.implicits._
    def failsWith(msg: String)(f: => Any): Unit = {
      val e = intercept[Exception](f)
      assert(Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).exists(c =>
          c.isInstanceOf[IllegalArgumentException] &&
            c.getMessage.contains(msg)), e)
    }
    failsWith("unique ids, got duplicate 17") {
      AnnSearch.knnGraphIvf(b.unionAll(b.filter(col("b_id") === 17L)), 5,
        nCells = 16, refineIters = 1)
    }
    val five = b.orderBy("b_id").limit(5)
    failsWith("knnGraphIvf with refineIters=1 needs more than k=5 " +
        "vectors, got 5") {
      AnnSearch.knnGraphIvf(five, 5, nCells = 2, refineIters = 1)
    }
    assert(AnnSearch.knnGraphIvf(five, 5, nCells = 2).count() == 20)
    for (edge <- Seq((3L, 100000L), (100000L, 3L)))
      failsWith("start graph names id 100000, which is not in build") {
        GraphAnnLocal.knnGraphRounds(b, 5, 1, 42L, 5,
          start = Some(Seq(edge).toDF("a_id", "nbr")))
      }
  }

  test("graphTopK beam search over the NN-Descent graph: walk rounds " +
      "converge; near-exact at q253 geometry") {
    val g = AnnSearch.knnGraph(b, k = 20, iters = 2, buildK = 20)
      .persist()
    val exact = exactCosTopK(5)
    def recallOf(rounds: Int): Double = {
      val got = AnnSearch.graphTopK(q, b, g, 5, ef = 10, rounds,
          nEntries = 10).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (a, ps) => a -> ps.map(_._2).toSet }
      exact.toSeq.map { case (a, nb) =>
        nb.toSet.count(got.getOrElse(a, Set.empty).contains)
      }.sum.toDouble / (exact.size * 5)
    }
    val r0 = recallOf(0) // entry points only — near chance
    val r2 = recallOf(2)
    info(s"graphTopK recall@5: rounds0=$r0 rounds2=$r2")
    assert(r2 > r0, s"walking the graph did not improve: $r0 -> $r2")
    // ~0.79 measured on this near-isotropic corpus at ef=10 — the beam
    // trades exactness for touching ~ef·(1+rounds·K) of |B| per query
    assert(r2 >= 0.7, s"2-round beam recall too low: $r2")
    g.unpersist()
  }

  test("knnGraph CRUD: insert integrates the batch bounded and " +
      "reachable; retraction leaves no edge touching removed ids") {
    val init = b.filter(col("b_id") % 5 =!= 0)
    val batch = emb.filter(col("vec_id") % 5 === 0)
    val g0 = AnnSearch.knnGraph(init, 10, 2, buildK = 10)
    val g1 = AnnSearch.addToKnnGraph(g0, init, batch, "vec_id",
      "embedding", k = 10, ef = 10, rounds = 2, nEntries = 8)
    val rows = g1.collect()
    assert(rows.groupBy(_.getLong(0)).values.map(_.length).max <= 10)
    val newIds = batch.select("vec_id").collect()
      .map(_.getLong(0)).toSet
    // every new vertex joined the graph with out-edges...
    assert(newIds.subsetOf(rows.map(_.getLong(0)).toSet))
    // ...and the reverse update made at least some of them REACHABLE
    // from old vertices (a pure out-edge insert would leave them
    // invisible to future walks)
    assert(rows.exists(r => newIds.contains(r.getLong(1)) &&
      !newIds.contains(r.getLong(0))))
    val retracted = AnnSearch.retractFromKnnGraph(g1,
      batch.select("vec_id"), "vec_id").collect()
    assert(retracted.nonEmpty)
    assert(retracted.forall(r => !newIds.contains(r.getLong(0)) &&
      !newIds.contains(r.getLong(1))))
  }

  private def exactCosTopK(k: Int): Map[Long, Seq[Long]] = {
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], bb: Array[Float]): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dp += a(i).toDouble * bb(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += bb(i).toDouble * bb(i).toDouble
        i += 1
      }
      dp / math.sqrt(na * nb)
    }
    vecs.keys.filter(_ < 30).map { aId =>
      aId -> vecs.keys.filter(_ != aId).toSeq
        .map(bId => (bId, cos(vecs(aId), vecs(bId))))
        .sortBy { case (bId, c) => (-c, bId) }.take(k).map(_._1)
    }.toMap
  }

  test("multi-probe LSH: nProbes=1 == lshTopK; recall never drops and " +
      "improves on the fixture; half the tables ~ full-table recall") {
    val planes4 = AnnSearch.srpPlanes(4, 4, 64)
    val planes8 = AnnSearch.srpPlanes(8, 4, 64)
    val exact = AnnSearch.bruteForceTopK(q, b, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(p: Set[(Long, Long)]) =
      exact.count(p.contains).toDouble / exact.size
    // degenerate case: one probe IS single-probe, row for row
    assert(pairs(AnnSearch.lshTopKMultiProbe(q, b, 5, planes4, 1)) ==
      pairs(AnnSearch.lshTopK(q, b, 5, planes4)))
    val sp4 = recallOf(pairs(AnnSearch.lshTopK(q, b, 5, planes4)))
    val mp4 = recallOf(pairs(AnnSearch.lshTopKMultiProbe(q, b, 5,
      planes4, 3)))
    val sp8 = recallOf(pairs(AnnSearch.lshTopK(q, b, 5, planes8)))
    // candidate superset ⇒ recall can never drop; on this fixture the
    // two extra probes visibly lift it
    assert(mp4 >= sp4, s"mp4=$mp4 sp4=$sp4")
    assert(mp4 > sp4, s"probes added no recall on the fixture: $mp4")
    // the probes-for-tables trade: 4 tables × 3 probes buys back most
    // of the 8-table recall with HALF the stored index
    assert(mp4 >= sp8 - 0.1, s"mp4=$mp4 sp8=$sp8")
  }

  test("mmrRerank == scala greedy MMR; diversity changes the pick") {
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], bb: Array[Float]): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dp += a(i).toDouble * bb(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += bb(i).toDouble * bb(i).toDouble
        i += 1
      }
      dp / math.sqrt(na * nb)
    }
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val (m, k) = (6, 3)
    def brute(qid: Long): Seq[Long] = {
      val qv = vecs(qid)
      val short = vecs.toSeq.filter(_._1 != qid)
        .map { case (id, v) => (id, cos(qv, v)) }
        .sortBy { case (id, c) => (-c, id) }.take(m)
        .map { case (id, c) => (id, r6(c)) }
      val sel = scala.collection.mutable.ArrayBuffer(
        short.minBy { case (id, rel) => (-rel, id) }._1)
      while (sel.size < k) {
        val rem = short.filterNot(c => sel.contains(c._1))
        val next = rem.map { case (id, rel) =>
          val maxsim = sel.map(s => r6(cos(vecs(id), vecs(s)))).max
          (id, 0.5 * rel - 0.5 * maxsim)
        }.minBy { case (id, sc) => (-sc, id) }._1
        sel += next
      }
      sel.toSeq
    }
    val got = AnnSearch.mmrRerank(q, b, m, k).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val qids = got.keys.map(_._1).toSeq.distinct
    assert(qids.nonEmpty)
    qids.foreach { qid =>
      val want = brute(qid)
      (1 to k).foreach { step =>
        assert(got((qid, step)) == want(step - 1),
          s"q=$qid step=$step: ${got((qid, step))} vs ${want(step - 1)}")
      }
    }
    // diversity is load-bearing somewhere: at least one step-2/3 pick
    // differs from the pure top-k ranking
    val pureTopK = AnnSearch.bruteForceTopK(q, b, k).collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    assert(qids.exists(qid =>
      (2 to k).exists(st => got((qid, st)) != pureTopK((qid, st)))),
      "MMR never diverged from plain top-k — diversity term inert?")
  }

  test("knnGraphRecall: measured recall@10 vs brute force on the " +
      "synthetic corpus — the bench knob table's unit-scale row") {
    // 20k-vector twin of the knn_graph_synth1m bench diagnostic:
    // deterministic end to end (hash init, id ties, seed-fixed
    // corpus), so the recall is a standing golden, not a flaky sample
    // MEASURED sweep lesson (this spec found it): on a 64-blob
    // clustered corpus the k-NN graph disconnects into per-blob
    // components, so recall tracks the ENTRY points' blob coverage —
    // walk rounds saturate by ~4 (ne=10 → 0.07; ne=64 → 0.49;
    // ne=256 → 0.77 at ef=10, 0.91 at ef=20). Entries are the
    // BSP-friendly stand-in for HNSW's long-range layers.
    val (buildSec, serveSec, recall, _) = graft.Workloads.knnGraphRecall(
      spark, 20000L, buildK = 10, iters = 2, ef = 20, rounds = 4,
      k = 10, nQueries = 100, nEntries = 256)
    assert(buildSec > 0 && serveSec > 0)
    assert(recall >= 0.85,
      s"graph-ANN recall@10 collapsed: $recall (measured 0.907 at " +
        "buildK=10, iters=2, ef=20, rounds=4, 256 entries)")
    // the cautionary row: the low-entry geometry CANNOT reach blobs
    // without an entry — recall collapses by construction, and a
    // future change that silently fixes or worsens this should move
    // this number loudly
    val (_, _, recallLow, _) = graft.Workloads.knnGraphRecall(
      spark, 20000L, buildK = 10, iters = 2, ef = 10, rounds = 2,
      k = 10, nQueries = 100, nEntries = 10)
    assert(recallLow < 0.3,
      s"low-entry recall unexpectedly high ($recallLow) — did the " +
        "graph gain long-range links?")
  }

  test("graphTopKLayered: the sparse upper layer's cross-cluster links " +
      "recover recall at a 10-entry budget where the flat walk collapses") {
    val emb = graft.Workloads.synthEmbeddings(spark, 20000L, 32, 64)
    val bd = emb.select(col("vec_id").as("b_id"),
      col("embedding").as("b_v")).persist()
    val qd = emb.filter(pmod(col("vec_id"), lit(200L)) === 0)
      .select(col("vec_id").as("a_id"), col("embedding").as("a_v"))
      .persist()
    val g = AnnSearch.knnGraph(bd, k = 10, iters = 2, buildK = 10)
    val layers = AnnSearch.layerGraphs(bd, levelDiv = 64, k = 10,
      iters = 2, maxLevels = 1)
    def pairSet(df: org.apache.spark.sql.DataFrame) = df
      .select("a_id", "nbr_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairSet(AnnSearch.bruteForceTopK(qd, bd, 10))
    def recallOf(res: org.apache.spark.sql.DataFrame) =
      pairSet(res).intersect(truth).size.toDouble / truth.size
    val flat = recallOf(AnnSearch.graphTopK(qd, bd, g, 10, 20, 4,
      nEntries = 10))
    val layered = recallOf(AnnSearch.graphTopKLayeredMulti(qd, bd, g,
      layers, 10, 20, 4, nEntries = 10))
    // flat 10 entries reach ≤10 of the 64 disconnected blob
    // components (measured 0.16); the layer walk routes queries to
    // their region (measured 0.83 at default layer knobs — the
    // residual miss is greedy-walk local optima on this deliberately
    // hard 64-blob geometry, curve documented in graphTopKLayeredMulti)
    assert(layered >= 0.78,
      s"layered recall $layered (flat was $flat) — layer routing broke")
    assert(flat < 0.3, s"flat low-entry walk unexpectedly high: $flat")
    assert(layered > flat + 0.4,
      s"layered $layered did not clearly beat flat $flat at the same " +
        "base-entry budget")
    // determinism: the layered serve is hash-seeded end to end
    val again = recallOf(AnnSearch.graphTopKLayeredMulti(qd, bd, g,
      layers, 10, 20, 4, nEntries = 10))
    assert(again == layered)
    bd.unpersist(); qd.unpersist()
  }
}
