package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import InTask.parallelFor

/** Fused single-task twins of the graph-ANN operators (the
  * [[Dbscan]] `runLocal` discipline applied to [[AnnSearch]]'s k-NN
  * graph family).
  *
  * WHY: the distributed NN-Descent build + beam-walk serve cost ~10-60
  * Spark jobs (per-round localCheckpoints, distincts, scoring joins),
  * each ~0.1-0.3 s of orchestration in local mode — on the bench's
  * small standing indexes that floor, not data volume, is the entire
  * bill (measured round 11: the seven graph-family queries were 7 of
  * the 10 slowest at sf0.1 on 2,000 vectors). Below a size guard the
  * whole operator runs in ONE task (thread-parallel inside through
  * [[InTask.parallelFor]], like [[LocalDbscan]]) with NO driver-side
  * row data and NO shuffles.
  *
  * EXACTNESS CONTRACT: every fused kernel reproduces the distributed
  * dataflow bit-for-bit —
  *  - positions: ids ascending, 1-based (`GlobalIndex.rowNumbers`);
  *  - hash draws: `TextFunctions.portableHash48` == first 12 md5 hex
  *    chars of the UTF-8 string, parsed base 16 ([[h48]]);
  *  - scores: `-(dot(a,b) / sqrt(dot(a,a)*dot(b,b)))` with
  *    [[graft.functions.DotProduct]]'s exact left-to-right double fold
  *    over float-widened elements ([[dot]]);
  *  - selection: the SAME `TopKByScore.Heap` class the aggregate uses
  *    (k smallest by (score + 0.0, id));
  *  - set/multiset boundaries: `.distinct()` sites dedup, everything
  *    else stays a multiset, exactly as the SQL plans do.
  * AnnSearchLocalSpec pins fused == forced-distributed equality on
  * randomized corpora; the DuckDB oracle gate pins both against SQL.
  *
  * SCALE HONESTY: the guard is a size PROBE (`limit(cap).count()` —
  * stops scanning early on big inputs, the Dbscan rule), the threshold
  * is parameterised (`SPARK_GRAFT_GRAPH_LOCAL`, default 100k vectors,
  * `0` disables), and the build guard also bounds NN-Descent's
  * per-vertex candidate work n·(2·buildK)². Scale paths
  * (Scaling/ClusterParity/knnGraphRecall) pass
  * `localThreshold = 0` so the scale evidence keeps measuring the
  * distributed machinery. Preconditions (same as the practical
  * distributed contract): unique ids, LongType ids,
  * `array<float>` vectors — any other shape falls through to the
  * distributed path untouched.
  */
private[graft] object GraphAnnLocal {

  /** Default fused-path threshold (vectors / queries). Tunable: the
    * system property wins (the scale/parity artifact tools pin it to 0
    * so their evidence keeps measuring the distributed machinery),
    * then the env var; 0 disables fusion everywhere. A cluster
    * deployment sizes this to what one executor core should absorb. */
  def defaultThreshold: Long =
    sys.props.get("graft.graphAnn.localThreshold")
      .orElse(sys.env.get("SPARK_GRAFT_GRAPH_LOCAL")).map(_.toLong)
      .getOrElse(100_000L)

  /** Cap on NN-Descent candidate volume n·(2kk)² the single task will
    * accept — bounds per-round work/memory, independent of the row
    * threshold (at buildK=20 this allows n ≤ 250k; the row threshold
    * is usually the binding one). */
  private val CandVolumeCap = 400_000_000L

  def maxBuildN(kk: Int): Long = CandVolumeCap / (4L * kk * kk)

  /** Edge-list cap for fused walks: a knnGraph over ≤ threshold
    * vectors has ≤ n·buildK edges; 64× threshold leaves headroom for
    * wider graphs while still bounding task memory (~16 B/edge).
    * Saturating: a Long.MaxValue "always local" threshold must not
    * overflow to a negative cap (which would fail every probe and
    * silently force the distributed path). */
  def edgeCap(threshold: Long): Long =
    if (threshold > Long.MaxValue / 64L) Long.MaxValue
    else 64L * threshold

  // ---------- exact scalar kernels ----------

  /** Lowercase hex md5 of the UTF-8 bytes — `md5(cast(s as binary))`. */
  def md5HexUtf8(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val sb = new java.lang.StringBuilder(32)
    var i = 0
    while (i < d.length) {
      sb.append(Character.forDigit((d(i) >> 4) & 0xf, 16))
      sb.append(Character.forDigit(d(i) & 0xf, 16))
      i += 1
    }
    sb.toString
  }

  /** `TextFunctions.portableHash48`: first 12 md5 hex chars, base 16. */
  def h48(s: String): Long =
    java.lang.Long.parseLong(md5HexUtf8(s).substring(0, 12), 16)

  /** [[graft.functions.DotProduct]]'s exact fold: left-to-right double
    * accumulation over per-element float→double widening. */
  def dot(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  /** negated cosine — the heap score: min(−cos) ≡ max(cos). */
  private def negcos(va: Array[Float], na: Double, vb: Array[Float],
      nb: Double): Double = -(dot(va, vb) / math.sqrt(na * nb))

  // ---------- shared small utilities ----------

  /** Sort + dedup the first `len` entries of `buf`, dropping `excl`. */
  private def sortedDistinct(buf: Array[Int], len: Int,
      excl: Int): Array[Int] = {
    java.util.Arrays.sort(buf, 0, len)
    val out = new Array[Int](len)
    var n = 0
    var i = 0
    while (i < len) {
      val v = buf(i)
      if (v != excl && (n == 0 || out(n - 1) != v)) { out(n) = v; n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(out, n)
  }

  private val OutSchema = StructType(Seq(
    StructField("a_id", LongType, nullable = false),
    StructField("nbr_id", LongType, nullable = false),
    StructField("rnk", IntegerType, nullable = false)))

  /** Shape guard: LongType id + array<float> vector. */
  def idVecShape(df: DataFrame, idCol: String, vecCol: String): Boolean =
    df.schema.fields.exists(f => f.name == idCol &&
      f.dataType == LongType) &&
    df.schema.fields.exists(f => f.name == vecCol && (f.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }))

  // ---------- NN-Descent build (AnnSearch.knnGraph's fused twin) ----------

  /** The whole build in one task over the collected partition rows.
    * Returns (a_id, nbr_id, rnk) rows — identical to the distributed
    * emit. */
  private[operators] def buildRows(idsIn: Array[Long],
      vecsIn: Array[Array[Float]], k: Int, iters: Int, seed: Long,
      kk: Int): Iterator[Row] = {
    val n = idsIn.length
    require(n > kk, s"need more than buildK=$kk vectors, got $n")
    // positions 1..n in id-ascending order (GlobalIndex.rowNumbers)
    val order = Array.range(0, n).sortBy(idsIn(_))
    val ids = order.map(idsIn(_))
    // unique ids are a documented precondition (binarySearch position
    // lookup requires it); a violation must FAIL here, not silently
    // diverge from the distributed path's rows
    var dup = 1
    while (dup < n) {
      require(ids(dup) != ids(dup - 1),
        s"knnGraph fused path requires unique ids, got duplicate " +
          s"${ids(dup)}")
      dup += 1
    }
    val vecs = order.map(vecsIn(_))
    val norms = new Array[Double](n)
    parallelFor(n) { i => norms(i) = dot(vecs(i), vecs(i)) }

    // scattered init: v's j-th guess = id at position
    // pmod(h48("id:j:seed"), n) + 1; self-hits dropped; per-pair dedup
    var g = new Array[Array[Int]](n)
    parallelFor(n) { i =>
      val buf = new Array[Int](kk)
      var c = 0
      var j = 1
      while (j <= kk) {
        val p = (h48(s"${ids(i)}:$j:$seed") % n).toInt // index = npos−1
        buf(c) = p; c += 1
        j += 1
      }
      g(i) = sortedDistinct(buf, c, i)
    }

    // refinement rounds: bn = distinct symmetric closure; candidates =
    // 2-hop ∪ current graph (distinct, minus self); exact-cosine
    // top-kk per vertex via the aggregate's own heap
    def round(gIn: Array[Array[Int]]): Array[Array[Int]] = {
      val deg = new Array[Int](n)
      var i = 0
      while (i < n) {
        val e = gIn(i)
        var j = 0
        while (j < e.length) { deg(i) += 1; deg(e(j)) += 1; j += 1 }
        i += 1
      }
      val raw = new Array[Array[Int]](n)
      i = 0
      while (i < n) { raw(i) = new Array[Int](deg(i)); i += 1 }
      val fill = new Array[Int](n)
      i = 0
      while (i < n) {
        val e = gIn(i)
        var j = 0
        while (j < e.length) {
          val w = e(j)
          raw(i)(fill(i)) = w; fill(i) += 1
          raw(w)(fill(w)) = i; fill(w) += 1
          j += 1
        }
        i += 1
      }
      val bn = new Array[Array[Int]](n)
      parallelFor(n) { a => bn(a) = sortedDistinct(raw(a), raw(a).length, a) }
      // (bn drops self-loops: the distributed bn can hold (a,a) only if
      // g had it, and g never does — init and rounds both exclude self)
      val out = new Array[Array[Int]](n)
      parallelFor(n) { a =>
        var cap = gIn(a).length
        val ba = bn(a)
        var m = 0
        while (m < ba.length) { cap += bn(ba(m)).length; m += 1 }
        val buf = new Array[Int](cap)
        var c = 0
        m = 0
        while (m < ba.length) {
          val bm = bn(ba(m))
          var w = 0
          while (w < bm.length) { buf(c) = bm(w); c += 1; w += 1 }
          m += 1
        }
        val ga = gIn(a)
        var j = 0
        while (j < ga.length) { buf(c) = ga(j); c += 1; j += 1 }
        val cands = sortedDistinct(buf, c, a)
        val heap = new graft.functions.TopKByScore.Heap(kk)
        j = 0
        while (j < cands.length) {
          val w = cands(j)
          heap.push(ids(w), negcos(vecs(a), norms(a), vecs(w), norms(w)))
          j += 1
        }
        val kept = heap.sortedAsc
        val res = new Array[Int](kept.length)
        j = 0
        while (j < kept.length) {
          // ids are unique and sorted — position == binary search
          res(j) = java.util.Arrays.binarySearch(ids, kept(j)._1)
          j += 1
        }
        out(a) = res
      }
      out
    }

    var it = 0
    while (it < iters) { g = round(g); it += 1 }

    // final emit: exact top-k of each vertex's standing kk-neighborhood
    val rows = new Array[Array[Row]](n)
    parallelFor(n) { a =>
      val heap = new graft.functions.TopKByScore.Heap(k)
      val ga = g(a)
      var j = 0
      while (j < ga.length) {
        val w = ga(j)
        heap.push(ids(w), negcos(vecs(a), norms(a), vecs(w), norms(w)))
        j += 1
      }
      val kept = heap.sortedAsc
      rows(a) = Array.tabulate(kept.length)(p =>
        Row(ids(a), kept(p)._1, p + 1))
    }
    rows.iterator.flatMap(_.iterator)
  }

  /** DataFrame wrapper: one coalesced partition, no driver row data. */
  def knnGraphFused(build: DataFrame, k: Int, iters: Int, seed: Long,
      kk: Int): DataFrame = {
    val spark = build.sparkSession
    val rdd = build.select(col("b_id"), col("b_v"))
      .coalesce(1).rdd.mapPartitions { it =>
        val rows = it.map(r =>
          (r.getLong(0), r.getSeq[Float](1).toArray)).toArray
        buildRows(rows.map(_._1), rows.map(_._2), k, iters, seed, kk)
      }
    spark.createDataFrame(rdd, OutSchema).localCheckpoint()
  }

  // ---------- beam walk (AnnSearch.graphWalk's fused twin) ----------

  /** The whole fixed-round beam walk in one task. Inputs arrive as a
    * tagged union (0 = query row, 1 = build row, 2 = graph edge,
    * 3 = seed pair) so everything stays inside the task — seeds keep
    * their MULTISET semantics (round 0 has no distinct in the SQL
    * path; callers that dedup did so upstream). */
  private[operators] def walkRows(rows: Iterator[Row], k: Int, ef: Int,
      rounds: Int): Iterator[Row] = {
    val qIds = new scala.collection.mutable.ArrayBuffer[Long]
    val qVecs = new scala.collection.mutable.ArrayBuffer[Array[Float]]
    val bIds = new scala.collection.mutable.ArrayBuffer[Long]
    val bVecs = new scala.collection.mutable.ArrayBuffer[Array[Float]]
    val eSrc = new scala.collection.mutable.ArrayBuffer[Long]
    val eNbr = new scala.collection.mutable.ArrayBuffer[Long]
    val sQ = new scala.collection.mutable.ArrayBuffer[Long]
    val sN = new scala.collection.mutable.ArrayBuffer[Long]
    rows.foreach { r =>
      r.getInt(0) match {
        case 0 => qIds += r.getLong(1); qVecs += r.getSeq[Float](3).toArray
        case 1 => bIds += r.getLong(1); bVecs += r.getSeq[Float](3).toArray
        case 2 => eSrc += r.getLong(1); eNbr += r.getLong(2)
        case _ => sQ += r.getLong(1); sN += r.getLong(2)
      }
    }
    walkCore(qIds.toArray, qVecs.toArray, bIds.toArray, bVecs.toArray,
      eSrc.toArray, eNbr.toArray, sQ.toArray, sN.toArray, k, ef, rounds)
      .iterator.flatMap(_.iterator)
  }

  /** @return per-query rank rows (only queries with a non-empty final
    *   beam emit — the inner-join semantics of the SQL walk). */
  private def walkCore(qIds: Array[Long], qVecs: Array[Array[Float]],
      bIds: Array[Long], bVecs: Array[Array[Float]], eSrc: Array[Long],
      eNbr: Array[Long], sQ: Array[Long], sN: Array[Long], k: Int,
      ef: Int, rounds: Int): Array[Array[Row]] = {
    val nq = qIds.length
    // corpus lookup
    val bIdx = new scala.collection.mutable.LongMap[Int](bIds.length * 2)
    var i = 0
    while (i < bIds.length) { bIdx.update(bIds(i), i); i += 1 }
    // last-wins on a duplicate corpus id would silently diverge from
    // the distributed join's rows — unique ids are the precondition
    require(bIdx.size == bIds.length,
      s"graph-walk fused path requires unique corpus ids " +
        s"(got ${bIds.length} rows, ${bIdx.size} distinct)")
    val bNorm = new Array[Double](bIds.length)
    parallelFor(bIds.length) { j => bNorm(j) = dot(bVecs(j), bVecs(j)) }
    // adjacency (edge sources need not be corpus members; absent
    // candidates drop at scoring, exactly like the SQL inner join)
    val adj = new scala.collection.mutable.LongMap[
      scala.collection.mutable.ArrayBuffer[Long]]()
    i = 0
    while (i < eSrc.length) {
      adj.getOrElseUpdate(eSrc(i),
        new scala.collection.mutable.ArrayBuffer[Long]) += eNbr(i)
      i += 1
    }
    // per-query seed multisets
    val seeds = new scala.collection.mutable.LongMap[
      scala.collection.mutable.ArrayBuffer[Long]]()
    i = 0
    while (i < sQ.length) {
      seeds.getOrElseUpdate(sQ(i),
        new scala.collection.mutable.ArrayBuffer[Long]) += sN(i)
      i += 1
    }
    val out = new Array[Array[Row]](nq)
    parallelFor(nq) { qi =>
      val qid = qIds(qi)
      val qv = qVecs(qi)
      val qn = dot(qv, qv)
      // top-`keep` of a candidate MULTISET (ids possibly repeated —
      // the heap sees every row, like the SQL aggregate)
      def topIds(cands: Array[Long], keep: Int):
          Array[(Long, Double)] = {
        val heap = new graft.functions.TopKByScore.Heap(keep)
        var ci = 0
        while (ci < cands.length) {
          val c = cands(ci)
          bIdx.get(c) match {
            case Some(j) =>
              heap.push(c, negcos(qv, qn, bVecs(j), bNorm(j)))
            case None => ()
          }
          ci += 1
        }
        heap.sortedAsc
      }
      // round 0: seed multiset, self-filtered (NO distinct — SQL parity)
      val seed0 = seeds.get(qid).map(_.toArray).getOrElse(Array.empty[Long])
        .filter(_ != qid)
      var beam: Array[Long] = topIds(seed0, ef).map(_._1)
      var r = 0
      while (r < rounds) {
        // expand = (beam 1-hop ∪ beam) minus self, DISTINCT
        val set = new java.util.TreeSet[java.lang.Long]()
        var bi = 0
        while (bi < beam.length) {
          val b = beam(bi)
          if (b != qid) set.add(b)
          adj.get(b) match {
            case Some(ns) => ns.foreach(w => if (w != qid) set.add(w))
            case None => ()
          }
          bi += 1
        }
        val expand = new Array[Long](set.size())
        var ei = 0
        val sit = set.iterator()
        while (sit.hasNext) { expand(ei) = sit.next().longValue(); ei += 1 }
        beam = topIds(expand, ef).map(_._1)
        r += 1
      }
      val fin = topIds(beam, k)
      out(qi) = Array.tabulate(fin.length)(p => Row(qid, fin(p)._1, p + 1))
    }
    out
  }

  /** Tagged-union plumbing for the fused walk: all inputs coalesce
    * into ONE task, no driver row data, no shuffle. */
  def graphWalkFused(queries: DataFrame, build: DataFrame,
      graph: DataFrame, seedCand: DataFrame, k: Int, ef: Int,
      rounds: Int): DataFrame = {
    val spark = build.sparkSession
    val nullVec = lit(null).cast("array<float>")
    val nullId = lit(null).cast("long")
    val all = queries.select(lit(0).as("tag"), col("a_id").as("id"),
        nullId.as("nbr"), col("a_v").as("vec"))
      .unionAll(build.select(lit(1).as("tag"), col("b_id").as("id"),
        nullId.as("nbr"), col("b_v").as("vec")))
      .unionAll(graph.select(lit(2).as("tag"),
        col("a_id").cast("long").as("id"),
        col("nbr_id").cast("long").as("nbr"), nullVec.as("vec")))
      .unionAll(seedCand.select(lit(3).as("tag"), col("a_id").as("id"),
        col("nbr").cast("long").as("nbr"), nullVec.as("vec")))
    val rdd = all.coalesce(1).rdd.mapPartitions(it =>
      walkRows(it.map(r => Row(r.getInt(0), r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2),
        if (r.isNullAt(3)) null else r.getSeq[Float](3))),
        k, ef, rounds))
    spark.createDataFrame(rdd, OutSchema).localCheckpoint()
  }

  // ---------- graph insert (AnnSearch.addToKnnGraph's fused tail) ----------

  /** The re-score tail of addToKnnGraph in one task: given the insert
    * walk's results (tag 3 with rank in `nbr2`), the standing edges,
    * and both vector generations, fold the batch in and re-prune every
    * touched vertex to k — bit-identical to the distributed joins. */
  private[operators] def addRows(rows: Iterator[Row], k: Int):
      Iterator[Row] = {
    val ids = new scala.collection.mutable.ArrayBuffer[Long]
    val vecs = new scala.collection.mutable.ArrayBuffer[Array[Float]]
    val eSrc = new scala.collection.mutable.ArrayBuffer[Long]
    val eNbr = new scala.collection.mutable.ArrayBuffer[Long]
    val fQ = new scala.collection.mutable.ArrayBuffer[Long]
    val fN = new scala.collection.mutable.ArrayBuffer[Long]
    val fR = new scala.collection.mutable.ArrayBuffer[Int]
    rows.foreach { r =>
      r.getInt(0) match {
        case 1 => ids += r.getLong(1); vecs += r.getSeq[Float](3).toArray
        case 2 => eSrc += r.getLong(1); eNbr += r.getLong(2)
        case _ =>
          fQ += r.getLong(1); fN += r.getLong(2); fR += r.getInt(4)
      }
    }
    val n = ids.length
    val idx = new scala.collection.mutable.LongMap[Int](n * 2)
    var i = 0
    while (i < n) { idx.update(ids(i), i); i += 1 }
    val norms = new Array[Double](n)
    parallelFor(n) { j => norms(j) = dot(vecs(j), vecs(j)) }
    // allEdges = standing ∪ reverse(found) ∪ found(rnk ≤ k), DISTINCT
    val per = new scala.collection.mutable.LongMap[
      java.util.TreeSet[java.lang.Long]]()
    def add(a: Long, b: Long): Unit =
      per.getOrElseUpdate(a, new java.util.TreeSet[java.lang.Long]())
        .add(b)
    i = 0
    while (i < eSrc.length) { add(eSrc(i), eNbr(i)); i += 1 }
    i = 0
    while (i < fQ.length) {
      add(fN(i), fQ(i))                   // reverse candidate
      if (fR(i) <= k) add(fQ(i), fN(i))   // adopted new edge
      i += 1
    }
    val keys = per.keys.toArray
    val out = new Array[Array[Row]](keys.length)
    parallelFor(keys.length) { ki =>
      val a = keys(ki)
      idx.get(a) match {
        case None => out(ki) = Array.empty // endpoint not in allVecs
        case Some(ai) =>
          val heap = new graft.functions.TopKByScore.Heap(k)
          val it2 = per(a).iterator()
          while (it2.hasNext) {
            val w = it2.next().longValue()
            idx.get(w) match {
              case Some(wi) => heap.push(w,
                negcos(vecs(ai), norms(ai), vecs(wi), norms(wi)))
              case None => ()
            }
          }
          val kept = heap.sortedAsc
          out(ki) = Array.tabulate(kept.length)(p =>
            Row(a, kept(p)._1, p + 1))
      }
    }
    out.iterator.flatMap(_.iterator)
  }

  /** Plumbing for the fused insert tail: found (with ranks), standing
    * edges and the union corpus coalesce into one task. */
  def addToKnnGraphFused(found: DataFrame, graph: DataFrame,
      allVecs: DataFrame, k: Int): DataFrame = {
    val spark = found.sparkSession
    val nullVec = lit(null).cast("array<float>")
    val nullId = lit(null).cast("long")
    val nullRnk = lit(null).cast("int")
    val u = allVecs.select(lit(1).as("tag"), col("b_id").as("id"),
        nullId.as("nbr"), col("b_v").as("vec"), nullRnk.as("rnk"))
      .unionAll(graph.select(lit(2).as("tag"),
        col("a_id").cast("long").as("id"),
        col("nbr_id").cast("long").as("nbr"), nullVec.as("vec"),
        nullRnk.as("rnk")))
      .unionAll(found.select(lit(3).as("tag"), col("a_id").as("id"),
        col("nbr_id").cast("long").as("nbr"), nullVec.as("vec"),
        col("rnk").cast("int").as("rnk")))
    val rdd = u.coalesce(1).rdd.mapPartitions(it =>
      addRows(it.map(r => Row(r.getInt(0), r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2),
        if (r.isNullAt(3)) null else r.getSeq[Float](3),
        if (r.isNullAt(4)) 0 else r.getInt(4))), k))
    spark.createDataFrame(rdd, OutSchema).localCheckpoint()
  }
}
