package graft

import graft.operators.{Basket, LabelProp}
import org.apache.spark.sql.functions._

class LabelPropBasketSpec extends SparkSpec {

  private def runLpa(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] =
    LabelProp.run(
      spark.createDataFrame(edges).toDF("src", "dst").repartition(4),
      "src", "dst", rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("LPA: two triangles joined by a bridge form two communities") {
    // undirected: triangle {1,2,3}, triangle {10,11,12}, bridge 3-10
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L),
      (10L, 12L), (3L, 10L))
    val edges = und ++ und.map(_.swap)
    val got = runLpa(edges, 4)
    // min-label ties pull each triangle to its smallest member
    assert(got(1L) == got(2L) && got(2L) == got(3L))
    assert(got(10L) == got(11L) && got(11L) == got(12L))
    assert(got(1L) != got(10L))
  }

  test("LPA: synchronous rounds match a sequential simulation") {
    val rnd = new scala.util.Random(31)
    val und = (1 to 300).map(_ =>
      (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong)).filter(e => e._1 != e._2)
    val edges = (und ++ und.map(_.swap)).distinct
    val rounds = 3
    val adj = edges.groupBy(_._2).map { case (d, es) => d -> es.map(_._1) }
    var lab = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(v => v -> v).toMap
    for (_ <- 1 to rounds) {
      val next = lab.map { case (v, l) =>
        adj.get(v) match {
          case None => v -> l
          case Some(ns) =>
            val counts = ns.map(lab).groupBy(identity)
              .map { case (k, vs) => k -> vs.size }
            v -> counts.toSeq.minBy { case (k, c) => (-c, k) }._1
        }
      }
      lab = next
    }
    assert(runLpa(edges, rounds) == lab)
  }

  test("LPA: fused single-task path == distributed loop, bit for bit") {
    val rnd = new scala.util.Random(41)
    val und = (1 to 500).map(_ =>
      (rnd.nextInt(90).toLong, rnd.nextInt(90).toLong)).filter(e => e._1 != e._2)
    val edges = und ++ und.map(_.swap)
    def runT(threshold: Long) = LabelProp.run(
      spark.createDataFrame(edges).toDF("src", "dst").repartition(4),
      "src", "dst", 3, localThreshold = threshold)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(runT(1000000L) == runT(0L))
  }

  test("LPA: node with no in-edges keeps its own label") {
    val got = runLpa(Seq((5L, 6L)), 3)
    assert(got(5L) == 5L) // nothing flows into 5
    assert(got(6L) == 5L)
  }

  /** Sequential synchronous rounds: each unclamped node adopts the most
    * frequent label among its labeled in-neighbours (ties to the
    * smallest), else keeps its state; `None` = unlabeled. */
  private def roundsRef(edges: Seq[(Long, Long)],
      start: Map[Long, Option[Long]], clamped: Set[Long],
      rounds: Int): Map[Long, Option[Long]] = {
    val in = edges.distinct.groupBy(_._2)
      .map { case (d, es) => d -> es.map(_._1) }
    var lab = start
    for (_ <- 1 to rounds) {
      lab = lab.map { case (v, l) =>
        val votes = in.getOrElse(v, Nil).flatMap(lab)
        if (clamped(v) || votes.isEmpty) v -> l
        else v -> Some(votes.groupBy(identity).toSeq
          .minBy { case (k, vs) => (-vs.size, k) }._1)
      }
    }
    lab
  }

  private def lpaRef(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] =
    roundsRef(edges, edges.flatMap(e => Seq(e._1, e._2))
      .map(v => v -> Some(v)).toMap, Set.empty, rounds)
      .map { case (v, l) => v -> l.get }

  private def runAt(edges: Seq[(Long, Long)], rounds: Int,
      threshold: Long): Map[Long, Long] = LabelProp.run(
      spark.createDataFrame(edges).toDF("src", "dst").repartition(4),
      "src", "dst", rounds, localThreshold = threshold)
    .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def spreadRun(edges: Seq[(Long, Long)], seeds: Seq[(Long, Long)],
      rounds: Int): Map[Long, Option[Long]] = LabelProp.spread(
      spark.createDataFrame(edges).toDF("src", "dst").repartition(3),
      "src", "dst", spark.createDataFrame(seeds).toDF("id", "lbl"),
      "id", "lbl", rounds)
    .collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap

  // an ε-graph-like undirected random graph (q185's shape) with
  // self-loops and duplicate edges; seeds: every 10th node, one id
  // seeded twice (the smaller label wins) and one id outside the graph
  private val rnd = new scala.util.Random(13)
  private val dirty = {
    val und = (1 to 260).map(_ =>
      (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
    und ++ und.map(_.swap) ++ Seq((4L, 4L), (7L, 7L)) ++ und.take(15)
  }
  private val dirtySeeds = (0L until 80L by 10L).map(v => v -> v % 3) ++
    Seq(20L -> 7L, 20L -> 1L, 500L -> 2L)

  private def spreadRef(rounds: Int): Map[Long, Option[Long]] = {
    val nodes = dirty.flatMap(e => Seq(e._1, e._2)).toSet
    val seedOf = dirtySeeds.filter(s => nodes(s._1)).groupBy(_._1)
      .map { case (v, ls) => v -> ls.map(_._2).min }
    roundsRef(dirty, nodes.map(v => v -> seedOf.get(v)).toMap,
      seedOf.keySet, rounds)
  }

  test("vertex blocks: 1, 3 and 7 blocks == fused == sequential, " +
      "self-loops and duplicate edges included") {
    val want = lpaRef(dirty, 4)
    assert(runAt(dirty, 4, 1000000L) == want)
    for (blocks <- Seq(1, 3, 7)) withShufflePartitions(blocks) {
      assert(runAt(dirty, 4, 0L) == want, s"LPA at $blocks blocks")
      assert(spreadRun(dirty, dirtySeeds, 3) == spreadRef(3),
        s"spread at $blocks blocks")
    }
  }

  test("vertex blocks: an empty edge set has no node") {
    for (blocks <- Seq(1, 3, 7)) withShufflePartitions(blocks) {
      assert(runAt(Nil, 3, -1L).isEmpty)
      assert(spreadRun(Nil, Seq(1L -> 5L), 3).isEmpty)
    }
  }

  test("vertex blocks: the job count does not grow with the rounds") {
    assert(jobsOf(runAt(dirty, 2, 0L)) == jobsOf(runAt(dirty, 8, 0L)))
    assert(jobsOf(spreadRun(dirty, dirtySeeds, 2)) ==
      jobsOf(spreadRun(dirty, dirtySeeds, 8)))
  }

  test("vertex blocks: only the output's checkpoint stays cached") {
    for (left <- Seq(persistedBy(runAt(dirty, 3, 0L)),
        persistedBy(spreadRun(dirty, dirtySeeds, 3))))
      assert(left.size == 1 && left.head.isCheckpointed, left)
  }

  test("raw edge rows over localThreshold, distinct ones under it: the " +
      "distributed route returns the fused rows") {
    val base = dirty.distinct
    val raw = base ++ base ++ base
    val t = 2L * base.size // raw rows 3x base: over; distinct: under
    var got = Map.empty[Long, Long]
    val jobs = jobsByDesc { got = runAt(raw, 4, t) }
    assert(jobs.contains("graph: rounds"), jobs)
    assert(got == runAt(base, 4, t))
    assert(got == lpaRef(base, 4))
  }

  test("fused path leaves nothing cached") {
    assert(persistedBy(runAt(dirty, 3, 1000000L)).isEmpty)
  }

  test("frequentPairs: hand case with the A-priori prune biting") {
    val rows = Seq(
      (1L, "a"), (1L, "b"), (1L, "c"),
      (2L, "a"), (2L, "b"),
      (3L, "a"), (3L, "b"), (3L, "x"),
      (4L, "c"), (4L, "x"),
      (2L, "a")) // duplicate observation collapses
    val got = Basket.frequentPairs(
      spark.createDataFrame(rows).toDF("basket", "item").repartition(3),
      "basket", "item", minSupport = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    // (a,b) in baskets 1,2,3; every other pair co-occurs once
    assert(got == Set(("a", "b", 3L)))
  }

  test("frequentPairs matches a brute-force count at several supports") {
    val rnd = new scala.util.Random(17)
    val rows = (1 to 600).map(_ =>
      (rnd.nextInt(60).toLong, s"i${rnd.nextInt(20)}"))
    val df = spark.createDataFrame(rows).toDF("b", "i")
    val baskets = rows.distinct.groupBy(_._1).values.map(_.map(_._2).toSet)
    for (s <- Seq(2L, 5L)) {
      val brute = baskets.toSeq
        .flatMap(items => items.toSeq.sorted.combinations(2))
        .groupBy(identity).map { case (p, o) => (p(0), p(1)) -> o.size.toLong }
        .filter(_._2 >= s)
      val got = Basket.frequentPairs(df, "b", "i", s)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      assert(got == brute, s"support $s")
    }
  }

  test("frequentPairs: long-item posting-list path == brute force") {
    // long item ids take the collect_set + native-pair-kernel path;
    // string ids (above) take the self-join path — same contract
    val rnd = new scala.util.Random(29)
    val rows = (1 to 600).map(_ =>
      (rnd.nextInt(60).toLong, rnd.nextInt(20).toLong + 100L))
    val df = spark.createDataFrame(rows).toDF("b", "i").repartition(5)
    val baskets = rows.distinct.groupBy(_._1).values.map(_.map(_._2).toSet)
    for (s <- Seq(2L, 5L)) {
      val brute = baskets.toSeq
        .flatMap(items => items.toSeq.sorted.combinations(2))
        .groupBy(identity).map { case (p, o) => (p(0), p(1)) -> o.size.toLong }
        .filter(_._2 >= s)
      val got = Basket.frequentPairs(df, "b", "i", s)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      assert(got == brute, s"support $s")
    }
    // rules on the long path: supports agree with frequentPairs
    val pairs = Basket.frequentPairs(df, "b", "i", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val rules = Basket.rules(df, "b", "i", 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(rules.size == 2 * pairs.size)
    pairs.foreach { case ((a, b), s) =>
      assert(rules((a, b)) == s && rules((b, a)) == s)
    }
  }

  test("rules: hand-computed confidence and lift, both directions") {
    // A in {1,2,3,5}, B in {1,2,4,5}, C in {1,3,4}; N = 5 baskets
    val rows = Seq(
      (1L, "A"), (1L, "B"), (1L, "C"),
      (2L, "A"), (2L, "B"),
      (3L, "A"), (3L, "C"),
      (4L, "B"), (4L, "C"),
      (5L, "A"), (5L, "B"))
    val got = Basket.rules(
      spark.createDataFrame(rows).toDF("basket", "item").repartition(3),
      "basket", "item", minSupport = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getDouble(6))).toMap
    assert(got.size == 6) // 3 frequent pairs x 2 directions
    assert(got(("A", "B")) == ((3L, 4L, 4L, 0.75, 0.9375)))
    assert(got(("B", "A")) == ((3L, 4L, 4L, 0.75, 0.9375)))
    assert(got(("A", "C")) == ((2L, 4L, 3L, 0.5, 0.833333)))
    assert(got(("C", "A")) == ((2L, 3L, 4L, 0.666667, 0.833333)))
    assert(got(("B", "C")) == ((2L, 4L, 3L, 0.5, 0.833333)))
    assert(got(("C", "B")) == ((2L, 3L, 4L, 0.666667, 0.833333)))
  }

  test("rules agree with frequentPairs supports, lift is symmetric") {
    val rnd = new scala.util.Random(41)
    val rows = (1 to 600).map(_ =>
      (rnd.nextInt(50).toLong, s"i${rnd.nextInt(15)}"))
    val df = spark.createDataFrame(rows).toDF("b", "i")
    val pairs = Basket.frequentPairs(df, "b", "i", 3)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val rules = Basket.rules(df, "b", "i", 3).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(6))).toMap
    assert(rules.size == 2 * pairs.size)
    pairs.foreach { case ((a, b), s) =>
      assert(rules((a, b))._1 == s && rules((b, a))._1 == s)
      assert(rules((a, b))._2 == rules((b, a))._2) // lift symmetric
    }
  }
}
