package graft

import graft.operators.ShortestPath
import org.apache.spark.sql.functions._

class ShortestPathSpec extends SparkSpec {

  private def run(edges: Seq[(Long, Long)], seeds: Seq[Long],
      maxHops: Int, localThreshold: Long): Map[Long, Int] =
    ShortestPath.hops(
      spark.createDataFrame(edges).toDF("src", "dst").repartition(5),
      "src", "dst",
      spark.createDataFrame(seeds.map(Tuple1(_))).toDF("id"), "id",
      maxHops, localThreshold)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

  // 1 → 2 → 3 → 4 → 5, a side branch 2 → 6, a cycle 4 → 1,
  // and a disconnected component 10 → 11
  private val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
    (2L, 6L), (4L, 1L), (10L, 11L))
  private val expect = Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3, 5L -> 4,
    6L -> 2)

  test("BFS levels: cycle re-entry ignored, unreachable absent (fused)") {
    assert(run(chain, Seq(1L), 10, localThreshold = 100) == expect)
  }

  test("distributed loop produces identical levels") {
    assert(run(chain, Seq(1L), 10, localThreshold = 0) == expect)
  }

  test("maxHops truncates exploration identically on both paths") {
    val cut = expect.filter(_._2 <= 2)
    assert(run(chain, Seq(1L), 2, localThreshold = 100) == cut)
    assert(run(chain, Seq(1L), 2, localThreshold = 0) == cut)
  }

  test("multi-source takes the minimum; isolated seed appears at hop 0") {
    val got = run(chain, Seq(1L, 4L, 99L), 10, localThreshold = 100)
    // 4 is a seed: 5 is now 1 hop, 1 is 1 hop (via the 4→1 cycle edge)
    assert(got == Map(1L -> 0, 4L -> 0, 99L -> 0, 2L -> 1, 5L -> 1,
      3L -> 2, 6L -> 2))
    assert(run(chain, Seq(1L, 4L, 99L), 10, localThreshold = 0) == got)
  }

  private def runW(edges: Seq[(Long, Long, Long)], seeds: Seq[Long],
      rounds: Int, localThreshold: Long): Map[Long, Long] =
    ShortestPath.weighted(
      spark.createDataFrame(edges).toDF("src", "dst", "w").repartition(5),
      "src", "dst", "w",
      spark.createDataFrame(seeds.map(Tuple1(_))).toDF("id"), "id",
      rounds, localThreshold)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("weighted: cheaper long path beats direct edge; parallel edges collapse") {
    val edges = Seq(
      (1L, 2L, 10L), (1L, 2L, 7L), // parallel — min wins
      (2L, 3L, 1L),
      (1L, 3L, 100L),              // direct but expensive
      (3L, 4L, 1L), (9L, 1L, 1L))  // 9 unreachable from seed 1
    val expect = Map(1L -> 0L, 2L -> 7L, 3L -> 8L, 4L -> 9L)
    assert(runW(edges, Seq(1L), 4, localThreshold = 100) == expect)
    assert(runW(edges, Seq(1L), 4, localThreshold = 0) == expect)
  }

  test("weighted: round budget bounds path length (Jacobi, not Gauss-Seidel)") {
    val chain = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L))
    val got = runW(chain, Seq(1L), 2, localThreshold = 100)
    // 4 is 3 edges away — invisible at rounds=2 on BOTH paths
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
    assert(runW(chain, Seq(1L), 2, localThreshold = 0) == got)
  }

  test("weighted: a distance overflowing a long fails on both paths") {
    val w = Long.MaxValue / 2 + 1 // two hops sum past Long.MaxValue
    val chain = Seq((1L, 2L, w), (2L, 3L, w))
    Seq(100L, 0L).foreach { t =>
      val ex = intercept[Exception](runW(chain, Seq(1L), 2, t))
      assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ArithmeticException]), s"threshold $t: $ex")
    }
  }

  /** Sequential Jacobi Bellman-Ford over min-collapsed parallel edges. */
  private def bellmanFordRef(edges: Seq[(Long, Long, Long)],
      seeds: Seq[Long], rounds: Int): Map[Long, Long] = {
    val e = edges.groupBy(t => (t._1, t._2))
      .map { case ((s, d), v) => (s, d, v.map(_._3).min) }.toSeq
    var dist = seeds.map(_ -> 0L).toMap
    for (_ <- 1 to rounds) {
      val relaxed = e.flatMap { case (s, d, w) =>
        dist.get(s).map(ds => d -> (ds + w)) }
      dist = (dist.toSeq ++ relaxed).groupBy(_._1)
        .map { case (k, v) => k -> v.map(_._2).min }
    }
    dist
  }

  /** Sequential frontier BFS. */
  private def bfsRef(edges: Seq[(Long, Long)], seeds: Seq[Long],
      maxHops: Int): Map[Long, Int] = {
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    var level = Map(seeds.map(_ -> 0): _*)
    var frontier = seeds.distinct
    var d = 0
    while (frontier.nonEmpty && d < maxHops) {
      d += 1
      val next = frontier.flatMap(v => adj.getOrElse(v, Nil))
        .distinct.filterNot(level.contains)
      next.foreach(v => level += v -> d)
      frontier = next
    }
    level
  }

  test("weighted random graph: both paths equal sequential Bellman-Ford") {
    val rnd = new scala.util.Random(23)
    val edges = (1 to 400).map(_ => (rnd.nextInt(80).toLong,
      rnd.nextInt(80).toLong, (rnd.nextInt(100) + 1).toLong))
    val seeds = Seq(0L, 40L)
    val rounds = 5
    val dist = bellmanFordRef(edges, seeds, rounds)
    assert(runW(edges, seeds, rounds, localThreshold = 10000) == dist)
    assert(runW(edges, seeds, rounds, localThreshold = 0) == dist)
  }

  test("random graph: both paths agree with sequential BFS") {
    val rnd = new scala.util.Random(11)
    val edges = (1 to 600).map(_ =>
      (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
    val seeds = Seq(0L, 60L)
    val level = bfsRef(edges, seeds, 20)
    assert(run(edges, seeds, 20, localThreshold = 10000) == level)
    assert(run(edges, seeds, 20, localThreshold = 0) == level)
  }

  // a random graph plus explicit self-loops and duplicate edges; the
  // seeds repeat one id and add one that no edge touches
  private val rnd = new scala.util.Random(5)
  private val dirty = {
    val e = (1 to 300).map(_ => (rnd.nextInt(70).toLong,
      rnd.nextInt(70).toLong, (rnd.nextInt(50) + 1).toLong))
    e ++ Seq((3L, 3L, 1L), (9L, 9L, 4L)) ++
      e.take(20).map { case (s, d, w) => (s, d, w + 7) }
  }
  private val dirtySeeds = Seq(0L, 35L, 35L, 999L)

  test("vertex blocks: 1, 3 and 7 blocks == fused == sequential, " +
      "self-loops and duplicate edges included") {
    val unweighted = dirty.map(e => (e._1, e._2))
    val level = bfsRef(unweighted, dirtySeeds, 20)
    val dist = bellmanFordRef(dirty, dirtySeeds, 6)
    assert(run(unweighted, dirtySeeds, 20, localThreshold = 10000) == level)
    assert(runW(dirty, dirtySeeds, 6, localThreshold = 10000) == dist)
    for (blocks <- Seq(1, 3, 7)) withShufflePartitions(blocks) {
      assert(run(unweighted, dirtySeeds, 20, localThreshold = 0) == level,
        s"hops at $blocks blocks")
      assert(run(unweighted, dirtySeeds, 2, localThreshold = 0) ==
        bfsRef(unweighted, dirtySeeds, 2), s"hops<=2 at $blocks blocks")
      assert(runW(dirty, dirtySeeds, 6, localThreshold = 0) == dist,
        s"weighted at $blocks blocks")
    }
  }

  test("vertex blocks: an empty edge set keeps the seeds at 0") {
    for (blocks <- Seq(1, 3, 7)) withShufflePartitions(blocks) {
      assert(run(Nil, Seq(4L, 8L), 5, localThreshold = -1) ==
        Map(4L -> 0, 8L -> 0))
      assert(runW(Nil, Seq(4L, 8L), 3, localThreshold = -1) ==
        Map(4L -> 0L, 8L -> 0L))
    }
  }

  test("vertex blocks: the job count does not grow with the rounds") {
    val unweighted = dirty.map(e => (e._1, e._2))
    def jobsW(rounds: Int) = jobsOf(runW(dirty, dirtySeeds, rounds, 0L))
    def jobsH(maxHops: Int) =
      jobsOf(run(unweighted, dirtySeeds, maxHops, 0L))
    assert(jobsW(2) == jobsW(8))
    assert(jobsH(2) == jobsH(20))
  }

  // parallel copies of each edge at different weights, shuffled so the
  // copies (and their least weight) sit in different input partitions
  private val parallel = {
    val rnd = new scala.util.Random(17)
    val pairs = (1 to 150).map(_ =>
      (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong)).distinct
    rnd.shuffle(pairs.flatMap { case (s, d) =>
      Seq.fill(1 + rnd.nextInt(3))((s, d, (rnd.nextInt(40) + 1).toLong))
    })
  }

  test("duplicate and parallel edges across input partitions: fused == " +
      "1, 3 and 7 blocks == sequential, the least weight wins") {
    val seeds = Seq(0L, 30L)
    val dist = bellmanFordRef(parallel, seeds, 6)
    val unweighted = parallel.map(e => (e._1, e._2))
    val level = bfsRef(unweighted, seeds, 20)
    assert(runW(parallel, seeds, 6, localThreshold = 10000) == dist)
    assert(run(unweighted, seeds, 20, localThreshold = 10000) == level)
    for (blocks <- Seq(1, 3, 7)) withShufflePartitions(blocks) {
      assert(runW(parallel, seeds, 6, localThreshold = 0) == dist,
        s"weighted at $blocks blocks")
      assert(run(unweighted, seeds, 20, localThreshold = 0) == level,
        s"hops at $blocks blocks")
    }
  }

  test("raw edge rows over localThreshold, distinct ones under it: the " +
      "distributed route returns the fused rows") {
    val base = parallel.map(e => (e._1, e._2)).distinct
    val raw = base ++ base ++ base
    val seeds = Seq(0L, 30L)
    val t = 2L * base.size // raw rows 3x base: over; distinct: under
    var got = Map.empty[Long, Int]
    val jobs = jobsByDesc { got = run(raw, seeds, 20, localThreshold = t) }
    assert(jobs.contains("graph: rounds"), jobs)
    assert(got == run(base, seeds, 20, localThreshold = t))
    assert(got == bfsRef(base, seeds, 20))
  }

  test("fused paths leave nothing cached") {
    val unweighted = dirty.map(e => (e._1, e._2))
    assert(persistedBy(runW(dirty, dirtySeeds, 4, 10000L)).isEmpty)
    assert(persistedBy(run(unweighted, dirtySeeds, 6, 10000L)).isEmpty)
  }

  test("vertex blocks: only the output's checkpoint stays cached") {
    val unweighted = dirty.map(e => (e._1, e._2))
    for (left <- Seq(persistedBy(runW(dirty, dirtySeeds, 4, 0L)),
        persistedBy(run(unweighted, dirtySeeds, 6, 0L))))
      assert(left.size == 1 && left.head.isCheckpointed, left)
  }
}
