package graft

import graft.operators.{Dbscan, EpsilonJoin, IncrDbscanLocal, IncrementalDbscan}

class IncrementalDbscanSpec extends SparkSpec {

  private def df(rows: Seq[(Long, Seq[Float])]) =
    spark.createDataFrame(rows).toDF("id", "vec")

  private def labelsOf(d: org.apache.spark.sql.DataFrame) =
    d.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

  /** Every scenario runs on the fused path (the default threshold) and
    * on the distributed tile fold (threshold 0). */
  private val Thresholds = Seq(IncrDbscanLocal.defaultThreshold, 0L)

  /** incremental over the given batches == from-scratch run on the union */
  private def checkEqual(batches: Seq[Seq[(Long, Seq[Float])]],
      eps: Double, minPts: Int, dims: Seq[Int]): Unit =
    Thresholds.foreach { thr =>
      var st = IncrementalDbscan.init(df(batches.head), "id", "vec",
        eps, minPts, dims, thr)
      batches.tail.foreach { b =>
        st = IncrementalDbscan.addPoints(st, df(b), "id", "vec",
          eps, minPts, dims, thr)
      }
      val got = labelsOf(IncrementalDbscan.labels(st))
      val want = labelsOf(Dbscan.run(df(batches.flatten), "id", "vec",
        eps, minPts, dims))
      assert(got == want, s"localThreshold=$thr")
    }

  /** interleaved adds/removes == from-scratch run on the survivors.
    * Pins after init and after every fold — the DOCUMENTED usage
    * (IncrementalDbscan.pin's contract); composing folds unpinned
    * explodes the plan tree multiplicatively (shared subtrees print
    * repeatedly) and has OOM'd the suite inside explainString. */
  private def checkEqualOps(init0: Seq[(Long, Seq[Float])],
      ops: Seq[Either[Seq[(Long, Seq[Float])], Seq[Long]]],
      eps: Double, minPts: Int, dims: Seq[Int]): Unit = {
    val spark2 = spark
    import spark2.implicits._
    Thresholds.foreach { thr =>
      var st = IncrementalDbscan.pin(IncrementalDbscan.init(df(init0),
        "id", "vec", eps, minPts, dims, thr))
      var live = init0.toMap
      ops.foreach {
        case Left(batch) =>
          st = IncrementalDbscan.pin(IncrementalDbscan.addPoints(st,
            df(batch), "id", "vec", eps, minPts, dims, thr))
          live ++= batch
        case Right(ids) =>
          st = IncrementalDbscan.pin(IncrementalDbscan.removePoints(st,
            ids.toDF("id"), "id", eps, minPts, dims, thr))
          live --= ids
      }
      val got = labelsOf(IncrementalDbscan.labels(st))
      val want = labelsOf(Dbscan.run(df(live.toSeq), "id", "vec",
        eps, minPts, dims))
      assert(got == want, s"localThreshold=$thr")
    }
  }

  private def table(d: org.apache.spark.sql.DataFrame): Seq[String] =
    d.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** The distributed fold on forced tiles: every fold, the first from
    * the empty state, runs with `tileWidth` and `maxTileRows`. The end
    * state must equal the fused build over the live set table by table,
    * and its labels a from-scratch run's. */
  private def checkTiled(init0: Seq[(Long, Seq[Float])],
      ops: Seq[Either[Seq[(Long, Seq[Float])], Seq[Long]]],
      eps: Double, minPts: Int, dims: Seq[Int], tileWidth: Double,
      maxTileRows: Long): Unit = {
    val spark2 = spark
    import spark2.implicits._
    def fold(st: IncrementalDbscan.State,
        added: Option[org.apache.spark.sql.DataFrame],
        removed: Option[org.apache.spark.sql.DataFrame]) =
      IncrementalDbscan.pin(IncrementalDbscan.fold(st, added, removed, eps,
        minPts, dims, Some(tileWidth), maxTileRows))
    var st = fold(IncrementalDbscan.empty(spark), Some(df(init0)), None)
    var live = init0.toMap
    ops.foreach {
      case Left(batch) => st = fold(st, Some(df(batch)), None); live ++= batch
      case Right(ids) => st = fold(st, None, Some(ids.toDF("id"))); live --= ids
    }
    val want = IncrDbscanLocal.stateFused(df(live.toSeq), None, eps, minPts,
      dims)
    val clue = s"tileWidth=$tileWidth maxTileRows=$maxTileRows"
    assert(table(st.points.select("id")) == table(want.points.select("id")),
      clue)
    assert(table(st.counts) == table(want.counts), clue)
    assert(table(st.coreComp) == table(want.coreComp), clue)
    assert(table(st.borderPairs) == table(want.borderPairs), clue)
    assert(labelsOf(IncrementalDbscan.labels(st)) ==
      labelsOf(Dbscan.run(df(live.toSeq), "id", "vec", eps, minPts, dims)),
      clue)
  }

  /** A chain along x, one point every 0.5, ids ascending with x. */
  private def chain(from: Double, to: Double, firstId: Long) =
    Iterator.iterate(from)(_ + 0.5).takeWhile(_ <= to + 1e-9).zipWithIndex
      .map { case (x, i) => (firstId + i) -> Seq(x.toFloat) }.toSeq

  test("removePoints: deleting the bridge core SPLITS the component") {
    // two 4-point blobs joined by one bridge core: one cluster before,
    // two after the bridge is deleted
    val blobA = Seq(1L -> Seq(0.0f), 2L -> Seq(0.2f), 3L -> Seq(0.4f),
      4L -> Seq(0.6f))
    val bridge = Seq(10L -> Seq(1.4f))
    val blobB = Seq(5L -> Seq(2.2f), 6L -> Seq(2.4f), 7L -> Seq(2.6f),
      8L -> Seq(2.8f))
    val all = blobA ++ bridge ++ blobB
    val spark2 = spark
    import spark2.implicits._
    Thresholds.foreach { thr =>
      var st = IncrementalDbscan.init(df(all), "id", "vec", 1.0, 3, Seq(0),
        thr)
      assert(labelsOf(IncrementalDbscan.labels(st)).values.toSet == Set(1))
      st = IncrementalDbscan.removePoints(st, Seq(10L).toDF("id"), "id",
        1.0, 3, Seq(0), thr)
      val got = labelsOf(IncrementalDbscan.labels(st))
      assert(got.values.toSet == Set(1, 2), got)
      assert(got(1L) != got(5L), "blobs must split apart")
    }
    checkEqualOps(all, Seq(Right(Seq(10L))), 1.0, 3, Seq(0))
  }

  test("removePoints: neighbor loss DEMOTES a core to border, then noise") {
    // chain: 1-2-3-4 with eps=0.6 spacing 0.5; minPts=3 -> 2,3 core
    val pts = Seq(1L -> Seq(0.0f), 2L -> Seq(0.5f), 3L -> Seq(1.0f),
      4L -> Seq(1.5f))
    val spark2 = spark
    import spark2.implicits._
    Thresholds.foreach { thr =>
      var st = IncrementalDbscan.init(df(pts), "id", "vec", 0.6, 3, Seq(0),
        thr)
      assert(labelsOf(IncrementalDbscan.labels(st)).values.toSet == Set(1))
      // deleting 4 demotes 3 (neighbors drop to {2}); 3 stays a border
      // of core 2; from-scratch equality via the shared checker
      st = IncrementalDbscan.removePoints(st, Seq(4L).toDF("id"), "id",
        0.6, 3, Seq(0), thr)
      val got = labelsOf(IncrementalDbscan.labels(st))
      assert(got == Map(1L -> 1, 2L -> 1, 3L -> 1), got)
    }
    checkEqualOps(pts, Seq(Right(Seq(4L))), 0.6, 3, Seq(0))
    // deleting 1 as well leaves 2,3 with one neighbor each -> all noise
    checkEqualOps(pts, Seq(Right(Seq(4L)), Right(Seq(1L))), 0.6, 3, Seq(0))
  }

  test("removePoints: random blobs, 15% delete, interleaved with adds") {
    val rnd = new scala.util.Random(41)
    val centers = Seq((0.0, 0.0), (10.0, 0.0), (5.0, 8.0))
    val pts = (0 until 240).map { i =>
      if (i % 8 == 7)
        (i.toLong, Seq((rnd.nextDouble() * 30 - 5).toFloat,
          (rnd.nextDouble() * 30 - 10).toFloat))
      else {
        val (cx, cy) = centers(i % 3)
        (i.toLong, Seq((cx + rnd.nextGaussian() * 0.5).toFloat,
          (cy + rnd.nextGaussian() * 0.5).toFloat))
      }
    }
    val initB = pts.filter(_._1 % 3 != 2)
    val addB = pts.filter(_._1 % 3 == 2)
    val del1 = pts.map(_._1).filter(_ % 7 == 0) // ~15%
    val del2 = pts.map(_._1).filter(_ % 11 == 3)
    checkEqualOps(initB,
      Seq(Right(del1.filter(id => initB.exists(_._1 == id))),
        Left(addB), Right(del2.filterNot(del1.contains))),
      1.0, 4, Seq(0, 1))
  }

  test("removePoints: absent ids no-op; deleting a whole cluster; " +
      "minPts=1 singletons") {
    val spark2 = spark
    import spark2.implicits._
    val pts = Seq(1L -> Seq(0.0f), 2L -> Seq(0.2f), 3L -> Seq(0.4f),
      9L -> Seq(50.0f))
    // absent ids leave the state untouched
    var st = IncrementalDbscan.init(df(pts), "id", "vec", 1.0, 2, Seq(0))
    val before = labelsOf(IncrementalDbscan.labels(st))
    st = IncrementalDbscan.removePoints(st, Seq(777L).toDF("id"), "id",
      1.0, 2, Seq(0))
    assert(labelsOf(IncrementalDbscan.labels(st)) == before)
    // whole-cluster delete leaves only the isolated noise point
    checkEqualOps(pts, Seq(Right(Seq(1L, 2L, 3L))), 1.0, 2, Seq(0))
    // minPts=1: every survivor is core (isolated ones included)
    checkEqualOps(pts, Seq(Right(Seq(2L))), 1.0, 1, Seq(0))
  }

  test("saveState/loadState: parquet round-trip, reload-then-fold " +
      "equals in-memory fold; parameter mismatch and missing manifest " +
      "are rejected") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(67)
    val centers = Seq((0.0, 0.0), (10.0, 0.0))
    val pts = (0 until 160).map { i =>
      val (cx, cy) = centers(i % 2)
      (i.toLong, Seq((cx + rnd.nextGaussian() * 0.6).toFloat,
        (cy + rnd.nextGaussian() * 0.6).toFloat))
    }
    val dims = Seq(0, 1)
    val st0 = IncrementalDbscan.pin(IncrementalDbscan.init(df(pts),
      "id", "vec", 1.0, 4, dims))
    val dir = java.nio.file.Files
      .createTempDirectory("incdbscan_state").toString
    IncrementalDbscan.saveState(st0, dir, 1.0, 4, dims)
    val loaded = IncrementalDbscan.loadState(spark, dir, 1.0, 4, dims)
    // the loaded tables equal the saved ones row for row
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toSeq.map {
        case s: scala.collection.Seq[_] => s.toList
        case v => v
      }).toSet
    assert(rows(loaded.points) == rows(st0.points))
    assert(rows(loaded.counts) == rows(st0.counts))
    assert(rows(loaded.coreComp) == rows(st0.coreComp))
    assert(rows(loaded.borderPairs) == rows(st0.borderPairs))
    // reload-then-fold == in-memory fold == from-scratch over survivors
    val del = pts.map(_._1).filter(_ % 5 == 0)
    val fromLoaded = labelsOf(IncrementalDbscan.labels(
      IncrementalDbscan.pin(IncrementalDbscan.removePoints(loaded,
        del.toDF("id"), "id", 1.0, 4, dims))))
    val want = labelsOf(Dbscan.run(df(pts.filterNot(p =>
      del.contains(p._1))), "id", "vec", 1.0, 4, dims))
    assert(fromLoaded == want)
    // parameter drift is refused — each mismatch names both sides
    intercept[IllegalArgumentException] {
      IncrementalDbscan.loadState(spark, dir, 2.0, 4, dims)
    }
    intercept[IllegalArgumentException] {
      IncrementalDbscan.loadState(spark, dir, 1.0, 5, dims)
    }
    intercept[IllegalArgumentException] {
      IncrementalDbscan.loadState(spark, dir, 1.0, 4, Nil)
    }
    // a dir without a manifest (interrupted save) is refused
    val empty = java.nio.file.Files
      .createTempDirectory("incdbscan_nostate").toString
    intercept[IllegalArgumentException] {
      IncrementalDbscan.loadState(spark, empty, 1.0, 4, dims)
    }
    // RE-SAVE over an existing state: the old manifest is invalidated
    // BEFORE any data table is replaced, so a crash mid-re-save leaves
    // a manifest-less dir that loadState refuses — never a stale
    // manifest over half-replaced tables. Simulate the crash with a
    // poisoned points table that throws inside the FIRST data write:
    val survivors = pts.filterNot(p => del.contains(p._1))
    val st1 = IncrementalDbscan.pin(IncrementalDbscan.init(df(survivors),
      "id", "vec", 1.0, 4, dims))
    val mDir = new java.io.File(s"$dir/manifest")
    assert(mDir.exists)
    val boom = org.apache.spark.sql.functions.udf { (i: Long) =>
      throw new RuntimeException("simulated crash mid-save"); i: Long
    }
    val poisoned = st1.copy(points =
      st1.points.withColumn("id", boom(org.apache.spark.sql.functions
        .col("id"))))
    intercept[Exception] {
      IncrementalDbscan.saveState(poisoned, dir, 1.0, 4, dims)
    }
    assert(!mDir.exists,
      "old manifest survived into the crashed re-save window")
    intercept[IllegalArgumentException] {
      IncrementalDbscan.loadState(spark, dir, 1.0, 4, dims)
    }
    // a clean re-save then repairs the dir and reloads the new state
    IncrementalDbscan.saveState(st1, dir, 1.0, 4, dims)
    val reloaded = IncrementalDbscan.loadState(spark, dir, 1.0, 4, dims)
    assert(rows(reloaded.points) == rows(st1.points))
    assert(labelsOf(IncrementalDbscan.labels(reloaded)) ==
      labelsOf(Dbscan.run(df(survivors), "id", "vec", 1.0, 4, dims)))
    graft.Workloads.deleteTree(dir)
    graft.Workloads.deleteTree(empty)
  }

  test("clusterMaintainStream resumes from a loadState'd clustering: " +
      "post-restart folds equal the batch clustering of the live set") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(71)
    val pts = (0 until 100).map { i =>
      val c = if (i % 2 == 0) 0.0 else 7.0
      (i.toLong, Seq((c + rnd.nextGaussian() * 0.4).toFloat,
        (c + rnd.nextGaussian() * 0.4).toFloat))
    }.toMap
    val base = pts.filter(_._1 < 70).toSeq
    val (eps, minPts, dims) = (1.0, 3, Seq(0, 1))
    // "yesterday": init + save, then the session's state dies
    val dir = java.nio.file.Files
      .createTempDirectory("incdbscan_resume").toString
    IncrementalDbscan.saveState(
      IncrementalDbscan.pin(IncrementalDbscan.init(df(base), "id", "vec",
        eps, minPts, dims)), dir, eps, minPts, dims)
    // "today": the maintain stream starts from the RELOADED state
    val st = IncrementalDbscan.loadState(spark, dir, eps, minPts, dims)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long, Seq[Float])]
    var last = Map.empty[Long, Int]
    val q = graft.streaming.EventPipeline.clusterMaintainStream(st,
      mem.toDF().toDF("op", "id", "vec"), "op", "id", "vec", eps,
      minPts, dims) { (labels, _) => last = labelsOf(labels) }
    val adds = pts.filter(_._1 >= 70).toSeq
    val dels = Seq(4L, 8L, 12L)
    try {
      mem.addData(dels.map(i => ("delete", i, Seq.empty[Float])) ++
        adds.map { case (i, v) => ("insert", i, v) }: _*)
      q.processAllAvailable()
    } finally q.stop()
    val live = (pts -- dels)
    assert(last == labelsOf(Dbscan.run(df(live.toSeq), "id", "vec",
      eps, minPts, dims)))
  }

  test("addPoints: random blobs over three batches match the full run") {
    val rnd = new scala.util.Random(23)
    val centers = Seq((0.0, 0.0), (10.0, 0.0), (5.0, 8.0))
    val pts = (0 until 240).map { i =>
      if (i % 8 == 7) // noise
        (i.toLong, Seq((rnd.nextDouble() * 30 - 5).toFloat,
          (rnd.nextDouble() * 30 - 10).toFloat))
      else {
        val (cx, cy) = centers(i % 3)
        (i.toLong, Seq((cx + rnd.nextGaussian() * 0.5).toFloat,
          (cy + rnd.nextGaussian() * 0.5).toFloat))
      }
    }
    val batches = Seq(pts.filter(_._1 % 3 == 0), pts.filter(_._1 % 3 == 1),
      pts.filter(_._1 % 3 == 2))
    checkEqual(batches, eps = 1.0, minPts = 4, dims = Seq(0, 1))
  }

  test("addPoints: an old non-core point promoted to core by the batch") {
    // base: p and q are mutual neighbors but 2 < minPts=3 -> both noise
    val base = Seq(1L -> Seq(0.0f, 0.0f), 2L -> Seq(0.5f, 0.0f))
    // r is within eps of both -> everyone reaches 2 neighbors + self = 3
    val batch = Seq(3L -> Seq(0.25f, 0.4f))
    Thresholds.foreach { thr =>
      var st = IncrementalDbscan.init(df(base), "id", "vec", 1.0, 3, Seq(0),
        thr)
      assert(labelsOf(IncrementalDbscan.labels(st))
        == Map(1L -> 0, 2L -> 0))
      st = IncrementalDbscan.addPoints(st, df(batch), "id", "vec",
        1.0, 3, Seq(0), thr)
      val got = labelsOf(IncrementalDbscan.labels(st))
      assert(got == Map(1L -> 1, 2L -> 1, 3L -> 1))
    }
    checkEqual(Seq(base, batch), 1.0, 3, Seq(0))
  }

  test("addPoints: a bridge batch merges two standing clusters") {
    val base = Seq(1L -> Seq(0.0f), 2L -> Seq(0.5f),
      10L -> Seq(3.0f), 11L -> Seq(3.5f))
    val bridge = Seq(20L -> Seq(1.5f), 21L -> Seq(2.4f))
    Thresholds.foreach { thr =>
      var st = IncrementalDbscan.init(df(base), "id", "vec", 1.0, 2, Seq(0),
        thr)
      assert(labelsOf(IncrementalDbscan.labels(st)).values.toSet ==
        Set(1, 2))
      st = IncrementalDbscan.addPoints(st, df(bridge), "id", "vec",
        1.0, 2, Seq(0), thr)
      val got = labelsOf(IncrementalDbscan.labels(st))
      assert(got.values.toSet == Set(1)) // one merged cluster
    }
    checkEqual(Seq(base, bridge), 1.0, 2, Seq(0))
  }

  test("addPoints: brute-force path (no bucket dims) and isolated batch") {
    val base = Seq(1L -> Seq(0.0f, 0.0f), 2L -> Seq(0.2f, 0.0f),
      3L -> Seq(0.4f, 0.0f))
    val far = Seq(50L -> Seq(90.0f, 90.0f)) // connects to nothing
    checkEqual(Seq(base, far), 0.5, 2, Nil)
  }

  test("addPoints: minPts=1 makes every point core, including isolated") {
    val base = Seq(1L -> Seq(0.0f), 2L -> Seq(10.0f))
    val batch = Seq(3L -> Seq(0.5f), 4L -> Seq(20.0f))
    checkEqual(Seq(base, batch), 1.0, 1, Seq(0))
  }

  test("clusterIngestStream: every micro-batch ends at the batch clustering") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(41)
    val pts = (0 until 120).map { i =>
      val c = if (i % 2 == 0) 0.0 else 6.0
      (i.toLong, Seq((c + rnd.nextGaussian() * 0.4).toFloat,
        (c + rnd.nextGaussian() * 0.4).toFloat))
    }
    val base = pts.filter(_._1 < 40)
    val b1 = pts.filter(x => x._1 >= 40 && x._1 < 80)
    val b2 = pts.filter(_._1 >= 80)
    val (eps, minPts, dims) = (1.0, 3, Seq(0, 1))
    val st0 = IncrementalDbscan.init(df(base), "id", "vec", eps, minPts, dims)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Float])]
    val got = scala.collection.mutable.Map.empty[Long, Map[Long, Int]]
    val q = graft.streaming.EventPipeline.clusterIngestStream(st0,
      mem.toDF().toDF("id", "vec"), "id", "vec", eps, minPts, dims) {
      (labels, id) => got(id) = labelsOf(labels)
    }
    val preStream = spark.sparkContext.getPersistentRDDs.keySet
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    // steady-state cache discipline: after two folds only the CURRENT
    // pinned state (4 checkpoints) may remain beyond what pre-existed —
    // per-batch delta caches and batch-1's superseded state are gone
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- preStream
    assert(leaked.size <= 4, s"leaked ${leaked.size} cached RDDs")
    assert(got.keySet == Set(0L, 1L))
    assert(got(0L) == labelsOf(
      Dbscan.run(df(base ++ b1), "id", "vec", eps, minPts, dims)))
    assert(got(1L) == labelsOf(
      Dbscan.run(df(base ++ b1 ++ b2), "id", "vec", eps, minPts, dims)))
  }

  test("clusterMaintainStream: CDC delete+insert batches track the " +
      "live set's batch clustering") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(53)
    val pts = (0 until 120).map { i =>
      val c = if (i % 2 == 0) 0.0 else 6.0
      (i.toLong, Seq((c + rnd.nextGaussian() * 0.4).toFloat,
        (c + rnd.nextGaussian() * 0.4).toFloat))
    }.toMap
    val base = pts.filter(_._1 < 60).toSeq
    val adds1 = pts.filter(x => x._1 >= 60 && x._1 < 90).toSeq
    val dels1 = Seq(2L, 4L, 6L, 8L) // retract from the even blob
    // batch 2: takedown-then-replace — id 10 deleted AND re-inserted
    // at a new location, plus the last fresh points
    val adds2 = pts.filter(_._1 >= 90).toSeq :+
      (10L -> Seq(6.2f, 6.2f))
    val dels2 = Seq(1L, 3L, 10L)
    val (eps, minPts, dims) = (1.0, 3, Seq(0, 1))
    val st0 = IncrementalDbscan.init(df(base), "id", "vec", eps, minPts,
      dims)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long, Seq[Float])]
    val got = scala.collection.mutable.Map.empty[Long, Map[Long, Int]]
    val q = graft.streaming.EventPipeline.clusterMaintainStream(st0,
      mem.toDF().toDF("op", "id", "vec"), "op", "id", "vec", eps,
      minPts, dims) { (labels, id) => got(id) = labelsOf(labels) }
    def ch(dels: Seq[Long], adds: Seq[(Long, Seq[Float])]) =
      dels.map(i => ("delete", i, Seq.empty[Float])) ++
        adds.map { case (i, v) => ("insert", i, v) }
    try {
      mem.addData(ch(dels1, adds1): _*); q.processAllAvailable()
      mem.addData(ch(dels2, adds2): _*); q.processAllAvailable()
    } finally q.stop()
    assert(got.keySet == Set(0L, 1L))
    val live1 = (base.toMap -- dels1) ++ adds1
    assert(got(0L) == labelsOf(
      Dbscan.run(df(live1.toSeq), "id", "vec", eps, minPts, dims)))
    val live2 = (live1 -- dels2) ++ adds2
    assert(got(1L) == labelsOf(
      Dbscan.run(df(live2.toSeq), "id", "vec", eps, minPts, dims)))
  }

  test("clusterMaintainStream: state memory is bounded by the LIVE set " +
      "across a long CDC run (the day-scale contract)") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.catalog.clearCache() // isolate this stream's blocks
    val rnd = new scala.util.Random(71)
    def mk(i: Long) = i -> Seq(
      ((i % 2) * 6.0 + rnd.nextGaussian() * 0.4).toFloat,
      ((i % 2) * 6.0 + rnd.nextGaussian() * 0.4).toFloat)
    val (eps, minPts, dims) = (1.0, 3, Seq(0, 1))
    val st0 = IncrementalDbscan.pin(IncrementalDbscan.init(
      df((0L until 120L).map(mk)), "id", "vec", eps, minPts, dims))
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long, Seq[Float])]
    var batches = 0L
    val q = graft.streaming.EventPipeline.clusterMaintainStream(st0,
      mem.toDF().toDF("op", "id", "vec"), "op", "id", "vec", eps,
      minPts, dims) { (labels, _) => labels.count(); batches += 1 }
    def cachedBytes: Long =
      spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum
    val sizes = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    try {
      // 10 triggers of constant-churn CDC: insert 30 fresh ids, delete
      // the 30 oldest — the LIVE set stays 120 points while 300 rows
      // flow through. The day-scale contract: state blocks track the
      // live set, not the stream length (the per-trigger sweep in
      // clusterFoldStream releases everything reachable only from the
      // previous state).
      for (t <- 0 until 10) {
        val lo = t * 30L
        val fresh = (120L + lo until 150L + lo).map(mk)
        mem.addData((lo until lo + 30L)
          .map(i => ("delete", i, Seq.empty[Float])) ++
          fresh.map { case (i, v) => ("insert", i, v) }: _*)
        q.processAllAvailable()
        sizes += ((spark.sparkContext.getPersistentRDDs.size, cachedBytes))
      }
    } finally q.stop()
    assert(batches == 10L)
    val (regAfter1, bytesAfter1) = sizes.head
    val (regAfterN, bytesAfterN) = sizes.last
    // block registry flat: no per-trigger leak survives the sweep
    assert(regAfterN <= regAfter1 + 2,
      s"cache registry grew across triggers: $sizes")
    // cached bytes track the (constant) live set, not the 10x stream:
    // allow 2x headroom for layout jitter, nothing near linear growth
    assert(bytesAfterN <= bytesAfter1 * 2 + (64 << 10),
      s"state bytes grew across triggers: $sizes")
  }

  test("clusterMaintainStream: unknown AND NULL op values fail the " +
      "batch loudly (never silently dropped)") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = Seq(1L -> Seq(0.0f), 2L -> Seq(0.2f), 3L -> Seq(0.4f))
    val st0 = IncrementalDbscan.init(df(base), "id", "vec", 1.0, 2, Seq(0))
    def runWith(op: Option[String]): Throwable = {
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Seq[Float])]
      // op arrives as a separately-built column so it can be NULL
      import org.apache.spark.sql.functions.{lit => flit}
      val changes = mem.toDF().toDF("id", "vec")
        .withColumn("op", op.map(flit(_)).getOrElse(
          flit(null).cast("string")))
      val q = graft.streaming.EventPipeline.clusterMaintainStream(st0,
        changes, "op", "id", "vec", 1.0, 2, Seq(0)) { (_, _) => () }
      try {
        mem.addData((7L, Seq(9.0f)))
        intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q.processAllAvailable()
        }
      } finally q.stop()
    }
    def rootMsg(e: Throwable): String = {
      var c: Throwable = e
      while (c.getCause != null) c = c.getCause
      Option(c.getMessage).getOrElse("")
    }
    assert(rootMsg(runWith(Some("upsert"))).contains("op"))
    assert(rootMsg(runWith(None)).contains("op"))
  }

  test("addPoints: repeated batches keep border attachment minimal-comp") {
    // border point 5 sits between two cores from different clusters —
    // label must follow the MIN component, exactly like Dbscan.run
    val rnd = new scala.util.Random(7)
    val cloud = (0 until 60).map { i =>
      (i.toLong, Seq((rnd.nextDouble() * 6).toFloat,
        (rnd.nextDouble() * 2).toFloat))
    }
    checkEqual(Seq(cloud.filter(_._1 < 20), cloud.filter(x =>
      x._1 >= 20 && x._1 < 40), cloud.filter(_._1 >= 40)),
      eps = 0.6, minPts = 3, dims = Seq(0, 1))
  }

  test("tile fold: 4ε-floor tiles and a row cap that forces splits, adds " +
      "and removes interleaved") {
    val rnd = new scala.util.Random(43)
    val centers = Seq((0.0, 0.0), (10.0, 0.0), (5.0, 8.0))
    val pts = (0 until 240).map { i =>
      if (i % 8 == 7)
        (i.toLong, Seq((rnd.nextDouble() * 30 - 5).toFloat,
          (rnd.nextDouble() * 30 - 10).toFloat))
      else {
        val (cx, cy) = centers(i % 3)
        (i.toLong, Seq((cx + rnd.nextGaussian() * 0.5).toFloat,
          (cy + rnd.nextGaussian() * 0.5).toFloat))
      }
    }
    val initB = pts.filter(_._1 % 3 != 2)
    val ops = Seq(Right(initB.map(_._1).filter(_ % 7 == 0)),
      Left(pts.filter(_._1 % 3 == 2)),
      Right(pts.map(_._1).filter(id => id % 11 == 3 && id % 7 != 0)))
    // 4ε-wide tiles (the floor) with no row cap, then 16ε-wide tiles
    // whose 12-row cap halves them down to the floor
    checkTiled(initB, ops, 1.0, 4, Seq(0, 1), tileWidth = 4.0,
      maxTileRows = Long.MaxValue)
    checkTiled(initB, ops, 1.0, 4, Seq(0, 1), tileWidth = 16.0,
      maxTileRows = 12L)
    checkTiled(initB, ops, 1.0, 1, Seq(0, 1), tileWidth = 4.0,
      maxTileRows = 12L) // minPts = 1: every point is a core
  }

  test("tile fold: a removal splits a component spanning 8 tiles; the " +
      "side no removed point touches re-solves too") {
    // one chain over x in [0, 30] on 4-wide tiles, ids ascending with x.
    // Removing x = 25 and 25.5 cuts it at a 1.5 gap: only the tiles
    // [20, 24) and [24, 28) lie within 2ε of the cut, while the left
    // side's min id (x = 0) sits five tiles away
    val pts = chain(0.0, 30.0, 0L)
    val cut = pts.filter(p => p._2.head == 25.0f || p._2.head == 25.5f)
      .map(_._1)
    assert(cut.size == 2)
    checkTiled(pts, Seq(Right(cut)), 1.0, 3, Seq(0), tileWidth = 4.0,
      maxTileRows = Long.MaxValue)
    checkEqualOps(pts, Seq(Right(cut)), 1.0, 3, Seq(0))
  }

  test("tile fold: an add merges two standing components whose min ids " +
      "lie outside the touched tiles") {
    // chains over [0, 10] and [12, 22] on 4-wide tiles; x = 11 bridges
    // them and touches only the tiles [8, 12) and [12, 16). Both min ids
    // sit at the far ends: id 0 at x = 0, id 80 at x = 22
    val left = chain(0.0, 10.0, 0L)
    val right = chain(12.0, 22.0, 0L).map { case (i, v) => (100L - i, v) }
    val bridge = Seq(5000L -> Seq(11.0f))
    checkTiled(left ++ right, Seq(Left(bridge)), 1.0, 3, Seq(0),
      tileWidth = 4.0, maxTileRows = Long.MaxValue)
    checkEqual(Seq(left ++ right, bridge), 1.0, 3, Seq(0))
  }

  test("labels == Dbscan.run at minClusterSize 1, 2 and 4, fused and " +
      "distributed") {
    // on a line at ε = 1: a 6-point chain (ids 50-55), a 2-point
    // component (ids 20, 21), a 3-point one (ids 30-32) and a lone
    // point (id 5), so ascending comps order the clusters by min id
    // 5, 20, 30, 50 and minClusterSize 4 keeps the chain alone
    val line = Seq(5L -> 40.0, 20L -> 20.0, 21L -> 20.5, 30L -> 30.0,
      31L -> 30.5, 32L -> 31.0) ++ (0 until 6).map(i => (50L + i, i * 0.5))
    val pts = line.map { case (id, x) => id -> Seq(x.toFloat) }
    for (minPts <- Seq(1, 2); thr <- Thresholds) {
      val st = IncrementalDbscan.pin(IncrementalDbscan.init(df(pts), "id",
        "vec", 1.0, minPts, Seq(0), thr))
      for (m <- Seq(1, 2, 4)) {
        val clue = s"minPts=$minPts localThreshold=$thr minClusterSize=$m"
        val got = labelsOf(IncrementalDbscan.labels(st, m))
        assert(got == labelsOf(Dbscan.run(df(pts), "id", "vec", 1.0, minPts,
          Seq(0), minClusterSize = m)), clue)
        // ids 1..K in comp order; components under m are noise
        val sizes = Map(5L -> 1, 20L -> 2, 30L -> 3, 50L -> 6)
          .filter { case (c, n) => n >= m && (c != 5L || minPts == 1) }
        val want = sizes.keys.toSeq.sorted.zipWithIndex.toMap
        pts.foreach { case (id, _) =>
          val comp = Seq(50L, 30L, 20L, 5L).find(_ <= id).get
          assert(got(id) == want.get(comp).fold(0)(_ + 1), s"$clue id=$id")
        }
      }
    }
  }

  test("labels on a pinned distributed state: one described job, fewer " +
      "jobs with the caller's action than the 5 of the windowed labels, " +
      "nothing left cached") {
    val pts = Workloads.synthPoints(spark, 10000, k = 5, dims = 5)
    val dims = EpsilonJoin.pickBucketDims(pts, "features", 1.0)
    val st = IncrementalDbscan.pin(IncrementalDbscan.init(pts, "id",
      "features", 1.0, 5, dims, localThreshold = 0L))
    // the fold's own caches are not the labels' concern
    spark.catalog.clearCache()
    var out: org.apache.spark.sql.DataFrame = null
    assert(jobsByDesc { out = IncrementalDbscan.labels(st) } ==
      Map("incr-dbscan: cluster sizes" -> 1))
    val jobs = jobsOf(IncrementalDbscan.labels(st).count())
    assert(jobs < 5, s"labels(st).count() ran $jobs jobs")
    val left = persistedBy(IncrementalDbscan.labels(st).count())
    assert(left.isEmpty, left)
    assert(spark.sharedState.cacheManager.isEmpty,
      "labels left a cached plan behind")
    assert(labelsOf(out) == labelsOf(Dbscan.run(pts, "id", "features", 1.0,
      5, dims)))
  }
}
