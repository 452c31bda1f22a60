package graft.perfbench

class TraceSpec extends BenchSparkSpec {
  test("the listener attributes jobs to the span that ran them") {
    val sc = spark.sparkContext
    val tracker = new JobTracker
    sc.addSparkListener(tracker)
    try {
      val tracer = new Tracer(sc)
      val (_, root) = tracer.run(0, traced = true) {
        tracer.span("a", "call") {
          sc.parallelize(1 to 10, 2).count()
          sc.parallelize(1 to 10, 3).map(_ % 2).distinct(2).count()
        }
        tracer.span("b", "isolated") {
          sc.setJobDescription("cc: level 0 contract + size probe")
          try sc.parallelize(1 to 10, 1).count()
          finally sc.setJobDescription(null)
        }
      }
      // an untraced run records only its run span
      val (_, quiet) = tracer.run(1, traced = false) {
        tracer.span("c", "call")(sc.parallelize(1 to 5, 1).count())
      }
      sc.parallelize(1 to 5, 1).count() // outside every span
      tracker.sync(sc)

      val v = new RunView(tracer, tracker, 0)
      assert(v.work("a").jobs == 2)
      assert(v.work("a").stages == 3) // distinct() adds a shuffle stage
      assert(v.work("a").tasks == 2 + 3 + 2)
      assert(v.work("a").shuffleWriteBytes > 0)
      assert(v.work("b").jobs == 1)
      assert(v.work("b").jobsByDesc.keySet ==
        Set("cc: level 0 contract + size probe"))
      assert(tracer.work(tracker, root).jobs == 3)
      assert(v.span("b").exists(_.parent.contains(root.id)))
      assert(tracer.spans.forall(_.name != "c"))
      assert(tracer.work(tracker, quiet).jobs == 1)
      assert(tracer.work(tracker, root).busyMs > 0)
    } finally sc.removeSparkListener(tracker)
  }

  test("busy time merges overlapping job intervals") {
    val g = new GroupStats
    g.jobIntervals ++= Seq((0L, 10L), (5L, 20L), (30L, 35L), (31L, 32L))
    assert(g.busyMs == 25)
  }
}
