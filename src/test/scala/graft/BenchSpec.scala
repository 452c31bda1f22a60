package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("a focused run never writes the committed per-cpu artifact") {
    val artifact = "BENCH_full_c8.json"
    val tmp = System.getProperty("java.io.tmpdir")
    assert(Bench.fullOutPath(artifact, None, overridden = false) == artifact)
    val focused = Bench.fullOutPath(artifact, Some(Seq("q58")),
      overridden = false)
    assert(focused != artifact && focused.startsWith(tmp) &&
      focused.endsWith(artifact))
    // an explicit SPARK_GRAFT_BENCH_OUT is honoured, focused or not
    assert(Bench.fullOutPath("out.json", Some(Seq("q58")),
      overridden = true) == "out.json")
  }

  test("the q24 oracle reads the working directory's parquet twin") {
    val twin = new java.io.File("fixtures/t4_8k_points.parquet")
    assert(twin.exists)
    assert(SparkEntry.oracleSql("q24_binary_scan")
      .contains(s"read_parquet('${twin.getAbsolutePath}')"))
  }

  // resolution only builds closures: the directory is never read
  private val sf = "sf0.01"

  test("registry names are unique and never shadow a SparkEntry query") {
    val names = Bench.registry(sf).all.map(_._1)
    assert(names.distinct == names)
    assert(names.toSet.intersect(SparkEntry.queries.keySet).isEmpty)
  }

  test("PlanDump resolves every workload it resolved before the registry") {
    // the former PlanDump diagnostics and Explain's workload names
    // (all but pagerank_synth2m, x_shingles and x_sigs, which are gone)
    Seq("substr_synth1m", "minhash_synth1m", "ann_synth1m",
      "ann_index_rt_synth1m", "kdeps_synth200k", "textstats_synth1m",
      "curation_synth250k", "pagerank_synth10m", "dbscan_synth500k",
      "substr_anchored", "dbscan_clus50k", "dbscan_clus50k_dist",
      "dbscan_part64").foreach(n => PlanDump.resolve(sf, n))
  }

  test("PlanDump resolves every SparkEntry query name") {
    SparkEntry.queries.keys.foreach(n => PlanDump.resolve(sf, n))
  }

  test("PlanDump rejects an unknown name, naming it") {
    val e = intercept[IllegalArgumentException](
      PlanDump.resolve(sf, "no_such_query"))
    assert(e.getMessage.contains("no_such_query"))
  }
}
