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
}
