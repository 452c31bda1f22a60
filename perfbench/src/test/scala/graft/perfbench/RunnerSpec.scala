package graft.perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

class RunnerSpec extends BenchSparkSpec {
  /** Fails the check of the runs in `bad`, throws in the runs in `boom`,
    * and changes its output from run `drift` on (1-based run count). */
  final class FakeWorkload(bad: Set[Int], boom: Set[Int], drift: Int)
      extends BenchWorkload {
    val name = "fake"
    def seedNote = "unused"
    var runs = 0
    def prepare(spark: SparkSession, seed: Long): Long = 10L
    def run(t: Tracer): Outcome = {
      runs += 1
      if (boom(runs)) throw new IllegalStateException("boom")
      spark.range(10).count()
      Outcome(Seq("x" -> (if (runs >= drift) "2" else "1")))
    }
    def check(o: Outcome): Option[String] =
      if (bad(runs)) Some("bad output") else None
    def layers(v: RunView): Map[String, Double] = Map.empty
  }

  private def execute(w: FakeWorkload, seconds: Double): Result = {
    val work = Files.createTempDirectory("perfbench-test").toString
    new Runner(spark, Main.Opts("fake", 1L, seconds, trace = false, work),
      1.0, w).execute()
  }

  private def field(json: String, k: String): String =
    s""""$k":([^,}]+)""".r.findFirstMatchIn(json).get.group(1)

  test("a clean run attempts the cold run plus the warm minimum") {
    val w = new FakeWorkload(Set.empty, Set.empty, Int.MaxValue)
    val r = execute(w, seconds = 0.0)
    assert(r.failed == 0)
    assert(field(r.json, "attempted").toInt == 1 + Main.MinWarm)
    assert(field(r.json, "correct") == "true")
    assert(Metric.EndToEnd.forall { case (m, _) => r.json.contains(s""""$m":""") })
  }

  test("every run counts: failed checks, exceptions and drift fail runs") {
    val w = new FakeWorkload(bad = Set(2), boom = Set(3), drift = 4)
    val r = execute(w, seconds = 2.0)
    val attempted = field(r.json, "attempted").toInt
    assert(attempted == w.runs && attempted >= 4)
    // run 2 (check), run 3 (exception), runs 4.. (output changed)
    assert(r.failed == 2 + (attempted - 3))
    assert(field(r.json, "failed").toInt == r.failed)
    assert(field(r.json, "correct") == "false")
    assert(r.lines.exists(_.contains("boom")))
    assert(r.lines.exists(_.contains("output digest changed")))
  }
}
