package graft.perfbench

import graft.Workloads
import org.apache.spark.sql.DataFrame

class InputsSpec extends BenchSparkSpec {
  private def same(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("the default seed reproduces the engine's generators bit for bit") {
    assert(same(Inputs.points(spark, 500, 25, 5, Inputs.DefaultSeed),
      Workloads.synthPoints(spark, 500, 25, 5)))
    assert(same(Inputs.embeddings(spark, 500, 32, 64, Inputs.DefaultSeed),
      Workloads.synthEmbeddings(spark, 500, 32, 64)))
  }

  test("another seed draws other inputs of the same shape") {
    val a = Inputs.points(spark, 500, 25, 5, 7L)
    assert(!same(a, Inputs.points(spark, 500, 25, 5, Inputs.DefaultSeed)))
    assert(same(a, Inputs.points(spark, 500, 25, 5, 7L)))
    assert(a.count() == 500)
  }
}
