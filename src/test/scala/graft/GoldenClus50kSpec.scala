package graft

import graft.operators.{Dbscan, EpsilonJoin}
import graft.sources.BinaryPoints

/** End-to-end golden test on the reference's headline dataset:
  * clus50k.bin (50,000 × 10-d), eps=25, minPts=5 ⇒ 51 clusters,
  * 46,914 points in clusters, 3,086 noise — the trustworthy 2-rank
  * reference result (`Progress-5-Nov-19.txt:10-14`, `manyTests.py:263-266`;
  * reference runs at ≥4 ranks under-count and are NOT goldens).
  * The 2 MB file is not in the repository, so the test runs only where
  * `/root/reference/clus50k.bin` exists and is canceled elsewhere.
  */
class GoldenClus50kSpec extends SparkSpec {

  test("clus50k golden: 51 clusters / 46914 in clusters / 3086 noise") {
    val path = "/root/reference/clus50k.bin"
    assume(new java.io.File(path).isFile, s"$path is absent")
    val df = BinaryPoints.read(spark, path)
    val dims = EpsilonJoin.pickBucketDims(df, "features", 25.0)
    val labels = Dbscan.run(df, "id", "features", 25.0, 5, dims)
    val st = Dbscan.stats(labels).collect()(0)
    val (inClusters, noise, total, nClusters) =
      (st.getLong(0), st.getLong(1), st.getLong(2), st.getLong(3))
    assert(total == 50000)
    assert(nClusters == 51, s"clusters: got $nClusters want 51")
    assert(inClusters == 46914, s"in-cluster: got $inClusters want 46914")
    assert(noise == 3086, s"noise: got $noise want 3086")
  }
}
