package graft

import graft.operators.{Dbscan, DbscanEstimator, PointSink}
import graft.sources.BinaryPoints

/** Drop-in CLI for the reference's `mpi_dbscan` (`mpi_main.cpp:31-44`:
  * `-i file -b -m minPts -e eps [-o out] [-p pct]`), minus MPI: the same
  * flags against the same binary files, emitting the same stdout lines the
  * reference's harness parses (`dbscan.cpp:366-367` stats line,
  * `mpi_main.cpp` cluster-count line; parsed by `manyTests.py:126-206`).
  *
  * Usage: sbt "runMain graft.DbscanMain -i /root/reference/clus50k.bin -m 5 -e 25"
  */
object DbscanMain {
  def main(args: Array[String]): Unit = {
    var input: String = null
    var out: String = null
    var eps = -1.0
    var minPts = -1
    var pct = 1.0
    var i = 0
    def value(flag: String): String = {
      if (i + 1 >= args.length) sys.error(s"flag $flag is missing its value")
      args(i + 1)
    }
    while (i < args.length) {
      args(i) match {
        case "-i" => input = value("-i"); i += 2
        case "-o" => out = value("-o"); i += 2
        case "-e" => eps = value("-e").toDouble; i += 2
        case "-m" => minPts = value("-m").toInt; i += 2
        case "-p" => pct = value("-p").toDouble; i += 2
        case "-b" => i += 1 // binary flag: always binary here
        case other => sys.error(s"unknown flag $other")
      }
    }
    require(input != null && eps > 0 && minPts > 0,
      "usage: -i <file.bin> -m <minPts> -e <eps> [-o out] [-p pct] [-b]")

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Sessions.start(s"local[$cpus]", cpus)

    val t0 = System.nanoTime()
    val dims = BinaryPoints.header(input)._2
    val pts = BinaryPoints.read(spark, input)
    val model = new DbscanEstimator()
      .setEps(eps).setMinPts(minPts).setSamplePct(pct)
      .setIdCol("id").setFeaturesCol("features")
      .fit(pts)
    // stats AND the -o sink both consume the labels — cache, or the -o
    // write re-runs the entire clustering
    val labels = model.labels.persist()
    val st = Dbscan.stats(labels).collect()(0)
    val secs = (System.nanoTime() - t0) / 1e9

    // the reference's parseable report lines, exactly as manyTests.py reads
    // them: 'MinPts' line → split(' ')[3] (manyTests.py:133), 'Dimensions'
    // line → split(':')[-1] (:136), 'Points' line → fields 3/5/8 (:139-164),
    // 'Total number' line → split(' ')[4] (:167), 'DBSCAN' timing line →
    // split(' ')[8] (:178-179)
    println(s"Epsilon: $eps MinPts: $minPts Percent_of_dataset_used: $pct")
    println(s"Dimensions of each point: $dims")
    println(s"Points in clusters ${st.getLong(0)} Noise ${st.getLong(1)} " +
      s"Total points ${st.getLong(2)}")
    println(s"Total number of clusters ${st.getLong(3)}")
    println(f"Parallel DBSCAN (init, local computation, and merging) took $secs%.4f seconds")

    if (out != null) {
      PointSink.toReferenceLayout(pts, labels, "id", "features", dims)
        .write.mode("overwrite").parquet(out)
    }
    spark.stop()
  }
}
