package graft

import graft.operators.{AnnSearch, Dedup, IndexStore}
import org.apache.spark.sql.functions._

/** The unified standing-index durability protocol: commit-manifest
  * save/load for all five index families, with crash-safety (a save
  * that dies mid-write leaves a directory [[IndexStore.load]] refuses)
  * and parameter guards (serving with drifted build params throws). */
class IndexStoreSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def rows(d: org.apache.spark.sql.DataFrame) =
    d.collect().map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.toList
      case v => v
    }).toSet

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft_idx_$tag").toString

  test("generic save/load round-trips tables and guards kind/params") {
    val spark2 = spark
    import spark2.implicits._
    val a = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    val b = Seq((3L, 0.5)).toDF("id", "w")
    val dir = tmp("gen")
    IndexStore.save(dir, "demo", Map("p" -> "1", "q" -> "z"),
      Seq("alpha" -> a, "beta" -> b))
    val got = IndexStore.load(spark, dir, "demo",
      Map("p" -> "1", "q" -> "z"))
    assert(got.keySet == Set("alpha", "beta"))
    assert(rows(got("alpha")) == rows(a) && rows(got("beta")) == rows(b))
    // wrong kind, wrong params, missing params — each refused with both
    // sides named
    val eKind = intercept[IllegalArgumentException] {
      IndexStore.load(spark, dir, "other", Map("p" -> "1", "q" -> "z"))
    }
    assert(eKind.getMessage.contains("demo") &&
      eKind.getMessage.contains("other"))
    intercept[IllegalArgumentException] {
      IndexStore.load(spark, dir, "demo", Map("p" -> "2", "q" -> "z"))
    }
    intercept[IllegalArgumentException] {
      IndexStore.load(spark, dir, "demo", Map("p" -> "1"))
    }
    // a manifest-less dir (crashed first save) is refused
    intercept[IllegalArgumentException] {
      IndexStore.load(spark, tmp("empty"), "demo", Map.empty)
    }
    Workloads.deleteTree(dir)
  }

  test("save validates table names and non-empty table sets") {
    val spark2 = spark
    import spark2.implicits._
    val a = Seq((1L, "x")).toDF("id", "v")
    intercept[IllegalArgumentException] {
      IndexStore.save(tmp("bad"), "demo", Map.empty, Seq.empty)
    }
    intercept[IllegalArgumentException] {
      IndexStore.save(tmp("bad"), "demo", Map.empty,
        Seq("a" -> a, "a" -> a))
    }
    intercept[IllegalArgumentException] {
      IndexStore.save(tmp("bad"), "demo", Map.empty,
        Seq("manifest" -> a))
    }
    intercept[IllegalArgumentException] {
      IndexStore.save(tmp("bad"), "demo", Map.empty, Seq("x/y" -> a))
    }
  }

  test("crashed RE-save leaves the PREVIOUS generation loadable; a " +
      "clean re-save supersedes it and GCs old generations") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tmp("crash")
    val a = Seq((1L, 10L), (2L, 20L)).toDF("id", "v")
    IndexStore.save(dir, "demo", Map("gen" -> "1"), Seq("t" -> a))
    // poisoned table: throws inside the new generation's data write —
    // the crash lands with generation 1 still fully committed
    val boom = udf { (i: Long) =>
      throw new RuntimeException("simulated crash mid-save"); i: Long
    }
    intercept[Exception] {
      IndexStore.save(dir, "demo", Map("gen" -> "2"),
        Seq("t" -> a.withColumn("id", boom(col("id")))))
    }
    // AVAILABILITY through the replace window: the old index still
    // serves — a failed nightly re-save must not strand the restart
    // path the store exists for
    assert(rows(IndexStore.load(spark, dir, "demo",
      Map("gen" -> "1"))("t")) == rows(a),
      "previous generation lost during a crashed re-save")
    // a clean re-save commits the new generation AND GCs everything
    // older (including the crashed save's orphan staging dir)
    val b = Seq((3L, 30L)).toDF("id", "v")
    IndexStore.save(dir, "demo", Map("gen" -> "2"), Seq("t" -> b))
    assert(rows(IndexStore.load(spark, dir, "demo",
      Map("gen" -> "2"))("t")) == rows(b))
    intercept[IllegalArgumentException] {
      // params of the superseded generation no longer match
      IndexStore.load(spark, dir, "demo", Map("gen" -> "1"))
    }
    val left = new java.io.File(dir).listFiles.map(_.getName).toSet
    assert(left.count(_.startsWith("manifest-gen")) == 1 &&
      left.count(n => n.startsWith("gen") &&
        n.drop(3).forall(_.isDigit)) == 1,
      s"superseded generations not GC'd: $left")
    Workloads.deleteTree(dir)
  }

  test("minhash index: save → load → probe equals in-memory probe") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val store = d.filter(col("doc_id") % 3 =!= 2)
    val probe = d.filter(col("doc_id") % 3 === 2)
    val idx = Dedup.minHashIndex(store, "doc_id", "text", 3)
    val dir = tmp("mh")
    IndexStore.saveMinHash(dir, idx, shingleN = 3, numHashes = 64)
    val loaded = IndexStore.loadMinHash(spark, dir, 3, 64)
    val want = rows(Dedup.minHashJoinAgainst(idx, probe,
      "doc_id", "text", 3, 0.5))
    val got = rows(Dedup.minHashJoinAgainst(loaded, probe,
      "doc_id", "text", 3, 0.5))
    assert(got == want && got.nonEmpty)
    // param drift (probing with a different shingle width) is refused
    intercept[IllegalArgumentException] {
      IndexStore.loadMinHash(spark, dir, 4, 64)
    }
    Workloads.deleteTree(dir)
  }

  test("ivf / pq / ivfpq / knn-graph: save → load → serve equals " +
      "in-memory serve") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("a_id"), col("embedding").as("a_v"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_v"))
      .persist()

    // IVF
    val cents = AnnSearch.centroids(b, 8)
    val ivfDir = tmp("ivf")
    IndexStore.saveIvf(ivfDir, cents, b, nCentroids = 8, iters = 2,
      seed = 42L)
    val (lc, lv) = IndexStore.loadIvf(spark, ivfDir, 8, 2, 42L)
    assert(rows(AnnSearch.ivfTopKPrebuilt(q, lv, 5, lc, 3)) ==
      rows(AnnSearch.ivfTopKPrebuilt(q, b, 5, cents, 3)))
    intercept[IllegalArgumentException] {
      IndexStore.loadIvf(spark, ivfDir, 16, 2, 42L)
    }
    // and the ivf dir is NOT a pq dir
    intercept[IllegalArgumentException] {
      IndexStore.loadPq(spark, ivfDir, 4, 8, 2, 42L)
    }

    // PQ
    val cb = AnnSearch.pqCodebook(b, m = 4, nCentroids = 8)
    val codes = AnnSearch.pqEncode(e, "vec_id", "embedding", cb)
    val pqDir = tmp("pq")
    IndexStore.savePq(pqDir, cb, codes, m = 4, nCodes = 8, iters = 2,
      seed = 42L)
    val (lcb, lcodes) = IndexStore.loadPq(spark, pqDir, 4, 8, 2, 42L)
    assert(rows(AnnSearch.pqTopKRerank(q, b, lcodes, lcb, 5, 10)) ==
      rows(AnnSearch.pqTopKRerank(q, b, codes, cb, 5, 10)))

    // IVF-PQ
    val (c3, cb3, codes3) = AnnSearch.ivfPqIndex(b, 8, 4, 8)
    val ipDir = tmp("ivfpq")
    IndexStore.saveIvfPq(ipDir, c3, cb3, codes3, 8, 4, 8, 2, 42L)
    val (m3, m4, m5) = IndexStore.loadIvfPq(spark, ipDir, 8, 4, 8, 2, 42L)
    assert(rows(AnnSearch.ivfPqTopK(q, b, m5, m3, m4, 5, 3, 10)) ==
      rows(AnnSearch.ivfPqTopK(q, b, codes3, c3, cb3, 5, 3, 10)))

    // k-NN graph
    val g = AnnSearch.knnGraph(b, k = 10, iters = 1, buildK = 10)
    val gDir = tmp("graph")
    IndexStore.saveKnnGraph(gDir, g, k = 10, iters = 1, seed = 42L)
    val lg = IndexStore.loadKnnGraph(spark, gDir, 10, 1, 42L)
    assert(rows(AnnSearch.graphTopK(q, b, lg, 5, 10, 2, 10)) ==
      rows(AnnSearch.graphTopK(q, b, g, 5, 10, 2, 10)))

    // layered graph: all three artifacts under one manifest
    val Seq((l1, l1g)) = AnnSearch.layerGraphs(b, levelDiv = 4, k = 10,
      iters = 1, maxLevels = 1)
    val lyDir = tmp("layered")
    IndexStore.saveLayeredGraph(lyDir, g, l1, l1g, k = 10, iters = 1,
      levelDiv = 4, seed = 42L)
    val (m6, m7, m8) = IndexStore.loadLayeredGraph(spark, lyDir, 10, 1,
      4, 42L)
    assert(rows(AnnSearch.graphTopKLayeredMulti(q, b, m6, Seq((m7, m8)),
      5, 10, 2, 10)) == rows(AnnSearch.graphTopKLayeredMulti(q, b, g,
      Seq((l1, l1g)), 5, 10, 2, 10)))
    // levelDiv drift is a different layer geometry — refused
    intercept[IllegalArgumentException] {
      IndexStore.loadLayeredGraph(spark, lyDir, 10, 1, 8, 42L)
    }

    b.unpersist()
    Seq(ivfDir, pqDir, ipDir, gDir, lyDir).foreach(Workloads.deleteTree)
  }
}
