package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One-off profiler for the anchored ExactSubstr diagnostic — times
  * each phase of `duplicatedSpansAnchored` on the substr_synth1m corpus
  * (1M docs / 60M tokens, 95% unique + 5% boilerplate) so the expensive
  * stage is measured, not guessed. Not part of the bench surface. */
object SubstrProfile {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .appName("graft-substr-profile")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def t[A](name: String)(f: => A): A = {
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      val r = f
      System.err.println(
        f"[substrprof] $name%-32s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      spark.sparkContext.setJobDescription(null)
      r
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val (l, stride) = (40, 4)
    val n = sys.env.getOrElse("SPARK_GRAFT_SUBSTR_N", "1000000").toLong
    val nDup = math.max(n / 20, 100L)
    val uniq = Workloads.synthDocs(spark, n - nDup, templates = 1,
      docLen = 60, vocab = 5000, mutPct = 100)
    val dup = Workloads.synthDocs(spark, nDup,
        templates = math.max((nDup / 10).toInt, 5),
        docLen = 60, vocab = 5000, mutPct = 5)
      .select((col("doc_id") + lit(n - nDup)).as("doc_id"), col("text"))
    val docs = uniq.unionAll(dup)
    t("corpus gen (noop)")(noop(docs))
    // phase replay of duplicatedSpansAnchored's internals
    val winsAll = docs
      .filter(length(col("text")) >= l)
      .select(col("doc_id").as("id"),
        explode(sequence(lit(1), length(col("text")) - lit(l - 1)))
          .as("pos"),
        col("text").as("__t"))
      .select(col("id"), col("pos"),
        expr(s"substring(__t, pos, $l)").as("__w"))
      .select(col("id"), col("pos"), xxhash64(col("__w")).as("h1"),
        col("__w"))
    t("h1 scan only (noop)")(noop(winsAll.drop("__w")))
    val anchors = winsAll
      .filter(pmod(col("h1"), lit(stride.toLong)) === 0)
      .select(col("id"), col("pos"), col("h1"),
        xxhash64(lit("substr-dedup-2"), col("__w")).as("h2"))
    t("anchors (noop)")(noop(anchors))
    val dupKeys = anchors.groupBy("h1", "h2")
      .agg(count(lit(1)).as("__c")).filter(col("__c") > 1)
      .select("h1", "h2").hint("shuffle_hash")
    t("dupWindowKeys agg (noop)")(noop(dupKeys))
    val dupAnchors = anchors.join(dupKeys, Seq("h1", "h2"), "left_semi")
      .select(col("id"), col("pos"))
    t("dupAnchors semi-join (noop)")(noop(dupAnchors))
    // ---- phase 2 replay (the extension pass) ----
    locally {
      val ext = 8 * stride
      val sorted = graft.operators.SubstringDedup.dupPositions(anchors)
      val dupAnchors2 = t("dupPositions(anchors) (noop)") {
        noop(sorted); sorted
      }
      val hitDocs = docs
        .select(col("doc_id").as("id"), col("text").as("__t"))
        .join(dupAnchors2.select("id").distinct().hint("shuffle_hash"),
          Seq("id"), "left_semi")
      t("hitDocs (noop)")(noop(hitDocs))
      val nbrPos = graft.operators.IntervalJoin.mergeIntervals(
          dupAnchors2.select(col("id"),
            greatest(col("pos") - ext, lit(1)).as("__lo"),
            (col("pos") + ext).as("__hi")),
          Seq("id"), "__lo", "__hi")
        .select(col("id"),
          explode(sequence(col("lo"), col("hi"))).as("pos"))
      t("nbrPos merged+exploded (noop)")(noop(nbrPos))
      val nbrWins = nbrPos.join(hitDocs.hint("shuffle_hash"), Seq("id"))
        .filter(col("pos") <= length(col("__t")) - lit(l - 1))
        .select(col("id"), col("pos"),
          expr(s"substring(__t, pos, $l)").as("__w"))
        .select(col("id"), col("pos"),
          xxhash64(col("__w")).as("h1"),
          xxhash64(lit("substr-dedup-2"), col("__w")).as("h2"))
      t("nbrWins (noop)")(noop(nbrWins))
      val dup2 = graft.operators.SubstringDedup.dupPositions(nbrWins)
      t("dupPositions(nbrWins) (noop)")(noop(dup2))
    }
    // variant A: one shuffle by (h1,h2), sortWithinPartitions, linear
    // run-length pass emitting positions of multiplicity >= 2 keys —
    // no giant hash-agg tables, no second window-stream scan
    val dupAnchorsSorted = {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val sorted = anchors.repartition(col("h1"), col("h2"))
        .sortWithinPartitions("h1", "h2")
      val rdd = sorted.rdd.mapPartitions { it =>
        val buf = new scala.collection.mutable.ArrayBuffer[(Long, Int)]
        var curH1 = 0L; var curH2 = 0L; var have = false
        val out = new scala.collection.mutable.ArrayBuffer[Row]
        def flush(): Unit = {
          if (buf.length > 1) buf.foreach(p => out += Row(p._1, p._2))
          buf.clear()
        }
        it.foreach { r =>
          val h1 = r.getLong(2); val h2 = r.getLong(3)
          if (!have || h1 != curH1 || h2 != curH2) {
            flush(); curH1 = h1; curH2 = h2; have = true
          }
          buf += ((r.getLong(0), r.getInt(1)))
        }
        flush()
        out.iterator
      }
      spark.createDataFrame(rdd, StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("pos", IntegerType, nullable = false))))
    }
    t("VARIANT sort+runlength (noop)")(noop(dupAnchorsSorted))
    // variant B: window count over (h1,h2)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("h1", "h2")
    val dupAnchorsWin = anchors
      .withColumn("__c", count(lit(1)).over(w))
      .filter(col("__c") > 1)
      .select("id", "pos")
    t("VARIANT window count (noop)")(noop(dupAnchorsWin))
    val full = graft.operators.SubstringDedup.duplicatedSpansAnchored(
      docs, "doc_id", "text", l = l, stride = stride)
    t("FULL anchored pass (count)")(
      System.err.println("  spans=" + full.count()))
    spark.stop()
  }
}
