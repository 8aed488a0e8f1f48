package graft

import org.apache.spark.sql.functions._

/** Dev-only: stage-level timing of dense vs OPH signatures on the
  * longdoc heavy fixture (the d11/d3 longdoc entry pair). */
object OphProfile {
  def main(args: Array[String]): Unit = {
    val spark = Tables.localSession("graft-oph-profile", 32)
    HeavyBench.sizePartitions(spark)
    val dir = HeavyBench.ensureHeavyDir(spark, "/root/testdata/sf0.1")
    val docs = spark.read.parquet(s"$dir/longdoc/documents.parquet")
    import graft.llm.Dedup
    def time(name: String)(f: => Unit): Unit = {
      Bench.reap(spark)
      val t0 = System.nanoTime()
      f
      println(f"$name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    def drain(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // warm
    drain(Dedup.minhashSignaturePortable(docs.limit(100), "doc_id", "text"))
    for (rep <- 1 to 3) {
      time(s"rep$rep oph sig") {
        drain(Dedup.minhashOphSignature(docs, "doc_id", "text", 128, 1, false))
      }
      time(s"rep$rep dense sig") {
        drain(Dedup.signatureTable(docs, "doc_id", "text", 1, 128, false))
      }
      time(s"rep$rep oph full (probe off)") {
        drain(Dedup.minhashLshPairsOph(docs, "doc_id", "text",
          threshold = 0.8, maxBucketSize = Some(100), regimeSampleDocs = 0))
      }
      time(s"rep$rep dense full") {
        drain(Dedup.minhashLshPairs(docs, "doc_id", "text",
          threshold = 0.8, maxBucketSize = Some(100)))
      }
      time(s"rep$rep regime probe") {
        Dedup.ophRegimeProbe(docs, "doc_id", "text", 1, 128, 2048)
      }
    }
    spark.stop()
  }
}
