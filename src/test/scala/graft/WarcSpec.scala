package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Warc

/** The WARC codec contract (ISO 28500): mux→parse round-trip, HTTP
  * message splitting, gzip-member chunking through the Spark scan,
  * and parse-or-stop totality on truncation/corruption (crawl files
  * truncate; a task must never die on one). */
class WarcSpec extends AnyFunSuite {
  import TestSpark.spark

  private def respRecord(id: Long, status: Int, body: String) =
    Warc.encodeRecord("response", s"http://example.org/doc/$id",
      "application/http;msgtype=response",
      Warc.encodeHttpResponse(status, if (status == 200) "OK" else "Not Found",
        "text/html", body.getBytes("UTF-8")), s"r-$id")

  test("mux→parse round-trip: types, uris, statuses, bodies exact") {
    val bytes =
      Warc.encodeRecord("warcinfo", null, "application/warc-fields",
        "software: x".getBytes("UTF-8"), "i") ++
        respRecord(1, 200, "hello body one") ++
        Warc.encodeRecord("request", "http://example.org/doc/1",
          "application/http;msgtype=request",
          "GET /doc/1 HTTP/1.1\r\nHost: example.org\r\n\r\n"
            .getBytes("UTF-8"), "q-1") ++
        respRecord(2, 404, "missing page two")
    val recs = Warc.parse(bytes)
    assert(recs.map(_.warcType) ==
      Seq("warcinfo", "response", "request", "response"))
    assert(recs(0).targetUri == null &&
      recs(0).contentType == "application/warc-fields" &&
      recs(0).httpStatus == -1 &&
      new String(recs(0).payload, "UTF-8") == "software: x")
    assert(recs(1).httpStatus == 200 && recs(1).contentType == "text/html" &&
      new String(recs(1).payload, "UTF-8") == "hello body one" &&
      recs(1).targetUri == "http://example.org/doc/1")
    assert(recs(2).httpStatus == -1 && recs(2).contentType == null &&
      recs(2).payload.isEmpty)
    assert(recs(3).httpStatus == 404 &&
      new String(recs(3).payload, "UTF-8") == "missing page two")
  }

  test("a record whose Content-Length escapes the buffer is dropped; prior records survive") {
    val good = respRecord(1, 200, "complete first record body")
    val bad = respRecord(2, 200, "this one will be cut")
    val truncated = good ++ bad.dropRight(12)
    val recs = Warc.parse(truncated)
    assert(recs.length == 1)
    assert(new String(recs.head.payload, "UTF-8") ==
      "complete first record body")
    // Totality at EVERY truncation length of the two-record stream.
    val full = good ++ bad
    (0 to full.length).foreach { len =>
      val r = Warc.parse(java.util.Arrays.copyOf(full, len))
      assert(r.length <= 2)
    }
  }

  test("single-byte corruption never throws (parse-or-stop)") {
    val full = respRecord(1, 200, "some body text here") ++
      respRecord(2, 404, "and a second one")
    (0 until full.length).foreach { pos =>
      val m = full.clone(); m(pos) = (m(pos) ^ 0x5a).toByte
      Warc.parse(m) // any prefix of records, never a throw
    }
    // Junk that leads with the magic but degenerates.
    assert(Warc.parse("WARC/1.0\r\nContent-Length: 999\r\n\r\nxx"
      .getBytes("UTF-8")).isEmpty)
    assert(Warc.parse("WARC/1.0 no headers at all".getBytes("UTF-8")).isEmpty)
    assert(Warc.parse(Array.emptyByteArray).isEmpty)
  }

  test("distributed sink round-trips through the scan across partitions") {
    import org.apache.spark.sql.functions._
    import TestSpark.spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("warcw")
    try {
      val in = (1L to 20L).map(i =>
        (s"http://x.org/p/$i", if (i % 5 == 0) 404 else 200,
          "text/plain", s"payload number $i".getBytes("UTF-8")))
        .toDF("target_uri", "http_status", "content_type", "body")
        .repartition(3)
      Warc.writeResponses(in, dir.toString)
      // one file per non-empty partition, each read back whole
      val back = Warc.records(spark, dir.toString + "/*.warc.gz")
        .select(col("target_uri"), col("http_status"),
          col("payload").cast("string"))
        .as[(String, Int, String)].collect().toSet
      assert(back == (1L to 20L).map(i =>
        (s"http://x.org/p/$i", if (i % 5 == 0) 404 else 200,
          s"payload number $i")).toSet)
      // A glob in the last segment reads its directory through a file
      // name filter: the same files, the same rows as the plain dir.
      def rows(path: String) = Warc.records(spark, path)
        .select(col("path"), col("target_uri"), col("payload").cast("string"))
        .as[(String, String, String)].collect().sorted.toSeq
      assert(rows(dir.toString + "/*.warc.gz") == rows(dir.toString))
    } finally graft.queries.Fixtures.deleteRecursively(dir)
  }

  test("the split is LAZY: the first record is served before the file is fully read") {
    // 1000 gzip members (large enough that the split's fixed 64 KB
    // readahead buffers are a small fraction of the file); a counting
    // stream under the split observes how many compressed bytes the
    // iterator actually pulled. Consuming one record must NOT have
    // read the whole container — the O(largest-record) memory
    // contract the 1 GB-gz production WARC size depends on (a
    // whole-file split would read to EOF first).
    val bos = new java.io.ByteArrayOutputStream()
    (1 to 1000).foreach(i =>
      bos.write(Warc.gzipMember(respRecord(i, 200, s"body $i " * 50))))
    val all = bos.toByteArray
    var readSoFar = 0L
    val counting = new java.io.FilterInputStream(
      new java.io.ByteArrayInputStream(all)) {
      override def read(): Int = {
        val b = super.read(); if (b >= 0) readSoFar += 1; b
      }
      override def read(buf: Array[Byte], off: Int, len: Int): Int = {
        val k = super.read(buf, off, len); if (k > 0) readSoFar += k; k
      }
    }
    val it = Warc.streamRecords(counting, gzipped = true)
    val first = it.next()
    assert(first.targetUri == "http://example.org/doc/1")
    assert(readSoFar < all.length / 2,
      s"read $readSoFar of ${all.length} compressed bytes for one record")
    // and the rest still arrive complete
    assert(it.size == 999)
  }

  test("gzip truncation keeps the already-parsed prefix (annex-D member semantics)") {
    val m1 = Warc.gzipMember(respRecord(1, 200, "first member body"))
    val m2 = Warc.gzipMember(respRecord(2, 200, "second member body"))
    val m3 = Warc.gzipMember(respRecord(3, 200, "third member body"))
    val full = m1 ++ m2 ++ m3
    // Cut anywhere inside member 3: members 1-2 must still parse.
    // (A cut inside m3's 8-byte gzip TRAILER can still yield record 3
    // — its deflate data completed before the fault; parse-or-stop
    // guarantees the prefix, it does not promise to discard a payload
    // that arrived whole.)
    Seq(1, m3.length / 2, m3.length - 1).foreach { cut =>
      val trunc = java.util.Arrays.copyOf(full, m1.length + m2.length + cut)
      val recs = Warc.streamRecords(
        new java.io.ByteArrayInputStream(trunc), gzipped = true).toSeq
      assert(recs.length >= 2 && recs.length <= 3 &&
        recs.map(_.targetUri).take(2) == Seq("http://example.org/doc/1",
          "http://example.org/doc/2"), s"cut=$cut got ${recs.length}")
    }
    // Truncation at EVERY byte length never throws and never emits
    // more records than completed members.
    (0 to full.length).foreach { len =>
      val recs = Warc.streamRecords(
        new java.io.ByteArrayInputStream(java.util.Arrays.copyOf(full, len)),
        gzipped = true).toSeq
      assert(recs.length <= 3)
    }
  }

  test("gzip-member chunking: per-member .warc.gz reads whole through the scan") {
    val dir = java.nio.file.Files.createTempDirectory("warc")
    try {
      val f = dir.resolve("two.warc.gz")
      val out = java.nio.file.Files.newOutputStream(f)
      out.write(Warc.gzipMember(respRecord(7, 200, "first gzip member")))
      out.write(Warc.gzipMember(respRecord(8, 200, "second gzip member")))
      out.close()
      val rows = Warc.records(spark, f.toString)
        .select("target_uri", "http_status")
        .collect().map(r => (r.getString(0), r.getInt(1))).sorted.toSeq
      assert(rows == Seq(("http://example.org/doc/7", 200),
        ("http://example.org/doc/8", 200)))
    } finally graft.queries.Fixtures.deleteRecursively(dir)
  }
}
