package graft.sources

import java.io.{BufferedInputStream, ByteArrayInputStream, EOFException, InputStream}
import java.util.zip.GZIPInputStream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S14 — WARC record scan (ISO 28500, the container every web-crawl
  * corpus ships in: Common Crawl, heritrix output, wget --warc). The
  * S5/S6 archive discipline applied to the crawl container: one task
  * per .warc(.gz) file (paths-listing scan, a stream opened in the
  * task), a LAZY per-gzip-member record split with peak memory
  * O(largest record) — production containers are ~1 GB gz / 3-5 GB
  * raw, past any whole-file JVM array — and a plain DataFrame from
  * there on. Pairs with the HTML extractor (t16/pipe30) to make the
  * engine crawl-native end-to-end: WARC bytes → records →
  * html_extract → funnel.
  *
  * Format facts used (ISO 28500 §4): a record is a version line
  * `WARC/1.x`, CRLF-separated named headers, CRLF CRLF, then EXACTLY
  * `Content-Length` payload bytes, then CRLF CRLF before the next
  * record. `.warc.gz` files compress EACH RECORD as its own gzip
  * member (ISO 28500 annex D — the layout that makes records
  * independently seekable); java's GZIPInputStream reads concatenated
  * members natively, so the same path serves plain and per-member
  * compressed files.
  *
  * For records whose WARC Content-Type is `application/http…`
  * (response/request), the HTTP message head is split off: status
  * parsed from an `HTTP/…` status line (null for requests), the inner
  * Content-Type header surfaced, payload = the HTTP body. Other
  * records (warcinfo, metadata, …) carry the WARC-level Content-Type
  * and the raw block.
  *
  * TOTALITY: crawl files truncate — a record whose declared
  * Content-Length escapes the buffer is dropped and the scan stops at
  * it; junk between records (anything that is not a `WARC/` version
  * line after CRLF padding) ends the file's scan rather than
  * throwing. WarcSpec + a ScalaCheck property pin parse-or-stop on
  * corruption, truncation at every length, and mux→parse round-trip.
  */
object Warc {

  /** One parsed record. `httpStatus` is -1 for "none" at the codec
    * level (case-class cleanliness); the scan surfaces it as a
    * nullable int column. */
  final case class Rec(warcType: String, targetUri: String,
                       contentType: String, httpStatus: Int,
                       payload: Array[Byte])

  private val Crlf = "\r\n"

  /** Record heads are tiny (a dozen short header lines); a "head"
    * that grows past this without its closing CRLF CRLF is junk, and
    * the scan stops rather than buffering an unbounded stream. */
  private val MaxHeadBytes = 1 << 20

  /** Parse every complete record in `bytes` (already decompressed).
    * Total: malformed or truncated input yields the records parsed
    * before the fault, never a throw. Delegates to [[streamRecords]]
    * — one parser for the array and streaming paths. */
  def parse(bytes: Array[Byte]): Seq[Rec] =
    streamRecords(new ByteArrayInputStream(bytes), gzipped = false).toSeq

  /** THE record split, streaming: a lazy iterator over `raw` that
    * inflates and parses ONE record at a time — peak memory O(largest
    * record), NOT O(file). This is what lets the scan read
    * production-size containers (a standard crawl WARC is ~1 GB
    * compressed / 3-5 GB raw — far past any whole-file JVM array):
    * `.warc.gz` compresses each record as its own gzip member
    * (ISO 28500 annex D) and GZIPInputStream walks concatenated
    * members incrementally, so the iterator's working set is one
    * record's head + payload.
    *
    * Totality, same contract as the array path and extended to the
    * gzip layer: a malformed head, a payload that ends early, or a
    * gzip fault mid-member (crawl truncation) yields the records
    * parsed BEFORE the fault, never a throw — the already-emitted
    * prefix survives. The caller owns closing `raw`. */
  def streamRecords(raw: InputStream, gzipped: Boolean): Iterator[Rec] =
    new Iterator[Rec] {
      private var in: InputStream = null
      private var nextRec: Rec = null
      private var done = false

      private def init(): Unit =
        in = new BufferedInputStream(
          if (gzipped) new GZIPInputStream(raw, 64 * 1024) else raw,
          64 * 1024)

      /** Read exactly `len` bytes or return null (truncation). */
      private def readFully(len: Int): Array[Byte] = {
        val buf = new Array[Byte](len)
        var off = 0
        while (off < len) {
          val k = in.read(buf, off, len - off)
          if (k < 0) return null
          off += k
        }
        buf
      }

      private def advance(): Unit = {
        nextRec = null
        if (done) return
        try {
          if (in == null) init()
          // Inter-record padding: the spec's two CRLFs, tolerantly
          // any run of CR/LF bytes.
          var b = in.read()
          while (b == '\r' || b == '\n') b = in.read()
          if (b < 0) { done = true; return }
          // Head: bytes up to CRLF CRLF. The version-line check fires
          // as soon as five bytes are in, so junk streams stop without
          // being scanned to EOF.
          val head = new java.io.ByteArrayOutputStream(512)
          head.write(b)
          var tail = b & 0xFF // rolling last-4-bytes window
          var t2 = 0; var t3 = 0; var t4 = 0
          var headEnd = false
          while (!headEnd) {
            if (head.size == 5 &&
              !new String(head.toByteArray, "ISO-8859-1").startsWith("WARC/")) {
              done = true; return
            }
            val c = in.read()
            if (c < 0 || head.size >= MaxHeadBytes) { done = true; return }
            head.write(c)
            t4 = t3; t3 = t2; t2 = tail; tail = c
            headEnd = t4 == '\r' && t3 == '\n' && t2 == '\r' && tail == '\n'
          }
          val headStr = new String(head.toByteArray, 0, head.size - 4,
            "ISO-8859-1")
          if (!headStr.startsWith("WARC/")) { done = true; return }
          val lines = headStr.split(Crlf)
          def header(name: String): Option[String] = lines.iterator.drop(1)
            .map(_.split(":", 2))
            .collectFirst {
              case Array(k, v) if k.trim.equalsIgnoreCase(name) => v.trim
            }
          header("Content-Length").flatMap(_.toLongOption)
            .filter(l => l >= 0 && l <= Int.MaxValue - 8) match {
            case None => done = true // missing/bad/giant length: stop
            case Some(len) =>
              val block = readFully(len.toInt)
              if (block == null) done = true // truncated payload: drop
              else {
                val warcCt = header("Content-Type").getOrElse("")
                nextRec =
                  if (warcCt.startsWith("application/http"))
                    parseHttp(header("WARC-Type").getOrElse(""),
                      header("WARC-Target-URI").orNull, block)
                  else Rec(header("WARC-Type").getOrElse(""),
                    header("WARC-Target-URI").orNull,
                    if (warcCt.isEmpty) null else warcCt, -1, block)
              }
          }
        } catch {
          // Gzip/IO fault mid-record (truncated final member, bad
          // magic, CRC mismatch): stop, keeping the emitted prefix.
          case _: java.io.IOException => done = true
        }
      }

      override def hasNext: Boolean = {
        if (nextRec == null && !done) advance()
        nextRec != null
      }
      override def next(): Rec = {
        if (!hasNext) throw new NoSuchElementException("end of WARC stream")
        val r = nextRec
        nextRec = null
        r
      }
    }

  /** Split an application/http block: head up to CRLF CRLF (or the
    * whole block when absent — a truncated message is all head),
    * status from an HTTP/ status line, inner Content-Type, body. */
  private def parseHttp(warcType: String, uri: String,
                        block: Array[Byte]): Rec = {
    var he = -1
    var i = 0
    while (he < 0 && i + 3 < block.length) {
      if (block(i) == '\r' && block(i + 1) == '\n' &&
        block(i + 2) == '\r' && block(i + 3) == '\n') he = i
      i += 1
    }
    val headEnd = if (he < 0) block.length else he
    val head = new String(block, 0, headEnd, "ISO-8859-1")
    val lines = head.split(Crlf)
    val status =
      if (lines.nonEmpty && lines(0).startsWith("HTTP/")) {
        val parts = lines(0).split(" ")
        if (parts.length >= 2) parts(1).toIntOption.getOrElse(-1) else -1
      } else -1
    val ct = lines.iterator.drop(1).map(_.split(":", 2))
      .collectFirst {
        case Array(k, v) if k.trim.equalsIgnoreCase("Content-Type") =>
          v.trim
      }.orNull
    val body =
      if (he < 0) Array.emptyByteArray
      else java.util.Arrays.copyOfRange(block, he + 4, block.length)
    Rec(warcType, uri, ct, status, body)
  }

  // ---- muxer (fixtures/tests): genuine ISO 28500 bytes ----

  /** One record's bytes: version line, headers, CRLF CRLF, payload,
    * CRLF CRLF trailer. Header VALUES are CR/LF-sanitized: a hostile
    * target URI embedding a line break would otherwise inject headers
    * and desynchronize the whole file (the payload is length-framed
    * and carries anything; headers must stay single-line). */
  def encodeRecord(warcType: String, targetUri: String,
                   contentType: String, payload: Array[Byte],
                   recordId: String): Array[Byte] = {
    def clean(v: String): String =
      v.replace("\r", "").replace("\n", "")
    val sb = new StringBuilder
    sb.append("WARC/1.0").append(Crlf)
    sb.append("WARC-Type: ").append(clean(warcType)).append(Crlf)
    sb.append("WARC-Record-ID: <urn:uuid:").append(clean(recordId))
      .append(">").append(Crlf)
    sb.append("WARC-Date: 2026-01-01T00:00:00Z").append(Crlf)
    if (targetUri != null)
      sb.append("WARC-Target-URI: ").append(clean(targetUri)).append(Crlf)
    sb.append("Content-Type: ").append(clean(contentType)).append(Crlf)
    sb.append("Content-Length: ").append(payload.length).append(Crlf)
    sb.append(Crlf)
    val head = sb.toString.getBytes("ISO-8859-1")
    head ++ payload ++ (Crlf + Crlf).getBytes("ISO-8859-1")
  }

  /** An HTTP response block for a response record's payload. */
  def encodeHttpResponse(status: Int, reason: String, contentType: String,
                         body: Array[Byte]): Array[Byte] =
    (s"HTTP/1.1 $status $reason" + Crlf +
      s"Content-Type: $contentType" + Crlf +
      s"Content-Length: ${body.length}" + Crlf + Crlf)
      .getBytes("ISO-8859-1") ++ body

  /** Gzip one record as its OWN member (the .warc.gz layout). */
  def gzipMember(record: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(record); g.finish(); g.close()
    bos.toByteArray
  }

  /** WARC SINK — the write half of the S-family symmetry (a curation
    * pipeline re-emits its filtered crawl as WARC for the next
    * consumer): one `.warc.gz` per partition, each record its own
    * gzip member (the annex-D layout [[records]] reads back), written
    * DISTRIBUTED via foreachPartition. Input columns: `target_uri`
    * (string), `http_status` (int), `content_type` (string), `body`
    * (binary). Record ids derive from partition/row position —
    * deterministic under a fixed partitioning. Local-FS semantics
    * like every fixture writer here; a cluster deployment points
    * `dir` at a shared FS. */
  def writeResponses(df: DataFrame, dir: String): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    df.select(col("target_uri"), col("http_status"), col("content_type"),
        col("body"))
      .as[(String, Int, String, Array[Byte])]
      .foreachPartition {
        (it: Iterator[(String, Int, String, Array[Byte])]) =>
          val tc = org.apache.spark.TaskContext.get()
          val pid = tc.partitionId()
          // Write under an ATTEMPT-unique temp name, then atomically
          // rename onto the partition's final name: two concurrent
          // attempts of one partition (speculative execution, or a
          // retry racing a zombie) each build a complete private file
          // and the rename publishes whichever finishes — never an
          // interleaved, corrupt .warc.gz.
          val finalF = java.nio.file.Paths.get(dir)
            .resolve(f"part-$pid%05d.warc.gz")
          val tmpF = java.nio.file.Paths.get(dir)
            .resolve(f"part-$pid%05d.warc.gz.${tc.taskAttemptId()}%d.tmp")
          val out = java.nio.file.Files.newOutputStream(tmpF)
          try {
            var i = 0
            it.foreach { case (uri, status, ct, body) =>
              val reason = if (status == 200) "OK" else "S" + status
              out.write(gzipMember(encodeRecord("response", uri,
                "application/http;msgtype=response",
                encodeHttpResponse(status, reason, ct, body),
                f"w-$pid%d-$i%d")))
              i += 1
            }
          } finally out.close()
          java.nio.file.Files.move(tmpF, finalF,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          ()
      }
  }

  /** All records of every .warc(.gz) under `path` (a file, a glob, or
    * a directory), with provenance. Output: path, warc_type,
    * target_uri, http_status (nullable int), content_type, payload
    * (binary).
    *
    * SCALE SHAPE: this is a paths-listing scan — the driver resolves
    * the file list, each task OPENS A STREAM on its file and runs the
    * per-gzip-member [[streamRecords]] split — so a task's working set
    * is one record, not one file. The binaryFile source (whole-file
    * `content` column, hard 2 GiB cap) is deliberately NOT on this
    * path: a standard crawl container is ~1 GB gz / 3-5 GB raw, which
    * the streamed split handles and a materialized byte array cannot.
    * Parallelism is file-granular either way (the crawl-delivery
    * layout: many ~1 GB containers). */
  def records(spark: SparkSession, path: String,
              gzipped: Boolean = true): DataFrame = {
    val conf = new SerializableHadoopConf(spark.sessionState.newHadoopConf())
    import spark.implicits._
    // The binaryFile source does the LISTING (files/globs/dirs, one
    // non-splittable task per file — crawl-delivery granularity) but
    // only `path` is projected, so file CONTENT is never materialized
    // and its 2 GiB array cap never applies; the tasks open their own
    // streams below. Listing through a file source keeps honest
    // byte-size statistics on the scan leaf — join strategy downstream
    // stays stats-driven exactly as over parquet (broadcast the
    // derived small side at fixture scale, shuffle at crawl scale),
    // where a plain parallelized path list reports unknown size and
    // forces every downstream join to sort-merge regardless of data.
    // A glob in the last segment loads its directory with that glob as
    // the file-name filter: handed the literal glob, the file source's
    // metadata-log probe looks it up as a path and logs a
    // FileNotFoundException stack trace on every read.
    val hp = new org.apache.hadoop.fs.Path(path)
    val isGlob = (s: String) => s.exists("*?[{".contains(_))
    val reader = spark.read.format("binaryFile")
    val files =
      if (isGlob(hp.getName) && hp.getParent != null &&
          !isGlob(hp.getParent.toString))
        reader.option("pathGlobFilter", hp.getName).load(hp.getParent.toString)
      else reader.load(path)
    val paths = files.select(col("path")).as[String]
    recordRows(paths.flatMap { p =>
      val fp = new org.apache.hadoop.fs.Path(p)
      val in = fp.getFileSystem(conf.value).open(fp)
      // Close on task completion, not iterator exhaustion: a limit()
      // or failure downstream may abandon the iterator mid-file.
      val tc = org.apache.spark.TaskContext.get()
      if (tc != null) tc.addTaskCompletionListener[Unit] { _ =>
        try in.close() catch { case _: java.io.IOException => () }
      }
      streamRecords(in, gzipped).map(r => (p, r.warcType, r.targetUri,
        if (r.httpStatus < 0) None else Some(r.httpStatus),
        Option(r.contentType), r.payload))
    })
  }

  /** The record split over an already-loaded binaryFile frame
    * (`path`, `content` columns) — the STREAMING ingestion's shape
    * ([[graft.streaming.StreamingWarc]] rides the streaming file
    * source, which delivers whole-file content per micro-batch file).
    * The split itself is [[streamRecords]] verbatim — decompression
    * and parsing stay one-record-at-a-time over the byte array — so
    * the batch and streaming paths cannot drift. */
  def recordsOf(files: DataFrame, gzipped: Boolean = true): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    recordRows(files
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (p, raw) =>
        streamRecords(new ByteArrayInputStream(raw), gzipped)
          .map(r => (p, r.warcType, r.targetUri,
            if (r.httpStatus < 0) None else Some(r.httpStatus),
            Option(r.contentType), r.payload))
      })
  }

  private def recordRows(
      ds: org.apache.spark.sql.Dataset[(String, String, String,
        Option[Int], Option[String], Array[Byte])]): DataFrame =
    ds.toDF("path", "warc_type", "target_uri", "http_status",
      "content_type", "payload")
}

/** Hadoop Configuration is not Serializable; this carries it to tasks
  * via its own writable form (the standard wrapper pattern) so the
  * paths-listing scan keeps the session's filesystem settings —
  * credentials, FS implementations — instead of a blank task-side
  * Configuration. */
private[sources] class SerializableHadoopConf(
    @transient var value: org.apache.hadoop.conf.Configuration)
  extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new org.apache.hadoop.conf.Configuration(false)
    value.readFields(in)
  }
}
