package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.io.{ByteArrayOutputStream, EOFException, InputStream}

/** WARC / WET ingestion (ISO 28500, the Common Crawl container) — the
  * crawl-side entry point of a training-data pipeline: everything the
  * curation stage consumes ultimately starts life as WARC `response`
  * records or their WET `conversion` (extracted-text) twins. The
  * reference ingests pre-extracted CSV/JSON exports
  * (healthcare-data-pipeline-main.py:139's format list); this connector
  * closes the gap to the raw-crawl format those exports come from.
  * Implemented dependency-free against the PUBLIC WARC 1.0/1.1 rules:
  * a record is a `WARC/<version>` line, RFC-822-style named headers
  * (line folding honored), one empty line, then EXACTLY
  * `Content-Length` payload BYTES, then two CRLFs. Header names are
  * case-insensitive; `Content-Length` is mandatory and is the ONLY
  * sound way to frame a record (payloads may contain anything,
  * including lines that look like WARC headers — scanning for the next
  * `WARC/` line is how naive parsers corrupt a crawl, so this parser
  * never does).
  *
  * Gzip: Common Crawl ships `.warc.gz`/`.wet.gz` as CONCATENATED
  * per-record gzip members (so HTTP range readers can seek); JDK
  * GZIPInputStream decodes member-concatenated streams natively, and
  * detection is by magic bytes (1f 8b), not filename — a renamed file
  * still reads.
  *
  * Strict-by-default, per the repo's ingestion stance (HL7/Excel): a
  * record missing the mandatory version line or Content-Length, a
  * truncated payload, or payload bytes that do not decode in the
  * declared charset FAIL the task rather than silently skipping or
  * mangling to U+FFFD — a corrupt crawl segment should be re-fetched,
  * not half-ingested.
  *
  * Scale design: gzip (and the record framing itself) is not
  * splittable mid-stream, so the unit of parallelism is the FILE —
  * `binaryFiles` hands one file per task. That is exactly the shape
  * the ecosystem ships: a Common Crawl snapshot is ~60–90k WET files
  * of ~100–150 MB, so a directory/glob parallelizes across any
  * cluster width with zero driver involvement; one file's records are
  * parsed streaming (payload buffers only record-sized, never
  * file-sized). Non-selected record types consume their
  * Content-Length and are skipped WITHOUT decoding — a `warcinfo` or
  * `request` record costs a seek, not a parse.
  */
object Warc {

  /** One parsed record, payload still raw bytes. */
  private[sources] final case class WarcRecord(
      headers: Map[String, String], payload: Array[Byte]) {
    def header(name: String): Option[String] = headers.get(name.toLowerCase)
  }

  val schema: StructType = StructType(Seq(
    StructField("file", StringType),
    StructField("warc_type", StringType),
    StructField("record_id", StringType),
    StructField("target_uri", StringType),
    StructField("warc_date", TimestampType),
    StructField("content_type", StringType),
    StructField("content_length", LongType),
    StructField("text", StringType)))

  /** Read a file/directory/glob of WARC (or WET) files — gzipped or
    * plain, detected per file — into one row per record whose
    * `WARC-Type` is in `recordTypes`. `conversion` is the WET
    * extracted-text type; add `response` for raw WARCs (the emitted
    * `text` is then the full HTTP response — headers + body — which a
    * real HTML pipeline feeds to an extractor; text extraction itself
    * is the WET producer's job, not the reader's).
    */
  def readWarc(spark: SparkSession, path: String,
               recordTypes: Set[String] = Set("conversion"),
               charset: String = "UTF-8"): DataFrame = {
    java.nio.charset.Charset.forName(charset) // fail at call time
    val wanted = recordTypes.map(_.toLowerCase)
    val rows = spark.sparkContext
      .binaryFiles(path, spark.sparkContext.defaultParallelism)
      .flatMap { case (file, stream) =>
        val raw = stream.open()
        val in = detectGzip(raw)
        try {
          val out = scala.collection.mutable.ArrayBuffer[Row]()
          val it = parseRecords(in, file, keepPayload =
            r => r.header("warc-type").exists(t => wanted(t.toLowerCase)))
          it.foreach { r =>
            if (r.header("warc-type").exists(t => wanted(t.toLowerCase)))
              out += Row(
                file,
                r.header("warc-type").orNull,
                r.header("warc-record-id").map(stripAngles).orNull,
                r.header("warc-target-uri").orNull,
                r.header("warc-date").map(parseWarcDate(_, file)).orNull,
                r.header("content-type").orNull,
                r.payload.length.toLong,
                decodeStrict(r.payload, charset, file))
          }
          out.toSeq
        } finally in.close()
      }
    spark.createDataFrame(rows, schema)
  }

  /** WET records shaped for the curation stage: the `documents`-table
    * contract (doc_id, text, source, n_chars) with `url`/`fetched_at`
    * carried for provenance. `doc_id` is the md5-prefix long of the
    * globally-unique WARC-Record-ID (deterministic across re-reads —
    * the [[graft.etl.BandIndex]] convention, collisions ~2⁻⁶⁰);
    * `source` is the registered-domain-free host of the target URI
    * (the grouping crawl curation actually uses).
    */
  def wetDocuments(spark: SparkSession, path: String,
                   charset: String = "UTF-8"): DataFrame =
    docShape(readWarc(spark, path, Set("conversion"), charset))

  /** Raw-WARC `response` records → the same `documents`-table contract
    * as [[wetDocuments]], with the WET producer's extraction step done
    * in-engine: HTTP framing undone ([[HttpPayload]] — status/headers
    * split, chunked transfer decode, gzip/deflate content decode,
    * charset detection with the strict-decode stance) and main text
    * pulled from the HTML ([[HtmlText.extract]] — structural
    * boilerplate containers dropped, short and link-dense blocks
    * filtered, jusText/CCNet-style). Non-HTML records (robots.txt
    * fetches, images, DNS) and pages whose every block is boilerplate
    * are filtered, not errors; undecodable HTML still fails the task.
    *
    * Scale: identical to [[readWarc]] — file-granular parallelism, one
    * linear pass per record, zero added shuffles; the extraction is a
    * typed flatMap fused into the same stage as the scan.
    */
  def responseDocuments(spark: SparkSession, path: String,
                        minBlockChars: Int = 25,
                        maxLinkDensity: Double = 0.5): DataFrame = {
    import spark.implicits._
    // ISO-8859-1 is byte-transparent (each byte ↔ one char), so the
    // generic reader's decoded `text` losslessly carries the raw HTTP
    // bytes; the real charset decision happens per record in
    // HttpPayload once the headers are parsed.
    val raw = readWarc(spark, path, Set("response"), "ISO-8859-1")
      .select(col("record_id"), col("target_uri"), col("warc_date"),
        col("text"))
      .as[(String, String, java.sql.Timestamp, String)]
    val extracted = raw.flatMap { case (rid, uri, date, wire) =>
      HttpPayload.htmlBody(
          wire.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1),
          if (uri == null) "<no-target-uri>" else uri)
        .map(html => HtmlText.extract(html, minBlockChars, maxLinkDensity))
        .filter(_.nonEmpty)
        .map(t => (rid, uri, date, t))
    }.toDF("record_id", "target_uri", "warc_date", "text")
    docShape(extracted)
  }

  /** (record_id, target_uri, warc_date, text) → the documents-table
    * contract: md5-prefix long ids (the [[graft.etl.BandIndex]]
    * convention), host-of-URI source, provenance columns carried.
    */
  private def docShape(df: DataFrame): DataFrame =
    df.select(
      expr(graft.functions.Md5Prefix.sql("record_id")).as("doc_id"),
      col("text"),
      coalesce(parse_url(col("target_uri"), lit("HOST")), lit("unknown"))
        .as("source"),
      length(col("text")).cast("long").as("n_chars"),
      col("target_uri").as("url"),
      col("warc_date").as("fetched_at"))

  /** `<urn:uuid:...>` → `urn:uuid:...` (the spec wraps ids in angle
    * brackets; nobody downstream wants them).
    */
  private def stripAngles(s: String): String =
    if (s.length >= 2 && s.head == '<' && s.last == '>')
      s.substring(1, s.length - 1)
    else s

  /** WARC-Date is ISO-8601 UTC (`2024-01-01T00:00:00Z`; 1.1 allows
    * fractional seconds). Parsed as an instant — never the executor's
    * default timezone (the HL7 DTM stance).
    */
  private def parseWarcDate(s: String, file: String): java.sql.Timestamp =
    try java.sql.Timestamp.from(java.time.Instant.parse(s))
    catch {
      case e: java.time.format.DateTimeParseException =>
        throw new IllegalArgumentException(
          s"WARC file $file: unparsable WARC-Date '$s'", e)
    }

  /** gzip magic sniff (1f 8b) with a 2-byte pushback — by content, not
    * extension. JDK GZIPInputStream handles the member-concatenated
    * layout Common Crawl uses.
    */
  private def detectGzip(raw: InputStream): InputStream = {
    val pb = new java.io.PushbackInputStream(raw, 2)
    val b0 = pb.read(); val b1 = pb.read()
    if (b1 != -1) pb.unread(b1)
    if (b0 != -1) pb.unread(b0)
    if (b0 == 0x1f && b1 == 0x8b)
      new java.util.zip.GZIPInputStream(pb, 1 << 16)
    else pb
  }

  /** Streaming record parser: only one record's payload is ever in
    * memory, and records `keepPayload` rejects have their bytes skipped
    * instead of buffered (the type filter reaches the read layer).
    */
  private[sources] def parseRecords(in: InputStream, file: String,
                                    keepPayload: WarcRecord => Boolean =
                                      _ => true): Iterator[WarcRecord] =
    new Iterator[WarcRecord] {
      private var nextRec: WarcRecord = null
      private var done = false

      private def readLine(): Option[String] = {
        val buf = new ByteArrayOutputStream(128)
        var b = in.read()
        if (b == -1) return None
        while (b != -1 && b != '\n') { buf.write(b); b = in.read() }
        val bytes = buf.toByteArray
        val n = if (bytes.nonEmpty && bytes.last == '\r') bytes.length - 1
                else bytes.length
        Some(new String(bytes, 0, n, java.nio.charset.StandardCharsets.ISO_8859_1))
      }

      private def advance(): Unit = {
        if (done) return
        // skip inter-record blank lines
        var line = readLine()
        while (line.contains("")) line = readLine()
        line match {
          case None => done = true
          case Some(v) if v.startsWith("WARC/") =>
            // headers, with RFC-822 folding (continuation lines start
            // with space/tab and extend the previous header's value)
            val hdrs = scala.collection.mutable.ArrayBuffer[(String, String)]()
            var h = readLine().getOrElse(throw truncated("headers"))
            while (h.nonEmpty) {
              if ((h.head == ' ' || h.head == '\t') && hdrs.nonEmpty) {
                val (k, pv) = hdrs.last
                hdrs(hdrs.length - 1) = (k, pv + " " + h.trim)
              } else h.indexOf(':') match {
                case -1 => throw new IllegalArgumentException(
                  s"WARC file $file: malformed header line '$h'")
                case i => hdrs += ((h.substring(0, i).trim.toLowerCase,
                  h.substring(i + 1).trim))
              }
              h = readLine().getOrElse(throw truncated("headers"))
            }
            val headers = hdrs.toMap
            val len = headers.getOrElse("content-length",
                throw new IllegalArgumentException(
                  s"WARC file $file: record without Content-Length"))
              .toLong
            val shell = WarcRecord(headers, Array.emptyByteArray)
            val payload =
              if (keepPayload(shell)) readFully(len)
              else { skipFully(len); null }
            nextRec =
              if (payload == null) shell else shell.copy(payload = payload)
          case Some(v) => throw new IllegalArgumentException(
            s"WARC file $file: expected WARC/ version line, got '$v'")
        }
      }

      private def readFully(n: Long): Array[Byte] = {
        require(n <= Int.MaxValue,
          s"WARC file $file: record payload $n bytes exceeds 2 GiB")
        val buf = new Array[Byte](n.toInt)
        var off = 0
        while (off < buf.length) {
          val r = in.read(buf, off, buf.length - off)
          if (r == -1) throw truncated(s"payload (got $off of $n bytes)")
          off += r
        }
        buf
      }

      private def skipFully(n: Long): Unit = {
        var left = n
        val junk = new Array[Byte](1 << 14)
        while (left > 0) {
          val r = in.read(junk, 0, math.min(left, junk.length).toInt)
          if (r == -1) throw truncated("skipped payload")
          left -= r
        }
      }

      private def truncated(what: String) = new EOFException(
        s"WARC file $file: truncated record ($what hit end of stream)")

      advance()
      override def hasNext: Boolean = !done
      override def next(): WarcRecord = {
        val r = nextRec; advance(); r
      }
    }

  /** Strict decode — undecodable payload bytes fail the task (the HL7
    * no-silent-U+FFFD stance).
    */
  private def decodeStrict(bytes: Array[Byte], charset: String,
                           file: String): String = {
    val dec = java.nio.charset.Charset.forName(charset).newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
    try dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
    catch {
      case e: java.nio.charset.CharacterCodingException =>
        throw new IllegalArgumentException(
          s"WARC file $file payload is not valid $charset: $e", e)
    }
  }
}
