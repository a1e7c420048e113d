package graft.sources

import java.io.{BufferedInputStream, ByteArrayOutputStream, InputStream}
import java.util.zip.GZIPInputStream

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** WARC (ISO 28500 / WARC-1.1) corpus ingest with record quarantine —
  * the container real crawl corpora actually arrive in (Common Crawl
  * ships `.warc.gz` segments): each record is a version line
  * (`WARC/1.0`), named headers, a `Content-Length`-delimited payload,
  * and a blank-line terminator.
  *
  * Design rules (the [[JsonlSource.readWithQuarantine]] contract,
  * applied to a binary record format):
  *  - a record that violates the format (bad version line, malformed
  *    header, missing/unparseable Content-Length, truncated payload,
  *    missing terminator) lands in the QUARANTINE output with its raw
  *    bytes preserved (capped at [[QuarantineCap]]) and a named error —
  *    nothing is silently dropped, nothing kills the batch;
  *  - after a corrupt record the parser RESYNCS at the next line
  *    starting with `WARC/` and continues — one bad record costs one
  *    quarantine row, not the rest of the file;
  *  - headers are preserved IN ORDER and value-exact (ISO-8859-1 — the
  *    identity byte↔char map; header names per spec are ASCII); name
  *    and value are TRIMMED on parse and [[render]] emits the canonical
  *    `name: value` form, so a CANONICALLY-FORMATTED file (what real
  *    WARC writers emit, and what the fixtures are) round-trips
  *    bit-for-bit (WarcSourceSpec) — a file with non-canonical header
  *    spacing (`Name:value`, trailing blanks) parses clean but
  *    re-renders canonical, not byte-identical.
  *
  * Scale shape: WARC's production layout is many ~1 GB segment files,
  * each gzip-compressed PER RECORD (gzip members concatenate, and
  * `GZIPInputStream` reads across member boundaries) — the format is
  * inherently FILE-parallel, not byte-range-splittable like JSONL. The
  * reader is `binaryFiles` → one streaming parse per file: memory is
  * bounded per RECORD (the payload array), never per file, so a task
  * holds one record regardless of segment size. This is the one
  * genuinely imperative per-partition loop in the ingest layer — a
  * record-boundary splitter over a byte stream — and uses the RDD seam
  * for exactly that before handing a DataFrame to the declarative
  * pipeline.
  *
  * Declared envelope: WARC header line folding (continuation lines) is
  * not parsed — a folded line quarantines its record loudly; the
  * fixture slice and Common Crawl's own writers do not emit folds. */
object WarcSource {

  /** One WARC header, order-preserved. */
  final case class Hdr(name: String, value: String)

  /** One parse outcome: a clean record (`corrupt` = false, `raw` empty)
    * or a quarantined byte region (`corrupt` = true, fields empty,
    * `raw` = the offending bytes up to [[QuarantineCap]], `err`
    * naming the violation). `offset` is the record's first byte in the
    * (decompressed) stream. */
  final case class WarcRec(file: String, offset: Long, version: String,
                           headers: Seq[Hdr], payload: Array[Byte],
                           corrupt: Boolean, raw: Array[Byte],
                           err: String)

  /** Max preserved bytes for one quarantined region — the rest is
    * skipped to the resync point and counted in `err`, never held. */
  val QuarantineCap: Int = 1 << 20

  private val Ascii = java.nio.charset.StandardCharsets.ISO_8859_1

  /** A "line" longer than this retains only its prefix (consumption
    * continues to the newline, position stays exact) — no legal WARC
    * version/header line approaches it, and an unbounded retain would
    * let newline-free garbage (the resync path's input) allocate the
    * rest of the stream into one buffer before any cap applied. */
  val LineCap: Int = 1 << 20

  /** Byte-stream cursor: position tracking + line reads that hand back
    * the RAW bytes consumed (terminator included), so a failed record
    * can be quarantined byte-exact. */
  private final class Cursor(in: InputStream) {
    private val buf = new BufferedInputStream(in, 1 << 16)
    var pos: Long = 0L
    /** True when the last [[readLine]] retained only a prefix. */
    var lastLineTruncated: Boolean = false
    /** (text sans `\r?\n`, raw bytes retained) — None at EOF. */
    def readLine(): Option[(String, Array[Byte])] = {
      val out = new ByteArrayOutputStream(80)
      lastLineTruncated = false
      var consumed = 0L
      var b = buf.read()
      if (b < 0) return None
      while (b >= 0 && b != '\n') {
        if (out.size < LineCap) out.write(b)
        else lastLineTruncated = true
        consumed += 1
        b = buf.read()
      }
      if (b >= 0) { consumed += 1; if (!lastLineTruncated) out.write(b) }
      val raw = out.toByteArray
      pos += consumed
      var end = raw.length
      if (end > 0 && raw(end - 1) == '\n') end -= 1
      if (end > 0 && raw(end - 1) == '\r') end -= 1
      Some((new String(raw, 0, end, Ascii), raw))
    }
    /** Up to n bytes (short at EOF). Small/moderate declared lengths
      * (the legitimate-record mass) get ONE exact-size allocation;
      * above 64 MiB the read is chunked so allocation tracks bytes
      * ACTUALLY PRESENT — a corrupt multi-GB Content-Length in a 1 KB
      * file costs 1 KB, not an executor OOM — and a sole chunk is
      * returned without re-assembly (no doubled transient peak on the
      * clean path). */
    def readUpTo(n: Long): Array[Byte] = {
      val direct = 64L << 20
      if (n <= direct) {
        val out = new Array[Byte](n.toInt)
        var got = 0
        var r = 0
        while (got < n && r >= 0) {
          r = buf.read(out, got, n.toInt - got)
          if (r > 0) got += r
        }
        pos += got
        if (got == n) out else java.util.Arrays.copyOf(out, got)
      } else {
        val chunks = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
        var remaining = n
        var short = false
        while (remaining > 0 && !short) {
          val want = math.min(remaining, direct).toInt
          val chunk = new Array[Byte](want)
          var got = 0
          var r = 0
          while (got < want && r >= 0) {
            r = buf.read(chunk, got, want - got)
            if (r > 0) got += r
          }
          if (got > 0)
            chunks += (if (got == want) chunk
                       else java.util.Arrays.copyOf(chunk, got))
          if (got < want) short = true
          remaining -= got
        }
        val total = chunks.iterator.map(_.length.toLong).sum
        pos += total
        if (chunks.length == 1) chunks.head
        else {
          val out = new Array[Byte](total.toInt)
          var at = 0
          chunks.foreach { c =>
            System.arraycopy(c, 0, out, at, c.length); at += c.length
          }
          out
        }
      }
    }
  }

  /** Capped capture buffer for one quarantine region. Holds only
    * REFERENCES (the parser never mutates a consumed array) plus a
    * byte count; ALL copying and cap-truncation defers to [[bytes]],
    * which runs only on the quarantine path — a clean record (the
    * overwhelming mass, whatever its payload size) pays one list cons
    * per part and zero memcpy. Retained references stop once noted
    * bytes reach [[QuarantineCap]] (at most one part straddles the
    * cap — and the straddling part is usually the record's own
    * payload array, alive regardless), so a quarantine region's
    * retained-set stays cap-bounded while it accumulates. */
  private final class Capture {
    private val parts = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    private var noted = 0L
    def note(bytes: Array[Byte]): Unit = {
      if (noted < QuarantineCap) parts += bytes
      noted += bytes.length
    }
    def bytes: Array[Byte] = {
      val keep = math.min(noted, QuarantineCap.toLong).toInt
      val out = new ByteArrayOutputStream(keep)
      var room = keep
      parts.foreach { p =>
        val w = math.min(p.length, room)
        if (w > 0) out.write(p, 0, w)
        room -= w
      }
      out.toByteArray
    }
    def truncationNote: String = {
      val dropped = noted - math.min(noted, QuarantineCap.toLong)
      if (dropped == 0) "" else s" (raw truncated, $dropped bytes dropped)"
    }
  }

  /** Streaming record parse of one (decompressed) WARC byte stream —
    * bounded memory per record, quarantine-and-resync on violation.
    * Package-visible so the spec can drive it over fixture bytes
    * directly. */
  private[sources] def parseStream(file: String,
                                   in: InputStream): Iterator[WarcRec] =
    new Iterator[WarcRec] {
      private val cur = new Cursor(in)
      /** One read line: text, retained raw bytes, start offset, and
        * whether retention was LineCap-truncated — the flag travels
        * WITH the line so a carried line keeps its own truth. */
      private case class Line(text: String, raw: Array[Byte],
                              at: Long, truncated: Boolean) {
        /** A line that can legitimately open the next record. */
        def isVersion: Boolean = text.startsWith("WARC/") && !truncated
      }
      // a resync line belongs to the NEXT record — carry it across
      private var carried: Option[Line] = None
      private var pending: Option[WarcRec] = None
      private var eof = false

      private def nextLine(): Option[Line] =
        carried match {
          case Some(l) => carried = None; Some(l)
          case None =>
            val at = cur.pos
            cur.readLine().map { case (t, raw) =>
              Line(t, raw, at, cur.lastLineTruncated)
            }
        }

      private def quarantine(start: Long, cap: Capture,
                             err: String): WarcRec = {
        // resync: skip to the next WARC/ line (carried) or EOF
        var line = nextLine()
        while (line.isDefined && !line.get.isVersion) {
          cap.note(line.get.raw)
          line = nextLine()
        }
        carried = line
        WarcRec(file, start, null, Nil, Array.emptyByteArray,
          corrupt = true, cap.bytes, err + cap.truncationNote)
      }

      private def parseOne(): Option[WarcRec] = {
        // tolerate blank padding between records
        var first = nextLine()
        while (first.isDefined && first.get.text.isEmpty)
          first = nextLine()
        if (first.isEmpty) return None
        val Line(version, vRaw, start, vTrunc) = first.get
        val cap = new Capture
        cap.note(vRaw)
        if (!version.startsWith("WARC/") || vTrunc)
          return Some(quarantine(start, cap,
            s"expected WARC/ version line, got '${version.take(40)}'"))
        // an offending line that can open the NEXT record is carried,
        // not captured — or the quarantine's resync would swallow that
        // whole (possibly valid) record, violating "one bad record
        // costs one quarantine row"
        def offending(l: Line): Unit =
          if (l.isVersion) carried = Some(l)
          else cap.note(l.raw)
        // headers until the blank line
        val hdrs = scala.collection.mutable.ArrayBuffer.empty[Hdr]
        var line = nextLine()
        while (line.isDefined && line.get.text.nonEmpty) {
          val Line(t, raw, _, trunc) = line.get
          val i = t.indexOf(':')
          if (i <= 0 || trunc) {
            offending(line.get)
            return Some(quarantine(start, cap,
              if (trunc) s"header line exceeds $LineCap bytes"
              else s"malformed header line '${t.take(40)}'"))
          }
          cap.note(raw)
          hdrs += Hdr(t.substring(0, i).trim, t.substring(i + 1).trim)
          line = nextLine()
        }
        if (line.isEmpty)
          return Some(quarantine(start, cap, "EOF inside header block"))
        cap.note(line.get.raw)
        val lenStr = hdrs.find(_.name.equalsIgnoreCase("Content-Length"))
          .map(_.value)
        val len = lenStr.flatMap(_.toLongOption)
          .filter(l => l >= 0 && l < Int.MaxValue)
        if (len.isEmpty)
          return Some(quarantine(start, cap,
            s"missing/invalid Content-Length '${lenStr.getOrElse("")}'"))
        val payload = cur.readUpTo(len.get)
        cap.note(payload)
        if (payload.length < len.get)
          return Some(quarantine(start, cap,
            s"payload truncated: ${payload.length} of ${len.get} bytes"))
        // the record terminator: two empty lines (CRLF CRLF)
        for (_ <- 1 to 2) {
          val t = nextLine()
          if (t.isEmpty || t.get.text.nonEmpty) {
            t.foreach(offending)
            return Some(quarantine(start, cap,
              "missing record terminator after payload"))
          }
          cap.note(t.get.raw)
        }
        Some(WarcRec(file, start, version, hdrs.toSeq, payload,
          corrupt = false, Array.emptyByteArray, null))
      }

      def hasNext: Boolean = {
        if (pending.isEmpty && !eof) {
          // a stream-layer failure (truncated gzip member from a
          // mid-copy drop, a decompressor error) is a QUARANTINE
          // event, not a task death: surface one corrupt row naming
          // it, end the file — "nothing kills the batch" holds at the
          // transport layer too
          pending =
            try parseOne()
            catch {
              case e: java.io.IOException =>
                eof = true
                try in.close() catch { case _: java.io.IOException => () }
                Some(WarcRec(file, cur.pos, null, Nil,
                  Array.emptyByteArray, corrupt = true,
                  Array.emptyByteArray,
                  s"unreadable stream at byte ${cur.pos}: ${e.getMessage}"))
            }
          // normal EOF: close failure (an HDFS stream teardown error)
          // must not kill the task either — same posture as the
          // IOException handler above and the task-completion listener
          if (pending.isEmpty) {
            eof = true
            try in.close() catch { case _: java.io.IOException => () }
          }
        }
        pending.isDefined
      }
      def next(): WarcRec = {
        if (!hasNext) throw new NoSuchElementException
        val r = pending.get; pending = None; r
      }
    }

  /** Open-and-parse with the quarantine posture extended to the OPEN
    * itself: `GZIPInputStream`'s constructor reads the gzip header
    * eagerly, and a streaming file can vanish between source listing
    * and task open — either failure outside the parser's own
    * try-boundary would kill the task (and, for a checkpointed
    * streaming source, wedge the query on infinite retry of the same
    * batch). An unopenable file costs ONE quarantine row naming it,
    * like every other violation. `open` must build the full stream
    * (gzip wrapping included) and close anything it half-built on
    * failure. */
  private def parseOpened(f: String,
                          open: () => InputStream): Iterator[WarcRec] =
    try {
      val in = open()
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit] { _ =>
          try in.close() catch { case _: java.io.IOException => () }
        })
      parseStream(f, in)
    } catch {
      // NonFatal, not just IOException: `open` spans new Path(p) /
      // getFileSystem too, and a malformed PATH ROW (e.g.
      // IllegalArgumentException from the URI parse) must cost one
      // quarantine row like a vanished file does — an escaping throw
      // kills the task, and for the checkpointed streaming source
      // wedges the query on infinite retry of the same batch: the
      // exact failure mode the quarantine posture exists to prevent.
      // the class name rides along: a swallowed NON-IO failure (an NPE
      // whose getMessage is null, a logic bug in parser setup) must
      // stay attributable from the quarantine row alone, not read as
      // an anonymous data problem
      case scala.util.control.NonFatal(e) =>
        Iterator.single(WarcRec(f, 0L, null, Nil, Array.emptyByteArray,
          corrupt = true, Array.emptyByteArray,
          s"unreadable file: ${e.getClass.getName}: ${e.getMessage}"))
    }

  /** Gzip-wrap when the name says so, closing the base stream if the
    * header read fails (no fd leak on the quarantine path). */
  private def maybeGzip(f: String, base: InputStream): InputStream =
    if (!f.endsWith(".gz")) base
    else
      try new GZIPInputStream(base, 1 << 16)
      catch {
        case e: java.io.IOException =>
          try base.close() catch { case _: java.io.IOException => () }
          throw e
      }

  /** Re-render a clean record to bytes — the round-trip witness (and a
    * minimal WARC writer): version line, headers in preserved order,
    * blank line, payload, terminator. */
  def render(version: String, headers: Seq[Hdr],
             payload: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(payload.length + 256)
    val head = (version +: headers.map(h => s"${h.name}: ${h.value}"))
      .mkString("", "\r\n", "\r\n\r\n")
    out.write(head.getBytes(Ascii))
    out.write(payload)
    out.write("\r\n\r\n".getBytes(Ascii))
    out.toByteArray
  }

  /** Every record of every file under `path` (glob ok), clean and
    * quarantined in ONE DataFrame (`corrupt` splits them — the
    * JsonlSource one-pass posture; [[read]] is the two-output view).
    * `.gz` files decompress transparently, multi-member streams
    * included (Common Crawl's record-per-member layout); offsets then
    * index the DECOMPRESSED stream. File-level parallelism — see the
    * object doc for why that is the format's own grain. */
  def readRaw(spark: SparkSession, path: String): DataFrame = {
    val rdd = spark.sparkContext.binaryFiles(path)
      .flatMap { case (f, pds) =>
        parseOpened(f, () => maybeGzip(f, pds.open()))
      }
    spark.createDataset(rdd)(Encoders.product[WarcRec]).toDF()
  }

  /** The clean-record projection over a [[readRaw]]-shaped frame:
    * (file, offset, version, headers) plus the convenience extracts
    * (warc_type, record_id, target_uri, warc_date, content_type,
    * content_length) and the payload. Pure column logic — shared by
    * the batch and streaming paths. */
  /** First value of the named header (case-insensitive) from the
    * `headers` column; NULL when absent (including corrupt rows' empty
    * header lists). */
  private def headerVal(name: String): Column =
    try_element_at(filter(col("headers"),
      x => lower(x.getField("name")) === name), lit(1))
      .getField("value")

  private def cleanView(all: DataFrame): DataFrame = {
    def h(name: String): Column = headerVal(name)
    all.where(!col("corrupt"))
      .select(col("file"), col("offset"), col("version"), col("headers"),
        h("warc-type").as("warc_type"),
        h("warc-record-id").as("record_id"),
        h("warc-target-uri").as("target_uri"),
        h("warc-date").as("warc_date"),
        h("content-type").as("content_type"),
        h("content-length").cast("long").as("content_length"),
        col("payload"))
  }

  /** (clean, quarantine): clean carries [[cleanView]]'s columns;
    * quarantine carries (file, offset, raw, err) with the offending
    * bytes intact — same contract as JsonlSource's corrupt output. */
  def read(spark: SparkSession,
           path: String): (DataFrame, DataFrame) = {
    val all = readRaw(spark, path)
    val quarantine = all.where(col("corrupt"))
      .select(col("file"), col("offset"), col("raw"), col("err"))
    (cleanView(all), quarantine)
  }

  /** Body of an `application/http` payload: everything past the HTTP
    * envelope's blank line (the whole payload if none). Byte→string is
    * the raw UTF-8 cast — the BYTE-BLIND legacy helper (a non-UTF-8
    * page comes out as mojibake): the document views decode
    * charset-aware via [[decodedPayload]]; this form remains for
    * consumers that need the undecoded wire text (and as the spec's
    * mojibake witness). */
  def httpBody(payload: Column): Column = {
    val s = payload.cast("string")
    val at = locate("\r\n\r\n", s)
    when(at > 0, s.substr(at + lit(4), length(s))).otherwise(s)
  }

  /** The HTTP envelope's Content-Type (lowercased media type, params
    * stripped) from an `application/http` payload — '' when the
    * envelope carries none. This is the PAYLOAD's type (text/html,
    * text/plain), not the WARC record's (application/http): the
    * extraction decision needs the former. */
  private val HttpCtRe = "(?im)^content-type:[ \\t]*([^\\r\\n;]+)"

  def httpContentType(payload: Column): Column = {
    val s = payload.cast("string")
    val at = locate("\r\n\r\n", s)
    val head = when(at > 0, s.substr(lit(1), at - 1)).otherwise(s)
    lower(trim(regexp_extract(head, HttpCtRe, 1)))
  }

  /** The charset-aware decoded view of a payload:
    * struct(head, text, charset) via [[graft.functions.HttpDecoded]]
    * — envelope split, BOM/header/meta charset resolution with the
    * WHATWG alias table, REPLACE-decoded body text. `isHttp` is
    * coalesced (a record with no content-type header is not an HTTP
    * message). */
  def decodedPayload(warcContentType: Column, payload: Column): Column =
    org.apache.spark.sql.graftshim.Internals.column(
      graft.functions.HttpDecoded(
        org.apache.spark.sql.graftshim.Internals.expression(payload),
        org.apache.spark.sql.graftshim.Internals.expression(
          coalesce(warcContentType.startsWith("application/http"),
            lit(false)))))

  /** Document text of a record: the CHARSET-DECODED body (see
    * [[decodedPayload]] — windows-1252 / Shift_JIS / GBK pages become
    * text, not replacement-character mojibake); with `extract = true`,
    * an HTML body (the HTTP envelope says text/html /
    * application/xhtml+xml) projects through
    * [[graft.ops.HtmlOps.htmlToText]] — raw crawl responses are
    * MARKUP, and every downstream quality rule assumes prose;
    * non-HTML bodies (text/plain, a WET-style pre-extracted drop)
    * pass through untouched, so already-clean corpora are not
    * re-mangled. ONE definition serves the batch view and the
    * streaming funnel transport — the two paths must agree or a
    * replayed segment curates differently batch-vs-stream.
    *
    * An HTTP payload with NO `\r\n\r\n` envelope separator yields an
    * EMPTY head: no content-type sniff, no extraction — the body
    * passes through whole (the r15-ADVICE gate; previously a
    * `content-type:` line anywhere in an undelimited payload
    * triggered extraction over bytes still carrying the status line).
    *
    * Shape: ONE decode expression; the struct's fields are referenced
    * unconditionally (head) and in both extraction branches (text),
    * so subexpression elimination — codegen'd AND interpreted
    * (SPARK-33427) — evaluates the decode once per row; no lambda
    * binding, so the whole projection (decode + the 17-step
    * extraction chain) stays inside whole-stage codegen (the
    * quality_c4 lesson: a transform-array binding drags every child
    * through the interpreted CodegenFallback path). */
  private def bodyText(warcContentType: Column, payload: Column,
                       extract: Boolean): Column = {
    val d = decodedPayload(warcContentType, payload)
    val body = d.getField("text")
    if (!extract) body
    else {
      val ct = lower(trim(regexp_extract(d.getField("head"),
        HttpCtRe, 1)))
      when(ct === "text/html" || ct === "application/xhtml+xml",
        graft.ops.HtmlOps.htmlToText(body)).otherwise(body)
    }
  }

  /** The curation-funnel ingest projection over a [[cleanView]] frame:
    * response records as (record_id, url, warc_date, text) —
    * [[bodyText]] for the text column. */
  private def documentsView(clean: DataFrame,
                            extract: Boolean): DataFrame =
    clean.where(lower(col("warc_type")) === "response")
      .select(col("record_id"), col("target_uri").as("url"),
        col("warc_date"),
        bodyText(col("content_type"), col("payload"), extract).as("text"))

  /** The curation-funnel ingest view of `path`: response records as
    * (record_id, url, warc_date, text), HTML bodies extracted to block
    * text ([[graft.ops.HtmlOps]]) — the projection the quality filters
    * are true over. Feed it `UrlOps.normalize` / `CurateStages
    * .qualityDedup` — the same seam `pipeline_curate`'s JSONL ingest
    * uses (WarcSourceSpec composes it end to end). The raw-body form
    * is [[documentsRaw]]. */
  def documents(spark: SparkSession, path: String): DataFrame =
    documentsView(read(spark, path)._1, extract = true)

  /** [[documents]] WITHOUT HTML extraction — text is the raw HTTP
    * body. For consumers that need the wire form (boilerplate
    * research, re-extraction experiments, link-graph mining). */
  def documentsRaw(spark: SparkSession, path: String): DataFrame =
    documentsView(read(spark, path)._1, extract = false)

  /** Record rows from a frame carrying file PATHS only — the
    * RECORD-BOUNDED streaming transport (and the batch twin the spec
    * equates with [[readRaw]]): a segment's bytes never materialize
    * as a row; each path opens via the Hadoop FileSystem INSIDE the
    * task and flows through the same per-record [[parseStream]] the
    * batch reader uses, so task memory is one record (the batch
    * bound) whatever the segment size. This is what lets the
    * streaming path ride Spark's `binaryFile` source LISTING (new-file
    * discovery, checkpointed offsets) while skipping its content
    * materialization — selecting only `path` prunes `content` out of
    * the scan entirely (the source reads file STATUS for the pruned
    * schema; the spec pins the read schema), which also lifts the
    * source's 2 GiB per-file content ceiling off the streaming path.
    * `hc` is the driver conf captured outside the closure
    * ([[graft.core.Fs.onExecutors]]) — executor-built configurations
    * would drop cluster fs settings. */
  def parsePaths(files: DataFrame,
                 hc: graft.core.Fs.HadoopConf): DataFrame =
    files.select(col("path")).as[String](Encoders.STRING)
      .flatMap { p =>
        parseOpened(p, () => {
          val path = new org.apache.hadoop.fs.Path(p)
          maybeGzip(p, path.getFileSystem(hc.value).open(path))
        })
      }(Encoders.product[WarcRec]).toDF()

  /** Record rows from ANY frame carrying (path, content) columns —
    * the seam for callers that already hold bytes in rows. Each
    * file-row parses through the same [[parseStream]]; memory here is
    * bounded per FILE-ROW (the caller materialized the file), vs the
    * per-record bound of [[readRaw]] and [[parsePaths]] — prefer
    * those everywhere a path or a stream is available. */
  def parseBinary(files: DataFrame): DataFrame =
    files.select(col("path"), col("content"))
      .as[(String, Array[Byte])](
        Encoders.tuple(Encoders.STRING, Encoders.BINARY))
      .flatMap { case (f, bytes) =>
        // same early-stop hygiene as readRaw (the task-completion
        // close in parseOpened): a partially-consumed iterator must
        // not leak the decompressor's native Inflater until GC
        parseOpened(f, () =>
          maybeGzip(f, new java.io.ByteArrayInputStream(bytes)))
      }(Encoders.product[WarcRec]).toDF()

  /** STREAMING WARC ingest → the curation funnel, with zero funnel
    * changes: crawl segments landing in the watched `dir` parse
    * per micro-batch (quarantine-and-resync semantics identical to
    * batch), the response documents project through [[documentsView]],
    * and each document re-renders as ONE JSONL line — exactly the
    * line contract `StreamingCuration.start` already ingests, so the
    * five-stage funnel (contract parse → rules → NB → near-dedup →
    * budget → profile) runs on crawl drops unchanged. `doc_id` is
    * xxhash64 of the WARC record id, falling back to the unique
    * `<file>:<offset>` when a record carries no WARC-Record-ID header
    * (hashing a NULL would collapse every id-less record onto the
    * hash seed — systematic collisions that break the funnel's
    * id-keyed joins; 64-bit collisions otherwise are the standard
    * fingerprint trade, same as the corpus-diff row). Schema for the
    * funnel side: (doc_id long, record_id string, url string,
    * text string).
    *
    * NOTHING is silently lost: a corrupt WARC region renders as a
    * deliberately NON-JSON line (`WARC-QUARANTINE\t<file>\t<offset>\t
    * <base64 raw>\t<err>`), which the funnel's own stage-1 contract
    * parse quarantines — so WARC-level corruption lands in the same
    * observable `quarantine/batch=<id>` ledger as malformed JSONL,
    * raw bytes preserved, with zero funnel changes. Docs and
    * quarantine render as ONE projection over one parse (a two-branch
    * union would parse every segment twice per plan execution — and
    * the funnel's stage-1 actions execute the plan more than once).
    *
    * The default glob matches only FINISHED segment names (`*.warc` /
    * `*.warc.gz`) — a `*.warc*` glob would pick up mid-copy temp
    * names like `x.warc.gz.tmp`; a file truncated mid-gzip-member
    * still quarantines rather than killing the query (the parser's
    * stream-error row).
    *
    * Transport is [[parsePaths]] — the stream carries segment PATHS,
    * never segment bytes, so streaming memory is bounded per RECORD
    * exactly like the batch reader (r12 declared the segment-sized
    * binaryFile-content envelope; this closes it). */
  def streamDocumentLines(spark: SparkSession, dir: String,
                          glob: String = "*.{warc,warc.gz}",
                          options: Map[String, String] = Map.empty)
      : DataFrame = {
    // binaryFile's schema is FIXED by the source; the streaming reader
    // still demands it be stated (no inference pass on a stream)
    val binarySchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("modificationTime",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("length",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType)))
    documentLines(parsePaths(
      spark.readStream.format("binaryFile").schema(binarySchema)
        .option("pathGlobFilter", glob).options(options).load(dir)
        .select(col("path")),
      graft.core.Fs.onExecutors(spark)))
  }

  /** The funnel-line projection over a [[parseBinary]]/[[readRaw]]
    * frame (batch or streaming) — see [[streamDocumentLines]] for the
    * contract. One projection, one parse. */
  def documentLines(recs: DataFrame): DataFrame = {
    val rid = headerVal("warc-record-id")
    val docJson = to_json(struct(
      xxhash64(coalesce(rid,
        concat(col("file"), lit(":"), col("offset")))).as("doc_id"),
      rid.as("record_id"),
      headerVal("warc-target-uri").as("url"),
      headerVal("warc-date").as("warc_date"),
      bodyText(headerVal("content-type"), col("payload"),
        extract = true).as("text")))
    // Spark's base64 breaks its output with a CRLF every 76 characters;
    // the marker is ONE line, so the breaks come out
    val marker = concat(lit("WARC-QUARANTINE\t"), col("file"), lit("\t"),
      col("offset").cast("string"), lit("\t"),
      regexp_replace(base64(col("raw")), "\r\n", ""), lit("\t"),
      col("err"))
    recs
      .where(col("corrupt") || lower(headerVal("warc-type")) === "response")
      .select(when(col("corrupt"), marker).otherwise(docJson).as("value"))
  }
}
