package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** WARC ingest against the COMMITTED fixtures (test/resources/warc):
  * clean/corrupt split, byte-exact round-trip, gzip-member streams,
  * quarantine resync, and the composition into the curation funnel's
  * ingest seam (UrlOps keying + CurateStages.qualityDedup). */
class WarcSourceSpec extends SparkSpec {

  private def res(name: String): String =
    getClass.getResource(s"/warc/$name").getPath

  private def fileBytes(name: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Path.of(res(name)))

  test("clean fixture: five records parse with headers in order, " +
      "offsets match the byte layout, payloads are length-exact") {
    val recs = WarcSource.parseStream("f",
      new java.io.ByteArrayInputStream(fileBytes("fixture_clean.warc")))
      .toSeq
    assert(recs.length == 5 && recs.forall(!_.corrupt))
    val types = recs.map(_.headers.find(_.name == "WARC-Type").get.value)
    assert(types == Seq("warcinfo", "request", "response", "response",
      "metadata"))
    // offsets are cumulative record sizes
    val sizes = recs.map(r =>
      WarcSource.render(r.version, r.headers, r.payload).length.toLong)
    assert(recs.map(_.offset) == sizes.scanLeft(0L)(_ + _).init)
    // declared length == payload length
    assert(recs.forall(r => r.headers
      .find(_.name == "Content-Length").get.value.toInt
        == r.payload.length))
    // the response payload carries its HTTP envelope intact
    assert(new String(recs(2).payload, "ISO-8859-1")
      .startsWith("HTTP/1.1 200 OK\r\n"))
  }

  test("round-trip: rendering the parsed records reproduces the " +
      "fixture file bit-for-bit") {
    val bytes = fileBytes("fixture_clean.warc")
    val recs = WarcSource.parseStream("f",
      new java.io.ByteArrayInputStream(bytes)).toSeq
    val rebuilt = recs.flatMap(r =>
      WarcSource.render(r.version, r.headers, r.payload)).toArray
    assert(java.util.Arrays.equals(rebuilt, bytes))
  }

  test("corrupt fixture: bad regions quarantine with raw bytes and " +
      "named errors, the parser resyncs, clean records survive") {
    val (clean, quarantine) = WarcSource.read(spark,
      res("fixture_corrupt.warc"))
    val c = clean.orderBy(col("offset")).collect()
    val q = quarantine.orderBy(col("offset")).collect()
    // layout: valid r3, garbage, bad content-length, valid r4, truncated
    assert(c.length == 2)
    assert(c.map(_.getAs[String]("record_id")).toSeq == Seq(
      "<urn:uuid:00000000-0000-0000-0000-000000000003>",
      "<urn:uuid:00000000-0000-0000-0000-000000000004>"))
    assert(q.length == 3)
    val errs = q.map(_.getAs[String]("err")).toSeq
    assert(errs.exists(_.contains("expected WARC/ version line")))
    assert(errs.exists(_.contains("invalid Content-Length")))
    assert(errs.exists(_.contains("payload truncated")))
    // raw bytes preserved: the garbage region is intact
    val garbage = q.find(_.getAs[String]("err")
      .contains("expected WARC/")).get.getAs[Array[Byte]]("raw")
    assert(new String(garbage, "ISO-8859-1")
      .startsWith("this is not a warc record at all"))
    // quarantine never swallows a following valid record: the
    // bad-length record's raw stops before r4's version line
    assert(q.forall(r => !new String(r.getAs[Array[Byte]]("raw"),
      "ISO-8859-1").contains("000000000004>")))
  }

  test("gzip member-per-record stream (the Common Crawl layout) " +
      "parses identically to the plain file") {
    val plain = WarcSource.read(spark, res("fixture_clean.warc"))._1
      .select(col("record_id"), col("warc_type"), col("content_length"))
      .collect().map(_.toSeq).toSet
    val gz = WarcSource.read(spark, res("fixture_clean.warc.gz"))._1
      .select(col("record_id"), col("warc_type"), col("content_length"))
      .collect().map(_.toSeq).toSet
    assert(gz == plain && gz.size == 5)
  }

  test("a corrupt record whose offending line IS the next record's " +
      "version line does not swallow that record; an absurd " +
      "Content-Length quarantines without killing the parse or " +
      "allocating the declared size") {
    def rec(id: String, body: String, terminator: String = "\r\n\r\n") =
      s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: $id\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n$body" + terminator
    // record A is missing its blank-line terminator entirely — record
    // B's version line is the first thing after A's payload
    val missingTerm = rec("<a>", "aaaa", terminator = "") + rec("<b>", "bbbb")
    val out1 = WarcSource.parseStream("f",
      new java.io.ByteArrayInputStream(
        missingTerm.getBytes("ISO-8859-1"))).toSeq
    assert(out1.count(_.corrupt) == 1 &&
      out1.filter(!_.corrupt).flatMap(_.headers)
        .exists(h => h.value == "<b>"),
      s"record B must survive A's missing terminator: $out1")
    // declared length of 3 GB in a tiny stream: quarantined as
    // invalid, never thrown, never allocated
    val huge = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "Content-Length: 3000000000\r\n\r\nxy").getBytes("ISO-8859-1")
    val out2 = WarcSource.parseStream("f",
      new java.io.ByteArrayInputStream(huge)).toSeq
    assert(out2.length == 1 && out2.head.corrupt &&
      out2.head.err.contains("Content-Length"))
    // a plausible-but-lying length (1 MB declared, bytes absent) reads
    // only what exists — the truncation error names the real count
    val lying = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "Content-Length: 1048576\r\n\r\nonly this").getBytes("ISO-8859-1")
    val out3 = WarcSource.parseStream("f",
      new java.io.ByteArrayInputStream(lying)).toSeq
    assert(out3.length == 1 && out3.head.corrupt &&
      out3.head.err.contains("payload truncated: 9 of 1048576"))
  }

  test("transport-layer failures quarantine instead of killing the " +
      "task: a truncated gzip member, and newline-free garbage that " +
      "could only resync at EOF") {
    // cut the gz fixture mid-member: records before the cut parse,
    // then ONE stream-error quarantine row ends the file
    val gz = fileBytes("fixture_clean.warc.gz")
    val cut = java.util.Arrays.copyOf(gz, (gz.length * 3) / 5)
    val out = WarcSource.parseStream("f",
      new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(cut))).toSeq
    assert(out.nonEmpty && out.count(r =>
      r.corrupt && r.err.contains("unreadable stream")) == 1)
    assert(out.last.corrupt && out.exists(!_.corrupt))
    // 2 MB of newline-free garbage after a valid record: the line
    // reader retains at most LineCap, the capture at most
    // QuarantineCap — bounded memory, one quarantine row, and the
    // valid record before it still parses
    val rec = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Record-ID: <ok>\r\nContent-Length: 2\r\n\r\nhi\r\n\r\n")
      .getBytes("ISO-8859-1")
    val garbage = Array.fill[Byte](2 << 20)('x')
    val out2 = WarcSource.parseStream("f",
      new java.io.ByteArrayInputStream(rec ++ garbage)).toSeq
    assert(out2.length == 2 && !out2.head.corrupt && out2(1).corrupt)
    assert(out2(1).raw.length <= WarcSource.QuarantineCap)
  }

  test("documentLines: id-less records fall back to file:offset ids " +
      "(never the hash of NULL), corrupt rows render as marker lines " +
      "in the SAME single projection") {
    import org.apache.spark.sql.functions.from_json
    // two records WITHOUT WARC-Record-ID + one corrupt region
    def rec(body: String) =
      ("WARC/1.0\r\nWARC-Type: response\r\n" +
        "Content-Type: text/plain\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n$body\r\n\r\n")
    val bytes = (rec("alpha") + "garbage line\r\n" + rec("beta"))
      .getBytes("ISO-8859-1")
    val tmp = java.nio.file.Files.createTempDirectory("warc_idless")
    java.nio.file.Files.write(tmp.resolve("x.warc"), bytes)
    val lines = WarcSource.documentLines(WarcSource.parseBinary(
        spark.read.format("binaryFile").load(tmp.toString)))
      .collect().map(_.getString(0))
    val docs = lines.filterNot(_.startsWith("WARC-QUARANTINE\t"))
    val quar = lines.filter(_.startsWith("WARC-QUARANTINE\t"))
    assert(docs.length == 2 && quar.length == 1)
    // distinct non-seed ids for the two id-less records
    val ids = docs.map { l =>
      spark.range(1).select(from_json(lit(l),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType))))
        .getField("doc_id")).collect()(0).getLong(0)
    }
    assert(ids.distinct.length == 2,
      s"id-less records must get DISTINCT ids, got ${ids.toSeq}")
  }

  test("documentLines: a corrupt region longer than one Base64 line " +
      "renders as ONE marker line that the basic decoder reads") {
    val garbage = "this is not a warc record " * 10
    val rec = "WARC/1.0\r\nWARC-Type: response\r\n" +
      "Content-Type: text/plain\r\nContent-Length: 2\r\n\r\nhi\r\n\r\n"
    val tmp = java.nio.file.Files.createTempDirectory("warc_longcorrupt")
    java.nio.file.Files.write(tmp.resolve("x.warc"),
      (garbage + "\r\n" + rec).getBytes("ISO-8859-1"))
    val quar = WarcSource.documentLines(WarcSource.parseBinary(
        spark.read.format("binaryFile").load(tmp.toString)))
      .collect().map(_.getString(0))
      .filter(_.startsWith("WARC-QUARANTINE\t"))
    assert(quar.length == 1 && !quar(0).exists(c => c == '\r' || c == '\n'),
      quar.toSeq)
    assert(new String(java.util.Base64.getDecoder.decode(
      quar(0).split("\t")(3)), "ISO-8859-1").startsWith(garbage))
  }

  test("path transport (parsePaths): record-identical to readRaw over " +
      "the same files — clean, corrupt and gzip — and the file scan " +
      "reads ONLY the path (segment bytes never enter a row)") {
    val dir = java.nio.file.Files.createTempDirectory("warc_paths")
    for (f <- Seq("fixture_clean.warc", "fixture_corrupt.warc",
        "fixture_clean.warc.gz"))
      java.nio.file.Files.copy(java.nio.file.Path.of(res(f)),
        dir.resolve(f))
    def canon(df: org.apache.spark.sql.DataFrame) = df.select(
        element_at(split(col("file"), "/"), -1).as("f"), col("offset"),
        col("version"), col("corrupt"), col("err"),
        length(col("payload")).as("plen"), to_json(col("headers")).as("h"))
      .collect().map(_.toSeq).toSet
    val byPath = WarcSource.parsePaths(
      spark.read.format("binaryFile").load(dir.toString)
        .select(col("path")),
      graft.core.Fs.onExecutors(spark))
    val byStream = WarcSource.readRaw(spark, dir.toString + "/*")
    assert(canon(byPath) == canon(byStream))
    assert(byPath.count() == 15) // 5 clean + 5 gz + (2 clean + 3 quar)
    // the per-record memory bound rests on the transport never
    // materializing content: the binaryFile scan must prune to path
    val plan = byPath.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<path:string>"),
      s"binaryFile scan must carry only path, got:\n$plan")
  }

  test("path transport handles a record far beyond every line/buffer " +
      "cap (a multi-MB payload) — the record-sized bound is the only " +
      "bound, batch and streaming alike") {
    val dir = java.nio.file.Files.createTempDirectory("warc_big")
    val big = Array.tabulate[Byte](8 << 20)(i => (i % 251).toByte)
    val head = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Record-ID: <big>\r\n" +
      s"Content-Length: ${big.length}\r\n\r\n").getBytes("ISO-8859-1")
    val tail = "\r\n\r\n".getBytes("ISO-8859-1")
    val small = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Record-ID: <small>\r\nContent-Length: 2\r\n\r\nok\r\n\r\n")
      .getBytes("ISO-8859-1")
    java.nio.file.Files.write(dir.resolve("big.warc"),
      head ++ big ++ tail ++ small)
    val recs = WarcSource.parsePaths(
      spark.read.format("binaryFile").load(dir.toString)
        .select(col("path")),
      graft.core.Fs.onExecutors(spark))
      .select(col("corrupt"), length(col("payload")).as("n"))
      .collect().map(r => (r.getBoolean(0), r.getInt(1))).toSet
    assert(recs == Set((false, big.length), (false, 2)))
  }

  test("an unopenable file quarantines instead of killing the task: " +
      "a .gz with a corrupt gzip HEADER (the eager-reading ctor), and " +
      "a path that vanished between listing and open") {
    val dir = java.nio.file.Files.createTempDirectory("warc_unopen")
    java.nio.file.Files.copy(java.nio.file.Path.of(res("fixture_clean.warc")),
      dir.resolve("good.warc"))
    // not gzip: the magic bytes are wrong, GZIPInputStream's ctor throws
    java.nio.file.Files.write(dir.resolve("bad.warc.gz"),
      "this is not gzip at all".getBytes("ISO-8859-1"))
    val out = WarcSource.readRaw(spark, dir.toString + "/*").collect()
    assert(out.count(!_.getAs[Boolean]("corrupt")) == 5) // good.warc parses
    val q = out.filter(_.getAs[Boolean]("corrupt"))
    assert(q.length == 1 && q.head.getAs[String]("err")
      .startsWith("unreadable file:"), q.toSeq.toString)
    // the streaming-path race: the source listed a file that is gone
    // by task time — one quarantine row, the batch (and with it a
    // checkpointed streaming query) survives
    import spark.implicits._
    val ghost = dir.resolve("ghost.warc").toUri.toString
    val rows = WarcSource.parsePaths(
      Seq(ghost).toDF("path"), graft.core.Fs.onExecutors(spark))
      .collect()
    assert(rows.length == 1 && rows.head.getAs[Boolean]("corrupt") &&
      rows.head.getAs[String]("err").startsWith("unreadable file:"))
    // a MALFORMED PATH ROW (non-IO failure: new Path / URI parse throws
    // IllegalArgumentException, not IOException) — same posture: one
    // quarantine row, not a dead task wedging a checkpointed query
    val malformed = "hdfs://bad_authority:not_a_port/x.warc"
    val mrows = WarcSource.parsePaths(
      Seq(malformed).toDF("path"), graft.core.Fs.onExecutors(spark))
      .collect()
    assert(mrows.length == 1 && mrows.head.getAs[Boolean]("corrupt") &&
      mrows.head.getAs[String]("err").startsWith("unreadable file:"),
      mrows.toSeq.toString)
  }

  test("LIVE streaming composition: WARC segment drops feed the " +
      "curation funnel end to end — clean docs admit/cut per the " +
      "rules, duplicate drops dedup, corrupt regions land in the " +
      "funnel's own quarantine ledger") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val in = java.nio.file.Files.createTempDirectory("warc_in")
    val out = java.nio.file.Files.createTempDirectory("warc_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("warc_ck").toString
    // two drops: the clean fixture, then the corrupt one (which
    // carries duplicate copies of records 3/4 plus 3 corrupt regions)
    java.nio.file.Files.copy(java.nio.file.Path.of(res("fixture_clean.warc")),
      in.resolve("drop1.warc"))
    java.nio.file.Files.copy(java.nio.file.Path.of(res("fixture_corrupt.warc")),
      in.resolve("drop2.warc"))
    val lines = WarcSource.streamDocumentLines(spark, in.toString,
      options = Map("maxFilesPerTrigger" -> "1")) // one drop per batch
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("record_id", StringType), StructField("url", StringType),
      StructField("text", StringType)))
    val cfg = graft.streaming.StreamingCuration.Config(minWords = 5,
      stopwords = Seq("the", "and", "over"))
    val q = graft.streaming.StreamingCuration.start(spark, lines, schema,
      "doc_id", "text", out, ckpt, cfg)
    try q.processAllAvailable() finally q.stop()
    // the prose response (record 3) admits ONCE — its drop2 duplicate
    // is cut by the near-dup store; the spam response (record 4) is
    // cut by the rules (zero stopwords, saturated repetition)
    val admitted = spark.read.parquet(s"$out/admitted")
    assert(admitted.count() == 1)
    val expectedId = spark.range(1).select(xxhash64(
      lit("<urn:uuid:00000000-0000-0000-0000-000000000003>")))
      .collect()(0).getLong(0)
    assert(admitted.collect()(0).getLong(0) == expectedId)
    // WARC-level corruption rides the funnel's OWN stage-1 quarantine:
    // 3 corrupt regions, raw bytes recoverable from the marker lines
    val quar = spark.read.parquet(s"$out/quarantine").collect()
      .map(_.getString(0))
    assert(quar.length == 3 &&
      quar.forall(_.startsWith("WARC-QUARANTINE\t")))
    assert(quar.exists(l => new String(
      java.util.Base64.getDecoder.decode(l.split("\t")(3)), "ISO-8859-1")
      .startsWith("this is not a warc record")))
    // the funnel countered every parsed document (2 responses per
    // drop = 4 docs; the two spam instances fail the rule conjunction,
    // both prose instances pass it — the SECOND prose copy is cut
    // later, by the near-dup store, where it is also observable)
    val funnel = graft.streaming.StreamingCuration.funnelTotals(spark, out)
      .where(col("rule") === "all_rules").collect()(0)
    assert(funnel.getLong(2) == 4 && funnel.getLong(1) == 2)
  }

  test("documents view + the curation ingest seam: response records " +
      "become (url, text) rows, URL keying normalizes, qualityDedup " +
      "admits prose and cuts the repetition page") {
    val docs = WarcSource.documents(spark, res("fixture_clean.warc"))
    val rows = docs.orderBy(col("record_id")).collect()
    assert(rows.length == 2) // responses only
    // the HTTP envelope is stripped from text
    assert(rows(0).getAs[String]("text").startsWith("the quick brown"))
    // the same keying layer pipeline_curate's ingest feeds: raw crawl
    // URL -> canonical key + PSL domain
    val keyed = docs.select(col("record_id"),
      graft.ops.UrlOps.normalize(col("url")).as("url_norm"),
      graft.ops.UrlOps.urlDomainPsl(col("url")).as("domain"))
      .orderBy(col("record_id")).collect()
    assert(keyed(0).getAs[String]("url_norm")
      == "http://www.example.com/a?id=1")
    assert(keyed(0).getAs[String]("domain") == "example.com")
    assert(keyed(1).getAs[String]("domain") == "myblog.blogspot.com")
    // and the funnel's quality/dedup stage runs unchanged on the view
    val curated = graft.queries.CurateStages
      .qualityDedup(docs, "record_id", "text")
    val kept = curated.select(col("record_id")).collect()
      .map(_.getString(0)).toSeq
    // the prose page survives; the spam-repetition page is cut
    assert(kept == Seq("<urn:uuid:00000000-0000-0000-0000-000000000003>"))
    assert(curated.columns.toSeq ==
      Seq("record_id", "url", "warc_date", "text"))
  }

  test("charset fixture: cp1252 and Shift_JIS pages decode to text, " +
      "the cp1252 and utf-8 spellings of ONE document converge on one " +
      "dedup key (mojibake would split them), batch ≡ stream") {
    val shared = "The café on the corner serves touché croissants — a " +
      "naïve résumé of flavours “worth the detour” every single time."
    val docs = WarcSource.documents(spark, res("fixture_charset.warc"))
      .orderBy(col("record_id")).collect()
    assert(docs.length == 3)
    // both spellings decode to the SAME text -> same xxhash64 dedup key
    assert(docs(0).getAs[String]("text") == shared) // cp1252 record
    assert(docs(1).getAs[String]("text") == shared) // utf-8 record
    // the replacement-decoded (mojibake) form would NOT converge
    val raw = WarcSource.read(spark, res("fixture_charset.warc"))._1
      .orderBy(col("record_id"))
      .select(WarcSource.httpBody(col("payload"))).collect()
    assert(raw(0).getString(0) != raw(1).getString(0))
    assert(raw(0).getString(0).contains("�"))
    // Shift_JIS HTML: META-declared charset decodes BEFORE extraction
    assert(docs(2).getAs[String]("text")
      == "テスト\n\n日本語の文書です。検索品質の確認用です。")
    // ONE bodyText definition: the streaming funnel transport carries
    // the same decoded text
    val lines = WarcSource.documentLines(
      WarcSource.readRaw(spark, res("fixture_charset.warc")))
      .select(get_json_object(col("value"), "$.text")).collect()
      .map(_.getString(0)).sorted
    assert(lines.toSeq == docs.map(_.getAs[String]("text")).sorted.toSeq)
    // the decoded charset is observable per record
    val cs = WarcSource.read(spark, res("fixture_charset.warc"))._1
      .orderBy(col("record_id"))
      .select(WarcSource.decodedPayload(col("content_type"),
        col("payload")).getField("charset")).collect()
      .map(_.getString(0)).toSeq
    assert(cs == Seq("windows-1252", "utf-8", "shift_jis"))
  }
}
