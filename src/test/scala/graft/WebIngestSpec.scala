package graft.ops

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class WebIngestSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("warcRecords: two-record segment round-trips plain AND gzipped") {
    val df = Seq((0L, false), (1L, true)).toDF("doc_id", "gz")
      .select(col("doc_id"), WebIngest.syntheticWarc(col("doc_id"),
        lit("<p>hello</p>"), col("gz")).as("payload"))
    val out = WebIngest.warcRecords(df).orderBy("doc_id", "record_idx").collect()
    assert(out.length == 4)
    out.grouped(2).zipWithIndex.foreach { case (Array(info, conv), d) =>
      assert(info.getAs[String]("warc_type") == "warcinfo")
      assert(info.getAs[Long]("content_length") == 27L)
      assert(conv.getAs[String]("warc_type") == "conversion")
      assert(conv.getAs[String]("target_uri") == s"http://example.com/doc/$d")
      assert(conv.getAs[String]("content_text") == "<p>hello</p>")
      assert(conv.getAs[String]("parse_error") == null)
    }
  }

  test("warcRecords: truncated tail keeps parsed records and reports; " +
      "garbage and null degrade per segment") {
    val full = WebIngest.syntheticWarc
    val df0 = Seq((0L, false)).toDF("doc_id", "gz")
      .select(col("doc_id"), full(col("doc_id"), lit("body text here"), col("gz")).as("payload"))
    val bytes = df0.collect().head.getAs[Array[Byte]]("payload")
    val cut = java.util.Arrays.copyOf(bytes, bytes.length - 12) // cut into record 1's body
    val df = Seq((0L, cut), (1L, "no warc here".getBytes("UTF-8")),
      (2L, null: Array[Byte])).toDF("doc_id", "payload")
    val out = WebIngest.warcRecords(df).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    // doc 0: warcinfo parsed, then the truncated-tail error row
    val d0 = out(0L).sortBy(_.getAs[Int]("record_idx"))
    assert(d0.head.getAs[String]("warc_type") == "warcinfo")
    assert(d0.last.getAs[String]("parse_error") == "truncated or malformed record")
    assert(out(1L).head.getAs[String]("parse_error") ==
      "not a WARC stream (no version line)")
    assert(out(2L).head.getAs[String]("parse_error") == "null payload")
  }

  test("extractText: scripts/styles/comments drop, entities decode, " +
      "block tags break lines, whitespace collapses") {
    val html = "<html><head><title>T1</title><style>b {}</style></head>" +
      "<body><h1>Head <b>line</b></h1><!-- gone --><p>a &amp; b &lt;ok&gt; " +
      "&#65;&#x42;</p><script>if (1 < 2) { alert('</p>'); }</script>" +
      "<p>  spaced   out  </p></body></html>"
    assert(WebIngest.extractText(html) ==
      "T1\nHead line\na & b <ok> AB\nspaced out")
    assert(WebIngest.extractText(null) == null)
    assert(WebIngest.extractText("plain, no markup & unterminated") ==
      "plain, no markup & unterminated")
    // unterminated script drops to EOF instead of leaking code as text
    assert(WebIngest.extractText("<p>x</p><script>var y = 1;") == "x")
  }

  test("raw-crawl chain: warcRecordBytes → httpResponses → htmlText " +
      "decodes each page with ITS declared charset, not blanket UTF-8") {
    // the same non-ASCII text shipped in three charsets: latin-1 and
    // cp1252 encode é as one byte 0xE9, which blanket-UTF-8 decoding
    // mangles — per-charset decode must recover the identical string
    val page = "<html><body><p>café résumé</p></body></html>"
    val df = Seq(
      (0L, 200, "utf-8"), (1L, 200, "iso-8859-1"), (2L, 200, "windows-1252"),
      (3L, 404, "utf-8"))
      .toDF("doc_id", "status", "cs")
      .select(col("doc_id"), col("status"), col("cs"),
        WebIngest.syntheticWarcResponse(col("doc_id"), lit(page),
          col("status"), col("cs"), col("doc_id") % 2 === 1).as("payload"))
    val resp = WebIngest.httpResponses(
      WebIngest.warcRecordBytes(df)
        .where(col("warc_type") === "response" && col("parse_error").isNull)
        .drop("parse_error", "record_idx", "warc_type", "content_type",
          "content_length", "payload", "target_uri"))
    val out = WebIngest.htmlText(resp, "http_body").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    for (id <- 0L to 2L) {
      assert(out(id).getAs[Int]("http_status") == 200)
      assert(out(id).getAs[String]("http_content_type") == "text/html")
      assert(out(id).getAs[String]("html_text") == "café résumé",
        s"doc $id charset ${out(id).getAs[String]("http_charset")} mangled")
    }
    assert(out(1L).getAs[String]("http_charset") == "iso-8859-1")
    assert(out(3L).getAs[Int]("http_status") == 404)
    // degradation: a conversion-style body with no HTTP head
    val notHttp = WebIngest.httpResponses(
      Seq((9L, "just text, no head".getBytes("UTF-8")))
        .toDF("doc_id", "content_bytes")).collect().head
    assert(notHttp.getAs[String]("parse_error") == "no HTTP head/body delimiter")
    // unsupported charset falls back to UTF-8 instead of throwing — and
    // http_charset reports NULL (the decode actually applied), not the
    // declared value it could not honor
    val weird = WebIngest.httpResponses(
      Seq((8L, ("HTTP/1.1 200 OK\r\nContent-Type: text/plain; " +
        "charset=x-nonsense\r\n\r\nplain body").getBytes("UTF-8")))
        .toDF("doc_id", "content_bytes")).collect().head
    assert(weird.getAs[String]("parse_error") == null)
    assert(weird.getAs[String]("http_body") == "plain body")
    assert(weird.isNullAt(weird.fieldIndex("http_charset")))
  }

  test("httpResponses: payloads AS TRANSMITTED — chunked transfer coding " +
      "dechunked, gzip content coding inflated, unsupported codings refuse " +
      "by name, single-quoted charsets and mixed delimiters tolerated") {
    import java.nio.charset.StandardCharsets.ISO_8859_1
    def resp(head: String, body: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      bos.write(head.getBytes(ISO_8859_1)); bos.write(body); bos.toByteArray
    }
    val gzBody = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write("<p>zipped page</p>".getBytes("UTF-8")); gz.close()
      bos.toByteArray
    }
    val chunked = ("7\r\n<p>chun\r\n" + "A;ext=1\r\nked body12\r\n" +
      "4\r\n</p>\r\n" + "0\r\n\r\n").getBytes(ISO_8859_1)
    val rows = Seq(
      // gzip content-encoding: inflate, then charset-decode
      (1L, resp("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
        "Content-Encoding: gzip\r\n\r\n", gzBody)),
      // chunked transfer-encoding: sizes in hex, extensions ignored
      (2L, resp("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
        "Transfer-Encoding: chunked\r\n\r\n", chunked)),
      // unsupported coding refuses BY NAME, never ships mojibake
      (3L, resp("HTTP/1.1 200 OK\r\nContent-Encoding: br\r\n\r\n",
        Array[Byte](1, 2, 3))),
      // single-quoted charset value (seen in the wild)
      (4L, resp("HTTP/1.1 200 OK\r\nContent-Type: text/html; " +
        "charset='iso-8859-1'\r\n\r\n", "café".getBytes(ISO_8859_1))),
      // mixed delimiters: LF header endings, CRLF blank line
      (5L, resp("HTTP/1.1 200 OK\nContent-Type: text/plain\n\r\n",
        "mixed ok".getBytes("UTF-8"))))
      .toDF("doc_id", "content_bytes")
    val out = WebIngest.httpResponses(rows).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[String]("http_body") == "<p>zipped page</p>")
    assert(out(2L).getAs[String]("http_body") == "<p>chunked body12</p>")
    assert(out(3L).getAs[String]("parse_error") == "unsupported content-encoding: br")
    assert(out(4L).getAs[String]("http_charset") == "iso-8859-1")
    assert(out(4L).getAs[String]("http_body") == "café")
    assert(out(5L).getAs[String]("http_body") == "mixed ok")
    assert(out(5L).getAs[Int]("http_status") == 200)
    // DECLARED gzip whose body lacks the 1f 8b magic (corrupt/truncated
    // at byte 0) must refuse BY NAME — gunzipIfNeeded's magic gate would
    // otherwise pass raw deflate bytes through to charset decoding as
    // silent mojibake with parse_error null
    val fake = WebIngest.httpResponses(
      Seq((6L, resp("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
        "Content-Encoding: gzip\r\n\r\n", "not gzip at all".getBytes("UTF-8"))))
        .toDF("doc_id", "content_bytes")).collect().head
    assert(fake.getAs[String]("parse_error") == "declared gzip but no gzip magic")
  }

  test("cdxjEntries: urlkey/timestamp/JSON fields parse declaratively; " +
      "missing JSON, bad JSON, and non-numeric spans degrade BY LINE") {
    val lines = Seq(
      (1L, """com,example)/a 20240101000000 {"url": "http://example.com/a", """ +
        """"mime": "text/html", "status": "200", "digest": "sha1:AB", """ +
        """"length": "527", "offset": "862", "filename": "seg.warc.gz"}"""),
      (2L, "no json block here"),
      (3L, """k 2024 {not valid json]"""),
      (4L, """k 2024 {"offset": "eight", "length": "10"}"""),
      (5L, null.asInstanceOf[String]),
      (6L, """{"offset": "1", "length": "2"}"""), // JSON but no head fields
      (7L, """lonelykey {"offset": "1", "length": "2"}"""))
      .toDF("id", "line")
    val out = WebIngest.cdxjEntries(lines, "line").collect()
      .map(r => r.getAs[Long]("id") -> r).toMap
    val g = out(1L)
    assert(g.getAs[String]("parse_error") == null)
    assert(g.getAs[String]("urlkey") == "com,example)/a")
    assert(g.getAs[String]("cdx_timestamp") == "20240101000000")
    assert(g.getAs[Long]("cdx_offset") == 862L)
    assert(g.getAs[Long]("cdx_length") == 527L)
    assert(g.getAs[Int]("cdx_status") == 200)
    assert(g.getAs[String]("cdx_mime") == "text/html")
    assert(g.getAs[String]("cdx_filename") == "seg.warc.gz")
    assert(out(2L).getAs[String]("parse_error") == "no JSON block")
    assert(out(3L).getAs[String]("parse_error") != null)
    assert(out(4L).getAs[String]("parse_error") ==
      "missing or non-numeric offset/length")
    assert(out(5L).getAs[String]("parse_error") == "null cdxj line")
    // a malformed head must degrade BY NAME, never a silent-null urlkey
    assert(out(6L).getAs[String]("parse_error") == "missing urlkey/timestamp")
    assert(out(7L).getAs[String]("parse_error") == "missing urlkey/timestamp")
  }

  test("CDX selection chain: cdxjEntries spans range-fetch EXACTLY one " +
      "record each via warcRecordAt (per-record gzip members), composing " +
      "into httpResponses; bounds and plain spans behave") {
    val gen = Seq((7L, "<p>page seven</p>")).toDF("doc_id", "html")
      .select(col("doc_id"), WebIngest.syntheticWarcCdx(
        col("doc_id"), col("html")).as("g"))
    val lines = gen.select(col("doc_id"), col("g._1").as("payload"),
      explode(col("g._2")).as("cdx_line"))
    val entriesRaw = WebIngest.cdxjEntries(lines, "cdx_line")
    assert(entriesRaw.where(col("parse_error").isNotNull).count() == 0)
    val entries = entriesRaw.drop("parse_error", "cdx_line")
    val recs = WebIngest.warcRecordAt(entries)
      .orderBy("cdx_offset").collect()
    assert(recs.length == 2)
    assert(recs.forall(_.getAs[String]("parse_error") == null))
    assert(recs.forall(_.getAs[String]("warc_type") == "response"))
    assert(recs.map(_.getAs[String]("target_uri")).toSeq ==
      Seq("http://example.com/doc/7", "http://example.com/gone/7"))
    val resp = WebIngest.httpResponses(
      WebIngest.warcRecordAt(entries).select(
        col("doc_id"), col("urlkey"), col("content_bytes")))
      .collect().map(r => r.getAs[String]("urlkey") -> r).toMap
    assert(resp("com,example)/doc/7").getAs[Int]("http_status") == 200)
    assert(resp("com,example)/doc/7").getAs[String]("http_body") == "<p>page seven</p>")
    assert(resp("com,example)/gone/7").getAs[Int]("http_status") == 404)
    // bounds + null degradation by name
    val payload = gen.select(col("g._1").as("p")).collect()
      .head.getAs[Array[Byte]]("p")
    def jl(v: Long): java.lang.Long = java.lang.Long.valueOf(v)
    val bad = Seq[(Long, Array[Byte], java.lang.Long, java.lang.Long)](
      (1L, payload, jl(10L), jl(payload.length.toLong)), // overruns the end
      (2L, payload, jl(-4L), jl(10L)),
      (3L, payload, null, jl(10L)),
      (4L, payload, jl(3L), jl(40L))) // mid-gzip garbage: no version line
      .toDF("id", "payload", "cdx_offset", "cdx_length")
    val errs = WebIngest.warcRecordAt(bad).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("parse_error")).toMap
    assert(errs(1L).startsWith("record span out of bounds"))
    assert(errs(2L).startsWith("record span out of bounds"))
    assert(errs(3L) == "null offset/length")
    assert(errs(4L) != null)
    // a PLAIN (uncompressed) span parses identically: first record of a
    // plain segment at offset 0
    val plain = Seq((0L, false)).toDF("doc_id", "gz")
      .select(WebIngest.syntheticWarc(col("doc_id"), lit("<p>x</p>"),
        col("gz")).as("p")).collect().head.getAs[Array[Byte]]("p")
    val one = WebIngest.warcRecordAt(
      Seq((0L, plain, 0L, plain.length.toLong))
        .toDF("id", "payload", "cdx_offset", "cdx_length")).collect().head
    assert(one.getAs[String]("parse_error") == null)
    assert(one.getAs[String]("warc_type") == "warcinfo")
  }

  test("redirects + revisits: httpResponses surfaces the 3xx Location, " +
      "warcRecordBytes gives revisit records their WARC-Refers-To / " +
      "digest identity — the hop and the dedup both resolve by join") {
    val segs = Seq((5L, false), (6L, true), (9L, false)).toDF("doc_id", "gz")
      .select(col("doc_id"), WebIngest.syntheticWarcRedirect(
        col("doc_id"), col("gz")).as("payload"))
    val recs = WebIngest.warcRecordBytes(segs)
      .where(col("parse_error").isNull)
      .select(col("doc_id"), col("warc_type"), col("target_uri"),
        col("record_id"), col("warc_refers_to"), col("payload_digest"),
        col("content_bytes"))
    // revisit identity is first-class, not generic degradation
    val rev = recs.where(col("warc_type") === "revisit").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rev(5L).getAs[String]("warc_refers_to") == "<urn:uuid:rec-5-final>")
    assert(rev(5L).getAs[String]("payload_digest") == "sha1:D5")
    assert(rev(6L).getAs[String]("target_uri") == "http://example.com/dup/6")
    // the 301's Location surfaces through httpResponses
    val resp = WebIngest.httpResponses(
      recs.where(col("warc_type") === "response")
        .select(col("doc_id"), col("target_uri"), col("content_bytes")))
      .collect().map(r =>
        (r.getAs[Long]("doc_id"), r.getAs[Int]("http_status")) -> r).toMap
    assert(resp((5L, 301)).getAs[String]("http_location") ==
      "http://example.com/final/5")
    assert(resp((5L, 301)).getAs[String]("target_uri") ==
      "http://example.com/start/5")
    assert(resp((5L, 200)).getAs[String]("http_location") == null)
    assert(resp((6L, 200)).getAs[String]("http_body") == "<p>landed 6</p>")
    // and the revisit resolves to its canonical capture by record id
    val canon = recs.where(col("warc_type") === "response" &&
        col("record_id") === rev(5L).getAs[String]("warc_refers_to"))
      .collect()
    assert(canon.length == 1)
    assert(canon.head.getAs[String]("target_uri") == "http://example.com/final/5")
    // doc 9 (uriKey % 5 == 4): the revisit refers to the 301 capture —
    // a NON-200 response record must still resolve by record id
    assert(rev(9L).getAs[String]("warc_refers_to") == "<urn:uuid:rec-9-start>")
    val canon9 = recs.where(col("warc_type") === "response" &&
        col("record_id") === rev(9L).getAs[String]("warc_refers_to"))
      .collect()
    assert(canon9.length == 1)
    assert(canon9.head.getAs[String]("target_uri") == "http://example.com/start/9")
  }

  test("extractText: custom elements whose name merely STARTS with " +
      "script/style are ordinary tags, not raw-text blocks") {
    // without the tag-name boundary check these would be swallowed whole
    assert(WebIngest.extractText(
      "<style-guide>keep this text</style-guide>") == "keep this text")
    assert(WebIngest.extractText(
      "<script-loader>and this</script-loader> <p>tail</p>") ==
      "and this\ntail")
    // the real raw-text rule still applies with attributes / self-close
    assert(WebIngest.extractText(
      "<style media=\"all\">b {}</style>ok") == "ok")
    assert(WebIngest.extractText(
      "<script defer>var x;</script>ok") == "ok")
  }

  test("extractText: bare '<' in prose is literal text (HTML5 rule), and " +
      "out-of-range numeric entities degrade to literal, never crash") {
    assert(WebIngest.extractText("<p>profit was 1 < 2 and 3 > 2 percent</p>") ==
      "profit was 1 < 2 and 3 > 2 percent")
    // parseInt succeeds on these but appendCodePoint would throw:
    // beyond U+10FFFF, negative, and a surrogate — all stay literal
    assert(WebIngest.extractText("a &#x110000; b &#-1; c &#xD800; d") ==
      "a &#x110000; b &#-1; c &#xD800; d")
    assert(WebIngest.extractText("ok &#65; still") == "ok A still")
    // '<' before a NON-ASCII letter is literal prose too (HTML5 says
    // ASCII alpha, not Unicode letter)
    assert(WebIngest.extractText("价格<十元>以下") ==
      "价格<十元>以下")
  }

  test("htmlText + warcRecords compose: the WET-style ingest chain") {
    val segs = Seq((7L, "<h1>Title</h1><p>real content &amp; stuff</p>"))
      .toDF("doc_id", "html")
      .select(col("doc_id"), WebIngest.syntheticWarc(col("doc_id"),
        col("html"), lit(true)).as("payload"))
    val out = WebIngest.htmlText(
      WebIngest.warcRecords(segs).where(col("warc_type") === "conversion"),
      "content_text").collect().head
    assert(out.getAs[String]("html_text") == "Title\nreal content & stuff")
    assert(out.getAs[Long]("html_text_chars") == 26L)
  }
}

class ExtractLinksSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = graft.SparkTestSession.spark
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("resolveRef: RFC 3986 §5.2 axes — absolute, protocol-relative, " +
      "path-absolute, query-only, merge + dot segments; fragments and " +
      "non-fetchable schemes are null") {
    val base = "http://h.example.com/a/b/c?q=1"
    def r(ref: String) = WebIngest.resolveRef(base, ref)
    assert(r("http://other.org/x") == "http://other.org/x")
    assert(r("HTTPS://UP.org/x") == "HTTPS://UP.org/x") // scheme gate is case-blind
    assert(r("//cdn.example.com/j.js") == "http://cdn.example.com/j.js")
    assert(r("/root/z") == "http://h.example.com/root/z")
    assert(r("?p=2") == "http://h.example.com/a/b/c?p=2")
    assert(r("d") == "http://h.example.com/a/b/d")
    assert(r("../up") == "http://h.example.com/a/up")
    assert(r("../../../past-root") == "http://h.example.com/past-root")
    assert(r("./x/./y") == "http://h.example.com/a/b/x/y")
    assert(r("/x/../y/z/..") == "http://h.example.com/y/")
    assert(r("d#frag") == "http://h.example.com/a/b/d") // fragment stripped
    assert(r("#top") == null) // pure fragment: same document
    assert(r("") == null)
    assert(r("javascript:void(0)") == null)
    assert(r("mailto:x@y.z") == null)
    assert(r("data:text/plain,hi") == null)
    // host-only base: relative merges from "/"
    assert(WebIngest.resolveRef("http://h.example.com", "p") ==
      "http://h.example.com/p")
    assert(WebIngest.resolveRef("not a url", "p") == null)
    // dot-segment removal applies to the PATH only — a query carrying
    // '/../' (redirect-target params do) must survive verbatim
    assert(r("b/../c?u=/a/../z") == "http://h.example.com/a/b/c?u=/a/../z")
    assert(r("/x/../y?next=./here") == "http://h.example.com/y?next=./here")
    assert(r("//cdn.ex.com/a/../j.js?v=/1/../2") ==
      "http://cdn.ex.com/j.js?v=/1/../2")
  }

  test("extractLinksFrom: state-machine extraction — quote forms, " +
      "entity-decoded hrefs, comment/script exclusion, first <base href> " +
      "governs, document order, duplicates kept") {
    val html =
      """<html><head><base href="/dir/"><base href="/ignored/"></head>
        |<body>
        |<a href="one">1</a>
        |<A HREF='two'>2</A>
        |<a href=three>3</a>
        |<a href="/abs?a=1&amp;b=2">4</a>
        |<!-- <a href="in-comment">no</a> -->
        |<script>var s = '<a href="in-script">no</a>';</script>
        |<a href="#frag">no</a>
        |<a href="javascript:void(0)">no</a>
        |<a data-href="decoy" href="one">dup kept</a>
        |<area href="not-an-anchor">
        |</body></html>""".stripMargin
    val got = WebIngest.extractLinksFrom(html, "http://h.ex.com/p/page")
    // first <base href> ("/dir/") resolves against the doc URL and
    // governs every SUBSEQUENT link (here: all of them — base is in head)
    assert(got == Seq(
      "http://h.ex.com/dir/one",
      "http://h.ex.com/dir/two",
      "http://h.ex.com/dir/three",
      "http://h.ex.com/abs?a=1&b=2",
      "http://h.ex.com/dir/one"))
    // no base tag: the document URL is the base
    assert(WebIngest.extractLinksFrom("""<a href="q">x</a>""",
      "http://h.ex.com/p/page") == Seq("http://h.ex.com/p/q"))
    assert(WebIngest.extractLinksFrom(null, "http://x") == null)
  }

  test("extractLinksFrom: body-positioned <base href> is NOT retroactive — " +
      "links before it resolve against the document URL (HTML5 scoping)") {
    val html =
      """<a href="early">1</a>
        |<base href="http://b.ex.com/dir/">
        |<a href="late">2</a>""".stripMargin
    assert(WebIngest.extractLinksFrom(html, "http://h.ex.com/p/page") == Seq(
      "http://h.ex.com/p/early",
      "http://b.ex.com/dir/late"))
    // unusable base href (non-http scheme): subsequent links fall back
    // to the doc URL too
    assert(WebIngest.extractLinksFrom(
      """<a href="a">1</a><base href="mailto:x@y"><a href="b">2</a>""",
      "http://h.ex.com/p/page") ==
      Seq("http://h.ex.com/p/a", "http://h.ex.com/p/b"))
  }

  test("extractLinks column op: appends link_urls, null html stays null") {
    val got = WebIngest.extractLinks(
      Seq((1L, """<a href="/x">l</a>""", "http://h.ex.com/p"),
        (2L, null.asInstanceOf[String], "http://h.ex.com/p"))
        .toDF("id", "html", "url"), "html", "url")
      .collect().map(r => r.getAs[Long]("id") ->
        (if (r.isNullAt(r.fieldIndex("link_urls"))) null
         else r.getSeq[String](r.fieldIndex("link_urls")).toList)).toMap
    assert(got(1L) == List("http://h.ex.com/x"))
    assert(got(2L) == null)
  }
}

class SurtSniffSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = graft.SparkTestSession.spark
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("surtKey matches the CDX index's own urlkey form — the generator's " +
      "cdxj lines and the computed key agree, www/port/query axes covered") {
    val got = graft.ops.TextAnalysis.surtKey(
      Seq(
        (1L, "http://example.com/doc/7"),
        (2L, "http://www.example.com/"),
        (3L, "https://sub.host.org:8443/A/B?b=2&a=1"),
        (4L, "not a url"),
        (5L, "http://example.com"))
        .toDF("id", "u"), "u")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("urlkey")).toMap
    // identical to syntheticWarcCdx's planted urlkey form
    assert(got(1L) == "com,example)/doc/7")
    assert(got(2L) == "com,example)/")
    assert(got(3L) == "org,host,sub:8443)/a/b?a=1&b=2")
    assert(got(4L) == null)
    assert(got(5L) == "com,example)/")
    // wwwN strip + fragment drop (the CDX canonicalizer's rules)
    val extra = graft.ops.TextAnalysis.surtKey(
      Seq((1L, "http://www2.example.com/p?a=1#frag")).toDF("id", "u"), "u")
      .collect().head.getAs[String]("urlkey")
    assert(extra == "com,example)/p?a=1")
    // scheme-default ports strip (same predicate as canonicalizeUrl) —
    // a non-canonicalized :80/:443 input must still hit the index's key
    val ports = graft.ops.TextAnalysis.surtKey(
      Seq(
        (1L, "http://example.com:80/"),
        (2L, "https://example.com:443/p"),
        (3L, "https://example.com:80/p"), // :80 is NOT https's default
        (4L, "http://example.com:0080/")) // numeric compare, not textual
        .toDF("id", "u"), "u")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("urlkey")).toMap
    assert(ports(1L) == "com,example)/")
    assert(ports(2L) == "com,example)/p")
    assert(ports(3L) == "com,example:80)/p")
    assert(ports(4L) == "com,example)/")
  }

  test("oversized all-digits port: crawled garbage must DEGRADE, not " +
      "throw the job — under ANSI the old unbounded int cast killed the " +
      "whole pass on one bad URL; >9-digit tails now stay in the host") {
    val df = Seq(
      (1L, "http://h.example.com:99999999999999/x"),
      (2L, "http://h.example.com:999999999/x")) // 9 digits: a real port
      .toDF("id", "u")
    val canon = graft.ops.TextAnalysis.canonicalizeUrl(df, "u")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("url_canonical")).toMap
    assert(canon(1L) == "http://h.example.com:99999999999999/x")
    assert(canon(2L) == "http://h.example.com:999999999/x")
    val surt = graft.ops.TextAnalysis.surtKey(df, "u")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("urlkey")).toMap
    assert(surt(2L) == "com,example,h:999999999)/x")
    assert(surt(1L) != null) // deterministic, never a thrown job
  }

  test("sniffMediaType: REAL generator payloads sniff to their types — " +
      "RIFF dispatch (WAV vs AVI), MP4 ftyp, zip, and null stays null") {
    val rows = Seq((0L, 1)).toDF("id", "x").select(
      graft.ops.Multimodal.sniffMediaType(
        graft.ops.Multimodal.syntheticWav(lit(8000), lit(16), lit(1000))).as("wav"),
      graft.ops.Multimodal.sniffMediaType(
        graft.ops.Multimodal.syntheticMjpegAvi(lit(8), lit(8), lit(2), lit(100))).as("avi"),
      graft.ops.Multimodal.sniffMediaType(
        graft.ops.VideoBitstream.syntheticMp4(lit(1), lit(1), lit(2), lit(1), lit(5))).as("mp4"),
      graft.ops.Multimodal.sniffMediaType(
        graft.ops.Archives.syntheticZip(lit(2), lit(3))).as("zip"),
      graft.ops.Multimodal.sniffMediaType(lit(null).cast("binary")).as("nul"))
      .collect().head
    assert(rows.getAs[String]("wav") == "audio/wav")
    assert(rows.getAs[String]("avi") == "video/x-msvideo")
    assert(rows.getAs[String]("mp4") == "video/mp4")
    assert(rows.getAs[String]("zip") == "application/zip")
    assert(rows.isNullAt(rows.fieldIndex("nul")))
  }
}

class WetExportSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = graft.SparkTestSession.spark
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("wetSegments round-trips through warcRecords — including text " +
      "that CONTAINS 'WARC/1.0' lines and CRLFs (content-length framing, " +
      "never scanning), null text as empty, doc order within segment") {
    val adversarial = "line one\r\nWARC/1.0\r\nContent-Length: 9999\r\n\r\nfake body"
    val docs = Seq(
      (3L, 0L, "http://h/3", adversarial),
      (1L, 0L, "http://h/1", "plain"),
      (2L, 0L, "http://h/2", null.asInstanceOf[String]),
      (9L, 1L, "http://h/9", "other shard"))
      .toDF("doc_id", "shard", "uri", "text")
    val segs = WebIngest.wetSegments(docs, "shard", "doc_id", "uri", "text")
    val back = WebIngest.warcRecords(segs, "payload")
      .where(col("warc_type") === "conversion")
      .orderBy("shard", "record_idx").collect()
    assert(back.forall(_.getAs[String]("parse_error") == null))
    assert(back.map(r => (r.getAs[Long]("shard"), r.getAs[String]("target_uri"))).toSeq ==
      Seq((0L, "http://h/1"), (0L, "http://h/2"), (0L, "http://h/3"),
        (1L, "http://h/9")))
    val byUri = back.map(r => r.getAs[String]("target_uri") ->
      r.getAs[String]("content_text")).toMap
    assert(byUri("http://h/3") == adversarial)
    assert(byUri("http://h/2") == "")
    assert(byUri("http://h/1") == "plain")
  }

  test("warcSegments: Common-Crawl layout — each cdx (offset, length) " +
      "slices EXACTLY one gzip member, digests match the body sha1, the " +
      "whole segment also reads as concatenated members, adversarial " +
      "bodies and CRLF URIs survive") {
    val adversarial = "WARC/1.0\r\nContent-Length: 9\r\n\r\nfake\r\n\r\n"
    val docs = Seq(
      (2L, 0L, "http://h/2\r\nInjected: x", "k2", adversarial),
      (1L, 0L, "http://h/1", "k1", "plain body"),
      (3L, 0L, "http://h/3", null.asInstanceOf[String], "unkeyed"), // no cdx line
      (9L, 1L, "http://h/9", "k9", null.asInstanceOf[String]))
      .toDF("doc_id", "shard", "uri", "urlkey", "body")
    val segs = WebIngest.warcSegments(docs, "shard", "doc_id", "uri",
      "body", "urlkey").collect().map(r => r.getAs[Long]("shard") -> r).toMap
    assert(segs(0L).getAs[Long]("n_records") == 3)
    assert(segs(0L).getAs[String]("warc_filename") == "graft-seg-0.warc.gz")
    // null urlkey → record written but NOT indexed
    assert(segs(0L).getSeq[String](segs(0L).fieldIndex("cdx")).size == 2)
    // the whole segment reads as concatenated gzip members
    val whole = WebIngest.warcRecords(
      Seq((0L, segs(0L).getAs[Array[Byte]]("payload"))).toDF("id", "payload"),
      "payload").orderBy("record_idx").collect()
    assert(whole.forall(_.getAs[String]("parse_error") == null))
    assert(whole.map(_.getAs[String]("warc_type")).toSeq ==
      Seq("warcinfo", "response", "response", "response"))
    // CRLF in the URI was sanitized, never a forged header
    assert(whole.map(_.getAs[String]("target_uri")).toSeq.contains(
      "http://h/2%0D%0AInjected: x"))
    // each cdx span range-fetches its own record and the digest matches
    val lines = Seq((0L, segs(0L).getAs[Array[Byte]]("payload")))
      .toDF("id", "payload")
      .crossJoin(segs(0L).getSeq[String](segs(0L).fieldIndex("cdx"))
        .toDF("cdx_line"))
    val sel = WebIngest.warcRecordAt(
      WebIngest.cdxjEntries(lines, "cdx_line").drop("parse_error"))
      .collect().map(r => r.getAs[String]("urlkey") -> r).toMap
    assert(sel.values.forall(_.getAs[String]("parse_error") == null))
    val resp = WebIngest.httpResponses(
      Seq(("k1", sel("k1").getAs[Array[Byte]]("content_bytes")),
        ("k2", sel("k2").getAs[Array[Byte]]("content_bytes")))
        .toDF("k", "content_bytes")).collect()
      .map(r => r.getAs[String]("k") -> r).toMap
    assert(resp("k1").getAs[Int]("http_status") == 200)
    assert(resp("k1").getAs[String]("http_body") == "plain body")
    assert(resp("k2").getAs[String]("http_body") == adversarial)
    for (k <- Seq("k1", "k2")) {
      val body = resp(k).getAs[String]("http_body").getBytes("UTF-8")
      val sha = java.security.MessageDigest.getInstance("SHA-1")
      assert(sel(k).getAs[String]("payload_digest") ==
        "sha1:" + sha.digest(body).map("%02x".format(_)).mkString)
    }
    // deterministic: same input → byte-identical segment
    val again = WebIngest.warcSegments(docs, "shard", "doc_id", "uri",
      "body", "urlkey").collect().map(r => r.getAs[Long]("shard") -> r).toMap
    assert(java.util.Arrays.equals(
      segs(0L).getAs[Array[Byte]]("payload"),
      again(0L).getAs[Array[Byte]]("payload")))
  }

  test("warcSegments cdx lines survive hostile keys: quotes/backslashes " +
      "in the URI are JSON-escaped, spaces in the urlkey percent-encode " +
      "— the writer never emits an index line its own parser rejects") {
    val docs = Seq(
      (1L, 0L, """http://h/q?a="x"\y""", "com,h)/q with space", "body"))
      .toDF("doc_id", "shard", "uri", "urlkey", "body")
    val seg = WebIngest.warcSegments(docs, "shard", "doc_id", "uri",
      "body", "urlkey").collect().head
    val lines = Seq((0L, seg.getAs[Array[Byte]]("payload")))
      .toDF("id", "payload")
      .crossJoin(seg.getSeq[String](seg.fieldIndex("cdx")).toDF("cdx_line"))
    val e = WebIngest.cdxjEntries(lines, "cdx_line").collect().head
    assert(e.getAs[String]("parse_error") == null,
      s"writer emitted a line its own parser rejects: ${e.getAs[String]("parse_error")}")
    assert(e.getAs[String]("urlkey") == "com,h)/q%20with%20space")
    assert(e.getAs[String]("cdx_url") == """http://h/q?a="x"\y""")
    // and the span still fetches the record
    val rec = WebIngest.warcRecordAt(
      WebIngest.cdxjEntries(lines, "cdx_line").drop("parse_error"))
      .collect().head
    assert(rec.getAs[String]("parse_error") == null)
    assert(rec.getAs[String]("warc_type") == "response")
  }
  test("quote-aware tag scan: a '>' inside a quoted attribute neither " +
      "truncates the tag (links after it survive) nor leaks the " +
      "attribute tail into extracted text") {
    val html = """<html><body><a onclick="if(a>b)f()" href="/next">x</a>""" +
      """<p>hello</p></body></html>"""
    val links = WebIngest.extractLinksFrom(html, "http://ex.com/")
    assert(links == Seq("http://ex.com/next"), links)
    val text = WebIngest.extractText(html)
    assert(!text.contains("href"), s"attr tail leaked: '$text'")
    assert(text.contains("x") && text.contains("hello"))
  }

  test("HTML5 raw-text boundary: '</scripts>' inside JavaScript does " +
      "not end the script block — no source leaks into text, no links " +
      "mined from JS strings") {
    val html = "<script>var re='</scripts>'; trackUser()</script>" +
      "<p>Hello</p><script>var s='<a href=\"/fake\">x</a>'</script>" +
      "<a href=\"/real\">r</a>"
    val text = WebIngest.extractText(html)
    assert(!text.contains("trackUser"), s"script leaked: '$text'")
    assert(text.contains("Hello"))
    val links = WebIngest.extractLinksFrom(html, "http://ex.com/")
    assert(links == Seq("http://ex.com/real"), links)
  }

  test("resolveRef applies remove_dot_segments to ABSOLUTE references " +
      "too (RFC 3986 section 5.2.2)") {
    assert(WebIngest.resolveRef("http://b.com/",
      "http://example.com/a/../b") == "http://example.com/b")
    assert(WebIngest.resolveRef("http://b.com/",
      "https://example.com") == "https://example.com")
    assert(WebIngest.resolveRef("http://b.com/x/",
      "/a/../b") == "http://b.com/b")
  }

  test("Transfer-Encoding 'gzip, chunked' refuses by name instead of " +
      "charset-decoding compressed bytes into mojibake") {
    val body = "not really chunked-gzip data"
    val msg = ("HTTP/1.1 200 OK\r\nTransfer-Encoding: gzip, chunked\r\n" +
      "Content-Type: text/html\r\n\r\n" +
      Integer.toHexString(body.length) + "\r\n" + body + "\r\n0\r\n\r\n")
      .getBytes("ISO-8859-1")
    val df = Seq((0L, "response", "http://ex.com/", msg))
      .toDF("rec_idx", "warc_type", "uri", "body")
    val r = WebIngest.httpResponses(df, "body").collect()(0)
    assert(r.getAs[String]("parse_error") != null &&
      r.getAs[String]("parse_error").contains("transfer-encoding"),
      s"got: ${r.getAs[String]("parse_error")}")
  }

}
