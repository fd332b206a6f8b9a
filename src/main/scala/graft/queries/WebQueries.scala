package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.ops.Multimodal

/** Web and multimodal ingest: WARC, HTML extraction, URL
  * canonicalization, crawl admission and scheduling, binary media
  * decode. */
private[graft] object WebQueries {
  import Fixtures._

  /** Planted per-doc URL for the q_url_* queries: scheme/host case and an
    * explicit :443 flip by doc parity (so two raw FORMS of every logical
    * URL exist), per-doc tracking params and fragment (so stripping is
    * observable). Mirrored verbatim in the DuckDB oracles. */
  private def plantedUrl: Column = concat(
    when(col("doc_id") % 2 === 0, "HTTPS://").otherwise("https://"),
    upper(col("source")), lit(".Example.COM"),
    when(col("doc_id") % 2 === 0, ":443").otherwise(""),
    lit("/cat"), (col("doc_id") % 3).cast("string"),
    lit("/page"), (col("doc_id") % 5).cast("string"),
    lit("/?utm_source=feed&utm_campaign=c"), (col("doc_id") % 4).cast("string"),
    lit("&id="), (col("doc_id") % 5).cast("string"),
    lit("&gclid=g"), (col("doc_id") % 2).cast("string"),
    lit("#sec"), (col("doc_id") % 6).cast("string"))

  /** Planted per-doc HTML shell for q_html_extract: title, a tracker
    * script and style block (must vanish whole), 1-2 anchors varying by
    * doc, an entity-bearing footer. Mirrored verbatim in the oracle. */
  private def plantedHtml: Column = concat(
    lit("<html><head><title>Doc "), col("doc_id").cast("string"),
    lit("</title><script type=\"text/javascript\">var t = "),
    (col("doc_id") % 97).cast("string"),
    lit(";</script><style>.c{color:red}</style></head><body><h1>Doc "),
    col("doc_id").cast("string"), lit("</h1><p>"), col("text"),
    lit("</p><a href=\"/next/"), (col("doc_id") % 10).cast("string"),
    lit("\">next page</a>"),
    when(col("doc_id") % 3 === 0, "<a href=\"/rel\">related</a>")
      .otherwise(""),
    lit("<div class=\"footer\">&copy; 2026 &amp; co &#39;ok&#39;" +
      "</div></body></html>"))

  /** Shared DuckDB replay of plantedHtml + Html.extract (the u and
    * s1..s4 CTEs) — used by the q_html_extract oracle and the
    * q_cc_pipeline composition oracle. Ends with s4(doc_id, html,
    * text_clean). */
  private val HtmlReplayCtes: String =
    """WITH u AS (
        |  SELECT doc_id,
        |    '<html><head><title>Doc ' || doc_id
        |    || '</title><script type="text/javascript">var t = '
        |    || (doc_id % 97)
        |    || ';</script><style>.c{color:red}</style></head><body><h1>Doc '
        |    || doc_id || '</h1><p>' || text
        |    || '</p><a href="/next/' || (doc_id % 10) || '">next page</a>'
        |    || (CASE WHEN doc_id % 3 = 0
        |         THEN '<a href="/rel">related</a>' ELSE '' END)
        |    || '<div class="footer">&copy; 2026 &amp; co &#39;ok&#39;'
        |    || '</div></body></html>' AS html
        |  FROM documents),
        |s1 AS (SELECT doc_id, html, regexp_replace(regexp_replace(
        |    regexp_replace(html, '(?i)<head[ >][\s\S]*?</head>', ' ', 'g'),
        |    '(?i)<script[^>]*>[\s\S]*?</script>', ' ', 'g'),
        |    '(?i)<style[^>]*>[\s\S]*?</style>', ' ', 'g') AS nos FROM u),
        |s2 AS (SELECT doc_id, html,
        |    regexp_replace(nos, '<[^>]*>', ' ', 'g') AS notags FROM s1),
        |s3 AS (SELECT doc_id, html,
        |    replace(replace(replace(replace(replace(replace(notags,
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |      '&nbsp;', ' '), '&amp;', '&') AS dec FROM s2),
        |s4 AS (SELECT doc_id, html,
        |    trim(regexp_replace(dec, '\s+', ' ', 'g')) AS text_clean
        |  FROM s3)""".stripMargin + "\n"

  val specs: Seq[QuerySpec] = Seq(
    // WARC crawl ingest, end-to-end: build spec-shaped WARC records from
    // the documents table, concatenate them into per-bucket "files"
    // (records in doc_id order, a deliberately TRUNCATED half-record
    // planted at the tail of file 0), byte-walk the files back into
    // records with the Content-Length-framed parser, and prove every
    // document survived bit-exact (body md5 vs the oracle's md5 of the
    // source text). The truncated plant must vanish; bodies containing
    // "\r\n\r\n" would survive too (WarcSpec) because framing is by
    // length, not delimiter. sources/Warc.scala documents the 100 TB
    // shape (one ~1 GB file per row via binaryFile, flatMap to records).
    QuerySpec("q_warc_ingest", (s, dir) => {
      val docs = t(s, dir, "documents")
      val uri = concat(lit("https://"), lower(col("source")),
        lit(".example.com/doc/"), col("doc_id").cast("string"))
      val recs = docs.select((col("doc_id") % 20).as("file_id"), col("doc_id"),
        graft.sources.Warc.record(lit("response"),
          concat(lit("urn:graft:doc:"), col("doc_id").cast("string")),
          uri, col("text")).as("rec"))
      val files = recs.groupBy("file_id")
        .agg(concat_ws("", transform(
          array_sort(collect_list(struct(col("doc_id"), col("rec")))),
          x => x.getField("rec"))).as("blob"))
        .withColumn("blob", when(col("file_id") === 0,
          concat(col("blob"),
            lit("WARC/1.0\r\nWARC-Type: response\r\nContent-Le")))
          .otherwise(col("blob")))
        .select(col("file_id"), col("blob").cast("binary").as("payload"))
      graft.sources.Warc.parse(files, "file_id", "payload")
        .where(col("rec_type") === "response")
        .select(
          regexp_extract(col("record_id"), "urn:graft:doc:(\\d+)", 1)
            .cast("long").as("doc_id"),
          col("target_uri"), col("content_length"),
          md5(col("body").cast("binary")).as("body_md5"))
    },
      // raw line reader via read_text + newline split (read_csv would
      // try to PARSE the quotes/tabs the format promises not to touch);
      // the trailing-newline artifact is the one empty element filtered
      // replays the construction: the parser must recover every document
      // from the concatenated WARC blobs with the declared byte length and
      // a bit-exact body (md5 over the same UTF-8 bytes both engines);
      // the truncated tail plant appears in no row on either side
      """SELECT doc_id,
        |  'https://' || lower(source) || '.example.com/doc/' || doc_id
        |    AS target_uri,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS content_length,
        |  md5(text) AS body_md5
        |FROM documents""".stripMargin),

    // the .warc.gz sibling of q_warc_ingest — the format crawls
    // actually ship (Common Crawl): each record its own gzip member,
    // members concatenated per file; a garbage compressed tail is
    // planted on file 0 and must not cost the good members. Oracle
    // identical to q_warc_ingest's: every document recovered with
    // exact byte length and md5-identical body
    QuerySpec("q_warc_gzip", (s, dir) => {
      val docs = t(s, dir, "documents")
      val uri = concat(lit("https://"), lower(col("source")),
        lit(".example.com/doc/"), col("doc_id").cast("string"))
      val recs = docs.select((col("doc_id") % 20).as("file_id"),
        col("doc_id"),
        graft.sources.Warc.record(lit("response"),
          concat(lit("urn:graft:doc:"), col("doc_id").cast("string")),
          uri, col("text")).as("rec"))
      val files = graft.sources.Warc
        .gzipFiles(recs, "file_id", "rec", "doc_id")
        .withColumn("payload", when(col("file_id") === 0,
          concat(col("payload"),
            lit("not a gzip member".getBytes("US-ASCII"))))
          .otherwise(col("payload")))
      graft.sources.Warc.parseGzip(files, "file_id", "payload")
        .where(col("rec_type") === "response")
        .select(
          regexp_extract(col("record_id"), "urn:graft:doc:(\\d+)", 1)
            .cast("long").as("doc_id"),
          col("target_uri"), col("content_length"),
          md5(col("body").cast("binary")).as("body_md5"))
    },
      // the compressed roundtrip recovers the identical set (the garbage
      // member tail must cost nothing)
      """SELECT doc_id,
        |  'https://' || lower(source) || '.example.com/doc/' || doc_id
        |    AS target_uri,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS content_length,
        |  md5(text) AS body_md5
        |FROM documents""".stripMargin),

    // ---- LLM: the Common-Crawl-shaped pipeline, end to end ------------
    // html pages → WARC records → per-record gzip members → parse →
    // magic-byte sniff (must say text/html) → boilerplate-stripping
    // extraction → per-doc stats. The compressed container transport in
    // the middle must not perturb extraction by one byte: the oracle
    // replays build+extract directly and never sees a container
    QuerySpec("q_cc_pipeline", (s, dir) => {
      val docs = t(s, dir, "documents")
      val recs = docs.select((col("doc_id") % 20).as("file_id"),
        col("doc_id"),
        graft.sources.Warc.record(lit("response"),
          concat(lit("urn:graft:doc:"), col("doc_id").cast("string")),
          concat(lit("https://"), lower(col("source")),
            lit(".example.com/doc/"), col("doc_id").cast("string")),
          plantedHtml).as("rec"))
      val files = graft.sources.Warc
        .gzipFiles(recs, "file_id", "rec", "doc_id")
      val parsed = graft.sources.Warc
        .parseGzip(files, "file_id", "payload")
        .where(col("rec_type") === "response")
        .withColumn("sniffed",
          Multimodal.sniffKind(col("body").cast("binary")))
        .where(col("sniffed") === "text/html")
        .withColumn("doc_id",
          regexp_extract(col("record_id"), "urn:graft:doc:(\\d+)", 1)
            .cast("long"))
      graft.ops.Html.extract(parsed, "doc_id", "body")
        .select(col("doc_id"), col("n_links"), col("n_chars_clean"))
    },
      // the WARC/gzip transport in the middle must not perturb
      // extraction: same replay CTEs, stats-only projection
      (HtmlReplayCtes +
        """SELECT doc_id,
          |  CAST(len(regexp_extract_all(html, '(?i)<a href')) AS BIGINT)
          |    AS n_links,
          |  CAST(length(text_clean) AS BIGINT) AS n_chars_clean
          |FROM s4""".stripMargin)),

    // ---- LLM: robots.txt crawl admission (frontier gate) --------------
    // per-host robots.txt (planted: an evilbot group that must be
    // ignored, a * group disallowing /cat1/ with a longer Allow carving
    // /cat1/page3 back out, an empty Disallow that must drop out, and
    // ONE host with no robots at all -> crawl-by-default). Group
    // scoping, longest-prefix precedence, and allow-beats-disallow ties
    // are additionally pinned in RobotsSpec; the oracle replays the
    // expected verdicts from the plant's construction
    QuerySpec("q_robots_filter", (s, dir) => {
      val docs = t(s, dir, "documents")
      val urls = docs.select(col("doc_id"),
        concat(lower(col("source")), lit(".example.com")).as("host"),
        concat(lit("/cat"), (col("doc_id") % 3).cast("string"),
          lit("/page"), (col("doc_id") % 5).cast("string")).as("path"))
      val robots = docs.select(lower(col("source")).as("src")).distinct()
        .where(col("src") =!= "src4")
        .select(concat(col("src"), lit(".example.com")).as("host"),
          lit("# crawl policy\nUser-agent: evilbot\nDisallow: /\n\n" +
            "User-agent: *\nDisallow: /cat1/\nAllow: /cat1/page3\n" +
            "Disallow:\nDisallow: /private\n").as("txt"))
      val rules = graft.ops.Robots.parseRobots(robots, "host", "txt")
      graft.ops.Robots.filterAllowed(urls, rules, "host", "path", "doc_id")
        .select(col("doc_id"), col("host"), col("path"), col("allowed"))
    },
      // the plant's verdict table: src4 has no robots (crawl-by-default
      // true); on every other host only /cat1/* paths are gated, with
      // the longer Allow carving /cat1/page3 back out
      """SELECT doc_id,
        |  lower(source) || '.example.com' AS host,
        |  '/cat' || (doc_id % 3) || '/page' || (doc_id % 5) AS path,
        |  CASE WHEN lower(source) = 'src4' THEN true
        |       WHEN doc_id % 3 = 1 THEN doc_id % 5 = 3
        |       ELSE true END AS allowed
        |FROM documents""".stripMargin),

    // ---- LLM: crawl frontier (sitemap discovery → robots admission → --
    // politeness). The composed fetch-schedule table: per-host sitemap
    // <loc> extraction (entity unescape + whitespace trim exercised),
    // robots path gating, and Crawl-delay politeness (the evilbot
    // group's delay 99 must be ignored; the robots-less host falls to
    // the caller default). One row per discovered URL.
    QuerySpec("q_crawl_frontier", (s, dir) => {
      val docs = t(s, dir, "documents")
      val hosts = docs.select(lower(col("source")).as("src")).distinct()
        .select(concat(col("src"), lit(".example.com")).as("host"),
          col("src"))
      val robots = hosts.where(col("src") =!= "src4")
        .select(col("host"),
          lit("User-agent: evilbot\nDisallow: /\nCrawl-delay: 99\n\n" +
            "User-agent: *\nDisallow: /cat1/\nAllow: /cat1/page3\n" +
            "Crawl-delay: 2\n").as("txt"))
      val sitemap = hosts.select(col("host"), concat(
        lit("<?xml version=\"1.0\"?><urlset><url><loc>https://"),
        col("host"), lit("/cat0/page0</loc></url><url><loc> https://"),
        col("host"), lit("/cat1/page1 </loc></url><url><loc>https://"),
        col("host"), lit("/cat1/page3</loc></url><url><loc>https://"),
        col("host"), lit("/q?a=1&amp;b=2</loc></url></urlset>"))
        .as("xml"))
      val urls = graft.ops.Robots.sitemapUrls(sitemap, "host", "xml")
        .withColumn("path", regexp_replace(col("url"), "^https://[^/]+", ""))
      val rules = graft.ops.Robots.parseRobots(robots, "host", "txt")
      val delays = graft.ops.Robots.crawlDelays(robots, "host", "txt")
      graft.ops.Robots.filterAllowed(urls, rules, "host", "path", "url")
        .join(delays, Seq("host"), "left")
        .select(col("host"), col("path"), col("allowed"),
          coalesce(col("crawl_delay_s"), lit(1L)).as("crawl_delay_s"))
    },
      // the plant's expected frontier: 4 sitemap URLs per host (the
      // entity-escaped one unescapes to '&'), /cat1/page1 gated
      // everywhere robots exist, delay 2 from the * group (never the
      // evilbot 99), default 1 on the robots-less host
      """WITH h AS (SELECT DISTINCT lower(source) AS src FROM documents),
        |p AS (SELECT * FROM (VALUES
        |  ('/cat0/page0', true), ('/cat1/page1', false),
        |  ('/cat1/page3', true), ('/q?a=1&b=2', true))
        |  AS t(path, allowed_rule))
        |SELECT src || '.example.com' AS host, path,
        |  CASE WHEN src = 'src4' THEN true ELSE allowed_rule END AS allowed,
        |  CAST(CASE WHEN src = 'src4' THEN 1 ELSE 2 END AS BIGINT)
        |    AS crawl_delay_s
        |FROM h CROSS JOIN p""".stripMargin),

    // ---- LLM: politeness-scheduled fetch plan -------------------------
    // the frontier composition's last step: allowed URLs line up per
    // host (URL total order) and each gets a fetch offset of
    // slot * crawl_delay_s — policy turned into a schedule. One
    // host-keyed window over the admitted frontier
    QuerySpec("q_fetch_schedule", (s, dir) => {
      val frontier = SparkEntry.queries("q_crawl_frontier")(s, dir)
        .where(col("allowed"))
      frontier.withColumn("slot",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("host")).orderBy(col("path"))) - 1)
        .select(col("host"), col("path"),
          (col("slot") * col("crawl_delay_s")).as("fetch_offset_s"))
    },
      // replays the frontier verdicts, then the per-host slot arithmetic
      // on the same (host, path) total order
      """WITH h AS (SELECT DISTINCT lower(source) AS src FROM documents),
        |p AS (SELECT * FROM (VALUES
        |  ('/cat0/page0', true), ('/cat1/page1', false),
        |  ('/cat1/page3', true), ('/q?a=1&b=2', true))
        |  AS t(path, allowed_rule)),
        |f AS (
        |  SELECT src || '.example.com' AS host, path,
        |    CASE WHEN src = 'src4' THEN true ELSE allowed_rule END
        |      AS allowed,
        |    CAST(CASE WHEN src = 'src4' THEN 1 ELSE 2 END AS BIGINT)
        |      AS crawl_delay_s
        |  FROM h CROSS JOIN p)
        |SELECT host, path,
        |  (row_number() OVER (PARTITION BY host ORDER BY path) - 1)
        |    * crawl_delay_s AS fetch_offset_s
        |FROM f WHERE allowed""".stripMargin),

    // ---- LLM: multimodal metadata over a binary payload column --------
    QuerySpec("q_multimodal_meta", (s, dir) =>
      Multimodal.mediaFromDocs(t(s, dir, "documents"))
        .select(col("media_id"), col("kind"), col("meta.n_bytes").as("n_bytes"),
          col("meta.format").as("format"),
          md5(col("payload")).as("payload_md5")),
      """SELECT doc_id AS media_id,
        |  (['image','audio','video'])[(doc_id % 3) + 1] AS kind,
        |  octet_length(CAST(text AS BLOB)) AS n_bytes,
        |  substring(text, 1, 4) AS format,
        |  md5(text) AS payload_md5
        |FROM documents""".stripMargin),

    // ---- LLM: multimodal frame sampling (binary slicing, codegen) -----
    QuerySpec("q_multimodal_frames", (s, dir) =>
      Multimodal.frameSample(
        Multimodal.mediaFromDocs(t(s, dir, "documents")), 64, 16)
        .select(col("media_id"), col("kind"), col("n_frames")),
      """SELECT doc_id AS media_id,
        |  (['image','audio','video'])[(doc_id % 3) + 1] AS kind,
        |  CASE WHEN octet_length(CAST(text AS BLOB)) >= 64
        |       THEN (octet_length(CAST(text AS BLOB)) - 64) // 16 + 1
        |       ELSE 0 END AS n_frames
        |FROM documents""".stripMargin),

    // ---- LLM: stubbed decode / feature extraction (mapPartitions) -----
    // The actual mapPartitions byte loop is what executes here; the
    // oracle recomputes the expected bytes in SQL via ascii() — valid
    // because the fixture text is pure ASCII (byte == code point,
    // verified at both SFs), while the engine path handles arbitrary
    // binary. byte_mean is one exact-int division on both engines.
    QuerySpec("q_multimodal_decode", (s, dir) =>
      Multimodal.decodeStub(Multimodal.mediaFromDocs(t(s, dir, "documents")))
        .select(col("media_id"), col("n_bytes").cast("long").as("n_bytes"),
          col("byte_mean")),
      """SELECT doc_id AS media_id,
        |  octet_length(CAST(text AS BLOB)) AS n_bytes,
        |  list_sum([ascii(text[i]) FOR i IN generate_series(1, length(text))])
        |    * 1.0 / greatest(length(text), 1) AS byte_mean
        |FROM documents""".stripMargin),

    // ---- LLM: content-type sniffing over a mixed crawl dump -----------
    // four payload families planted by doc_id%4 (real PPM bytes, real
    // RIFF/WAVE bytes, HTML markup, plain text), then classified from
    // magic bytes alone — the routing step before the codec paths. The
    // oracle replays the plant rule; byte-level edge cases (truncated
    // magics, WAVE tag at the wrong offset, NULL) are pinned in
    // MultimodalSpec
    QuerySpec("q_multimodal_sniff", (s, dir) => {
      val docs = t(s, dir, "documents")
      val ppm = Multimodal.plantedPpm(docs.where(col("doc_id") % 5 === 0))
        .select(col("media_id"), col("payload"))
      val wav = Multimodal.plantedWav(docs.where(col("doc_id") % 5 === 1))
        .select(col("media_id"), col("payload"))
      val y4m = Multimodal.plantedY4m(docs.where(col("doc_id") % 5 === 2))
        .select(col("media_id"), col("payload"))
      val html = docs.where(col("doc_id") % 5 === 3)
        .select(col("doc_id").cast("long").as("media_id"),
          concat(lit("<html><body>"), col("text"), lit("</body></html>"))
            .cast("binary").as("payload"))
      val txt = docs.where(col("doc_id") % 5 === 4)
        .select(col("doc_id").cast("long").as("media_id"),
          col("text").cast("binary").as("payload"))
      ppm.unionByName(wav).unionByName(y4m).unionByName(html)
        .unionByName(txt)
        .select(col("media_id"),
          Multimodal.sniffKind(col("payload")).as("sniffed"))
    },
      // the planted-PPM closed form: pixel i of image id carries
      // replays the plant rule (the %4 family assignment) without seeing
      // a byte; the LIKE guard keeps the rare text that itself starts
      // with '<' honest on both sides
      """SELECT doc_id AS media_id,
        |  CASE doc_id % 5
        |    WHEN 0 THEN 'image/ppm'
        |    WHEN 1 THEN 'audio/wav'
        |    WHEN 2 THEN 'video/y4m'
        |    WHEN 3 THEN 'text/html'
        |    ELSE CASE WHEN text LIKE '<%' THEN 'text/html'
        |              ELSE 'application/octet-stream' END
        |  END AS sniffed
        |FROM documents""".stripMargin),

    // ---- LLM: REAL image decode (pure-JVM P6 PPM codec) ---------------
    // Spark builds actual PPM binaries (header + raster, pixel i =
    // (id*7 + i*13) % 256) and DECODES them — header parse and pixel
    // sums run over the real payload bytes in the per-partition codec
    // slot; the oracle recomputes the channel means from the closed form
    // without ever constructing the bytes. This is the decode path made
    // real (r6 verdict residual #1), not a stub comparison.
    QuerySpec("q_multimodal_ppm", (s, dir) =>
      Multimodal.decodeImages(Multimodal.plantedPpm(t(s, dir, "documents")))
        .select(col("media_id"), col("width"), col("height"),
          col("n_bytes").cast("long").as("n_bytes"),
          col("mean_r"), col("mean_g"), col("mean_b")),
      // (id*7 + i*13) % 256, channels interleave RGB, so each channel mean
      // is an integer sum over generate_series divided by w*h — the oracle
      // never builds the binary, while Spark decodes the real bytes
      """WITH d AS (
        |  SELECT doc_id, 2 + doc_id % 3 AS w, 2 + doc_id % 2 AS h
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, w, h, (doc_id * 7 + i * 13) % 256 AS v, i % 3 AS ch
        |  FROM d, unnest(generate_series(0, w * h * 3 - 1)) AS t(i))
        |SELECT doc_id AS media_id,
        |  CAST(any_value(w) AS INT) AS width,
        |  CAST(any_value(h) AS INT) AS height,
        |  CAST(length('P6' || chr(10) || any_value(w) || ' ' || any_value(h)
        |    || chr(10) || '255' || chr(10))
        |    + any_value(w) * any_value(h) * 3 AS BIGINT) AS n_bytes,
        |  CAST(sum(v) FILTER (ch = 0) AS DOUBLE)
        |    / (any_value(w) * any_value(h)) AS mean_r,
        |  CAST(sum(v) FILTER (ch = 1) AS DOUBLE)
        |    / (any_value(w) * any_value(h)) AS mean_g,
        |  CAST(sum(v) FILTER (ch = 2) AS DOUBLE)
        |    / (any_value(w) * any_value(h)) AS mean_b
        |FROM px GROUP BY doc_id""".stripMargin),

    // ---- LLM: sniff-routed decode over a MIXED dump -------------------
    // five planted families in one table, one per-partition pass:
    // magic bytes route each payload to its parser (PPM / PCM16 / y4m),
    // text families pass through with kind only — the unified nullable
    // schema a real crawl dump lands in
    QuerySpec("q_multimodal_auto", (s, dir) => {
      val docs = t(s, dir, "documents")
      val ppm = Multimodal.plantedPpm(docs.where(col("doc_id") % 5 === 0))
        .select(col("media_id"), col("payload"))
      val wav = Multimodal.plantedWav(docs.where(col("doc_id") % 5 === 1))
        .select(col("media_id"), col("payload"))
      val y4m = Multimodal.plantedY4m(docs.where(col("doc_id") % 5 === 2))
        .select(col("media_id"), col("payload"))
      val html = docs.where(col("doc_id") % 5 === 3)
        .select(col("doc_id").cast("long").as("media_id"),
          concat(lit("<html><body>"), col("text"), lit("</body></html>"))
            .cast("binary").as("payload"))
      val txt = docs.where(col("doc_id") % 5 === 4)
        .select(col("doc_id").cast("long").as("media_id"),
          col("text").cast("binary").as("payload"))
      Multimodal.decodeAuto(ppm.unionByName(wav).unionByName(y4m)
          .unionByName(html).unionByName(txt))
        .select(col("media_id"), col("sniffed"),
          col("n_bytes").cast("long").as("n_bytes"),
          col("width"), col("height"), col("mean_r"), col("mean_g"),
          col("mean_b"), col("sample_rate"), col("channels"),
          col("n_frames"), col("duration_ms"), col("peak"), col("rms"),
          col("luma_mean"))
    },
      // the mixed-dump auto-decode restated family by family (%5 routing):
      // each format's closed form from its own plant rule, nulls where a
      // family doesn't carry a field
      """WITH base AS (
        |  SELECT doc_id AS media_id, doc_id % 5 AS fam, text,
        |    2 + doc_id % 3 AS w, 2 + doc_id % 2 AS h,
        |    1 + doc_id % 2 AS ch, 50 + doc_id % 20 AS nfw,
        |    3 + doc_id % 4 AS nfv
        |  FROM documents),
        |ppm AS (
        |  SELECT media_id,
        |    CAST(sum(v) FILTER (k = 0) AS DOUBLE) / (any_value(w) * any_value(h)) AS mean_r,
        |    CAST(sum(v) FILTER (k = 1) AS DOUBLE) / (any_value(w) * any_value(h)) AS mean_g,
        |    CAST(sum(v) FILTER (k = 2) AS DOUBLE) / (any_value(w) * any_value(h)) AS mean_b
        |  FROM (SELECT media_id, w, h,
        |          (media_id * 7 + i * 13) % 256 AS v, i % 3 AS k
        |        FROM base, unnest(generate_series(0, w * h * 3 - 1)) AS t(i)
        |        WHERE fam = 0)
        |  GROUP BY media_id),
        |wav AS (
        |  SELECT media_id, CAST(max(abs(v)) AS INT) AS peak,
        |    sqrt(CAST(sum(v * v) AS DOUBLE)
        |      / (any_value(nfw) * any_value(ch))) AS rms
        |  FROM (SELECT media_id, ch, nfw,
        |          (media_id * 31 + i * 17) % 4001 - 2000 AS v
        |        FROM base, unnest(generate_series(0, nfw * ch - 1)) AS t(i)
        |        WHERE fam = 1)
        |  GROUP BY media_id),
        |y4m AS (
        |  SELECT media_id, CAST(max(v) AS INT) AS peak,
        |    CAST(sum(v) AS DOUBLE)
        |      / (any_value(nfv) * any_value(w) * any_value(h)) AS luma_mean
        |  FROM (SELECT media_id, w, h, nfv,
        |          (media_id * 7 + f * 11 + i * 13) % 256 AS v
        |        FROM base,
        |          unnest(generate_series(0, nfv - 1)) AS tf(f),
        |          unnest(generate_series(0, w * h - 1)) AS ti(i)
        |        WHERE fam = 2)
        |  GROUP BY media_id)
        |SELECT b.media_id,
        |  CASE b.fam WHEN 0 THEN 'image/ppm' WHEN 1 THEN 'audio/wav'
        |    WHEN 2 THEN 'video/y4m' WHEN 3 THEN 'text/html'
        |    ELSE CASE WHEN b.text LIKE '<%' THEN 'text/html'
        |              ELSE 'application/octet-stream' END END AS sniffed,
        |  CAST(CASE b.fam
        |    WHEN 0 THEN length('P6' || chr(10) || b.w || ' ' || b.h
        |      || chr(10) || '255' || chr(10)) + b.w * b.h * 3
        |    WHEN 1 THEN 44 + b.nfw * b.ch * 2
        |    WHEN 2 THEN length('YUV4MPEG2 W' || b.w || ' H' || b.h
        |      || ' F25:1 Ip A1:1 Cmono') + 1 + b.nfv * (6 + b.w * b.h)
        |    WHEN 3 THEN octet_length(CAST(b.text AS BLOB)) + 26
        |    ELSE octet_length(CAST(b.text AS BLOB)) END AS BIGINT) AS n_bytes,
        |  CAST(CASE WHEN b.fam IN (0, 2) THEN b.w END AS INT) AS width,
        |  CAST(CASE WHEN b.fam IN (0, 2) THEN b.h END AS INT) AS height,
        |  p.mean_r, p.mean_g, p.mean_b,
        |  CAST(CASE WHEN b.fam = 1 THEN 8000 END AS INT) AS sample_rate,
        |  CAST(CASE WHEN b.fam = 1 THEN b.ch END AS INT) AS channels,
        |  CAST(CASE b.fam WHEN 1 THEN b.nfw WHEN 2 THEN b.nfv END
        |    AS BIGINT) AS n_frames,
        |  CAST(CASE b.fam WHEN 1 THEN b.nfw * 1000 // 8000
        |    WHEN 2 THEN b.nfv * 40 END AS BIGINT) AS duration_ms,
        |  CASE b.fam WHEN 1 THEN wv.peak WHEN 2 THEN yv.peak END AS peak,
        |  wv.rms, yv.luma_mean
        |FROM base b
        |LEFT JOIN ppm p USING (media_id)
        |LEFT JOIN wav wv USING (media_id)
        |LEFT JOIN y4m yv USING (media_id)""".stripMargin),

    // ---- LLM: REAL audio decode (RIFF/WAVE PCM16 chunk walk) ----------
    // the WAV sibling of q_multimodal_ppm: planted PCM16 clips are
    // actually parsed — chunk walk, fmt block, sample streaming — while
    // the oracle recomputes peak/RMS/duration from the plant's closed
    // form without ever seeing a byte
    QuerySpec("q_multimodal_wav", (s, dir) =>
      Multimodal.decodeAudio(Multimodal.plantedWav(t(s, dir, "documents")))
        .select(col("media_id"), col("sample_rate"), col("channels"),
          col("n_frames"), col("duration_ms"), col("peak"), col("rms"),
          col("n_bytes").cast("long").as("n_bytes")),
      // planted PCM16 stats in closed form: the oracle never sees a byte;
      // the one float (RMS) is a per-row sqrt over exact integer sums, so
      // IEEE correct rounding makes it bit-exact cross-engine
      """WITH d AS (
        |  SELECT doc_id, 1 + doc_id % 2 AS ch, 50 + doc_id % 20 AS nf
        |  FROM documents),
        |sm AS (
        |  SELECT doc_id, ch, nf,
        |    (doc_id * 31 + i * 17) % 4001 - 2000 AS v
        |  FROM d, unnest(generate_series(0, nf * ch - 1)) AS t(i))
        |SELECT doc_id AS media_id,
        |  CAST(8000 AS INT) AS sample_rate,
        |  CAST(any_value(ch) AS INT) AS channels,
        |  CAST(any_value(nf) AS BIGINT) AS n_frames,
        |  CAST(any_value(nf) * 1000 // 8000 AS BIGINT) AS duration_ms,
        |  CAST(max(abs(v)) AS INT) AS peak,
        |  sqrt(CAST(sum(v * v) AS DOUBLE)
        |    / (any_value(nf) * any_value(ch))) AS rms,
        |  CAST(44 + any_value(nf) * any_value(ch) * 2 AS BIGINT) AS n_bytes
        |FROM sm GROUP BY doc_id""".stripMargin),

    // ---- LLM: REAL image resize (decode -> subsample -> re-encode) ----
    // the resized payload is a VALID PPM decoded again by the same
    // parser; the oracle recomputes the nearest-neighbor-sampled pixel
    // grid in closed form — the full decode/transform/encode loop runs
    // on real bytes
    QuerySpec("q_multimodal_resize", (s, dir) =>
      Multimodal.decodeImages(Multimodal.resizeImages(
          Multimodal.plantedPpm(t(s, dir, "documents")), 2))
        .select(col("media_id"), col("width"), col("height"),
          col("n_bytes").cast("long").as("n_bytes"),
          col("mean_r"), col("mean_g"), col("mean_b")),
      // nearest-neighbor downsample of the planted closed form: output
      // pixel (x, y, ch) carries source index ((2y)*w + 2x)*3 + ch
      """WITH d AS (
        |  SELECT doc_id, 2 + doc_id % 3 AS w, 2 + doc_id % 2 AS h
        |  FROM documents),
        |dims AS (
        |  SELECT doc_id, w, h, (w + 1) // 2 AS nw, (h + 1) // 2 AS nh
        |  FROM d),
        |px AS (
        |  SELECT doc_id, nw, nh,
        |    (doc_id * 7 + (((2 * y) * w + 2 * x) * 3 + ch) * 13) % 256 AS v,
        |    ch
        |  FROM dims,
        |    unnest(generate_series(0, nh - 1)) AS ty(y),
        |    unnest(generate_series(0, nw - 1)) AS tx(x),
        |    unnest(generate_series(0, 2)) AS tc(ch))
        |SELECT doc_id AS media_id,
        |  CAST(any_value(nw) AS INT) AS width,
        |  CAST(any_value(nh) AS INT) AS height,
        |  CAST(length('P6' || chr(10) || any_value(nw) || ' ' || any_value(nh)
        |    || chr(10) || '255' || chr(10))
        |    + any_value(nw) * any_value(nh) * 3 AS BIGINT) AS n_bytes,
        |  CAST(sum(v) FILTER (ch = 0) AS DOUBLE)
        |    / (any_value(nw) * any_value(nh)) AS mean_r,
        |  CAST(sum(v) FILTER (ch = 1) AS DOUBLE)
        |    / (any_value(nw) * any_value(nh)) AS mean_g,
        |  CAST(sum(v) FILTER (ch = 2) AS DOUBLE)
        |    / (any_value(nw) * any_value(nh)) AS mean_b
        |FROM px GROUP BY doc_id""".stripMargin),

    // ---- LLM: REAL video decode (YUV4MPEG2 container walk) ------------
    // the y4m sibling of q_multimodal_ppm/_wav completing the
    // image/audio/video real-codec trio: planted mono clips are actually
    // parsed — stream header, FRAME-delimited planes, per-frame luma
    // streaming — while the oracle recomputes dimension/fps/luma stats
    // from the plant's closed form without ever seeing a byte
    QuerySpec("q_multimodal_y4m", (s, dir) =>
      Multimodal.decodeVideo(Multimodal.plantedY4m(t(s, dir, "documents")))
        .select(col("media_id"), col("width"), col("height"),
          col("fps_num"), col("fps_den"), col("n_frames"),
          col("duration_ms"), col("luma_peak"), col("luma_mean"),
          col("n_bytes").cast("long").as("n_bytes")),
      // the planted-y4m closed form: frame f's luma byte i of clip id
      // carries (id*7 + f*11 + i*13) % 256 over a (2+id%3)×(2+id%2) mono
      // plane and 3+id%4 frames at 25 fps; n_bytes counts the textual
      // stream header plus per-frame "FRAME\n" + w*h luma bytes — the
      // oracle restates the plant, Spark parses the real container
      """WITH d AS (
        |  SELECT doc_id, 2 + doc_id % 3 AS w, 2 + doc_id % 2 AS h,
        |    3 + doc_id % 4 AS nf
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, w, h, nf,
        |    (doc_id * 7 + f * 11 + i * 13) % 256 AS v
        |  FROM d,
        |    unnest(generate_series(0, nf - 1)) AS tf(f),
        |    unnest(generate_series(0, w * h - 1)) AS ti(i))
        |SELECT doc_id AS media_id,
        |  CAST(any_value(w) AS INT) AS width,
        |  CAST(any_value(h) AS INT) AS height,
        |  CAST(25 AS INT) AS fps_num,
        |  CAST(1 AS INT) AS fps_den,
        |  CAST(any_value(nf) AS BIGINT) AS n_frames,
        |  CAST(any_value(nf) * 40 AS BIGINT) AS duration_ms,
        |  CAST(max(v) AS INT) AS luma_peak,
        |  CAST(sum(v) AS DOUBLE)
        |    / (any_value(nf) * any_value(w) * any_value(h)) AS luma_mean,
        |  CAST(length('YUV4MPEG2 W' || any_value(w) || ' H' || any_value(h)
        |    || ' F25:1 Ip A1:1 Cmono') + 1
        |    + any_value(nf) * (6 + any_value(w) * any_value(h))
        |    AS BIGINT) AS n_bytes
        |FROM px GROUP BY doc_id""".stripMargin),

    // ---- LLM: REAL keyframe extraction (every-Nth-frame sampling) -----
    // the decoded-frames replacement for the q_multimodal_frames byte
    // stub: one row per sampled frame with that frame's luma stats —
    // flatMap streams frames off the payload, so a long clip never
    // materializes more than one frame's stats at a time
    QuerySpec("q_multimodal_keyframes", (s, dir) =>
      Multimodal.sampleVideoFrames(
          Multimodal.plantedY4m(t(s, dir, "documents")), 2)
        .select(col("media_id"), col("frame_idx"), col("width"),
          col("height"), col("luma_sum"), col("luma_peak")),
      // every-2nd-frame keyframe sampling over the same plant: one row per
      // kept frame with exact integer luma sum/peak
      """WITH d AS (
        |  SELECT doc_id, 2 + doc_id % 3 AS w, 2 + doc_id % 2 AS h,
        |    3 + doc_id % 4 AS nf
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, w, h, f,
        |    (doc_id * 7 + f * 11 + i * 13) % 256 AS v
        |  FROM d,
        |    unnest(generate_series(0, nf - 1)) AS tf(f),
        |    unnest(generate_series(0, w * h - 1)) AS ti(i)
        |  WHERE f % 2 = 0)
        |SELECT doc_id AS media_id,
        |  CAST(f AS INT) AS frame_idx,
        |  CAST(any_value(w) AS INT) AS width,
        |  CAST(any_value(h) AS INT) AS height,
        |  CAST(sum(v) AS BIGINT) AS luma_sum,
        |  CAST(max(v) AS INT) AS luma_peak
        |FROM px GROUP BY doc_id, f""".stripMargin),

    // ---- LLM: site link graph from HTML -------------------------------
    // href extraction (regexp_extract_all) + target-keyed in-degree
    // aggregation over the same planted HTML shell as q_html_extract:
    // /next/0..9 each referenced by its doc_id%10 class, /rel by the
    // doc_id%3=0 class (ops/Html.linkGraph)
    QuerySpec("q_link_graph", (s, dir) =>
      graft.ops.Html.linkGraph(
        t(s, dir, "documents").select(col("doc_id"), plantedHtml.as("html")),
        "doc_id", "html"),
      // mirrors Html.linkGraph on the q_html_extract plant
      """WITH u AS (
        |  SELECT doc_id,
        |    '</p><a href="/next/' || (doc_id % 10) || '">next page</a>'
        |    || (CASE WHEN doc_id % 3 = 0
        |         THEN '<a href="/rel">related</a>' ELSE '' END) AS html
        |  FROM documents),
        |l AS (
        |  SELECT doc_id, unnest(regexp_extract_all(html,
        |    '(?i)<a href="([^"]*)"', 1)) AS target
        |  FROM u)
        |SELECT target, count(*) AS n_refs,
        |  count(DISTINCT doc_id) AS n_docs
        |FROM l GROUP BY target""".stripMargin),

    // ---- LLM: HTML -> training-text extraction ------------------------
    // the crawl-to-corpus step (C4/CCNet): drop script/style whole, strip
    // tags, decode the high-volume entities, collapse whitespace — all
    // per-row codegen'd string expressions in the RE2-safe subset. The
    // fixture is plain text, so the query wraps each doc in a deterministic
    // HTML shell (title, tracker script, style block, anchors varying by
    // doc, entity-bearing footer) and the oracle replays the identical
    // chain on the identical plant (ops/Html.extract)
    QuerySpec("q_html_extract", (s, dir) =>
      graft.ops.Html.extract(
        t(s, dir, "documents").select(col("doc_id"), plantedHtml.as("html")),
        "doc_id", "html"),
      // mirrors Html.extract on the identical plant: same RE2-safe regex
      // chain ('g' flags — Spark replaces all matches by default), same
      // entity order (&amp; last), same whitespace collapse
      (HtmlReplayCtes +
        """SELECT doc_id,
          |  regexp_extract(html, '(?i)<title[^>]*>([^<]*)</title>', 1) AS title,
          |  CAST(len(regexp_extract_all(html, '(?i)<a href')) AS BIGINT)
          |    AS n_links,
          |  text_clean,
          |  CAST(length(text_clean) AS BIGINT) AS n_chars_clean
          |FROM s4""".stripMargin)),

    // ---- LLM: URL canonicalization (pre-content web dedup key) --------
    // The fixture has no URL column, so the query plants one per doc with
    // deliberate variance the canonicalizer must collapse: scheme/host
    // case flips and an explicit :443 by doc parity, per-doc utm/gclid
    // tracking params and fragments. Pure per-row regexp chain (RE2-safe
    // subset), no UDF — the oracle replays the identical chain in DuckDB
    // (ops/Urls.canonicalize)
    QuerySpec("q_url_canonical", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), plantedUrl.as("url"))
        .select(col("doc_id"), col("url"),
          graft.ops.Urls.canonicalize(col("url")).as("canonical_url")),
      // mirrors Urls.canonicalize: same plant, same RE2-safe regexp chain
      // (DuckDB regexp_replace needs the explicit 'g' flag where Spark's
      // replaces all matches by default; \1 vs $1 is replacement syntax,
      // same semantics)
      """WITH u AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END)
        |    || upper(source) || '.Example.COM'
        |    || (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE '' END)
        |    || '/cat' || (doc_id % 3) || '/page' || (doc_id % 5)
        |    || '/?utm_source=feed&utm_campaign=c' || (doc_id % 4)
        |    || '&id=' || (doc_id % 5) || '&gclid=g' || (doc_id % 2)
        |    || '#sec' || (doc_id % 6) AS url
        |  FROM documents),
        |s1 AS (SELECT doc_id, url,
        |  regexp_replace(url, '#.*$', '') AS nofrag FROM u),
        |s2 AS (SELECT doc_id, url,
        |  lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
        |    AS scheme,
        |  regexp_replace(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
        |  FROM s1),
        |s3 AS (SELECT doc_id, url, scheme,
        |  CASE WHEN scheme = 'http' THEN regexp_replace(
        |      lower(regexp_extract(rest, '^([^/?#]*)', 1)), ':80$', '')
        |    WHEN scheme = 'https' THEN regexp_replace(
        |      lower(regexp_extract(rest, '^([^/?#]*)', 1)), ':443$', '')
        |    ELSE lower(regexp_extract(rest, '^([^/?#]*)', 1)) END AS host,
        |  regexp_replace(rest, '^[^/?#]*', '') AS pathq0 FROM s2),
        |s4 AS (SELECT doc_id, url, scheme, host,
        |  regexp_replace(pathq0,
        |    '[?&](utm_[A-Za-z0-9_]+|gclid|fbclid)=[^&#]*', '', 'g') AS p1
        |  FROM s3),
        |s5 AS (SELECT doc_id, url, scheme, host,
        |  regexp_replace(regexp_replace(
        |    regexp_replace(p1, '^([^?&#]*)&', '\1?'),
        |    '[?&]+$', ''), '/$', '') AS pathq FROM s4)
        |SELECT doc_id, url, scheme || '://' || host || pathq AS canonical_url
        |FROM s5""".stripMargin),

    // ---- LLM: URL-level dedup (cheapest web dedup pass) ---------------
    // group by canonical form, keep-min id + duplicate count: the 500
    // planted URLs (x2 case/port/tracking variants by construction)
    // collapse to the (source, cat, page) key space
    // (ops/Urls.urlDedup)
    QuerySpec("q_url_dedup", (s, dir) =>
      graft.ops.Urls.urlDedup(
        t(s, dir, "documents").select(col("doc_id"), plantedUrl.as("url")),
        "url", "doc_id"),
      """WITH c AS (
        |  -- independent CLOSED FORM of the canonical key (no regex
        |  -- replay); the slash before '?' is the planted path's own
        |  SELECT doc_id,
        |    'https://' || lower(source) || '.example.com'
        |    || '/cat' || (doc_id % 3) || '/page' || (doc_id % 5)
        |    || '/?id=' || (doc_id % 5) AS canonical_url
        |  FROM documents)
        |SELECT canonical_url, min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM c GROUP BY canonical_url""".stripMargin),

    // ---- LLM: cross-host mirror detection -----------------------------
    // every doc serves from its own source host; every doc_id%4==0 doc
    // ALSO serves from mirror.example.org — those (plus any natural
    // exact-text dups that happen to span hosts, replayed identically
    // by the oracle) are the mirrored set; payload never shuffles,
    // only 16-byte fingerprints (ops/Urls.mirrorReport)
    QuerySpec("q_mirror_report", (s, dir) => {
      val docs = t(s, dir, "documents")
      val own = docs.select(
        concat(lower(col("source")), lit(".example.com")).as("host"),
        col("text"))
      val mirrored = docs.where(col("doc_id") % 4 === 0)
        .select(lit("mirror.example.org").as("host"), col("text"))
      graft.ops.Urls.mirrorReport(own.unionByName(mirrored),
        "host", "text")
    },
      // replays the plant AND any natural cross-host exact-text dups:
      // distinct (host, md5) first, then the >=2-host groups
      """WITH pages AS (
        |  SELECT lower(source) || '.example.com' AS host, text
        |  FROM documents
        |  UNION ALL
        |  SELECT 'mirror.example.org' AS host, text
        |  FROM documents WHERE doc_id % 4 = 0),
        |fp AS (SELECT DISTINCT host, md5(text) AS content_fp FROM pages)
        |SELECT content_fp, CAST(count(*) AS BIGINT) AS n_hosts,
        |  string_agg(host, '|' ORDER BY host) AS hosts
        |FROM fp GROUP BY content_fp HAVING count(*) >= 2""".stripMargin),

    // ---- LLM: recrawl scheduling from observed change rates -----------
    // planted fetch history: 6 fetches per URL whose content version
    // advances every p = 1 + doc_id%4 fetches, so n_changes =
    // floor(5/p) in closed form — Spark counts TRANSITIONS through the
    // lag window over real fingerprints while the oracle never builds
    // one (ops/Urls.recrawlPriorities)
    QuerySpec("q_recrawl_priority", (s, dir) => {
      val docs = t(s, dir, "documents")
      val history = docs
        .select(col("doc_id").as("url_id"), col("text"),
          explode(sequence(lit(0), lit(5))).as("fetch_no"))
        .select(col("url_id"), col("fetch_no"),
          md5(concat(col("text"), lit(":v"),
            expr("fetch_no div (1 + url_id % 4)").cast("string"))
            .cast("binary")).as("content_fp"))
      graft.ops.Urls.recrawlPriorities(history,
        "url_id", "fetch_no", "content_fp")
    },
      // closed form of the plant: version advances every p fetches, so
      // over fetches 1..5 there are floor(5/p) transitions; the rate is
      // the same exact integer division both engines
      """SELECT doc_id AS url_id, CAST(6 AS BIGINT) AS n_fetches,
        |  CAST(5 // (1 + doc_id % 4) AS BIGINT) AS n_changes,
        |  (1000000 * (5 // (1 + doc_id % 4))) // 5 AS change_rate_micros
        |FROM documents""".stripMargin),

    // ---- LLM: multimodal featurize -> similarity score, oracle-checked -
    // The md5-derived stub embedding is reproducible in SQL, so the whole
    // payload -> feature vector -> cosine-vs-probe path gets a DuckDB
    // oracle. Components stay DOUBLE here (bit-parity with the oracle's
    // arithmetic, left-assoc sums both sides); the array<float> variant
    // of the same stub (Multimodal.featurizeStub) feeds the ANN ops and
    // is covered in MultimodalSpec.
    QuerySpec("q_multimodal_embed", (s, dir) => {
      val m = Multimodal.mediaFromDocs(t(s, dir, "documents"))
      val es = (0 until 8).map(i => Multimodal.embedComponent(col("payload"), i))
      val sumv = es.reduce(_ + _)
      val sumsq = es.map(e => e * e).reduce(_ + _)
      m.select(col("media_id"), col("kind"),
        round(sumv / (sqrt(sumsq) * lit(math.sqrt(8.0))), 4).as("probe_cos"))
    }, """WITH m AS (
        |  SELECT doc_id AS media_id,
        |    (['image','audio','video'])[(doc_id % 3) + 1] AS kind,
        |    [CAST((('0x' || substring(md5(text || CAST(i AS VARCHAR)), 1, 8))::BIGINT
        |           % 1000) / 999.0 AS DOUBLE) for i in range(0, 8)] AS v
        |  FROM documents)
        |SELECT media_id, kind,
        |  round((v[1]+v[2]+v[3]+v[4]+v[5]+v[6]+v[7]+v[8]) /
        |        (sqrt(v[1]*v[1]+v[2]*v[2]+v[3]*v[3]+v[4]*v[4]
        |              +v[5]*v[5]+v[6]*v[6]+v[7]*v[7]+v[8]*v[8])
        |         * sqrt(8.0)), 4) AS probe_cos
        |FROM m""".stripMargin))
}
