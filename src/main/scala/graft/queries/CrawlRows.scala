package graft
package queries

import graft.api._
import graft.functions.GraftFunctions
import graft.operators._
import graft.queries.Fixtures._
import graft.queries.Shared._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Web-crawl processing: extraction, URL handling, link-graph analytics
  * and crawl policy. */
private[queries] object CrawlRows {

  /** The crawl fixture's edge + vertex CTEs, shared by the four
    * link-graph oracles (PageRank, HITS, label propagation, BFS). */
  private val linkGraphCtes: String =
    """WITH src AS (
      |  SELECT CAST(doc_id AS BIGINT) AS id
      |  FROM documents WHERE text IS NOT NULL),
      |dd AS (
      |  SELECT DISTINCT id % 10 AS h, id % 4 AS q,
      |         CASE WHEN (id % 10) % 3 = 0 THEN 'co.uk' ELSE 'com' END AS tld
      |  FROM src),
      |e AS (SELECT DISTINCT src, dst FROM (
      |  SELECT 'site' || h || '.' || tld AS src,
      |         'partner' || q || '.example' AS dst FROM dd
      |  UNION ALL SELECT 'site' || h || '.' || tld,
      |         'site' || h || '.com' FROM dd
      |  UNION ALL SELECT 'site' || h || '.' || tld,
      |         'site' || h || '.' || tld FROM dd))""".stripMargin

  /** crawl_communities' oracle: one chained CTE per synchronous LPA
    * round — neighbor label counts, the per-vertex max, least label
    * among the tied winners. Pure count/min: no tolerance. */
  private def lpaCtes(iters: Int): String = {
    val head = linkGraphCtes +
      """,
        |u AS (SELECT DISTINCT a, b FROM (
        |  SELECT src AS a, dst AS b FROM e
        |  UNION ALL SELECT dst, src FROM e) WHERE a != b),
        |verts AS (SELECT DISTINCT a AS v FROM u),
        |l0 AS (SELECT v, v AS label FROM verts)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""cnt$i AS (
         |  SELECT u.a AS v, l.label, count(*) AS cnt
         |  FROM u JOIN l${i - 1} l ON l.v = u.b GROUP BY 1, 2),
         |top$i AS (SELECT v, max(cnt) AS mc FROM cnt$i GROUP BY v),
         |l$i AS (
         |  SELECT verts.v, COALESCE(w.label, verts.v) AS label
         |  FROM verts LEFT JOIN (
         |    SELECT c.v, min(c.label) AS label
         |    FROM cnt$i c JOIN top$i t ON t.v = c.v AND c.cnt = t.mc
         |    GROUP BY c.v) w ON w.v = verts.v)""".stripMargin
    }
    (head +: steps).mkString(",\n")
  }

  private def lpaOracle(iters: Int): String =
    lpaCtes(iters) +
      s"\nSELECT v AS domain, label AS community FROM l$iters ORDER BY domain"

  /** crawl_depth's oracle: one chained CTE per BFS wave — frontier
    * joins the edge list, already-reached vertices excluded, depths
    * accumulate. Integral throughout. */
  private def bfsOracle(maxDepth: Int): String = {
    val head = linkGraphCtes +
      """,
        |seeds AS (SELECT 'site0.co.uk' AS v UNION ALL SELECT 'site3.co.uk'),
        |f0 AS (SELECT DISTINCT v, CAST(0 AS BIGINT) AS d FROM seeds),
        |d0 AS (SELECT * FROM f0)""".stripMargin
    val steps = (1 to maxDepth).map { i =>
      s"""f$i AS (
         |  SELECT DISTINCT e.dst AS v, CAST($i AS BIGINT) AS d
         |  FROM e JOIN f${i - 1} ON e.src = f${i - 1}.v
         |  WHERE e.dst NOT IN (SELECT v FROM d${i - 1})),
         |d$i AS (SELECT * FROM d${i - 1} UNION ALL SELECT * FROM f$i)""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"\nSELECT v AS domain, d AS depth FROM d$maxDepth ORDER BY domain"
  }

  /** crawl_hits' oracle: the pageRankOracle edge CTEs, then `iters`
    * chained unnormalized integer HITS rounds. */
  private def hitsOracle(iters: Int): String = {
    val head =
      """WITH src AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id
        |  FROM documents WHERE text IS NOT NULL),
        |dd AS (
        |  SELECT DISTINCT id % 10 AS h, id % 4 AS q,
        |         CASE WHEN (id % 10) % 3 = 0 THEN 'co.uk' ELSE 'com' END AS tld
        |  FROM src),
        |e AS (SELECT DISTINCT src, dst FROM (
        |  SELECT 'site' || h || '.' || tld AS src,
        |         'partner' || q || '.example' AS dst FROM dd
        |  UNION ALL SELECT 'site' || h || '.' || tld,
        |         'site' || h || '.com' FROM dd
        |  UNION ALL SELECT 'site' || h || '.' || tld,
        |         'site' || h || '.' || tld FROM dd)),
        |verts AS (SELECT src AS v FROM e UNION SELECT dst FROM e),
        |h0 AS (SELECT v, CAST(1 AS BIGINT) AS h FROM verts)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""a$i AS (
         |  SELECT verts.v, CAST(COALESCE(c.s, 0) AS BIGINT) AS a
         |  FROM verts LEFT JOIN (
         |    SELECT e.dst AS v, SUM(h${i - 1}.h) AS s
         |    FROM e JOIN h${i - 1} ON h${i - 1}.v = e.src
         |    GROUP BY e.dst) c ON c.v = verts.v),
         |h$i AS (
         |  SELECT verts.v, CAST(COALESCE(c.s, 0) AS BIGINT) AS h
         |  FROM verts LEFT JOIN (
         |    SELECT e.src AS v, SUM(a$i.a) AS s
         |    FROM e JOIN a$i ON a$i.v = e.dst
         |    GROUP BY e.src) c ON c.v = verts.v)""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"\nSELECT h$iters.v AS domain, h$iters.h AS hub, a$iters.a AS auth " +
      s"FROM h$iters JOIN a$iters ON a$iters.v = h$iters.v ORDER BY domain"
  }

  val specs: Seq[QuerySpec] = Seq(
    // HTML → text extraction — the curation stage between WARC ingest
    // and every text operator. A full page (comment, title, script
    // and style with NESTED fake markup, nav, quote-guarded '>' in
    // attributes, named+numeric entities, footer) is built in-plan
    // around each document's HTML-ESCAPED text; the extractor must
    // drop the boilerplate machinery and recover the exact original
    // text (escape→extract is the identity), title, and link count.
    // Scan-local and shuffle-free — the 100 TB pass is one map.
    QuerySpec("html_extract_clean", (s, d) => {
      import s.implicits._
      table(s, d, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .mapPartitions { it =>
          it.map { case (id, text) =>
            val nLinks = (1 + id % 3).toInt
            val links = (0 until nLinks)
              .map(k => s"""<a href="/l$k" data-q="a>b">More</a>""")
              .mkString(" ")
            val html =
              s"""<!-- crawl fixture --><html><head><title>Doc $id</title>
                 |<script type="text/javascript">var x = "<p>not text</p>";</script>
                 |<style>.m { content: "<b>x</b>" }</style></head><body>
                 |<nav>Top Nav</nav>
                 |<p>${graft.operators.HtmlExtract.escapeHtml(text)}</p>
                 |$links
                 |<div>&#65;&#x42;&amp;&lt;tag&gt;</div>
                 |<footer>(c) corp</footer>
                 |</body></html>""".stripMargin
            val e = graft.operators.HtmlExtract.extract(html)
            (id, e.title, e.text, e.nLinks)
          }
        }
        .toDF("id", "title", "text_clean", "n_links")
        .orderBy("id")
    },
      // The fixture page's text content re-assembled from the raw
      // document text (escape→extract is the identity) plus the fixed
      // boilerplate strings, whitespace-collapsed exactly like the
      // extractor's final pass.
      """WITH src AS (
        |  SELECT doc_id AS id, text, CAST(1 + doc_id % 3 AS INT) AS n_links
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT id, 'Doc ' || id AS title,
        |       trim(regexp_replace(
        |         'Top Nav ' || text || ' ' || repeat('More ', n_links) ||
        |         'AB&<tag> (c) corp', '[ \t\n\r\f]+', ' ', 'g')) AS text_clean,
        |       n_links
        |FROM src ORDER BY id""".stripMargin),
    // URL canonicalization — the dedup key / per-domain grouping key
    // of a crawl corpus. Hostile raw URLs (uppercase scheme+host,
    // default ports, dot-segments, unreserved percent-escapes,
    // utm_/fbclid tracking params, unsorted query, fragment) are
    // built in-plan per document; the normalizer must produce the
    // exact canonical form and the registered-domain heuristic must
    // cross the two-part-suffix (co.uk) boundary correctly.
    QuerySpec("url_normalize", (s, d) => {
      import s.implicits._
      table(s, d, "documents")
        .select(col("doc_id").cast("long"))
        .as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val tld = if ((id % 10) % 3 == 0) "co.uk" else "com"
            val raw = (if (id % 2 == 0) "HTTP" else "HTTPS") +
              s"://WWW.Site${id % 10}.$tld" +
              (if (id % 2 == 0) ":80" else ":443") +
              s"/d${id % 7}/./sk%41ip/../p%41ge" +
              s"?utm_source=feed&id=$id&b=2&a=1&fbclid=XYZ#top"
            val norm = graft.operators.UrlOps.normalize(raw).get
            val host = graft.operators.UrlOps.parse(raw).get.host.toLowerCase
            (id, norm, host, graft.operators.UrlOps.registeredDomain(host))
          }
        }
        .toDF("id", "url_norm", "host", "domain")
        .orderBy("id")
    },
      // The canonical form re-assembled arithmetically from the same
      // id the fixture builder used: lowercase scheme/host, default
      // port gone, /d{k}/./sk%41ip/../p%41ge → /d{k}/pAge, tracking
      // params gone, survivors sorted (a=1&b=2&id=N), fragment gone.
      """WITH src AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |d AS (
        |  SELECT id,
        |         CASE WHEN id % 2 = 0 THEN 'http' ELSE 'https' END AS scheme,
        |         'www.site' || (id % 10) ||
        |           CASE WHEN (id % 10) % 3 = 0 THEN '.co.uk' ELSE '.com' END
        |           AS host,
        |         'site' || (id % 10) ||
        |           CASE WHEN (id % 10) % 3 = 0 THEN '.co.uk' ELSE '.com' END
        |           AS domain
        |  FROM src)
        |SELECT id,
        |       scheme || '://' || host || '/d' || (id % 7) || '/pAge?a=1&b=2&id='
        |         || id AS url_norm,
        |       host, domain
        |FROM d ORDER BY id""".stripMargin),
    // END-TO-END crawl pipeline: render each document as a hostile
    // HTML page keyed by a hostile raw URL → shard into real .warc.gz
    // file images (gzip-per-record, warcinfo lead) → parse the WARC
    // back → HTML-extract the text and canonicalize the URL. This is
    // the exact composition a 100 TB crawl runs: after the one
    // shard-shuffle, parse+extract+normalize all fuse into the read
    // task — scan-local, nothing but (url, page) ever moves.
    QuerySpec("crawl_pipeline", (s, d) => {
      import s.implicits._
      // write half: one exchange on the shard key, rows sorted
      // (shard, id) within partitions, then each shard RUN streams
      // record-by-record into the gzip writer — the heap never holds
      // a shard's uncompressed rows, only the compressed image (the
      // product). A mis-sized shard count degrades to big files, not
      // an executor OOM.
      val shards = table(s, d, "documents")
        .filter(col("text").isNotNull)
        .select((col("doc_id").cast("long") % 16).cast("int").as("shard"),
          col("doc_id").cast("long").as("id"), col("text"))
        .repartition(16, col("shard"))
        .sortWithinPartitions("shard", "id")
        .as[(Int, Long, String)]
        .mapPartitions { it =>
          val buf = it.buffered
          new Iterator[(Int, Array[Byte])] {
            def hasNext: Boolean = buf.hasNext
            def next(): (Int, Array[Byte]) = {
              val shard = buf.head._1
              val run = new Iterator[(String, Array[Byte], String)] {
                def hasNext: Boolean = buf.hasNext && buf.head._1 == shard
                def next(): (String, Array[Byte], String) = {
                  val (_, id, text) = buf.next()
                  val tld = if ((id % 10) % 3 == 0) "co.uk" else "com"
                  val raw = (if (id % 2 == 0) "HTTP" else "HTTPS") +
                    s"://WWW.Site${id % 10}.$tld" +
                    (if (id % 2 == 0) ":80" else ":443") +
                    s"/d${id % 7}/./page?utm_source=feed&id=$id#top"
                  val html =
                    s"""<html><head><title>Doc $id</title>
                       |<script>var x = "<p>not text</p>";</script></head>
                       |<body><p>${graft.operators.HtmlExtract.escapeHtml(text)}</p>
                       |<a href="/next">next</a></body></html>""".stripMargin
                  (raw, html.getBytes(java.nio.charset.StandardCharsets.UTF_8),
                    "text/html; charset=utf-8")
                }
              }
              val bos = new java.io.ByteArrayOutputStream()
              graft.sources.WarcCodec.writeWarcGz(bos, run)
              (shard, bos.toByteArray)
            }
          }
        }
        .toDF("shard", "warc_gz")
      shards.select(col("warc_gz")).as[Array[Byte]]
        .flatMap(blob => graft.sources.WarcCodec.parseWarc(blob))
        .map { doc =>
          // charset-aware decode off the framed Content-Type — no
          // hardcoded UTF-8 anywhere in the read path
          val dec = graft.operators.CharsetSniff.decode(doc.body, doc.content_type)
          val e = graft.operators.HtmlExtract.extract(dec.text)
          val norm = graft.operators.UrlOps.normalize(doc.url).getOrElse("")
          val host = graft.operators.UrlOps.parse(doc.url)
            .map(_.host.toLowerCase).getOrElse("")
          (e.title.stripPrefix("Doc ").toLong, norm,
            graft.operators.UrlOps.registeredDomain(host),
            e.text, e.nLinks, doc.http_status)
        }
        .toDF("id", "url_norm", "domain", "text_clean", "n_links", "status")
        .orderBy("id")
    },
      // The whole pipeline's output re-derived arithmetically: the WARC
      // wrap/unwrap is the identity on (url, page), the page's only
      // text is the escaped document text plus the anchor word, and the
      // URL canonicalizes as in url_normalize (here with /./ removal
      // and only the id param surviving).
      """WITH src AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id, text
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT id,
        |       CASE WHEN id % 2 = 0 THEN 'http' ELSE 'https' END ||
        |         '://www.site' || (id % 10) ||
        |         CASE WHEN (id % 10) % 3 = 0 THEN '.co.uk' ELSE '.com' END ||
        |         '/d' || (id % 7) || '/page?id=' || id AS url_norm,
        |       'site' || (id % 10) ||
        |         CASE WHEN (id % 10) % 3 = 0 THEN '.co.uk' ELSE '.com' END
        |         AS domain,
        |       trim(regexp_replace(text || ' next', '[ \t\n\r\f]+', ' ', 'g'))
        |         AS text_clean,
        |       CAST(1 AS INT) AS n_links,
        |       CAST(200 AS INT) AS status
        |FROM src ORDER BY id""".stripMargin),
    // CHARSET-aware crawl decode: real crawls are ~10–20% legacy-
    // charset, so each document becomes a page in one of five
    // authoring conventions — UTF-8 declared by the HTTP header
    // (with a LYING meta tag the header must outrank), Latin-1 via
    // <meta charset>, Windows-1251 via http-equiv, undeclared
    // (→ ISO-8859-1 fallback), and UTF-8-BOM'd with a lying meta
    // (BOM outranks everything). Pages carry non-ASCII marker chars
    // whose survival PROVES the right codec ran; the bytes travel
    // through real WARC response framing so the Content-Type is
    // parsed off the wire, not passed around in memory.
    QuerySpec("crawl_charset", (s, d) => {
      import s.implicits._
      table(s, d, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .mapPartitions { it =>
          it.map { case (id, text) =>
            val cls = (id % 5).toInt
            val (marker, csName, httpCt, metaTag, bom) = cls match {
              case 0 => ("café Ж", "UTF-8", "text/html; charset=utf-8",
                "<meta http-equiv=\"Content-Type\" " +
                  "content=\"text/html; charset=windows-1251\">", false)
              case 1 => ("é±", "ISO-8859-1", "text/html",
                "<meta charset=\"iso-8859-1\">", false)
              case 2 => ("Дж", "windows-1251", "text/html",
                "<meta http-equiv=\"Content-Type\" " +
                  "content=\"text/html; charset=windows-1251\">", false)
              case 3 => ("éü", "ISO-8859-1", "text/html", "", false)
              case _ => ("Ωπ", "UTF-8", "text/html",
                "<meta charset=\"iso-8859-1\">", true)
            }
            val html =
              s"""<html><head>$metaTag<title>Doc $id</title></head>
                 |<body><p>${graft.operators.HtmlExtract.escapeHtml(text)} $marker</p>
                 |</body></html>""".stripMargin
            val enc = html.getBytes(java.nio.charset.Charset.forName(csName))
            val body =
              if (bom) Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++ enc
              else enc
            val bos = new java.io.ByteArrayOutputStream()
            graft.sources.WarcCodec.writeWarcGz(bos,
              Iterator((s"https://crawl.example/p/$id", body, httpCt)))
            val doc = graft.sources.WarcCodec.parseWarc(bos.toByteArray).head
            val dec = graft.operators.CharsetSniff.decode(doc.body, doc.content_type)
            val e = graft.operators.HtmlExtract.extract(dec.text)
            (id, dec.charset, dec.source, e.title, e.text)
          }
        }
        .toDF("id", "charset", "src", "title", "text_clean")
        .orderBy("id")
    },
      // The decoded page re-derived arithmetically: per class the
      // charset/provenance are fixed by the fixture's declaration
      // convention, and the non-ASCII markers are rebuilt from their
      // Unicode codepoints with chr() — if the wrong codec ran on the
      // Spark side the markers come back as mojibake and the hash
      // diverges. Text = document text + marker, whitespace-collapsed
      // exactly like the extractor.
      """WITH src AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id, text
        |  FROM documents WHERE text IS NOT NULL),
        |d AS (SELECT id, text, id % 5 AS cls FROM src)
        |SELECT id,
        |       CASE cls WHEN 0 THEN 'UTF-8' WHEN 1 THEN 'ISO-8859-1'
        |            WHEN 2 THEN 'windows-1251' WHEN 3 THEN 'ISO-8859-1'
        |            ELSE 'UTF-8' END AS charset,
        |       CASE cls WHEN 0 THEN 'http' WHEN 1 THEN 'meta'
        |            WHEN 2 THEN 'meta' WHEN 3 THEN 'fallback'
        |            ELSE 'bom' END AS src,
        |       'Doc ' || id AS title,
        |       trim(regexp_replace(text || ' ' ||
        |         CASE cls WHEN 0 THEN 'caf' || chr(233) || ' ' || chr(1046)
        |              WHEN 1 THEN chr(233) || chr(177)
        |              WHEN 2 THEN chr(1044) || chr(1078)
        |              WHEN 3 THEN chr(233) || chr(252)
        |              ELSE chr(937) || chr(960) END,
        |         '[ \t\n\r\f]+', ' ', 'g')) AS text_clean
        |FROM d ORDER BY id""".stripMargin),
    // LINK GRAPH edges — the standard domain-quality signal of crawl
    // curation (a domain linked from many registered domains ranks
    // above one only it links to). Each document's page carries every
    // href form a crawl meets (absolute, protocol-relative with an
    // entity-encoded query, absolute-path, relative with dot-segments,
    // query-only, fragment-only, and an href-less named anchor);
    // extraction → RFC 3986 resolution against the page URL →
    // canonicalization → registered-domain edges. Shape at 100 TB:
    // extract+resolve are scan-local flatMap work; the only exchange
    // is the final (src, dst) count aggregate — edges shuffle as two
    // short strings, never pages.
    QuerySpec("crawl_links", (s, d) => {
      import s.implicits._
      table(s, d, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id").cast("long"))
        .as[Long]
        .flatMap { id =>
          val h = id % 10
          val q = id % 4
          val tld = if (h % 3 == 0) "co.uk" else "com"
          val pageUrl = s"HTTPS://WWW.Site$h.$tld/d${id % 7}/page"
          val html =
            s"""<html><body>
               |<a href="https://partner$q.example/x">p</a>
               |<a href="//cdn.site$h.com/img?a=1&amp;b=2">c</a>
               |<a href="/about">a</a> <a href="../up">u</a>
               |<a href='?page=2'>n</a> <a href=#sec>s</a>
               |<a name="top">anchor</a>
               |</body></html>""".stripMargin
          val e = graft.operators.HtmlExtract.extract(html)
          val src = graft.operators.UrlOps.parse(pageUrl)
            .map(u => graft.operators.UrlOps.registeredDomain(u.host))
            .getOrElse("")
          e.links.flatMap { href =>
            graft.operators.UrlOps.resolve(pageUrl, href)
              .flatMap(graft.operators.UrlOps.normalize)
              .flatMap(graft.operators.UrlOps.parse)
              .map(u => (src, graft.operators.UrlOps.registeredDomain(u.host)))
          }
        }
        .toDF("src_domain", "dst_domain")
        .groupBy("src_domain", "dst_domain")
        .agg(count(lit(1)).as("n_links"))
        .orderBy("src_domain", "dst_domain")
    },
      // The edge multiset re-derived arithmetically: per doc the six
      // hrefs resolve to partner{q}.example, site{h}.com (the cdn), and
      // four self-edges (absolute-path, dot-segment relative,
      // query-only, fragment-only); the href-less named anchor emits
      // nothing.
      """WITH src AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id
        |  FROM documents WHERE text IS NOT NULL),
        |d AS (SELECT id % 10 AS h, id % 4 AS q,
        |        CASE WHEN (id % 10) % 3 = 0 THEN 'co.uk' ELSE 'com' END AS tld
        |      FROM src),
        |e AS (
        |  SELECT 'site' || h || '.' || tld AS src_domain,
        |         'partner' || q || '.example' AS dst_domain FROM d
        |  UNION ALL SELECT 'site' || h || '.' || tld,
        |         'site' || h || '.com' FROM d
        |  UNION ALL SELECT 'site' || h || '.' || tld,
        |         'site' || h || '.' || tld FROM d
        |  UNION ALL SELECT 'site' || h || '.' || tld,
        |         'site' || h || '.' || tld FROM d
        |  UNION ALL SELECT 'site' || h || '.' || tld,
        |         'site' || h || '.' || tld FROM d
        |  UNION ALL SELECT 'site' || h || '.' || tld,
        |         'site' || h || '.' || tld FROM d)
        |SELECT src_domain, dst_domain, CAST(count(*) AS BIGINT) AS n_links
        |FROM e GROUP BY src_domain, dst_domain
        |ORDER BY src_domain, dst_domain""".stripMargin),
    // URL-level dedup — the FIRST dedup pass of every crawl pipeline:
    // the same page fetched repeatedly under scheme/host case noise,
    // default ports, dot-segments, shuffled params, per-fetch tracking
    // ids, and fragments collapses onto ONE canonical URL, keeping the
    // best capture (longest text, ties → lowest id — the
    // keep-best convention of Dedup.keepBestVerdict). Shape at
    // 100 TB: normalization is scan-local; the only exchange carries
    // (canonical url, id, n_chars) — one hash aggregate, no pages.
    QuerySpec("crawl_url_dedup", (s, d) => {
      import s.implicits._
      table(s, d, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id").cast("long"), col("n_chars").cast("long"))
        .as[(Long, Long)]
        .mapPartitions { it =>
          it.map { case (id, nChars) =>
            val g = id % 120 // ~4 fetches of each canonical page
            val scheme = if (g % 2 == 0) "http" else "https"
            val schemeRaw = if (id % 2 == 0) scheme.toUpperCase else scheme
            val host = (if (id % 3 == 0) s"WWW.Page${g % 10}"
              else s"www.page${g % 10}") + ".com"
            val port =
              if (id % 2 == 0) { if (g % 2 == 0) ":80" else ":443" } else ""
            val path = if (id % 3 == 0) s"/a${g % 5}/./x" else s"/a${g % 5}/x"
            val qs =
              if (id % 2 == 0) s"?k=$g&b=1&utm_source=f$id"
              else s"?b=1&fbclid=Z$id&k=$g"
            val raw = s"$schemeRaw://$host$port$path$qs#frag$id"
            (id, nChars, graft.operators.UrlOps.normalize(raw).get)
          }
        }
        .toDF("id", "n_chars", "url_norm")
        .groupBy("url_norm")
        .agg(count(lit(1)).as("n_fetches"),
          min_by(col("id"), struct(negate(col("n_chars")), col("id")))
            .as("keep_id"),
          max(col("n_chars")).as("max_len"))
        .orderBy("url_norm")
    },
      // The canonical URL re-derived arithmetically from g = id % 120
      // (everything per-fetch — case, port, dot-segment, tracking ids,
      // param order, fragment — normalizes away); keep-best via the
      // window-max + min-id idiom of the dedup_keep_best oracle.
      """WITH src AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id,
        |         CAST(n_chars AS BIGINT) AS n_chars,
        |         CAST(doc_id % 120 AS BIGINT) AS g
        |  FROM documents WHERE text IS NOT NULL),
        |u AS (
        |  SELECT id, n_chars,
        |         CASE WHEN g % 2 = 0 THEN 'http' ELSE 'https' END ||
        |           '://www.page' || (g % 10) || '.com/a' || (g % 5) ||
        |           '/x?b=1&k=' || g AS url_norm
        |  FROM src),
        |best AS (
        |  SELECT url_norm, min(id) AS keep_id FROM (
        |    SELECT url_norm, id, n_chars,
        |           max(n_chars) OVER (PARTITION BY url_norm) AS mx
        |    FROM u)
        |  WHERE n_chars = mx GROUP BY url_norm)
        |SELECT u.url_norm, CAST(count(*) AS BIGINT) AS n_fetches,
        |       b.keep_id, max(u.n_chars) AS max_len
        |FROM u JOIN best b USING (url_norm)
        |GROUP BY u.url_norm, b.keep_id
        |ORDER BY u.url_norm""".stripMargin),
    // Robots fetch-policy gate (RFC 9309) — the step between link
    // discovery and the fetch queue. One fixture policy exercises the
    // semantics that decide real crawls: named-group EXCLUSIVITY
    // (graftbot does not inherit the * group's /tmp* ban),
    // longest-pattern precedence with Allow winning ties, `$` end
    // anchors out-ranking shorter Disallows, and `*` prefix-anchored
    // wildcards. Six path classes per document; both a named crawler
    // and a defaulting one are decided. Scan-local: the policy is a
    // per-domain broadcast-sized object, the decision a pure map.
    QuerySpec("crawl_robots", (s, d) => {
      import s.implicits._
      table(s, d, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id").cast("long"))
        .as[Long]
        .mapPartitions { it =>
          val robots = graft.operators.RobotsTxt.parse(
            """# graft fixture policy
              |User-agent: graftbot
              |Allow: /private/graft/
              |Disallow: /private/
              |
              |User-agent: *
              |Disallow: /private/
              |Disallow: /tmp*
              |Allow: /private/ok$
              |Crawl-delay: 2
              |Sitemap: https://www.example.com/sitemap.xml""".stripMargin)
          it.map { id =>
            val path = (id % 6) match {
              case 0 => s"/public/p$id"
              case 1 => s"/private/p$id"
              case 2 => s"/private/graft/p$id"
              case 3 => s"/tmpfile$id"
              case 4 => "/private/ok"
              case _ => s"/ok/tmp$id"
            }
            (id, path,
              graft.operators.RobotsTxt.isAllowed(robots, "graftbot/1.0", path),
              graft.operators.RobotsTxt.isAllowed(robots, "otherbot/2.0", path))
          }
        }
        .toDF("id", "path", "allowed_graft", "allowed_other")
        .orderBy("id")
    },
      // Each class's verdict derived BY HAND from RFC 9309 §2.2.2
      // against the fixture policy: graftbot allowed = {no-match,
      // graft-carve-out wins by length, tmp* not in its group,
      // no-match}; otherbot allowed = {no-match, $-anchored Allow
      // out-ranks Disallow, no-match} — closed-form, zero re-derivation
      // of the matcher.
      """WITH src AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id
        |  FROM documents WHERE text IS NOT NULL),
        |d AS (SELECT id, id % 6 AS cls FROM src)
        |SELECT id,
        |       CASE cls WHEN 0 THEN '/public/p' || id
        |            WHEN 1 THEN '/private/p' || id
        |            WHEN 2 THEN '/private/graft/p' || id
        |            WHEN 3 THEN '/tmpfile' || id
        |            WHEN 4 THEN '/private/ok'
        |            ELSE '/ok/tmp' || id END AS path,
        |       cls IN (0, 2, 3, 5) AS allowed_graft,
        |       cls IN (0, 4, 5) AS allowed_other
        |FROM d ORDER BY id""".stripMargin),
    // Sitemap ingestion — frontier SEEDING, the other half of the
    // policy loop crawl_robots gates: each document becomes a
    // urlset with 1–3 entries (entity-encoded locs, lastmod,
    // priority), parsed back by the DOM-free total scanner and
    // exploded to frontier rows. Scan-local flatMap; nothing but the
    // seeded rows ever moves.
    QuerySpec("crawl_sitemap", (s, d) => {
      import s.implicits._
      table(s, d, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id").cast("long"))
        .as[Long]
        .flatMap { id =>
          val k = (1 + id % 3).toInt
          val urls = (0 until k).map { j =>
            s"""  <url>
               |    <loc>https://www.site${id % 10}.com/page$id/$j?a=1&amp;b=$j</loc>
               |    <lastmod>2026-0${1 + id % 9}-01</lastmod>
               |    <changefreq>weekly</changefreq>
               |    <priority>0.${id % 10}</priority>
               |  </url>""".stripMargin
          }.mkString("\n")
          val xml =
            s"""<?xml version="1.0" encoding="UTF-8"?>
               |<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
               |$urls
               |</urlset>""".stripMargin
          graft.operators.Sitemap.parse(xml).entries.zipWithIndex.map {
            case (e, j) => (id, j.toLong, e.loc, e.lastmod, e.priority)
          }
        }
        .toDF("id", "pos", "loc", "lastmod", "priority")
        .orderBy("id", "pos")
    },
      // The seeded frontier re-derived arithmetically: k = 1 + id%3
      // entries per document, loc rebuilt with the DECODED ampersand,
      // priority re-parsed from the same decimal string both engines
      // turn into the identical nearest double.
      """WITH src AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id
        |  FROM documents WHERE text IS NOT NULL),
        |d AS (SELECT id, CAST(j - 1 AS BIGINT) AS pos
        |      FROM src, unnest(generate_series(1, CAST(1 + id % 3 AS INT))) t(j))
        |SELECT id, pos,
        |       'https://www.site' || (id % 10) || '.com/page' || id || '/' ||
        |         pos || '?a=1&b=' || pos AS loc,
        |       '2026-0' || (1 + id % 9) || '-01' AS lastmod,
        |       CAST('0.' || (id % 10) AS DOUBLE) AS priority
        |FROM d ORDER BY id, pos""".stripMargin),
    // Sitemap INDEX expansion — the two-level protocol shape real
    // sites use (a <sitemapindex> pointing at child urlsets): the
    // index parses to child locs, each child "fetches" (built
    // in-plan from the same residues) and parses to pages, flattened
    // to frontier rows with the child provenance kept. Scan-local
    // flatMap; the oracle re-derives every row arithmetically.
    QuerySpec("crawl_sitemap_index", (s, d) => {
      import s.implicits._
      table(s, d, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id").cast("long"))
        .as[Long]
        .flatMap { id =>
          val h = id % 10
          val k = (1 + id % 3).toInt
          def childXml(j: Int): String = {
            val m = (1 + (id + j) % 2).toInt
            val urls = (0 until m).map { u =>
              s"""  <url><loc>https://www.site$h.com/p$id/c$j/u$u</loc>
                 |    <lastmod>2026-0${1 + (id + j + u) % 9}-02</lastmod>
                 |  </url>""".stripMargin
            }.mkString("\n")
            s"""<?xml version="1.0" encoding="UTF-8"?>
               |<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
               |$urls
               |</urlset>""".stripMargin
          }
          val children = (0 until k).map(j =>
            s"""  <sitemap><loc>https://www.site$h.com/maps/sm$j.xml</loc>
               |  </sitemap>""".stripMargin).mkString("\n")
          val indexXml =
            s"""<?xml version="1.0" encoding="UTF-8"?>
               |<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
               |$children
               |</sitemapindex>""".stripMargin
          val idx = graft.operators.Sitemap.parse(indexXml)
          if (!idx.isIndex) Seq.empty
          else idx.entries.zipWithIndex.flatMap { case (child, j) =>
            // the "fetch" of the child loc, deterministic in-plan
            graft.operators.Sitemap.parse(childXml(j)).entries.zipWithIndex
              .map { case (e, u) =>
                (id, j.toLong, u.toLong, child.loc, e.loc, e.lastmod)
              }
          }
        }
        .toDF("id", "child_idx", "pos", "child_loc", "loc", "lastmod")
        .orderBy("id", "child_idx", "pos")
    },
      // The two-level expansion re-derived: k = 1+id%3 children, child
      // j holds m = 1+(id+j)%2 pages with the same loc/lastmod residues.
      """WITH src AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id
        |  FROM documents WHERE text IS NOT NULL),
        |ch AS (
        |  SELECT id, CAST(j - 1 AS BIGINT) AS child_idx
        |  FROM src, unnest(generate_series(1, CAST(1 + id % 3 AS INT))) t(j)),
        |pg AS (
        |  SELECT id, child_idx, CAST(u - 1 AS BIGINT) AS pos
        |  FROM ch, unnest(generate_series(1,
        |       CAST(1 + (id + child_idx) % 2 AS INT))) t(u))
        |SELECT id, child_idx, pos,
        |       'https://www.site' || (id % 10) || '.com/maps/sm' ||
        |         child_idx || '.xml' AS child_loc,
        |       'https://www.site' || (id % 10) || '.com/p' || id || '/c' ||
        |         child_idx || '/u' || pos AS loc,
        |       '2026-0' || (1 + (id + child_idx + pos) % 9) || '-02' AS lastmod
        |FROM pg ORDER BY id, child_idx, pos""".stripMargin),
    // IDN canonicalization: crawled URLs carry internationalized
    // hosts both ways (Unicode in hrefs, xn-- on the wire); the
    // normalizer's RFC 3492 punycode makes them ONE dedup/grouping
    // key. Three Unicode host classes (plus an ASCII control) built
    // in-plan with uppercase noise; the oracle pins the published
    // xn-- encodings, which the spec independently validates against
    // java.net.IDN over 3000 fuzz labels.
    QuerySpec("crawl_idn", (s, d) => {
      import s.implicits._
      table(s, d, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id").cast("long"))
        .as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val raw = (id % 4) match {
              case 0 => s"HTTP://WWW.Site${id % 10}.COM/p$id"
              case 1 => s"HTTP://WWW.MÜNCHEN.DE/p$id" // MÜNCHEN
              case 2 => s"HTTPS://Shop.Bücher.example/p$id" // Bücher
              case _ => s"HTTP://www.café.com/p$id" // café
            }
            val norm = graft.operators.UrlOps.normalize(raw).get
            val host = graft.operators.UrlOps.parse(raw).get.host
            (id, norm, graft.operators.UrlOps.registeredDomain(host))
          }
        }
        .toDF("id", "url_norm", "domain")
        .orderBy("id")
    },
      // Pinned ground truth: the xn-- forms are the PUBLISHED encodings
      // of these labels (and the spec re-derives them against the JDK's
      // independent IDNA implementation), so the oracle simply states
      // them — punycode itself is not SQL-expressible.
      """WITH src AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id
        |  FROM documents WHERE text IS NOT NULL),
        |d AS (SELECT id, id % 4 AS cls FROM src)
        |SELECT id,
        |       CASE cls
        |         WHEN 0 THEN 'http://www.site' || (id % 10) || '.com/p' || id
        |         WHEN 1 THEN 'http://www.xn--mnchen-3ya.de/p' || id
        |         WHEN 2 THEN 'https://shop.xn--bcher-kva.example/p' || id
        |         ELSE 'http://www.xn--caf-dma.com/p' || id END AS url_norm,
        |       CASE cls
        |         WHEN 0 THEN 'site' || (id % 10) || '.com'
        |         WHEN 1 THEN 'xn--mnchen-3ya.de'
        |         WHEN 2 THEN 'xn--bcher-kva.example'
        |         ELSE 'xn--caf-dma.com' END AS domain
        |FROM d ORDER BY id""".stripMargin),
    // Domain PageRank — the RANKING stage of crawl curation, over the
    // same domain universe crawl_links discovers (sites → partners/
    // cdns/self). Integer micro-rank arithmetic (r' = 150000 +
    // 85·Σ(r div outdeg) div 100) makes 5 iterations of shuffled
    // joins BITWISE deterministic under any partitioning — the
    // property float PageRank can't give a reproducible pipeline.
    // Danglers (partner/cdn domains with no out-links) leak mass by
    // the documented variant; duplicate edges collapse (simple graph).
    QuerySpec("crawl_rank", (s, d) => {
      import s.implicits._
      val edges = table(s, d, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id").cast("long"))
        .as[Long]
        .flatMap { id =>
          val h = id % 10
          val q = id % 4
          val tld = if (h % 3 == 0) "co.uk" else "com"
          val src = s"site$h.$tld"
          Seq((src, s"partner$q.example"), (src, s"site$h.com"), (src, src))
        }
        .toDF("src", "dst")
      graft.operators.LinkRank.pageRank(edges, iters = 5)
        .orderBy("domain")
    },
      // The exact integer recurrence mirrored: edge set re-derived (and
      // DISTINCT'd) from the same residues, then 5 chained iteration
      // CTEs of r' = 150000 + (85·Σ(r // outdeg)) // 100 — all integral,
      // so both engines agree bitwise (see pageRankOracle).
      pageRankOracle(5)),
    // Link communities — deterministic synchronous label propagation
    // over the same domain graph crawl_rank ranks: each round every
    // domain adopts its neighbors' most frequent label (least label
    // on ties), pure count/min aggregates, so three shuffled rounds
    // are exact under any partitioning (the textbook random-order LPA
    // is non-reproducible by construction). Curation treats a
    // community — mirror ring, partner cluster — as one unit.
    QuerySpec("crawl_communities", (s, d) => {
      import s.implicits._
      val edges = table(s, d, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id").cast("long"))
        .as[Long]
        .flatMap { id =>
          val h = id % 10
          val q = id % 4
          val tld = if (h % 3 == 0) "co.uk" else "com"
          val src = s"site$h.$tld"
          Seq((src, s"partner$q.example"), (src, s"site$h.com"), (src, src))
        }
        .toDF("src", "dst")
      graft.operators.LinkRank.labelPropagation(edges, iters = 3)
        .orderBy("domain")
    },
      // Same edge CTEs, then 3 synchronous label-propagation rounds —
      // neighbor-label counts, per-vertex max, least label among ties.
      lpaOracle(3)),
    // Newman modularity of those LPA communities — the "are they
    // real" gate: per-community exact-integer contribution
    // (4·m·e_c − d_c²)/4m²; a partition no better than the degree
    // null model scores ≤ 0.
    QuerySpec("crawl_modularity", (s, d) => {
      import s.implicits._
      val edges = table(s, d, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id").cast("long"))
        .as[Long]
        .flatMap { id =>
          val h = id % 10
          val q = id % 4
          val tld = if (h % 3 == 0) "co.uk" else "com"
          val src = s"site$h.$tld"
          Seq((src, s"partner$q.example"), (src, s"site$h.com"), (src, src))
        }
        .toDF("src", "dst")
        // The typed flatMap is OPAQUE (no exchange under it, so AQE
        // reuse can never dedup it): every reference inside the LPA
        // rounds + modularity re-ran the corpus scan + flatMap.
        // Materialize the slim edge list once (3 rows/doc of two short
        // strings).
        .localCheckpoint(true)
      graft.operators.LinkRank.modularity(edges,
        graft.operators.LinkRank.labelPropagation(edges, iters = 3))
    },
      // Modularity replayed over the same LPA labels: canonical
      // undirected edges, intra counts, degree sums, and the exact
      // integer form (4·m·e_c − d_c²) / 4m² in HUGEINT (// truncates
      // toward zero, matching Spark's div on DECIMAL).
      (lpaCtes(3) +
        """,
          |uu AS (SELECT DISTINCT least(a, b) AS x, greatest(a, b) AS y FROM u),
          |lbl AS (SELECT v, label AS community FROM l3),
          |wl AS (SELECT la.community AS ca, lb.community AS cb
          |       FROM uu JOIN lbl la ON la.v = uu.x JOIN lbl lb ON lb.v = uu.y),
          |intra AS (SELECT ca AS community, CAST(count(*) AS BIGINT) AS intra_edges
          |          FROM wl WHERE ca = cb GROUP BY 1),
          |dg AS (SELECT v, count(*) AS deg
          |       FROM (SELECT x AS v FROM uu UNION ALL SELECT y FROM uu)
          |       GROUP BY v),
          |pc AS (SELECT lbl.community, CAST(count(*) AS BIGINT) AS n_nodes,
          |              CAST(sum(dg.deg) AS BIGINT) AS degree_sum
          |       FROM dg JOIN lbl ON lbl.v = dg.v GROUP BY 1),
          |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM uu)
          |SELECT pc.community, pc.n_nodes,
          |       coalesce(intra.intra_edges, 0) AS intra_edges, pc.degree_sum,
          |       CAST((CAST(1000000 AS HUGEINT) *
          |             (4 * CAST(mm.m AS HUGEINT) * coalesce(intra.intra_edges, 0) -
          |              CAST(pc.degree_sum AS HUGEINT) * pc.degree_sum)) //
          |            (4 * CAST(mm.m AS HUGEINT) * mm.m) AS BIGINT) AS q_micro
          |FROM pc LEFT JOIN intra USING (community), mm
          |ORDER BY community""".stripMargin)),
    // Triangle counting + local clustering over a denser synthetic
    // domain graph (97 nodes, 3 pseudo-random out-edges each) — the
    // link-farm signal: cliques close into triangles, organic link
    // neighborhoods don't. Degree-ordered orientation (Suri &
    // Vassilvitskii 2011) bounds every vertex's wedge fan-out by
    // √|E|, so the hub-vertex d² blowup cannot happen; the oracle
    // replays the same orientation joins in SQL.
    // k-core decomposition (Seidman 1983) via the distributable
    // H-operator iteration (Lü et al., PNAS 2016) over a structured
    // domain graph: a 97-node ring (organic chain, core 2) with a
    // 13-domain clique on the multiples of 8 (the link farm, core 12)
    // plus chord spokes — coreness separates farm from organic at
    // EQUAL degree, the signal clustering and reciprocity miss. The
    // oracle unrolls the same monotone H rounds to their fixpoint.
    QuerySpec("crawl_kcore", (s, d) => {
      def node(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        concat(lit("d"), lpad(c.cast("string"), 2, "0"), lit(".example"))
      val docs = table(s, d, "documents")
      val n = col("doc_id") % 97
      val ring = docs.select(node(n).as("src"), node((n + 1) % 97).as("dst"))
      val farm = docs.filter(n % 8 === 0)
        .select(node(n).as("src"),
          explode(sequence(lit(1), lit(12))).as("__k"),
          expr("(doc_id % 97) div 8").as("__i"))
        .select(col("src"), node((col("__i") + col("__k")) % 13 * 8).as("dst"))
      val spokes = docs.filter(n % 7 === 3)
        .select(node(n).as("src"), node((n * 5 + 11) % 97).as("dst"))
      graft.operators.LinkRank.kcore(ring.unionByName(farm).unionByName(spokes))
        .orderBy("domain")
    },
      // k-core replayed: same structured graph, the H-operator rounds
      // unrolled past their fixpoint (the graph converges in 2; extra
      // rounds are provably no-ops on a fixpoint).
    {
      val rounds = (1 to 6).map { i =>
        s"""r$i AS (SELECT e.u, c${i - 1}.c FROM e JOIN c${i - 1} ON c${i - 1}.u = e.v),
           |c$i AS MATERIALIZED (
           |  SELECT u, max(least(rn, c)) AS c FROM (
           |    SELECT u, c, row_number() OVER (PARTITION BY u ORDER BY c DESC) AS rn
           |    FROM r$i)
           |  GROUP BY u)""".stripMargin
      }.mkString(",\n")
      s"""WITH raw AS (SELECT doc_id % 97 AS n FROM documents),
         |e0 AS (
         |  SELECT 'd' || lpad(CAST(n AS VARCHAR), 2, '0') || '.example' AS src,
         |         'd' || lpad(CAST((n + 1) % 97 AS VARCHAR), 2, '0') || '.example' AS dst
         |  FROM raw
         |  UNION ALL
         |  SELECT 'd' || lpad(CAST(n AS VARCHAR), 2, '0') || '.example',
         |         'd' || lpad(CAST(8 * ((n // 8 + k) % 13) AS VARCHAR), 2, '0') || '.example'
         |  FROM raw, unnest(generate_series(1, 12)) t(k) WHERE n % 8 = 0
         |  UNION ALL
         |  SELECT 'd' || lpad(CAST(n AS VARCHAR), 2, '0') || '.example',
         |         'd' || lpad(CAST((n * 5 + 11) % 97 AS VARCHAR), 2, '0') || '.example'
         |  FROM raw WHERE n % 7 = 3),
         |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |        FROM e0 WHERE src <> dst),
         |e AS MATERIALIZED (
         |  SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und),
         |c0 AS MATERIALIZED (SELECT u, count(*) AS c FROM e GROUP BY u),
         |$rounds
         |SELECT u AS domain, CAST(c AS BIGINT) AS core
         |FROM c6 ORDER BY domain""".stripMargin
    }),
    QuerySpec("crawl_triangles", (s, d) => {
      def node(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        concat(lit("d"), lpad(c.cast("string"), 2, "0"), lit(".example"))
      val n = col("doc_id") % 97
      val edges = table(s, d, "documents")
        .select(explode(array(
          struct(node(n).as("src"), node((n * 3 + 1) % 97).as("dst")),
          struct(node(n).as("src"), node((n * 7 + 2) % 97).as("dst")),
          struct(node(n).as("src"), node((n + 1) % 97).as("dst")))).as("e"))
        .select("e.src", "e.dst")
      graft.operators.LinkRank.triangles(edges).orderBy("domain")
    },
      """WITH raw AS (SELECT doc_id % 97 AS n FROM documents),
        |e0 AS (
        |  SELECT 'd' || lpad(CAST(n AS VARCHAR), 2, '0') || '.example' AS src,
        |         'd' || lpad(CAST((n*3+1) % 97 AS VARCHAR), 2, '0') || '.example' AS dst
        |  FROM raw
        |  UNION ALL
        |  SELECT 'd' || lpad(CAST(n AS VARCHAR), 2, '0') || '.example',
        |         'd' || lpad(CAST((n*7+2) % 97 AS VARCHAR), 2, '0') || '.example'
        |  FROM raw
        |  UNION ALL
        |  SELECT 'd' || lpad(CAST(n AS VARCHAR), 2, '0') || '.example',
        |         'd' || lpad(CAST((n+1) % 97 AS VARCHAR), 2, '0') || '.example'
        |  FROM raw),
        |und AS (
        |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM e0 WHERE src <> dst),
        |deg AS (
        |  SELECT v, count(*) AS dg
        |  FROM (SELECT a AS v FROM und UNION ALL SELECT b FROM und)
        |  GROUP BY v),
        |o AS (
        |  SELECT CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND a < b)
        |              THEN a ELSE b END AS u,
        |         CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND a < b)
        |              THEN b ELSE a END AS w,
        |         CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND a < b)
        |              THEN db.dg ELSE da.dg END AS dw
        |  FROM und
        |  JOIN deg da ON da.v = und.a
        |  JOIN deg db ON db.v = und.b),
        |wed AS (
        |  SELECT e1.u AS u, e1.w AS x, e2.w AS y
        |  FROM o e1 JOIN o e2 ON e1.u = e2.u
        |  WHERE e1.dw < e2.dw OR (e1.dw = e2.dw AND e1.w < e2.w)),
        |tri AS (
        |  SELECT wed.u AS u, wed.x AS x, wed.y AS y
        |  FROM wed JOIN o ON o.u = wed.x AND o.w = wed.y),
        |pn AS (
        |  SELECT v, count(*) AS n_tri
        |  FROM (SELECT u AS v FROM tri UNION ALL SELECT x FROM tri
        |        UNION ALL SELECT y FROM tri)
        |  GROUP BY v)
        |SELECT deg.v AS domain, CAST(deg.dg AS BIGINT) AS degree,
        |       CAST(coalesce(pn.n_tri, 0) AS BIGINT) AS n_tri,
        |       CAST(CASE WHEN deg.dg > 1
        |                 THEN (1000000 * 2 * coalesce(pn.n_tri, 0)) //
        |                      (deg.dg * (deg.dg - 1))
        |                 ELSE 0 END AS BIGINT) AS clustering_micro
        |FROM deg LEFT JOIN pn ON pn.v = deg.v
        |ORDER BY domain""".stripMargin),
    // Degree assortativity (Newman 2002) over the same 97-node graph:
    // exact integer moments over the symmetrized edge list, one
    // end-of-pipeline 6-dp Pearson r — the hubs-link-to-hubs number
    // whose sign flip flags a structural anomaly in a crawl segment.
    QuerySpec("crawl_assortativity", (s, d) => {
      def node(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        concat(lit("d"), lpad(c.cast("string"), 2, "0"), lit(".example"))
      val n = col("doc_id") % 97
      val edges = table(s, d, "documents")
        .select(explode(array(
          struct(node(n).as("src"), node((n * 3 + 1) % 97).as("dst")),
          struct(node(n).as("src"), node((n * 7 + 2) % 97).as("dst")),
          struct(node(n).as("src"), node((n + 1) % 97).as("dst")))).as("e"))
        .select("e.src", "e.dst")
      graft.operators.LinkRank.assortativity(edges)
    },
      // Assortativity replayed: the same canonical undirected edges,
      // symmetrized exchangeable moments in HUGEINT, one 6-dp Pearson r.
      """WITH raw AS (SELECT doc_id % 97 AS n FROM documents),
        |e0 AS (
        |  SELECT 'd' || lpad(CAST(n AS VARCHAR), 2, '0') || '.example' AS src,
        |         'd' || lpad(CAST((n*3+1) % 97 AS VARCHAR), 2, '0') || '.example' AS dst
        |  FROM raw
        |  UNION ALL
        |  SELECT 'd' || lpad(CAST(n AS VARCHAR), 2, '0') || '.example',
        |         'd' || lpad(CAST((n*7+2) % 97 AS VARCHAR), 2, '0') || '.example'
        |  FROM raw
        |  UNION ALL
        |  SELECT 'd' || lpad(CAST(n AS VARCHAR), 2, '0') || '.example',
        |         'd' || lpad(CAST((n+1) % 97 AS VARCHAR), 2, '0') || '.example'
        |  FROM raw),
        |und AS (
        |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM e0 WHERE src <> dst),
        |deg AS (
        |  SELECT v, CAST(count(*) AS BIGINT) AS dg
        |  FROM (SELECT a AS v FROM und UNION ALL SELECT b FROM und)
        |  GROUP BY v),
        |sym AS (
        |  SELECT da.dg AS dx, db.dg AS dy
        |  FROM und JOIN deg da ON da.v = und.a JOIN deg db ON db.v = und.b
        |  UNION ALL
        |  SELECT db.dg, da.dg
        |  FROM und JOIN deg da ON da.v = und.a JOIN deg db ON db.v = und.b),
        |mo AS (
        |  SELECT CAST(count(*) AS HUGEINT) AS m2,
        |         CAST(sum(CAST(dx AS HUGEINT)) AS HUGEINT) AS sx,
        |         CAST(sum(CAST(dy AS HUGEINT)) AS HUGEINT) AS sy,
        |         CAST(sum(CAST(dx AS HUGEINT) * dx) AS HUGEINT) AS sxx,
        |         CAST(sum(CAST(dy AS HUGEINT) * dy) AS HUGEINT) AS syy,
        |         CAST(sum(CAST(dx AS HUGEINT) * dy) AS HUGEINT) AS sxy
        |  FROM sym)
        |SELECT CAST(m2 // 2 AS BIGINT) AS n_edges,
        |       CASE WHEN m2 * sxx - sx * sx = 0 OR m2 * syy - sy * sy = 0
        |            THEN CAST(0 AS BIGINT)
        |            ELSE CAST(round(
        |              CAST(m2 * sxy - sx * sy AS DOUBLE) /
        |              sqrt(CAST(m2 * sxx - sx * sx AS DOUBLE) *
        |                   CAST(m2 * syy - sy * sy AS DOUBLE)) * 1000000.0, 0)
        |              AS BIGINT) END AS r_micro
        |FROM mo""".stripMargin),
    // Top co-citation pairs over the same 97-node graph — the
    // related-pages signal (Small 1973; Dean & Henzinger): domains
    // many distinct sources link to TOGETHER. One capped self-join on
    // src + one pair count; TakeOrdered(15).
    QuerySpec("crawl_cocitation", (s, d) => {
      def node(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        concat(lit("d"), lpad(c.cast("string"), 2, "0"), lit(".example"))
      val n = col("doc_id") % 97
      val edges = table(s, d, "documents")
        .select(explode(array(
          struct(node(n).as("src"), node((n * 3 + 1) % 97).as("dst")),
          struct(node(n).as("src"), node((n * 7 + 2) % 97).as("dst")),
          struct(node(n).as("src"), node((n + 1) % 97).as("dst")))).as("e"))
        .select("e.src", "e.dst")
      graft.operators.LinkRank.coCitation(edges, k = 15)
    },
      """WITH raw AS (SELECT doc_id % 97 AS n FROM documents),
        |e0 AS (
        |  SELECT 'd' || lpad(CAST(n AS VARCHAR), 2, '0') || '.example' AS src,
        |         'd' || lpad(CAST((n*3+1) % 97 AS VARCHAR), 2, '0') || '.example' AS dst
        |  FROM raw
        |  UNION ALL
        |  SELECT 'd' || lpad(CAST(n AS VARCHAR), 2, '0') || '.example',
        |         'd' || lpad(CAST((n*7+2) % 97 AS VARCHAR), 2, '0') || '.example'
        |  FROM raw
        |  UNION ALL
        |  SELECT 'd' || lpad(CAST(n AS VARCHAR), 2, '0') || '.example',
        |         'd' || lpad(CAST((n+1) % 97 AS VARCHAR), 2, '0') || '.example'
        |  FROM raw),
        |e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
        |deg AS (SELECT src, count(*) AS od FROM e GROUP BY 1),
        |c AS (SELECT e.src, e.dst FROM e JOIN deg USING (src) WHERE od <= 64)
        |SELECT a.dst AS dom_a, b.dst AS dom_b,
        |       CAST(count(*) AS BIGINT) AS n_cociting
        |FROM c a JOIN c b ON a.src = b.src AND a.dst < b.dst
        |GROUP BY 1, 2
        |ORDER BY n_cociting DESC, dom_a, dom_b LIMIT 15""".stripMargin),
    // Link reciprocity over the same 97-node graph — the
    // link-exchange discount signal beside clustering: 6 of its 286
    // directed edges are mutual, so the card separates exchange
    // participants from organic linkers. One self-join on the
    // reversed key + one aggregate.
    QuerySpec("crawl_reciprocity", (s, d) => {
      def node(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        concat(lit("d"), lpad(c.cast("string"), 2, "0"), lit(".example"))
      val n = col("doc_id") % 97
      val edges = table(s, d, "documents")
        .select(explode(array(
          struct(node(n).as("src"), node((n * 3 + 1) % 97).as("dst")),
          struct(node(n).as("src"), node((n * 7 + 2) % 97).as("dst")),
          struct(node(n).as("src"), node((n + 1) % 97).as("dst")))).as("e"))
        .select("e.src", "e.dst")
      graft.operators.LinkRank.reciprocity(edges).orderBy("domain")
    },
      """WITH raw AS (SELECT doc_id % 97 AS n FROM documents),
        |e0 AS (
        |  SELECT 'd' || lpad(CAST(n AS VARCHAR), 2, '0') || '.example' AS src,
        |         'd' || lpad(CAST((n*3+1) % 97 AS VARCHAR), 2, '0') || '.example' AS dst
        |  FROM raw
        |  UNION ALL
        |  SELECT 'd' || lpad(CAST(n AS VARCHAR), 2, '0') || '.example',
        |         'd' || lpad(CAST((n*7+2) % 97 AS VARCHAR), 2, '0') || '.example'
        |  FROM raw
        |  UNION ALL
        |  SELECT 'd' || lpad(CAST(n AS VARCHAR), 2, '0') || '.example',
        |         'd' || lpad(CAST((n+1) % 97 AS VARCHAR), 2, '0') || '.example'
        |  FROM raw),
        |e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
        |f AS (
        |  SELECT e.src, e.dst,
        |         CASE WHEN r.src IS NULL THEN 0 ELSE 1 END AS back
        |  FROM e LEFT JOIN e r ON r.src = e.dst AND r.dst = e.src)
        |SELECT src AS domain, CAST(count(*) AS BIGINT) AS out_deg,
        |       CAST(sum(back) AS BIGINT) AS n_reciprocal,
        |       CAST((1000000 * sum(back)) // count(*) AS BIGINT)
        |         AS reciprocity_micro
        |FROM f GROUP BY src ORDER BY domain""".stripMargin),
    // Mirror-host detection — hosts with IDENTICAL distinct outlink
    // sets alias to one representative before fetch budget is spent
    // (the host-level dedup every crawl does before page dedup).
    // Fixture: hosts m0..m9 whose link sets depend only on h%5, so
    // h and h+5 are exact mirrors. Only the 32-byte fingerprint
    // travels past the one per-host aggregate.
    QuerySpec("crawl_mirrors", (s, d) => {
      val h = col("doc_id") % 10
      val k = h % 5
      val src = concat(lit("m"), h.cast("string"), lit(".example"))
      val edges = table(s, d, "documents")
        .select(explode(array(
          struct(src.as("src"),
            concat(lit("asset"), k.cast("string"), lit(".cdn")).as("dst")),
          struct(src.as("src"),
            concat(lit("page"), ((k * 3 + 1) % 7).cast("string"),
              lit(".example")).as("dst")))).as("e"))
        .select("e.src", "e.dst")
      graft.operators.LinkRank.mirrorGroups(edges)
        .orderBy("group_rep", "host")
    },
      """WITH raw AS (
        |  SELECT doc_id % 10 AS h, (doc_id % 10) % 5 AS k FROM documents),
        |e0 AS (
        |  SELECT 'm' || CAST(h AS VARCHAR) || '.example' AS src,
        |         'asset' || CAST(k AS VARCHAR) || '.cdn' AS dst FROM raw
        |  UNION ALL
        |  SELECT 'm' || CAST(h AS VARCHAR) || '.example',
        |         'page' || CAST((k*3+1) % 7 AS VARCHAR) || '.example' FROM raw),
        |e AS (SELECT DISTINCT src, dst FROM e0),
        |fp AS (
        |  SELECT src, md5(string_agg(dst, chr(1) ORDER BY dst)) AS fpv,
        |         count(*) AS n_links
        |  FROM e GROUP BY src),
        |g AS (
        |  SELECT fpv, count(*) AS n_hosts, min(src) AS group_rep
        |  FROM fp GROUP BY fpv)
        |SELECT fp.src AS host, g.group_rep,
        |       CAST(g.n_hosts AS BIGINT) AS n_hosts,
        |       CAST(fp.n_links AS BIGINT) AS n_links
        |FROM fp JOIN g USING (fpv)
        |WHERE g.n_hosts >= 2
        |ORDER BY group_rep, host""".stripMargin),
    // Anchor-text aggregation — the link graph's EDGE LABELS: inbound
    // anchor text is the classic third-party description of the
    // TARGET (the signal early web search weighted above on-page
    // words). Extraction handles entity-encoded text, markup nested
    // inside the anchor, and named anchors; hrefs resolve against the
    // page URL and group by the target's registrable domain. Shape:
    // scan-local extract+resolve flatMap, one (domain) hash aggregate
    // — anchor strings shuffle, pages never do.
    QuerySpec("crawl_anchor_text", (s, d) => {
      import s.implicits._
      table(s, d, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id").cast("long"))
        .as[Long]
        .flatMap { id =>
          val h = id % 10
          val q = id % 4
          val tld = if (h % 3 == 0) "co.uk" else "com"
          val pageUrl = s"https://www.site$h.$tld/d${id % 7}/page"
          val html =
            s"""<html><body>
               |<a href="https://partner$q.example/x">review $q &amp; deals</a>
               |<a href="/about"><b>about</b> site$h</a>
               |<a href="//cdn.site$h.com/asset">cdn $h</a>
               |<a name="top">not a link</a>
               |</body></html>""".stripMargin
          graft.operators.HtmlExtract.anchors(html).flatMap {
            case (href, text) =>
              graft.operators.UrlOps.resolve(pageUrl, href)
                .flatMap(graft.operators.UrlOps.parse)
                .map(u => (graft.operators.UrlOps.registeredDomain(u.host),
                  text))
          }
        }
        .toDF("dst_domain", "anchor")
        .groupBy("dst_domain")
        .agg(count(lit(1)).as("n_anchors"),
          countDistinct(col("anchor")).as("n_texts"),
          min(col("anchor")).as("top_text"))
        .orderBy("dst_domain")
    },
      // Anchor rows re-derived from the residues: entity decoding
      // ("&amp;" -> "&"), nested-markup stripping, URL resolution, and
      // registrable-domain grouping all replayed arithmetically.
      """WITH src AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id
        |  FROM documents WHERE text IS NOT NULL),
        |r AS (
        |  SELECT id % 10 AS h, id % 4 AS q,
        |         CASE WHEN (id % 10) % 3 = 0 THEN 'co.uk' ELSE 'com' END AS tld
        |  FROM src),
        |a AS (
        |  SELECT 'partner' || q || '.example' AS dst_domain,
        |         'review ' || q || ' & deals' AS anchor FROM r
        |  UNION ALL
        |  SELECT 'site' || h || '.' || tld, 'about site' || h FROM r
        |  UNION ALL
        |  SELECT 'site' || h || '.com', 'cdn ' || h FROM r)
        |SELECT dst_domain, CAST(count(*) AS BIGINT) AS n_anchors,
        |       CAST(count(DISTINCT anchor) AS BIGINT) AS n_texts,
        |       min(anchor) AS top_text
        |FROM a GROUP BY 1 ORDER BY 1""".stripMargin),
    // Crawl depth — BFS layers from a seed set over the directed
    // domain graph (min-plus frontier iteration, integral depths):
    // the "seeds + N hops" scope cut and the Frontier's scheduling
    // prior. Unreached domains are absent, which IS the scope
    // decision. The oracle replays each wave as a chained CTE.
    QuerySpec("crawl_depth", (s, d) => {
      import s.implicits._
      val edges = table(s, d, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id").cast("long"))
        .as[Long]
        .flatMap { id =>
          val h = id % 10
          val q = id % 4
          val tld = if (h % 3 == 0) "co.uk" else "com"
          val src = s"site$h.$tld"
          Seq((src, s"partner$q.example"), (src, s"site$h.com"), (src, src))
        }
        .toDF("src", "dst")
      val seeds = Seq("site0.co.uk", "site3.co.uk").toDF("domain")
      graft.operators.LinkRank.bfsDepth(edges, seeds, maxDepth = 3)
        .orderBy("domain")
    },
      // Same edge CTEs, then 3 BFS waves from the two seeds — frontier
      // join, reached-set exclusion, integral depths.
      bfsOracle(3)),
    // hreflang translation clusters — the page's SELF-DECLARED
    // language variants (<link rel=alternate hreflang>): free
    // aligned-document candidates, extracted (entity decoding,
    // relative hrefs), resolved against the fetch URL, one row per
    // (page, lang). Bitext mining then SCORES what sites declare.
    // Meta-robots gate — the in-document half of the robots protocol
    // (robots.txt is the other): page-level noindex/nofollow/
    // noarchive (incl the `none` equivalence and a COMMENTED-OUT meta
    // that must stay invisible) + link-level rel=nofollow counts.
    // Five planted variants per id stride; arithmetic oracle.
    QuerySpec("crawl_meta_robots", (s, d) => {
      import s.implicits._
      table(s, d, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id").cast("long"))
        .as[Long]
        .map { id =>
          val meta = (id % 5) match {
            case 1 => """<meta name="robots" content="noindex, follow">"""
            case 2 => """<meta NAME="ROBOTS" CONTENT="NOFOLLOW,noarchive">"""
            case 3 => """<meta name="robots" content="none">"""
            case 4 => """<!-- <meta name="robots" content="noindex"> -->"""
            case _ => """<meta name="description" content="noindex">"""
          }
          val nf = (id % 3).toInt
          val links = (1 to nf).map(k =>
            s"""<a href="/l$k" rel="nofollow">x</a>""").mkString +
            """<a href="/plain">y</a>"""
          val html =
            s"<html><head>$meta<title>t</title></head><body>$links</body></html>"
          val r = graft.operators.HtmlExtract.metaRobots(html)
          (id, r.noindex, r.nofollow, r.noarchive, r.nofollowLinks.toLong)
        }
        .toDF("id", "noindex", "nofollow", "noarchive", "nofollow_links")
        .orderBy("id")
    },
      // One row per declared variant, entity decoding and resolution
      // replayed arithmetically (fr only on even ids).
      // Planted robots-gate truth by id arithmetic: variant 1 noindex,
      // 2 nofollow+noarchive, 3 none (= noindex+nofollow), 4 a
      // commented-out meta (all false), 0 a non-robots meta (all
      // false); nofollow links = id % 3.
      """SELECT doc_id AS id,
        |       (doc_id % 5 = 1 OR doc_id % 5 = 3) AS noindex,
        |       (doc_id % 5 = 2 OR doc_id % 5 = 3) AS nofollow,
        |       (doc_id % 5 = 2) AS noarchive,
        |       CAST(doc_id % 3 AS BIGINT) AS nofollow_links
        |FROM documents WHERE text IS NOT NULL ORDER BY id""".stripMargin),
    QuerySpec("crawl_hreflang", (s, d) => {
      import s.implicits._
      table(s, d, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id").cast("long"))
        .as[Long]
        .flatMap { id =>
          val h = id % 10
          val p = id % 7
          val pageUrl = s"https://www.site$h.com/en/p$p"
          val langs = Seq("en", "de") ++ (if (id % 2 == 0) Seq("fr") else Nil)
          val links = langs.map(l =>
            s"""<link rel="alternate" hreflang="$l" href="/$l/p$p?x=1&amp;y=2">""")
            .mkString("\n")
          val html = s"<html><head>$links" +
            "<link rel=\"stylesheet\" href=\"/css\"></head><body>b</body></html>"
          graft.operators.HtmlExtract.hreflangs(html).flatMap {
            case (lang, href) =>
              graft.operators.UrlOps.resolve(pageUrl, href)
                .map(u => (id, lang, u))
          }
        }
        .toDF("id", "lang", "url")
        .orderBy("id", "lang")
    },
      """WITH src AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id
        |  FROM documents WHERE text IS NOT NULL),
        |v AS (
        |  SELECT id, l.lang
        |  FROM src, (VALUES ('en'), ('de'), ('fr')) l(lang)
        |  WHERE l.lang != 'fr' OR id % 2 = 0)
        |SELECT id, lang,
        |       'https://www.site' || (id % 10) || '.com/' || lang ||
        |         '/p' || (id % 7) || '?x=1&y=2' AS url
        |FROM v ORDER BY id, lang""".stripMargin),
    // Code-switch segmentation: per-8-token-block language id (the
    // lang_id marker heuristic) with same-language runs collapsed —
    // the fixture appends a German and a French marker run to every
    // document, so each one ends in real language switches whatever
    // its body predicts. Same block/boundary/window mechanics as
    // text_tiling; integer hits, deterministic tie order.
    QuerySpec("lang_segments", (s, d) => {
      val fixed = table(s, d, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"),
          concat(col("text"), lit(" der die das und der die das und" +
            " le la les et le la les et")).as("text"))
      TextAnalysis.languageSegments(fixed, "doc_id", "text")
        .orderBy("id", "seg_id")
    },
      // Per-block marker counts + the same CASE + the same run collapse.
      """WITH toks AS (
        |  SELECT doc_id AS id,
        |         string_split(text || ' der die das und der die das und' ||
        |           ' le la les et le la les et', ' ') AS t
        |  FROM documents WHERE text IS NOT NULL),
        |tk AS (SELECT id, t, CAST(ceil(len(t) / 8.0) AS INT) AS nb FROM toks),
        |blocks AS (
        |  SELECT id, b - 1 AS block_idx, t[(b-1)*8 + 1 : (b-1)*8 + 8] AS blk
        |  FROM tk, unnest(generate_series(1, nb)) g(b)),
        |sc AS (
        |  SELECT id, block_idx,
        |    len(list_filter(blk, x -> x IN ('the','a','and','of'))) AS en,
        |    len(list_filter(blk, x -> x IN ('der','die','das','und'))) AS de,
        |    len(list_filter(blk, x -> x IN ('le','la','les','et'))) AS fr,
        |    len(list_filter(blk, x -> x IN ('el','los','las','y'))) AS es
        |  FROM blocks),
        |pred AS (
        |  SELECT id, block_idx,
        |         CASE WHEN en >= de AND en >= fr AND en >= es THEN 'en'
        |              WHEN de >= fr AND de >= es THEN 'de'
        |              WHEN fr >= es THEN 'fr' ELSE 'es' END AS lang
        |  FROM sc),
        |fl AS (
        |  SELECT *, CASE WHEN lag(lang) OVER w IS NULL
        |                   OR lag(lang) OVER w != lang THEN 1 ELSE 0 END
        |            AS boundary
        |  FROM pred WINDOW w AS (PARTITION BY id ORDER BY block_idx)),
        |seg AS (
        |  SELECT *, sum(boundary) OVER
        |    (PARTITION BY id ORDER BY block_idx) - 1 AS seg_id FROM fl)
        |SELECT id, CAST(seg_id AS BIGINT) AS seg_id, min(lang) AS lang,
        |       CAST(min(block_idx) AS BIGINT) AS first_block,
        |       count(*) AS n_blocks
        |FROM seg GROUP BY id, seg_id ORDER BY id, seg_id""".stripMargin),
    // Change-rate recrawl schedule — the freshness half of frontier
    // policy: pages stable for r consecutive fetches back off to
    // base·2^r seconds (capped); each document contributes a 6-fetch
    // history whose fingerprint stops changing at fetch id%6. All
    // integral; the oracle replays the backoff arithmetic.
    QuerySpec("crawl_recrawl", (s, d) => {
      val fetches = table(s, d, "documents")
        .select(col("doc_id"))
        .withColumn("fetch_idx", explode(sequence(lit(0L), lit(5L))))
        .withColumn("fp", concat(lit("f"),
          least(col("fetch_idx"), col("doc_id") % 6)))
        .withColumn("fetch_s", lit(1700000000L) + col("doc_id"))
      Frontier.recrawlSchedule(fetches, "doc_id", "fetch_idx", "fp",
        "fetch_s").orderBy("page")
    },
      // Backoff replayed: stable_run = 5 - (id%6), interval = 3600·2^run
      // (all under the 7-day cap on this fixture).
      """SELECT doc_id AS page, CAST(6 AS BIGINT) AS n_fetches,
        |       CAST(doc_id % 6 AS BIGINT) AS last_change_idx,
        |       CAST(5 - doc_id % 6 AS BIGINT) AS stable_run,
        |       CAST(3600 * (2 ** (5 - doc_id % 6)) AS BIGINT) AS interval_s,
        |       CAST(1700000000 + doc_id +
        |            3600 * (2 ** (5 - doc_id % 6)) AS BIGINT) AS next_fetch_s
        |FROM documents ORDER BY page""".stripMargin),
    // Homoglyph spoof-domain card — UTS #39-style skeletons: Cyrillic
    // а and digit-1 variants of falcon<h>.example must flag as spoofs
    // of the legit domain (which itself stays clean). One scan-local
    // skeleton map + one equality self-join on the skeleton key.
    QuerySpec("crawl_spoof_domains", (s, d) => {
      import s.implicits._
      val domains = table(s, d, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id").cast("long"))
        .as[Long]
        .map { id =>
          // letter suffix, not a digit: the skeleton's classic
          // digit substitutions ('0'->'o','1'->'l') are PART of the
          // transform, so legit fixture names must not carry digits.
          // id%3 is coprime with the id%10 residue, so every suffix
          // sees all three variants (id%5 would be constant — gcd trap)
          val suffix = ('a' + (id % 10)).toChar
          (id % 3) match {
            case 0 => s"fаlcon$suffix.example" // Cyrillic а
            case 1 => s"fa1con$suffix.example"      // digit 1 for l
            case _ => s"falcon$suffix.example"
          }
        }
        .toDF("domain")
      Homoglyph.spoofCandidates(domains, "domain").orderBy("domain")
    },
      // Spoof card replayed: the three domain variants per h, with the
      // two confusable classes flagged (their skeleton IS the legit
      // domain, which exists for every h) and the legit domain clean.
      """WITH src AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id
        |  FROM documents WHERE text IS NOT NULL),
        |d AS (
        |  SELECT DISTINCT
        |         CASE id % 3
        |           WHEN 0 THEN 'fаlcon' || chr(97 + CAST(id % 10 AS INT)) || '.example'
        |           WHEN 1 THEN 'fa1con' || chr(97 + CAST(id % 10 AS INT)) || '.example'
        |           ELSE 'falcon' || chr(97 + CAST(id % 10 AS INT)) || '.example' END AS domain,
        |         CASE WHEN id % 3 <= 1 THEN true ELSE false END AS spoofed,
        |         chr(97 + CAST(id % 10 AS INT)) AS sfx
        |  FROM src)
        |SELECT domain,
        |       CASE WHEN spoofed THEN 'falcon' || sfx || '.example'
        |            ELSE domain END AS skeleton,
        |       spoofed AS is_spoof
        |FROM d ORDER BY domain""".stripMargin),
    // Crawler-trap detection — URL-space amplification per host:
    // URLs collapse to templates (digit runs → N, ≥8-char hex runs →
    // H, query values dropped), and a host whose distinct URLs vastly
    // outnumber its templates is GENERATING them (calendar, session
    // id, tracking-param traps — all three built in-plan, next to
    // honest article pages that stay under the threshold). Feeds
    // Frontier as a per-host budget cap. The oracle replays every
    // count arithmetically.
    QuerySpec("crawl_trap_scores", (s, d) => {
      import s.implicits._
      val urls = table(s, d, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id").cast("long"))
        .as[Long]
        .map { id =>
          (id % 10) match {
            case 0 => s"https://cal.example/events/${2000 + id % 20}/" +
              s"${1 + id % 12}/${1 + id % 28}"
            case 1 => s"https://shop.example/s/" +
              f"${(id * 2654435761L) % 4294967296L}%08x/item"
            case 2 => s"https://track.example/p?page=${id % 9}" +
              s"&session=${id * 31 + 7}"
            // (id div 10) % 5 varies WITHIN a host (id % 5 would be
            // constant per h — the gcd trap): each honest host gets
            // ~5 distinct articles collapsing to one template, the
            // under-threshold control case
            case h => s"https://site$h.example/article/${(id / 10) % 5}"
          }
        }
        .toDF("url")
      graft.operators.CrawlTraps.trapScores(urls, "url").orderBy("host")
    },
      // Trap scores replayed: every host class collapses to ONE
      // template by construction, so n_urls (distinct replay of the
      // varying parts) IS the amplification; article hosts sit at 5.
      """WITH src AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id
        |  FROM documents WHERE text IS NOT NULL),
        |cal AS (
        |  SELECT 'cal.example' AS host,
        |         count(DISTINCT (2000 + id % 20) || '/' || (1 + id % 12) ||
        |               '/' || (1 + id % 28)) AS n_urls
        |  FROM src WHERE id % 10 = 0),
        |ses AS (
        |  SELECT 'shop.example' AS host, count(DISTINCT id) AS n_urls
        |  FROM src WHERE id % 10 = 1),
        |trk AS (
        |  SELECT 'track.example' AS host, count(DISTINCT id) AS n_urls
        |  FROM src WHERE id % 10 = 2),
        |art AS (
        |  SELECT 'site' || (id % 10) || '.example' AS host,
        |         count(DISTINCT (id // 10) % 5) AS n_urls
        |  FROM src WHERE id % 10 >= 3 GROUP BY 1),
        |allh AS (
        |  SELECT * FROM cal UNION ALL SELECT * FROM ses
        |  UNION ALL SELECT * FROM trk UNION ALL SELECT * FROM art)
        |SELECT host, CAST(n_urls AS BIGINT) AS n_urls,
        |       CAST(1 AS BIGINT) AS n_templates,
        |       CAST(n_urls AS BIGINT) AS amplification,
        |       n_urls >= 8 AS is_trap
        |FROM allh ORDER BY host""".stripMargin),
    // Canonical-link dedup — the page's SELF-DECLARED dedup key:
    // in-plan pages carry <link rel="canonical" href="/item..">
    // (relative, as real sites emit); the pipeline extracts it
    // (HtmlExtract.canonical), resolves it against the fetch URL
    // (UrlOps.resolve), normalizes, and collapses fetch variants.
    // Pages without a canonical fall back to their normalized fetch
    // URL. The oracle re-derives every key arithmetically.
    QuerySpec("crawl_canonical_dedup", (s, d) => {
      import s.implicits._
      table(s, d, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id").cast("long"))
        .as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val g = id % 120
            val v = (id / 120) % 4
            val url = s"https://www.page${g % 10}.com/v$v/item$g"
            val canonTag =
              if (id % 5 == 0) ""
              else s"""<link rel="canonical" href="/item$g">"""
            val html = s"<html><head><title>T</title>$canonTag</head>" +
              s"<body>body $id</body></html>"
            val e = graft.operators.HtmlExtract.extract(html)
            val key =
              if (e.canonical.nonEmpty)
                graft.operators.UrlOps.resolve(url, e.canonical)
                  .flatMap(graft.operators.UrlOps.normalize)
                  .getOrElse(url)
              else graft.operators.UrlOps.normalize(url).getOrElse(url)
            (id, url, key)
          }
        }
        .toDF("id", "url", "key")
        .groupBy("key")
        .agg(count(lit(1)).as("n_fetches"),
          countDistinct(col("url")).as("n_urls"),
          min(col("id")).as("keep_id"))
        .orderBy("key")
    },
      // Canonical keys re-derived arithmetically: with canonical ->
      // resolved /item<g>; without (id % 5 = 0) -> the normalized fetch
      // URL (already in normal form by construction).
      """WITH src AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id FROM documents
        |  WHERE text IS NOT NULL),
        |k AS (
        |  SELECT id,
        |         'https://www.page' || (id % 120) % 10 || '.com/v' ||
        |           (id // 120) % 4 || '/item' || id % 120 AS url,
        |         CASE WHEN id % 5 = 0 THEN
        |           'https://www.page' || (id % 120) % 10 || '.com/v' ||
        |             (id // 120) % 4 || '/item' || id % 120
        |         ELSE
        |           'https://www.page' || (id % 120) % 10 || '.com/item' ||
        |             id % 120 END AS key
        |  FROM src)
        |SELECT key, CAST(count(*) AS BIGINT) AS n_fetches,
        |       CAST(count(DISTINCT url) AS BIGINT) AS n_urls,
        |       min(id) AS keep_id
        |FROM k GROUP BY key ORDER BY key""".stripMargin),
    // HITS hubs & authorities over the same domain graph — the
    // complementary ranking signal (authorities weight sources, hubs
    // seed discovery). Unnormalized integer iterations: the L2
    // normalization is a positive scalar, so the RANKING — all
    // curation consumes — is identical, and Long sums stay bitwise
    // deterministic under any partitioning.
    QuerySpec("crawl_hits", (s, d) => {
      import s.implicits._
      val edges = table(s, d, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id").cast("long"))
        .as[Long]
        .flatMap { id =>
          val h = id % 10
          val q = id % 4
          val tld = if (h % 3 == 0) "co.uk" else "com"
          val src = s"site$h.$tld"
          Seq((src, s"partner$q.example"), (src, s"site$h.com"), (src, src))
        }
        .toDF("src", "dst")
      graft.operators.LinkRank.hits(edges, iters = 4)
        .orderBy("domain")
    },
      // Same edge CTEs, then 4 unnormalized integer HITS rounds: auth
      // from current hubs, hub from the NEW auths — both engines run
      // the identical Long recurrence.
      hitsOracle(4)),
    // Frontier scheduling — the crawl control plane's LAST stage:
    // per-host top-k candidates by (priority DESC, id ASC) via the
    // bounded topk_by_score aggregate (k pairs per host ride the
    // shuffle, never the viral host's millions), slot s fetched at
    // s·crawl_delay. Politeness makes per-host grouping inherent;
    // the oracle re-derives the schedule with a window (fine at
    // oracle scale; the aggregate is the 100 TB shape).
    QuerySpec("crawl_frontier", (s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      val cand = table(s, d, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id").cast("long"))
        .as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val h = id % 7
            (s"site$h.com", id, (id / 7) % 10, 1000L * (1 + h % 3))
          }
        }
        .toDF("host", "url_id", "priority", "delay_ms")
      graft.operators.Frontier.schedule(cand, k = 5)
        .withColumn("url",
          concat(lit("https://"), col("host"), lit("/p"), col("url_id")))
        .select("host", "slot", "url_id", "url", "priority", "fetch_at_ms")
        .orderBy("host", "slot")
    },
      // The schedule re-derived with a window (fine at oracle scale —
      // the engine side uses the bounded aggregate): per-host
      // row_number over (priority DESC, url_id), kept ≤ 5, slot·delay.
      """WITH src AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (
        |  SELECT 'site' || (id % 7) || '.com' AS host, id AS url_id,
        |         (id // 7) % 10 AS priority,
        |         1000 * (1 + (id % 7) % 3) AS delay_ms
        |  FROM src),
        |r AS (
        |  SELECT host, url_id, priority, delay_ms,
        |         row_number() OVER (
        |           PARTITION BY host
        |           ORDER BY priority DESC, url_id) AS rn
        |  FROM c)
        |SELECT host, CAST(rn - 1 AS BIGINT) AS slot, url_id,
        |       'https://' || host || '/p' || url_id AS url,
        |       CAST(priority AS BIGINT) AS priority,
        |       CAST((rn - 1) * delay_ms AS BIGINT) AS fetch_at_ms
        |FROM r WHERE rn <= 5 ORDER BY host, slot""".stripMargin)
  )
}
