package graft.api

import graft.operators.StoreConfig

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

/**
 * Minimal recursive-descent JSON reader — just enough for the search
 * request body, with no external dependency (the build is intentionally
 * dependency-free). Objects → `Map[String, Any]` (insertion-ordered),
 * arrays → `Vector[Any]`, numbers → `java.lang.Double`, strings →
 * `String`, literals → `java.lang.Boolean` / `null`. Throws
 * `IllegalArgumentException` on malformed input (mapped to 400 by the
 * transport, mirroring Flask's `request.get_json()` behavior).
 */
private[api] object JsonParse {
  def parse(s: String): Any = {
    val p = new Parser(s)
    val v = p.parseValue()
    p.skipWs()
    if (!p.eof) throw new IllegalArgumentException(s"trailing characters at ${p.pos}")
    v
  }

  private final class Parser(s: String) {
    var pos = 0
    def eof: Boolean = pos >= s.length
    private def peek: Char = s.charAt(pos)
    private def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"$msg at offset $pos")

    def skipWs(): Unit =
      while (!eof && (peek == ' ' || peek == '\n' || peek == '\r' || peek == '\t')) pos += 1

    private def expect(c: Char): Unit = {
      if (eof || peek != c) fail(s"expected '$c'")
      pos += 1
    }

    def parseValue(): Any = {
      skipWs()
      if (eof) fail("unexpected end of input")
      peek match {
        case '{' => parseObject()
        case '[' => parseArray()
        case '"' => parseString()
        case 't' => literal("true", java.lang.Boolean.TRUE)
        case 'f' => literal("false", java.lang.Boolean.FALSE)
        case 'n' => literal("null", null)
        case _   => parseNumber()
      }
    }

    private def literal(word: String, v: Any): Any = {
      if (!s.startsWith(word, pos)) fail("bad literal")
      pos += word.length
      v
    }

    private def parseObject(): Map[String, Any] = {
      expect('{')
      skipWs()
      val b = scala.collection.mutable.LinkedHashMap.empty[String, Any]
      if (!eof && peek == '}') { pos += 1; return b.toMap }
      while (true) {
        skipWs()
        val k = parseString()
        skipWs()
        expect(':')
        b(k) = parseValue()
        skipWs()
        if (eof) fail("unterminated object")
        if (peek == ',') pos += 1 else { expect('}'); return b.toMap }
      }
      b.toMap // unreachable
    }

    private def parseArray(): Vector[Any] = {
      expect('[')
      skipWs()
      val b = Vector.newBuilder[Any]
      if (!eof && peek == ']') { pos += 1; return b.result() }
      while (true) {
        b += parseValue()
        skipWs()
        if (eof) fail("unterminated array")
        if (peek == ',') pos += 1 else { expect(']'); return b.result() }
      }
      b.result() // unreachable
    }

    private def parseString(): String = {
      expect('"')
      val sb = new java.lang.StringBuilder
      while (true) {
        if (eof) fail("unterminated string")
        val c = peek
        pos += 1
        c match {
          case '"' => return sb.toString
          case '\\' =>
            if (eof) fail("unterminated escape")
            val e = peek
            pos += 1
            e match {
              case '"'  => sb.append('"')
              case '\\' => sb.append('\\')
              case '/'  => sb.append('/')
              case 'b'  => sb.append('\b')
              case 'f'  => sb.append('\f')
              case 'n'  => sb.append('\n')
              case 'r'  => sb.append('\r')
              case 't'  => sb.append('\t')
              case 'u' =>
                if (pos + 4 > s.length) fail("truncated \\u escape")
                sb.append(Integer.parseInt(s.substring(pos, pos + 4), 16).toChar)
                pos += 4
              case other => fail(s"bad escape '\\$other'")
            }
          case other => sb.append(other)
        }
      }
      sb.toString // unreachable
    }

    private def parseNumber(): java.lang.Double = {
      val start = pos
      while (!eof && ("+-0123456789.eE".indexOf(peek) >= 0)) pos += 1
      if (pos == start) fail("unexpected character")
      try java.lang.Double.valueOf(s.substring(start, pos))
      catch { case _: NumberFormatException => fail("malformed number") }
    }
  }
}

/**
 * HTTP transport for [[SearchService]] — the reference's Flask routes
 * (/root/reference/app.py:267-405) on the JDK's built-in
 * `com.sun.net.httpserver.HttpServer`, so the engine is reachable over
 * HTTP with zero added dependencies:
 *
 *  - `GET  /`       — interactive search page ([[SearchHttpServer.IndexHtml]]):
 *                     original markup/script with the reference UI's
 *                     observable behavior (embedding/query mode toggle,
 *                     k + top-size inputs, POST /search, ranked table
 *                     with 4-decimal scores, µs/ms timing, error panel)
 *  - `GET  /health` — `{"status": "ok"}` when the service's constant
 *                     query probe passes (app.py:273-278), 503 otherwise
 *  - `POST /search` — full request/validation/response contract
 *                     (app.py:281-390); validation errors carry the
 *                     reference's status codes (400/500/501/502) with
 *                     `{"error": message}` bodies
 *  - `GET  /config` — the reference's config echo fields
 *                     (app.py:393-405); the YDB host/port/database
 *                     connection fields have no Spark analogue and are
 *                     deliberately omitted
 *
 * `port = 0` binds an ephemeral port; `start()` returns the bound port.
 */
final class SearchHttpServer(
    service: SearchService,
    cfg: StoreConfig,
    bindHost: String = "127.0.0.1",
    port: Int = 0) {

  import JsonUtil.quote

  private val server = com.sun.net.httpserver.HttpServer.create(
    new InetSocketAddress(bindHost, port), 0)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
  server.setExecutor(pool)
  server.createContext("/", exchange(handleRoot))
  server.createContext("/health", exchange(handleHealth))
  server.createContext("/search", exchange(handleSearch))
  server.createContext("/config", exchange(handleConfig))

  def start(): Int = {
    server.start()
    server.getAddress.getPort
  }

  /** Stops the listener, then the request pool: its threads are not
    * daemons, so a pool left running keeps the JVM alive. */
  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
  }

  // ------------------------------------------------------------- routes

  private case class Reply(status: Int, body: String,
      contentType: String = "application/json")

  private def exchange(f: com.sun.net.httpserver.HttpExchange => Reply)
      : com.sun.net.httpserver.HttpHandler =
    (ex: com.sun.net.httpserver.HttpExchange) => {
      val reply =
        try f(ex)
        catch {
          // anything unhandled → 500, the reference's catch-all
          // (app.py:388-390)
          case e: Exception => Reply(500,
            s"""{"error": ${quote(Option(e.getMessage).getOrElse(e.getClass.getSimpleName))}}""")
        }
      val bytes = reply.body.getBytes(UTF_8)
      ex.getResponseHeaders.set("Content-Type", reply.contentType)
      ex.sendResponseHeaders(reply.status, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
      ex.close()
    }

  private def handleRoot(ex: com.sun.net.httpserver.HttpExchange): Reply =
    if (ex.getRequestURI.getPath == "/")
      Reply(200, SearchHttpServer.IndexHtml, contentType = "text/html")
    else Reply(404, """{"error": "not found"}""")

  private def handleHealth(ex: com.sun.net.httpserver.HttpExchange): Reply =
    if (service.health()) Reply(200, """{"status": "ok"}""")
    else Reply(503, """{"status": "error"}""")

  private def handleConfig(ex: com.sun.net.httpserver.HttpExchange): Reply =
    Reply(200,
      s"""{"table": ${quote(cfg.tableName)}, "search_strategy": ${quote(cfg.strategy.name)}, """ +
        s""""index_enabled": ${cfg.indexEnabled}, "vector_pass_as_bytes": ${cfg.passAsBytes}}""")

  private def handleSearch(ex: com.sun.net.httpserver.HttpExchange): Reply = {
    if (ex.getRequestMethod != "POST")
      return Reply(405, """{"error": "method not allowed"}""")
    val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
    parseRequest(body) match {
      case Left(badRequest) => badRequest
      case Right(req) =>
        service.search(req) match {
          case Left(err)   => Reply(err.status, s"""{"error": ${quote(err.message)}}""")
          case Right(resp) => Reply(200, renderResponse(resp))
        }
    }
  }

  // ------------------------------------------------- request/response

  /** Body → [[SearchRequest]], with the route-level type checks the
    * reference performs before delegating (app.py:315-375): empty body,
    * non-list embedding, non-string query, non-integer k / top size.
    * Semantic validation (exactly-one-of, positivity, 501/502) lives in
    * [[SearchService]]. */
  private def parseRequest(body: String): Either[Reply, SearchRequest] = {
    def bad(msg: String): Left[Reply, SearchRequest] =
      Left(Reply(400, s"""{"error": ${quote(msg)}}"""))
    val parsed =
      try JsonParse.parse(body)
      catch { case _: IllegalArgumentException | _: StringIndexOutOfBoundsException =>
        return bad("Request body is required") }
    parsed match {
      case data: Map[_, _] if data.nonEmpty =>
        val obj = data.asInstanceOf[Map[String, Any]]
        val embedding: Option[Seq[Float]] = obj.get("embedding") match {
          case None => None
          // a number beyond float32 range would silently become Infinity
          case Some(xs: Vector[_]) if xs.forall {
              case d: java.lang.Double => !d.floatValue().isInfinite
              case _ => false } =>
            Some(xs.map(_.asInstanceOf[java.lang.Double].floatValue()))
          case Some(_) => return bad("embedding must be a list of floats")
        }
        val query: Option[String] = obj.get("query") match {
          case None            => None
          case Some(q: String) => Some(q)
          case Some(_)         => return bad("query must be a non-empty string")
        }
        def intField(name: String): Either[Reply, Option[Int]] = obj.get(name) match {
          case None => Right(None)
          case Some(d: java.lang.Double)
              if d.doubleValue().isWhole && d.doubleValue().abs <= Int.MaxValue =>
            Right(Some(d.intValue()))
          case Some(_) =>
            Left(Reply(400, s"""{"error": ${quote(s"$name must be a positive integer")}}"""))
        }
        val filter: Map[String, String] = obj.get("filter") match {
          case None | Some(null) => Map.empty
          case Some(m: Map[_, _])
              if m.values.forall(_.isInstanceOf[String]) =>
            m.asInstanceOf[Map[String, String]]
          case Some(_) => return bad("filter must be an object of string values")
        }
        for {
          k <- intField("k")
          topSize <- intField("index_tree_search_top_size")
        } yield SearchRequest(embedding, query, k, topSize, filter)
      case _ => bad("Request body is required") // {} / non-object, app.py:321-323
    }
  }

  private def renderResponse(resp: SearchResponse): String = {
    def jstr(s: String): String = if (s == null) "null" else quote(s)
    // JSON has no NaN or Infinity: a non-finite score renders as null
    def jnum(d: Option[Double]): String = d.filter(_.isFinite).map(_.toString).getOrElse("null")
    val hits = resp.results.map { h =>
      s"""{"id": ${jstr(h.id)}, "title": ${jstr(h.title)}, "vendor": ${jstr(h.vendor)}, """ +
        s""""description": ${jstr(h.description)}, "score": ${jnum(h.score)}}"""
    }.mkString("[", ", ", "]")
    s"""{"results": $hits, "count": ${resp.count}, "search_time_ms": ${resp.searchTimeMs}}"""
  }
}

/**
 * The interactive search page served at `GET /` — original markup and
 * script with the same OBSERVABLE behavior as the reference UI
 * (/root/reference/templates/index.html: an embedding-JSON vs text-query
 * mode toggle, k and index_tree_search_top_size inputs, a fetch POST to
 * /search, a ranked results table with 4-decimal scores, a µs/ms search
 * time, a result count, and a text-safe error panel). Self-contained:
 * no external assets, so the page works wherever the engine runs.
 */
private object SearchHttpServer {
  val IndexHtml: String =
    """<!doctype html>
      |<html lang="en">
      |<head>
      |<meta charset="utf-8">
      |<title>graft vector search</title>
      |<style>
      |  body { font-family: system-ui, sans-serif; margin: 2rem auto; max-width: 56rem; color: #222; }
      |  fieldset { border: 1px solid #bbb; border-radius: 6px; margin-bottom: 1rem; }
      |  label { display: block; margin: .5rem 0 .15rem; font-weight: 600; }
      |  textarea, input[type=text], input[type=number] { width: 100%; box-sizing: border-box;
      |    font-family: ui-monospace, monospace; padding: .4rem; }
      |  .row { display: flex; gap: 1rem; } .row > div { flex: 1; }
      |  button { margin-top: .75rem; padding: .5rem 1.5rem; font-size: 1rem; cursor: pointer; }
      |  table { border-collapse: collapse; width: 100%; margin-top: 1rem; }
      |  th, td { border: 1px solid #ccc; padding: .35rem .5rem; text-align: left; vertical-align: top; }
      |  th { background: #f2f2f2; }
      |  #status { margin-top: .75rem; color: #555; }
      |  #error { margin-top: .75rem; color: #a00; font-weight: 600; white-space: pre-wrap; }
      |  .hidden { display: none; }
      |</style>
      |</head>
      |<body>
      |<h1>graft vector search</h1>
      |<form id="f">
      |  <fieldset>
      |    <legend>input mode</legend>
      |    <label><input type="radio" name="mode" value="embedding" checked> embedding (JSON array of floats)</label>
      |    <label><input type="radio" name="mode" value="query"> text query (server-side embedder)</label>
      |    <div id="embBox">
      |      <label for="emb">embedding</label>
      |      <textarea id="emb" rows="4" placeholder="[0.12, -0.5, ...]"></textarea>
      |    </div>
      |    <div id="qBox" class="hidden">
      |      <label for="q">query</label>
      |      <input type="text" id="q" placeholder="search text">
      |    </div>
      |    <div class="row">
      |      <div><label for="k">k (top results)</label>
      |        <input type="number" id="k" value="4" min="1" max="100"></div>
      |      <div><label for="ts">index_tree_search_top_size (optional)</label>
      |        <input type="number" id="ts" min="1" max="1000" placeholder="index default"></div>
      |    </div>
      |  </fieldset>
      |  <button type="submit" id="go">Search</button>
      |</form>
      |<div id="error" class="hidden"></div>
      |<div id="status" class="hidden"></div>
      |<table id="tbl" class="hidden">
      |  <thead><tr><th>#</th><th>score</th><th>id</th><th>title</th><th>vendor</th><th>description</th></tr></thead>
      |  <tbody id="rows"></tbody>
      |</table>
      |<script>
      |"use strict";
      |const $ = id => document.getElementById(id);
      |document.querySelectorAll('input[name=mode]').forEach(r =>
      |  r.addEventListener('change', () => {
      |    const emb = document.querySelector('input[name=mode]:checked').value === 'embedding';
      |    $('embBox').classList.toggle('hidden', !emb);
      |    $('qBox').classList.toggle('hidden', emb);
      |  }));
      |$('f').addEventListener('submit', async ev => {
      |  ev.preventDefault();
      |  $('error').classList.add('hidden');
      |  $('tbl').classList.add('hidden');
      |  $('status').classList.remove('hidden');
      |  $('status').textContent = 'searching…';
      |  $('go').disabled = true;
      |  try {
      |    const body = { k: parseInt($('k').value, 10) };
      |    const ts = $('ts').value.trim();
      |    if (ts) body.index_tree_search_top_size = parseInt(ts, 10);
      |    if (document.querySelector('input[name=mode]:checked').value === 'embedding')
      |      body.embedding = JSON.parse($('emb').value);
      |    else body.query = $('q').value;
      |    const resp = await fetch('/search', { method: 'POST',
      |      headers: { 'Content-Type': 'application/json' }, body: JSON.stringify(body) });
      |    const data = await resp.json();
      |    if (!resp.ok) throw new Error(data.error || ('HTTP ' + resp.status));
      |    const t = data.search_time_ms;
      |    $('status').textContent = data.count + ' result' + (data.count === 1 ? '' : 's') +
      |      ' in ' + (t < 1 ? (t * 1000).toFixed(2) + ' µs' : t.toFixed(2) + ' ms');
      |    const tbody = $('rows');
      |    tbody.replaceChildren();
      |    (data.results || []).forEach((hit, i) => {
      |      const tr = document.createElement('tr');
      |      [i + 1, typeof hit.score === 'number' ? hit.score.toFixed(4) : hit.score,
      |       hit.id, hit.title, hit.vendor, hit.description].forEach(v => {
      |        const td = document.createElement('td');
      |        td.textContent = v == null ? '' : String(v); // text node: markup-safe
      |        tr.appendChild(td);
      |      });
      |      tbody.appendChild(tr);
      |    });
      |    $('tbl').classList.toggle('hidden', (data.results || []).length === 0);
      |    if ((data.results || []).length === 0) $('status').textContent += ' — no results';
      |  } catch (e) {
      |    $('status').classList.add('hidden');
      |    $('error').textContent = e.message;
      |    $('error').classList.remove('hidden');
      |  } finally { $('go').disabled = false; }
      |});
      |</script>
      |</body>
      |</html>
      |""".stripMargin
}
