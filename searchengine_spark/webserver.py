"""HTTP serving endpoint — the rebuild of the reference webserver +
search frontend as a thin stdlib layer over :mod:`serving`.

Reference parity (routes, params, bodies):

* ``GET /``        -> the search form page
  (``frontend/Mainpage.java:26-37`` serves ``index.html``; ours is a
  fresh minimal form with the same field/param names, not a copy).
* ``GET /hello``   -> ``Hello World!`` (``Mainpage.java:38-40``).
* ``GET /search?query=&offset=&limit=`` (``Mainpage.java:44-135``):
  - missing/blank ``query``  -> HTTP 400, body ``Query parameter is
    missing`` (``Mainpage.java:53-56``);
  - no matching pages        -> ``No matched pages found``
    (``Mainpage.java:113-115``);
  - ``offset`` past the end  -> empty body (``Mainpage.java:121-123``);
  - otherwise an HTML fragment shaped exactly like the reference's
    ``formatSearchResults`` (``Mainpage.java:370-389``):
    ``<div class='search-results'>`` wrapping per-hit
    ``<div class='search-result-item'><a href=URL>title</a><p>snippet
    </p></div>`` blocks. Defaults ``offset=0, limit=15``
    (``Mainpage.java:48-51``).
* ``GET /api/search?query=&offset=&limit=&mode=`` -> the same rows as
  JSON (rank/url/title/snippet/bm25/blended) — a machine-readable
  addition the reference lacks; same engine path.
* ``mode`` (both search routes): ``OR`` (default, the reference's
  disjunctive blend), ``AND`` (conjunctive WAND-equivalent semantics),
  ``PHRASE`` (positional exact-phrase candidates, same blended
  scoring); unknown values fall back to ``OR`` like the reference's
  lenient param handling.
* ``-term`` tokens inside ``query`` are exclusions (NOT): docs
  containing any such term are dropped before the top-k
  (``serving.split_exclusions``); composes with every mode.

Deliberate deviations: title/snippet are HTML-escaped on output (the
reference interpolates raw page text — an XSS hole, not a semantic);
scoring is the engine's BM25+PageRank blend per the north_rule, not the
reference's KVS-fetch blend (see SURVEY §2.8 "Deliberately NOT
reproduced").

Physical shape: the reference runs a bespoke 100-thread socket server
(``webserver/Server.java:17``) doing one KVS HTTP fetch per term/url;
here ``ThreadingHTTPServer`` supplies request threads, and every
request goes through one :class:`searchengine_spark.serving.QueryBatcher`,
which coalesces concurrent requests into one scoring plan and one
docstore fetch per batch on a shared ``SparkSession``. The batch plan
is the serving plan audited in SURVEY §8.3 — top-k via the salted
index, a k-row lookup of the ranked docs; no full-corpus shuffle per
request.
"""

from __future__ import annotations

import html
import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.sql import SparkSession

from .serving import DEFAULT_LIMIT, QueryBatcher

_FORM_PAGE = """<!DOCTYPE html>
<html>
<head><title>Search</title></head>
<body>
<form action="/search" method="get">
  <input type="text" name="query" autofocus>
  <input type="hidden" name="offset" value="0">
  <input type="hidden" name="limit" value="15">
  <button type="submit">Search</button>
</form>
</body>
</html>
"""


def format_search_results(rows) -> str:
    """HTML fragment matching ``Mainpage.formatSearchResults``
    (``Mainpage.java:370-389``): same container/item divs, one anchor +
    one ``<p>`` snippet per hit, in rank order."""
    parts = ["<div class='search-results'>\n"]
    for r in rows:
        parts.append("<div class='search-result-item'>\n")
        parts.append(
            f"<a href='{html.escape(r['url'], quote=True)}'>"
            f"{html.escape(r['title'])}</a>\n"
        )
        parts.append(f"<p>{html.escape(r['snippet'])}</p>\n")
        parts.append("</div>\n")
    parts.append("</div>\n")
    return "".join(parts)


class SearchHandler(BaseHTTPRequestHandler):
    """One handler class per server instance (built by :func:`make_server`
    so the server's :class:`QueryBatcher` rides on a class attribute, the
    stdlib's intended extension point)."""

    batcher: QueryBatcher = None  # type: ignore[assignment]

    # quiet by default; tests flip this on via server attribute if needed
    def log_message(self, fmt, *args):  # noqa: D102
        pass

    def _send(self, status: int, body: str, ctype: str = "text/html"):
        data = body.encode("utf-8")
        self.send_response(status)
        self.send_header("Content-Type", f"{ctype}; charset=utf-8")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def _search_rows(self, params: dict[str, list[str]]):
        """Run the engine query; returns (rows, offset) where ``rows`` is
        the FULL ranked prefix [0, offset+limit) so the handler can
        distinguish 'no hits at all' from 'offset past the end' exactly
        as the reference does (``Mainpage.java:113-123``)."""
        query = (params.get("query", [""])[0] or "").strip()
        if not query:
            return None, 0, 0
        offset = int(params.get("offset", ["0"])[0])
        limit = int(params.get("limit", [str(DEFAULT_LIMIT)])[0])
        mode = (params.get("mode", ["OR"])[0] or "OR").upper()
        mode = mode if mode in ("AND", "OR", "PHRASE") else "OR"
        # concurrent requests coalesce into one batch — the per-job
        # fixed cost amortizes across the pool exactly like the
        # reference's shared-backend thread pool
        rows = self.batcher.search(query, mode=mode, k=offset + limit, offset=0)
        return rows, offset, limit

    def do_GET(self):  # noqa: N802 (stdlib API name)
        url = urlparse(self.path)
        params = parse_qs(url.query)
        try:
            if url.path == "/":
                self._send(200, _FORM_PAGE)
            elif url.path == "/hello":
                self._send(200, "Hello World!", ctype="text/plain")
            elif url.path == "/search":
                rows, offset, limit = self._search_rows(params)
                if rows is None:
                    self._send(400, "Query parameter is missing",
                               ctype="text/plain")
                elif not rows:
                    self._send(200, "No matched pages found",
                               ctype="text/plain")
                elif offset >= len(rows):
                    self._send(200, "")
                else:
                    self._send(
                        200,
                        format_search_results(rows[offset:offset + limit]),
                    )
            elif url.path == "/api/search":
                rows, offset, limit = self._search_rows(params)
                if rows is None:
                    self._send(400, json.dumps(
                        {"error": "Query parameter is missing"}),
                        ctype="application/json")
                else:
                    body = json.dumps({
                        "results": [
                            {
                                "rank": r["rank"],
                                "url": r["url"],
                                "title": r["title"],
                                "snippet": r["snippet"],
                                "bm25": r["bm25"],
                                "blended": r["blended"],
                            }
                            for r in rows[offset:offset + limit]
                        ],
                    })
                    self._send(200, body, ctype="application/json")
            else:
                self._send(404, "Not found", ctype="text/plain")
        except (ValueError, KeyError) as e:  # bad int params etc.
            self._send(400, f"Bad request: {e}", ctype="text/plain")


def make_server(
    spark: SparkSession,
    index_root: str,
    pages_path: str,
    host: str = "127.0.0.1",
    port: int = 0,
    w_anchor: float = 0.0,
) -> ThreadingHTTPServer:
    """Build (but don't start) the HTTP server; ``port=0`` binds an
    ephemeral port (read it back from ``server.server_address``).
    Requests are answered through one
    :class:`searchengine_spark.serving.QueryBatcher`, which coalesces
    concurrent requests into shared Spark jobs."""
    batcher = QueryBatcher(spark, index_root, pages_path, w_anchor=w_anchor)
    handler = type("BoundSearchHandler", (SearchHandler,), {"batcher": batcher})
    server = ThreadingHTTPServer((host, port), handler)
    server.batcher = batcher  # so shutdown hooks can close it
    return server


def start_server(
    spark: SparkSession,
    index_root: str,
    pages_path: str,
    host: str = "127.0.0.1",
    port: int = 0,
    w_anchor: float = 0.0,
) -> tuple[ThreadingHTTPServer, threading.Thread]:
    """Start the server on a daemon thread; returns (server, thread).
    Stop with ``server.shutdown()``."""
    server = make_server(spark, index_root, pages_path, host, port, w_anchor)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    return server, thread
