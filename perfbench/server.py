"""The serve workload's server process.

Starts a Spark session over the prepared index, warms the search path
with one request, starts ``webserver.start_server`` (backed by
``serving.QueryBatcher``) and prints ``READY <port>``. Then answers
commands on stdin, one JSON reply line each:

* ``COUNTERS null`` -> the batcher's ``requests_served`` / ``batches_run``;
* ``STOP [queries]`` -> times ``indexer.read_stats`` + ``query.term_idfs``
  for each query (the per-request corpus statistics), reports peak RSS
  and index size, shuts down and exits.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import engine  # noqa: E402
import spans  # noqa: E402


def reply(word: str, payload: object) -> None:
    sys.stdout.write(f"{word} {json.dumps(payload)}\n")
    sys.stdout.flush()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cache", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--event-log")
    args = ap.parse_args()
    checkout = os.getcwd()
    engine.setup_env(checkout, args.work)

    from searchengine_spark import indexer, query, webserver

    pages = os.path.join(args.cache, "serve_pages")
    root = os.path.join(args.cache, "serve_root")
    spark = engine.spark_session(args.work, args.event_log)
    server, thread = webserver.start_server(spark, root, pages)
    port = server.server_address[1]
    with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/api/search?query=warm+up", timeout=300) as r:
        r.read()
    reply("READY", port)

    tracer = spans.Tracer()
    try:
        for line in sys.stdin:
            word, _, arg = line.strip().partition(" ")
            if word == "COUNTERS":
                b = server.batcher
                reply(word, {"requests_served": b.requests_served,
                             "batches_run": b.batches_run})
            elif word == "STOP":
                for q in json.loads(arg or "[]"):
                    with tracer.span("query.stats"):
                        n_docs, _avgdl = indexer.read_stats(spark, root)
                        query.term_idfs(spark, root, query.parse_query(q), n_docs)
                reply(word, {"rss_mb": engine.peak_rss_mb(),
                             "size_ratio": engine.index_size_ratio(root, pages),
                             "stats_spans": tracer.spans})
                break
    finally:
        server.shutdown()
        server.batcher.close()
        thread.join(timeout=30)
        engine.stop(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
