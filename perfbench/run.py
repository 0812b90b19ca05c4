#!/usr/bin/env python3
"""Layered benchmark of the searchengine_spark engine.

    python3 perfbench/run.py --workload build_ingest|serve --seed N \\
        --seconds S --trace 0|1

Run from the root of a checkout. The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json,
with ``--trace 1`` the per-layer ones. Exits non-zero on any wrong
answer. See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import threading
import time
import urllib.parse
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import engine  # noqa: E402
import prep  # noqa: E402
import spans  # noqa: E402

inputs = None  # imported by main() once the checkout is on sys.path

CLIENTS = 4  # serve's concurrent phase; at most nproc on the reference host
SOLO_MIN, BATCH_MIN = 2, 8  # requests each serve phase sends at least


def process_start() -> float:
    """Epoch time this process was started by the kernel."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def declared(kind: str) -> list[dict]:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)[kind]


# ---------------------------------------------------------------------------
# build_ingest
# ---------------------------------------------------------------------------

def run_build_ingest(args, work: str, cache: str, t_start: float) -> dict:
    run_dir = os.path.join(work, "runs", f"build_ingest-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    tracer = spans.Tracer()
    event_log = os.path.join(run_dir, "eventlog") if args.trace else None
    spark = engine.spark_session(work, event_log)
    try:
        engine.warm_up(spark)
        setup_s = time.time() - t_start
        result = build_ingest_cycle(spark, tracer, args.seed, run_dir, cache,
                                    fsck=bool(args.trace))
        result["e2e"]["setup_s"] = setup_s
    finally:
        engine.stop(spark)
    result["info"]["span_s"] = {s["name"]: s["end"] - s["start"] for s in tracer.spans}
    if args.trace:
        result["layers"] = build_ingest_layers(tracer, read_event_log(event_log),
                                               result.pop("root"), result["io"])
    shutil.rmtree(run_dir, ignore_errors=True)
    return result


def build_ingest_cycle(spark, tracer, seed: int, run_dir: str, cache: str,
                       fsck: bool) -> dict:
    """Fresh build of the seeded base corpus, then one ingest round of
    the seeded delta, checked against the oracle and, with ``fsck``,
    by ``fsck.fsck`` (about ten Spark-seconds a run, so only the traced
    runs pay it)."""
    from searchengine_spark import corpus, oracle, serving

    pages, landing = os.path.join(run_dir, "pages"), os.path.join(run_dir, "landing")
    root = os.path.join(run_dir, "root")

    # seeded inputs and their oracle answers (untimed)
    uni = prep.UNIVERSE
    with open(os.path.join(cache, "universe.pkl"), "rb") as f:
        recs = pickle.load(f)
    delta = inputs.delta_ids(seed, uni, prep.DELTA)
    dset = set(delta)
    base = [i for i in range(uni) if i not in dset]
    prep.write_pages(pages, [corpus.render_page(i, uni) for i in base])
    links = {recs[i][0]: [recs[j][0] for j in corpus.expected_links(i, uni)] for i in base}
    base_idx = inputs.assemble([recs[i] for i in base], links)
    oracle.oracle_pagerank(base_idx, threshold=engine.BUILD["pagerank_threshold"])
    full_idx = inputs.assemble(recs)
    full_idx.pagerank = base_idx.pagerank  # the merge does not re-rank
    probe_doc, probe_q = choose_probe(full_idx, recs, delta, uni)
    want = inputs.ranked(full_idx, probe_q, "AND", inputs.K)
    url_to_id = {r[1]: r[0] for r in recs}

    t0 = time.time()
    with tracer.span("build"):
        engine.build(spark, tracer, pages, root, engine.BUILD)
    build_s = time.time() - t0
    size_ratio = engine.index_size_ratio(root, pages)

    # the delta lands: one file in the stream's source directory and in
    # the corpus that the merge and the docstore refresh read
    prep.write_pages(landing, [corpus.render_page(i, uni) for i in delta], n_files=1)
    shutil.copy(os.path.join(landing, "part-00000.parquet"),
                os.path.join(pages, "part-delta.parquet"))
    t_land = time.time()
    with tracer.span("ingest"):
        io = engine.ingest(spark, tracer, landing, pages, root,
                           os.path.join(run_dir, "stream-checkpoint"))
        with tracer.span("probe"):
            rows = serving.search(spark, root, pages, probe_q, mode="AND", k=inputs.K).collect()
    fresh_s = time.time() - t_land

    failed = 0
    got = [{"url": r["url"], "blended": r["blended"]} for r in rows]
    if not (inputs.check(got, want, 0, url_to_id)
            and any(url_to_id.get(r["url"]) == probe_doc for r in got)):
        failed += 1
        print(f"probe {probe_q!r}: wrong answer", file=sys.stderr)
    findings = engine.fsck_findings(spark, root) if fsck else []
    if findings:
        failed += 1
        print(f"fsck: {len(findings)} findings, first {findings[0]}", file=sys.stderr)
    rss = engine.peak_rss_mb()
    e2e = {"peak_rss_mb": rss["total"], "primary_s": build_s,
           "secondary_s": fresh_s, "size_ratio": size_ratio}
    write_amp = io["merge_bytes_written"] / io["delta_token_bytes"]
    return {"attempted": 1 + fsck, "failed": failed, "e2e": e2e, "root": root, "io": io,
            "info": {"build_s": build_s, "fresh_s": fresh_s, "merge_write_amp": write_amp,
                     "rss_mb": rss}}


def build_ingest_layers(tracer, jobs: list[dict], root: str, io: dict) -> dict:
    from searchengine_spark import catalog
    from searchengine_spark.catalog import parquet_rows_bytes

    tokens = catalog.path(root, catalog.TOKENS)
    outputs = {
        "indexer.tokens": [tokens],
        "indexer.docstats": [catalog.path(root, catalog.DOCSTATS)],
        "indexer.postings": [catalog.path(root, catalog.POSTINGS)],
        "indexer.title": [catalog.path(root, catalog.TITLE_INDEX)],
        "pagerank": [catalog.path(root, catalog.PAGERANKS)],
        "anchors": [catalog.path(root, catalog.ANCHOR_INDEX)],
        "serving.docstore": [catalog.path(root, catalog.DOCSTORE)],
        "streaming.ingest": catalog.glob_dirs(os.path.join(tokens, "chunk=stream-*")),
        "merge": [catalog.path(root, catalog.POSTINGS)],
        "serving.docstore_refresh": [catalog.path(root, catalog.DOCSTORE)],
    }
    by_span = spans.attribute(jobs, tracer.spans)
    layers = {}
    for s in tracer.spans:
        if s["name"] in outputs:
            m = spans.layer_metrics(s, tracer.spans, by_span, jobs)
            m["output_bytes"] = sum(parquet_rows_bytes(p)[1] for p in outputs[s["name"]])
            layers[s["name"]] = m
    build_span = next(s for s in tracer.spans if s["name"] == "build")
    layers["build.self_s"] = spans.self_time(build_span, tracer.spans)
    layers["merge.bytes_rewritten"] = io["merge_bytes_written"]
    layers["merge.write_amp"] = io["merge_bytes_written"] / io["delta_token_bytes"]
    return layers


def choose_probe(idx, recs, delta: list[int], universe: int) -> tuple[int, str]:
    """A delta doc and an AND query of its two rarest title words that
    the oracle ranks the doc for after the merge."""
    from searchengine_spark import corpus
    from searchengine_spark.query import parse_query

    for i in delta:
        words = {}
        for w in corpus.render_page(i, universe)["text"].split():
            stems = parse_query(w)
            if len(stems) == 1 and stems[0] in idx.postings:
                words.setdefault(stems[0], w)
        if len(words) < 2:
            continue
        rarest = sorted(words, key=lambda s: (len(idx.postings[s]), s))[:2]
        q = " ".join(words[s] for s in rarest)
        if any(d == recs[i][0] for d, _b in inputs.ranked(idx, q, "AND", inputs.K)):
            return recs[i][0], q
    raise RuntimeError("no delta doc is reachable by a title query")


def read_event_log(event_log: str) -> list[dict]:
    jobs = []
    for f in sorted(os.listdir(event_log)):
        with open(os.path.join(event_log, f)) as fh:
            jobs.extend(spans.parse_event_log(fh))
    return jobs


# ---------------------------------------------------------------------------
# serve
# ---------------------------------------------------------------------------

class Server:
    """The search server in its own process: Spark driver, QueryBatcher
    and HTTP front end, driven over stdin/stdout."""

    def __init__(self, cache: str, work: str, event_log: str | None) -> None:
        cmd = [sys.executable, os.path.join(HERE, "server.py"), "--cache", cache,
               "--work", work]
        if event_log:
            cmd += ["--event-log", event_log]
        t0 = time.time()
        self.proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     text=True)
        try:
            line = self._expect("READY")
        except BaseException:
            self.close()
            raise
        self.setup_s = time.time() - t0
        self.port = int(line.split()[1])

    def _expect(self, word: str) -> str:
        while True:
            line = self.proc.stdout.readline()
            if not line:
                raise RuntimeError(f"server exited before {word}")
            if line.startswith(word):
                return line

    def command(self, word: str, payload: object = None) -> dict:
        self.proc.stdin.write(f"{word} {json.dumps(payload)}\n")
        self.proc.stdin.flush()
        return json.loads(self._expect(word).split(" ", 1)[1])

    def close(self) -> None:
        """Let the server finish its shutdown; kill it if it hangs."""
        self.proc.stdin.close()
        try:
            self.proc.wait(timeout=90)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


def closed_loop(port: int, reqs: list[dict], pool: list[dict], url_to_id: dict,
                clients: int, seconds: float, at_least: int) -> list[dict]:
    """``clients`` threads, each sending its next request only after the
    previous one is answered, until ``seconds`` have passed and at least
    ``at_least`` requests were sent. Returns one record per request, in
    stream order: start, end, ok."""
    lock = threading.Lock()
    sent = 0
    out: list[dict] = []
    deadline = time.time() + seconds

    def client() -> None:
        nonlocal sent
        while True:
            with lock:
                if sent >= at_least and time.time() >= deadline:
                    return
                i, sent = sent, sent + 1
            r = reqs[i]
            q = pool[r["pool"]]
            params = urllib.parse.urlencode(inputs.request_params(q, r["offset"]))
            t0 = time.time()
            try:
                with urllib.request.urlopen(
                        f"http://127.0.0.1:{port}/api/search?{params}", timeout=120) as resp:
                    body = json.load(resp)
                ok = inputs.check(body["results"], q["expected"], r["offset"], url_to_id)
            except (OSError, http.client.HTTPException, ValueError, KeyError) as e:
                print(f"request {q['query']!r}: {e}", file=sys.stderr)
                ok = False
            if not ok:
                print(f"wrong answer: {q['mode']} {q['query']!r} offset {r['offset']}",
                      file=sys.stderr)
            with lock:
                out.append({"i": i, "start": t0, "end": time.time(), "ok": ok})

    threads = [threading.Thread(target=client) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return sorted(out, key=lambda r: r["i"])


def run_serve(args, work: str, cache: str, t_start: float) -> dict:
    with open(os.path.join(cache, "pool.json")) as f:
        data = json.load(f)
    pool, url_to_id = data["pool"], data["url_to_id"]
    reqs = inputs.stream(pool, args.seed, 10_000)
    run_dir = os.path.join(work, "runs", f"serve-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    event_log = os.path.join(run_dir, "eventlog") if args.trace else None
    server = Server(cache, work, event_log)
    try:
        phases = {}
        counters = {}
        t = time.time()
        phases["solo"] = (t, closed_loop(server.port, reqs, pool, url_to_id, 1,
                                         args.seconds / 2.0, SOLO_MIN), time.time())
        counters["solo"] = server.command("COUNTERS")
        t = time.time()
        rest = reqs[len(phases["solo"][1]):]
        phases["batch"] = (t, closed_loop(server.port, rest, pool, url_to_id, CLIENTS,
                                          args.seconds / 2.0, BATCH_MIN), time.time())
        counters["batch"] = server.command("COUNTERS")
        stats_terms = [pool[r["pool"]]["query"] for r in reqs[:10]]
        done = server.command("STOP", stats_terms if args.trace else [])
    finally:
        server.close()

    solo = [r["end"] - r["start"] for r in phases["solo"][1]]
    batch = [r["end"] - r["start"] for r in phases["batch"][1]]
    records = phases["solo"][1] + phases["batch"][1]
    attempted = len(records)
    failed = sum(not r["ok"] for r in records)
    e2e = {"setup_s": server.setup_s, "peak_rss_mb": done["rss_mb"]["total"],
           "primary_s": statistics.median(solo), "secondary_s": statistics.median(batch),
           "size_ratio": done["size_ratio"]}
    b0, b1 = counters["solo"], counters["batch"]
    info = {
        "rss_mb": done["rss_mb"],
        "solo_requests": len(solo), "batch_requests": len(batch),
        "batch_qps": len(batch) / (phases["batch"][2] - phases["batch"][0]),
        "solo_batch_size_mean": b0["requests_served"] / max(b0["batches_run"], 1),
        "batches": b1["batches_run"] - b0["batches_run"],
        "batch_size_mean": (b1["requests_served"] - b0["requests_served"])
        / max(b1["batches_run"] - b0["batches_run"], 1),
    }
    tl = spans.tail(batch)
    if tl:
        info["batch_tail_pct"], info["batch_tail_s"] = tl
    layers = {}
    if args.trace:
        jobs = read_event_log(event_log)
        serve_spans = [{"name": p, "start": v[0], "end": v[2], "parent": None, "id": i}
                       for i, (p, v) in enumerate(phases.items())]
        n = len(records)
        phase_jobs = [j for j in jobs if any(s["start"] <= j["submit"] <= s["end"]
                                             for s in serve_spans)]
        busy = [(j["submit"], j["end"]) for j in jobs]
        layers["serving.search"] = {
            "wall_s": statistics.mean(solo + batch),
            "driver_s": statistics.mean(
                (r["end"] - r["start"]) - spans.covered(busy, r["start"], r["end"])
                for r in records),
            "spark_jobs": len(phase_jobs) / n,
            "tasks": sum(j["tasks"] for j in phase_jobs) / n,
            "executor_cpu_s": sum(j["cpu_s"] for j in phase_jobs) / n,
            "input_bytes": sum(j["input_bytes"] for j in phase_jobs) / n,
            "shuffle_write_bytes": sum(j["shuffle_write_bytes"] for j in phase_jobs) / n,
        }
        stat_spans = done["stats_spans"]
        by_span = spans.attribute(jobs, stat_spans)
        layers["query.stats"] = {
            "wall_s": statistics.mean(s["end"] - s["start"] for s in stat_spans),
            "spark_jobs": statistics.mean(len(by_span[s["id"]]) for s in stat_spans),
        }
    shutil.rmtree(run_dir, ignore_errors=True)
    return {"attempted": attempted, "failed": failed, "e2e": e2e, "layers": layers,
            "info": info}


# ---------------------------------------------------------------------------
# output
# ---------------------------------------------------------------------------

def per_layer(result: dict) -> dict:
    """Flat per-layer metrics; a layer the workload never enters is
    absent here and reported as zero work."""
    flat = {}
    for name, val in result["layers"].items():
        if isinstance(val, dict):
            flat.update({f"{name}.{k}": v for k, v in val.items()})
        else:
            flat[name] = val
    info = result["info"]
    for k in ("batch_size_mean", "solo_batch_size_mean", "batches"):
        flat[f"serving.batcher.{k}"] = info.get(k, 0)
    for k in ("batch_qps", "solo_requests", "batch_requests"):
        flat[f"serve.{k}"] = info.get(k, 0)
    flat["nproc"] = engine.nproc()
    return flat


def main(argv=None) -> int:
    t_start = process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["build_ingest", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    checkout = os.getcwd()
    if not os.path.isdir(os.path.join(checkout, "searchengine_spark")):
        print("perfbench: run from the root of a searchengine_spark checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(checkout, ".perfbench")
    engine.setup_env(checkout, work)
    global inputs
    import inputs
    cache = prep.cache_dir(checkout, work)
    if not prep.ready(cache):
        # untimed: the session clock restarts after preparation
        subprocess.run([sys.executable, os.path.join(HERE, "prep.py")], check=True,
                       stdout=sys.stderr)
        t_start = time.time()

    run = run_build_ingest if args.workload == "build_ingest" else run_serve
    result = run(args, work, cache, t_start)
    correct = result["failed"] == 0
    flat = per_layer(result) if args.trace else result["e2e"]
    metrics = {m["name"]: {"value": float(flat.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in declared("per_layer" if args.trace else "end_to_end")}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "nproc": engine.nproc(),
                      **result["info"], **result["e2e"], **(flat if args.trace else {})}))
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
