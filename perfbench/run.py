"""searty_spark benchmark.

    python3 perfbench/run.py --workload {serve|dedup} --seed N \
        --seconds S --trace {0|1}

Run from the repository root. Builds its inputs from ``--seed``
(perfbench/gen.py), drives the program through its public entry points,
checks the outputs, and prints as its last line one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0``
the end-to-end metrics of BENCHMARK.json, with ``--trace 1`` its
per-layer metrics. The line before it lists every named metric of the
workload with its unit and sample count. perfbench/METRICS.md maps
each metric to its layer and workload.

Workloads (closed loop, one load-generating process, at most nproc
outstanding requests):

- ``serve``: cold ``write_index`` of a generated corpus, then the
  ``cli serve`` line protocol on that index, driven at 1 outstanding
  request (phase c1) and at nproc (phase c4), in alternating blocks.
- ``dedup``: one ``dedup.minhash_lsh_pairs`` and one
  ``ann.cosine_dup_pairs_lsh`` pass over generated inputs with planted
  near-duplicates and one oversized LSH bucket per band.
"""

from __future__ import annotations

import argparse
import json
import os
import queue
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
from phases import K  # noqa: E402
from procmon import PeakRss  # noqa: E402

DRIVER_MEM = "1g"  # the heap cap; RSS follows the heap in use
PHASE_TIMEOUT = 170  # seconds; a run must end within 180
# serve sizing
VOCAB = 3000
N_MAIN, N_SECOND = 300, 60
N_ONESHOT = 2  # the first warms the query plans and is not timed
# warm-up requests, sent nproc at a time: the first requests of a
# fresh JVM run slower than the rest
N_WARM = 8
# c1 and c4 alternate in BLOCKS rounds, so each phase samples the whole
# window and a slow spell of the host weighs on both alike
C1_SHARE, BLOCKS = 0.65, 2
N_REPLAY = 3
ENCODE_DOCS, ENCODE_REPEATS = 100, 3  # segments.encode_postings_per_s sample
# dedup sizing
N_DEDUP_DOCS = 1000
# 4,000 of the 5,000 vectors form one cone: with the program's 4-bit
# band keys, one bucket per band holds most of it (2,800-3,600 rows)
# where a background bucket holds ~60
N_VECTORS, DIM, CONE, N_VEC_CLUSTERS = 5000, 64, 4000, 100
JACCARD, COSINE = 0.5, 0.9


class Run:
    """One benchmark run: its scratch directory, the environment of the
    processes it starts, and the helpers that start them."""

    def __init__(self, args):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.cpus = len(os.sched_getaffinity(0))
        self.work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
        (self.work / "tmp").mkdir(parents=True)
        env = dict(os.environ)
        env.pop("PYSPARK_SUBMIT_ARGS", None)
        env.update(
            SPARK_GRAFT_CPUS=str(self.cpus),
            SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
            SPARK_LOCAL_DIRS=str(self.work / "spark-local"),
            TMPDIR=str(self.work / "tmp"),
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData",
            PYSPARK_PYTHON=sys.executable,
            PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), env.get("PYTHONPATH")])),
        )
        self.env = env
        self.walls: dict[str, float] = {}  # seconds per phase, for the log line

    def path(self, name: str) -> str:
        return str(self.work / name)

    def spec(self, name: str, spec: dict, trace: bool) -> tuple[dict, list[str]]:
        """Write a phase's spec file; return it and the phase command."""
        tag = f"{name}-{len(self.walls)}"
        spec = dict(spec, trace=trace, out=self.path(f"{tag}.out.json"),
                    spans=self.path(f"{tag}.spans.json"), eventlog=self.path(f"{tag}.eventlog"),
                    log=self.path(f"{tag}.log"))
        path = self.path(f"{tag}.spec.json")
        Path(path).write_text(json.dumps(spec))
        return spec, [sys.executable, str(HERE / "phases.py"), name, path]

    @staticmethod
    def result(spec: dict) -> dict:
        out = json.loads(Path(spec["out"]).read_text())
        if spec["trace"]:
            out["spans"] = json.loads(Path(spec["spans"]).read_text())
            out["log"] = tracing.load_event_logs(spec["eventlog"])
        return out

    def phase(self, name: str, spec: dict, trace: bool) -> dict:
        """Run a phase to completion in a child process; return its result."""
        spec, cmd = self.spec(name, spec, trace)
        t0 = time.perf_counter()
        with open(spec["log"], "w") as log:
            proc = subprocess.run(cmd, cwd=ROOT, env=self.env, stdout=log,
                                  stderr=subprocess.STDOUT, timeout=PHASE_TIMEOUT)
        self.walls[f"{name}-{len(self.walls)}"] = time.perf_counter() - t0
        if proc.returncode != 0:
            raise RuntimeError(f"phase {name} failed:\n{Path(spec['log']).read_text()[-3000:]}")
        return self.result(spec)


class Server:
    """The serve phase as a subprocess speaking the ``cli serve`` line
    protocol on its stdin/stdout; a reader thread queues its JSON lines
    so every wait has a deadline."""

    def __init__(self, run: Run, cmd: list[str], log_path: str):
        self.log = open(log_path, "w")
        self.proc = subprocess.Popen(
            cmd, cwd=ROOT, env=run.env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self.log, text=True, bufsize=1,
        )
        self.lines: queue.Queue = queue.Queue()
        threading.Thread(target=self._read, daemon=True).start()
        self.seq = 0

    def _read(self) -> None:
        for line in self.proc.stdout:
            if line.startswith("{"):
                self.lines.put(json.loads(line))
        self.lines.put(None)

    def recv(self, timeout: float = PHASE_TIMEOUT) -> dict:
        msg = self.lines.get(timeout=timeout)
        if msg is None:
            raise RuntimeError(f"serve exited:\n{Path(self.log.name).read_text()[-3000:]}")
        return msg

    def send(self, line: str) -> int:
        self.proc.stdin.write(line + "\n")
        self.proc.stdin.flush()
        self.seq += 1
        return self.seq - 1

    def drive(self, requests, outstanding: int, seconds: float | None) -> list[dict]:
        """Closed loop: keep ``outstanding`` requests in flight until
        ``seconds`` have passed (or, with None, until ``requests`` is
        exhausted), then drain. Responses match requests by ``seq``."""
        it = iter(requests)
        inflight: dict[int, tuple[str, float, float]] = {}
        out = []
        t_end = None if seconds is None else time.perf_counter() + seconds
        while True:
            while len(inflight) < outstanding and (t_end is None or time.perf_counter() < t_end):
                line = next(it, None)
                if line is None:
                    break
                sent = time.perf_counter()
                inflight[self.send(line)] = (line, sent, time.time())
            if not inflight:
                return out
            msg = self.recv()
            line, sent, epoch = inflight.pop(msg["seq"])
            got = time.perf_counter()
            out.append({"line": line, "sent": sent, "got": got, "epoch": epoch,
                        "epoch_end": time.time(),
                        "latency_ms": 1000 * (got - sent),
                        "handler_ms": 1000 * msg.get("wall_sec", 0.0),
                        "response": msg})

    def close(self) -> int:
        """Send ``:quit`` and wait for the process (a traced run keeps
        working after serve ends); kill it if it does not finish."""
        try:
            if self.proc.poll() is None:
                self.proc.stdin.write(":quit\n")
                self.proc.stdin.close()
            return self.proc.wait(timeout=PHASE_TIMEOUT)
        except (OSError, subprocess.TimeoutExpired):
            self.proc.kill()
            return self.proc.wait()
        finally:
            self.log.close()


def metric(value, unit: str, n: int | None = None, **extra) -> dict:
    out = {"value": value, "unit": unit}
    if n is not None:
        out["n"] = n
    out.update(extra)
    return out


def latency(values) -> dict:
    """Median of a latency sample with its count and its supported tail."""
    s = stats.summarize(values)
    return metric(s.get("p50"), "ms", s["n"],
                  **{k: s[k] for k in ("tail_pct", "tail") if k in s})


def dir_bytes(path) -> int:
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file())


# --------------------------------------------------------------------------
# serve


def serve(run: Run, mem: PeakRss) -> dict:
    t0 = time.perf_counter()
    vocab = gen.vocabulary(run.seed, VOCAB)
    main = gen.corpus(run.seed, "main", N_MAIN, vocab)
    gen.write_parquet(run.path("main.parquet"), main.columns())
    requests = gen.request_stream(run.seed, main, vocab, 4000)
    spec = {"corpus": run.path("main.parquet"), "index": run.path("idx_main"),
            "threads": run.cpus}
    if run.trace:
        # measured in the traced run only, after serve has ended: one-shot
        # queries, and a second corpus with disjoint doc ids built and
        # merged with the first
        second = gen.corpus(run.seed, "second", N_SECOND, vocab, first_id=N_MAIN)
        gen.write_parquet(run.path("second.parquet"), second.columns())
        spec.update(
            oneshot=[q for q in gen.request_stream(run.seed + 1, main, vocab, 100,
                                                   phrase_share=0.0)
                     if " " in q][:N_ONESHOT],
            second=run.path("second.parquet"), index_second=run.path("idx_second"),
            merged=run.path("idx_merged"),
            replay_warmup=requests[:2], replay=requests[N_WARM : N_WARM + N_REPLAY],
        )
    gen_s = time.perf_counter() - t0

    spec, cmd = run.spec("serve", spec, run.trace)
    t1 = time.perf_counter()
    srv = Server(run, cmd, spec["log"])
    try:
        built = srv.recv()["built"]
        t_built = time.perf_counter()
        if not srv.recv().get("ready"):
            raise RuntimeError("serve did not start")
        ready_s = time.perf_counter() - t_built
        tw = time.perf_counter()
        warm = srv.drive(requests[:N_WARM], run.cpus, None)
        warm_s = time.perf_counter() - tw
        stream = iter(requests[N_WARM:])
        # a traced run serves for a third as long: its serve phases only
        # feed the handler/wait figures, and it must still end in time
        seconds = run.seconds / 3 if run.trace else run.seconds
        c4_block = seconds * (1 - C1_SHARE) / BLOCKS
        c1, c4 = [], []
        c4_work = 0.0
        for _ in range(BLOCKS):
            c1 += srv.drive(stream, 1, seconds * C1_SHARE / BLOCKS)
            c4_end = time.perf_counter() + c4_block
            block = srv.drive(stream, run.cpus, c4_block)
            # throughput over the block only (the drain after it runs
            # with fewer than nproc requests in flight): each request
            # counts the share of its lifetime inside the block, so the
            # figure does not step by whole requests
            c4_work += sum((min(r["got"], c4_end) - r["sent"]) / (r["got"] - r["sent"])
                           for r in block)
            c4 += block
    finally:
        code = srv.close()
    run.walls["serve-0"] = time.perf_counter() - t1
    if code != 0:
        raise RuntimeError(f"serve phase failed:\n{Path(spec['log']).read_text()[-3000:]}")
    res = run.result(spec)
    build_s = built["ops"][0]["wall_s"]
    setup_s = gen_s + built["session_s"] + ready_s + warm_s

    # ---- checks (outside every timed region)
    ref = checks.Reference(dict(zip(main.doc_id, main.text)), K)
    served = warm + c1 + c4
    failed = sum("error" in r["response"]
                 or not ref.check(r["line"], [tuple(x) for x in r["response"]["results"]])
                 for r in served)
    attempted = len(served) + 1

    def by_mode(rs, phrase):
        return [r["latency_ms"] for r in rs if r["line"].startswith(":phrase ") == phrase]

    c4_bm25 = by_mode(c4, False)
    named = {
        "setup_s": metric(setup_s, "s", gen_s=gen_s, session_s=built["session_s"],
                          serve_ready_s=ready_s, warm_s=warm_s),
        "peak_rss_mb": metric(mem.peak_mb, "MB", at_peak=mem.at_peak),
        "c1.p50_ms": latency([r["latency_ms"] for r in c1]),
        "c1.bm25_p50_ms": latency(by_mode(c1, False)),
        "c1.phrase_p50_ms": latency(by_mode(c1, True)),
        "c4.qps": metric(c4_work / (BLOCKS * c4_block), "1/s", len(c4)),
        "c4.p50_ms": latency([r["latency_ms"] for r in c4]),
        "c4.bm25_p50_ms": latency(c4_bm25),
        "c4.bm25_p95_ms": metric(stats.percentile(c4_bm25, 95), "ms", len(c4_bm25),
                                 supported_pct=stats.supported_percentile(len(c4_bm25))),
        "c4.phrase_p50_ms": latency(by_mode(c4, True)),
        "build_docs_per_s": metric(N_MAIN / build_s, "docs/s"),
        "index_bytes_per_text_byte": metric(dir_bytes(spec["index"]) / main.text_bytes, "ratio"),
        "queries.repeat_term_share": metric(
            gen.repeat_term_share([r["line"] for r in served]), "ratio", len(served)),
    }
    slots = {
        "rate_a_per_s": named["c4.qps"]["value"],
        "rate_b_per_s": named["build_docs_per_s"]["value"],
        # every request of the phase: a BM25 and a phrase request cost
        # about the same, and the phrase fifth adds samples to a short
        # phase
        "lat_a_ms": named["c1.p50_ms"]["value"],
        "lat_b_ms": named["c4.p50_ms"]["value"],
    }
    out = {"named": named, "slots": slots, "attempted": attempted, "failed": failed}
    if run.trace:
        layers, more_failed, more_attempted = serve_layers(run, spec, res, c1 + c4, main, mem, ref)
        layers["queries.repeat_term_share"] = named["queries.repeat_term_share"]["value"]
        out["layers"] = layers
        out["attempted"] += more_attempted
        out["failed"] += more_failed
    named["fail_share"] = metric(out["failed"] / out["attempted"], "ratio", out["attempted"])
    return out


def serve_layers(run, spec, res, served, main, mem, ref):
    """Per-layer metrics of the serve workload from its traced run, and
    the (failed, attempted) counts of the calls made only when tracing."""
    layers: dict[str, float] = {}
    # handler time as serve reports it in each response; the rest of the
    # client's latency is time queued in serve's pool and the pipe
    handler = [r["handler_ms"] for r in served]
    wait = [r["latency_ms"] - r["handler_ms"] for r in served]
    for name, xs in (("handler", handler), ("wait", wait)):
        layers[f"cli.serve.{name}_ms.p50"] = stats.percentile(xs, 50)
        layers[f"cli.serve.{name}_ms.p95"] = stats.percentile(xs, 95)
    log = res["log"]
    window = {"name": "serve", "start": min(r["epoch"] for r in served),
              "end": max(r["epoch_end"] for r in served), "group": None}
    srv = tracing.attribute(log, [window])[0]
    layers["spark.jobs_per_request"] = srv["jobs"] / len(served)
    layers["spark.tasks_per_request"] = srv["tasks"] / len(served)
    layers["spark.executor_cpu_ms_per_request"] = 1000 * srv["executor_cpu_s"] / len(served)

    # in-process replay of a request sample: layer spans per request
    rep = res["replay"]
    failed = sum(not ref.check(line, [tuple(x) for x in got])
                 for line, got in zip(spec["replay"], rep["results"]))
    failed += sum(not ref.check(q, [tuple(x) for x in got])
                  for q, got in zip(spec["oneshot"], res["oneshot"]))
    attempted = len(spec["replay"]) + len(spec["oneshot"]) + 2
    replay_ids = {o["id"] for o in rep["ops"][: len(spec["replay"])]}
    per_req: dict[str, list[float]] = {}
    for s in res["spans"]:
        if s["parent"] in replay_ids:
            per_req.setdefault(s["name"], []).append(1000 * (s["end"] - s["start"]))
    for name, key in (("tokenize", "tokenize.ms"), ("wand.df_lookup", "wand.df_lookup_ms"),
                      ("champions.theta", "champions.theta_ms"), ("wand.plan", "wand.plan_ms"),
                      ("wand.collect", "wand.collect_ms"),
                      ("phrase_seg.collect", "phrase_seg.collect_ms")):
        xs = per_req.get(name, [])
        layers[key] = statistics.fmean(xs) if xs else 0.0
    layers["wand.shard_topk_ms"] = rep["kernel_ms"]["wand.shard_topk"]
    layers["segments.decode_ms"] = rep["kernel_ms"]["segments.decode"]

    # builds, one-shot queries and merge: checkpoint stage walls of the
    # main build, event-log totals per call
    ops = res["ops"]
    attributed = tracing.attribute(log, ops)
    for stage in ("docstats", "symbols", "segments", "dictionary", "champions"):
        layers[f"index.stage_s.{stage}"] = sum(
            s["end"] - s["start"] for s in res["spans"]
            if s["name"] == f"index.stage.{stage}" and s["rid"] == 0)
    build = attributed[0]
    for key in ("jobs", "stages", "executor_cpu_s", "shuffle_write_mb", "driver_gap_s"):
        layers[f"spark.build.{key}"] = build[key]
    merge = next(a for a in attributed if a["name"] == "merge.merge_indexes")
    layers["merge.wall_s"] = merge["wall_s"]
    for key in ("jobs", "executor_cpu_s", "shuffle_write_mb"):
        layers[f"spark.merge.{key}"] = merge[key]
    one = [a for a in attributed if a["name"] == "index.query_index"]
    layers["index.oneshot_ms"] = 1000 * statistics.median(a["wall_s"] for a in one[1:])
    layers["spark.oneshot.jobs_per_query"] = statistics.fmean(a["jobs"] for a in one)
    tb = [1000 * (s["end"] - s["start"]) for s in res["spans"] if s["name"] == "index.term_buckets"]
    layers["index.term_buckets_ms"] = statistics.fmean(tb) if tb else 0.0
    for part in ("segments", "dictionary", "champions", "symbols", "docstats"):
        layers[f"index.bytes.{part}"] = dir_bytes(Path(spec["index"], part)) / (1024 * 1024)
    layers["segments.encode_postings_per_s"] = encode_rate(main)
    layers["python_workers.peak_rss_mb"] = mem.workers_peak_mb

    # coverage: every timed in-process call
    jobs = job_spans(log)
    layers["trace.coverage_share"] = min(
        tracing.coverage(o, res["spans"], jobs) for o in ops + rep["ops"])
    # span recording: the replay's traced pass against its untraced pass
    layers["trace.overhead_share"] = (
        sum(o["wall_s"] for o in rep["ops"]) / sum(o["wall_s"] for o in rep["untraced_ops"]) - 1)
    return layers, failed, attempted


def job_spans(log: dict):
    return [(j["start"], j["end"]) for j in log["jobs"].values() if j["end"] is not None]


def encode_rate(corpus: gen.Corpus) -> float:
    """Postings per second through segments.encode_segment_rows, called
    on the driver over a fixed posting sample of the first documents."""
    import pandas as pd

    from searty_spark.segments import encode_segment_rows
    from searty_spark.tokenize import tokenize

    rows = []
    for doc_id, text in zip(corpus.doc_id[:ENCODE_DOCS], corpus.text[:ENCODE_DOCS]):
        toks = tokenize(text)
        pos: dict[str, list[int]] = {}
        for i, t in enumerate(toks):
            pos.setdefault(t, []).append(i)
        for t, ps in pos.items():
            rows.append((doc_id % 4, 0, t, doc_id, len(ps), ps, len(toks)))
    pdf = pd.DataFrame(rows, columns=["shard", "bucket", "term", "doc_id", "tf", "positions",
                                      "doc_len"])
    walls = []
    for _ in range(ENCODE_REPEATS):
        t0 = time.perf_counter()
        encode_segment_rows(pdf)
        walls.append(time.perf_counter() - t0)
    return len(pdf) / statistics.median(walls)


# --------------------------------------------------------------------------
# dedup


def dedup(run: Run, mem: PeakRss) -> dict:
    t0 = time.perf_counter()
    vocab = gen.vocabulary(run.seed, VOCAB)
    docs = gen.corpus(run.seed, "dedup", N_DEDUP_DOCS, vocab, n_clusters=N_DEDUP_DOCS // 16)
    emb = gen.embeddings(run.seed, N_VECTORS, DIM, n_clusters=N_VEC_CLUSTERS, cone=CONE)
    gen.write_parquet(run.path("docs.parquet"), docs.columns())
    gen.write_embeddings(run.path("emb.parquet"), emb)
    gen_s = time.perf_counter() - t0
    spec = {"docs": run.path("docs.parquet"), "embeddings": run.path("emb.parquet"),
            "jaccard": JACCARD, "cosine": COSINE, "dim": DIM}
    if run.trace:
        # untraced, traced, untraced: the traced session is compared with
        # the mean of the two around it, so a drift in speed over the
        # sessions (a warming file cache) cancels out of the ratio
        untraced = [run.phase("dedup", spec, trace=False)]
        res = run.phase("dedup", spec, trace=True)
        untraced.append(run.phase("dedup", spec, trace=False))
    else:
        res = run.phase("dedup", spec, trace=False)
    setup_s = gen_s + res["session_s"]

    # ---- checks
    texts = dict(zip(docs.doc_id, docs.text))
    sh = {d: checks.shingles(t) for d, t in texts.items()}
    planted_docs = {p for p in checks.planted_pairs(docs.clusters)
                    if checks.jaccard(sh[p[0]], sh[p[1]]) >= JACCARD}
    planted_vecs = checks.planted_pairs(emb.clusters)
    bad_docs, found_docs = checks.check_jaccard_pairs(res["minhash"], texts, JACCARD)
    bad_vecs, found_vecs = checks.check_cosine_pairs(res["lsh"], emb.vectors, COSINE)
    recall_docs = checks.recall(found_docs, planted_docs)
    recall_vecs = checks.recall(found_vecs, planted_vecs)
    failed = (bool(bad_docs) or recall_docs < checks.RECALL_FLOOR) + (
        bool(bad_vecs) or recall_vecs < checks.RECALL_FLOOR)

    minhash_s, lsh_s = (o["wall_s"] for o in res["ops"])
    named = {
        "setup_s": metric(setup_s, "s", gen_s=gen_s, session_s=res["session_s"]),
        "peak_rss_mb": metric(mem.peak_mb, "MB", at_peak=mem.at_peak),
        "fail_share": metric(failed / 2, "ratio", 2),
        "minhash_docs_per_s": metric(N_DEDUP_DOCS / minhash_s, "docs/s", 1),
        "lsh_vectors_per_s": metric(N_VECTORS / lsh_s, "vectors/s", 1),
        "dedup.planted_recall": metric(recall_docs, "ratio", len(planted_docs)),
        "ann.planted_recall": metric(recall_vecs, "ratio", len(planted_vecs)),
        "dedup.dup_doc_share": metric(sum(map(len, docs.clusters)) / N_DEDUP_DOCS, "ratio"),
    }
    slots = {
        "rate_a_per_s": named["minhash_docs_per_s"]["value"],
        "rate_b_per_s": named["lsh_vectors_per_s"]["value"],
        "lat_a_ms": 1000 * minhash_s,
        "lat_b_ms": 1000 * lsh_s,
    }
    out = {"named": named, "slots": slots, "attempted": 2, "failed": failed}
    if run.trace:
        layers: dict[str, float] = {}
        attributed = tracing.attribute(res["log"], res["ops"])
        for (short, keys), a in zip(
            (("minhash", ("executor_cpu_s", "shuffle_write_mb", "stages")),
             ("lsh", ("executor_cpu_s", "shuffle_write_mb", "peak_task_mem_mb"))),
            attributed,
        ):
            for key in keys:
                layers[f"spark.{short}.{key}"] = a[key]
        layers["python_workers.peak_rss_mb"] = mem.workers_peak_mb
        layers["dedup.pairs"] = len(res["minhash"])
        layers["ann.pairs"] = len(res["lsh"])
        layers["ann.max_bucket_rows"] = res["max_bucket_rows"]
        layers["dedup.dup_doc_share"] = named["dedup.dup_doc_share"]["value"]
        layers["trace.coverage_share"] = min(
            tracing.coverage(o, res["spans"], job_spans(res["log"])) for o in res["ops"])
        plain = statistics.fmean(sum(o["wall_s"] for o in u["ops"]) for u in untraced)
        layers["trace.overhead_share"] = sum(o["wall_s"] for o in res["ops"]) / plain - 1
        out["layers"] = layers
    return out


WORKLOADS = {"serve": serve, "dedup": dedup}


def load_spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not (ROOT / "searty_spark" / "__init__.py").is_file():
        print(f"searty_spark not found under {ROOT}: run from a repository checkout",
              file=sys.stderr)
        return 2
    spec = load_spec()
    run = Run(args)
    try:
        with PeakRss() as mem:
            out = WORKLOADS[args.workload](run, mem)
    finally:
        shutil.rmtree(run.work, ignore_errors=True)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "named": out["named"],
                      "phase_s": run.walls}))
    if args.trace:
        names = [m["name"] for m in spec["per_layer"]]
        layers = out["layers"]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        metrics = {n: {"value": layers.get(n, 0.0), "unit": units[n]} for n in names}
    else:
        values = dict(out["slots"], setup_s=out["named"]["setup_s"]["value"],
                      peak_rss_mb=out["named"]["peak_rss_mb"]["value"])
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": out["failed"] == 0, "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
