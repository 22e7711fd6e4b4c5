"""The benchmark's Spark-side phases, each run in a child process of
``run.py`` so that at most one Spark JVM is alive at a time and the
parent — the load generator and memory sampler — holds none.

    python3 perfbench/phases.py {serve|dedup} SPEC.json

SPEC names the phase's inputs, where to write its result JSON (``out``)
and, when ``trace`` is set, its spans (``spans``) and Spark event log
(``eventlog``). Every phase drives the program through its public entry
points only.

The ``serve`` phase builds the index and then hands its standard input
and output to ``searty_spark.cli.main(["serve", ...])``: the parent
speaks the serve line protocol to this process. Before serve starts it
prints one ``{"built": ...}`` line with the timings so far.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
sys.path.insert(0, str(Path(__file__).resolve().parent))

from tracing import Spans  # noqa: E402

K = 10


def start_session(spec: dict):
    """SparkSession through the program's factory; the event log is
    switched on from outside when tracing. Returns (spark, seconds)."""
    from searty_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if spec["trace"]:
        Path(spec["eventlog"]).mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": Path(spec["eventlog"]).resolve().as_uri(),
            "spark.eventLog.compress": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark(extra_conf=conf)
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit, so no process of this
    phase outlives it."""
    from pyspark import SparkContext

    jvm = SparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()  # the gateway JVM exits at end of input
    jvm.wait(timeout=60)


class Ops:
    """Timed public calls: wall, epoch window and job group of each."""

    def __init__(self, spark, spans: Spans):
        self.sc = spark.sparkContext
        self.spans = spans
        self.items: list[dict] = []

    def run(self, name: str, fn, rid=None):
        group = f"perfbench-{len(self.items)}"
        if self.spans.enabled:
            # thread-local: labels the jobs this thread starts; jobs from
            # the program's own threads are attributed by time window
            self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        start = time.time()
        with self.spans.span(name, rid) as rec:
            out = fn()
        wall = time.perf_counter() - t0
        if self.spans.enabled:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.items.append({"name": name, "start": start, "end": time.time(),
                           "wall_s": wall, "group": group, "rid": rid,
                           "id": rec["id"] if rec else None})
        return out


def wrap_actions(spans: Spans) -> None:
    """Spans around the Spark actions the program issues itself (the
    writes and collects inside merge_indexes, write_champions, ...)."""
    from pyspark.sql import DataFrame, DataFrameWriter

    spans.wrap_by_caller(DataFrameWriter, "parquet")
    spans.wrap_by_caller(DataFrame, "collect")


def stage_spans(spans: Spans, index_dir: str, rid) -> None:
    """One span per write_index stage, from the build's own
    checkpoint.jsonl (end = commit time, start = end - stage wall)."""
    for line in Path(index_dir, "checkpoint.jsonl").read_text().splitlines():
        rec = json.loads(line)
        stage = rec["unit"].split("/")[0]
        spans.add(f"index.stage.{stage}", rec["ts"] - rec["wall_sec"], rec["ts"], rid=rid)


def phase_serve(spec: dict, spans: Spans) -> dict:
    """Cold write_index of the main corpus, then ``cli serve`` on it over
    this process's stdin/stdout until the client sends ``:quit``.

    Traced runs then continue with what the untraced runs leave out:
    one-shot query_index calls, a second corpus built and merged, and an
    in-process replay of a request sample."""
    from searty_spark import champions, cli, index, wand
    from searty_spark.merge import merge_indexes

    spark, session_s = start_session(spec)
    ops = Ops(spark, spans)
    main_dir = spec["index"]
    corpus = spark.read.parquet(spec["corpus"])
    ops.run("index.write_index", lambda: index.write_index(corpus, main_dir, resume=False),
            rid=0)
    print(json.dumps({"built": {"session_s": session_s, "ops": ops.items}}), flush=True)
    cli.main(["serve", "--index", main_dir, "-k", str(K), "--threads", str(spec["threads"])])
    out = {"session_s": session_s, "ops": ops.items}
    if not spans.enabled:
        return out

    stage_spans(spans, main_dir, 0)
    wrap_actions(spans)
    spans.wrap(index, "term_buckets", "index.term_buckets")
    spans.wrap(champions.ChampionClient, "__init__", "champions.client_init")
    spans.wrap(champions.ChampionClient, "lookup", "champions.lookup")
    spans.wrap(wand, "wand_topk", "wand.plan")
    out["oneshot"] = [ops.run("index.query_index", lambda: one_shot(spark, main_dir, q, spans),
                              rid=j)
                      for j, q in enumerate(spec["oneshot"])]
    second = spark.read.parquet(spec["second"])
    ops.run("index.write_index",
            lambda: index.write_index(second, spec["index_second"], resume=False), rid=1)
    stage_spans(spans, spec["index_second"], 1)
    ops.run("merge.merge_indexes",
            lambda: merge_indexes(spark, [main_dir, spec["index_second"]], spec["merged"]))
    out["replay"] = replay(spark, spec, spans)
    return out


def one_shot(spark, index_dir: str, q: str, spans: Spans) -> list:
    """The CLI query path: query_index and collect, with no warm cache
    (the champion-sidecar verification an earlier call memoized is
    forgotten first)."""
    from searty_spark import champions, index

    champions._VERIFY_CACHE.clear()
    df = index.query_index(spark, index_dir, q, k=K)
    with spans.span("wand.collect"):
        return [[r["doc_id"], r["score"]] for r in df.collect()]


def replay(spark, spec: dict, spans: Spans) -> dict:
    """In-process replay of a sample of the serve requests, single
    threaded, against warm state built the way ``cli serve`` builds it
    (``cli._warm_server``), mirroring serve's request handler.

    After a short warm-up, the sample runs four times, each time with
    fresh term-df and champion clients: twice untraced and twice with a
    span around each call into a layer (the traced/untraced wall ratio is
    the span overhead). The scoring kernels are then timed on the driver over
    each BM25 query's collected segment rows, outside any request."""
    from pyspark.sql import functions as F

    from searty_spark import cli
    from searty_spark.champions import ChampionClient, champion_theta
    from searty_spark.phrase_seg import phrase_bm25_topk_segments
    from searty_spark.segments import decode_segment_scores
    from searty_spark.tokenize import tokenize
    from searty_spark.wand import SCORE_COLS, TermDfClient, shard_topk, wand_topk

    index_dir = spec["index"]
    stats, seg, _, _ = cli._warm_server(spark, index_dir)
    n_docs, avgdl, n_shards = stats["n_docs"], stats["avgdl"], stats["n_shards"]
    span = spans.span

    def answer(q: str, phrase: bool, dic, champs):
        with span("tokenize"):
            terms = sorted(set(tokenize(q)))
        with span("wand.df_lookup"):
            dfl = dic.lookup(terms)
        if phrase:
            with span("phrase_seg.plan"):
                df = phrase_bm25_topk_segments(
                    seg, q, k=K, n_docs=n_docs, avgdl=avgdl, n_shards=n_shards,
                    df_lookup=dfl, pre_partitioned=True)
            with span("phrase_seg.collect"):
                rows = df.collect()
            return [[r["doc_id"], r["score"]] for r in rows], dfl, 0.0
        with span("champions.theta"):
            theta = champion_theta(champs.lookup(terms), dfl, K, n_docs, avgdl)
        with span("wand.plan"):
            df = wand_topk(seg, None, q, k=K, n_docs=n_docs, avgdl=avgdl,
                           n_shards=n_shards, df_lookup=dfl, theta0=theta,
                           pre_partitioned=True)
        with span("wand.collect"):
            rows = df.collect()
        return [[r["doc_id"], r["score"]] for r in rows], dfl, theta

    def run_sample(lines, ops: Ops):
        dic, champs = TermDfClient(spark, index_dir), ChampionClient(spark, index_dir)
        out = []
        for rid, line in enumerate(lines):
            q = line.removeprefix(":phrase ")
            phrase = q != line
            out.append((q, phrase, *ops.run(f"replay.{rid}",
                                             lambda: answer(q, phrase, dic, champs), rid=rid)))
        return out

    spans.enabled = False
    run_sample(spec["replay_warmup"], Ops(spark, spans))
    # untraced, traced, traced, untraced: a drift in speed over the
    # passes (warming code) cancels out of the traced/untraced ratio
    plain, ops = Ops(spark, spans), Ops(spark, spans)
    run_sample(spec["replay"], plain)
    spans.enabled = True
    answers = run_sample(spec["replay"], ops)
    run_sample(spec["replay"], ops)
    spans.enabled = False
    run_sample(spec["replay"], plain)
    spans.enabled = True

    kernels = {"wand.shard_topk": 0.0, "segments.decode": 0.0}
    n_kernel = 0
    for q, phrase, _, dfl, theta in answers:
        if phrase:
            continue
        terms = sorted(set(tokenize(q)))
        by_shard: dict[int, list[dict]] = {}
        for r in seg.filter(F.col("term").isin(terms)).select(*SCORE_COLS).collect():
            row = r.asDict()
            row["df_global"] = dfl.get(row["term"])
            by_shard.setdefault(row["shard"], []).append(row)
        n_kernel += 1
        t0 = time.perf_counter()
        for rows in by_shard.values():
            shard_topk(rows, n_docs, avgdl, K, theta)
        t1 = time.perf_counter()
        for rows in by_shard.values():
            for row in rows:
                decode_segment_scores(row)
        kernels["wand.shard_topk"] += t1 - t0
        kernels["segments.decode"] += time.perf_counter() - t1
    return {"ops": ops.items, "untraced_ops": plain.items,
            "results": [a[2] for a in answers],
            "kernel_ms": {k: 1000 * v / max(n_kernel, 1) for k, v in kernels.items()}}


def phase_dedup(spec: dict, spans: Spans) -> dict:
    """One pass of minhash_lsh_pairs over the text corpus, then one of
    cosine_dup_pairs_lsh over the embeddings, in a fresh session: what a
    batch dedup job pays, lazy start-up included."""
    from pyspark.sql import functions as F

    from searty_spark import ann, dedup

    spark, session_s = start_session(spec)
    docs = spark.read.parquet(spec["docs"])
    emb = spark.read.parquet(spec["embeddings"])
    ops = Ops(spark, spans)
    if spans.enabled:
        wrap_actions(spans)

    def pairs(layer: str, plan, cols):
        # the plan span holds what the call runs eagerly (minhash's
        # candidate checkpoint), the collect span the rest
        with spans.span(f"{layer}.plan"):
            df = plan()
        with spans.span(f"{layer}.collect"):
            rows = df.collect()
        return sorted(tuple(r[c] for c in cols) for r in rows)

    minhash = ops.run("dedup.minhash_lsh_pairs", lambda: pairs(
        "dedup", lambda: dedup.minhash_lsh_pairs(docs, threshold=spec["jaccard"]),
        ("doc_a", "doc_b", "jacc")))
    lsh = ops.run("ann.cosine_dup_pairs_lsh", lambda: pairs(
        "ann", lambda: ann.cosine_dup_pairs_lsh(emb, threshold=spec["cosine"], dim=spec["dim"]),
        ("vec_id_a", "vec_id_b", "cos")))
    out = {"session_s": session_s, "ops": ops.items, "minhash": minhash, "lsh": lsh}
    if spec["trace"]:
        # input property, outside the timed calls: rows in the largest
        # (band, key) bucket, through the program's own band keys
        out["max_bucket_rows"] = (
            ann.lsh_band_keys(emb, spec["dim"]).groupBy("band", "key").count()
            .agg(F.max("count")).collect()[0][0]
        )
    return out


PHASES = {"serve": phase_serve, "dedup": phase_dedup}


def main(argv: list[str]) -> None:
    from pyspark.sql import SparkSession

    phase, spec_path = argv
    spec = json.loads(Path(spec_path).read_text())
    spans = Spans(enabled=spec["trace"])
    out = PHASES[phase](spec, spans)
    if spec["trace"]:
        spans.dump(spec["spans"])
    Path(spec["out"]).write_text(json.dumps(out))
    stop_session(SparkSession.getActiveSession())


if __name__ == "__main__":
    main(sys.argv[1:])
