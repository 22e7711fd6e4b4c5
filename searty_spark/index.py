"""On-disk index: build, checkpoint/resume, load, query.

Directory layout (each stage is an independently committed table —
the Spark analogue of the reference's one-transaction-per-build,
ref lib/database/database.go:79-105, re-architected so a failed build
resumes from the last committed unit):

    <dir>/docstats/           (doc_id, doc_len) parquet
    <dir>/dictionary/         (term, token_id, df_global) parquet —
                              DERIVED from the segment rows after the
                              segment stage (segments are stats-free,
                              so no dictionary pre-pass exists and the
                              whole build is ONE token pass)
    <dir>/segments/shard=N/bucket=M/   segment rows parquet
                              (token rows shuffle straight from the
                              tokenizer into the segment encoder —
                              no postings intermediate; see
                              segments.build_segments_from_tokens)
    <dir>/champions/          per-head-term champion lists (+
                              champions_meta.json stamps), DERIVED from
                              the segment rows like the dictionary
    <dir>/stats.json          {format, analyzer, n_docs, avgdl, sum_dl,
                              n_shards, n_buckets}
    <dir>/checkpoint.jsonl    one line per committed unit:
                              {unit, ts, wall_sec[, rows]} — unit is
                              docstats | symbols | documents |
                              segments/shards=A-B | dictionary | champions

The build is one stage table (write_index) run by run_stages; the
dictionary + champion stages (derived_stages) are shared with merge.
Resume: completed units are read from checkpoint.jsonl and skipped;
a unit's data write is idempotent (mode=overwrite of its own subtree)
so a crash between data-commit and checkpoint-append just redoes one
unit. On a real deployment the checkpoint file would be an Iceberg
table; the protocol is identical.

The segment table is hive-partitioned by (shard, bucket) so query-term
bucket pruning happens at file-listing time — the analogue of the
reference's token_id PK index seek (ref lib/database/database.go:508-526).
"""

from __future__ import annotations

import json
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_SHARDS = 4
DEFAULT_BUCKETS = 32

# Kind-composite token identity for the Lisp analyzer (SURVEY.md T2):
# the reference declares a per-token `kind` column it never writes
# (ref lib/database/schema.sql:12-16, SURVEY §1.2); here token identity
# IS (kind, term), realized as one composite string so the entire
# segment/bucket/dictionary/query machinery applies unchanged — a
# kind-filtered query is an ordinary pushed-filter term lookup.
LISP_KIND_SEP = "\x1f"


def lisp_term(kind: str, term: str) -> str:
    return f"{kind}{LISP_KIND_SEP}{term}"


# On-disk format version, stamped into stats.json. Bump whenever the
# segment/dictionary layout changes incompatibly (format 1 = round-1
# indexes with df_global/block_max_impact baked into segments; format 2
# = stats-free blocks with (block_max_tf, block_min_dl) and a post-hoc
# dictionary). load_stats fails fast with a rebuild hint instead of
# letting the query kernels die on a deep KeyError.
INDEX_FORMAT = 2


def term_buckets(spark: SparkSession, terms: list[str], n_buckets: int) -> list[int]:
    """Buckets of the given terms — computed with the SAME JVM xxhash64
    used at write time (a driver-side reimplementation would risk
    drift)."""
    df = spark.createDataFrame([(t,) for t in terms], "term string")
    return [
        r[0]
        for r in df.select(
            F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int").alias("b")
        )
        .distinct()
        .collect()
    ]


def _ckpt_path(out_dir: str) -> Path:
    return Path(out_dir) / "checkpoint.jsonl"


def _done_units(out_dir: str) -> set[str]:
    p = _ckpt_path(out_dir)
    if not p.exists():
        return set()
    return {json.loads(line)["unit"] for line in p.read_text().splitlines() if line}


def _commit(out_dir: str, unit: str, **metrics) -> None:
    rec = {"unit": unit, "ts": time.time(), **metrics}
    with _ckpt_path(out_dir).open("a") as f:
        f.write(json.dumps(rec) + "\n")


def run_stages(stages: list, done=frozenset(), ckpt_dir: str | None = None) -> dict:
    """Run a stage table on one thread pool; returns {unit: wall_sec}.

    A stage is ``(unit, deps, fn)``. It starts once every stage of each
    unit named in ``deps`` has finished; the stages of a unit in
    ``done`` are skipped and count as finished. Several stages may share
    a unit: once the last of them finishes, the unit commits ONE
    checkpoint record to ``ckpt_dir`` (when given) — its wall since its
    first stage started, plus the metrics dicts its stages returned.
    Unit None commits nothing. Commits happen on the calling thread, so
    the jsonl stays line-atomic without a lock.

    After a failure no further stage starts; the running ones finish
    (and commit), then the first error is re-raised — a resume redoes
    only the failed unit and what depends on it."""
    import concurrent.futures as cf
    from collections import Counter

    todo = [s for s in stages if s[0] not in done]
    left = Counter(unit for unit, _, _ in todo)  # unfinished stages per unit
    started: dict = {}
    metrics: dict = {}
    walls: dict[str, float] = {}
    running: dict = {}
    error: BaseException | None = None
    # one thread per stage: every ready stage starts at once, so the
    # table alone decides the overlap
    with cf.ThreadPoolExecutor(max_workers=max(1, len(todo))) as pool:
        while running or (todo and error is None):
            ready = [] if error else [s for s in todo if not any(left[d] for d in s[1])]
            for s in ready:
                todo.remove(s)
                started.setdefault(s[0], time.perf_counter())
                running[pool.submit(s[2])] = s[0]
            if not running:
                raise RuntimeError(f"stage table has a cycle: {[s[0] for s in todo]}")
            finished, _ = cf.wait(running, return_when=cf.FIRST_COMPLETED)
            for f in finished:
                unit = running.pop(f)
                if f.exception() is not None:
                    error = error or f.exception()
                    continue
                metrics.setdefault(unit, {}).update(f.result() or {})
                left[unit] -= 1
                if unit is not None and not left[unit]:
                    walls[unit] = time.perf_counter() - started[unit]
                    if ckpt_dir is not None:
                        _commit(ckpt_dir, unit, wall_sec=walls[unit], **metrics[unit])
    if error is not None:
        raise error
    return walls


def derived_stages(
    spark: SparkSession, out_dir: str, after=(), champions: bool = True
) -> list:
    """The dictionary and champion-sidecar stages of the index at
    ``out_dir``, both starting after the ``after`` units — the one
    derivation write_index, merge_indexes and _merge_dedup share. Both
    read only the WRITTEN segment rows (+ stats.json), never each
    other, so they overlap: the champion head terms sum per-shard df
    from the segment rows (the same df_global the dictionary
    materializes) and the champion stamp scans the segment fingerprint
    itself."""

    def dictionary():
        # global df of a term = sum of its per-shard dfs (doc sets
        # disjoint); aggregates the tiny (n_terms x n_shards) segment-row
        # table, not the token stream. The term count rides the write as
        # an observe metric — no read-back job.
        from pyspark.sql import Observation

        obs = Observation("dict_rows")
        (
            load_segments(spark, out_dir)
            .groupBy("term")
            .agg(F.sum("df").cast("long").alias("df_global"))
            .select("term", F.xxhash64("term").alias("token_id"), "df_global")
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .write.mode("overwrite")
            .parquet(str(Path(out_dir) / "dictionary"))
        )
        return {"rows": int(obs.get["n"])}

    def champion_lists():
        # per-head-term top-B postings by impact (stats-free: (doc, tf,
        # dl) rows, scores recomputed at query time) — seeds MaxScore's
        # theta (champions.py for the safety argument). Tail corpora
        # produce an empty sidecar (no head terms).
        from searty_spark.champions import write_champions

        stats = load_stats(out_dir)
        n = write_champions(
            load_segments(spark, out_dir), out_dir, stats["n_docs"], stats["avgdl"]
        )
        return {"rows": n}

    after = tuple(after)
    return [("dictionary", after, dictionary)] + (
        [("champions", after, champion_lists)] if champions else []
    )


def _prewarm_python_workers(spark: SparkSession) -> None:
    """Warm one reusable Python worker per core (see write_index).
    Best-effort: failure costs nothing, the encoder pays the spin-up."""
    try:
        n = spark.sparkContext.defaultParallelism

        def _touch(batches):
            import numpy  # noqa: F401  — the encoder's imports
            import pandas  # noqa: F401

            yield from batches

        (
            spark.range(n)
            .repartition(n)
            .mapInPandas(_touch, "id long")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
    except Exception:
        pass


def write_index(
    corpus: DataFrame,
    out_dir: str,
    n_shards: int = DEFAULT_SHARDS,
    n_buckets: int = DEFAULT_BUCKETS,
    resume: bool = True,
    text_col: str = "text",
    shard_batch: int | None = None,
    store_docs: bool = False,
    doc_key: str | None = "auto",
    analyzer: str = "trigram",
) -> dict:
    """Build the full index with per-unit checkpoints. Returns metrics.

    ``analyzer`` selects the tokenizer (ref: the per-corpus analyzer
    choice, SURVEY.md T1/T2): "trigram" (default) or "lisp" — the
    kind-aware lexical scanner, whose token identity is the
    (kind, term) composite (see LISP_KIND_SEP). The lisp doc length is
    the document's TOKEN count (trigram doc_len is char-derived), so
    the docstats stage runs one extra tokenize pass; query with
    query_index_lisp.

    ``store_docs`` additionally persists (doc_id, url, text) — the
    analogue of the reference's ``document`` table (schema.sql:1-8)
    that its result pretty-printer resolves against
    (lib/searcher/pretty_print.go:43-76). Off by default: at corpus
    scale the source table itself serves that role.

    ``doc_key`` names the DOCUMENT-IDENTITY column (the reference's
    ``document.filename``) stored in docstats for shared-identity
    merge. "auto" picks ``url`` when present and nothing otherwise —
    it deliberately does NOT fall back to categorical columns like
    ``source`` (a non-unique key would make dedup merge collapse
    distinct documents). Pass the column name explicitly to override.
    """
    if analyzer not in ("trigram", "lisp"):
        raise ValueError(f"unknown analyzer {analyzer!r} (trigram | lisp)")
    spark = corpus.sparkSession
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    done = _done_units(out_dir) if resume else set()
    if not resume and _ckpt_path(out_dir).exists():
        _ckpt_path(out_dir).unlink()

    # the document-identity key (ref: document.filename) rides along in
    # docstats — it is what shared-identity merge dedups on
    if doc_key == "auto":
        key_col = "url" if "url" in corpus.columns else None
    else:
        key_col = doc_key
        if key_col is not None and key_col not in corpus.columns:
            raise ValueError(f"doc_key column {key_col!r} not in corpus")

    if "docstats" in done:
        # resuming: fail fast on a foreign format (load_stats) or a mixed
        # analyzer BEFORE any stage runs — resuming a trigram checkpoint
        # with analyzer="lisp" would skip the char-derived docstats stage
        # and then join lisp tokens onto trigram doc lengths
        prior = load_stats(out_dir).get("analyzer", "trigram")
        if prior != analyzer:
            raise ValueError(
                f"index at {out_dir} was started with analyzer={prior!r}; "
                f"resuming with {analyzer!r} would mix analyzers — use a "
                "fresh out_dir or resume with the original analyzer"
            )

    # --- docstats: (doc_id, doc_len[, key, lang]) + stats.json -----------
    def docstats():
        # one narrow projection, no join: doc_len is an expression over
        # the text column and key/lang ride along from the same row
        extra = ([F.col(key_col).alias("key")] if key_col else []) + (
            [F.col("lang")] if "lang" in corpus.columns else []
        )
        if analyzer == "lisp":
            # lisp doc length = token count (the BM25 length norm for
            # the lexical analyzer); docs with zero tokens keep a row
            from searty_spark.lisp_tokenizer import lisp_token_rows

            counts = (
                lisp_token_rows(corpus, text_col)
                .groupBy("doc_id")
                .agg(F.count("*").alias("doc_len"))
            )
            extra_names = (["key"] if key_col else []) + (
                ["lang"] if "lang" in corpus.columns else []
            )
            ds = (
                corpus.select("doc_id", *extra)
                .join(counts, "doc_id", "left")
                .withColumn("doc_len", F.coalesce("doc_len", F.lit(0)).cast("long"))
                .select("doc_id", "doc_len", *extra_names)
            )
        else:
            ds = corpus.select(
                "doc_id",
                F.greatest(F.char_length(F.col(text_col)) - F.lit(2), F.lit(0))
                .cast("long")
                .alias("doc_len"),
                *extra,
            )
        # the corpus scalars ride the write itself as observe metrics —
        # no read-back aggregation job
        from pyspark.sql import Observation

        obs_ds = Observation("docstats_scalars")
        ds.observe(
            obs_ds,
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_len").alias("s"),
            F.avg("doc_len").alias("a"),
        ).write.mode("overwrite").parquet(str(out / "docstats"))
        row = obs_ds.get
        stats = {
            "format": INDEX_FORMAT,
            "analyzer": analyzer,
            "n_docs": int(row["n"]),
            "sum_dl": int(row["s"]),
            "avgdl": float(row["a"]),
            "n_shards": n_shards,
            "n_buckets": n_buckets,
        }
        (out / "stats.json").write_text(json.dumps(stats))
        return {"rows": stats["n_docs"]}

    # --- symbols: the symbol/package sidecar, three independent writes ----
    # the analogue of the reference's symbol/package/symbol_definition/
    # package_definition tables (schema.sql:26-64), persisted next to the
    # segments so `query --symbol` never touches the corpus. Only emitted
    # when the corpus carries a lang column (the package analogue). The
    # two symbol tables each recompute the sites explode — with the
    # stepped-sequence extraction (symbols.py) the recompute (~0.8 s at
    # sf1.0) is cheaper than cache materialization (measured: cold cache
    # 6.1 s vs recompute 2.6 s for the stage; warm a wash), and no
    # storage stays pinned.
    def write_entity():
        from searty_spark.symbols import _definition_sites

        # entity tables are small by construction (distinct symbols /
        # packages, not per-occurrence rows) — coalesce so local runs
        # don't write shuffle.partitions-many near-empty files. distinct
        # BEFORE the md5: the surrogate id is a pure function of
        # (package_name, symbol_name), so hashing after the distinct
        # computes ~n_symbols md5s instead of one per occurrence row.
        _definition_sites(corpus).select(
            F.col("symbol_name").alias("name"), "package_name"
        ).distinct().select(
            F.md5(F.concat_ws(":", F.col("package_name"), F.col("name"))).alias("id"),
            "name",
            "package_name",
        ).coalesce(4).write.mode("overwrite").parquet(str(out / "symbols"))

    def write_defs():
        from searty_spark.symbols import _definition_sites, _symbol_id

        # the per-occurrence definitions table keeps its partitioning
        _definition_sites(corpus).select(
            _symbol_id().alias("symbol_id"), "specifier", "doc_id", "position"
        ).write.mode("overwrite").parquet(str(out / "symbol_definitions"))

    def write_packages():
        # nb: the package tables are bounded by the number of distinct
        # languages, but collecting them and writing via
        # spark.createDataFrame is NOT a shortcut here — local-relation
        # parquet writes cost 4-7 s each in this environment (measured)
        # versus ~0.45 s per corpus-aggregation write. Both tables
        # project from ONE corpus aggregation (distinct langs with their
        # min doc_id — a superset of package_table's key set and exactly
        # package_definitions' rows), checkpointed because it is bounded
        # by the language count, so the corpus is scanned once here
        # instead of twice.
        pk = (
            corpus.groupBy(F.upper("lang").alias("name"))
            .agg(F.min("doc_id").alias("doc_id"))
            .localCheckpoint(eager=True)
        )
        pk.select(F.md5("name").alias("id"), "name").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(out / "packages"))
        pk.select(
            F.md5("name").alias("package_id"),
            F.lit("DEFPACKAGE").alias("specifier"),
            "doc_id",
            F.lit(0).cast("long").alias("position"),
        ).coalesce(1).write.mode("overwrite").parquet(str(out / "package_definitions"))

    def write_documents():
        cols = ["doc_id"] + [c for c in ("url",) if c in corpus.columns] + [text_col]
        corpus.select(*cols).write.mode("overwrite").parquet(str(out / "documents"))

    # --- segments, in resumable shard batches -----------------------------
    def tokens_with_len():
        from searty_spark.session import spread_input

        # Web text compresses ~10x in parquet and explodes ~3x at
        # tokenize time, so input splits sized for scan parallelism are
        # far too coarse for the tokenize stages — spread the corpus.
        src = spread_input(corpus)
        if analyzer == "lisp":
            from searty_spark.lisp_tokenizer import lisp_token_rows

            toks = lisp_token_rows(src, text_col).select(
                "doc_id",
                F.concat(F.col("kind"), F.lit(LISP_KIND_SEP), F.col("term")).alias(
                    "term"
                ),
                "pos",
            )
            dl = spark.read.parquet(str(out / "docstats")).select("doc_id", "doc_len")
            return toks.join(dl, "doc_id").select("doc_id", "doc_len", "pos", "term")
        from searty_spark.tokenize import trigrams_col

        return src.select(
            "doc_id",
            F.greatest(F.char_length(F.col(text_col)) - F.lit(2), F.lit(0))
            .cast("long")
            .alias("doc_len"),
            F.posexplode(trigrams_col(text_col)).alias("pos", "term"),
        )

    def write_segments(lo: int, hi: int):
        from searty_spark.segments import build_segments_from_tokens

        toks = tokens_with_len().filter(
            F.pmod(F.col("doc_id"), F.lit(n_shards)).between(lo, hi - 1)
        )
        # dynamic partition overwrite makes the unit write idempotent
        build_segments_from_tokens(
            toks, n_shards=n_shards, n_buckets=n_buckets
        ).write.partitionBy("shard", "bucket").mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).parquet(str(out / "segments"))

    # --- the stage table --------------------------------------------------
    # docstats, the symbol writes, documents and the first segment batch
    # are pure functions of the corpus over disjoint subtrees, so they
    # start together and back-fill each other's stragglers (guide §2.6).
    # Segment batches run one after another: the default is ONE batch
    # covering every shard; shard_batch < n_shards trades throughput for
    # finer resume granularity (at 10^12 docs a batch is the unit a
    # preempted cluster re-runs). The TRIGRAM token stream derives from
    # the corpus alone (doc_len is an expression over text); the lisp
    # token lengths JOIN the docstats table, so its first batch waits.
    stages: list = [("docstats", (), docstats)]
    if "lang" in corpus.columns:
        stages += [("symbols", (), fn) for fn in (write_entity, write_defs, write_packages)]
    if store_docs:
        stages.append(("documents", (), write_documents))
    batch = shard_batch or n_shards
    prev = ("docstats",) if analyzer == "lisp" else ()
    seg_units = []
    for lo in range(0, n_shards, batch):
        hi = min(lo + batch, n_shards)
        unit = f"segments/shards={lo}-{hi - 1}"
        stages.append((unit, prev, lambda lo=lo, hi=hi: write_segments(lo, hi)))
        seg_units.append(unit)
        prev = (unit,)
    if not done.issuperset(seg_units):
        # Overlap Python-worker spin-up with the pure-JVM early stages:
        # the first applyInPandas stage (segments) otherwise pays daemon
        # fork + numpy/pandas import for every core inside its own wall.
        # One trivial mapInPandas job across the session's cores leaves
        # the worker pool warm (spark.python.worker.reuse); job groups
        # are thread-local, so it never relabels another stage's jobs.
        stages.append((None, (), lambda: _prewarm_python_workers(spark)))
    # dictionary ∥ champions last: write_champions flips AQE/shuffle
    # conf session-wide, so nothing but the dictionary may overlap it
    stages += derived_stages(spark, out_dir, after=[u for u, _, _ in stages if u])
    walls = run_stages(stages, done, out_dir)
    return {"stats": load_stats(out_dir), "units": walls}


def load_segments(spark: SparkSession, index_dir: str) -> DataFrame:
    return spark.read.parquet(str(Path(index_dir) / "segments"))


def load_stats(index_dir: str) -> dict:
    stats = json.loads((Path(index_dir) / "stats.json").read_text())
    fmt = stats.get("format", 1)
    if fmt != INDEX_FORMAT:
        raise ValueError(
            f"index at {index_dir} is on-disk format {fmt}, this build reads "
            f"format {INDEX_FORMAT} — rebuild it with write_index (or re-merge "
            "its sources); resuming a foreign-format checkpoint is unsafe"
        )
    return stats


def query_symbols(spark: SparkSession, index_dir: str, query: str) -> DataFrame:
    """Symbol-definition search against the persisted sidecar — the
    reference's `searty -symbol` path (cmd/searty/searty.go:38-44)."""
    from searty_spark.symbols import search_definition_tables

    d = Path(index_dir)
    if not (d / "symbols").exists():
        raise FileNotFoundError(f"{index_dir} has no symbol sidecar")
    syms = spark.read.parquet(str(d / "symbols"))
    defs = spark.read.parquet(str(d / "symbol_definitions"))
    ds = spark.read.parquet(str(d / "docstats"))
    meta = ds.select(
        "doc_id",
        (F.col("key") if "key" in ds.columns else F.col("doc_id").cast("string")).alias(
            "source"
        ),
    )
    return search_definition_tables(syms, defs, meta, query)


def query_index(
    spark: SparkSession, index_dir: str, query: str, k: int = 10
) -> DataFrame:
    """Top-k BM25 via block-max MaxScore with bucket partition pruning."""
    from searty_spark.tokenize import tokenize

    stats = load_stats(index_dir)
    if stats.get("analyzer", "trigram") != "trigram":
        raise ValueError(
            f"index at {index_dir} uses the {stats['analyzer']!r} analyzer — "
            "query it with query_index_lisp"
        )
    return _query_terms(spark, index_dir, stats, sorted(set(tokenize(query))), k)


def query_index_lisp(
    spark: SparkSession,
    index_dir: str,
    query: str,
    k: int = 10,
    kind: str = "SYMBOL",
) -> DataFrame:
    """Kind-filtered BM25 top-k over a Lisp-analyzer index: the query
    is lexed with the same scanner and its tokens OF THE GIVEN KIND
    become the composite query terms — e.g. kind="SYMBOL" matches only
    symbol occurrences, never the same text inside a string literal or
    comment. This is the query side of the reference's declared
    token.kind column (schema.sql:12-16); kind filtering costs nothing
    extra because kind is part of the pushed-down term key."""
    from searty_spark.lisp_tokenizer import lisp_tokenize

    stats = load_stats(index_dir)
    if stats.get("analyzer", "trigram") != "lisp":
        raise ValueError(
            f"index at {index_dir} uses the "
            f"{stats.get('analyzer', 'trigram')!r} analyzer, not 'lisp'"
        )
    terms = sorted({lisp_term(kind, t) for t, _, kd in lisp_tokenize(query) if kd == kind})
    return _query_terms(spark, index_dir, stats, terms, k)


def _query_terms(
    spark: SparkSession, index_dir: str, stats: dict, terms: list[str], k: int
) -> DataFrame:
    from searty_spark.wand import wand_topk

    seg = load_segments(spark, index_dir)
    theta0 = 0.0
    if terms:
        buckets = term_buckets(spark, terms, stats["n_buckets"])
        seg = seg.filter(F.col("bucket").isin(buckets))
        # champion-seeded theta: two bounded pushed-filter fetches
        # (query terms only), then every shard kernel block-prunes its
        # essential terms against it — results identical either way
        if (Path(index_dir) / "champions").exists():
            from searty_spark.champions import ChampionClient, champion_theta

            champs = ChampionClient(spark, index_dir).lookup(terms)
            if champs:
                dfs = {
                    r["term"]: int(r["df_global"])
                    for r in spark.read.parquet(str(Path(index_dir) / "dictionary"))
                    .filter(F.col("term").isin(list(champs)))
                    .collect()
                }
                theta0 = champion_theta(
                    champs, dfs, k, stats["n_docs"], stats["avgdl"]
                )
    dictionary = spark.read.parquet(str(Path(index_dir) / "dictionary"))
    return wand_topk(
        seg,
        dstats=None,
        query="",
        k=k,
        n_docs=stats["n_docs"],
        avgdl=stats["avgdl"],
        n_shards=stats["n_shards"],
        df_lookup=dictionary,
        terms=terms,
        theta0=theta0,
    )
