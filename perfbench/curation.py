"""``curation``: the data-curation pipeline as repeated batch passes.

One pass builds the shared shingle stage (``stage_shingles``, dropped from
the cache first, so it is rebuilt from the corpus), runs two dedup
families over the cached stage (``dedup_minhash_lsh``, ``dedup_simhash``),
then ``ann_cosine_bruteforce``, ``ann_topk_blocked`` and
``text_fingerprint``.  ``dedup_incremental_lsh`` is left out: it runs
the staged LSH machinery of ``dedup_minhash_lsh`` again, and its 5 s cold
and 2 s warm do not fit a run's time envelope.  The work is Python workers
(``mapInPandas``), interpreted higher-order-function stages and many small
shuffles around a Spark-cached stage.  Every timed query is materialized
through the noop sink: ``count()`` lets the optimizer prune work
(``text_fingerprint`` and ``hll_rollup_merge`` are the known cases).

The corpus is fixed (``make_corpus``); ``--seed`` only permutes the query
order after the stage.  The first pass of a run pays JIT and codegen
warm-up (2-3x a warm pass) and is the check: it collects every query and
compares row count and order-insensitive digest with its DuckDB oracle
from ``querybank.oracles()``.  The timed window then runs warm passes.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

import harness

QUERIES = (
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_cosine_bruteforce",
    "ann_topk_blocked",
    "text_fingerprint",
)
SHINGLE_VIEWS = ("__shingle_tokh", "__shingle_hs")

# corpus shape of the shipped testdata tiers: a 31-word vocabulary, 10-100
# tokens per document, 5 languages, 20 sources, 4% near-duplicate copies
# with 5% token substitution and 0.3% exact copies; 64-d unit embeddings
# around 10 cluster centres
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = (("de", 0.14), ("en", 0.41), ("es", 0.15), ("fr", 0.15), ("zh", 0.15))
SOURCES = tuple(f"src{i}" for i in range(20))
NEAR_DUP_RATE, EXACT_DUP_RATE, TOKEN_SUB_RATE = 0.04, 0.003, 0.05
EMBED_DIM, EMBED_CLUSTERS = 64, 10

SCALES = {
    # documents, embeddings
    "bench": (2000, 800),
    "tiny": (200, 100),
}
CORPUS_SEED = 42  # the corpus is fixed; --seed never reaches it


def make_corpus(out: str, n_docs: int, n_vecs: int) -> None:
    """Write ``documents.parquet`` and ``embeddings.parquet`` (one row
    group each, like the shipped tiers) into ``out``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(CORPUS_SEED)
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i and r < EXACT_DUP_RATE:
            texts.append(texts[rng.integers(0, i)])
        elif i and r < EXACT_DUP_RATE + NEAR_DUP_RATE:
            toks = texts[rng.integers(0, i)].split(" ")
            texts.append(
                " ".join(
                    VOCAB[rng.integers(0, len(VOCAB))]
                    if rng.random() < TOKEN_SUB_RATE
                    else t
                    for t in toks
                )
            )
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n)))
    langs, weights = zip(*LANGS)
    docs = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(
                [langs[j] for j in rng.choice(len(langs), n_docs, p=weights)],
                pa.string(),
            ),
            "source": pa.array(
                [SOURCES[j] for j in rng.integers(0, len(SOURCES), n_docs)],
                pa.string(),
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    centers = rng.normal(size=(EMBED_CLUSTERS, EMBED_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, EMBED_CLUSTERS, n_vecs)
    vecs = centers[labels] * 2.0 + rng.normal(size=(n_vecs, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embs = pa.table(
        {
            "vec_id": pa.array(range(n_vecs), pa.int64()),
            "embedding": pa.array(
                [row.astype(np.float32) for row in vecs], pa.list_(pa.float32())
            ),
            "label": pa.array(labels.astype(np.int32), pa.int32()),
        }
    )
    os.makedirs(out, exist_ok=True)
    for name, tbl in (("documents", docs), ("embeddings", embs)):
        tmp = os.path.join(out, f".{name}.parquet.tmp")
        pq.write_table(tbl, tmp, row_group_size=max(tbl.num_rows, 1))
        os.replace(tmp, os.path.join(out, f"{name}.parquet"))


def corpus_dir(scale: str) -> str:
    """The corpus for ``scale``, generated on first use."""
    n_docs, n_vecs = SCALES[scale]
    out = os.path.join(harness.WORK, "data", f"curation_{n_docs}_{n_vecs}")
    if not os.path.exists(os.path.join(out, "embeddings.parquet")):
        make_corpus(out, n_docs, n_vecs)
    return out


def oracle_digests(data_dir: str) -> dict[str, tuple[int, str]]:
    """(row count, digest) of every query's DuckDB oracle over the corpus,
    computed once per corpus and kept next to it."""
    path = os.path.join(data_dir, "oracle_digests.json")
    if os.path.exists(path):
        with open(path) as f:
            return {k: tuple(v) for k, v in json.load(f).items()}
    import duckdb

    from incubator_horaedb_spark import querybank
    from tools.check_correctness import table_digest

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    sqls = querybank.oracles()
    out = {}
    for name in QUERIES:
        cur = con.execute(sqls[name])
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        out[name] = (len(rows), table_digest(cols, rows))
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out


class Curation:
    UNIT_S = 9.0  # one warm pass on a quiet 4-core host

    def __init__(self, spark, args, tracer, data_dir: str):
        from incubator_horaedb_spark import querybank
        from incubator_horaedb_spark.querybank import llm_ops

        self.spark = spark
        self.data_dir = data_dir
        self.tracer = tracer
        self.llm_ops = llm_ops
        self.builders = querybank.queries()
        self.order = list(QUERIES)
        random.Random(args.seed).shuffle(self.order)
        self.want = oracle_digests(data_dir)
        self.mismatch: list[str] = []
        self.attempted = 0
        self.failed = 0

    def _clear_except_stage(self) -> None:
        """Drop every cache but the shared stage, so each query re-does its
        own work."""
        with self.tracer.span("bench.uncache"):
            for t in self.spark.catalog.listTables():
                if t.name not in SHINGLE_VIEWS and self.spark.catalog.isCached(t.name):
                    self.spark.catalog.uncacheTable(t.name)

    def _op(self, name: str, fn) -> float:
        """Runs one op; returns its latency in ms."""
        self.attempted += 1
        ok = True
        # the tracer reads its Spark counters as the op ends, after dt
        with self.tracer.op(name):
            t = time.perf_counter()
            try:
                fn()
            except Exception as e:  # a failed op counts; the pass goes on
                print(f"# {name} failed: {e!r}"[:400], file=sys.stderr)
                ok = False
            dt = (time.perf_counter() - t) * 1000.0
        print(f"# op {name} {dt:.0f} ms{'' if ok else ' FAILED'}", file=sys.stderr)
        self.failed += not ok
        return dt

    def _stage(self) -> None:
        self.spark.catalog.clearCache()
        self.llm_ops._SHINGLE_STATE["sf_dir"] = None
        with self.tracer.span("querybank.stage"):
            hs = self.llm_ops._staged_shingles(self.spark, self.data_dir)
        if not self.spark.catalog.isCached(hs):
            raise RuntimeError("shingle stage is not cached")

    def _noop(self, name: str) -> None:
        self._clear_except_stage()
        df = self.tracer.build(lambda: self.builders[name](self.spark, self.data_dir))
        df.write.format("noop").mode("overwrite").save()

    def _check(self, name: str) -> None:
        """Collect one query and compare it with its oracle."""
        from tools.check_correctness import table_digest

        self._clear_except_stage()
        df = self.builders[name](self.spark, self.data_dir)
        rows = df.collect()
        got = (len(rows), table_digest(df.columns, rows))
        if got != self.want[name]:
            self.mismatch.append(name)
            raise AssertionError(f"got {got} want {self.want[name]}")

    @staticmethod
    def generate_data(args) -> tuple[str, float]:
        """The corpus and its oracle digests, made on first use."""
        t = time.perf_counter()
        data_dir = corpus_dir(args.scale)
        oracle_digests(data_dir)
        return data_dir, time.perf_counter() - t

    @staticmethod
    def install_hooks(tracer) -> None:
        from tracing import install_action_hooks

        install_action_hooks(tracer)

    def warmup(self) -> None:
        """The first (cold) pass, collecting and checking every query."""
        self._op("stage_shingles", self._stage)
        for name in self.order:
            self._op(name, lambda n=name: self._check(n))

    def steps(self) -> list[tuple[str, object]]:
        """One pass, as ``(kind, op)`` pairs; ``op()`` returns its latency
        in ms."""
        return [("stage_shingles", lambda: self._op("stage_shingles", self._stage))] + [
            (name, lambda n=name: self._op(n, lambda: self._noop(n)))
            for name in self.order
        ]

    def metrics(self, window) -> tuple[dict, dict]:
        s = harness.summarize([x for xs in window.ms.values() for x in xs])
        e2e = {"read_p50_ms": s["p50"], "read_tail_ms": s["tail"]}
        detail = {"op": s, "check_mismatch": self.mismatch}
        return e2e, detail

    def close(self) -> None:
        pass
