"""The benchmark's workloads: seeded inputs, oracles, one timed job, checks.

Every workload generates its inputs from the seed and computes its
goldens in ``setup``, before anything is timed. ``job`` is the timed
unit; ``check`` runs after it, outside the timed region, and reads the
job's outputs with pyarrow, not Spark, so a check is an independent
witness of what the job left on disk.
"""

from __future__ import annotations

import functools
import os
import time
from collections import Counter
from contextlib import contextmanager

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from wikidata_pq_spark import contracts, datagen, oracle
from wikidata_pq_spark.operators import canonicalize, extract, graph, linking
from wikidata_pq_spark.pipeline import UNIT, ChunkedKGPipeline, KGPipeline
from wikidata_pq_spark.plans.checkpoint import StateStore, Step
from wikidata_pq_spark.sources import tableio

import lsh_reference

N_ENTITIES = 500
NEAR_DUP = 0.8  # the dedup_near_dup cell's Jaccard threshold
KEY = ["subj", "pred", "obj", "conv_id", "turn_idx"]


class CheckFailed(Exception):
    """A job's output disagrees with its oracle."""


def ensure(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def rows_of(table, cols: list[str]) -> list[tuple]:
    return list(zip(*(table.column(c).to_pylist() for c in cols)))


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / (1024.0 * 1024.0)


# -- tracing hooks ---------------------------------------------------------
# Layer of each public function the kg workloads call. Functions that
# return a DataFrame get a build span; the writers run jobs. The caller's
# ``localCheckpoint`` of a built frame (ChunkedKGPipeline materialises the
# component map so) runs that frame, so it is a span of the same layer.
KG_FUNCTIONS = [
    (extract, "extract_mentions", "extract", True),
    (linking, "link_mentions", "linking", True),
    (canonicalize, "connected_components", "canonicalize", True),
    (canonicalize, "apply_canonical", "canonicalize", True),
    (tableio, "write_with_audit", "tableio.write", False),
    (tableio, "post_check", "tableio.post_check", False),
]

# Layer of each StateStore gate -> set interval, by (unit, step).
STEP_LAYERS = {
    (UNIT, Step.EXTRACTED): "extract",
    (UNIT, Step.LINKED): "linking",
    (UNIT, Step.CANONICALIZED): "canonicalize",
    (UNIT, Step.MATERIALIZED): "tableio.write",
    (UNIT, Step.VERIFIED): "tableio.post_check",
    ("_staging", Step.COMPLETE): "tableio.stage_input",
}


@contextmanager
def traced_functions(tracer):
    """Wrap the kg layers' public functions in spans, restore them on exit."""

    def wrap(fn, layer, build):
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with tracer.span(layer, build=build):
                out = fn(*args, **kwargs)
            if build:
                out.localCheckpoint = wrap(out.localCheckpoint, layer, False)
            return out

        return wrapped

    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _, _ in KG_FUNCTIONS]
    try:
        for mod, attr, layer, build in KG_FUNCTIONS:
            setattr(mod, attr, wrap(getattr(mod, attr), layer, build))
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


class TracedState:
    """StateStore proxy: gate and set calls are ``checkpoint`` spans, and
    each gate -> set interval of a known step is a span of that step's layer."""

    def __init__(self, inner: StateStore, tracer):
        self._inner = inner
        self._tracer = tracer

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def gate(self, unit, step) -> bool:
        with self._tracer.span("checkpoint"):
            todo = self._inner.gate(unit, step)
        layer = STEP_LAYERS.get((unit, step))
        if todo and layer:
            self._tracer.push(layer)
        return todo

    def set(self, unit, step, **metrics) -> None:
        with self._tracer.span("checkpoint"):
            self._inner.set(unit, step, **metrics)
        layer = STEP_LAYERS.get((unit, step))
        if layer and layer in self._tracer.stack:
            self._tracer.pop(layer)


# -- workloads -------------------------------------------------------------
class Workload:
    """One workload in one session. Subclasses fill in the four steps."""

    def __init__(self, spark, work_dir: str, seed: int, tracer, traced: bool):
        self.spark = spark
        self.input_dir = os.path.join(work_dir, "input")
        self.seed = seed
        self.tracer = tracer
        self.traced = traced
        self.rows = 0  # input rows one job consumes

    def setup(self) -> None:
        raise NotImplementedError

    def job(self, out_dir: str) -> dict:
        """Run one job; return {"wall_s": ..., other part timings}."""
        raise NotImplementedError

    def check(self, out_dir: str, result: dict) -> None:
        raise NotImplementedError

    @contextmanager
    def instrumented(self):
        """Spans around the layers' functions while inside (traced runs)."""
        yield

    def context(self, results: list[dict]) -> dict:
        """Extra per-part medians printed as context lines."""
        return {}

    def path(self, name: str) -> str:
        return os.path.join(self.input_dir, name)


class _KG(Workload):
    n_convs = 2000
    mean_turns = 20

    def setup(self) -> None:
        os.makedirs(self.input_dir, exist_ok=True)
        tr = datagen.gen_transcripts(
            n_convs=self.n_convs, mean_turns=self.mean_turns,
            n_entities=N_ENTITIES, seed=self.seed,
        )
        ents = datagen.gen_entities(N_ENTITIES, seed=self.seed)
        same_as = datagen.gen_same_as(N_ENTITIES, seed=self.seed)
        tr.to_parquet(self.path("transcripts.parquet"), index=False)
        ents.to_parquet(self.path("aliases.parquet"), index=False)
        same_as.to_parquet(self.path("same_as.parquet"), index=False)
        gold = oracle.oracle_triples(tr, ents, same_as)
        self.gold_keys = set(zip(*(gold[c].tolist() for c in KEY)))
        self.gold_rows = len(gold)
        self.rows = len(tr)
        # the jobs take these frames as given; reading them (parquet
        # schema inference) is part of set-up, as making the files is
        read = self.spark.read.parquet
        self.inputs = tuple(
            read(self.path(name))
            for name in ("transcripts.parquet", "aliases.parquet", "same_as.parquet")
        )

    def pipeline(self, cls, out_dir: str, **kwargs):
        pipe = cls(self.spark, out_dir, **kwargs)
        if self.traced:
            pipe.state = TracedState(pipe.state, self.tracer)
        return pipe

    @contextmanager
    def instrumented(self):
        if not self.traced:
            yield
            return
        with traced_functions(self.tracer):
            yield

    def check_triples(self, triples_dir: str) -> None:
        table = pq.read_table(triples_dir, columns=KEY, partitioning=None)
        got = set(rows_of(table, KEY))
        ensure(got == self.gold_keys, "triples != oracle triples")


class KGBuild(_KG):
    """A fresh KGPipeline.run: extract, link, canonicalize, materialize, verify."""

    def job(self, out_dir: str) -> dict:
        t0 = time.perf_counter()
        pipe = self.pipeline(KGPipeline, out_dir)
        with self.tracer.span("pipeline"):
            pipe.run(*self.inputs)
        return {"wall_s": time.perf_counter() - t0}

    def check(self, out_dir: str, result: dict) -> None:
        self.check_triples(os.path.join(out_dir, "triples"))
        state = StateStore(os.path.join(out_dir, "_state"))
        ensure(state.get(UNIT) == Step.COMPLETE, "pipeline state is not COMPLETE")


class KGResume(_KG):
    """ChunkedKGPipeline crashes after its middle chunk; a new pipeline
    object resumes the same output directory to completion and runs the
    post-check over every chunk's sink and audit sidecar."""

    n_chunks = 4
    fail_after = 1

    def _chunk_files(self, out_dir: str) -> dict[str, int]:
        out = {}
        for i in range(self.fail_after + 1):
            root = os.path.join(out_dir, "triples", f"chunk={i}")
            for dirpath, _, files in os.walk(root):
                for f in files:
                    p = os.path.join(dirpath, f)
                    out[p] = os.stat(p).st_mtime_ns
        return out

    def job(self, out_dir: str) -> dict:
        t0 = time.perf_counter()
        try:
            with self.tracer.span("pipeline"):
                self.pipeline(ChunkedKGPipeline, out_dir, n_chunks=self.n_chunks).run(
                    *self.inputs, fail_after_chunk=self.fail_after
                )
        except RuntimeError as e:
            if "injected failure" not in str(e):
                raise
        else:
            raise CheckFailed("the crash run did not crash")
        crash_s = time.perf_counter() - t0
        before = self._chunk_files(out_dir)
        t1 = time.perf_counter()
        with self.tracer.span("pipeline"):
            pipe = self.pipeline(ChunkedKGPipeline, out_dir, n_chunks=self.n_chunks)
            lineage = pipe.run(*self.inputs)
            verified = pipe.post_check()
        resume_s = time.perf_counter() - t1
        return {
            "wall_s": crash_s + resume_s, "crash_s": crash_s, "resume_s": resume_s,
            "lineage": lineage, "before": before, "verified": verified,
        }

    def check(self, out_dir: str, result: dict) -> None:
        self.check_triples(os.path.join(out_dir, "triples"))
        lineage = result["lineage"]
        ensure(sorted(lineage) == list(range(self.n_chunks)), "lineage misses chunks")
        ensure(sum(lineage.values()) == self.gold_rows, "lineage sum != oracle rows")
        before = result["before"]
        ensure(bool(before), "no chunk files before the crash")
        ensure(before == self._chunk_files(out_dir), "resume rewrote completed chunks")
        ensure(result["verified"], "post_check failed")

    def context(self, results: list[dict]) -> dict:
        return {
            k: float(np.median([r[k] for r in results])) for k in ("crash_s", "resume_s")
        }


# the token vocabulary of the sf0.1 documents table
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = (["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14])


def gen_documents(seed: int, n_docs: int, copy_share: float = 0.05) -> pd.DataFrame:
    """Documents shaped like the sf0.1 table: 20-100 random vocabulary
    words each; a ``copy_share`` of them copy another document's text
    and append " dup", which makes near-duplicate pairs."""
    rng = np.random.default_rng(seed)
    lens = rng.integers(20, 101, n_docs)
    words = np.array(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    texts = [" ".join(ws) for ws in np.split(words, np.cumsum(lens)[:-1])]
    is_copy = rng.random(n_docs) < copy_share
    source = rng.integers(0, n_docs, n_docs)
    for i in np.flatnonzero(is_copy):
        texts[i] = texts[source[i]] + " dup"
    return pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS[0], n_docs, p=LANGS[1]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": [len(t) for t in texts],
    })


def jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b)


def token_set(text: str) -> frozenset:
    return frozenset(text.lower().split())


class CorpusAnalytics(Workload):
    """Near-dup, MinHash-LSH, heavy-hitter and label-propagation cells."""

    n_docs = 5000
    n_convs = 1000
    mean_turns = 20
    # (cell, layer, contract query); label propagation runs on the seeded
    # entity edges, which the graph_lpa contract cell cannot take
    CELLS = [
        ("near_dup", "dedup", "dedup_near_dup"),
        ("minhash_lsh", "dedup", "dedup_minhash_lsh"),
        ("heavy_hitters", "sketches", "sk_heavy_hitters"),
        ("lpa", "graph", None),
    ]

    def setup(self) -> None:
        os.makedirs(self.input_dir, exist_ok=True)
        docs = gen_documents(self.seed, self.n_docs)
        docs.to_parquet(self.path("documents.parquet"), index=False)
        self.tokens = dict(zip(docs["doc_id"].tolist(), map(token_set, docs["text"])))
        self.gold_cands = lsh_reference.candidate_pairs(docs["doc_id"], docs["text"])
        self.gold_near = {
            (a, b) for a, b in self.gold_cands
            if round(jaccard(self.tokens[a], self.tokens[b]), 6) >= NEAR_DUP
        }
        counts = Counter(t for text in docs["text"] for t in text.lower().split())
        total = sum(counts.values())
        self.gold_heavy = {k for k, c in counts.items() if c >= 0.005 * total}

        tr = datagen.gen_transcripts(
            n_convs=self.n_convs, mean_turns=self.mean_turns,
            n_entities=N_ENTITIES, seed=self.seed,
        )
        ents = datagen.gen_entities(N_ENTITIES, seed=self.seed)
        same_as = datagen.gen_same_as(N_ENTITIES, seed=self.seed)
        edges = oracle.oracle_entity_edges(tr, ents, same_as)
        edges.to_parquet(self.path("entity_edges.parquet"), index=False)
        ref = oracle.lpa_reference(edges, iters=10)
        self.gold_lpa = dict(zip(ref["node_id"], ref["label"]))
        self.rows = len(docs) + len(edges)

    def build(self, query: str | None):
        if query is not None:
            return contracts.QUERIES[query](self.spark, self.input_dir)
        edges = self.spark.read.parquet(self.path("entity_edges.parquet"))
        return graph.label_propagation(edges, iters=10, src="subj", dst="obj")

    def job(self, out_dir: str) -> dict:
        result = {}
        t0 = time.perf_counter()
        for cell, layer, query in self.CELLS:
            t = time.perf_counter()
            with self.tracer.span(layer):
                with self.tracer.span(layer, build=True):
                    df = self.build(query)
                df.write.mode("overwrite").parquet(os.path.join(out_dir, cell))
            result[cell + "_s"] = time.perf_counter() - t
        result["wall_s"] = time.perf_counter() - t0
        return result

    def check(self, out_dir: str, result: dict) -> None:
        read = lambda cell: pq.read_table(os.path.join(out_dir, cell))  # noqa: E731

        near = read("near_dup")
        pairs = rows_of(near, ["a_id", "b_id", "jaccard"])
        ensure({(a, b) for a, b, _ in pairs} == self.gold_near, "near-dup pairs != golden")
        for a, b, jac in pairs:
            exact = jaccard(self.tokens[a], self.tokens[b])
            ensure(
                exact >= NEAR_DUP - 5e-7 and abs(exact - jac) <= 5e-7,
                f"near-dup jaccard of ({a}, {b})",
            )

        cands = set(rows_of(read("minhash_lsh"), ["a_id", "b_id"]))
        ensure(cands == self.gold_cands, "minhash-lsh candidates != golden")

        hh = read("heavy_hitters")
        ensure(all(hh.column("ok").to_pylist()), "heavy hitters: a key is not ok")
        ensure(self.gold_heavy <= set(hh.column("key").to_pylist()), "heavy key missing")

        lpa = dict(rows_of(read("lpa"), ["node_id", "label"]))
        ensure(lpa == self.gold_lpa, "lpa labels != lpa_reference")

    def context(self, results: list[dict]) -> dict:
        return {
            f"{cell}_s": float(np.median([r[cell + "_s"] for r in results]))
            for cell, _, _ in self.CELLS
        }


WORKLOADS = {
    "kg_build": KGBuild,
    "kg_resume": KGResume,
    "corpus_analytics": CorpusAnalytics,
}
