"""The two workloads and the metrics they report.

Both run the same write cycle (build, resume, append, delete_by_query,
compact) and differ in their query mix: a short burst of it runs on the
tombstoned index, whole rounds on the compacted one. Both are closed loop
with one client: each call is made after the previous one returned and was
checked. Query latency is the public call plus ``collect``; the first, cold
call of every shape is made during set-up, on a small warm-up index, and
counted there. Every result is compared with the oracle (``truth.py``); an
exception or a mismatch is one failed operation and the run goes on.
"""

from __future__ import annotations

import gc
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import corpus
import shapes as qshapes
from spans import Tracer
from truth import Truth

from dart_importer_spark.index.build import BuildConfig, append_index, build_index
from dart_importer_spark.index.merge import compact_index
from dart_importer_spark.query.engine import InvertedIndex

# Corpus sizes in conversations of about nine turns each. The first build of
# a process pays the JVM's and the Python workers' first-use costs (about
# 13 s on a 4-core host, over twice a warm build of BASE_CONVS), so a small
# warm-up build runs during set-up and the measured build runs warm.
WARMUP_CONVS = 200
BASE_CONVS = 1500
BATCH_CONVS = 250
DELETE_CONVS = 10
DELETES = 6
# The compacted index gets MIN_ROUNDS warm rounds of the mix, and more while
# they fit in --seconds.
MIN_ROUNDS = 2
BUILD_CONFIG = dict(n_segments=2, n_buckets=4, store_positions=True)

METHODS = ("topk", "match_phrase", "query_string", "wildcard", "get_by_key", "count")
PER_LAYER = (
    ["session.start_s", "session.first_query_s", "datagen.materialize_s"]
    + [f"engine.{m}.{x}" for m in METHODS
       for x in ("construct_s", "plan_s", "jobs_construct")]
    + ["dsl.search.construct_s"]
    + [f"engine.{m}.{x}" for m in METHODS
       for x in ("execute_s", "jobs_execute", "tasks_execute")]
    + ["engine.open_s", "engine.execute_s.pre_compact", "engine.execute_s.post_compact",
       "engine.delete_by_query.wall_s", "engine.delete_by_query.jobs",
       "build.wall_s", "build.jobs", "build.tasks",
       "build.assign_doc_ids_s", "build.doc_stats_and_encode_write_s",
       "build.publish_stats_s", "build.manifests_s",
       "build.bytes_written", "build.files_written",
       "build.resume_s", "build.resume_segments_rebuilt",
       "append.wall_s", "append.jobs", "append.bytes_written",
       "compact.wall_s", "compact.jobs", "compact.tasks", "compact.bytes_read",
       "compact.bytes_written", "compact.files_written",
       "query.construct_s", "query.execute_s", "trace.overhead_ratio"]
)
END_TO_END = ("setup_s", "query_p50_s", "queries_per_s", "build_turns_per_s",
              "append_s", "delete_p50_s", "compact_s", "index_bytes_per_input_byte")


def unit_of(name: str) -> str:
    if name == "queries_per_s":
        return "queries/s"
    if name == "build_turns_per_s":
        return "turns/s"
    if name.endswith("_s") or name.endswith("_compact"):
        return "s"
    if name.endswith("bytes_written") or name.endswith("bytes_read"):
        return "bytes"
    if name.endswith("ratio") or name.endswith("per_input_byte"):
        return "ratio"
    return "count"


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``; checksum and marker
    files are left out."""
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                total += os.path.getsize(os.path.join(d, n))
                files += 1
    return total, files


@dataclass
class State:
    """One index state: what the oracle expects and how engine doc ids map
    back to source keys."""

    name: str
    truth: Truth
    key_of: dict
    _want: dict = field(default_factory=dict)

    def expected(self, shape):
        if shape.name not in self._want:
            self._want[shape.name] = shape.expect(self.truth)
        return self._want[shape.name]


class Bench:
    def __init__(self, spark, tmp: str, seed: int, seconds: float, tracer: Tracer):
        self.spark, self.tmp, self.seed, self.seconds = spark, tmp, seed, seconds
        self.tracer, self.off = tracer, Tracer(False)
        self.attempted = self.failed = 0
        self.setup: dict[str, float] = {}  # additive parts of setup_s
        # warm, untraced latencies by (index state, shape)
        self.latency: dict[tuple[str, str], list[float]] = {}
        self.latency_traced: list[float] = []
        self.measured: dict[str, float] = {}  # values not read off spans
        self.ids: dict[tuple, int] = {}  # source key -> engine doc_id
        self.execute_share = 0.0  # of warm traced query latency
        self.n_rounds = 0

    # -- accounting -------------------------------------------------------
    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: FAILED {what}", file=sys.stderr)

    def timed(self, name: str, request: str, fn):
        """Run a write step inside its span; returns (result, seconds)."""
        t0 = time.perf_counter()
        with self.tracer.span(name, request):
            out = fn()
        return out, time.perf_counter() - t0

    # -- index states -----------------------------------------------------
    def state(self, name: str, ix: InvertedIndex, docs: pd.DataFrame,
              live: np.ndarray | None = None, base: Truth | None = None) -> State:
        """Read the engine's live doc_id -> key table (outside any timing),
        check it against the rows indexed, and build the oracle state."""
        pdf = ix.doc_stats().select("doc_id", *corpus.KEY_COLS).toPandas()
        key_of = {
            int(d): (c, int(t))
            for d, c, t in zip(pdf["doc_id"], pdf["conv_id"], pdf["turn_idx"])
        }
        keys = list(zip(docs["conv_id"], docs["turn_idx"].astype(int)))
        live = np.ones(len(docs), bool) if live is None else live
        live_keys = {k for k, alive in zip(keys, live) if alive}
        stable = all(self.ids.get(k, d) == d for d, k in key_of.items())
        self.record(set(key_of.values()) == live_keys and len(key_of) == len(live_keys)
                    and stable, f"{name}: live doc_stats keys differ from the rows indexed")
        for d, k in key_of.items():
            self.ids.setdefault(k, d)
        # a row the index never held (already counted as failed) gets id -1
        docs = docs.assign(doc_id=[self.ids.get(k, -1) for k in keys])
        if base is not None and np.array_equal(base.oracle.doc_ids, docs["doc_id"]):
            truth = base.masked(live)
        else:
            truth = Truth(docs, live)
        # the oracle holds millions of objects: keep them out of the
        # collections the measured calls would otherwise pay for
        gc.freeze()
        return State(name, truth, key_of)

    # -- queries ----------------------------------------------------------
    def query(self, ix, shape, state: State, tracer: Tracer, request: str):
        """One checked call; returns its latency, or None if it failed."""
        t0 = time.perf_counter()
        try:
            with tracer.span(shape.layer, request):
                with tracer.span(shape.layer + ".construct"):
                    out = shape.call(ix)
                if isinstance(out, DataFrame):
                    if tracer.enabled:
                        with tracer.span(shape.layer + ".plan"):
                            out._jdf.queryExecution().executedPlan()
                    with tracer.span(shape.layer + ".execute"):
                        out = out.collect()
        except Exception as e:  # one failed operation; the run goes on
            self.record(False, f"{request}: {type(e).__name__}: {e}")
            return None
        dt = time.perf_counter() - t0
        got = qshapes.normalize(shape.kind, out, state.key_of)
        want = state.expected(shape)
        self.record(qshapes.matches(shape.kind, got, want),
                    f"{request}: got {got!r:.300} want {want!r:.300}")
        return dt

    def warm_round(self, ix, shape_list, state: State) -> None:
        """Every shape once; a traced run makes each round twice, traced and
        untraced, alternating from round to round which goes first, to
        measure the overhead."""
        n, self.n_rounds = self.n_rounds, self.n_rounds + 1
        passes = ((True, False) if n % 2 == 0 else (False, True)) \
            if self.tracer.enabled else (False,)
        for traced in passes:
            tracer = self.tracer if traced else self.off
            for s in shape_list:
                dt = self.query(ix, s, state, tracer, f"{state.name}{n}:{s.name}")
                if dt is not None:
                    sink = self.latency_traced if traced else \
                        self.latency.setdefault((state.name, s.name), [])
                    sink.append(dt)

    def rounds(self, ix, shape_list, state: State) -> None:
        """Warm rounds on one index state: MIN_ROUNDS, then more while one
        more, as long as the last, fits in --seconds."""
        t0, n, last = time.perf_counter(), 0, 0.0
        while n < MIN_ROUNDS or time.perf_counter() - t0 + last <= self.seconds:
            t1 = time.perf_counter()
            self.warm_round(ix, shape_list, state)
            last, n = time.perf_counter() - t1, n + 1

    def cold_calls(self, path: str, shape_list, state: State) -> None:
        """Open the index at ``path`` and make the first call of every
        shape: set-up, not query latency."""
        t0 = time.perf_counter()
        ix = self.open(path)
        t1 = time.perf_counter()
        for s in shape_list:
            self.query(ix, s, state, self.tracer, f"cold:{s.name}")
            self.measured.setdefault("session.first_query_s", time.perf_counter() - t1)
        self.setup["cold_calls_s"] = time.perf_counter() - t0

    def open(self, path: str) -> InvertedIndex:
        ix, dt = self.timed("engine.open", "open", lambda: InvertedIndex(self.spark, path))
        self.setup.setdefault("open_s", dt)
        return ix

    def build(self, src: str, out: str, n_rows: int) -> None:
        tx = self.spark.read.parquet(src)
        res, dt = self.timed("build.build_index", "build",
                             lambda: build_index(self.spark, tx, out,
                                                 BuildConfig(**BUILD_CONFIG)))
        self.record(res.get("n_docs") == n_rows,
                    f"build indexed {res.get('n_docs')} rows, input has {n_rows}")
        for k, v in res.get("phases", {}).items():
            self.measured[f"build.{k}_s"] = v
        self.measured["build.bytes_written"], self.measured["build.files_written"] = dir_size(out)
        self.measured["build_turns_per_s"] = n_rows / dt

    # -- result -----------------------------------------------------------
    def end_to_end(self) -> dict[str, float]:
        lat = [x for v in self.latency.values() for x in v]
        return {
            "setup_s": sum(self.setup.values()),
            # every shape in every measured state weighs alike, so a change
            # to the slowest shapes moves it as much as one to the fastest
            "query_p50_s": statistics.geometric_mean(
                statistics.median(v) for v in self.latency.values()),
            "queries_per_s": len(lat) / sum(lat),
            "build_turns_per_s": self.measured["build_turns_per_s"],
            "append_s": self.measured["append_s"],
            "delete_p50_s": statistics.median(self.measured["delete_s"]),
            "compact_s": self.measured["compact_s"],
            "index_bytes_per_input_byte":
                self.measured["build.bytes_written"] / self.measured["input_bytes"],
        }

    def per_layer(self) -> dict[str, float]:
        """Per-layer values of a traced run; a layer not reached reads 0."""
        tr = self.tracer
        tr.resolve()
        out = dict.fromkeys(PER_LAYER, 0.0)

        def put(k, v):
            if k in out:
                out[k] = v

        for k, v in {**self.setup, **self.measured}.items():
            put(k, v)

        def dur(s):
            return s["end"] - s["start"]

        def med(xs):
            return statistics.median(xs) if xs else 0.0

        def mean(xs):
            return sum(xs) / len(xs) if xs else 0.0

        def part(op, *names):
            return [c for c in tr.children(op) if c["name"].rsplit(".", 1)[1] in names]

        # warm query calls: top-level spans whose request names a shape
        ops = [s for s in tr.spans if s["parent"] is None and ":" in str(s["request"])
               and not s["request"].startswith("cold:")]
        for layer in sorted({s["name"] for s in ops}):
            mine = [s for s in ops if s["name"] == layer]
            for p in ("construct", "plan", "execute"):
                put(f"{layer}.{p}_s", med([dur(c) for s in mine for c in part(s, p)]))
            put(f"{layer}.jobs_construct",
                mean([sum(c["jobs"] for c in part(s, "construct")) for s in mine]))
            put(f"{layer}.jobs_execute",
                mean([sum(c["jobs"] for c in part(s, "plan", "execute")) for s in mine]))
            put(f"{layer}.tasks_execute",
                mean([sum(c["tasks"] for c in part(s, "plan", "execute")) for s in mine]))
        if ops:  # mean per warm call, over every shape of the workload
            for p in ("construct", "execute"):
                put(f"query.{p}_s", sum(dur(c) for s in ops for c in part(s, p)) / len(ops))
            self.execute_share = out["query.execute_s"] * len(ops) / sum(map(dur, ops))
        # the burst shapes, on the tombstoned index and on the compacted one
        burst = {s["request"].split(":")[1] for s in ops if s["request"].startswith("delete")}
        for when, states in (("pre_compact", "delete"), ("post_compact", "compact")):
            put(f"engine.execute_s.{when}", med([
                dur(c) for s in ops if s["request"].startswith(states)
                and s["request"].split(":")[1] in burst for c in part(s, "execute")]))
        put("engine.open_s", med([dur(s) for s in tr.named("engine.open")]))
        for name, key in (("build.build_index", "build"), ("append.append_index", "append"),
                          ("engine.delete_by_query", "engine.delete_by_query"),
                          ("compact.compact_index", "compact")):
            spans = tr.named(name)
            if spans:
                put(f"{key}.wall_s", med([dur(s) for s in spans]))
                put(f"{key}.jobs", mean([s["jobs"] for s in spans]))
                put(f"{key}.tasks", mean([s["tasks"] for s in spans]))
        if self.latency_traced:
            untraced = [x for v in self.latency.values() for x in v]
            put("trace.overhead_ratio",
                statistics.median(self.latency_traced) / statistics.median(untraced))
        return out


# -- workload -------------------------------------------------------------

def materialize(bench: Bench):
    """Base table, append batch and the warm-up table (the first
    WARMUP_CONVS conversations of the base) as parquet."""
    t0 = time.perf_counter()
    base, (batch,) = corpus.generate(bench.seed, BASE_CONVS, 1, BATCH_CONVS)
    cores = bench.spark.sparkContext.defaultParallelism
    src = os.path.join(bench.tmp, "input")
    bench.measured["input_bytes"] = corpus.write_parquet(
        base, os.path.join(src, "base"), cores)
    corpus.write_parquet(batch, os.path.join(src, "batch"), cores)
    warm = base[corpus.conv_ordinal(base["conv_id"]) < WARMUP_CONVS]
    corpus.write_parquet(warm, os.path.join(src, "warmup"), cores)
    bench.setup["datagen.materialize_s"] = time.perf_counter() - t0
    return base, batch, len(warm)


def run(bench: Bench, mix: str) -> None:
    """One workload: the write cycle, a burst of the mix on the tombstoned
    index and warm rounds of the mix on the compacted index. Set-up builds
    the warm-up index and makes the cold call of every shape on it."""
    base, batch, n_warm = materialize(bench)
    src = os.path.join(bench.tmp, "input")
    idx = os.path.join(bench.tmp, "index")
    warm_idx = os.path.join(bench.tmp, "warmup")
    res, bench.setup["warmup_build_s"] = bench.timed(
        "build.warmup", "warmup", lambda: build_index(
            bench.spark, bench.spark.read.parquet(os.path.join(src, "warmup")),
            warm_idx, BuildConfig(**BUILD_CONFIG)))
    bench.record(res.get("n_docs") == n_warm,
                 f"warm-up build indexed {res.get('n_docs')} rows, input has {n_warm}")
    bench.build(os.path.join(src, "base"), idx, len(base))

    tx = bench.spark.read.parquet(os.path.join(src, "base"))
    res, dt = bench.timed("build.resume", "resume", lambda: build_index(
        bench.spark, tx, idx, BuildConfig(**BUILD_CONFIG)))
    rebuilt = len(res.get("built_segments", []))
    bench.record(rebuilt == 0, f"resume on unchanged input rebuilt {rebuilt} segments")
    bench.measured["build.resume_s"] = dt
    bench.measured["build.resume_segments_rebuilt"] = rebuilt

    before = dir_size(idx)[0]
    batch_df = bench.spark.read.parquet(os.path.join(src, "batch"))
    res, bench.measured["append_s"] = bench.timed(
        "append.append_index", "append", lambda: append_index(bench.spark, batch_df, idx))
    bench.record(res.get("appended_docs") == len(batch),
                 f"append added {res.get('appended_docs')} of {len(batch)} rows")
    bench.measured["append.bytes_written"] = dir_size(idx)[0] - before
    docs = pd.concat([base, batch], ignore_index=True)

    ix = bench.open(idx)
    appended = bench.state("append", ix, docs)
    oracle = appended.truth.oracle
    terms = corpus.choose_terms(docs, oracle.tokens, oracle.df,
                                np.random.default_rng(bench.seed), n_warm)
    shape_list = qshapes.selective(terms) if mix == "selective" else qshapes.broad(terms)

    # the warm-up rows are the first n_warm, under the dense key-order doc
    # ids of a fresh build
    warm = Truth(docs[:n_warm].assign(doc_id=np.arange(n_warm)))
    bench.cold_calls(warm_idx, shape_list, State("warmup", warm, warm.key_of))
    shutil.rmtree(warm_idx)

    # delete seeded conversation blocks, the first holding the q11 key
    ords = corpus.conv_ordinal(docs["conv_id"])
    key_block = corpus.conv_ordinal(pd.Series([terms.get_key[0]]))[0] // DELETE_CONVS
    others = np.random.default_rng([bench.seed, 1]).permutation(BASE_CONVS // DELETE_CONVS)
    doomed = np.zeros(len(docs), bool)
    bench.measured["delete_s"] = []
    for block in [key_block] + [b for b in others if b != key_block][:DELETES - 1]:
        lo = int(block) * DELETE_CONVS
        first, last = f"conv{lo:08d}", f"conv{lo + DELETE_CONVS - 1:08d}"
        hit = (ords >= lo) & (ords < lo + DELETE_CONVS)
        n_del, dt = bench.timed(
            "engine.delete_by_query", f"delete{lo}",
            lambda: ix.delete_by_query(F.col("conv_id").between(first, last)))
        bench.record(n_del == int(hit.sum()),
                     f"delete_by_query removed {n_del} rows, expected {int(hit.sum())}")
        doomed |= hit
        bench.measured["delete_s"].append(dt)
    deleted = bench.state("delete", ix, docs, live=~doomed, base=appended.truth)
    bench.warm_round(ix, shape_list[:qshapes.BURST], deleted)

    out = os.path.join(bench.tmp, "compacted")
    bench.measured["compact.bytes_read"] = dir_size(idx)[0]
    res, bench.measured["compact_s"] = bench.timed(
        "compact.compact_index", "compact", lambda: compact_index(bench.spark, idx, out))
    live_docs = docs[~doomed].reset_index(drop=True)
    bench.record(res.get("n_docs") == len(live_docs)
                 and res.get("n_tombstones_dropped") == int(doomed.sum()),
                 f"compaction kept {res.get('n_docs')} of {len(live_docs)} live rows")
    bench.measured["compact.bytes_written"], bench.measured["compact.files_written"] = \
        dir_size(out)
    ix = bench.open(out)
    bench.rounds(ix, shape_list, bench.state("compact", ix, live_docs))
