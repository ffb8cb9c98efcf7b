"""The benchmark's workloads: staged inputs, references and one pass each.

A workload stages its seeded inputs as parquet (``stage``), computes the
references for its output checks once (``prepare``), and runs one pass
(``run_pass``) through graft's public API. Every operation of a pass
runs inside :meth:`Pass.op`, which records whether it completed and
holds the check for its output; the checks run after the pass's wall
has been taken.
"""

from __future__ import annotations

import contextlib
import importlib
import os
import shutil
import traceback

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import inputs
import reference as ref
from graft import io as gio
from graft import streaming as gstream
from graft.checkpoint import Checkpointer
from graft.graph import Graph

# the algorithm modules (``graft.algos`` re-exports functions under some
# of the same names, so attribute access on the package is ambiguous)
algo_lpa, algo_leiden = (
    importlib.import_module(f"graft.algos.{m}") for m in ("lpa", "leiden")
)

GAMMA = 0.05  # leiden's default CPM resolution
PR_TOL = 1e-6
PR_ATOL = 1e-6  # the north rule's PageRank bar


class OpFailed(Exception):
    pass


class Pass:
    """One pass: its operations, their checks, and what the per-layer
    report needs beyond the spans."""

    def __init__(self, spark, tracer, cache_probe):
        self.spark = spark
        self.tracer = tracer
        self._cache_probe = cache_probe
        self.ops: list[dict] = []
        self.leiden_quality: float | None = None
        self.extra: dict = {"progress": [], "lpa_edge_rows": []}

    @contextlib.contextmanager
    def op(self, name: str):
        """Run one operation. The body may set ``rec["check"]`` to a
        no-argument callable that returns whether the output is right."""
        rec = {"name": name, "ok": True, "error": None, "check": None}
        self.ops.append(rec)
        before = self._cache_probe.rdd_ids()
        try:
            with self.tracer.span(name):
                yield rec
        except Exception as e:
            rec["ok"] = False
            rec["error"] = traceback.format_exc(limit=4)
            raise OpFailed(name) from e
        finally:
            rec["new_rdds"] = self._cache_probe.rdd_ids() - before
            self._cache_probe.storage_bytes()

    def run_checks(self) -> None:
        for rec in self.ops:
            if not rec["ok"] or rec["check"] is None:
                continue
            try:
                rec["ok"] = bool(rec["check"]())
                if not rec["ok"]:
                    rec["error"] = "output differs from the reference"
            except Exception:  # noqa: BLE001 — a check that raises fails
                rec["ok"] = False
                rec["error"] = traceback.format_exc(limit=4)


def _collect_sorted(df) -> pd.DataFrame:
    return df.toPandas().sort_values("id", kind="mergesort").reset_index(drop=True)


def _cpm_matches(g: ref.RefGraph, pos, labels: pd.DataFrame, quality: float) -> bool:
    """The returned quality equals the CPM recomputed from the labels."""
    if len(labels) != g.n:
        return False
    comm = np.empty(g.n, dtype=np.int64)
    comm[pos] = labels["community"].to_numpy()
    return bool(np.isclose(ref.cpm(g, comm, GAMMA), quality, rtol=1e-12, atol=1e-9))


class TimedCheckpointer(Checkpointer):
    """A Checkpointer whose every superstep save runs in a
    ``checkpoint.save`` span."""

    def __init__(self, spark, root, job, tracer):
        super().__init__(spark, root, job)
        self._tracer = tracer

    def save(self, step, state, **metrics):
        with self._tracer.span("checkpoint.save"):
            return super().save(step, state, **metrics)


def du(path: str) -> int:
    """Bytes in the files under ``path``."""
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


class TranscriptsBatch:
    """The north rule's batch job on a transcript-shaped ``events`` table:
    derive the actor edge table, build the graph, then LPA (checkpointed
    supersteps) and Leiden with its CPM quality."""

    name = "transcripts_batch"
    OPS_PER_PASS = 4
    N_EVENTS = 6_000
    N_USERS = 90
    LPA_ROUNDS = 2

    def __init__(self, seed: int):
        self.seed = seed

    def stage(self, spark, d: str) -> None:
        self.events_path = os.path.join(d, "events.parquet")
        self._events = inputs.events(self.seed, self.N_EVENTS, self.N_USERS)
        pq.write_table(self._events, self.events_path)

    def prepare(self) -> None:
        self.edges = ref.actor_edges(inputs.transcripts(self._events))
        self.g = ref.RefGraph(self.edges["u"], self.edges["v"], self.edges["weight"])
        self._lpa_by_mapping: dict = {}

    def run_pass(self, p: Pass, work: str) -> None:
        spark, g_ref = p.spark, self.g
        created = []
        ids = _IdMap(g_ref)
        try:
            with p.op("io.derive") as rec:
                ev = spark.read.parquet(self.events_path)
                uv = gio.transcripts_to_edges(gio.events_to_transcripts(ev))
                el, mapping = gio.actor_edges_to_long(uv)
                created += [mapping.persist(), el.persist()]
                ids.set(mapping.toPandas())
                edges = el.toPandas()
                rec["check"] = lambda: ids.ok and ids.edges_match(edges, self.edges)
            with p.op("graph.build") as rec:
                g = Graph.from_undirected(el).cache()
                created.append(g)
                rows = g.edges.count()
                rec["check"] = lambda: rows == len(g_ref.src)
            p.extra["lpa_edge_rows"].append(int((g_ref.src != g_ref.dst).sum()))
            with p.op("algos.lpa") as rec:
                ckpt = TimedCheckpointer(spark, os.path.join(work, "ckpt"), "lpa", p.tracer)
                lp = _collect_sorted(algo_lpa.label_propagation(
                    g, max_iter=self.LPA_ROUNDS, checkpointer=ckpt
                ))
                rec["check"] = lambda: len(lp) == g_ref.n and np.array_equal(
                    lp["label"], self._lpa(ids)[ids.pos(lp["id"])]
                )
            with p.op("algos.leiden") as rec:
                labels, q = algo_leiden.leiden(g, gamma=GAMMA, return_quality=True)
                ld = _collect_sorted(labels)
                p.leiden_quality = q
                rec["check"] = lambda: _cpm_matches(g_ref, ids.pos(ld["id"]), ld, q)
        finally:
            for obj in reversed(created):
                obj.unpersist()
        if p.tracer.enabled:
            p.extra["checkpoint_bytes"] = du(os.path.join(work, "ckpt"))

    def _lpa(self, ids: "_IdMap") -> np.ndarray:
        """Reference LPA labels (graft ids) per reference vertex. LPA
        breaks ties by the smallest id, so the reference needs graft's id
        assignment; it is computed once per distinct mapping."""
        key = ids.gid.tobytes()
        if key not in self._lpa_by_mapping:
            self._lpa_by_mapping[key] = ref.lpa(self.g, ids.gid.copy(), self.LPA_ROUNDS)
        return self._lpa_by_mapping[key]


class _IdMap:
    """graft's dense id assignment (``actor_edges_to_long``'s mapping)
    against the reference graph's actor-keyed vertices."""

    def __init__(self, g: ref.RefGraph):
        self.g = g
        self.ok = False

    def set(self, mapping: pd.DataFrame) -> None:
        g = self.g
        self.ok = len(mapping) == g.n and set(mapping["id"]) == set(range(g.n))
        if not self.ok:
            return
        self.pos_of_id = np.empty(g.n, dtype=np.int64)
        self.pos_of_id[mapping["id"].to_numpy()] = g.index(
            mapping["vid"].to_numpy(dtype=object)
        )
        self.gid = np.empty(g.n, dtype=np.int64)  # graft id per reference vertex
        self.gid[self.pos_of_id] = np.arange(g.n)

    def pos(self, graft_ids: pd.Series) -> np.ndarray:
        return self.pos_of_id[graft_ids.to_numpy()]

    def edges_match(self, edges: pd.DataFrame, want: pd.DataFrame) -> bool:
        got = pd.DataFrame({
            "u": self.g.ids[self.pos(edges["src"])],
            "v": self.g.ids[self.pos(edges["dst"])],
            "weight": edges["weight"].to_numpy(),
        }).sort_values(["u", "v"]).reset_index(drop=True)
        return got.equals(want.reset_index(drop=True))


class StreamRefresh:
    """The refresh loop: transcript slices land one at a time and the
    streaming query drains each into the edge delta log, carrying every
    conversation's last turn across micro-batches in its state store.
    After the last slice, PageRank and Leiden are recomputed over the
    compacted log."""

    name = "stream_refresh"
    N_EVENTS = 6_000
    N_USERS = 90
    SLICES = 2
    OPS_PER_PASS = SLICES + 2

    def __init__(self, seed: int):
        self.seed = seed

    def stage(self, spark, d: str) -> None:
        turns = inputs.transcripts(inputs.events(self.seed, self.N_EVENTS, self.N_USERS))
        self._turns = turns
        self.slice_paths = []
        for i, s in enumerate(inputs.stream_slices(turns, self.seed, self.SLICES)):
            path = os.path.join(d, f"slice-{i}.parquet")
            pq.write_table(inputs.transcript_schema_table(s), path)
            self.slice_paths.append(path)

    def prepare(self) -> None:
        self.edges = ref.actor_edges(self._turns)
        self.g = ref.RefGraph(self.edges["u"], self.edges["v"], self.edges["weight"])
        self.ranks = ref.pagerank(self.g, tol=PR_TOL)

    def run_pass(self, p: Pass, work: str) -> None:
        spark, g_ref = p.spark, self.g
        src, delta = os.path.join(work, "src"), os.path.join(work, "delta")
        qck = os.path.join(work, "query-ckpt")
        os.makedirs(src)
        for i, path in enumerate(self.slice_paths):
            shutil.copy(path, os.path.join(src, f"part-{i}.parquet"))
            with p.op("streaming.drain") as rec:
                turns = gstream.read_transcript_stream(spark, src)
                q = gstream.start_edge_delta_sink(
                    gstream.stream_transcript_edge_deltas(turns), delta, qck
                )
                q.awaitTermination()
                if q.exception() is not None:
                    raise RuntimeError(str(q.exception()))
                p.extra["progress"].extend(q.recentProgress)
                if i == len(self.slice_paths) - 1:
                    rec["check"] = lambda: self._log_matches(spark, delta)
        with p.op("streaming.incremental_pagerank") as rec:
            pr = _collect_sorted(gstream.incremental_pagerank(spark, delta, tol=PR_TOL))
            rec["check"] = lambda: len(pr) == g_ref.n and np.allclose(
                pr["rank"], self.ranks[g_ref.index(pr["id"].to_numpy(dtype=object))],
                rtol=0, atol=PR_ATOL,
            )
        with p.op("streaming.incremental_leiden") as rec:
            labels, q_ = gstream.incremental_leiden(spark, delta, gamma=GAMMA, return_quality=True)
            ld = _collect_sorted(labels)
            p.leiden_quality = q_
            rec["check"] = lambda: _cpm_matches(
                g_ref, g_ref.index(ld["id"].to_numpy(dtype=object)), ld, q_
            )

    def _log_matches(self, spark, delta: str) -> bool:
        """The compacted delta log equals the batch derivation over all turns."""
        log = gstream.compact_edge_deltas(spark, delta).toPandas()
        log = log.sort_values(["u", "v"]).reset_index(drop=True)
        want = self.edges.reset_index(drop=True)
        return log[["u", "v"]].equals(want[["u", "v"]]) and np.array_equal(
            log["weight"].to_numpy(), want["weight"].to_numpy()
        )


WORKLOADS = {w.name: w for w in (TranscriptsBatch, StreamRefresh)}
