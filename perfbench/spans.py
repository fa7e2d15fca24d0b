"""Measurement plumbing: spans around calls into the engine's layers, Spark
status-store accounting per op, process-tree peak RSS, and the
snapshot-directory probes.

Spans are recorded only here, from the benchmark's side of each call; the
engine itself is not instrumented. ``Tracer(enabled=False)`` makes every span
a no-op, which is how the end-to-end metrics are timed.
"""

from __future__ import annotations

import contextlib
import functools
import os
import time

# layer prefix of every span name, for per-layer self time
LAYERS = (
    "encoding", "plans.builder", "operators.kmeans", "operators.codec",
    "sources.index_store", "plans.searcher", "operators.bm25",
    "operators.fusion", "filtering", "operators.update",
)


class Tracer:
    """In-memory span recorder. Each span carries an id, its parent's id and
    the op id of the request that caused it; spans are kept in a list and
    written out once, when the run ends."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None
        self.phase = "setup"

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name, "op": self.op_id,
               "phase": self.phase,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a spanned wrapper — patched where the
        caller looks the function up (``plans.builder`` imports its
        trainers by name)."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def spanned(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(module, attr, spanned)

    def durations(self, name: str, phase: str, kind: str | None = None) -> list[float]:
        """Durations of the spans called ``name`` in ``phase``, optionally
        only those under ops of one kind."""
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["phase"] == phase
                and (kind is None or (s["op"] or "").startswith(kind + "-"))]

    def self_times(self, phase: str) -> dict[str, float]:
        """Per layer: Σ span duration minus the part covered by child spans."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = {layer: 0.0 for layer in LAYERS}
        for s in self.spans:
            if s["phase"] != phase:
                continue
            layer = next((x for x in LAYERS if s["name"].startswith(x + ".")), None)
            if layer is not None:
                out[layer] += (s["end"] - s["start"]) - child[s["id"]]
        return out


def instrument(tracer: Tracer) -> None:
    """Span the layer functions the engine calls on the benchmark's behalf."""
    from next_plaid_spark.plans import builder

    tracer.wrap(builder, "train_kmeans", "operators.kmeans.train_kmeans")
    tracer.wrap(builder, "train_codec_from_tokens",
                "operators.codec.train_codec_from_tokens")
    tracer.wrap(builder, "write_index", "sources.index_store.write_index")


# -- Spark status store -------------------------------------------------------

class SparkStats:
    """Per-op Spark accounting. The loop runs one client, so every job whose
    id falls between an op's start and end belongs to that op — this also
    counts jobs the engine submits from its own worker threads, which do
    not inherit the caller's job group."""

    def __init__(self, spark, cores: int) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.cores = cores
        self._jvm = self.sc._jvm
        self._gw = self.sc._gateway

    def last_job_id(self) -> int:
        # jobsList is newest first (the store's job index, reversed)
        for job in self._iter(self.store.jobsList(None)):
            return int(job.jobId())
        return -1

    @staticmethod
    def _iter(seq):
        it = seq.iterator()
        while it.hasNext():
            yield it.next()

    def collect(self, after_job: int, wall_s: float) -> dict[str, float]:
        stats = dict.fromkeys(
            ("jobs", "stages", "stages_skipped", "tasks", "task_failures",
             "input_bytes", "shuffle_write_bytes", "executor_run_s",
             "executor_cpu_s"), 0.0)
        no_quantiles = self._gw.new_array(self._jvm.double, 0)
        empty = self._jvm.java.util.ArrayList()
        for job in self._iter(self.store.jobsList(None)):
            if int(job.jobId()) <= after_job:
                break
            stats["jobs"] += 1
            for sid in self._iter(job.stageIds()):
                for st in self._iter(self.store.stageData(
                        int(sid), False, empty, False, no_quantiles)):
                    if st.status().toString() == "SKIPPED":
                        stats["stages_skipped"] += 1
                        continue
                    stats["stages"] += 1
                    stats["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                    stats["task_failures"] += st.numFailedTasks()
                    stats["input_bytes"] += st.inputBytes()
                    stats["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    stats["executor_run_s"] += st.executorRunTime() / 1e3
                    stats["executor_cpu_s"] += st.executorCpuTime() / 1e9
        busy = stats["executor_run_s"] / self.cores
        stats["busy_ratio"] = busy / wall_s if wall_s > 0 else 0.0
        stats["dispatch_s"] = max(wall_s - busy, 0.0)
        return stats


# -- process tree ----------------------------------------------------------------

def process_tree(root: int) -> dict[int, dict[str, str]]:
    """pid → /proc status fields of ``root`` and all its descendants."""
    parent: dict[int, int] = {}
    status: dict[int, dict[str, str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        pid = int(name)
        parent[pid] = int(fields.get("PPid", "0").strip())
        status[pid] = fields
    out = {}
    for pid in status:
        p = pid
        while p and p != root:
            p = parent.get(p, 0)
        if p == root:
            out[pid] = status[pid]
    return out


def high_water_mb() -> dict[str, float]:
    """Peak RSS (VmHWM) of this process and its descendants (the JVM and
    its Python workers), summed by process name."""
    out: dict[str, float] = {}
    for fields in process_tree(os.getpid()).values():
        name = fields.get("Name", "?").strip()
        kb = int(fields.get("VmHWM", "0 kB").split()[0])
        out[name] = out.get(name, 0.0) + kb / 1024.0
    return out


# -- snapshot probes ---------------------------------------------------------------

def inodes(path: str) -> dict[int, int]:
    """inode → size of every regular file under ``path``."""
    out = {}
    for root, _, files in os.walk(path):
        for fn in files:
            st = os.lstat(os.path.join(root, fn))
            out[st.st_ino] = st.st_size
    return out


def snapshot_probe(path: str, parent: str) -> dict[str, float]:
    """New-inode bytes and files of a snapshot against its parent (files
    carried forward are hardlinks, so they share the parent's inodes), and
    the snapshot's token-file count."""
    mine, old = inodes(path), inodes(parent)
    new = [size for ino, size in mine.items() if ino not in old]
    tok_dir = os.path.join(path, "tokens_bucketed")
    token_files = sum(1 for fn in os.listdir(tok_dir)
                      if not fn.startswith((".", "_")))
    return {"new_bytes": float(sum(new)), "new_files": float(len(new)),
            "token_files": float(token_files)}


def dir_bytes(path: str) -> int:
    return sum(inodes(path).values())
