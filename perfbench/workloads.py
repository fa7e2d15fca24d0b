"""The benchmark's workloads: set-up, a warm-up pass, a closed-loop timed
window with one client, and the output checks.

``text_mixed`` rotates the four search modes (semantic, keyword, hybrid,
filtered) over one sf0.1-shaped corpus. ``ingest_churn`` cycles append →
delete → semantic search over a chain of index snapshots. Every op's output
is checked after the window against an independent answer; a mismatch or an
exception counts the op as failed.
"""

from __future__ import annotations

import os
import statistics
import time
import traceback

import numpy as np

import corpus
from spans import LAYERS, SparkStats, Tracer, dir_bytes, snapshot_probe

BATCH = 100            # queries per search op
TOP_K = 10
FETCH_K = 3 * TOP_K    # hybrid over-fetch per leg
ALPHA = 0.75
BUCKETS = 32
# set-ups per run; setup_s is their median. The first runs on a cold JVM;
# a third would push the 4 + 22 × 2 runs of a full measurement past 3,420 s
N_SETUPS = 2
SCORE_TOL = 1e-3       # funnel reranks quantized vectors; exact truth is raw
APPEND_DOCS = 100
DELETE_DOCS = 50
BASE_DOCS = 4_000
# spans that exist only in traced runs: they force a lazy frame at a layer
# boundary, work the untraced run does not do separately
MATERIALIZING = ("encoding.encode_queries", "encoding.encode_delta",
                 "filtering.where_condition_exec")
WARM_BATCH = 10        # queries per op in the text_mixed warm-up rotation


def search_params(top_k: int):
    from next_plaid_spark.plans.searcher import SearchParams

    return SearchParams(top_k=top_k, n_ivf_probe=8, n_full_scores=256,
                        centroid_score_threshold=0.4, keep_best_cell=True)


def percentile_tail(xs: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with ≥10 samples beyond
    it; with fewer than 11 samples no percentile qualifies, so the tail is
    the maximum (reported as percentile 100)."""
    n = len(xs)
    if n < 11:
        return max(xs), 100.0
    pct = 100.0 * (n - 10) / n
    return float(np.percentile(xs, pct)), pct


def grouped(rows) -> dict[int, list[tuple[int, float]]]:
    out: dict[int, list[tuple[int, float]]] = {}
    for r in sorted(rows, key=lambda r: (r[0], r[3])):
        out.setdefault(int(r[0]), []).append((int(r[1]), float(r[2])))
    return out


class Run:
    """One benchmark run: a Spark session, a seeded input stream, the
    tracer and the per-op records the checks and metrics are made from."""

    def __init__(self, spark, *, seed: int, seconds: float, traced: bool,
                 work_dir: str, cores: int) -> None:
        self.spark = spark
        self.rng = np.random.default_rng(seed)
        self.seconds = seconds
        self.tracer = Tracer(enabled=traced)
        self.traced = traced
        self.stats = SparkStats(spark, cores)
        self.work = work_dir
        self.ops: list[dict] = []          # window ops, in order
        self.cycles: list[float] = []      # wall of each full rotation
        self.setup_s: list[float] = []
        self.build_s: list[float] = []
        self.build_docs = 0
        self._last_build_s = 0.0
        self.index_shape: dict[str, int] = {}   # of the last set-up's index
        self.layer: dict[str, list[float]] = {}
        self.outside_ops_s: list[float] = []   # per rotation: wall not in any op
        self.phase_s: dict[str, float] = {}
        self._n_paths = 0

    # -- helpers -------------------------------------------------------------
    def path(self, tag: str) -> str:
        self._n_paths += 1
        return os.path.join(self.work, f"{tag}_{self._n_paths}")

    def frame(self, rows, schema):
        from next_plaid_spark.session import local_df

        return local_df(self.spark, rows, schema)

    def input_frame(self, rows):
        """The documents frame the engine is handed, cached and filled before
        any set-up is timed."""
        df = self.frame(rows, corpus.DOC_SCHEMA).cache()
        df.count()
        return df

    @property
    def tracing(self) -> bool:
        """Spans, probes and Spark accounting are on: set-up and the window
        of a traced run, never its warm-up."""
        return self.tracer.enabled

    def note(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(float(value))

    def op(self, kind: str, fn, record: bool = True) -> dict:
        """Run one closed-loop op; time it; keep its output for the checks."""
        rec = {"kind": kind, "id": f"{kind}-{len(self.ops)}"}
        self.tracer.op_id = rec["id"]
        tracing = self.tracing
        if tracing:
            self.spark.sparkContext.setJobGroup(rec["id"], kind)
            first_job = self.stats.last_job_id()
        t0 = time.perf_counter()
        try:
            rec["out"] = fn()
            rec["ok"] = True
        except Exception:  # an op that raises is a failed op; the loop goes on
            rec["ok"] = False
            rec["error"] = traceback.format_exc(limit=4)
        rec["wall_s"] = time.perf_counter() - t0
        if tracing:
            rec["spark"] = self.stats.collect(first_job, rec["wall_s"])
        self.tracer.op_id = None
        if record:
            self.ops.append(rec)
        return rec

    def loop(self, rotation, warmup) -> None:
        """Warm-up (untraced), then closed-loop rotations until ``seconds``
        have passed; the window always ends on a rotation boundary."""
        self.tracer.enabled = False
        t0 = time.perf_counter()
        warmup()
        self.phase_s["warmup"] = time.perf_counter() - t0
        self.tracer.enabled = self.traced
        self.tracer.phase = "window"
        start = time.perf_counter()
        while True:
            n_ops = len(self.ops)
            t0 = time.perf_counter()
            rotation(record=True)
            self.cycles.append(time.perf_counter() - t0)
            self.outside_ops_s.append(
                self.cycles[-1] - sum(o["wall_s"] for o in self.ops[n_ops:]))
            if time.perf_counter() - start >= self.seconds:
                break
        self.window_s = time.perf_counter() - start

    def timed_setup(self, build, n_docs: int, release) -> object:
        """Run the set-up ``N_SETUPS`` times; keep the last one's state and
        ``release`` the others."""
        state = None
        for _ in range(N_SETUPS):
            if state is not None:
                release(state)
            t0 = time.perf_counter()
            state = build()
            self.setup_s.append(time.perf_counter() - t0)
            self.build_s.append(self._last_build_s)
        self.build_docs = n_docs
        return state

    def build_index(self, toks):
        from next_plaid_spark.plans.builder import IndexBuilder

        path = self.path("index")
        t0 = time.perf_counter()
        with self.tracer.span("plans.builder.build"):
            idx = IndexBuilder(self.spark, nbits=4, seed=42,
                               bucket_tokens=BUCKETS).build(toks, path)
        self._last_build_s = time.perf_counter() - t0
        self.index_shape = {"k": idx.meta.k, "docs": idx.meta.num_documents,
                            "tokens": idx.meta.num_embeddings}
        if self.tracing:
            self.note("sources.index_store.bytes_per_token",
                      dir_bytes(path) / max(idx.meta.num_embeddings, 1))
        return idx

    def encode_docs(self, docs, name: str):
        from next_plaid_spark.encoding import encode_documents

        with self.tracer.span(name):
            toks = encode_documents(docs).cache()
            toks.count()
        return toks

    def encode_queries(self, qdf):
        """encode_queries is lazy; the traced run materializes it at the
        layer boundary (a count, recomputed later by the consumer) so the
        encoder's action time is attributed to it."""
        from next_plaid_spark.encoding import encode_queries

        qt = encode_queries(qdf)
        if self.tracing:
            with self.tracer.span("encoding.encode_queries"):
                self.note("encoding.query_tokens", qt.count())
        return qt

    def funnel(self, searcher, qt, subset=None, cols=("query_id", "doc_id", "score", "rank")):
        with self.tracer.span("plans.searcher.search_call"):
            res = searcher.search(qt, subset=subset).select(*cols)
        with self.tracer.span("plans.searcher.search_exec"):
            rows = res.collect()
        if self.tracing:
            from bench import _exchanges

            self.note("plans.searcher.exchanges", _exchanges(res))
        return rows

    # -- metrics -------------------------------------------------------------
    def end_to_end(self, high_water_mb: dict[str, float]) -> dict[str, tuple[float, str]]:
        sem = [o["wall_s"] for o in self.ops if o["kind"] == "semantic"]
        answered = sum(o.get("queries", 0) for o in self.ops if o["ok"])
        hits = sum(o.get("hits", 0) for o in self.ops if o["kind"] == "semantic")
        expected = sum(o.get("expected", 0) for o in self.ops if o["kind"] == "semantic")
        return {
            "setup_s": (statistics.median(self.setup_s), "s"),
            # over every set-up build, the cold one included: steadier from
            # run to run than the faster build alone
            "build_docs_per_s": (self.build_docs * len(self.build_s) / sum(self.build_s),
                                 "docs/s"),
            "search_qps": (answered / self.window_s, "1/s"),
            "semantic_p50_s": (statistics.median(sem), "s"),
            "semantic_tail_s": (percentile_tail(sem)[0], "s"),
            "cycle_p50_s": (statistics.median(self.cycles), "s"),
            "recall_at10": (hits / max(expected, 1), "ratio"),
            # Σ per-process peak RSS: an upper bound of the tree's peak
            "peak_rss_mb": (sum(high_water_mb.values()), "MB"),
            # the driver and Python workers; the JVM's share follows its
            # collector's heap sizing and moves ~30% from run to run
            "python_peak_rss_mb": (sum(v for k, v in high_water_mb.items()
                                       if k.startswith("python")), "MB"),
        }

    def per_kind(self) -> dict[str, dict]:
        out = {}
        for kind in dict.fromkeys(o["kind"] for o in self.ops):
            ops = [o for o in self.ops if o["kind"] == kind]
            walls = [o["wall_s"] for o in ops]
            tail, pct = percentile_tail(walls)
            out[kind] = {
                "attempted": len(ops),
                "succeeded": sum(1 for o in ops if o["ok"]),
                "failed": sum(1 for o in ops if not o["ok"]),
                "p50_s": statistics.median(walls), "tail_s": tail,
                "tail_percentile": pct, "samples": len(ops), "walls_s": walls,
            }
        return out

    def per_layer(self, names: list[str]) -> dict[str, float]:
        """Every per-layer metric: window span medians per call, set-up span
        medians per set-up, counters, Spark status per op kind (median per
        op), self time per layer (per set-up plus per window rotation) and
        the tracing overhead per rotation."""
        med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
        t = self.tracer
        out = {n: 0.0 for n in names}
        for name in ("plans.builder.build", "operators.kmeans.train_kmeans",
                     "operators.codec.train_codec_from_tokens",
                     "sources.index_store.write_index", "operators.bm25.build",
                     "encoding.encode_documents"):
            out[name + "_s"] = med(t.durations(name, "setup"))
        for name in ("encoding.encode_queries", "encoding.encode_delta",
                     "operators.bm25.search_exec", "operators.fusion.hybrid_search_exec",
                     "filtering.where_condition_exec", "operators.update.update_index",
                     "operators.update.delete_from_index"):
            out[name + "_s"] = med(t.durations(name, "window"))
        # the semantic op's funnel call alone (hybrid and filtered also call it)
        for name in ("plans.searcher.search_call", "plans.searcher.search_exec"):
            out[name + "_s"] = med(t.durations(name, "window", "semantic"))
        for name, xs in self.layer.items():
            out[name] = med(xs)
        call = sum(t.durations("plans.searcher.search_call", "window", "semantic"))
        total = call + sum(t.durations("plans.searcher.search_exec", "window", "semantic"))
        out["plans.searcher.call_share"] = call / total if total else 0.0
        setup_self, window_self = t.self_times("setup"), t.self_times("window")
        for layer in LAYERS:
            out[f"{layer}.self_s"] = (setup_self[layer] / max(len(self.setup_s), 1)
                                      + window_self[layer] / max(len(self.cycles), 1))
        spark: dict[str, list[float]] = {}
        for o in self.ops:
            for key, v in o.get("spark", {}).items():
                spark.setdefault(f"spark.{o['kind']}.{key}", []).append(v)
        for name, xs in spark.items():
            out[name] = med(xs)
        # work only a traced run does, per rotation: bookkeeping between ops
        # (Spark status reads, plan walks, snapshot probes) plus the
        # boundary materializations inside them
        added = sum(sum(t.durations(n, "window")) for n in MATERIALIZING)
        out["trace.overhead_s"] = (statistics.median(self.outside_ops_s)
                                   + added / len(self.cycles))
        out["trace.spans"] = float(len(t.spans))
        return {n: out.get(n, 0.0) for n in names}


# =============================================================================
# text_mixed
# =============================================================================

class TextState:
    def __init__(self, bm, sem, hyb) -> None:
        self.bm, self.sem, self.hyb = bm, sem, hyb

    def release(self) -> None:
        for df in (self.bm.postings, self.bm.doclens, self.bm.term_stats):
            df.unpersist()


def text_mixed(run: Run) -> None:
    from next_plaid_spark.filtering import MetadataStore
    from next_plaid_spark.operators.bm25 import BM25Index
    from next_plaid_spark.operators.fusion import hybrid_search
    from next_plaid_spark.plans.searcher import BatchSearcher

    rows = corpus.make_documents()
    texts = [r[1] for r in rows]

    # the documents frame is the engine's input, made once by the benchmark
    docs = run.input_frame(rows)

    def setup() -> TextState:
        toks = run.encode_docs(docs, "encoding.encode_documents")
        idx = run.build_index(toks)
        toks.unpersist()
        with run.tracer.span("operators.bm25.build"):
            bm = BM25Index.build(docs)
            for df in (bm.postings, bm.doclens, bm.term_stats):
                df.count()
        return TextState(bm, BatchSearcher(idx, search_params(TOP_K)),
                         BatchSearcher(idx, search_params(FETCH_K)))

    st = run.timed_setup(setup, len(rows), TextState.release)
    next_qid = [0]

    def queries(n):
        q = corpus.make_queries(run.rng, texts, n, next_qid[0])
        next_qid[0] += n
        return q

    def semantic(n):
        q = queries(n)
        out = run.funnel(st.sem, run.encode_queries(run.frame(q, corpus.QUERY_SCHEMA)))
        st.sem.release()
        return {"q": q, "rows": out}

    def keyword(n):
        q = queries(n)
        with run.tracer.span("operators.bm25.search_call"):
            res = st.bm.search(run.frame(q, corpus.QUERY_SCHEMA), k=TOP_K).select(
                "query_id", "doc_id", "score", "rank")
        with run.tracer.span("operators.bm25.search_exec"):
            out = res.collect()
        return {"q": q, "rows": out}

    def hybrid(n):
        # the legs stay lazy and execute inside the fused action, as in
        # production; the fusion span's self time therefore holds them
        q = queries(n)
        qdf = run.frame(q, corpus.QUERY_SCHEMA)
        with run.tracer.span("plans.searcher.search_call"):
            sem = st.hyb.search(run.encode_queries(qdf)).select("query_id", "doc_id", "score")
        with run.tracer.span("operators.bm25.search_call"):
            kw = st.bm.search(qdf, k=FETCH_K).select("query_id", "doc_id", "score")
        fused = hybrid_search(sem, kw, mode="relative_score", alpha=ALPHA, k=TOP_K)
        with run.tracer.span("operators.fusion.hybrid_search_exec"):
            out = fused.select("query_id", "doc_id", "score", "rank").collect()
        st.hyb.release()
        return {"q": q, "rows": out}

    def filtered(n):
        q = queries(n)
        cond, params = corpus.make_filter(run.rng)
        subset = MetadataStore(docs).where_condition(cond, params)
        if run.tracing:
            with run.tracer.span("filtering.where_condition_exec"):
                run.note("filtering.subset_docs", subset.count())
        out = run.funnel(st.sem, run.encode_queries(run.frame(q, corpus.QUERY_SCHEMA)),
                         subset=subset)
        st.sem.release()
        return {"q": q, "rows": out, "params": params}

    def rotation(record: bool, n: int = BATCH) -> None:
        for kind, fn in (("semantic", semantic), ("keyword", keyword),
                         ("hybrid", hybrid), ("filtered", filtered)):
            run.op(kind, lambda: fn(n), record)

    # the first call of each op kind pays for code generation and JIT
    # compilation (2-4x a warm call), so the warm-up is one whole rotation
    # of small batches
    run.loop(rotation, lambda: rotation(record=False, n=WARM_BATCH))
    t0 = time.perf_counter()
    check_text_mixed(run, rows)
    run.phase_s["check"] = time.perf_counter() - t0
    st.release()


def check_text_mixed(run: Run, rows: list[tuple]) -> None:
    """Semantic and filtered: every returned doc against its own exact
    MaxSim score (NumPy), over the filtered subset for filtered. Keyword:
    DuckDB BM25, doc ids equal in order. Hybrid: every returned doc against
    its own fused score, recomputed from the exact top-30 and the DuckDB
    top-30."""
    from next_plaid_spark.functions.text import TOKEN_SPLIT_RE
    from next_plaid_spark.operators import bm25

    exact = corpus.ExactMaxSim(rows)
    done = [o for o in run.ops if o["ok"]]
    kw_q = [q for o in done if o["kind"] in ("keyword", "hybrid") for q in o["out"]["q"]]
    truth_kw = corpus.bm25_truth(rows, kw_q, FETCH_K, k1=bm25.K1, b=bm25.B,
                                 decimals=bm25.SCORE_DECIMALS, split_re=TOKEN_SPLIT_RE)
    for o in done:
        out, kind = o["out"], o["kind"]
        q = out["q"]
        got = grouped(out["rows"])
        o["queries"] = len(q)
        if kind == "keyword":
            error = corpus.check_exact(got, {x[0]: truth_kw[x[0]][:TOP_K] for x in q}, 1e-6)
        elif kind == "hybrid":
            fused = corpus.fuse_relative(exact.topk(q, FETCH_K),
                                         {x[0]: truth_kw[x[0]] for x in q}, alpha=ALPHA)
            error = None
            for qid, scores in fused.items():
                exp = sorted(scores.values(), reverse=True)[:TOP_K]
                error = error or corpus.check_by_doc(qid, got.get(qid, []), scores.get,
                                                     exp, SCORE_TOL)[1]
        else:
            keep = None if kind == "semantic" else np.array(
                [corpus.passes_filter(r, out["params"]) for r in rows])
            o["hits"], o["expected"], error = exact.check(got, q, TOP_K, SCORE_TOL, keep)
        o["ok"] = error is None
        if error:
            o["error"] = f"{kind}: {error}"


# =============================================================================
# ingest_churn
# =============================================================================

def ingest_churn(run: Run) -> None:
    from next_plaid_spark.operators.update import delete_from_index, update_index
    from next_plaid_spark.plans.searcher import BatchSearcher

    rows = corpus.make_documents()
    base = rows[:BASE_DOCS]
    held_out = rows[BASE_DOCS:]

    docs = run.input_frame(base)

    def setup():
        toks = run.encode_docs(docs, "encoding.encode_documents")
        idx = run.build_index(toks)
        toks.unpersist()
        return idx

    base_idx = run.timed_setup(setup, len(base), lambda idx: None)
    docs.unpersist()
    live = {r[0]: r for r in base}     # insertion-ordered
    state = {"idx": base_idx, "next": 0, "fresh_id": len(rows)}

    def next_append() -> list[tuple]:
        out = []
        for _ in range(APPEND_DOCS):
            if state["next"] < len(held_out):
                out.append(held_out[state["next"]])
            else:   # pool used up: re-use earlier texts under fresh ids
                src = rows[int(run.rng.integers(0, len(rows)))]
                out.append((state["fresh_id"],) + src[1:])
                state["fresh_id"] += 1
            state["next"] += 1
        return out

    def append():
        new = next_append()
        parent = state["idx"]
        toks = run.frame(new, corpus.DOC_SCHEMA)
        from next_plaid_spark.encoding import encode_documents

        toks = encode_documents(toks)
        if run.tracing:
            with run.tracer.span("encoding.encode_delta"):
                toks.count()
        with run.tracer.span("operators.update.update_index"):
            idx = update_index(run.spark, parent, toks, run.path("snap"))
        state["idx"] = idx
        for r in new:
            live[r[0]] = r
        n_tok = sum(min(len(r[1].split()), corpus.DOC_MAX_TOKENS) for r in new)
        return {"idx": idx, "parent": parent.path, "live": set(live),
                "delta_bytes": n_tok * corpus.DIM * 4}

    def delete():
        gone = list(live)[:DELETE_DOCS]
        parent = state["idx"]
        with run.tracer.span("operators.update.delete_from_index"):
            idx = delete_from_index(run.spark, parent, gone, run.path("snap"))
        state["idx"] = idx
        for d in gone:
            del live[d]
        return {"idx": idx, "parent": parent.path, "live": set(live)}

    def semantic(n):
        docs = list(live.values())
        q = corpus.make_queries(run.rng, [r[1] for r in docs], n,
                                10_000_000 + len(run.ops) * BATCH)
        searcher = BatchSearcher(state["idx"], search_params(TOP_K))
        out = run.funnel(searcher, run.encode_queries(run.frame(q, corpus.QUERY_SCHEMA)))
        searcher.release()
        return {"q": q, "rows": out, "docs": docs}

    def rotation(record: bool) -> None:
        for kind, fn in (("append", append), ("delete", delete),
                         ("semantic", lambda: semantic(BATCH))):
            rec = run.op(kind, fn, record)
            if run.tracing and rec["ok"] and kind in ("append", "delete"):
                probe = snapshot_probe(rec["out"]["idx"].path, rec["out"]["parent"])
                run.note("operators.update.new_files", probe["new_files"])
                run.note("operators.update.token_files", probe["token_files"])
                if kind == "append":
                    run.note("operators.update.new_bytes_per_delta_byte",
                             probe["new_bytes"] / rec["out"]["delta_bytes"])

    run.loop(rotation, lambda: rotation(record=False))
    t0 = time.perf_counter()
    check_ingest(run)
    run.phase_s["check"] = time.perf_counter() - t0


def check_ingest(run: Run) -> None:
    """Snapshots: the doc set in each snapshot's doc stats must equal the
    expected live set. Searches: every returned doc must be live and carry
    its own exact MaxSim score over the live docs (NumPy)."""
    for o in run.ops:
        if not o["ok"]:
            continue
        out = o["out"]
        if o["kind"] in ("append", "delete"):
            idx = out["idx"]
            ids = {r.doc_id for r in idx.doclens.select("doc_id").collect()}
            o["ok"] = ids == out["live"] and idx.meta.num_documents == len(out["live"])
            if not o["ok"]:
                o["error"] = f"{o['kind']}: snapshot holds {len(ids)} docs, expected {len(out['live'])}"
            continue
        o["queries"] = len(out["q"])
        o["hits"], o["expected"], error = corpus.ExactMaxSim(out["docs"]).check(
            grouped(out["rows"]), out["q"], TOP_K, SCORE_TOL)
        o["ok"] = error is None
        if error:
            o["error"] = f"semantic: {error}"


WORKLOADS = {"text_mixed": text_mixed, "ingest_churn": ingest_churn}
