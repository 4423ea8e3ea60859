"""``index_serving``: build once, then probe many while writes arrive.

Set-up writes a snapshot table and builds BM25, IVF and PQ indexes from
it (timed as ``index_build_s``). Then one client runs a closed loop of
rounds; a round is a fixed mix of probes — BM25
(``search.bm25_search_index``), IVF (``similarity.ivf_topk_pruned``), PQ
(``pq.ivf_adc_topk_pruned``) and PQ with exact re-ranking
(``pq.ivf_adc_topk_rerank``) — followed by one change batch:
``snapshots.snapshot_merge`` of new documents carrying the batch's unique
token, ``snapshots.snapshot_delete`` of old ones, then
``sync.sync_indexes``. Whole rounds repeat until ``--seconds`` have passed.

Checks, computed with numpy from the generated rows and the change batches
the loop applied: BM25 probes equal BM25 over the committed corpus
version (deleted documents keep counting in the corpus statistics until a
compaction, the index's documented posture); after each change batch, a
probe for the batch's unique token returns exactly its live documents
and no deleted one; IVF with every cell probed equals brute force;
recall@10 at the served ``n_probe`` stays above ``RECALL_FLOOR``; PQ
re-ranked distances equal the exact ones; PQ probes return only live ids.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys
import time

import numpy as np
import pyarrow.parquet as pq

import gen
from common import WARM_THREADS, Counts, dir_bytes, percentile, run_op, warm_up

PROBE_MIX = ("bm25", "ivf", "pq", "bm25", "ivf", "pq_rerank")
N_NEW, K, N_PROBE, N_CENTROIDS, N_BUCKETS = 20, 10, 4, 16, 16
RECALL_FLOOR = 0.7


def make_inputs(work: str, seed: int, scale: str) -> dict:
    return {"index": gen.ensure(work, "index", seed, scale), "seed": seed, "scale": scale}


class Workload:
    def __init__(self, spark, tracer, run_dir: str):
        from pwhl_data_engineering_pipeline_spark.operators import pq as pqm, search, similarity, sync
        from pwhl_data_engineering_pipeline_spark.sources import readers, snapshots

        self.spark, self.tracer, self.run_dir = spark, tracer, run_dir
        self.pq, self.search, self.similarity, self.sync = pqm, search, similarity, sync
        self.readers, self.snap = readers, snapshots

    # -- set-up ----------------------------------------------------------------

    def _build(self, inp: dict, root: str) -> dict:
        spark, snap = self.spark, self.snap
        paths = {k: f"{root}/{k}" for k in ("table", "bm25", "ivf", "pq")}
        docs = self.readers.read_parquet(spark, f"{inp['index']}/docs.parquet")
        snap.snapshot_overwrite(docs, paths["table"])
        base = snap.read_snapshot(spark, paths["table"])
        self.search.bm25_index_write(base.select("doc_id", "text"), paths["bm25"], n_buckets=N_BUCKETS)
        vecs = base.select("vec_id", "embedding")
        cent, assigned = self.similarity.ivf_index(vecs, n_centroids=N_CENTROIDS)
        assigned = assigned.cache()
        self.similarity.ivf_write(assigned, paths["ivf"], cent)
        books = self.pq.pq_train_residual(vecs, assigned, cent, m=8, k=16, iters=4)
        self.pq.pq_write(
            self.pq.pq_encode_residual(vecs, assigned, cent, books), paths["pq"], books, cent, vectors=vecs
        )
        assigned.unpersist()
        for k in ("bm25", "ivf", "pq"):
            self.sync.sync_register(spark, paths[k], paths["table"])
        return paths

    def _probe_ops(self, inp: dict, paths: dict, queries: dict, i0: int):
        """The probe mix of one round; probe ``i`` uses query rows derived
        from its running index, so every run sends the same sequence."""
        spark = self.spark
        ops = []
        for j, kind in enumerate(PROBE_MIX):
            i = i0 + j
            if kind == "bm25":
                rows = [(2 * i + q, queries["bm25"][(2 * i + q) % len(queries["bm25"])]) for q in range(2)]

                def op(rows=rows):
                    qdf = spark.createDataFrame(rows, "query_id long, query_text string")
                    if self.tracer.enabled:
                        self.tracer.count("bm25_partitions_present", _leaf_dirs(paths["bm25"]))
                    return rows, self.search.bm25_search_index(spark, paths["bm25"], qdf, k=K).toArrow()

                ops.append((f"probe.bm25.{i}", "operators.search", op))
            else:
                vq = [(2 * i + q, queries["vec"][(2 * i + q) % len(queries["vec"])]) for q in range(2)]
                if kind == "ivf":
                    def op(vq=vq):
                        qdf = spark.createDataFrame(vq, "query_id long, embedding array<double>")
                        return vq, self.similarity.ivf_topk_pruned(
                            spark, paths["ivf"], None, qdf, k=K, n_probe=N_PROBE).toArrow()

                    ops.append((f"probe.ivf.{i}", "operators.similarity", op))
                elif kind == "pq":
                    ops.append((f"probe.pq.{i}", "operators.pq", lambda vq=vq: (
                        vq, self.pq.ivf_adc_topk_pruned(spark, paths["pq"], vq, k=K, n_probe=N_PROBE).toArrow())))
                else:
                    def op(vq=vq):
                        vectors = self.snap.read_snapshot(spark, paths["table"]).select("vec_id", "embedding")
                        return vq, self.pq.ivf_adc_topk_rerank(
                            spark, paths["pq"], vectors, vq, k=K, n_probe=N_PROBE, shortlist=50).toArrow()

                    ops.append((f"probe.pq_rerank.{i}", "operators.pq", op))
        return ops

    def _change(self, inp: dict, paths: dict, b: int, state: "CorpusState"):
        """Apply change batch ``b``: merge new docs, delete old ones, sync."""
        spark, snap = self.spark, self.snap
        rows, dels = gen.change_batch(inp["seed"], gen.SCALES["index"][inp["scale"]], b, N_NEW,
                                      sorted(state.live))

        def merge():
            new = spark.createDataFrame(
                [(i, i, t, e) for i, t, e in rows],
                "doc_id long, vec_id long, text string, embedding array<double>",
            )
            snap.snapshot_merge(new, paths["table"], ["doc_id"])
            snap.snapshot_delete(spark.createDataFrame([(i,) for i in dels], "doc_id long"),
                                 paths["table"], ["doc_id"])
            self.sync.sync_indexes(spark, paths["table"], {k: paths[k] for k in ("bm25", "ivf", "pq")},
                                   vec_id_col="vec_id")

        return rows, dels, merge

    def warmup(self, inp: dict) -> float:
        """Build the full indexes (timed as ``index_build_s``: the build is
        the first work of the process, so it runs cold, as an index build
        in a fresh job does), then probe each kind once. Returns the build
        time, which set-up time leaves out."""
        t = time.perf_counter()
        self.paths = self._build(inp, os.path.join(self.run_dir, "serve"))
        self.build_s = time.perf_counter() - t
        first = {}
        for op in self._probe_ops(inp, self.paths, _queries(inp), 0):
            first.setdefault(op[0].split(".")[1], op)
        warm_up(self.tracer, [[op] for op in first.values()], WARM_THREADS)
        return self.build_s

    # -- measured phase ----------------------------------------------------------

    def measure(self, inp: dict, seconds: float) -> dict:
        counts = Counts()
        root, paths, queries = os.path.join(self.run_dir, "serve"), self.paths, _queries(inp)
        self.state = state = CorpusState.load(inp["index"])
        self.checked = []          # (state snapshot, kind, query rows, result)
        self.token_probes = []     # (batch, live ids of batch b, deleted ids, result)
        lat: dict[str, list[float]] = {}
        round_times, written = [], 0
        t_start, serve_s, n_probes, b = time.perf_counter(), 0.0, 0, 0
        while b == 0 or time.perf_counter() - t_start < seconds:
            t_round = time.perf_counter()
            snapshot = state.copy()
            for name, module, thunk in self._probe_ops(inp, paths, queries, n_probes):
                sec, res = run_op(self.tracer, counts, name, module, thunk)
                kind = name.split(".")[1]
                lat.setdefault(kind, []).append(sec)
                if res is not None:
                    self.checked.append((snapshot, kind, res[0], res[1]))
            n_probes += len(PROBE_MIX)
            rows, dels, apply = self._change(inp, paths, b, state)
            sec, _ = run_op(self.tracer, counts, f"change.{b}", "change", apply)
            lat.setdefault("change", []).append(sec)
            round_times.append(time.perf_counter() - t_round)
            serve_s += round_times[-1]
            state.apply(b, rows, dels)
            with self.tracer.paused():
                self._token_probe(b, state)
            if b == 0:
                written = dir_bytes(root)[1]
            b += 1
        probe_lat = [x for k, xs in lat.items() if k != "change" for x in xs]
        medians = [statistics.median(xs) for xs in lat.values()]
        print(f"rounds {b}, probes {n_probes}, median seconds: "
              + ", ".join(f"{k} {statistics.median(v):.3f}" for k, v in lat.items()), file=sys.stderr)
        metrics = {
            "pass_s": statistics.median(round_times),
            "query_geomean_s": math.exp(sum(math.log(x) for x in medians) / len(medians)),
            "probe_p50_ms": 1000 * percentile(probe_lat, 50),
            "probe_p90_ms": 1000 * percentile(probe_lat, 90),
            "serve_probes_per_s": n_probes / serve_s,
            "append_p50_s": statistics.median(lat["change"]),
            "index_build_s": self.build_s,
            "written_mb": written / 1e6,
        }
        return {"metrics": metrics, "attempted": counts.attempted, "failed": counts.failed, "rounds": b}

    def _token_probe(self, b: int, state: "CorpusState") -> None:
        """Untimed: probe this batch's and the previous batch's unique
        tokens (the previous batch just lost documents to this one)."""
        rows = [(b, gen.batch_token(b))] + ([(b - 1, gen.batch_token(b - 1))] if b else [])
        qdf = self.spark.createDataFrame(rows, "query_id long, query_text string")
        res = self.search.bm25_search_index(self.spark, self.paths["bm25"], qdf, k=2 * N_NEW).toArrow()
        self.token_probes.append((b, {q: state.batch_live(q) for q, _ in rows},
                                  set(state.deleted), res))

    # -- checks ----------------------------------------------------------------

    def check(self, inp: dict) -> list[str]:
        out = []
        by_kind: dict = {}
        for snapshot, kind, rows, res in self.checked:
            by_kind.setdefault(kind, []).append((snapshot, rows, res))
        self.got = by_kind
        last = self.state.version - 1
        for snapshot, rows, res in by_kind.get("bm25", []):
            if snapshot.version in (0, last):
                out += check_bm25(snapshot, rows, _rows(res, ("query_id", "doc_id", "score")))
        for b, want, deleted, res in self.token_probes:
            out += check_token_probe(b, want, deleted, _rows(res, ("query_id", "doc_id")))
        self.ivf_last = [(s, vq, _rows(res, ("query_id", "vec_id")))
                         for s, vq, res in by_kind.get("ivf", []) if s.version == last]
        out += check_recall(self.ivf_last)
        # IVF with every cell probed equals brute force (untimed probe)
        vq = [(i, v) for i, v in enumerate(_queries(inp)["vec"][:8])]
        qdf = self.spark.createDataFrame(vq, "query_id long, embedding array<double>")
        self.exhaustive = (vq, _rows(self.similarity.ivf_topk_pruned(
            self.spark, self.paths["ivf"], None, qdf, k=K, n_probe=N_CENTROIDS).toArrow(),
            ("query_id", "vec_id", "cos_sim")))
        out += check_ivf_exact(self.state, *self.exhaustive)
        for snapshot, vq, res in by_kind.get("pq_rerank", []):
            out += check_rerank(snapshot, vq, _rows(res, ("query_id", "vec_id", "l2_dist")))
        for snapshot, vq, res in by_kind.get("pq", []):
            out += check_live(snapshot, _rows(res, ("query_id", "vec_id")))
        return out

    def selftest(self) -> list[str]:
        cases = {}
        snapshot, rows, res = self.got["bm25"][0]
        got = _rows(res, ("query_id", "doc_id", "score"))
        cases["bm25: dropped row"] = check_bm25(snapshot, rows, got[1:])
        cases["bm25: perturbed score"] = check_bm25(snapshot, rows, [(got[0][0], got[0][1], got[0][2] + 0.01)] + got[1:])
        cases["bm25: swapped id"] = check_bm25(
            snapshot, rows, [(got[0][0], _absent(snapshot, got), got[0][2])] + got[1:])
        b, want, deleted, res = self.token_probes[-1]
        tp = _rows(res, ("query_id", "doc_id"))
        cases["token probe: dropped doc"] = check_token_probe(b, want, deleted, tp[1:])
        cases["token probe: deleted doc returned"] = check_token_probe(
            b, want, deleted, tp + [(b, min(deleted))])
        vq, ex = self.exhaustive
        cases["ivf exhaustive: perturbed"] = check_ivf_exact(self.state, vq, [(ex[0][0], ex[0][1], ex[0][2] - 0.01)] + ex[1:])
        cases["ivf exhaustive: swapped id"] = check_ivf_exact(
            self.state, vq, [(ex[0][0], _absent(self.state, ex), ex[0][2])] + ex[1:])
        snapshot, vq, res = self.got["pq_rerank"][0]
        rr = _rows(res, ("query_id", "vec_id", "l2_dist"))
        cases["pq rerank: perturbed distance"] = check_rerank(snapshot, vq, [(rr[0][0], rr[0][1], rr[0][2] * 1.01 + 0.01)] + rr[1:])
        cases["recall: ids replaced"] = check_recall(
            [(s, vq, [(q, _absent(s, got)) for q, _ in got]) for s, vq, got in self.ivf_last])
        snapshot, vq, res = self.got["pq"][0]
        pr = _rows(res, ("query_id", "vec_id"))
        cases["pq: deleted id returned"] = check_live(snapshot, pr + [(pr[0][0], min(snapshot.deleted) if snapshot.deleted else -1)])
        return [f"self-test: check did not fail on {k}" for k, v in cases.items() if not v]


def _queries(inp: dict) -> dict:
    with open(f"{inp['index']}/queries.json") as fh:
        return json.load(fh)


def _rows(table, cols) -> list[tuple]:
    return list(zip(*(table.column(c).to_pylist() for c in cols)))


def _absent(state: "CorpusState", rows) -> int:
    """An id that is not in the result rows."""
    ids = {r[1] for r in rows}
    return next(i for i in sorted(state.live) if i not in ids)


def _leaf_dirs(path: str) -> int:
    """Partition directories under the index's postings and stats."""
    n = 0
    for sub in ("postings", "stats"):
        for d, dirs, files in os.walk(os.path.join(path, sub)):
            if not dirs and any(f.endswith(".parquet") for f in files):
                n += 1
    return n


class CorpusState:
    """The corpus as the loop has changed it: every document ever indexed
    (text, vector) and which ones are live."""

    def __init__(self, text, vec, live, deleted, batches, version, toks=None):
        self.text, self.vec, self.live = text, vec, live
        self.deleted, self.batches, self.version = deleted, batches, version
        # tokenized texts, shared by every copy: documents never change
        self.toks = {} if toks is None else toks

    @classmethod
    def load(cls, index_dir: str) -> "CorpusState":
        t = pq.read_table(f"{index_dir}/docs.parquet")
        ids = t.column("doc_id").to_pylist()
        return cls(dict(zip(ids, t.column("text").to_pylist())),
                   dict(zip(ids, map(np.asarray, t.column("embedding").to_pylist()))),
                   set(ids), set(), {}, 0)

    def copy(self) -> "CorpusState":
        return CorpusState(dict(self.text), dict(self.vec), set(self.live), set(self.deleted),
                           dict(self.batches), self.version, self.toks)

    def apply(self, b: int, rows, dels) -> None:
        for i, t, e in rows:
            self.text[i], self.vec[i] = t, np.asarray(e)
            self.live.add(i)
        self.batches[b] = [r[0] for r in rows]
        self.live -= set(dels)
        self.deleted |= set(dels)
        self.version += 1

    def batch_live(self, b: int) -> set:
        return set(self.batches[b]) & self.live


def bm25_scores(state: CorpusState, query: str, k1: float = 1.2, b: float = 0.75) -> dict:
    """BM25 with corpus statistics over every indexed document (deleted
    ones included until a compaction), scores floored to 6 dp, over the
    live documents only."""
    for i, s in state.text.items():
        if i not in state.toks:
            state.toks[i] = s.lower().split()
    toks = {i: state.toks[i] for i in state.text}
    n = len(toks)
    avg = sum(len(t) for t in toks.values()) / n
    terms = set(query.lower().split())
    df = {t: sum(1 for tt in toks.values() if t in tt) for t in terms}
    out = {}
    for i in state.live:
        tt = toks[i]
        s, hit = 0.0, False
        for t in terms:
            tf = tt.count(t)
            if tf:
                hit = True
                idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
                s += idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * len(tt) / avg))
        if hit:
            out[i] = math.floor(s * 1e6 + 0.5) / 1e6
    return out


def check_bm25(state: CorpusState, queries, got) -> list[str]:
    for qid, text in queries:
        scores = bm25_scores(state, text)
        want = sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:K]
        mine = sorted([(d, s) for q, d, s in got if q == qid], key=lambda x: (-x[1], x[0]))
        if [d for d, _ in mine] != [d for d, _ in want] or any(
                abs(a[1] - b[1]) > 2e-6 for a, b in zip(mine, want)):
            return [f"bm25 query {qid} {text!r}: got {mine[:3]}..., expected {want[:3]}..."]
    return []


def check_token_probe(b: int, want: dict, deleted: set, got) -> list[str]:
    for q, ids in want.items():
        mine = {d for qq, d in got if qq == q}
        if mine != ids or mine & deleted:
            return [f"batch {b}: token probe for batch {q} returned {len(mine)} docs, "
                    f"expected its {len(ids)} live docs"]
    return []


def _cos_top(state: CorpusState, v, k: int):
    ids = sorted(state.live)
    m = np.stack([state.vec[i] for i in ids])
    q = np.asarray(v)
    cos = m @ q / (np.linalg.norm(m, axis=1) * np.linalg.norm(q))
    cos = np.floor(cos * 1e6 + 0.5) / 1e6
    order = np.lexsort((np.asarray(ids), -cos))[:k]
    return [(ids[o], float(cos[o])) for o in order]


def check_recall(probes) -> list[str]:
    """Recall@K of served IVF probes against brute force."""
    hits = total = 0
    for state, vq, got in probes:
        for qid, v in vq:
            want = {i for i, _ in _cos_top(state, v, K)}
            hits += len(want & {d for q, d in got if q == qid})
            total += len(want)
    recall = hits / total if total else 0.0
    print(f"ivf recall@{K} at n_probe={N_PROBE}: {recall:.3f}", file=sys.stderr)
    return [] if recall >= RECALL_FLOOR else [
        f"ivf recall@{K} at n_probe={N_PROBE} is {recall:.3f} < {RECALL_FLOOR}"]


def check_ivf_exact(state: CorpusState, vq, got) -> list[str]:
    for qid, v in vq:
        want = _cos_top(state, v, K)
        mine = sorted([(d, c) for q, d, c in got if q == qid], key=lambda x: (-x[1], x[0]))
        if [d for d, _ in mine] != [d for d, _ in want] or any(
                abs(a[1] - b[1]) > 2e-6 for a, b in zip(mine, want)):
            return [f"ivf exhaustive query {qid}: got {mine[:3]}, brute force {want[:3]}"]
    return []


def check_rerank(state: CorpusState, vq, got) -> list[str]:
    q = dict(vq)
    for qid, d, dist in got:
        if d not in state.live:
            return [f"pq rerank returned non-live id {d}"]
        exact = float(np.sum((state.vec[d] - np.asarray(q[qid])) ** 2))
        if abs(exact - dist) > 2e-6 + 1e-9 * exact:
            return [f"pq rerank distance {dist} for ({qid}, {d}) != exact {exact}"]
    return []


def check_live(state: CorpusState, got) -> list[str]:
    bad = {d for _, d in got} - state.live
    return [f"pq probe returned {len(bad)} ids that are not live"] if bad else []
