"""The corpus half of the ``batch`` workload: LLM-corpus curation over a
generated corpus.

Its share of a pass runs text signals, exact / MinHash / SimHash /
word-n-gram dedup, connected components over the n-gram pairs, eval
decontamination, DSIR selection, and ``plans.corpus.run_corpus_pipeline_v2``
— whose stages include the unigram-LM quality gate and the temperature
mix — with its training split written to parquet.

Checks (after the timed passes), each computed in plain Python from the
generator's planted truth or from the texts themselves: exact dedup
removes exactly the planted copies; MinHash and SimHash candidates hold
every planted identical pair; every n-gram pair recomputes to its reported
Jaccard, at least the threshold; the component labels equal a union-find
over the emitted edges; decontamination flags every planted passage; DSIR
returns exactly k distinct documents; token counts per language equal a
Python recount.
"""

from __future__ import annotations

import json
import os
import re

import pyarrow.parquet as pq

import gen
from common import dir_bytes

NGRAM_N, NGRAM_THRESHOLD = 3, 0.5
SHINGLE_K, MINHASH_THRESHOLD = 5, 0.5
DECONTAM_N = 8
DSIR_K = 300


def make_inputs(work: str, seed: int, scale: str) -> dict:
    return {"corpus": gen.ensure(work, "corpus", seed, scale)}


class Part:
    def __init__(self, spark, tracer, run_dir: str):
        from pwhl_data_engineering_pipeline_spark.functions import text
        from pwhl_data_engineering_pipeline_spark.operators import dedup, dsir, graph
        from pwhl_data_engineering_pipeline_spark.plans import corpus
        from pwhl_data_engineering_pipeline_spark.sources import readers, writers

        self.spark, self.tracer, self.run_dir = spark, tracer, run_dir
        self.text, self.dedup, self.dsir, self.graph = text, dedup, dsir, graph
        self.corpus, self.readers, self.writers = corpus, readers, writers
        self.results: dict = {}
        self.written = 0

    def _ops(self, inp: dict, out: str):
        from pyspark.sql import functions as F

        spark, d, text = self.spark, self.dedup, self.text
        docs = self.readers.read_parquet(spark, f"{inp['corpus']}/docs.parquet")
        evalset = self.readers.read_parquet(spark, f"{inp['corpus']}/eval.parquet")
        state = {}

        def signals():
            return (
                docs.select(
                    "lang", text.token_count("text").alias("n_tok"),
                    text.lang_id("text").alias("guess"), text.quality_score("text").alias("q"),
                    text.dup_ngram_fraction("text").alias("dup5"),
                )
                .groupBy("lang")
                .agg(F.sum("n_tok").alias("tokens"), F.count(F.lit(1)).alias("n"),
                     F.sum(F.when(F.col("guess") == F.col("lang"), 1).otherwise(0)).alias("lang_hits"),
                     F.avg("q").alias("q"), F.avg("dup5").alias("dup5"))
                .toArrow()
            )

        def ngram_pairs():
            rows = d.ngram_jaccard_pairs(docs, n=NGRAM_N, threshold=NGRAM_THRESHOLD).toArrow()
            state["edges"] = rows
            return rows

        def components():
            edges = spark.createDataFrame(
                state["edges"].select(["id_a", "id_b"]).to_pandas()
            ) if state["edges"].num_rows else spark.createDataFrame([], "id_a long, id_b long")
            return self.graph.connected_components(edges, driver_threshold=0).toArrow()

        def export():
            # the export's LM gate and temperature mix are the corpus
            # half's LM-quality and mixing steps
            self.writers.write_parquet(self.corpus.run_corpus_pipeline_v2(docs).train, f"{out}/export")
            self.written = dir_bytes(out)[1]

        return [
            ("text_signals", "functions.text", signals),
            ("dedup_exact", "operators.dedup", lambda: d.dedup_exact(docs).select("doc_id").toArrow()),
            ("minhash_pairs", "operators.dedup", lambda: d.minhash_candidate_pairs(docs).toArrow()),
            ("simhash_pairs", "operators.dedup",
             # uncapped buckets: the default cap of 64 drops planted exact
             # duplicates on this corpus (see the benchmark README)
             lambda: d.simhash_near_pairs(docs, max_hamming=3, method="arrow", max_bucket=None)
             .select("id_a", "id_b").toArrow()),
            ("ngram_pairs", "operators.dedup", ngram_pairs),
            ("components", "operators.graph", components),
            ("decontaminate", "operators.dedup",
             lambda: d.ngram_contamination(docs, evalset, n=DECONTAM_N).select("doc_id").toArrow()),
            ("dsir_select", "operators.dsir",
             lambda: self.dsir.dsir_select(docs, docs.filter(F.col("source") == "books"), DSIR_K)
             .select("doc_id").toArrow()),
            ("export", "plans.corpus", export),
        ]

    def pass_ops(self, inp: dict, i: int):
        """The operations of measured pass ``i`` (each pass writes apart)."""
        return self._ops(inp, os.path.join(self.run_dir, f"pass{i}"))

    def begin(self) -> None:
        """Traced runs count star-contraction rounds: one ``_small_star``
        call per round of ``graph.connected_components``."""
        if not self.tracer.enabled:
            return
        small_star = self.graph._small_star

        def counted(e):
            self.tracer.count("graph.rounds")
            return small_star(e)

        self.graph._small_star = counted

    def finish(self, first: dict, op_times: dict, n_passes: int) -> dict:
        self.results = first
        if self.tracer.enabled and first.get("minhash_pairs") is not None:
            self.tracer.count("dedup.candidate_pairs", first["minhash_pairs"].num_rows * n_passes)
        return {"writes": op_times["export"], "written": self.written}

    # -- checks ----------------------------------------------------------------

    def check(self, inp: dict) -> list[str]:
        self.truth = t = Truth(inp["corpus"])
        r = self.results

        def ids(name, col="doc_id"):
            return None if r.get(name) is None else r[name].column(col).to_pylist()

        def pairs(name):
            if r.get(name) is None:
                return None
            return list(zip(r[name].column("id_a").to_pylist(), r[name].column("id_b").to_pylist()))

        self.got = {
            "signals": None if r.get("text_signals") is None else
            {x["lang"]: x["tokens"] for x in r["text_signals"].to_pylist()},
            "exact_kept": ids("dedup_exact"),
            "minhash": pairs("minhash_pairs"),
            "simhash": pairs("simhash_pairs"),
            "ngram": None if r.get("ngram_pairs") is None else r["ngram_pairs"].to_pylist(),
            "components": None if r.get("components") is None else r["components"].to_pylist(),
            "decontam": ids("decontaminate"),
            "dsir": ids("dsir_select"),
        }
        if self.got["minhash"] is not None:
            prec = t.shingle_precision(self.got["minhash"])
            self.tracer.samples["dedup.pair_precision"].append(prec)
        return self.run_checks(self.got)

    def run_checks(self, g: dict) -> list[str]:
        t, out = self.truth, []
        for key, fn in (
            ("signals", t.check_tokens), ("exact_kept", t.check_exact),
            ("minhash", t.check_identical_pairs), ("simhash", t.check_identical_pairs),
            ("ngram", t.check_ngram), ("components", None), ("decontam", t.check_decontam),
            ("dsir", t.check_dsir),
        ):
            if g[key] is None:
                out.append(f"{key}: no result")
            elif key == "components":
                out += t.check_components(g["components"], g["ngram"] or [])
            else:
                out += [f"{key}: {p}" for p in fn(g[key])]
        return out

    def selftest(self) -> list[str]:
        """Each check must fail on a corrupted result."""
        g, t = self.got, self.truth
        if any(v is None for v in g.values()):
            return []  # the failed operation is already reported
        lang = next(iter(g["signals"]))
        first_copy = t.exact_pairs[0]
        comp = g["components"]
        cases = {
            "tokens: perturbed": t.check_tokens({**g["signals"], lang: g["signals"][lang] + 1}),
            "exact: copy kept": t.check_exact(g["exact_kept"] + [first_copy[1]]),
            "exact: original dropped": t.check_exact([i for i in g["exact_kept"] if i != first_copy[0]]),
            "minhash: dropped pair": t.check_identical_pairs([p for p in g["minhash"] if p != first_copy]),
            "simhash: dropped pair": t.check_identical_pairs([p for p in g["simhash"] if p != first_copy]),
            "ngram: perturbed value": t.check_ngram(
                [{**g["ngram"][0], "jaccard": g["ngram"][0]["jaccard"] + 0.05}] + g["ngram"][1:]),
            "ngram: swapped ids": t.check_ngram(
                [{**g["ngram"][0], "id_b": t.unrelated(g["ngram"][0]["id_a"])}] + g["ngram"][1:]),
            "components: dropped node": t.check_components(comp[1:], g["ngram"]),
            "components: relabelled": t.check_components(
                [{**comp[0], "cluster_id": comp[0]["cluster_id"] + 10**9}] + comp[1:], g["ngram"]),
            "decontam: planted doc dropped": t.check_decontam(
                [i for i in g["decontam"] if i != min(t.contaminated)]),
            "dsir: dropped doc": t.check_dsir(g["dsir"][1:]),
            "dsir: duplicated doc": t.check_dsir(g["dsir"][:-1] + g["dsir"][:1]),
        }
        return [f"self-test: check did not fail on {k}" for k, v in cases.items() if not v]


class Truth:
    """What the generator planted, and the Python recomputations."""

    def __init__(self, corpus_dir: str):
        tab = pq.read_table(f"{corpus_dir}/docs.parquet")
        self.text = dict(zip(tab.column("doc_id").to_pylist(), tab.column("text").to_pylist()))
        self.lang = dict(zip(tab.column("doc_id").to_pylist(), tab.column("lang").to_pylist()))
        with open(f"{corpus_dir}/truth.json") as fh:
            t = json.load(fh)
        self.exact_pairs = [tuple(p) for p in t["exact_pairs"]]
        self.contaminated = {int(k) for k in t["contaminated"]}

    def unrelated(self, i: int) -> int:
        """Some document sharing nothing planted with ``i``."""
        return next(j for j in sorted(self.text) if j != i and _jaccard(
            _ngrams(self.text[i], NGRAM_N), _ngrams(self.text[j], NGRAM_N)) < NGRAM_THRESHOLD)

    def check_tokens(self, per_lang: dict) -> list[str]:
        want: dict = {}
        for i, s in self.text.items():
            want[self.lang[i]] = want.get(self.lang[i], 0) + len(s.split())
        return [] if per_lang == want else [f"token counts {per_lang} != {want}"]

    def check_exact(self, kept: list[int]) -> list[str]:
        removed = set(self.text) - set(kept)
        want = {c for _, c in self.exact_pairs}
        if len(kept) != len(set(kept)) or removed != want:
            return [f"removed {len(removed)} docs, planted copies {len(want)}, "
                    f"{len(removed ^ want)} differ"]
        return []

    def check_identical_pairs(self, pairs: list[tuple]) -> list[str]:
        missing = set(self.exact_pairs) - {(min(a, b), max(a, b)) for a, b in pairs}
        return [f"{len(missing)} planted identical pairs missing, e.g. {sorted(missing)[:3]}"] if missing else []

    def check_ngram(self, rows: list[dict]) -> list[str]:
        for r in rows:
            j = _jaccard(_ngrams(self.text[r["id_a"]], NGRAM_N), _ngrams(self.text[r["id_b"]], NGRAM_N))
            if j < NGRAM_THRESHOLD or abs(j - r["jaccard"]) > 1e-9:
                return [f"pair ({r['id_a']}, {r['id_b']}) reported {r['jaccard']}, recomputes to {j}"]
        return []

    def check_components(self, labels: list[dict], edges: list[dict]) -> list[str]:
        parent: dict = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for e in edges:
            a, b = find(e["id_a"]), find(e["id_b"])
            if a != b:
                parent[max(a, b)] = min(a, b)
        # the root of each set is its smallest id: unions keep the min root
        want = {n: find(n) for n in parent}
        got = {r["node"]: r["cluster_id"] for r in labels}
        if len(set(want.values())) != len(set(got.values())) or got != want:
            return [f"components: {len(set(got.values()))} components over {len(got)} nodes, "
                    f"union-find gives {len(set(want.values()))} over {len(want)}"]
        return []

    def check_decontam(self, flagged: list[int]) -> list[str]:
        missing = self.contaminated - set(flagged)
        return [f"{len(missing)} planted contaminated docs not flagged"] if missing else []

    def check_dsir(self, ids: list[int]) -> list[str]:
        if len(ids) != DSIR_K or len(set(ids)) != DSIR_K or not set(ids) <= set(self.text):
            return [f"{len(ids)} rows ({len(set(ids))} distinct), expected {DSIR_K} corpus docs"]
        return []

    def shingle_precision(self, pairs: list[tuple]) -> float:
        """Share of MinHash candidates whose character-shingle Jaccard
        meets the threshold the banding targets."""
        if not pairs:
            return 0.0
        ok = sum(
            _jaccard(_shingles(self.text[a]), _shingles(self.text[b])) >= MINHASH_THRESHOLD
            for a, b in pairs
        )
        return ok / len(pairs)


def _ngrams(s: str, n: int) -> set:
    toks = s.lower().strip().split()
    return {" ".join(toks[i:i + n]) for i in range(max(len(toks) - n, 0) + 1)}


def _shingles(s: str, k: int = SHINGLE_K) -> set:
    s = re.sub(r"\s+", " ", s).lower()
    return {s[i:i + k] for i in range(max(len(s) - k + 1, 1))}


def _jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0
