"""The ``search`` workload: one closed-loop client runs a seeded query
mix against a serving table and its positional term index, with
ingest idle. Every answer is checked against a pure-Python reference
over the same generated documents."""

from __future__ import annotations

import math
import os
import re
import time
from collections import Counter

import numpy as np

import gen
from common import percentile

# one rotation of the mix runs each kind once: no traffic weighting is
# claimed, and with an odd number of kinds the median latency falls
# inside one kind's population rather than between two
KINDS = ("lookup", "term", "match", "bm25", "bm25_indexed", "phrase_indexed", "aggs")
TOP = 10
K1, B = 1.2, 0.75
AGGS = {
    "aggs": {
        "by_category": {
            "terms": {"field": "category", "size": 5},
            "aggs": {"avg_rating": {"avg": {"field": "rating"}}},
        }
    }
}
TOL = 2e-6


def analyze(s: str) -> list[str]:
    """The engine's analyzer: lowercase, split on ASCII non-word runs."""
    return [t for t in re.split(r"\W+", s.lower(), flags=re.ASCII) if t]


class Reference:
    """Answers every query kind from plain Python structures."""

    def __init__(self, docs: dict[str, list]):
        self.docs = docs
        self.ids = docs["id"]
        self.row = {k: i for i, k in enumerate(self.ids)}
        self.toks = [analyze(c) for c in docs["content"]]
        self.postings: dict[str, set[int]] = {}
        for i, ts in enumerate(self.toks):
            for t in set(ts):
                self.postings.setdefault(t, set()).add(i)
        self.avgdl = sum(map(len, self.toks)) / len(self.toks)

    def lookup(self, key):
        i = self.row[key]
        return [tuple(self.docs[c][i] for c in ("id", "title", "category", "rating"))]

    def term(self, category):
        return sorted(k for k, c in zip(self.ids, self.docs["category"]) if c == category)[:TOP]

    def _matching(self, query) -> set[int]:
        out: set[int] = set()
        for t in set(analyze(query)):
            out |= self.postings.get(t, set())
        return out

    def match(self, query):
        return sorted(self.ids[i] for i in self._matching(query))[:TOP]

    def bm25(self, query) -> dict[str, float]:
        n = len(self.toks)
        terms = sorted(set(analyze(query)))
        idf = {}
        for t in terms:
            df = len(self.postings.get(t, ()))
            idf[t] = math.log(1 + (n - df + 0.5) / (df + 0.5))
        scores = {}
        for i in self._matching(query):
            tf = Counter(self.toks[i])
            dl = len(self.toks[i])
            s = 0.0
            for t in terms:
                if tf[t]:
                    s += idf[t] * tf[t] * (K1 + 1) / (tf[t] + K1 * (1 - B + B * dl / self.avgdl))
            scores[self.ids[i]] = s
        return scores

    def phrase(self, phrase):
        toks = analyze(phrase)
        cand = set.intersection(*(self.postings.get(t, set()) for t in toks))
        out = set()
        for i in cand:
            ts = self.toks[i]
            if any(ts[p : p + len(toks)] == toks for p in range(len(ts) - len(toks) + 1)):
                out.add(self.ids[i])
        return out

    def aggs(self, word):
        sel = [i for i in self._matching(word)]
        count, total = Counter(), Counter()
        for i in sel:
            c = self.docs["category"][i]
            count[c] += 1
            total[c] += self.docs["rating"][i]
        top = sorted(count, key=lambda c: (-count[c], c))[:5]
        return {c: (count[c], total[c] / count[c]) for c in top}


def same_topk(got: list[tuple[str, float]], scores: dict[str, float]) -> bool:
    """A valid top-k: every returned score matches the reference for
    that id, and the returned scores are the k best reference scores."""
    best = sorted(scores.values(), reverse=True)[:TOP]
    if len(got) != len(best):
        return False
    if any(abs(s - round(scores.get(i, -1e9), 6)) > TOL for i, s in got):
        return False
    return all(abs(a - round(b, 6)) <= TOL for (_, a), b in zip(got, best))


class Search:
    DOCS = 10_000
    BUCKETS = 8
    INDEX_BUCKETS = 16
    ROTATION_S = 4.0  # nominal cost of one rotation on 4 vCPUs

    def __init__(self, ctx):
        self.ctx = ctx
        self.root = os.path.join(ctx.tmp, "search")
        self.rng = np.random.default_rng([ctx.seed, 4])
        self.answers: list[tuple[str, object, object]] = []
        self.qno = 0

    def setup(self) -> None:
        from platypus_ingestion_plugins_spark.serving import ServingTable, build_term_index

        spark = self.ctx.spark
        os.makedirs(self.root)
        docs = gen.documents(self.ctx.seed, self.DOCS)
        self.docs = docs.to_pydict()
        path = os.path.join(self.root, "docs.parquet")
        gen.write_parquet(docs, path)
        self.table = ServingTable(spark, os.path.join(self.root, "index"), key="id", num_buckets=self.BUCKETS)
        self.table.overwrite(spark.read.parquet(path))
        self.term_index = os.path.join(self.root, "terms")
        build_term_index(
            self.table.query(), "content", "id", self.term_index,
            buckets=self.INDEX_BUCKETS, positions=True,
        )
        # one query of each kind compiles its plan shapes before timing
        for kind in KINDS:
            self._run(kind, self._params(kind))
        self.answers.clear()

    def _params(self, kind: str):
        rng = self.rng
        if kind == "lookup":
            return gen.key_name(int(rng.integers(self.DOCS)))
        if kind == "term":
            return gen.CATEGORIES[int(rng.choice(len(gen.CATEGORIES), p=gen.CATEGORY_P))]
        if kind in ("match", "bm25", "bm25_indexed"):
            return " ".join(gen.draw_words(rng, 2))
        if kind == "aggs":
            return gen.draw_words(rng, 1)[0]
        # phrase: two adjacent words of a random document
        toks = analyze(self.docs["content"][int(rng.integers(self.DOCS))])
        p = int(rng.integers(len(toks) - 1))
        return f"{toks[p]} {toks[p + 1]}"

    def _plan(self, kind: str, arg):
        from pyspark.sql import functions as F

        from platypus_ingestion_plugins_spark.serving import (
            bm25_indexed, run_aggs, search, search_phrase_indexed, term,
        )
        from platypus_ingestion_plugins_spark.serving.query import bm25_scores, match_text

        spark, t = self.ctx.spark, self.table
        if kind == "lookup":
            return t.lookup(arg).select("id", "title", "category", "rating")
        if kind == "term":
            return search(t.query(), term("category", arg), top=TOP, order_by="id", fields=["id"])
        if kind == "match":
            return search(t.query(), match_text("content", arg), top=TOP, order_by="id", fields=["id"])
        if kind == "bm25":
            return bm25_scores(t.query(), "content", arg, "id").orderBy(F.desc("bm25"), "id").limit(TOP)
        if kind == "bm25_indexed":
            return (
                bm25_indexed(spark, self.term_index, arg, id_col="id")
                .orderBy(F.desc("bm25"), "id").limit(TOP)
            )
        if kind == "phrase_indexed":
            return search_phrase_indexed(spark, self.term_index, arg, id_col="id")
        return run_aggs(t.query().filter(match_text("content", arg)), AGGS)

    def _run(self, kind: str, arg) -> tuple[float, float]:
        """Plan (build the frame and its physical plan) then execute;
        returns (plan seconds, exec seconds)."""
        tracer = self.ctx.tracer
        self.qno += 1
        with tracer.span(f"query.{kind}", trace_id=f"q{self.qno}"):
            t0 = time.perf_counter()
            with tracer.span("query.plan"):
                df = self._plan(kind, arg)
                df._jdf.queryExecution().executedPlan()
            t1 = time.perf_counter()
            with tracer.span("query.exec"):
                rows = df.collect()
            t2 = time.perf_counter()
        self.answers.append((kind, arg, [tuple(r) for r in rows]))
        return t1 - t0, t2 - t1

    def measure(self, duration: float) -> dict:
        """Whole rotations, as many as ``duration`` holds at ROTATION_S
        each and at least three: a fixed amount of work per window, so
        every run has the same number of queries of each kind."""
        lat, plan, exe, kinds = [], [], [], []
        busy = 0.0
        for _ in range(max(3, round(duration / self.ROTATION_S))):
            for kind in KINDS:
                p, e = self._run(kind, self._params(kind))
                busy += p + e
                lat.append((p + e) * 1000)
                plan.append(p * 1000)
                exe.append(e * 1000)
                kinds.append(kind)
        return {"latency_ms": lat, "plan_ms": plan, "exec_ms": exe, "kinds": kinds, "busy_s": busy}

    @staticmethod
    def summarize(m: dict) -> dict:
        return {
            "throughput_per_s": len(m["latency_ms"]) / m["busy_s"],
            "latency_p50_ms": percentile(m["latency_ms"], 50),
            "latency_p90_ms": percentile(m["latency_ms"], 90),
        }

    @staticmethod
    def named(e2e: dict) -> dict:
        return {
            "query_p50_ms": (e2e["latency_p50_ms"], "ms"),
            "query_p90_ms": (e2e["latency_p90_ms"], "ms"),
            "queries_per_s": (e2e["throughput_per_s"], "1/s"),
        }

    @staticmethod
    def overhead(untraced: dict, traced: dict) -> float:
        return traced["latency_p50_ms"] / untraced["latency_p50_ms"]

    def layers(self, m: dict) -> dict:
        out = {}
        for kind in KINDS:
            out[f"query.{kind}_ms_p50"] = percentile(
                [x for x, k in zip(m["latency_ms"], m["kinds"]) if k == kind], 50
            )
        out["query.plan_ms_p50"] = percentile(m["plan_ms"], 50)
        out["query.exec_ms_p50"] = percentile(m["exec_ms"], 50)
        out["serving.read_ms_p50"] = percentile(self.ctx.tracer.durations_ms("serving.read"), 50)
        return out

    def operations(self, m: dict) -> int:
        return len(m["latency_ms"])

    def check(self) -> tuple[int, int]:
        ref = Reference(self.docs)
        failed = 0
        for kind, arg, rows in self.answers:
            if kind == "lookup":
                ok = rows == ref.lookup(arg)
            elif kind in ("term", "match"):
                ok = [r[0] for r in rows] == getattr(ref, kind)(arg)
            elif kind in ("bm25", "bm25_indexed"):
                ok = same_topk([(r[0], r[1]) for r in rows], ref.bm25(arg))
            elif kind == "phrase_indexed":
                ok = len(rows) == len({r[0] for r in rows}) and {r[0] for r in rows} == ref.phrase(arg)
            else:
                want = ref.aggs(arg)
                got = {r[0]: (r[1], r[2]) for r in rows}
                ok = got.keys() == want.keys() and all(
                    got[c][0] == want[c][0] and abs(got[c][1] - want[c][1]) <= 1e-9 for c in want
                )
            failed += not ok
        return len(self.answers), failed
