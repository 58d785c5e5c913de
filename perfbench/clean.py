"""The ``corpus_clean`` workload: ``pipelines.clean_corpus`` over a
seeded, word-prefix-salted replica corpus with planted exact
duplicates (some differing only in Unicode composition), near
duplicates, low-quality documents and benchmark contamination."""

from __future__ import annotations

import hashlib
import os
import re
import time
import unicodedata

import numpy as np
import pyarrow as pa

import gen
from common import percentile

MIN_QUALITY = 0.3


def quality(text: str) -> float:
    """``functions.text.quality_score`` in plain Python."""
    n_chars = len(text)
    n_toks = len([t for t in re.split(r"\W+", text.lower(), flags=re.ASCII) if t])
    alpha = sum(1 for ch in text if ("a" <= ch <= "z") or ("A" <= ch <= "Z"))
    mean_tok = n_chars / max(n_toks, 1)
    len_ok = 1.0 if 100 <= n_chars <= 20000 else 0.0
    tok_ok = 1.0 if 3.0 <= mean_tok <= 12.0 else 0.0
    return (len_ok + tok_ok + alpha / max(n_chars, 1)) / 3.0


def base_corpus(seed: int, n: int) -> tuple[list[str], list[str]]:
    """(documents, benchmark texts) of one replica before salting.

    Words are drawn uniformly, so unrelated documents share few
    shingles, and every planted variant copies an original (never
    another variant): the duplicate structure, and with it the work
    dedup does, is the same for every seed."""
    rng = np.random.default_rng([seed, 5])
    lens = rng.integers(30, 80, size=n)
    picks = rng.integers(0, len(gen.VOCAB), size=int(lens.sum()))
    docs, pos = [], 0
    for k in lens:
        docs.append([gen.VOCAB[i] for i in picks[pos : pos + k]])
        pos += k
    order = rng.permutation(n)
    cut = [int(n * f) for f in (0.05, 0.08, 0.13, 0.16, 0.18)]
    variants = order[: cut[-1]]
    originals = order[cut[-1] :]
    for j, i in enumerate(variants):
        src = int(originals[int(rng.integers(len(originals)))])
        if j < cut[0]:  # exact copy
            docs[i] = list(docs[src])
        elif j < cut[1]:  # copy differing only in composition: é vs e + U+0301
            docs[src] = ["caf\u00e9"] + docs[src]
            docs[i] = ["cafe\u0301"] + docs[src][1:]
        elif j < cut[2]:  # near copy: one word replaced
            d = list(docs[src])
            d[int(rng.integers(len(d)))] = gen.VOCAB[int(rng.integers(len(gen.VOCAB)))]
            docs[i] = d
        elif j < cut[3]:  # too short to pass the quality floor
            docs[i] = docs[i][:3]
        else:  # mostly digits
            docs[i] = [str(int(x)) for x in rng.integers(0, 10**6, size=len(docs[i]))]
    bench = []
    for src in rng.choice(originals, size=max(n // 50, 1), replace=False):
        d = docs[int(src)]
        start = int(rng.integers(max(len(d) - 15, 1)))
        bench.append(d[start : start + 15])
    return [" ".join(d) for d in docs], [" ".join(b) for b in bench]


def salt(text: str, k: int) -> str:
    return re.sub(r"\b(\w)", rf"r{k}\1", text)


class CorpusClean:
    """Batch: repeated full ``clean_corpus`` passes; each pass reads
    the corpus, cleans it and collects the survivors."""

    BASE_DOCS = 400
    REPLICAS = 4
    PASS_S = 5.0  # nominal cost of one pass on 4 vCPUs

    def __init__(self, ctx):
        self.ctx = ctx
        self.root = os.path.join(ctx.tmp, "clean")
        self.results: list[list[tuple]] = []

    def setup(self) -> None:
        os.makedirs(self.root)
        docs, bench = base_corpus(self.ctx.seed, self.BASE_DOCS)
        texts, bench_texts = [], []
        for k in range(self.REPLICAS):
            texts += [salt(t, k) for t in docs]
            bench_texts += [salt(t, k) for t in bench]
        self.texts = texts
        self.corpus = os.path.join(self.root, "corpus.parquet")
        self.bench = os.path.join(self.root, "bench.parquet")
        self._write(self.corpus, texts)
        self._write(self.bench, bench_texts)
        self._pass()  # warm-up pass: Python workers and plan shapes
        self.results.clear()

    @staticmethod
    def _write(path: str, texts: list[str]) -> None:
        gen.write_parquet(pa.table({"doc_id": pa.array(range(len(texts)), pa.int64()), "text": texts}), path)

    def _frames(self):
        spark = self.ctx.spark
        return spark.read.parquet(self.corpus), spark.read.parquet(self.bench)

    def _pass(self) -> float:
        from platypus_ingestion_plugins_spark.pipelines import clean_corpus

        with self.ctx.tracer.span("clean.pass", trace_id=f"pass{len(self.results)}"):
            t = time.perf_counter()
            docs, bench = self._frames()
            out = clean_corpus(docs, benchmark=bench, min_quality=MIN_QUALITY)
            rows = out.select("doc_id", "text").collect()
            dt = time.perf_counter() - t
        self.results.append(rows)
        return dt

    def measure(self, duration: float) -> dict:
        """As many passes as ``duration`` holds at PASS_S each, at least
        two: a fixed amount of work per window."""
        times = [self._pass() for _ in range(max(2, round(duration / self.PASS_S)))]
        return {"pass_s": times, "docs": len(self.texts)}

    @staticmethod
    def summarize(m: dict) -> dict:
        ms = [t * 1000 for t in m["pass_s"]]
        return {
            "throughput_per_s": m["docs"] * len(ms) / sum(m["pass_s"]),
            "latency_p50_ms": percentile(ms, 50),
            "latency_p90_ms": percentile(ms, 90),
        }

    @staticmethod
    def named(e2e: dict) -> dict:
        return {"rows_per_s": (e2e["throughput_per_s"], "1/s")}

    @staticmethod
    def overhead(untraced: dict, traced: dict) -> float:
        return untraced["throughput_per_s"] / traced["throughput_per_s"]

    def operations(self, m: dict) -> int:
        return len(m["pass_s"])

    def layers(self, m: dict) -> dict:
        """Each stage of the chain timed alone, its input materialized
        first (localCheckpoint), in the order clean_corpus runs them."""
        from pyspark.sql import functions as F

        from platypus_ingestion_plugins_spark.functions.text import normalize_unicode, quality_score
        from platypus_ingestion_plugins_spark.operators import decontam, dedup

        docs, bench = self._frames()
        docs = docs.localCheckpoint(eager=True)
        out = {}

        def stage(name, build):
            t = time.perf_counter()
            df = build().localCheckpoint(eager=True)
            out[f"clean.{name}_s"] = time.perf_counter() - t
            return df

        normed = stage("normalize", lambda: docs.withColumn("text", normalize_unicode("text")))
        deduped = stage(
            "exact_dedup",
            lambda: normed.join(
                normed.groupBy(F.sha2("text", 256).alias("s")).agg(F.min("doc_id").alias("doc_id")).drop("s"),
                "doc_id", "left_semi",
            ),
        )
        pairs = stage(
            "lsh_pairs",
            lambda: dedup.minhash_lsh_dedup_pairs(deduped, "text", "doc_id", n=3, threshold=0.8),
        )
        groups = stage(
            "components",
            lambda: dedup.connected_components_star(pairs, nodes=deduped.select("doc_id"), id_col="doc_id"),
        )
        kept = deduped.join(
            groups.filter(F.col("doc_id") == F.col("group_id")).select("doc_id"), "doc_id", "left_semi"
        )
        cleaned = stage("quality", lambda: kept.filter(quality_score("text") >= MIN_QUALITY))
        bench_n = bench.withColumn("text", normalize_unicode("text"))
        final = stage("decontam", lambda: decontam.decontaminate(cleaned, bench_n, "text", "doc_id", n=13))
        candidates = dedup.lsh_candidate_pairs(
            dedup.minhash_signatures(deduped, "text", "doc_id", n=3), "doc_id"
        ).count()
        verified = pairs.count()
        out.update(
            {
                "clean.candidate_pairs": candidates,
                "clean.verified_pairs": verified,
                "clean.pair_yield": verified / candidates if candidates else 0.0,
                "clean.survivors": final.count(),
            }
        )
        return out

    def check(self) -> tuple[int, int]:
        """Per pass: survivors are input documents (text NFC-normalized),
        no two share a normalized-text sha, and each clears the quality
        floor. Counts one failure per violating survivor."""
        failed, attempted = 0, 0
        for rows in self.results:
            attempted += len(self.texts)
            seen = set()
            for doc_id, text in rows:
                ok = 0 <= doc_id < len(self.texts) and text == unicodedata.normalize("NFC", self.texts[doc_id])
                sha = hashlib.sha256(text.encode()).hexdigest()
                ok = ok and sha not in seen and quality(text) >= MIN_QUALITY - 1e-6
                seen.add(sha)
                failed += not ok
        return attempted, failed
