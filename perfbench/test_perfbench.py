"""Tests of the benchmark's own machinery (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import re
import statistics
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import clean  # noqa: E402
import gen  # noqa: E402
from common import Tracer, percentile  # noqa: E402

METRIC_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _inputs(seed: int, out: str) -> list[str]:
    """Every kind of generated input file, written under ``out``."""
    os.makedirs(out)
    paths = []
    log = gen.Changelog(seed, 5000)
    for name, table in (("pre", log.preload(500)), ("drop", log.batch(300))):
        paths.append(os.path.join(out, f"{name}.parquet"))
        gen.write_parquet(table, paths[-1])
    frames, _poison, _sids = gen.FrameEncoder(log.pool).frames(log.batch(300), np.random.default_rng(seed))
    paths.append(os.path.join(out, "frames.bin"))
    with open(paths[-1], "wb") as f:
        f.write(b"".join(len(fr).to_bytes(4, "big") + fr for fr in frames))
    paths.append(os.path.join(out, "docs.parquet"))
    gen.write_parquet(gen.documents(seed, 400), paths[-1])
    docs, bench = clean.base_corpus(seed, 200)
    paths.append(os.path.join(out, "corpus.json"))
    with open(paths[-1], "w") as f:
        json.dump([docs, bench], f)
    return paths


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _inputs(7, str(tmp_path / "a"))
    b = _inputs(7, str(tmp_path / "b"))
    c = _inputs(8, str(tmp_path / "c"))
    assert [_digest(p) for p in a] == [_digest(p) for p in b]
    assert all(_digest(p) != _digest(q) for p, q in zip(a, c))


def test_encoder_matches_confluent_fixture():
    path = os.path.join(ROOT, "tests", "fixtures", "confluent_wire_fixture.jsonl")
    with open(path) as f:
        header, *rows = [json.loads(line) for line in f]
    checked = 0
    for row in rows:
        if row["expect"] is None:
            continue  # malformed frames: nothing to encode
        schema = header["schemas"][str(row["schema_id"])]
        frame = gen.confluent_frame(row["expect"], schema, row["schema_id"])
        assert frame == base64.b64decode(row["frame_b64"])
        checked += 1
    assert checked >= 20


def test_cached_tail_frames_equal_full_encoding():
    log = gen.Changelog(3, 1000)
    ops = log.batch(200)
    frames, poison, sids = gen.FrameEncoder(log.pool).frames(ops, np.random.default_rng(3), poison_frac=0.0)
    assert not any(poison)
    for row, frame, sid in zip(ops.to_pylist(), frames, sids):
        record = dict(row, metadata={"author": row["metadata_author"], "publishDate": row["metadata_publishDate"]})
        assert frame == gen.confluent_frame(record, gen.DOC_SCHEMAS[sid], sid)


def test_poison_frames_are_undecodable():
    from platypus_ingestion_plugins_spark.sources.avro_decode import decode_record

    log = gen.Changelog(5, 1000)
    frames, poison, sids = gen.FrameEncoder(log.pool).frames(log.batch(2000), np.random.default_rng(5), poison_frac=0.2)
    for frame, bad, sid in zip(frames, poison, sids):
        schema_id = int.from_bytes(frame[1:5], "big")
        if schema_id not in gen.DOC_SCHEMAS:
            assert bad
            continue
        try:
            decode_record(frame[5:], gen.DOC_SCHEMAS[schema_id])
            decoded = True
        except ValueError:
            decoded = False
        assert decoded != bad


@pytest.mark.parametrize("q", [50, 90, 99])
def test_percentile_matches_numpy_and_quartiles(q):
    rng = np.random.default_rng(q)
    xs = rng.exponential(size=101).tolist()
    assert percentile(xs, q) == pytest.approx(float(np.percentile(xs, q)))
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    assert percentile(xs, 25) == pytest.approx(q1)
    assert percentile(xs, 50) == pytest.approx(q2)
    assert percentile(xs, 75) == pytest.approx(q3)


def test_percentile_tail_of_small_samples():
    assert percentile([5.0], 90) == 5.0
    assert percentile(list(range(1, 11)), 90) == pytest.approx(9.1)
    with pytest.raises(ValueError):
        percentile([], 50)


def test_metric_names_and_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]] + [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for name in names:
        assert METRIC_NAME.match(name), name
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in spec["end_to_end"])


def test_self_time_subtracts_children():
    t = Tracer()
    with t.span("outer", trace_id="r1"):
        with t.span("inner"):
            pass
    by_name = {s["name"]: s for s in t.with_self_time()}
    outer, inner = by_name["outer"], by_name["inner"]
    assert inner["parent"] == outer["id"] and inner["trace"] == "r1"
    assert outer["self"] == pytest.approx(
        (outer["end"] - outer["start"]) - (inner["end"] - inner["start"])
    )


def test_quality_reference_bounds():
    assert clean.quality("x" * 50) == pytest.approx(1.0 / 3)  # too short, one long token
    assert clean.quality(" ".join(["word"] * 40)) == pytest.approx(1.0 / 3 * (2 + 160 / 199))
