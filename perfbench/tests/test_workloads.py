"""The benchmark's inputs are a pure function of the seed, and
BENCHMARK.json agrees with what the runner emits.

    python3 -m pytest perfbench/tests -q
"""

import json
import os

from perfbench import run, workloads as W

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Spark 4.1 `xxhash64(col)` of these strings, recorded from a session
SPARK_XXHASH64 = {
    "": -7444071767201028348,
    "a": -8582455328737087284,
    "abcd": -6810745876291105281,
    "abcdefgh": 2470326616177429180,
    "https://s7.ex.org/doc/1": 8415599369724215306,
    "x" * 31: -1716462135722163746,
    "y" * 32: 5202031258905353636,
    "z" * 77: -8020890518677196636,
    "héllo wörld": 7620070002295215535,
}


def test_xxhash64_matches_spark():
    for s, h in SPARK_XXHASH64.items():
        assert W.xxhash64(s.encode("utf-8")) == h, s


def test_same_seed_same_inputs():
    a, b = W.corpus(7), W.corpus(7)
    assert a == b
    assert [r["url"] for r in a] == [r["url"] for r in b]
    assert W.resume_held_out(7) == W.resume_held_out(7)
    assert [W.bucket_of(r["url"]) for r in a] == [W.bucket_of(r["url"]) for r in b]
    assert W.api_sample(7, a) == W.api_sample(7, b)


def test_other_seed_moves_buckets():
    a, b = W.corpus(7), W.corpus(8)
    assert {r["url"] for r in a}.isdisjoint(r["url"] for r in b)
    moved = sum(W.bucket_of(x["url"]) != W.bucket_of(y["url"]) for x, y in zip(a, b))
    assert moved > len(a) // 2  # ~7/8 of documents change bucket
    assert [r["text"] for r in a] != [r["text"] for r in b]
    assert W.api_sample(7, a) != W.api_sample(8, b)


def test_corpus_shape():
    rows = W.corpus(3)
    assert len(rows) == W.N_DOCS
    for i, r in enumerate(rows):
        toks = r["text"].split()
        extra = toks[-1] == "dup"
        assert extra == (i % 20 == 19)
        assert 10 <= len(toks) - extra <= 99
        assert set(toks) <= set(W.VOCAB) | {"dup"}
        assert r["html"] == f"<html><p>{r['text']}</p></html>".encode()
        assert r["lang"] in W.LANGS
    buckets = [W.bucket_of(r["url"]) for r in rows]
    assert set(buckets) == set(range(W.N_BUCKETS))
    assert len(W.api_sample(3, rows)) == W.API_SAMPLE


def test_fingerprints_agree():
    rows = [{"a": "x", "b": 1}, {"a": None, "b": 22}]
    n, h = run.fingerprint_rows(rows, ("a", "b"))
    assert n == 2 and h == run._md5_60("x\x1f1") + run._md5_60("\\N\x1f22")
    assert run.fingerprint_rows(rows[::-1], ("a", "b")) == (n, h)


def test_benchmark_json_matches_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    with open(os.path.join(ROOT, "perfbench", "layer_map.json")) as f:
        layers = json.load(f)["layers"]
    e2e = set(run.E2E_UNITS)
    for layer in layers.values():
        for move in layer["moves"]:
            assert move["metric"] in e2e
            assert set(move["workloads"]) <= set(run.WORKLOADS)
