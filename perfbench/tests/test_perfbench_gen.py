"""Seed determinism of every generated input and request stream."""

import hashlib
import json
import os
import subprocess
import sys

import gen

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _events(tmp_path, seed: int, name: str) -> str:
    path = str(tmp_path / name)
    gen.write_events_csv(path, seed, n=2000, days=7)
    return _digest(path)


def _streams(seed: int) -> str:
    dom = gen.events_domain(2000, 7)
    base = gen.corpus_docs(seed, 200)
    return json.dumps({
        "adhoc": gen.adhoc_stream(seed, dom, 300),
        "rounds": gen.corpus_rounds(seed, base, 4, 20, 3, 3),
    }, sort_keys=True)


def _corpus(tmp_path, seed: int, name: str) -> str:
    path = str(tmp_path / name)
    gen.write_docs_jsonl(path, gen.corpus_docs(seed, 200))
    return _digest(path)


def test_same_seed_gives_identical_inputs(tmp_path):
    assert _events(tmp_path, 7, "a.csv") == _events(tmp_path, 7, "b.csv")
    assert _corpus(tmp_path, 7, "a.jsonl") == _corpus(tmp_path, 7, "b.jsonl")
    assert _streams(7) == _streams(7)


def test_different_seed_gives_different_inputs(tmp_path):
    assert _events(tmp_path, 7, "a.csv") != _events(tmp_path, 8, "b.csv")
    assert _corpus(tmp_path, 7, "a.jsonl") != _corpus(tmp_path, 8, "b.jsonl")
    assert _streams(7) != _streams(8)


def test_streams_have_the_promised_mix():
    dom = gen.events_domain(2000, 7)
    adhoc = gen.adhoc_stream(3, dom, 100)
    warm = {gen.query_key(r["q"]) for r in adhoc["warmup"]}
    repeats = [gen.query_key(r["q"]) for r in adhoc["timed"]
               if r["kind"] == "repeat"]
    others = [gen.query_key(r["q"]) for r in adhoc["timed"]
              if r["kind"] != "repeat"]
    assert len(repeats) == 20 and set(repeats) <= warm
    assert len(set(others)) == len(others) and not warm & set(others)


def test_corpus_rounds_inject_disjoint_duplicates():
    base = gen.corpus_docs(5, 300)
    texts = {t for _, t in base}
    rounds = gen.corpus_rounds(5, base, 3, 20, 4, 4)
    ids = [d for r in rounds for d, _ in r["docs"]]
    assert len(ids) == len(set(ids)) and min(ids) == len(base)
    for r in rounds:
        shard = [t for _, t in r["docs"]]
        assert sum(t in texts for t in shard) == r["recrawl"]
        assert all(r["terms"][0] in dict(r["docs"])[d].split()
                   for d in r["marked"])


def test_generators_do_not_import_the_package():
    code = ("import sys, gen; gen.corpus_docs(1, 5); "
            "print(any(m.startswith('query_planner_optimizer_spark') "
            "or m.startswith('pyspark') for m in sys.modules))")
    out = subprocess.run([sys.executable, "-c", code], cwd=BENCH,
                         capture_output=True, text=True, check=True)
    assert out.stdout.strip() == "False"
