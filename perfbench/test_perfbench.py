"""Fast tests of the benchmark itself (no Spark): seeded inputs are
deterministic, and every output checker rejects a corrupted output.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow.parquet as pq
import pytest

from perfbench import checks, inputs
from perfbench.workloads import Turns, engine_run
from ukeeper_readability_spark.engine import extract_document


@pytest.fixture
def tiny(monkeypatch):
    monkeypatch.setattr(inputs, "ARTICLES_ROWS", 6)
    monkeypatch.setattr(inputs, "TURNS_ROWS", 60)
    monkeypatch.setattr(inputs, "DEDUP_DOCS", 60)
    monkeypatch.setattr(inputs, "ANN_VECTORS", 200)
    monkeypatch.setattr(inputs, "ANN_QUERIES", 5)


def _read(path):
    return pq.read_table(path).to_pylist()


@pytest.mark.parametrize("workload", ["articles", "turns", "dedup", "ann"])
def test_inputs_deterministic_per_seed(tiny, tmp_path, workload):
    def gen(seed, sub):
        d = tmp_path / sub
        if workload == "turns":
            inputs.turns(seed, str(d))
            return [_read(str(d / "turns" / k)) for k in ("transcripts", "rules")]
        if workload == "ann":
            inputs.ann(seed, str(d), 2)
            return [_read(str(d / "ann" / k)) for k in ("corpus", "queries")]
        getattr(inputs, workload)(seed, str(d), 2)
        return [_read(str(d / workload))]

    assert gen(7, "a") == gen(7, "b")
    assert gen(7, "a") != gen(8, "c")


def _md5(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def _flip_first_byte(s: str) -> str:
    b = s.encode("utf-8")
    return (bytes([b[0] ^ 1]) + b[1:]).decode("utf-8")


def _article_rows(inp):
    rows = []
    for conv, turn, _, text, url, _ in inp["sample"]:
        r = extract_document(text, url, snippet_size=checks.SNIPPET)
        rows.append({
            "conv_id": conv, "turn_idx": turn,
            "content_bytes": len(r["content"].encode()), "content_md5": _md5(r["content"]),
            "rich_md5": _md5(r["rich_content"]), "title": r["title"], "excerpt": r["excerpt"],
            "lead_image_url": r["lead_image_url"], "n_links": len(r["links"] or []),
            "general_parse": r["metrics"]["general_parse"],
            "rule_hit": r["metrics"]["rule_hit"],
        })
    return rows


def test_articles_checker(tiny, tmp_path):
    inp = inputs.articles(3, str(tmp_path), 2)
    rows = _article_rows(inp)
    assert checks.check_articles(rows, inp["fixture_of"]) == []
    # one flipped content byte in one row
    _, _, _, text, url, _ = inp["sample"][0]
    content = extract_document(text, url, snippet_size=checks.SNIPPET)["content"]
    flipped = [dict(r) for r in rows]
    flipped[0]["content_md5"] = _md5(_flip_first_byte(content))
    assert checks.check_articles(flipped, inp["fixture_of"])
    # one dropped row
    assert checks.check_articles(rows[1:], inp["fixture_of"])


def _turn_rows(wl):
    rows = []
    for (conv, turn, _, text, tool, _), (_, _, rule) in zip(wl.inp["sample"], wl.engine_sample()):
        r = extract_document(text, tool or "", rule_selector=rule, snippet_size=wl.snippet)
        rows.append({
            "conv_id": conv, "turn_idx": turn, "content_md5": _md5(r["content"]),
            "rich_md5": _md5(r["rich_content"]), "title": r["title"],
            "excerpt_md5": _md5(r["excerpt"]), "domain": r["domain"], "url": r["url"],
            "routed_cloudflare": False,
        })
    return rows


def test_turns_checker_and_oracle(tiny, tmp_path):
    wl = Turns(None, 5, str(tmp_path), 2)
    wl.generate()
    assert wl.expected, "the clean-text guard left no rows to compare"
    rows = _turn_rows(wl)
    manifest = [{"bucket": b, "rows": len(rows) if b == 0 else 0}
                for b in range(inputs.TURNS_NBUCKETS)]
    assert checks.check_turns(rows, wl.expected, wl.keys, manifest,
                              inputs.TURNS_NBUCKETS) == []
    key = next(iter(wl.expected))
    flipped = [dict(r) for r in rows]
    i = next(i for i, r in enumerate(flipped) if (r["conv_id"], r["turn_idx"]) == key)
    flipped[i]["content_md5"] = _md5(_flip_first_byte(
        extract_document(wl.inp["sample"][i][3], "")["content"]))
    assert checks.check_turns(flipped, wl.expected, wl.keys, manifest, inputs.TURNS_NBUCKETS)
    assert checks.check_turns(rows[:-1], wl.expected, wl.keys, manifest, inputs.TURNS_NBUCKETS)
    assert checks.check_turns(rows, wl.expected, wl.keys, manifest[1:], inputs.TURNS_NBUCKETS)
    # the in-process engine hits rules on the sample
    assert engine_run(extract_document, wl.engine_sample(), wl.snippet)["rule_hit"] > 0


def test_dedup_checker(tiny, tmp_path):
    texts = inputs.dedup(4, str(tmp_path), 2)["texts"]
    ids = sorted(texts)
    verified = []
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            j = checks.jaccard(texts[a], texts[b])
            if j >= 0.5:
                verified.append((a, b, round(j, 6)))
    assert verified, "the tiny corpus has no near-duplicates"
    canon = checks.union_find_canonical(ids, [(a, b) for a, b, _ in verified])
    canonical = sorted(canon.items())
    assert checks.check_dedup(texts, verified, canonical) == []
    # one wrong canonical id
    a = verified[0][1]
    wrong = [(d, (c + 1 if d == a else c)) for d, c in canonical]
    assert checks.check_dedup(texts, verified, wrong)
    # one wrong jaccard and one dropped document
    assert checks.check_dedup(texts, [(verified[0][0], verified[0][1], 0.99)] + verified[1:],
                              canonical)
    assert checks.check_dedup(texts, verified, canonical[1:])


def test_ann_checker(tiny, tmp_path):
    inp = inputs.ann(6, str(tmp_path), 2)
    k = inputs.ANN_K
    scores, _ = checks.exact_topk(inp["vecs"], inp["ids"], inp["query_ids"], k)
    result = []
    for r, q in enumerate(inp["query_ids"]):
        order = np.lexsort((inp["ids"], -np.round(scores[r], 6)))[:k]
        result += [(int(q), int(inp["ids"][p]), round(float(scores[r, p]), 6), n + 1)
                   for n, p in enumerate(order)]
    assert checks.check_ann(inp["vecs"], inp["ids"], inp["query_ids"], result, k) == []
    # swap one top-k id for a neighbour well outside the top k
    order = np.lexsort((inp["ids"], -scores[0]))
    outsider = int(inp["ids"][order[k + 5]])
    swapped = list(result)
    q, _, cos, rank = swapped[0]
    swapped[0] = (q, outsider, cos, rank)
    assert checks.check_ann(inp["vecs"], inp["ids"], inp["query_ids"], swapped, k)
