"""Output checkers, each computed apart from the program under test.

Every checker returns a list of problems (empty when the output is right), so
a pass can report all of them and the benchmark's tests can assert that a
corrupted output is rejected.
"""

from __future__ import annotations

import numpy as np

# The reference's own golden expectations (readability_test.go:58-73 and
# 142-160, snippet size 200). Byte lengths are UTF-8, as Go's len().
SNIPPET = 200
GOLDEN = {
    "vsiem-mirom-dlia-obshchiei-polzy": {
        "content_bytes": 9665,
        "title": "Всем миром для общей пользы • Umputun тут был",
        "excerpt": (
            "Не первый раз я практикую идею “а давайте, ребята, сделаем для общего блага …”, "
            "и вот опять. В нашем подкасте радио-т есть незаменимый инструмент, позволяющий "
            "собирать новости, готовить их к выпуску, ..."
        ),
    },
    "podcast-369": {
        "title": "UWP - Выпуск 369",
        "excerpt": (
            "2015-11-22 Нагло ходил в гости. Табличка на двери сработала на 50%Никогда нас "
            "школа не хвалила. Девочка осваивает новый прибор. Мое неприятие их логики. "
            "И разошлись по будкам …Отбиваюсь от опасных ..."
        ),
        "lead_image_url": "https://podcast.umputun.com/images/uwp/uwp369.jpg",
        "n_links": 13,
    },
    # the reference's apple-maps golden is a general-parser result: its rule
    # matches nothing (readability_test.go:346-377)
    "poiezdka-s-apple-maps": {"general_parse": 1, "rule_hit": 0},
}

ARTICLE_FIELDS = ("content_bytes", "content_md5", "rich_md5", "title", "excerpt",
                  "lead_image_url", "n_links", "general_parse", "rule_hit")


def check_articles(rows: list, fixture_of: dict) -> list:
    """rows: dicts with conv_id, turn_idx and ARTICLE_FIELDS, one per output
    row. Every input turn appears once; every row of a fixture matches the
    golden fields and all rows of one fixture are identical (the marker
    comment must not leak into the output)."""
    problems = []
    seen = {}
    for r in rows:
        key = (r["conv_id"], r["turn_idx"])
        if key in seen:
            problems.append(f"duplicate row {key}")
        seen[key] = r
    missing = set(fixture_of) - set(seen)
    extra = set(seen) - set(fixture_of)
    if missing:
        problems.append(f"{len(missing)} input rows missing, e.g. {sorted(missing)[:3]}")
    if extra:
        problems.append(f"{len(extra)} unexpected rows, e.g. {sorted(extra)[:3]}")
    by_fixture: dict = {}
    for key, r in seen.items():
        name = fixture_of.get(key)
        if name is None:
            continue
        for field, want in GOLDEN[name].items():
            if r[field] != want:
                problems.append(f"{name} {key}: {field}={r[field]!r}, golden {want!r}")
        by_fixture.setdefault(name, set()).add(tuple(r[f] for f in ARTICLE_FIELDS))
    for name, variants in by_fixture.items():
        if len(variants) != 1:
            problems.append(f"{name}: {len(variants)} distinct outputs for identical articles")
    return problems[:20]


def check_turns(readback: list, expected: dict, keys: set, manifest: list,
                nbuckets: int) -> list:
    """readback: dicts (conv_id, turn_idx, content_md5, rich_md5, title,
    excerpt_md5, domain, url, routed_cloudflare) from the written table.
    expected: (conv_id, turn_idx) -> the same fields, for every turn whose
    text passes the clean-text guard (computed in DuckDB). keys: every input
    (conv_id, turn_idx). manifest: dicts (bucket, rows)."""
    problems = []
    seen = {}
    for r in readback:
        key = (r["conv_id"], r["turn_idx"])
        if key in seen:
            problems.append(f"duplicate row {key}")
        seen[key] = r
    if set(seen) != keys:
        problems.append(
            f"row keys differ: {len(keys - set(seen))} missing, {len(set(seen) - keys)} extra")
    bad = 0
    for key, want in expected.items():
        got = seen.get(key)
        if got is None:
            continue
        diff = [f for f in want if got.get(f) != want[f]]
        if diff:
            bad += 1
            if bad <= 5:
                problems.append(f"{key}: {diff} differ from the oracle")
    if bad > 5:
        problems.append(f"... {bad} rows differ from the oracle in all")
    buckets = sorted(m["bucket"] for m in manifest)
    if buckets != list(range(nbuckets)):
        problems.append(f"manifest buckets {buckets[:5]}... != 0..{nbuckets - 1}")
    total = sum(m["rows"] for m in manifest)
    if total != len(keys):
        problems.append(f"manifest rows sum to {total}, input has {len(keys)}")
    return problems


def shingles(text: str, n: int = 3) -> set:
    """Distinct word n-grams of a document, tokens split on runs of spaces."""
    toks = [t for t in text.strip().split(" ") if t != ""] if text.strip() else [""]
    return {" ".join(toks[i:i + n]) for i in range(max(len(toks) - n, 0) + 1)}


def jaccard(a: str, b: str, n: int = 3) -> float:
    sa, sb = shingles(a, n), shingles(b, n)
    return len(sa & sb) / len(sa | sb)


def union_find_canonical(ids, pairs) -> dict:
    """Minimum id of each connected component over `pairs`."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def check_dedup(texts: dict, verified: list, canonical: list,
                threshold: float = 0.5) -> list:
    """verified: (doc_a, doc_b, jaccard) rows; canonical: (doc_id,
    canonical_id) rows. Recomputes every verified pair's exact 3-shingle
    Jaccard and the canonical ids by union-find over the verified pairs."""
    problems = []
    for a, b, j in verified:
        if a not in texts or b not in texts:
            problems.append(f"pair ({a}, {b}) names an unknown document")
            continue
        exact = jaccard(texts[a], texts[b])
        if abs(exact - j) > 1e-6 or exact < threshold:
            problems.append(f"pair ({a}, {b}): jaccard {j}, exact {exact:.6f}")
    got = dict(canonical)
    if len(got) != len(canonical) or set(got) != set(texts):
        problems.append(f"canonical ids cover {len(got)} of {len(texts)} documents "
                        f"({len(canonical)} rows)")
    want = union_find_canonical(texts, [(a, b) for a, b, _ in verified])
    wrong = [d for d in want if got.get(d) != want[d]]
    if wrong:
        problems.append(f"{len(wrong)} canonical ids differ from union-find, "
                        f"e.g. doc {wrong[0]}: {got.get(wrong[0])} != {want[wrong[0]]}")
    return problems[:20]


def exact_topk(vecs: np.ndarray, ids: np.ndarray, query_ids, k: int):
    """float64 cosine of every query against the corpus, self excluded."""
    v = vecs.astype(np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    pos = {int(i): p for p, i in enumerate(ids)}
    q = v[[pos[int(i)] for i in query_ids]]
    scores = q @ v.T
    for r, i in enumerate(query_ids):
        scores[r, pos[int(i)]] = -np.inf
    return scores, pos


def check_ann(vecs: np.ndarray, ids: np.ndarray, query_ids, result: list,
              k: int, tol: float = 1e-5) -> list:
    """result: (query_id, neighbor_id, cosine, rank) rows. Each query's top-k
    must equal the float64 exact top-k: scores within float32 tolerance, ids
    equal except where scores tie at rank k."""
    problems = []
    scores, pos = exact_topk(vecs, ids, query_ids, k)
    by_q: dict = {}
    for qid, nid, cos, rank in result:
        by_q.setdefault(int(qid), []).append((int(rank), int(nid), float(cos)))
    if set(by_q) != {int(q) for q in query_ids}:
        problems.append(f"results for {len(by_q)} of {len(query_ids)} queries")
    for r, qid in enumerate(query_ids):
        got = sorted(by_q.get(int(qid), []))
        row = scores[r]
        kth = np.sort(row)[-k]
        if [g[0] for g in got] != list(range(1, k + 1)):
            problems.append(f"query {qid}: ranks {[g[0] for g in got]}")
            continue
        must = {int(ids[p]) for p in np.nonzero(row > kth + tol)[0]}
        got_ids = {g[1] for g in got}
        if not must <= got_ids:
            problems.append(f"query {qid}: missing {sorted(must - got_ids)[:3]}")
        for _, nid, cos in got:
            exact = row[pos[nid]] if nid in pos else -np.inf
            if abs(exact - cos) > tol or exact < kth - tol:
                problems.append(f"query {qid}: neighbor {nid} cosine {cos}, exact {exact:.7f}")
        if len(problems) > 20:
            break
    return problems[:20]
