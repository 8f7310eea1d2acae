"""Seeded input generation for the benchmark workloads.

Everything here is plain numpy/pyarrow: the program under test receives only
the files these functions write. Sizes are fixed per workload and only the
content depends on the seed, so every seed costs about the same.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# word list and length range of the sf0.1 `documents` table (30 words,
# 10-100 words per document, 20 sources): the benchmark regenerates a
# table of that shape from its own seed instead of reading external data
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
N_SOURCES = 20
N_DOCUMENTS = 5000

FIXTURE_URLS = {
    "vsiem-mirom-dlia-obshchiei-polzy": "http://umputun.com/2015/11/26/vsiem-mirom-dlia-obshchiei-polzy/",
    "podcast-369": "https://podcast.umputun.com/p/2015/11/22/podcast-369/",
    "poiezdka-s-apple-maps": "http://umputun.com/2015/09/25/poiezdka-s-apple-maps/",
}
FIXTURES_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "ukeeper_readability_spark", "data", "fixtures",
)

# the same page template as the repo's BOILERPLATE_WRAP_SQL: a header menu,
# the article in #content, a sidebar and a footer
BOILERPLATE_HTML = (
    '<html><head><title>Doc {doc_id}</title><meta charset="utf-8"></head><body>'
    '<div class="header-menu"><ul><li><a href="/home">Home</a></li>'
    '<li><a href="/about">About</a></li></ul></div>'
    '<div id="content" class="content"><p>{text}</p></div>'
    '<div class="sidebar"><p>subscribe to our newsletter for more updates and offers '
    "every week</p></div>"
    '<div class="footer">copyright 2026 example inc</div>'
    "</body></html>"
)

TS = datetime(2026, 1, 1)

TRANSCRIPTS_ARROW = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us")),
])

RULES_ARROW = pa.schema([
    ("id", pa.string()),
    ("domain", pa.string()),
    ("match_urls", pa.list_(pa.string())),
    ("content", pa.string()),
    ("author", pa.string()),
    ("ts", pa.string()),
    ("excludes", pa.list_(pa.string())),
    ("test_urls", pa.list_(pa.string())),
    ("user", pa.string()),
    ("enabled", pa.bool_()),
    ("use_cloudflare", pa.bool_()),
])

# workload sizes (rows per timed pass)
ARTICLES_ROWS = 720  # 120 conversations: whole ones in 2, 4, 6 or 8 files
TURNS_ROWS = 1500
TURNS_HTML_SHARE = 0.2
TURNS_NBUCKETS = 32  # write_with_manifest's default bucket count
DEDUP_DOCS = 1000
DEDUP_NEAR_DUP_SHARE = 0.15
ANN_VECTORS = 10000
ANN_DIM = 64
ANN_CLUSTERS = 32
ANN_QUERIES = 40
ANN_K = 10

# rule kinds per host in the `turns` rules table
RULE_HIT = "#content p"          # matches the article paragraph
RULE_MISS = "#no-such-id p"      # enabled but matches nothing -> fallback
HOST_KINDS = ("hit",) * 10 + ("disabled",) * 4 + ("miss",) * 3 + ("none",) * 3

WORKLOAD_INDEX = {"articles": 0, "turns": 1, "dedup": 2, "ann": 3}


def rng_for(workload: str, seed: int, stream: int = 0) -> np.random.Generator:
    return np.random.default_rng([seed, WORKLOAD_INDEX[workload], stream])


def load_fixture(name: str) -> str:
    with open(os.path.join(FIXTURES_DIR, name + ".html"), encoding="utf-8") as fh:
        return fh.read()


def documents(rng: np.random.Generator, n: int = N_DOCUMENTS) -> list:
    """sf0.1-shaped word-bag documents: (doc_id, source, text)."""
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, pos = [], 0
    for i, k in enumerate(lens):
        out.append((i, f"src{i % N_SOURCES}", " ".join(VOCAB[w] for w in words[pos:pos + k])))
        pos += k
    return out


def _write(table: pa.Table, path: str, nfiles: int, file_of) -> None:
    """Write `table` as `nfiles` parquet files; row r goes to file_of[r]."""
    os.makedirs(path, exist_ok=True)
    for k in range(nfiles):
        part = table.filter(pa.array(file_of == k))
        pq.write_table(part, os.path.join(path, f"part-{k:03d}.parquet"))


def transcripts_table(rows: list) -> pa.Table:
    cols = list(zip(*rows))
    return pa.table(
        [pa.array(c, type=f.type) for c, f in zip(cols, TRANSCRIPTS_ARROW)],
        schema=TRANSCRIPTS_ARROW,
    )


def conv_file_of(conv_ids, nfiles: int) -> np.ndarray:
    """File per row, grouped by conversation (a stand-in for a table bucketed
    by conv_id, which the source-partitioned path assumes)."""
    return np.array([int(c.rsplit("-", 1)[1]) % nfiles for c in conv_ids])


def articles(seed: int, workdir: str, nfiles: int) -> dict:
    """ARTICLES_ROWS turns in conversations of six: every conversation holds
    each golden fixture twice, in a seeded order, so every file (and task)
    gets the same mix whatever the seed; each row has a unique seeded marker
    comment."""
    rng = rng_for("articles", seed)
    names = list(FIXTURE_URLS)
    html = {n: load_fixture(n) for n in names}
    fids = np.concatenate([rng.permutation([0, 0, 1, 1, 2, 2])
                           for _ in range(ARTICLES_ROWS // 6)])
    tokens = rng.integers(0, 2**62, len(fids))
    rows, fixture_of = [], {}
    for i, f in enumerate(fids):
        name = names[f]
        conv, turn = f"conv-{i // 6:05d}", i % 6
        rows.append((conv, turn, "tool",
                     html[name] + f"<!-- marker {seed} {i} {tokens[i]:x} -->",
                     FIXTURE_URLS[name], TS))
        fixture_of[(conv, turn)] = name
    path = os.path.join(workdir, "articles")
    _write(transcripts_table(rows), path, nfiles, conv_file_of([r[0] for r in rows], nfiles))
    return {"path": path, "rows": len(rows), "fixture_of": fixture_of,
            "sample": rows}


def turns(seed: int, workdir: str) -> dict:
    """A transcripts table shaped like the north-star input: conversations of
    1-15 turns, mostly tagless chat, TURNS_HTML_SHARE boilerplate-wrapped
    pages whose hosts get hit / disabled / miss / no rules."""
    rng = rng_for("turns", seed)
    docs = documents(rng_for("turns", seed, 1))
    n = TURNS_ROWS
    n_html = int(n * TURNS_HTML_SHARE)
    is_html = np.zeros(n, dtype=bool)
    is_html[rng.permutation(n)[:n_html]] = True
    doc_of = rng.integers(0, len(docs), n)
    conv_lens = rng.integers(1, 16, n)  # more than enough conversations
    rows, meta = [], []
    conv, turn = 0, 0
    for i in range(n):
        if turn >= conv_lens[conv]:
            conv, turn = conv + 1, 0
        doc_id, source, text = docs[doc_of[i]]
        cid = f"conv-{conv:05d}"
        if is_html[i]:
            rows.append((cid, turn, "tool",
                         BOILERPLATE_HTML.format(doc_id=doc_id, text=text),
                         f"http://{source}.example.com/docs/{doc_id}", TS))
        else:
            rows.append((cid, turn, "user" if turn % 2 == 0 else "assistant",
                         text, None, TS))
        meta.append((cid, turn, int(doc_id), bool(is_html[i])))
        turn += 1
    kinds = [HOST_KINDS[k] for k in rng.permutation(N_SOURCES)]
    rules = []
    for s, kind in enumerate(kinds):
        if kind == "none":
            continue
        rules.append((f"rule-{s}", f"src{s}.example.com", None,
                      RULE_MISS if kind == "miss" else RULE_HIT, "bench", "",
                      None, None, "bench", kind != "disabled", False))
    base = os.path.join(workdir, "turns")
    paths = {k: os.path.join(base, k) for k in ("transcripts", "rules", "oracle")}
    # plain files in conv order: the job itself repartitions by conv_id
    _write(transcripts_table(rows), paths["transcripts"], 4, np.arange(n) * 4 // n)
    os.makedirs(paths["rules"], exist_ok=True)
    pq.write_table(pa.Table.from_pylist(
        [dict(zip(RULES_ARROW.names, r)) for r in rules], schema=RULES_ARROW),
        os.path.join(paths["rules"], "rules.parquet"))
    os.makedirs(paths["oracle"], exist_ok=True)
    c = list(zip(*meta))
    pq.write_table(pa.table({"conv_id": c[0], "turn_idx": pa.array(c[1], pa.int32()),
                             "doc_id": c[2], "is_html": c[3]}),
                   os.path.join(paths["oracle"], "turn_docs.parquet"))
    d = list(zip(*docs))
    pq.write_table(pa.table({"doc_id": d[0], "source": d[1], "text": d[2]}),
                   os.path.join(paths["oracle"], "documents.parquet"))
    return {**paths, "rows": n, "html_rows": n_html, "sample": rows,
            "rule_by_host": {r[1]: r for r in rules}}


def dedup(seed: int, workdir: str, nfiles: int) -> dict:
    """DEDUP_DOCS documents, each two sf0.1-shaped documents concatenated;
    DEDUP_NEAR_DUP_SHARE of them are copies of an earlier corpus document
    with two words replaced (so near-duplicates chain into components)."""
    rng = rng_for("dedup", seed)
    base = [t for _, _, t in documents(rng_for("dedup", seed, 1))]
    n = DEDUP_DOCS
    near = rng.random(n) < DEDUP_NEAR_DUP_SHARE
    near[0] = False
    texts = []
    for i in range(n):
        if near[i]:
            toks = texts[int(rng.integers(0, i))].split(" ")
            for p in rng.integers(0, len(toks), 2):
                toks[p] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(toks))
        else:
            a, b = rng.integers(0, len(base), 2)
            texts.append(base[a] + " " + base[b])
    ids = rng.permutation(n).astype(np.int64) * 7 + 1000  # ids unrelated to order
    path = os.path.join(workdir, "dedup")
    _write(pa.table({"doc_id": ids, "text": texts}), path, nfiles, np.arange(n) % nfiles)
    return {"path": path, "rows": n, "texts": dict(zip(ids.tolist(), texts))}


def ann(seed: int, workdir: str, nfiles: int) -> dict:
    """ANN_VECTORS clustered float32 vectors of ANN_DIM dimensions and
    ANN_QUERIES query vectors drawn from the corpus (self-matches excluded by
    the program, so each query's own id never appears in its top-k)."""
    rng = rng_for("ann", seed)
    centers = rng.normal(0.0, 1.0, (ANN_CLUSTERS, ANN_DIM))
    label = rng.integers(0, ANN_CLUSTERS, ANN_VECTORS)
    vecs = (centers[label] + rng.normal(0.0, 0.6, (ANN_VECTORS, ANN_DIM))).astype(np.float32)
    ids = np.arange(ANN_VECTORS, dtype=np.int64)
    qidx = np.sort(rng.choice(ANN_VECTORS, ANN_QUERIES, replace=False))
    path = os.path.join(workdir, "ann")

    def table(sel):
        flat = pa.array(vecs[sel].reshape(-1))
        emb = pa.FixedSizeListArray.from_arrays(flat, ANN_DIM).cast(pa.list_(pa.float32()))
        return pa.table({"vec_id": ids[sel], "embedding": emb,
                         "label": pa.array(label[sel].astype(np.int32))})

    _write(table(slice(None)), os.path.join(path, "corpus"), nfiles,
           np.arange(ANN_VECTORS) % nfiles)
    _write(table(qidx), os.path.join(path, "queries"), 1, np.zeros(len(qidx), dtype=int))
    return {"path": path, "rows": ANN_QUERIES, "vecs": vecs, "ids": ids,
            "query_ids": ids[qidx]}
