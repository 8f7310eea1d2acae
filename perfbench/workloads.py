"""The workloads: one timed operation each, driven through the package's
public functions, plus the output check run after every pass and the traced
decomposition used by `run.py --trace 1`.

A workload object is built once per run. `run_pass()` is the timed operation
and returns what `check()` needs; `check()` runs outside the timed region.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from ukeeper_readability_spark.jobs import run_pipeline
from ukeeper_readability_spark.pipeline import (
    cosine_topk_bruteforce,
    cosine_topk_ivf_kmeans,
    kmeans_fit,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard,
    probe_centroids,
    with_kmeans_bucket,
)
from ukeeper_readability_spark.pipeline.dedup import dedup_components

from . import checks, inputs


class Workload:
    name = ""
    snippet = checks.SNIPPET
    # untimed passes of the workload's own operation inside setup
    warmup = 2

    def __init__(self, spark, seed: int, workdir: str, slots: int):
        self.spark, self.seed, self.workdir, self.slots = spark, seed, workdir, slots
        self.rows = 0

    def generate(self) -> None:
        raise NotImplementedError

    def run_pass(self):
        raise NotImplementedError

    def check(self, out) -> list:
        raise NotImplementedError

    def engine_sample(self) -> list:
        """(text, url, rule) rows the traced run feeds to the in-process engine."""
        return []

    def decompose(self, stage_metrics, spans):
        """Step-by-step traced run of the operation: (per-layer metrics,
        check problems), or None for workloads without one."""
        return None


def _step(sm, spans, name, fn, release=lambda res: None, warm=True):
    """Run one step in job group `name`, with `warm` first once untimed so its
    plan is compiled; returns (result, seconds, stage metrics)."""
    if warm:
        release(fn())
    with sm.group(name), spans.span(name) as sp:
        res = fn()
    return res, sp["end"] - sp["start"], sm.collect(name)["stages"]


# --------------------------------------------------------------------------

class Articles(Workload):
    """The three golden articles through the source-partitioned extraction
    path: no exchange, no rules; a per-row digest forces the result."""

    name = "articles"

    def generate(self):
        self.inp = inputs.articles(self.seed, self.workdir, self.slots * 2)
        self.rows = self.inp["rows"]

    def run_pass(self):
        out = run_pipeline(self.spark, self.inp["path"], None,
                           snippet_size=self.snippet, source_partitioned=True)
        return out.select(
            "conv_id", "turn_idx",
            F.octet_length("content").alias("content_bytes"),
            F.md5("content").alias("content_md5"),
            F.md5("rich_content").alias("rich_md5"),
            "title", "excerpt", "lead_image_url",
            F.coalesce(F.size("links"), F.lit(0)).alias("n_links"),
            F.col("m_general_parse").alias("general_parse"),
            F.col("m_rule_hit").alias("rule_hit"),
        ).collect()

    def check(self, out):
        return checks.check_articles([r.asDict() for r in out], self.inp["fixture_of"])

    def engine_sample(self):
        # ten rows of each fixture: the mix of the full input
        seen, out = {}, []
        for conv, turn, _, text, url, _ in self.inp["sample"]:
            name = self.inp["fixture_of"][(conv, turn)]
            if seen.get(name, 0) < 10:
                seen[name] = seen.get(name, 0) + 1
                out.append((text, url, None))
        return out


# --------------------------------------------------------------------------

_TURNS_ORACLE = """
    WITH t AS (
        SELECT td.conv_id, td.turn_idx, td.is_html, d.doc_id, d.source, d.text,
               r.content AS rule, COALESCE(r.enabled, FALSE) AS enabled
        FROM read_parquet('{oracle}/turn_docs.parquet') td
        JOIN read_parquet('{oracle}/documents.parquet') d USING (doc_id)
        LEFT JOIN read_parquet('{rules}/*.parquet') r
          ON td.is_html AND r.domain = d.source || '.example.com'
    )
    SELECT conv_id, turn_idx,
           md5(text) AS content_md5,
           md5(CASE WHEN NOT is_html THEN '<div><div>' || text || '</div></div>'
                    WHEN enabled AND rule = '{hit}' THEN text
                    ELSE '<div><div><p>' || text || '</p></div></div>' END) AS rich_md5,
           CASE WHEN is_html THEN 'Doc ' || doc_id ELSE '' END AS title,
           md5(CASE WHEN instr(substr(text, 1, {snip}), ' ') > 0
                    THEN regexp_replace(substr(text, 1, {snip}), ' [^ ]*$', '')
                    ELSE substr(text, 1, {snip}) END || ' ...') AS excerpt_md5,
           CASE WHEN is_html THEN source || '.example.com' ELSE '' END AS domain,
           CASE WHEN is_html THEN 'http://' || source || '.example.com/docs/' || doc_id
                ELSE '' END AS url,
           FALSE AS routed_cloudflare
    FROM t
    -- the clean-text guard: no sentence or comma scoring, nothing to escape,
    -- long enough to skip the retry loop
    WHERE length(text) >= 300
      AND NOT regexp_matches(text, '[.,&<>''"\t\n]|  ')
"""

_TURN_FIELDS = ("content_md5", "rich_md5", "title", "excerpt_md5", "domain",
                "url", "routed_cloudflare")


class Turns(Workload):
    """The north-star transcripts table end to end through run_pipeline: rules
    join, explicit conv_id repartition, bucketed write plus manifest."""

    name = "turns"
    snippet = 300  # the job's default snippet size
    warmup = 1  # its cold first pass takes ~17 s of the run budget

    def generate(self):
        import duckdb

        self.inp = inputs.turns(self.seed, self.workdir)
        self.rows = self.inp["rows"]
        self.keys = {(r[0], r[1]) for r in self.inp["sample"]}
        con = duckdb.connect()
        try:
            res = con.sql(_TURNS_ORACLE.format(
                oracle=self.inp["oracle"], rules=self.inp["rules"],
                hit=inputs.RULE_HIT, snip=self.snippet)).fetchall()
        finally:
            con.close()
        self.expected = {(r[0], r[1]): dict(zip(_TURN_FIELDS, r[2:])) for r in res}
        self.passes = 0

    def run_pass(self):
        self.passes += 1
        out_path = os.path.join(self.workdir, f"turns-out-{self.passes}")
        return out_path, run_pipeline(
            self.spark, self.inp["transcripts"], self.inp["rules"], output_path=out_path,
            snippet_size=self.snippet, num_partitions=self.slots)

    def check(self, out):
        out_path, readback = out
        try:
            rows = readback.select(
                "conv_id", "turn_idx",
                F.md5("content").alias("content_md5"),
                F.md5("rich_content").alias("rich_md5"),
                "title",
                F.md5("excerpt").alias("excerpt_md5"),
                "domain", "url", "routed_cloudflare",
            ).collect()
            manifest = self.spark.read.parquet(os.path.join(out_path, "manifest")) \
                .select("bucket", "rows").collect()
            return checks.check_turns([r.asDict() for r in rows], self.expected, self.keys,
                                      [m.asDict() for m in manifest], inputs.TURNS_NBUCKETS)
        finally:
            shutil.rmtree(out_path, ignore_errors=True)

    def engine_sample(self):
        rules = self.inp["rule_by_host"]
        out = []
        for _, _, _, text, tool, _ in self.inp["sample"]:
            rule = None
            if tool:
                r = rules.get(tool.split("/")[2])
                if r is not None and r[9]:
                    rule = r[3]
            out.append((text, tool or "", rule))
        return out


# --------------------------------------------------------------------------

class _Part:
    """One operator of `DedupAnn`: generate / run_pass / check / decompose
    over its own input."""

    def __init__(self, spark, seed: int, workdir: str, slots: int):
        self.spark, self.seed, self.workdir, self.slots = spark, seed, workdir, slots


class _Dedup(_Part):
    """The production near-dup chain: LSH candidates, exact Jaccard >= 0.5,
    connected components, canonical id for every document."""

    threshold = 0.5

    def generate(self):
        self.inp = inputs.dedup(self.seed, self.workdir, self.slots * 2)
        self.rows = self.inp["rows"]

    def corpus(self):
        return self.spark.read.parquet(self.inp["path"])

    def verified(self, corpus, pairs):
        return ngram_jaccard(corpus, pairs, shingle_n=3) \
            .filter(F.col("jaccard") >= self.threshold)

    @staticmethod
    def canonical(corpus, comp):
        return corpus.select("doc_id").join(comp, "doc_id", "left").select(
            "doc_id", F.coalesce("component_id", "doc_id").alias("canonical_id"))

    def run_pass(self):
        corpus = self.corpus()
        pairs = minhash_lsh_pairs(corpus, shingle_n=3, k=16, bands=4)
        # cached so the check can read the verified pairs without recomputing
        verified = self.verified(corpus, pairs).cache()
        comp = dedup_components(verified.select("doc_a", "doc_b"))
        canon = self.canonical(corpus, comp).collect()
        return verified, canon

    def check(self, out):
        verified, canon = out
        try:
            v = [(r.doc_a, r.doc_b, r.jaccard) for r in verified.collect()]
        finally:
            verified.unpersist()
        return checks.check_dedup(self.inp["texts"], v, [tuple(r) for r in canon],
                                  self.threshold)

    def decompose(self, sm, spans):
        """Each step forced by its own action on a snapshot of the previous
        step's output; the output check runs on the result too."""
        corpus = self.corpus()
        out, stats, stages = {}, {}, []

        def step(name, fn, release=lambda df: df.unpersist()):
            res, secs, st = _step(sm, spans, f"dedup.{name}", fn, release)
            out[f"dedup.{name}_s"] = secs
            stages.extend(st)
            return res

        sig = step("signatures", lambda: minhash_signatures(
            corpus, shingle_n=3, k=16).localCheckpoint(eager=True))
        sig.unpersist()
        pairs = step("lsh_pairs", lambda: minhash_lsh_pairs(
            corpus, shingle_n=3, k=16, bands=4).localCheckpoint(eager=True))
        # minhash_lsh_pairs recomputes signatures inside: count banding only
        out["dedup.lsh_pairs_s"] = max(0.0, out["dedup.lsh_pairs_s"] - out["dedup.signatures_s"])
        n_cand = pairs.count()
        ver = step("verify", lambda: self.verified(corpus, pairs).localCheckpoint(eager=True))
        comp = step("components", lambda: dedup_components(
            ver.select("doc_a", "doc_b"), stats=stats).localCheckpoint(eager=True))
        canon = step("canonical_join", lambda: self.canonical(corpus, comp).collect(),
                     release=lambda rows: None)
        v = [(r.doc_a, r.doc_b, r.jaccard) for r in ver.collect()]
        problems = checks.check_dedup(self.inp["texts"], v, [tuple(r) for r in canon],
                                      self.threshold)
        for df in (pairs, ver, comp):
            df.unpersist()
        out.update({
            "dedup.candidate_pairs": float(n_cand),
            "dedup.verified_pairs": float(len(v)),
            "dedup.verify_yield": len(v) / n_cand if n_cand else 0.0,
            "dedup.components_rounds": float(stats.get("rounds", 0)),
            "dedup.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / 1e6,
            "dedup.spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                                  for s in stages) / 1e6,
        })
        return out, problems


# --------------------------------------------------------------------------

class _Ann(_Part):
    """Exact cosine top-10 through cosine_topk_bruteforce over clustered
    64-d embeddings; the traced run adds the k-means IVF entry point."""

    k = inputs.ANN_K

    def generate(self):
        self.inp = inputs.ann(self.seed, self.workdir, self.slots * 2)
        self.rows = self.inp["rows"]

    def frames(self):
        read = self.spark.read.parquet
        return (read(os.path.join(self.inp["path"], "corpus")),
                read(os.path.join(self.inp["path"], "queries")))

    def run_pass(self):
        emb, qs = self.frames()
        return cosine_topk_bruteforce(emb, qs, k=self.k, query_id_col="vec_id").collect()

    def check(self, out):
        return checks.check_ann(self.inp["vecs"], self.inp["ids"], self.inp["query_ids"],
                                [tuple(r) for r in out], self.k)

    def decompose(self, sm, spans):
        """Brute force, the k-means fit and the IVF k-means search, each as
        its own step; IVF recall is measured against the brute-force top-10."""
        emb, qs = self.frames()
        out = {}

        def step(name, fn, warm=True):
            res, secs, st = _step(sm, spans, f"similarity.{name}", fn, warm=warm)
            out[f"similarity.{name}_s"] = secs
            return res, st

        exact, st = step("bruteforce", lambda: cosine_topk_bruteforce(
            emb, qs, k=self.k, query_id_col="vec_id").collect())
        problems = self.check(exact)
        out["similarity.shuffle_write_mb"] = sum(s["shuffleWriteBytes"] for s in st) / 1e6
        n_vec, n_q = len(self.inp["ids"]), len(self.inp["query_ids"])
        out["similarity.pairs_scored"] = float(n_vec * n_q - n_q)
        # timed on its first call: a second fit would take ~10 s of the
        # traced run's 180 s when the machine runs slow
        centroids, _ = step("kmeans_fit", lambda: kmeans_fit(
            emb, n_clusters=inputs.ANN_CLUSTERS // 2, iters=2), warm=False)
        approx, _ = step("ivf_kmeans", lambda: cosine_topk_ivf_kmeans(
            emb, qs, centroids, k=self.k, query_id_col="vec_id", n_probes=2).collect())
        out["similarity.ivf_recall_at_10"] = _recall(exact, approx)
        # candidates the IVF path scores: corpus rows in each query's probed cells
        sizes = dict(with_kmeans_bucket(emb, centroids, out_col="b")
                     .groupBy("b").count().collect())
        probes = probe_centroids(
            qs.withColumn("_v", F.transform("embedding", lambda x: x.cast("double"))),
            centroids, "_v", 2).select("probe_buckets").collect()
        out["similarity.ivf_pairs_scored"] = float(
            sum(sizes.get(b, 0) for p in probes for b in p.probe_buckets) - n_q)
        return out, problems


def _recall(exact, approx) -> float:
    e = {(r[0], r[1]) for r in exact}
    a = {(r[0], r[1]) for r in approx}
    return len(e & a) / len(e) if e else 0.0


class DedupAnn(Workload):
    """The JVM-only pipeline operators, one after the other in each pass: the
    near-dup chain over its corpus, then the brute-force top-10. Rows are
    documents given a canonical id plus queries answered."""

    name = "dedup_ann"
    warmup = 1  # its cold first pass takes ~18 s of the run budget

    def __init__(self, spark, seed: int, workdir: str, slots: int):
        super().__init__(spark, seed, workdir, slots)
        self.parts = (_Dedup(spark, seed, workdir, slots), _Ann(spark, seed, workdir, slots))

    def generate(self):
        for p in self.parts:
            p.generate()
        self.rows = sum(p.rows for p in self.parts)

    def run_pass(self):
        return [p.run_pass() for p in self.parts]

    def check(self, out):
        return [msg for p, o in zip(self.parts, out) for msg in p.check(o)]

    def decompose(self, sm, spans):
        layer, problems = {}, []
        for p in self.parts:
            lay, probs = p.decompose(sm, spans)
            layer.update(lay)
            problems.extend(probs)
        return layer, problems


WORKLOADS = {w.name: w for w in (Articles, Turns, DedupAnn)}


def engine_run(extract, sample, snippet: int) -> dict:
    """Run the engine over `sample` single-threaded; sums its row metrics."""
    tot = {"nodes_scored": 0, "rule_hit": 0}
    for text, url, rule in sample:
        m = extract(text, url, rule_selector=rule, snippet_size=snippet)["metrics"]
        for k in tot:
            tot[k] += m[k]
    return tot

