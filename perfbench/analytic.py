"""analytic_mix: registered queries over read-only generated tables.

The unit op is one pass over a fixed list of registered queries, each
query being the builder call (``fn()``, which for some queries does eager
work such as IVF training) plus a noop write of its result.  The list
holds relational queries (the ROADMAP's performance targets and a join)
and the LLM-data queries that call ``operators.curation``,
``operators.dedup`` and ``operators.vectors``.  A pass, not a single
query, is the unit: the queries run 0.4-3 s each, so a median over
single queries is the mean of the two middle ones, moves with their noise
alone and does not move when any other query gets faster.

The tables are generated from ``--seed`` at fixed sizes: the star-schema
tables the queries read, with the shapes and value ranges of the
repository's synthetic test data (uniform keys, TPC-H-ish columns), a document
corpus with planted near-duplicate pairs and repetitive low-quality
documents, and embeddings drawn around seeded centres.  The warm-up run
of each query is the correctness gate: its output is compared with the
registered DuckDB oracle under ``tools/parity.py``'s normalization, and
the rows-only LLM queries are checked against the plants (duplicate
recall, exact Jaccard of every pair) and against exact cosine top-k (ANN
recall).
"""

from __future__ import annotations

import itertools
import os
import random

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.common import OpLoop, median, modes, noop_write, p90
from ub_etl_spark.queries.similarity import clear_ann_caches
from ub_etl_spark.registry import load_all

SF = 0.01  # TPC-H-style scale factor: sf1 has 6M lineitem rows
CORPUS = dict(n_docs=8000, doc_tokens=(40, 120), n_dup_pairs=200, n_cc_pairs=20, n_lowq=100,
              n_vecs=8000, dim=64, n_centres=32)
# dedup_cluster_cc clusters only the documents with doc_id below this
CC_IDS = 400
# the documents table is written as SHARDS files, as a sharded corpus would
# be; as one small file it scans as one task
SHARDED, SHARDS = ("documents",), 4
MIN_DUP_RECALL = 0.9
MIN_ANN_RECALL = 0.8
# registered parameters of dedup_minhash_lsh and sim_ann_ivf
LSH_SHINGLE, LSH_THRESHOLD = 3, 0.25
ANN_K, ANN_QUERIES = 5, 10

# nominal seconds of one warm pass on a 4-core box
PASS_S = 12.0


def n_passes(seconds: float) -> int:
    """Timed passes for a phase of about ``seconds``: whole passes, so
    every run times the same queries."""
    return max(1, round(seconds / PASS_S))


# name -> base tables it reads; run in this order on every pass, so every
# run warms the JVM along the same sequence of plans
QUERIES = {
    "market_basket_lift": ("lineitem",),
    "orders_active_episodes": ("orders", "lineitem"),
    "tpch_q21_waiting_suppliers": ("supplier", "nation", "orders", "lineitem"),
    "text_quality_gopher": ("documents",),
    "text_pii_redact": ("documents",),
    "dedup_minhash_lsh": ("documents",),
    "dedup_cluster_cc": ("documents",),
    "sim_ann_ivf": ("embeddings",),
}
# per-layer metric -> (query, span) whose per-op self time it reports
LAYER_QUERIES = {
    "curation.quality_s": ("text_quality_gopher", None),
    "curation.pii_redact_s": ("text_pii_redact", None),
    "dedup.minhash_lsh_s": ("dedup_minhash_lsh", None),
    "dedup.components_s": ("dedup_cluster_cc", None),
    "vectors.ivf_train_s": ("sim_ann_ivf", "queries.build"),
    "vectors.ann_query_s": ("sim_ann_ivf", "queries.exec"),
}


def _days(rng, n, lo: str, hi: str):
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    return pa.array(rng.integers(a, b, size=n) * 86_400_000_000, pa.timestamp("us"))


def shingles(text: str) -> set[str]:
    toks = text.split(" ")
    if len(toks) < LSH_SHINGLE:
        return {text}
    return {" ".join(toks[i : i + LSH_SHINGLE]) for i in range(len(toks) - LSH_SHINGLE + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


class Corpus:
    """Documents with planted near-duplicate pairs (~2.5% of tokens
    edited) and repetitive low-quality documents; embeddings drawn around
    seeded centres so every vector has true neighbours.

    ``n_cc_pairs`` of the pairs lie within the first ``CC_IDS`` documents,
    the ones ``dedup_cluster_cc`` clusters.  Its label propagation runs one
    round per step of the largest component's diameter plus one: with pairs
    placed at random, whether any pair fell into that range changed with
    the seed, and the query's time with it (1.8 s with no edge, 2.7 s with
    one).  Every component is a pair or a clique of identical repetitive
    documents, so every seed takes two rounds."""

    def __init__(self, seed: int, n_docs, doc_tokens, n_dup_pairs, n_cc_pairs, n_lowq, n_vecs,
                 dim, n_centres):
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(5000)]
        cum = list(itertools.accumulate(1.0 / (i + 1) ** 0.8 for i in range(len(vocab))))
        texts = [" ".join(rng.choices(vocab, cum_weights=cum, k=rng.randint(*doc_tokens)))
                 for _ in range(n_docs)]
        ids = list(range(n_docs))
        rng.shuffle(ids)
        self.lowq = set(ids[:n_lowq])
        for i in self.lowq:  # repetition: one bigram over and over
            a, b = rng.sample(vocab[:50], 2)
            texts[i] = " ".join([a, b] * rng.randint(20, 40))
        rest = ids[n_lowq:]
        inside = [i for i in rest if i < CC_IDS][: 2 * n_cc_pairs]
        outside = [i for i in rest if i >= CC_IDS][: 2 * (n_dup_pairs - n_cc_pairs)]
        pairs = inside + outside
        self.planted = set()
        for s, d in zip(pairs[::2], pairs[1::2]):
            toks = texts[s].split(" ")
            for _ in range(max(1, len(toks) // 40)):
                toks[rng.randrange(len(toks))] = rng.choice(vocab)
            texts[d] = " ".join(toks)
            self.planted.add((min(s, d), max(s, d)))
        self.texts = texts
        nrng = np.random.default_rng(seed)
        centres = nrng.normal(size=(n_centres, dim))
        which = nrng.integers(0, n_centres, size=n_vecs)
        self.vecs = (centres[which] + 0.35 * nrng.normal(size=(n_vecs, dim))).astype(np.float32)
        self.labels = which

    def tables(self) -> dict[str, dict]:
        n, (n_vecs, dim) = len(self.texts), self.vecs.shape
        offsets = pa.array(np.arange(0, n_vecs * dim + 1, dim, dtype=np.int32))
        return {
            "documents": {
                "doc_id": pa.array(range(n), pa.int64()),
                "text": self.texts,
                "lang": ["en"] * n,
                "source": [f"src{i % 4}" for i in range(n)],
                "n_chars": pa.array([len(t) for t in self.texts], pa.int64()),
            },
            "embeddings": {
                "vec_id": pa.array(range(n_vecs), pa.int64()),
                "embedding": pa.ListArray.from_arrays(offsets, pa.array(self.vecs.ravel())),
                "label": pa.array(self.labels, pa.int32()),
            },
        }

    def exact_top_k(self, n_queries: int, k: int) -> dict[int, set[int]]:
        """Exact cosine top-k of the first ``n_queries`` vectors (self excluded)."""
        v = self.vecs.astype(np.float64)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        sims = v[:n_queries] @ v.T
        sims[np.arange(n_queries), np.arange(n_queries)] = -np.inf
        return {q: set(np.argsort(-sims[q], kind="stable")[:k].tolist()) for q in range(n_queries)}


def make_tables(root: str, seed: int, sf: float, corpus: Corpus) -> dict[str, int]:
    """Write the star-schema tables the queries read and the corpus;
    returns their row counts.  Customer and part keys are drawn from their
    TPC-H ranges; those tables themselves are not read."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    tables = {
        "nation": {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
        "supplier": {
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        },
        "orders": {
            "o_orderkey": pa.array(range(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["O", "P", "F"], n_ord),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-02"),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                           "5-LOW"], n_ord),
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 100000.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["O", "F"], n_li),
            "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-05"),
        },
        **corpus.tables(),
    }
    os.makedirs(root)
    rows = {}
    for name, cols in tables.items():
        t = pa.table(cols)
        path = os.path.join(root, f"{name}.parquet")
        if name in SHARDED:
            # a directory of equal files, one scan task each
            os.makedirs(path)
            step = -(-t.num_rows // SHARDS)
            for i in range(SHARDS):
                pq.write_table(t.slice(i * step, step), os.path.join(path, f"part-{i}.parquet"))
        else:
            pq.write_table(t, path)
        rows[name] = t.num_rows
    return rows


class AnalyticWorkload:
    name = "analytic_mix"

    def __init__(self, spark, work: str, seed: int, tracer, loop: OpLoop, cores: int,
                 traced_run: bool, seconds: float):
        self.spark = spark
        self.tracer = tracer
        self.loop = loop
        self.sf_dir = os.path.join(work, "tables")
        self.corpus = Corpus(seed, **CORPUS)
        self.rows = make_tables(self.sf_dir, seed, SF, self.corpus)
        registry = load_all()
        self.specs = {q: registry[q] for q in QUERIES}
        self.order = list(QUERIES)
        self.rows_per_pass = sum(self.rows[t] for q in QUERIES for t in QUERIES[q])

    def one_query(self, name: str) -> None:
        clear_ann_caches()  # no trained quantizer carries over between ops
        with self.tracer.span("queries.build"):
            df = self.specs[name].fn(self.spark, self.sf_dir)
        with self.tracer.span("queries.exec"):
            noop_write(df)

    # -- set-up and the correctness gate ---------------------------------------
    def checked_query(self, name: str, con) -> list[str]:
        """Run one query collected; compare with its oracle, or check the
        rows-only LLM queries against the plants.  Returns failures."""
        from tools.parity import normalize

        clear_ann_caches()
        spec = self.specs[name]
        sdf = spec.fn(self.spark, self.sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        if spec.oracle is not None:
            res = con.execute(spec.oracle)
            orows, ocols = res.fetchall(), [d[0] for d in res.description]
            if sorted(sdf.columns) != sorted(ocols):
                return [f"columns {sorted(sdf.columns)} vs oracle {sorted(ocols)}"]
            if normalize(srows, sdf.columns) != normalize(orows, ocols):
                return [f"{len(srows)} rows differ from the oracle's {len(orows)}"]
            if name == "text_quality_gopher":
                keep = dict(zip((r[0] for r in srows), (r[sdf.columns.index("keep")] for r in srows)))
                self.quality["curation.kept_ratio"] = sum(keep.values()) / len(keep)
                kept_lowq = [i for i in self.corpus.lowq if keep.get(i)]
                if kept_lowq:
                    return [f"{len(kept_lowq)} repetitive documents kept"]
            return []
        if name == "dedup_minhash_lsh":
            return self._check_pairs(srows)
        return self._check_ann(srows)

    def _check_pairs(self, rows) -> list[str]:
        texts = self.corpus.texts
        verified = sum(1 for a, b, j in rows
                       if abs(jaccard(texts[a], texts[b]) - j) < 1e-9 and j >= LSH_THRESHOLD)
        found = {(a, b) for a, b, _ in rows} & self.corpus.planted
        recall = len(found) / len(self.corpus.planted)
        self.quality.update({
            "dup_recall": recall,
            "dedup.candidate_pairs": len(rows),
            "dedup.pair_precision": verified / len(rows) if rows else 0.0,
        })
        out = []
        if verified != len(rows):
            out.append(f"{len(rows) - verified} of {len(rows)} pairs fail exact Jaccard")
        if recall < MIN_DUP_RECALL:
            out.append(f"dup_recall {recall:.3f} < {MIN_DUP_RECALL}")
        return out

    def _check_ann(self, rows) -> list[str]:
        want = self.corpus.exact_top_k(ANN_QUERIES, ANN_K)
        got: dict[int, set[int]] = {}
        for r in rows:
            got.setdefault(r[0], set()).add(r[1])
        recall = sum(len(got.get(q, set()) & w) for q, w in want.items()) / (ANN_K * len(want))
        self.quality["ann_recall_at_5"] = recall
        if recall < MIN_ANN_RECALL or set(got) != set(want):
            return [f"ann_recall_at_5 {recall:.3f} over {len(got)} queries"]
        return []

    def setup(self) -> None:
        """The warm-up runs every query once collected and checked (the
        correctness gate, read back in check()), then one more pass as
        timed: pass times keep falling for three or four passes while the
        JVM compiles, and a timed phase on that slope is not repeatable."""
        con = duckdb.connect()
        for t in self.rows:
            path = f"{self.sf_dir}/{t}.parquet" + ("/*.parquet" if t in SHARDED else "")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        self.quality: dict[str, float] = {}
        self.mismatches = []
        for q in self.order:
            _, bad = self.loop.run(f"warmup_{q}", self.checked_query, q, con)
            if bad is None:
                bad = [self.loop.errors[-1]]
            self.mismatches += [f"{q}: {m}" for m in bad]
        con.close()
        for q in self.order:
            self.loop.run(f"warmup_{q}", self.one_query, q)

    def timed(self, seconds: float, paired: bool = False) -> None:
        """``n_passes(seconds)`` passes over the queries in the fixed order.
        A pass's time is the sum of its queries' times; each query is an op
        of the loop of its own, so a failed query counts as a failed op.
        ``paired`` (traced runs) runs each pass untraced and traced (see
        ``common.modes``): whole passes, because a query run twice in a
        row is faster the second time."""
        self.passes = {False: [], True: []}
        for i in range(n_passes(seconds)):
            for traced in modes(i, paired):
                self.tracer.enabled = traced
                self.passes[traced].append(
                    sum(self.loop.run(q, self.one_query, q)[0] for q in self.order))
        self.tracer.enabled = False

    def check(self) -> tuple[bool, list[str], dict]:
        return not self.mismatches, self.mismatches, {}

    def close(self) -> None:
        pass

    def end_to_end(self, traced: bool = False) -> dict[str, float]:
        passes = self.passes[traced]
        pass_s = median(passes)
        return {
            "records_per_s": self.rows_per_pass / pass_s,
            "op_p50_s": pass_s,
            "op_p90_s": p90(passes),
            "n_ops": len(passes),
            "timed_s": sum(passes),
            **self.quality,
        }

    def layer_metrics(self, self_times: dict[str, list[float]], counts: dict) -> dict[str, float]:
        spans = self.tracer.spans
        per: dict[tuple[str, str | None], list[float]] = {}
        for s in spans:
            if s["parent"] is None:
                per.setdefault((s["name"], None), []).append(s["end"] - s["start"])
            else:
                parent = spans[s["parent"]]["name"]
                per.setdefault((parent, s["name"]), []).append(s["end"] - s["start"])
        out = {k: median(per.get(v, [])) for k, v in LAYER_QUERIES.items()}
        out["queries.build_s"] = median(self_times.get("queries.build", []))
        out["queries.exec_s"] = median(self_times.get("queries.exec", []))
        return {**out, **self.quality}
