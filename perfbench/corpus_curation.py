"""Workload ``corpus_curation``: closed-loop passes of the curation plans
over a seeded corpus.

Inputs (all from the seed), in the testdata schema and with the shape
of the sf0.01 testdata tables, the scale the program's oracle checks
run at:

* ``documents`` (doc_id, text, lang, source, n_chars), ``N_DOCS``
  rows. A text is 10-99 words drawn uniformly from the testdata's
  30-word vocabulary ``VOCAB``; ``lang`` follows the sf0.1 table's
  shares (``LANGS``); ``source`` is ``src<doc_id % 20>``. No two texts
  are equal (sf0.01 has none); ``NEAR_DUP_SHARE`` of the documents are
  an earlier-drawn text with `` dup`` appended (25 such pairs at
  sf0.01), each of a different original, at random doc ids.
* ``embeddings`` (vec_id, embedding, label), ``N_VECS`` rows of
  ``DIM``-dim unit vectors with independent uniform labels 0..9: the
  testdata's vectors show no cluster structure (nearest neighbours
  share a label 10% of the time, as for random vectors).

A pass calls each step of ``plans.textpipeline`` in ``STEPS`` order
on a fresh Spark cache: ``call_s`` is the plan call (eager driver work:
gates, fits, local loops) and ``exec_s`` materializes the returned plan
by collecting it. Passes repeat until ``--seconds`` have gone by, at
least ``MIN_PASSES`` of them. The first pass also warms the JVM's JIT,
code generation and Python workers (it takes two to three times as
long as the later ones); a step's time is its median over all passes,
so that pass counts once. The first pass's rows are checked against
each step's ``oracle_sql()`` in DuckDB over the same files; every
later pass must return the same rows.
"""

from __future__ import annotations

import os
import random
import time

from perfbench.harness import median, nproc, tree_cpu_s

N_DOCS = 500
N_VECS = 500
DIM = 64
N_LABELS = 10
NEAR_DUP_SHARE = 0.05
STEPS = ("text_quality", "dedup_exact", "dedup_keep_best", "pagerank_knn")
SETUP_REPS = 2
MIN_PASSES = 4
KNN_K = 5  # pagerank_knn's default k

VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = {"en": 2059, "zh": 753, "es": 744, "fr": 742, "de": 702}


def inputs() -> dict:
    return {"docs": N_DOCS, "vectors": N_VECS, "dim": DIM,
            "labels": N_LABELS, "vocabulary": len(VOCAB),
            "exact_dup_share": 0.0, "near_dup_share": NEAR_DUP_SHARE,
            "steps": list(STEPS)}


def generate(seed: int, out_dir: str) -> None:
    """Write documents.parquet and embeddings.parquet."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    n_near = round(N_DOCS * NEAR_DUP_SHARE)
    texts = [" ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 99)))
             for _ in range(N_DOCS - n_near)]
    texts += [texts[i] + " dup" for i in rng.sample(range(len(texts)), n_near)]
    rng.shuffle(texts)
    docs = pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choices(list(LANGS), list(LANGS.values()), k=N_DOCS),
                         pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    nrng = np.random.default_rng(seed)
    x = nrng.normal(size=(N_VECS, DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(range(N_VECS), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(nrng.integers(0, N_LABELS, size=N_VECS).astype(np.int32),
                          pa.int32()),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))


def _pass(spark, tracer, tp, corpus: str, rep: int) -> dict:
    """One pass of ``STEPS``, each on a fresh Spark cache."""
    p0, c0 = time.time(), tree_cpu_s()
    steps: dict[str, dict] = {}
    for name in STEPS:
        spark.catalog.clearCache()
        fn = getattr(tp, name)
        with tracer.span(spark, "plans.textpipeline", f"{name}.call", rep=rep) as sc:
            df = fn(spark, corpus)
        with tracer.span(spark, "plans.textpipeline", f"{name}.exec", rep=rep) as se:
            rows = [tuple(r) for r in df.collect()]
        steps[name] = {"call": sc, "exec": se, "cols": df.columns, "rows": rows}
    return {"steps": steps, "wall_s": time.time() - p0, "cpu_s": tree_cpu_s() - c0}


def run(session, tracer, ws, seed: int, seconds: int) -> dict:
    """Passes until ``seconds`` have gone by, at least ``MIN_PASSES`` of
    them. The first pass's rows are checked against the oracles; every
    later pass must return the same rows."""
    from gcp_data_engineering_workshop_spark.plans import textpipeline as tp

    corpus = ws.path("corpus")
    generate(seed, corpus)
    session.setup(SETUP_REPS, lambda spark: None)
    spark = session.spark
    passes: list[dict] = []
    t0 = time.time()
    while len(passes) < MIN_PASSES or time.time() - t0 < seconds:
        passes.append(_pass(spark, tracer, tp, corpus, len(passes)))
    spark.catalog.clearCache()
    checks = _check(corpus, passes[0]["steps"])
    want = {n: _norm(s["cols"], s["rows"]) for n, s in passes[0]["steps"].items()}
    checks["repeat_ok"] = all(_norm(s["cols"], s["rows"]) == want[n]
                              for p in passes[1:] for n, s in p["steps"].items())
    checks["all_ok"] = checks["all_ok"] and checks["repeat_ok"]
    return {"passes": passes, "wall_s": median(p["wall_s"] for p in passes),
            "timed_s": time.time() - t0, "corpus": corpus, "checks": checks}


def _norm_cell(v):
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, float) and v != v:
        return "NaN"
    return v


def _norm(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return (sorted(cols),
            sorted((tuple(_norm_cell(r[i]) for i in order) for r in rows), key=repr))


def _check(corpus: str, steps: dict) -> dict:
    """Each step's collected rows equal its oracle's, exactly (column
    names and row multiset, order-insensitive)."""
    import duckdb

    import __spark_entry__ as entry
    oracles = entry.oracle_sql()
    con = duckdb.connect()
    con.execute(f"SET threads = {nproc()}")
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(corpus, t + '.parquet')}'")
    out = {}
    for name, s in steps.items():
        cur = con.execute(oracles[name])
        ocols = [d[0] for d in cur.description]
        want = _norm(ocols, cur.fetchall())
        got = _norm(s["cols"], s["rows"])
        out[name] = {"rows": len(s["rows"]), "ok": got == want}
    con.close()
    out["all_ok"] = all(v["ok"] for v in out.values())
    return out


def _step_s(step: dict) -> float:
    return (step["call"]["end"] - step["call"]["start"]
            + step["exec"]["end"] - step["exec"]["start"])


def metrics(res: dict, tracer, groups: dict | None) -> tuple[dict, dict, dict]:
    """A step's time is its median over the passes; latency_p50_s is
    the median and latency_tail_s the largest of those step times (four
    steps: fewer than eleven samples, so the tail is the maximum)."""
    from gcp_data_engineering_workshop_spark.operators import graph
    from gcp_data_engineering_workshop_spark.plans import textpipeline as tp

    passes = res["passes"]
    step_s = {n: median(_step_s(p["steps"][n]) for p in passes) for n in STEPS}
    e2e = {"latency_p50_s": median(step_s.values()),
           "latency_tail_s": max(step_s.values()),
           "throughput_per_s": N_DOCS / res["wall_s"]}
    layer: dict[str, float] = {}
    for name in STEPS:
        p = f"plans.textpipeline.{name}."
        runs = [ps["steps"][name] for ps in passes]
        layer[p + "call_s"] = median(s["call"]["end"] - s["call"]["start"] for s in runs)
        layer[p + "exec_s"] = median(s["exec"]["end"] - s["exec"]["start"] for s in runs)
        if groups is not None:
            for k in ("jobs", "executor_cpu_s", "driver_gap_s", "shuffle_bytes", "gc_s"):
                layer[p + k] = median(float(s["call"].get(k, 0) + s["exec"].get(k, 0))
                                      for s in runs)
    details = {
        "corpus_docs_per_s": e2e["throughput_per_s"],
        "passes": len(passes), "pass_wall_s": [p["wall_s"] for p in passes],
        "pass_cpu_s": [p["cpu_s"] for p in passes], "docs": N_DOCS,
        "step_s_median": step_s,
        "step_s_by_pass": [{n: _step_s(p["steps"][n]) for n in STEPS} for p in passes],
        "gates": {"knn_edges": KNN_K * N_VECS,
                  "pagerank_local_edge_bound": tp._PR_LOCAL_EDGE_BOUND,
                  "n_x_dim": N_VECS * DIM,
                  "cc_local_edge_bound": graph._CC_LOCAL_EDGE_BOUND},
        "checks": res["checks"],
    }
    return e2e, layer, details


def attempted_failed(res: dict) -> tuple[int, int]:
    """Ops are the pass steps."""
    return len(STEPS) * len(res["passes"]), 0
