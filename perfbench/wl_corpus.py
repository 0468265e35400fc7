"""``corpus_dedup``: the LLM-data half of the program on a seeded
synthetic corpus with planted duplicates.

One pass is quality_features -> exact_dedup -> minhash_dedup_pairs ->
connected_components over the verified pairs, plus brute_force_topk
over embeddings with planted near neighbours. Never touches the daemon
or decode.
"""

from __future__ import annotations

import statistics
import time

import pandas as pd

import gen
from spans import overhead_ratio

MIN_PASSES = 3
SETUP_REPS = 3
SIZE = {"docs": 2500, "vectors": 2500, "queries": 64}
WARM = {"docs": 300, "vectors": 300, "queries": 8}


def write_inputs(ctx, corpus: dict, tag: str):
    """Corpus and embeddings as parquet, read back as the pipeline's
    inputs (so every pass starts from the same files)."""
    spark = ctx.spark
    docs = pd.DataFrame({"doc_id": corpus["ids"], "text": corpus["texts"]})
    vecs = pd.DataFrame({"vec_id": range(len(corpus["vectors"])),
                         "embedding": list(corpus["vectors"])})
    spark.createDataFrame(docs, "doc_id long, text string") \
        .write.mode("overwrite").parquet(ctx.path(tag, "docs"))
    spark.createDataFrame(vecs, "vec_id long, embedding array<float>") \
        .write.mode("overwrite").parquet(ctx.path(tag, "vecs"))
    return (spark.read.parquet(ctx.path(tag, "docs")),
            spark.read.parquet(ctx.path(tag, "vecs")))


def run_pass(ctx, docs, vecs, query_ids) -> dict:
    """One full pipeline pass; every result is materialized."""
    from pyspark.sql import functions as F

    from pmacct_spark.operators.curation import connected_components
    from pmacct_spark.operators.dedup import exact_dedup, minhash_dedup_pairs
    from pmacct_spark.operators.similarity import brute_force_topk
    from pmacct_spark.operators.staging import release, stage
    from pmacct_spark.operators.text import quality_features

    tr = ctx.tracer
    out = {}
    with tr.span("text.quality_features"):
        quality_features(docs).write.format("noop").mode("overwrite").save()
    with tr.span("dedup.exact_dedup"):
        out["exact"] = exact_dedup(docs, "doc_id", "text") \
            .filter("n_copies > 1").toPandas()
    with tr.span("dedup.minhash_dedup_pairs"):
        pairs = stage(minhash_dedup_pairs(docs, "doc_id", "text"))
        out["pairs"] = pairs.toPandas()
    with tr.span("curation.connected_components"):
        out["cc"] = connected_components(pairs).toPandas()
    release(pairs)
    with tr.span("similarity.brute_force_topk"):
        queries = vecs.filter(F.col("vec_id").isin([int(q) for q in query_ids]))
        out["topk"] = brute_force_topk(vecs, queries, k=5).toPandas()
    return out


def verify(ctx, res: dict, corpus: dict) -> None:
    want_exact = {(min(g), len(g)) for g in corpus["exact_groups"]}
    got_exact = {(int(r.survivor_id), int(r.n_copies)) for r in res["exact"].itertuples()}
    ctx.check("corpus.exact_survivors", got_exact == want_exact,
              f"{len(got_exact ^ want_exact)} survivor groups differ")
    found = set(zip(res["pairs"]["doc_a"].astype(int), res["pairs"]["doc_b"].astype(int)))
    missing = [p for p in corpus["near_pairs"] if p not in found]
    ctx.check("corpus.near_pairs", not missing,
              f"{len(missing)} of {len(corpus['near_pairs'])} planted pairs missing, e.g. {missing[:3]}")
    label = dict(zip(res["cc"]["node"].astype(int), res["cc"]["cluster_id"].astype(int)))
    split = [p for p in corpus["near_pairs"] if label.get(p[0], -1) != label.get(p[1], -2)]
    split += [g for g in corpus["exact_groups"] if len({label.get(i, -1 - i) for i in g}) != 1]
    ctx.check("corpus.components", not split, f"{len(split)} planted groups split, e.g. {split[:3]}")
    top1 = res["topk"][res["topk"]["rank"] == 1]
    got = dict(zip(top1["query_id"].astype(int), top1["neighbor_id"].astype(int)))
    want = dict(zip(corpus["query_ids"].tolist(), corpus["twin_ids"].tolist()))
    bad = {q: (got.get(q), t) for q, t in want.items() if got.get(q) != t}
    ctx.check("corpus.topk_twins", not bad, f"{len(bad)} queries miss their twin, e.g. {list(bad.items())[:3]}")


def _corpus(seed: int, size: dict) -> dict:
    return gen.make_corpus(seed, size["docs"], size["vectors"], n_queries=size["queries"])


def corpus_dedup(ctx, phases=()) -> None:
    # set-up: a pass over a small throwaway corpus, timed SETUP_REPS
    # times (once in a traced run, which reports no set-up time); the
    # first rep also starts the session and writes the inputs
    setup_times = []
    warm = _corpus(ctx.seed + 1_000_003, WARM)
    for k in range(1 if ctx.tracer.enabled else SETUP_REPS):
        t0 = time.perf_counter()
        if ctx.spark is None:
            ctx.start_session()
            docs, vecs = write_inputs(ctx, warm, "warm")
        run_pass(ctx, docs, vecs, warm["query_ids"])
        setup_times.append(time.perf_counter() - t0)
    ctx.note("setup_s", setup_times)
    ctx.e2e["setup_s"] = statistics.median(setup_times)

    corpus = _corpus(ctx.seed, SIZE)
    docs, vecs = write_inputs(ctx, corpus, "main")
    tr = ctx.tracer
    last = {}

    def work():
        last["res"] = run_pass(ctx, docs, vecs, corpus["query_ids"])
        return last["res"]

    times = ctx.measure(work, lambda res: verify(ctx, res, corpus), MIN_PASSES)
    ctx.e2e["items_per_s"] = SIZE["docs"] / statistics.median(times)

    if tr.enabled:
        L = ctx.layer
        L["trace.overhead_ratio"] = overhead_ratio(times)
        L["text.quality_s"] = ctx.per_pass(tr.total("text.quality_features"))
        L["dedup.exact_s"] = ctx.per_pass(tr.total("dedup.exact_dedup"))
        L["dedup.minhash_s"] = ctx.per_pass(tr.total("dedup.minhash_dedup_pairs"))
        L["curation.cc_s"] = ctx.per_pass(tr.total("curation.connected_components"))
        L["similarity.topk_s"] = ctx.per_pass(tr.total("similarity.brute_force_topk"))
        for layer, t in tr.layer_self_times().items():
            L[f"self_s.{layer}"] = ctx.per_pass(t)
        from pmacct_spark.operators.dedup import (
            band_keys_long,
            lsh_candidate_pairs,
            minhash_signature,
        )

        cands = lsh_candidate_pairs(
            band_keys_long(minhash_signature(docs, "doc_id", "text"), "doc_id"), "doc_id"
        )
        t0 = time.perf_counter()
        n_cand = cands.count()
        L["dedup.lsh_candidates_s"] = time.perf_counter() - t0
        L["dedup.candidate_pairs"] = n_cand
        n_ver = len(last["res"]["pairs"])
        L["dedup.verified_pairs"] = n_ver
        L["dedup.lsh_precision"] = n_ver / max(n_cand, 1)
        for phase in phases:
            phase(ctx)
