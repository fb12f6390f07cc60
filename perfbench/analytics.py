"""analytics_mix: a closed loop of catalog queries over generated read-only
tables, in a seeded shuffled order after the flagship ``q_star_join``.

The mix holds reporting and event-stream queries (relational, fastagg,
asof, sessionize and window work) and curation queries (text quality, exact
dedup, MinHash dedup clusters, semantic dedup) over documents and
embeddings with planted duplicates. Every execution's rows
are fetched and, outside the timed region, hash-matched against the
query's DuckDB oracle (``catalog.ORACLES``) with
``tools/check_oracle.frame_hash``; the curation outputs are also checked
against the planted ground truth.
"""

from __future__ import annotations

import os
import random

import duckdb

from perfbench import gen
from perfbench.common import Ctx, p50, tail
from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark import (
    catalog,
)
from tools.check_oracle import frame_hash

#: one query per plan shape: every query costs a run ~1 s of planning and
#: JIT warm-up whatever its input size, so shapes already covered
#: (q_groupby_agg, q_rollup, q_left_join_lookup, q_window_rank,
#: q_window_tumbling, q_incremental_rollup, q_cosine_topk_ivf) are left out
#: to keep a run near 50 s
REPORTING = [
    "q_star_join", "q_filter_join_topk", "q_topk_per_group", "q_lag_lead",
    "q_stats_moments", "q_asof_join", "q_window_session", "q_percentile_rank",
    "q_retention_cohort", "q_funnel_steps", "q_sessionize",
]
CURATION = ["q_text_quality", "q_dedup_exact", "q_dedup_clusters", "q_semantic_dedup"]
QUERIES = REPORTING + CURATION
#: q_semantic_dedup's DuckDB twin takes far longer than the query, so its
#: kept set is checked against the planted near-copies instead
ROWS_ONLY = {"q_semantic_dedup"}
#: half the repository's sf0.1 testdata (75k orders, ~300k lineitems, 50k
#: events, 2.5k documents, 1k vectors): at sf0.1 the DuckDB oracles take
#: ~14 s per run against ~6 s here, for ~3 s more Spark work (README.md)
SIZES = {False: {"sf": 0.05}, True: {"sf": 0.001}}
#: floors below which a curation output counts as wrong: the planted
#: duplicates sit far above every similarity threshold the queries use
MIN_NEARDUP_RECALL = 0.9
MIN_SEMDEDUP_RECALL = 0.9


def prepare(ctx: Ctx) -> dict:
    sf_dir = os.path.join(ctx.work, "tables")
    tables, corpus, emb = gen.analytics_tables(ctx.seed, SIZES[ctx.smoke]["sf"])
    gen.write_tables(tables, sf_dir)
    con = duckdb.connect()
    for name in tables:
        con.sql(f"create view {name} as select * from '{os.path.join(sf_dir, name)}.parquet'")
    expected = {}
    for q in QUERIES:
        if q not in ROWS_ONLY:
            odf = con.sql(catalog.ORACLES[q]).df()
            expected[q] = (len(odf), sorted(odf.columns), frame_hash(odf))
    con.close()
    return {"sf_dir": sf_dir, "expected": expected, "corpus": corpus, "emb": emb}


def _check_curation(ctx: Ctx, q: str, pdf, inputs: dict) -> None:
    """Planted-truth checks on the curation outputs."""
    corpus, emb = inputs["corpus"], inputs["emb"]
    if q == "q_dedup_exact":
        ctx.check(len(pdf) == corpus.n_exact_survivors,
                  f"{q}: kept {len(pdf)} docs, planted truth {corpus.n_exact_survivors}")
    elif q == "q_dedup_clusters":
        # a planted near pair is found when both docs share a cluster; every
        # multi-doc cluster must consist of planted copies of one original
        rep = dict(zip(pdf["doc_id"], pdf["cluster_rep"]))
        near = corpus.near_pairs
        recall = sum(rep[a] == rep[b] for a, b in near) / len(near)
        ctx.figures["neardup_recall"] = recall
        ctx.check(recall >= MIN_NEARDUP_RECALL, f"{q}: near-dup recall {recall:.3f}")
        planted_rep = {d: d for d in rep}
        for a, b in near + corpus.exact_pairs:
            planted_rep[b] = a
        ctx.check(all(rep[d] in (d, planted_rep[d]) for d in rep),
                  f"{q}: a cluster joins documents that are not planted copies")
    elif q == "q_semantic_dedup":
        members = {x: i for i, pair in enumerate(emb.near_pairs) for x in pair}
        dropped = set(range(emb.table.num_rows)) - set(pdf["vec_id"])
        hit = [members.get(x) for x in dropped]
        ctx.check(None not in hit and len(set(hit)) == len(hit),
                  f"{q}: dropped a vector outside the planted pairs, or both of a pair")
        recall = len(hit) / len(emb.near_pairs)
        ctx.figures["semdedup_recall"] = recall
        ctx.check(recall >= MIN_SEMDEDUP_RECALL, f"{q}: semantic dedup recall {recall:.3f}")


def run(ctx: Ctx, inputs: dict) -> dict[str, float]:
    sf_dir, expected = inputs["sf_dir"], inputs["expected"]
    rng = random.Random(ctx.seed)
    times: list[float] = []
    work_cpu = 0.0
    # the pass opens with the flagship query: the first query after start-up
    # pays most of the JIT warm-up, and which query pays it should not
    # depend on the seed
    rest = QUERIES[1:]
    for q in [QUERIES[0], *rng.sample(rest, len(rest))]:
        with ctx.op("query") as op:
            with ctx.rec.span(f"catalog.{q}", "catalog"):
                pdf = catalog.QUERIES[q](ctx.spark, sf_dir).toPandas()
        times.append(op.elapsed)
        work_cpu += op.cpu
        if q not in ROWS_ONLY:
            got = (len(pdf), sorted(pdf.columns), frame_hash(pdf))
            ctx.check(got == expected[q], f"{q}: rows/columns/hash {got} != oracle {expected[q]}")
        _check_curation(ctx, q, pdf, inputs)

    t_value, t_pct, t_n = tail(times)
    ctx.figures.update({
        "query_s_p50": p50(times),
        "query_s_tail": t_value,
        "query_s_tail_pct": t_pct,
        "queries": t_n,
        "queries_per_s": len(times) / sum(times),
    })
    if ctx.traced:
        ctx.extras["operators.dedup.lsh_candidates_per_pair"] = _lsh_candidates_per_pair(ctx, sf_dir)
    return {"work_s": sum(times), "work_cpu_s": work_cpu}


def _lsh_candidates_per_pair(ctx: Ctx, sf_dir: str) -> float:
    """LSH candidate pairs per verified near-dup pair, for the banding and
    threshold ``q_dedup_clusters`` uses: attempts per useful outcome.
    Counted after the timed work, with spans paused."""
    from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.operators import (
        dedup as D,
    )

    with ctx.rec.paused():
        docs = ctx.spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        sigs = D.minhash_signatures(docs, "doc_id", "text").localCheckpoint()
        n_cand = D.lsh_candidate_pairs(sigs, "doc_id").count()
        n_pairs = D.minhash_near_duplicates(docs, "doc_id", "text", threshold=0.5).count()
    return n_cand / max(1, n_pairs)
