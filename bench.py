"""Headline benchmark: runs the engine's flagship operators at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Per-query seconds are wall-clock including all supersteps. The "extra"
block reports the BASELINE.json metric components (supersteps/sec and
edges-processed/sec for PI to 1e-6) — the N-vs-4N scaling-efficiency
evidence lives in tools/bench_scaling.py → BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from montecarlopagerank_spark.session import get_spark  # noqa: E402


def load_warning(load1: float, cpus: int) -> str | None:
    """Flag a bench run that started on a loaded host: a 1-minute loadavg
    above a quarter of the cores already skews per-query times."""
    if load1 > cpus / 4:
        return f"1-min loadavg {load1} at start exceeds cpus/4 = {cpus / 4:g}"
    return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    # PRE-EXISTING host load, sampled before Spark spins up any work —
    # the end-of-run loadavg would mostly measure this bench itself
    load_at_start = [round(x, 2) for x in os.getloadavg()]
    spark = get_spark(app_name="bench")

    from montecarlopagerank_spark.algos.bfs import bfs_hops
    from montecarlopagerank_spark.algos.components import connected_components
    from montecarlopagerank_spark.algos.hits import hits
    from montecarlopagerank_spark.algos.kcore import k_core
    from montecarlopagerank_spark.algos.labelprop import label_propagation
    from montecarlopagerank_spark.algos.pagerank_mc import pagerank_monte_carlo
    from montecarlopagerank_spark.algos.pagerank_power import pagerank_power
    from montecarlopagerank_spark.algos.triangles import triangle_count
    from montecarlopagerank_spark.operators.edges import transcript_edges
    from montecarlopagerank_spark.pipeline.dedup import minhash_dedup_pairs
    from montecarlopagerank_spark.pipeline.similarity import cosine_topk_lsh
    from montecarlopagerank_spark.pipeline.textstats import (
        quality_score,
        token_stats,
    )
    from montecarlopagerank_spark.sources.transcripts import transcripts_from_events

    queries: dict[str, float] = {}
    extra: dict[str, float] = {}

    def timed(name: str):
        class _T:
            def __enter__(self):
                self.t0 = time.time()
                return self

            def __exit__(self, *a):
                queries[name] = round(time.time() - self.t0, 3)

        return _T()

    # graph build (timed as its own query)
    with timed("graph_build"):
        ts = transcripts_from_events(spark, sf_dir)
        edges, vertices = transcript_edges(ts)
        edges = edges.persist()
        vertices = vertices.persist()
        n_edges = edges.count()
        n_vertices = vertices.count()
    extra["n_edges"] = n_edges
    extra["n_vertices"] = n_vertices

    with timed("pagerank_power_1e6"):
        ranks, info = pagerank_power(
            spark, edges, vertices, tol=1e-6, max_iters=150
        )
        ranks.orderBy(F.desc("rank")).limit(20).collect()
    pi_secs = queries["pagerank_power_1e6"]
    extra["pi_supersteps"] = info["iterations"]
    extra["pi_converged"] = bool(info["converged"])
    extra["pi_supersteps_per_sec"] = round(info["iterations"] / pi_secs, 4)
    extra["pi_edges_per_sec"] = round(n_edges * info["iterations"] / pi_secs, 1)

    with timed("pagerank_mc_k10x10"):
        mc_ranks, mc_info = pagerank_monte_carlo(
            spark, edges, vertices, walks_per_vertex=10, iterations=10
        )
        mc_ranks.orderBy(F.desc("rank")).limit(20).collect()
    extra["mc_supersteps_per_sec"] = round(
        mc_info["iterations"] / queries["pagerank_mc_k10x10"], 4
    )

    with timed("connected_components"):
        cc = connected_components(spark, edges, vertices)
        cc.groupBy("component").count().orderBy(F.desc("count")).limit(5).collect()

    with timed("modularity_cc"):
        from montecarlopagerank_spark.algos.modularity import modularity

        mq = modularity(
            edges, cc.select("v", F.col("component").alias("label"))
        ).collect()
    extra["modularity_cc"] = mq[0]["modularity_r6"]

    with timed("label_propagation_10"):
        lp = label_propagation(spark, edges, vertices, max_iters=10)
        lp.groupBy("label").count().orderBy(F.desc("count")).limit(5).collect()

    with timed("triangle_count"):
        extra["triangles"] = triangle_count(spark, edges)

    with timed("hits_5"):
        scores, _ = hits(spark, edges, vertices, iters=5)
        scores.orderBy(F.desc("auth")).limit(20).collect()

    with timed("salsa_5"):
        from montecarlopagerank_spark.algos.salsa import salsa
        sscores, _ = salsa(spark, edges, vertices, iters=5)
        sscores.orderBy(F.desc("auth")).limit(20).collect()

    with timed("k_core_2"):
        core, kinfo = k_core(spark, edges, k=2)
        core.groupBy("deg").count().orderBy(F.desc("count")).limit(5).collect()
    extra["kcore_rounds"] = kinfo["rounds"]

    with timed("k_truss_3"):
        from montecarlopagerank_spark.algos.truss import k_truss

        truss, tinfo = k_truss(spark, edges, k=3)
        truss.count()
    extra["truss_rounds"] = tinfo["rounds"]

    with timed("bfs_hops_6"):
        srcs = vertices.filter(F.col("kind") == "tool").select(
            F.col("vid").alias("v")
        )
        dist, _ = bfs_hops(spark, edges, srcs, max_hops=6)
        dist.groupBy("hops").count().collect()

    with timed("sssp_weighted"):
        from montecarlopagerank_spark.algos.sssp import sssp

        we = edges.select(
            "src", "dst", ((F.col("src") % 9) + 1).cast("long").alias("wt")
        )
        sdist, sinfo = sssp(spark, we, srcs, weight_col="wt", max_rounds=32)
        sdist.agg(F.max("d")).collect()
    extra["sssp_rounds"] = sinfo["rounds"]

    with timed("hyperanf"):
        from montecarlopagerank_spark.algos.hyperanf import neighborhood_function

        # lgk=9 (~3.6% rel err) + 0.1% growth stop: the production
        # config for a diameter estimate — the exact-fixpoint lgk=12
        # default is what the correctness tests pin
        _, anfinfo = neighborhood_function(
            spark, edges, max_h=24, lgk=9, rel_tol=1e-3
        )
    extra["effective_diameter_90"] = anfinfo["effective_diameter_90"]

    with timed("betweenness_6"):
        from montecarlopagerank_spark.algos.betweenness import (
            landmark_betweenness,
        )

        bcc, _ = landmark_betweenness(spark, edges, srcs, max_hops=6)
        bcc.orderBy(F.desc("btw"), "v").limit(20).collect()

    with timed("random_walks_l8"):
        from montecarlopagerank_spark.algos.walks import random_walks

        wsrcs = vertices.select(F.col("vid").alias("v"))
        _, winfo = random_walks(
            spark, edges, wsrcs, walk_length=8, walks_per_vertex=1
        )
    extra["walk_rows"] = winfo["rows"]

    with timed("node2vec_l6"):
        from montecarlopagerank_spark.algos.node2vec import node2vec_walks

        _, n2vinfo = node2vec_walks(
            spark, edges, srcs, walk_length=6, walks_per_vertex=4,
            p=0.5, q=2.0,
        )
    extra["node2vec_rows"] = n2vinfo["rows"]

    # incremental edge maintenance: stage the transcripts as a parquet
    # "log" outside the timer, then time the stateful availableNow drain
    import tempfile

    from montecarlopagerank_spark.streaming.edge_stream import run_edge_stream

    stream_root = tempfile.mkdtemp(prefix="bench_stream_")
    ts.write.parquet(f"{stream_root}/in")
    with timed("edge_stream_drain"):
        run_edge_stream(
            spark, f"{stream_root}/in", f"{stream_root}/out", f"{stream_root}/ck"
        )
        extra["stream_edges"] = spark.read.parquet(f"{stream_root}/out").count()

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    with timed("minhash_dedup"):
        minhash_dedup_pairs(docs, jaccard_threshold=0.5).count()

    with timed("dedup_clusters"):
        from montecarlopagerank_spark.pipeline.dedup import dedup_clusters

        pairs = minhash_dedup_pairs(docs, jaccard_threshold=0.5)
        extra["dedup_kept"] = (
            dedup_clusters(spark, docs, pairs).filter("keep").count()
        )

    with timed("text_stats"):
        token_stats(docs).agg(F.sum("n_tokens")).collect()
        quality_score(docs).agg(F.avg("quality")).collect()

    with timed("ann_lsh_topk"):
        cosine_topk_lsh(emb, emb.filter("vec_id < 16"), k=10).count()

    with timed("pca_whiten"):
        from montecarlopagerank_spark.pipeline.embeddings import pca_project

        out, _ = pca_project(spark, emb, k=8, whiten=True)
        out.agg(F.sum(F.element_at("pc", 1))).collect()

    # temporal event analytics over the raw events table
    from montecarlopagerank_spark.pipeline.temporal import (
        _us,
        asof_join,
        range_join_count,
        session_stats,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").persist()
    ev.count()
    with timed("sessionize"):
        session_stats(ev, gap_us=14_400_000_000).count()
    with timed("asof_join"):
        evu = ev.withColumn("us", _us("ts"))
        purchases = evu.filter(F.col("event_type") == "purchase").select(
            "user_id", "us", "event_id"
        )
        signups = (
            evu.filter(F.col("event_type") == "signup")
            .groupBy("user_id", "us")
            .agg(F.max("event_id").alias("signup_event_id"))
            .withColumn("signup_us", F.col("us"))
        )
        asof_join(
            purchases, signups, on="user_id", ts="us",
            right_cols=["signup_event_id", "signup_us"],
        ).count()
    with timed("range_join"):
        errors = evu.filter(F.col("event_type") == "error")
        range_join_count(
            errors, evu, on="user_id", ts="us", window_us=7_200_000_000,
            left_id="event_id", right_id="event_id",
        ).count()
    ev.unpersist()

    # training-data prep: deterministic split + mixture + chunking
    from montecarlopagerank_spark.contract import MIX_WEIGHTS
    from montecarlopagerank_spark.pipeline.sampling import (
        chunk_text,
        hash_split,
        mixture_sample,
    )

    with timed("sampling_ops"):
        hash_split(
            docs, key_col="doc_id",
            splits={"train": 0.8, "val": 0.1, "test": 0.1},
        ).groupBy("split").count().collect()
        mixture_sample(
            docs, source_col="source", key_col="doc_id", weights=MIX_WEIGHTS
        ).count()
        chunk_text(
            docs, id_col="doc_id", text_col="text", size=200, stride=160
        ).agg(F.sum("chunk_len")).collect()

    with timed("vectorize_sketch"):
        from montecarlopagerank_spark.pipeline.textstats import count_min_sketch
        from montecarlopagerank_spark.pipeline.tfidf import hashed_features

        extra["hashed_nnz"] = hashed_features(
            docs, n_features=1024, ngram=2
        ).count()
        extra["cm_cells"] = count_min_sketch(docs, depth=4, width=1024).count()

    with timed("quality_funnel"):
        from montecarlopagerank_spark.pipeline.quality_filters import (
            quality_funnel,
        )

        fr = {r.stage: r.n_docs for r in quality_funnel(docs).collect()}
        extra["funnel_kept"] = fr.get(4, 0)

    with timed("pack_butterfly"):
        from montecarlopagerank_spark.operators.projection import butterfly_stats
        from montecarlopagerank_spark.pipeline.sampling import pack_sequences

        extra["pack_chunks"] = int(
            pack_sequences(docs, id_col="doc_id", text_col="text", budget=512)
            .agg(F.max("chunk_last"))
            .collect()[0][0]
            + 1
        )
        extra["butterflies"] = int(
            butterfly_stats(
                ts.select("conv_id", "tool"),
                group_col="conv_id",
                item_col="tool",
            ).collect()[0]["n_butterflies"]
        )

    # centrality beyond PageRank + symmetry breaking
    from montecarlopagerank_spark.algos.katz import katz as katz_centrality
    from montecarlopagerank_spark.algos.mis import luby_mis

    with timed("katz_6"):
        kscores, _ = katz_centrality(spark, edges, vertices, alpha=0.05, iters=6)
        kscores.orderBy(F.desc("katz_norm"), "v").limit(20).collect()

    with timed("mis"):
        m, minfo = luby_mis(spark, edges)
        extra["mis_size"] = m.count()
    extra["mis_rounds"] = minfo["rounds"]

    with timed("max_matching"):
        from montecarlopagerank_spark.algos.matching import maximal_matching

        mm, mminfo = maximal_matching(spark, edges)
        extra["matching_size"] = mminfo["n_matched"]
    extra["matching_rounds"] = mminfo["rounds"]

    with timed("core_numbers"):
        from montecarlopagerank_spark.algos.corenum import core_numbers

        _cores, coinfo = core_numbers(spark, edges)
        extra["max_coreness"] = coinfo["max_coreness"]
    extra["corenum_rounds"] = coinfo["rounds"]

    with timed("greedy_coloring"):
        from montecarlopagerank_spark.algos.coloring import greedy_coloring

        cols, cinfo = greedy_coloring(spark, edges)
        extra["coloring_n_colors"] = cinfo["n_colors"]
    extra["coloring_rounds"] = cinfo["rounds"]

    with timed("msf"):
        from montecarlopagerank_spark.algos.msf import minimum_spanning_forest

        _forest, msfinfo = minimum_spanning_forest(spark, edges)
        extra["msf_edges"] = msfinfo["n_edges"]
    extra["msf_rounds"] = msfinfo["rounds"]

    with timed("kahn_peel"):
        from montecarlopagerank_spark.algos.toposort import kahn_peel

        _layers, kinfo = kahn_peel(spark, edges, max_rounds=24)
        extra["kahn_unresolved"] = kinfo["n_unresolved"]
    extra["kahn_rounds"] = kinfo["rounds"]

    with timed("wl_colors_3"):
        from montecarlopagerank_spark.algos.wl import wl_colors

        _wl, wli = wl_colors(spark, edges, rounds=3)
        extra["wl_n_colors"] = wli["n_colors"]

    with timed("temporal_reach_8"):
        from montecarlopagerank_spark.algos.temporal_reach import earliest_arrival
        from montecarlopagerank_spark.operators.edges import (
            timestamped_string_edges,
        )

        te = timestamped_string_edges(ts)
        srcs = ts.filter(F.col("turn_idx") == 0).select(
            F.concat(F.lit("turn#"), F.col("conv_id"), F.lit("#0")).alias("v"),
            F.unix_micros(F.col("ts").cast("timestamp")).alias("t0"),
        )
        _tr, tri = earliest_arrival(spark, te, srcs, max_hops=8)
        extra["treach_reached"] = tri["n_reached"]

    with timed("densest_subgraph"):
        from montecarlopagerank_spark.algos.densest import densest_subgraph

        _dv, dinfo = densest_subgraph(spark, edges)
        extra["densest_density"] = dinfo["best_density"]
    extra["densest_rounds"] = dinfo["rounds"]

    with timed("louvain_4x2"):
        from montecarlopagerank_spark.algos.louvain import louvain

        lassign, linfo = louvain(spark, edges, rounds_per_level=4, max_levels=2)
        lassign.groupBy("community").count().orderBy(F.desc("count")).limit(
            5
        ).collect()
    extra["louvain_communities"] = linfo["n_communities"]

    # behavioral analytics over the events table
    from montecarlopagerank_spark.pipeline.funnel import (
        event_transition_matrix,
        funnel_counts,
        retention_cohorts,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").persist()
    ev.count()
    with timed("funnel_retention"):
        funnel_counts(ev, ["view", "click", "purchase"]).collect()
        retention_cohorts(ev, period_us=604_800_000_000).count()
        event_transition_matrix(ev).count()

    # text retrieval + training-data hygiene
    from montecarlopagerank_spark.pipeline.contamination import contamination_check
    from montecarlopagerank_spark.pipeline.pii import pii_scrub
    from montecarlopagerank_spark.pipeline.quality_filters import (
        gopher_quality_flags,
        repetition_stats,
    )
    from montecarlopagerank_spark.pipeline.sampling import hash_bucket
    from montecarlopagerank_spark.pipeline.tfidf import bm25_search, tf_idf_top_terms

    with timed("tfidf_bm25"):
        tf_idf_top_terms(docs, k=5).count()
        bm25_search(docs, "spark join merge", k=20).collect()

    with timed("quality_filters"):
        gopher_quality_flags(docs).agg(
            F.sum(F.col("passes_gopher").cast("long"))
        ).collect()
        repetition_stats(docs).agg(F.avg("dup_token_frac")).collect()

    with timed("dup_ngram_spans"):
        from montecarlopagerank_spark.pipeline.dupspans import dup_ngram_spans

        dup_ngram_spans(docs, n=5, min_docs=2).agg(
            F.avg("dup_ratio"), F.max("max_dup_run")
        ).collect()

    with timed("pii_scrub"):
        pii_scrub(
            ev.select("event_id", F.col("props").alias("text")),
            "text",
            ("event_id",),
            min_digits=2,
        ).agg(F.sum("n_pii")).collect()
    ev.unpersist()

    with timed("kmeans_ivf"):
        from montecarlopagerank_spark.pipeline.clustering import ivf_topk

        ivf_topk(
            spark, emb, emb.filter("vec_id < 16"),
            k=10, nprobe=2, n_clusters=10, iters=3,
        ).count()

    with timed("sq_pq_topk"):
        from montecarlopagerank_spark.pipeline.pq import (
            pq_adc_topk, pq_encode, pq_train)
        from montecarlopagerank_spark.pipeline.sq import (
            sq_encode, sq_topk, sq_train)

        mins, maxes = sq_train(emb)
        sq_topk(spark, sq_encode(emb, mins, maxes), mins, maxes,
                emb.filter("vec_id < 16"), k=10).count()
        book = pq_train(spark, emb, m=4, k=16, iters=2)
        pq_adc_topk(spark, pq_encode(emb, book, m=4), book,
                    emb.filter("vec_id < 16"), m=4, k=10).count()

    with timed("bpe_train_8"):
        from montecarlopagerank_spark.pipeline.bpe import (
            bpe_segment_counts, bpe_train)

        _merges, vocab = bpe_train(spark, docs, n_merges=8)
        extra["bpe_tokens"] = int(
            bpe_segment_counts(vocab)
            .agg(F.sum(F.col("freq") * F.col("n_tokens")))
            .collect()[0][0]
        )

    with timed("window_streams"):
        import tempfile as _tf

        from montecarlopagerank_spark.streaming.join_stream import (
            run_join_stream)
        from montecarlopagerank_spark.streaming.window_stream import (
            run_window_stream)

        _root = _tf.mkdtemp(prefix="bench_streams_")
        _inp = os.path.join(_root, "in")
        (spark.read.parquet(f"{sf_dir}/events.parquet")
         .orderBy("ts").coalesce(4).write.parquet(_inp))
        run_window_stream(spark, _inp, os.path.join(_root, "w_out"),
                          os.path.join(_root, "w_ck"))
        run_join_stream(spark, _inp, os.path.join(_root, "j_out"),
                        os.path.join(_root, "j_ck"))
        extra["stream_join_pairs"] = (
            spark.read.parquet(os.path.join(_root, "j_out")).count()
        )

    with timed("contamination"):
        from montecarlopagerank_spark.contract import CONTAM_CUT

        bkt = hash_bucket(F.col("doc_id"), "contam:")
        contamination_check(
            docs.filter(bkt >= CONTAM_CUT), docs.filter(bkt < CONTAM_CUT), n=3
        ).agg(F.sum("n_contaminated")).collect()

    total = round(sum(queries.values()), 3)
    # round-over-round comparability: the registry grows every round, so
    # the grand total is not comparable across BENCH_r{N}.json artifacts.
    # The 9-query subtotal below is the set timed since round 2 — compare
    # THIS machine-readable field, not "value", across rounds.
    comparable_9 = [
        "graph_build", "pagerank_power_1e6", "pagerank_mc_k10x10",
        "connected_components", "label_propagation_10", "triangle_count",
        "minhash_dedup", "text_stats", "ann_lsh_topk",
    ]
    print(
        json.dumps(
            {
                "metric": "engine_bench_total",
                "value": total,
                "unit": "sec",
                "queries": queries,
                "comparable_subtotal": round(
                    sum(queries.get(q, 0.0) for q in comparable_9), 3
                ),
                "comparable_queries": comparable_9,
                "sf": float(sf),
                # host-load context: a uniform +10-25% drift across every
                # query (driver r4 vs builder same-day run) tracks machine
                # load, not code — record the PRE-RUN 1/5/15-min loadavg +
                # cpu count so such drifts are attributable at a glance
                "load": {
                    "loadavg_1_5_15_at_start": load_at_start,
                    "loadavg_1_5_15_at_end": [
                        round(x, 2) for x in os.getloadavg()
                    ],
                    "cpu_count": os.cpu_count(),
                    "load_warning": load_warning(
                        load_at_start[0], os.cpu_count() or 1
                    ),
                },
                "extra": extra,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
