"""Scale probes: the curation funnel and the top-cost operators on
synthetic corpora large enough (100k-10M docs) that task time, not job
scheduling, sets the wall time. Not part of the bench; run ad hoc:

    python scale_probe.py funnel   # funnel_probe, SCALE_FUNNEL_DOCS docs
    python scale_probe.py cores    # core_scaling_probe, SCALE_CORE_DOCS docs

Each prints one JSON line per stage or operator as it finishes and one
report line at the end. Results of earlier probes are recorded in PLANS.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

import __spark_entry__ as _entry  # noqa: F401  (for _ship_package)
from penr_oz_agent_memory_rust_spark.operators import dedup
from penr_oz_agent_memory_rust_spark.session import get_spark as _get_spark


def get_spark(*a, **kw):
    """Session + package zip shipped to workers, so Arrow-UDF closures that
    reference package modules unpickle when the probe runs from any cwd."""
    spark = _get_spark(*a, **kw)
    _entry._ship_package(spark)
    return spark


def _synth_skewed_corpus(spark, n_docs: int, words: int = 24):
    """Synthetic corpus with skewed duplicates (all synthesized in-plan,
    nothing collected): 0.5% boilerplate in 5 identical-text templates
    (~5k copies each at 5M docs), 20% near-dup adjacent-id pairs differing
    by one word, 79.5% unique."""
    base = spark.range(n_docs).select(F.col("id").alias("doc_id"))
    sel = F.pmod(F.col("doc_id"), F.lit(1000))
    fam = (
        F.when(sel < 5, F.pmod(F.col("doc_id"), F.lit(5)))  # 0.5% boilerplate
        .when(sel < 205, F.col("doc_id") - F.pmod(F.col("doc_id"), F.lit(2)))
        .otherwise(F.col("doc_id"))
    )
    body = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.lit(words)),
            lambda j: F.substring(F.md5(F.concat(fam.cast("string"), F.lit(":"), j.cast("string"))), 1, 8),
        ),
        " ",
    )
    # near-dups get one extra doc-unique word so they are near, not exact
    tail = F.when(
        (sel >= 5) & (sel < 205),
        F.concat(F.lit(" "), F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":t"))), 1, 8)),
    ).otherwise(F.lit(""))
    return base.select("doc_id", F.concat(body, tail).alias("text"))


def _shuffle_write_bytes(spark) -> int:
    """Total shuffle-write bytes across completed stages, from the local
    Spark UI REST API — deltas between probe stages attribute shuffle
    volume per funnel stage. Returns -1 if the UI is unreachable."""
    import urllib.request

    try:
        base = spark.sparkContext.uiWebUrl
        app = spark.sparkContext.applicationId
        with urllib.request.urlopen(
            f"{base}/api/v1/applications/{app}/stages?status=complete", timeout=10
        ) as r:
            stages = json.load(r)
        return sum(int(s.get("shuffleWriteBytes", 0)) for s in stages)
    except Exception:  # noqa: BLE001
        return -1


def funnel_probe() -> None:
    """End-to-end curation funnel A/B at inflated scale
    (`python scale_probe.py funnel`; SCALE_FUNNEL_DOCS overrides N,
    default 10M): two arms of the four-tier pipeline, differing ONLY in
    whether candidate generation sees boilerplate-stripped text —

      arm "no_strip" (the r8 posture):
        gopher inline predicate
        → survivor-only minhash_est_pairs with RECALL-tilted banding
          (bands=6, r=2: two-hash band slices collide easily, catching
          low-jaccard near-dups a production funnel must not miss — at
          the price of a noisy candidate list)
        → est_jaccard >= 0.5 prune
        → ngram_jaccard_verify of ONLY the surviving pairs (exact 0.8)
        → neardup_keep_best

      arm "strip" (the r9 DEFAULT posture, dedup.curate_funnel's
      boilerplate-first form):
        gopher → strip_boilerplate_spans(k=5, min_df=1% of corpus)
        → the SAME est tier over the CLEANED text
        → the SAME exact verify over the RAW survivor text
        → neardup_keep_best

    The corpus gives 60% of docs a shared stopword tail — the boilerplate
    collision mass whose band-slice minima collide quadratically across
    unrelated docs under r=2 banding (the r8 probe measured 182M
    candidate pairs from it at 10M docs). The strip arm must (a) cut
    candidate_pairs >= 5x and (b) keep verified_pairs EQUAL — recall is
    judged on the exact-verify output over raw text, identical in both
    arms. Per-stage wall seconds and shuffle-write bytes (Spark REST
    deltas) are recorded; inputs materialize to parquet between stages so
    each stage is charged its own cost. SCALE_FUNNEL_COUNTERFACTUAL=1
    additionally re-runs the exact verify over the UNPRUNED no-strip
    candidate list (DNFs on this machine at 10M — that failure is the
    measurement; recorded, not raised)."""
    n_docs = int(os.environ.get("SCALE_FUNNEL_DOCS", "10000000"))
    words = int(os.environ.get("SCALE_FUNNEL_WORDS", "24"))
    min_df = int(os.environ.get("SCALE_FUNNEL_MIN_DF", str(max(2, n_docs // 100))))
    spark = get_spark(app_name="poz-funnel-probe", ui_enabled=True)
    import tempfile

    from penr_oz_agent_memory_rust_spark.operators import text_ops

    root = tempfile.mkdtemp(prefix="funnelprobe-")
    report: dict = {"n_docs": n_docs, "est_threshold": 0.5, "strip_min_df": min_df}

    # corpus: skewed dups + a stopword tail on 60% so the REAL gopher
    # stop-list rule drives rejection AND the boilerplate collision mass
    # exists for the strip arm to remove
    _synth_skewed_corpus(spark, n_docs, words=words).select(
        "doc_id",
        F.when(
            F.pmod(F.col("doc_id"), F.lit(10)) < 6,
            F.concat(F.col("text"), F.lit(" the and that have with")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    ).write.mode("overwrite").parquet(f"{root}/docs")
    docs = spark.read.parquet(f"{root}/docs")

    def stage(arm, name, fn):
        b0, t0 = _shuffle_write_bytes(spark), time.time()
        out = fn()
        rec = {
            "sec": round(time.time() - t0, 2),
            "shuffle_mb": round((_shuffle_write_bytes(spark) - b0) / 1e6, 1),
        }
        report.setdefault(arm, {})[name] = rec
        print(json.dumps({f"{arm}.{name}": rec}), flush=True)
        return out

    # gopher is arm-independent: run once, charge it to its own group
    def _gopher():
        docs.filter(
            text_ops.gopher_ok_expr(F.col("text"), min_words=1, min_stopword_hits=2)
        ).write.mode("overwrite").parquet(f"{root}/survivors")
        return spark.read.parquet(f"{root}/survivors")

    survivors = stage("shared", "gopher", _gopher)
    report["survivor_rows"] = survivors.count()

    def run_arm(arm: str, strip: bool):
        arm_dir = f"{root}/{arm}"
        cand_src = survivors
        if strip:
            def _strip():
                dedup.strip_boilerplate_spans(
                    survivors, k=5, min_df=min_df
                ).select(
                    "doc_id", F.col("text_clean").alias("text")
                ).write.mode("overwrite").parquet(f"{arm_dir}/clean")
                return spark.read.parquet(f"{arm_dir}/clean")

            cand_src = stage(arm, "strip_boilerplate", _strip)

        def _est():
            dedup.minhash_est_pairs(
                cand_src, n_hashes=12, bands=6, threshold=0.0, max_bucket=200
            ).write.mode("overwrite").parquet(f"{arm_dir}/cand")
            return spark.read.parquet(f"{arm_dir}/cand")

        cand = stage(arm, "est_pairs", _est)
        n_cand = cand.count()
        kept = cand.filter(F.col("est_jaccard") >= 0.5)
        n_est = kept.count()
        report[arm]["candidate_pairs"] = n_cand
        report[arm]["est_kept_pairs"] = n_est
        report[arm]["est_reduction"] = round(n_cand / max(1, n_est), 2)

        def _verify():
            dedup.ngram_jaccard_verify(
                survivors, kept.select("a", "b"), threshold=0.8
            ).write.mode("overwrite").parquet(f"{arm_dir}/verified")
            return spark.read.parquet(f"{arm_dir}/verified")

        verified = stage(arm, "verify_est_pruned", _verify)
        report[arm]["verified_pairs"] = verified.count()

        def _keep():
            dedup.neardup_keep_best(
                survivors, verified, F.length("text")
            ).write.mode("overwrite").parquet(f"{arm_dir}/kept")
            return spark.read.parquet(f"{arm_dir}/kept")

        keep = stage(arm, "keep_best", _keep)
        report[arm]["kept_docs"] = keep.count()
        return cand, verified

    cand_a, ver_a = run_arm("no_strip", strip=False)
    cand_b, ver_b = run_arm("strip", strip=True)

    report["candidate_cut"] = round(
        report["no_strip"]["candidate_pairs"]
        / max(1, report["strip"]["candidate_pairs"]),
        2,
    )
    # recall judged on the exact-verify output (raw-text pairs): preserved
    # means the strip arm verified EVERY pair the no-strip arm did.
    # verified_only_in_strip > 0 is the strip arm finding MORE true pairs —
    # removing tail shingles also removes their dilution of the 12-hash
    # est_jaccard, so borderline true pairs stop being noise-pruned at the
    # est tier (measured +33 at 200k docs).
    only_a = ver_a.select("a", "b").exceptAll(ver_b.select("a", "b")).count()
    only_b = ver_b.select("a", "b").exceptAll(ver_a.select("a", "b")).count()
    report["verified_only_in_no_strip"] = only_a
    report["verified_only_in_strip"] = only_b
    report["verified_recall_vs_no_strip"] = round(
        1.0 - only_a / max(1, report["no_strip"]["verified_pairs"]), 6
    )
    report["net_verified_gain"] = only_b - only_a

    # counterfactual LAST, fallible, opt-in: exact verify over the
    # UNPRUNED no-strip candidate list. At 10M docs / 182M candidates this
    # DIES on local disk (spill > 60 GB) — which is the measurement.
    if os.environ.get("SCALE_FUNNEL_COUNTERFACTUAL") == "1":
        try:
            stage(
                "no_strip",
                "verify_unpruned_counterfactual",
                lambda: dedup.ngram_jaccard_verify(
                    survivors, cand_a.select("a", "b"), threshold=0.8
                )
                .write.mode("overwrite")
                .parquet(f"{root}/verified_all"),
            )
        except Exception as e:  # noqa: BLE001
            report["no_strip"]["verify_unpruned_counterfactual"] = {
                "failed": f"{type(e).__name__}: {str(e)[:200]}"
            }
            print(
                json.dumps({"verify_unpruned_counterfactual": "FAILED (recorded)"}),
                flush=True,
            )
    print(json.dumps(report))


def core_scaling_probe() -> None:
    """Core-scaling probe for the suite's top-cost operators
    (`python scale_probe.py cores`; SCALE_CORE_DOCS overrides N, default
    300k): at sf0.1 the whole bench is fixed-overhead-bound (the r10
    driver measured 8 cores ≈ 32 cores on the suite total), so this runs
    the expensive operators on a synthetic corpus big enough that task
    time dominates scheduling, at WHATEVER core count $SPARK_GRAFT_CPUS
    says — run it once at 32 and once at 8 and compare the per-op walls
    (recorded in PLANS.md §core-scaling). Inputs materialize to parquet
    first (every op computes from parquet, nothing warm-started); each op
    runs twice and the MIN is reported so one-off stragglers on a shared
    VM don't masquerade as serial sections."""
    import shutil
    import tempfile

    from penr_oz_agent_memory_rust_spark import localdata
    from penr_oz_agent_memory_rust_spark.operators import (
        importance,
        text_ops,
    )
    from penr_oz_agent_memory_rust_spark.operators.graph_stats import kcore, triangle_stats
    from penr_oz_agent_memory_rust_spark.operators.label_prop import label_propagation
    from penr_oz_agent_memory_rust_spark.operators.pagerank import pagerank

    n_docs = int(os.environ.get("SCALE_CORE_DOCS", "300000"))
    spark = get_spark(app_name="poz-core-scaling")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "?")
    root = tempfile.mkdtemp(prefix="corescale-")
    report: dict = {"n_docs": n_docs, "cpus": cpus, "times_sec": {}, "out_rows": {}}

    # corpus with sources + the stopword tail (same shape as funnel_probe)
    _synth_skewed_corpus(spark, n_docs).select(
        "doc_id",
        F.concat(F.lit("s"), F.pmod(F.col("doc_id"), F.lit(8)).cast("string")).alias(
            "source"
        ),
        F.when(
            F.pmod(F.col("doc_id"), F.lit(10)) < 6,
            F.concat(F.col("text"), F.lit(" the and that have with")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    ).write.mode("overwrite").parquet(f"{root}/docs")
    docs = spark.read.parquet(f"{root}/docs")
    # deterministic sparse graph: ~6 undirected edges per node over
    # n_docs/3 nodes — big enough that the DISTRIBUTED arms
    # (localdata.LOCAL_EDGE_LIMIT = 0) run real per-iteration joins
    n_nodes = max(1000, n_docs // 3)
    spark.range(n_nodes).select(
        F.explode(
            F.expr(
                "transform(sequence(1, 3), j -> struct(id AS src, "
                f"pmod(id * 37 + j * 101, {n_nodes}) AS dst))"
            )
        ).alias("e")
    ).select("e.src", "e.dst").filter(F.col("src") != F.col("dst")).write.mode(
        "overwrite"
    ).parquet(f"{root}/edges")
    edges = spark.read.parquet(f"{root}/edges")

    # SCALE_CORE_OPS: comma-list to run a subset (e.g. the ops whose
    # 100k-doc ratio was scheduling-bound, re-probed at a larger N)
    only = {
        s for s in os.environ.get("SCALE_CORE_OPS", "").split(",") if s
    }

    def distributed(op, *args, **kwargs):
        # the size probe runs at call time, so the limit only needs to
        # hold for the call
        saved, localdata.LOCAL_EDGE_LIMIT = localdata.LOCAL_EDGE_LIMIT, 0
        try:
            return op(*args, **kwargs)
        finally:
            localdata.LOCAL_EDGE_LIMIT = saved

    def run(name, fn):
        if only and name not in only:
            return
        times = []
        for _ in range(2):
            t0 = time.time()
            out = fn()
            out.write.format("noop").mode("overwrite").save()
            times.append(round(time.time() - t0, 2))
        report["times_sec"][name] = min(times)
        print(json.dumps({name: times}), flush=True)

    min_df = max(2, n_docs // 100)
    run(
        "pipeline_curate_funnel",
        lambda: dedup.curate_funnel(
            docs,
            min_words=1,
            min_stopword_hits=1,
            strip_k=5,
            strip_min_df=min_df,
            n_hashes=12,
            bands=4,
            est_threshold=0.5,
            max_bucket=200,
            jaccard=0.3,
        ),
    )
    run("cdc_chunking", lambda: text_ops.cdc_chunk_documents(docs))
    run(
        "dsir_select",
        lambda: importance.dsir_select(
            docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 0),
            docs,
            k=1000,
        ),
    )
    run("source_overlap", lambda: dedup.source_overlap(docs))
    run(
        "ngram_jaccard_pairs",
        lambda: dedup.ngram_jaccard_pairs(
            docs, threshold=0.2, max_doc_freq=200
        ),
    )
    run(
        "dedup_minhash_lsh",
        lambda: dedup.minhash_lsh_pairs(docs, max_bucket=200),
    )
    run(
        "kcore_distributed",
        lambda: distributed(kcore, edges, k=3, max_iters=6),
    )
    run(
        "pagerank_distributed",
        lambda: distributed(pagerank, edges, iters=3),
    )
    run(
        "label_prop_distributed",
        lambda: distributed(
            label_propagation,
            edges,
            spark.range(0, n_nodes, 10).select(
                F.col("id"), F.pmod(F.col("id"), F.lit(7)).alias("label")
            ),
            iters=3,
        ),
    )
    run(
        "triangles_distributed",
        lambda: distributed(triangle_stats, edges),
    )
    print(json.dumps(report))
    shutil.rmtree(root, ignore_errors=True)
    spark.stop()


PROBES = {"funnel": funnel_probe, "cores": core_scaling_probe}


if __name__ == "__main__":
    if len(sys.argv) != 2 or sys.argv[1] not in PROBES:
        sys.exit(f"usage: python scale_probe.py {{{'|'.join(PROBES)}}}")
    PROBES[sys.argv[1]]()
