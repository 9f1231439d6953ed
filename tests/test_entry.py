"""Local replica of the driver's correctness gate: every queries() entry runs
on Spark AND its oracle_sql() runs on DuckDB over the same parquet; row
count, column names, and exact values must agree (FIXTURES.md §4 determinism
rules). Catches engine/oracle drift before the driver does."""

from __future__ import annotations

import json
import os

import duckdb
import pytest

import __spark_entry__ as entrymod
from penr_oz_agent_memory_rust_spark.schemas import TESTDATA_TABLES


def _duck(sf_dir: str):
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _normalize(rows, cols):
    """Bit-exact row keys: floats compare by their IEEE bit pattern — the
    engines have been verified to agree to the last ulp, so the local gate
    enforces the same strictness a raw value-hash would."""
    import struct

    out = []
    for row in rows:
        vals = []
        for c in cols:
            v = row[c]
            if isinstance(v, float):
                v = struct.pack(">d", v).hex()
            vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


ORACLES = entrymod.oracle_sql()
ALL_QUERIES = entrymod.queries()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, sf_dir, name):
    q = ALL_QUERIES[name]
    sdf = q(spark, sf_dir)
    spark_rows = [r.asDict() for r in sdf.collect()]
    cols = sorted(sdf.columns)

    con = _duck(sf_dir)
    res = con.execute(ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = [dict(zip(duck_cols, r)) for r in res.fetchall()]
    con.close()

    assert sorted(duck_cols) == cols, f"{name}: column mismatch {duck_cols} vs {sdf.columns}"
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} (spark) vs {len(duck_rows)} (duckdb)"
    )
    s_norm = _normalize(spark_rows, cols)
    d_norm = _normalize(duck_rows, cols)
    mismatches = [(a, b) for a, b in zip(s_norm, d_norm) if a != b]
    assert not mismatches, f"{name}: {len(mismatches)} value mismatches, first: {mismatches[:3]}"


@pytest.mark.parametrize("name", sorted(set(ALL_QUERIES) - set(ORACLES)))
def test_no_oracle_queries_run(spark, sf_dir, name):
    """Rows-only check for the intentionally oracle-less queries."""
    df = ALL_QUERIES[name](spark, sf_dir)
    assert df.count() >= 0
    assert df.columns


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_unbenched_names_are_registered():
    """A typo in the unbenched set would otherwise surface only as a
    benched query that was meant to be skipped."""
    assert entrymod.UNBENCHED <= set(ALL_QUERIES)


def test_bench_headline_has_no_duplicates():
    import bench

    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))


def test_registry_prefix_is_the_certified_window():
    """The driver certifies the registry's first 50 names; the last
    certification record lists them in order."""
    with open(os.path.join(os.path.dirname(entrymod.__file__), "CORRECTNESS_r11.json")) as f:
        window = list(json.load(f))
    assert list(ALL_QUERIES)[:50] == window


def test_approx_distinct_within_rsd(spark, sf_dir):
    """The HLL++ sketch (oracle-less by design) must land within 3x the
    configured rsd of the exact per-type distinct counts."""
    approx = {
        r["event_type"]: r["approx_users"]
        for r in ALL_QUERIES["approx_distinct_users"](spark, sf_dir).collect()
    }
    con = _duck(sf_dir)
    exact = dict(
        con.execute(
            "SELECT event_type, count(DISTINCT user_id) FROM events GROUP BY 1"
        ).fetchall()
    )
    con.close()
    assert set(approx) == set(exact)
    for et, n in exact.items():
        assert abs(approx[et] - n) <= max(3, 0.06 * n), (et, approx[et], n)


def test_approx_percentiles_near_exact(spark, sf_dir):
    """The sketch percentiles stay within 5% relative error of the exact
    interpolated percentiles (the sketch returns an actual sample, the
    exact form interpolates — sparse tails bound the gap, not the sketch
    error)."""
    import __spark_entry__ as entrymod

    approx = {
        r["event_type"]: (r["p50_approx"], r["p95_approx"])
        for r in entrymod.queries()["events_percentiles_approx"](spark, sf_dir).collect()
    }
    exact = {
        r["event_type"]: (r["p50"], r["p95"])
        for r in entrymod.queries()["events_percentiles"](spark, sf_dir).collect()
    }
    assert set(approx) == set(exact)
    for t in exact:
        for a, e in zip(approx[t], exact[t]):
            assert abs(a - e) <= 0.05 * max(abs(e), 1e-9), (t, a, e)


def test_stream_ivf_append_cache_and_partial_state_recovery(spark, sf_dir):
    """The streamed-index gate caches per testdata identity: a second call
    reuses the built index (same result), and a missing completion marker
    (interrupted build) forces a clean rebuild rather than appending into
    half-written state."""
    import hashlib
    import os
    import shutil
    import tempfile

    first = {tuple(r) for r in ALL_QUERIES["stream_ivf_append"](spark, sf_dir).collect()}
    src = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(src)
    ident = f"stream|{sf_dir}|{st.st_mtime_ns}|{st.st_size}"
    path = os.path.join(
        tempfile.gettempdir(),
        f"__ivf_streamed_{hashlib.md5(ident.encode()).hexdigest()[:12]}",
    )
    marker = os.path.join(path, "_STREAMED_OK")
    assert os.path.exists(marker)
    mtime = os.path.getmtime(os.path.join(path, "centroids.json"))
    again = {tuple(r) for r in ALL_QUERIES["stream_ivf_append"](spark, sf_dir).collect()}
    assert again == first
    # cache hit: the index was NOT rebuilt
    assert os.path.getmtime(os.path.join(path, "centroids.json")) == mtime
    # simulate an interrupted build: marker gone, stale partial data present
    os.remove(marker)
    rebuilt = {tuple(r) for r in ALL_QUERIES["stream_ivf_append"](spark, sf_dir).collect()}
    assert rebuilt == first
    assert os.path.exists(marker)
    assert os.path.getmtime(os.path.join(path, "centroids.json")) > mtime
    shutil.rmtree(path, ignore_errors=True)  # leave no cross-test state


def test_corpus_datasheet_shape_and_invariants(spark, sf_dir):
    import __spark_entry__ as m

    out = {r.metric: r.value for r in m.queries()["corpus_datasheet"](spark, sf_dir).collect()}
    assert set(out) == {
        "n_docs", "n_tokens", "n_chars", "en_share",
        "quality_mean", "quality_p50", "dup_rate",
    }
    assert out["n_docs"] > 0 and out["n_tokens"] > out["n_docs"]
    assert 0.0 <= out["en_share"] <= 1.0
    assert 0.0 <= out["dup_rate"] < 1.0
    assert 0.0 <= out["quality_mean"] <= 1.0


class TestBuildPublished:
    """_build_published: the concurrency-safe build-once gate cache
    (staging dir + one atomic rename) that replaced the r7
    check→rmtree→rebuild-in-place pattern."""

    def test_builds_once_and_reuses(self, tmp_path):
        import os

        work = str(tmp_path / "w")
        calls = []

        def build(stage):
            calls.append(stage)
            with open(os.path.join(stage, "data.txt"), "w") as f:
                f.write("payload")

        entrymod._build_published(work, "_OK", build)
        entrymod._build_published(work, "_OK", build)
        assert len(calls) == 1  # second call hits the published marker
        assert open(os.path.join(work, "data.txt")).read() == "payload"
        assert os.path.exists(os.path.join(work, "_OK"))
        # nothing ever built in place: the stage dir is gone
        assert not os.path.exists(f"{work}.stage{os.getpid()}")

    def test_loser_adopts_winners_dir(self, tmp_path):
        """If another process publishes while we build, our stage is
        discarded and the winner's dataset served."""
        import os

        work = str(tmp_path / "w")

        def winner_publishes_midway(stage):
            os.makedirs(work)
            with open(os.path.join(work, "data.txt"), "w") as f:
                f.write("winner")
            with open(os.path.join(work, "_OK"), "w") as f:
                f.write("ok")
            with open(os.path.join(stage, "data.txt"), "w") as f:
                f.write("loser")

        entrymod._build_published(work, "_OK", winner_publishes_midway)
        assert open(os.path.join(work, "data.txt")).read() == "winner"
        assert not os.path.exists(f"{work}.stage{os.getpid()}")

    def test_replaces_legacy_partial_dir(self, tmp_path):
        """A pre-staging partial dir (exists, no marker) is replaced."""
        import os

        work = str(tmp_path / "w")
        os.makedirs(work)
        with open(os.path.join(work, "halfbuilt.txt"), "w") as f:
            f.write("junk")

        def build(stage):
            with open(os.path.join(stage, "data.txt"), "w") as f:
                f.write("fresh")

        entrymod._build_published(work, "_OK", build)
        assert open(os.path.join(work, "data.txt")).read() == "fresh"
        assert not os.path.exists(os.path.join(work, "halfbuilt.txt"))

    def test_build_failure_leaves_no_published_dir(self, tmp_path):
        import os

        work = str(tmp_path / "w")

        def build(stage):
            raise RuntimeError("boom")

        with pytest.raises(RuntimeError, match="boom"):
            entrymod._build_published(work, "_OK", build)
        assert not os.path.exists(work)
