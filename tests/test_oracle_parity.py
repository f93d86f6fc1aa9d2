"""Every oracle-backed query must match DuckDB on the same parquet —
this mirrors the driver's CORRECTNESS gate (sf0.01 there, sf0.001 here
for speed; set SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 to match)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from hadoop_source_spark import workload
from hadoop_source_spark.oracle import compare

ORACLE_QUERIES = sorted(
    name for name, q in workload.QUERIES.items() if q.oracle
)

# Operators that run inside a suite keep their own parity id. A suite
# component that is a plain function is checked against its own oracle;
# an operator that is one branch of a tagged suite, or a column group of
# doc_profile, is checked as that slice of the suite's rows against the
# same slice of the suite's oracle: (suite, row predicate, columns).
COMPONENTS = {
    "rollup_revenue": (workload.rollup_revenue, workload._ROLLUP_ORACLE),
    "cube_status_priority": (workload.cube_status_priority,
                             workload._CUBE_ORACLE),
    "split_sample_docs": (workload.split_sample_docs,
                          workload._SPLIT_SAMPLE_ORACLE),
    "stratified_sample_docs": (workload.stratified_sample_docs,
                               workload._STRATIFIED_ORACLE),
}
_STRING_HASH_COLS = ("doc_id", "md5_hex", "sha256_hex", "prefix", "find_pos",
                     "n_space_tokens", "lang_upper", "tagged",
                     "first_long_word")
SLICES = {
    "anti_join_dormant_customers": ("semi_anti_customers",
                                    "side = 'dormant'", None),
    "semi_join_active_customers": ("semi_anti_customers",
                                   "side = 'active'", None),
    "dedup_ngram_jaccard": ("dedup_jaccard_suite",
                            "method = 'exact_ngram'", None),
    "window_rank_top3": ("window_suite", "fn = 'rank_top3'", None),
    "orders_price_quartiles": ("window_suite", "fn = 'ntile4'", None),
    "events_gaps": ("window_suite", "fn = 'gap_us'", None),
    "percentiles_by_type": ("dist_stats_by_type",
                            "part IN ('p50', 'p90', 'p99')", None),
    "events_value_histogram": ("dist_stats_by_type",
                               "part IN ('hist_n', 'hist_avg')", None),
    "find_glob_docs": ("find_ls_stat_docs", None, None),
    "ls_stat_docs": ("find_ls_stat_docs", None, None),
    "head_tail_lineitem": ("limit_family", "part IN ('head', 'tail')", None),
    "top_k_orders": ("limit_family", "part = 'topk'", None),
    "kv_point_lookup": ("kv_suite", "mode = 'exact'", None),
    "kv_get_closest": ("kv_suite", "mode = 'closest'", None),
    "setops_building": ("set_algebra", "op IN ('except', 'intersect')", None),
    "union_distinct_segments": ("set_algebra", "op = 'union_distinct'", None),
    "viewfs_union": ("set_algebra", "op LIKE 'mnt_%'", None),
    "user_event_types": ("events_sessionize", None,
                         ("user_id", "types", "n_events")),
    "string_hash_docs": ("doc_profile", None, _STRING_HASH_COLS),
    "multimodal_meta": ("doc_profile", None,
                        ("doc_id", "n_bytes", "md5", "fake_width",
                         "fake_height")),
}


def _query(spark, sf_dir, name):
    """(Spark rows, oracle SQL) for a registered query, a suite
    component or a suite slice."""
    if name in COMPONENTS:
        fn, oracle = COMPONENTS[name]
        return fn(spark, sf_dir), oracle
    if name in SLICES:
        suite, where, cols = SLICES[name]
        q = workload.QUERIES[suite]
        sdf = q.fn(spark, sf_dir)
        sql = f"SELECT {', '.join(cols) if cols else '*'} FROM ({q.oracle}) t"
        if where:
            sdf = sdf.filter(F.expr(where))
            sql += f" WHERE {where}"
        if cols:
            sdf = sdf.select(*cols)
        return sdf, sql
    q = workload.QUERIES[name]
    return q.fn(spark, sf_dir), q.oracle


# A few queries are allowed to be empty at tiny SF (the hash-compare is
# then vacuous for them, which the dedup suite's other gates cover).
ALLOWED_EMPTY = {"dedup_minhash_lsh", "dedup_jaccard_suite"}


@pytest.mark.parametrize(
    "name", ORACLE_QUERIES + sorted(COMPONENTS) + sorted(SLICES)
)
def test_oracle_parity(spark, sf_dir, name):
    sdf, oracle = _query(spark, sf_dir, name)
    res = compare(name, sdf, oracle, sf_dir)
    assert res.ok, f"{name}: {res.detail} (spark={res.n_spark}, duck={res.n_duck})"
    # non-emptiness rides along on the parity run (r15): compare()
    # already counted the rows, so the separate every-query count()
    # sweep — 244 s of re-running all 259 queries — is redundant for
    # every oracle-backed query.
    assert res.n_spark > 0 or name in ALLOWED_EMPTY, (
        f"{name}: empty result makes the hash-compare vacuous"
    )


def test_nonempty_results(spark, sf_dir):
    """Queries should exercise real data — empty results would make the
    driver's check vacuous. Oracle-backed queries are covered inside
    test_oracle_parity (zero extra cost there); this loop only runs the
    rows-only remainder (r15 — it previously re-ran all 259 queries)."""
    empties = []
    for name, q in workload.QUERIES.items():
        if q.oracle is not None:
            continue
        n = q.fn(spark, sf_dir).count()
        if n == 0 and name not in ALLOWED_EMPTY:
            empties.append(name)
    assert not empties, f"unexpectedly empty: {empties}"
