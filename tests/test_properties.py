"""Property tests (SURVEY.md §5.2-4): algebraic invariants of the engine's
operators on hypothesis-generated data. Spark jobs are slow per-example, so
each property drives ONE Spark evaluation over a generated batch (lists →
createDataFrame), with example counts kept small."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F
from pyspark.sql import types as T

from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.dedup import (
    exact_dedup_stats,
)
from pharmaceutical_sales_data_etl_analysis_pipeline_spark.plans.pharma_pipeline import (
    repair_rep_ids,
)

SETTLE = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

DOC_SCHEMA = T.StructType(
    [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
)

docs_strategy = st.lists(
    st.tuples(st.integers(0, 50), st.text(alphabet="ab c", min_size=0, max_size=20)),
    min_size=1,
    max_size=30,
)


@SETTLE
@given(rows=docs_strategy)
def test_exact_dedup_idempotent_and_conserving(spark, rows):
    """Dedup invariants: n_copies sums to input size (conservation), one
    survivor per distinct content, and dedup of the deduped survivors is a
    fixpoint (all n_copies == 1)."""
    df = spark.createDataFrame([(int(i), t) for i, t in rows], DOC_SCHEMA)
    stats = exact_dedup_stats(df).collect()
    assert sum(r["n_copies"] for r in stats) == len(rows)
    assert len(stats) == len({t for _, t in rows})
    survivors = (
        df.join(
            exact_dedup_stats(df).select(F.col("keep_id").alias("doc_id")).distinct(),
            "doc_id",
        )
        .dropDuplicates(["text"])
    )
    again = exact_dedup_stats(survivors).collect()
    assert all(r["n_copies"] == 1 for r in again)


@SETTLE
@given(
    rows=st.lists(
        st.tuples(st.integers(1, 999), st.floats(0, 1e6, allow_nan=False)),
        min_size=1,
        max_size=50,
    )
)
def test_union_additivity_and_sum_invariant(spark, rows):
    """UNION ALL (U1) bag semantics: row counts add; DECIMAL sums add
    exactly (order-independence of the money aggregation)."""
    schema = T.StructType(
        [T.StructField("k", T.IntegerType()), T.StructField("amt", T.DoubleType())]
    )
    df = spark.createDataFrame(rows, schema)
    doubled = df.unionByName(df)
    assert doubled.count() == 2 * len(rows)
    dec = lambda d: d.agg(F.sum(F.col("amt").cast("decimal(18,2)")).alias("s")).collect()[0]["s"]
    assert dec(doubled) == 2 * dec(df)


@SETTLE
@given(
    dates=st.lists(
        st.tuples(st.integers(1, 12), st.integers(1, 28), st.integers(2000, 2030)),
        min_size=1,
        max_size=40,
    )
)
def test_date_parse_quarter_bounds(spark, dates):
    """F1/F3: the non-zero-padded M/D/YYYY parse of the reference roundtrips
    and QUARTER is always in [1, 4] with quarter == ceil(month / 3)."""
    raw = [(f"{m}/{d}/{y}", m) for m, d, y in dates]
    df = spark.createDataFrame(raw, ["sale_date", "month"])
    out = df.select(
        "month",
        F.quarter(F.to_date("sale_date", "M/d/yyyy")).alias("q"),
        F.year(F.to_date("sale_date", "M/d/yyyy")).alias("y"),
    ).collect()
    for r, (m, d, y) in zip(out, dates):
        assert r["q"] == (m + 2) // 3
        assert 1 <= r["q"] <= 4
        assert r["y"] == y


@SETTLE
@given(
    ids=st.lists(st.text(alphabet="0123456789", min_size=1, max_size=4), min_size=1, max_size=30)
)
def test_key_repair_prefixes_exactly_once(spark, ids):
    """M1: key repair prepends 'r' to every rep_id exactly once; row count
    and the numeric suffix are preserved."""
    df = spark.createDataFrame([(i,) for i in ids], ["rep_id"])
    repaired = repair_rep_ids(df).collect()
    assert len(repaired) == len(ids)
    assert sorted(r["rep_id"] for r in repaired) == sorted("r" + i for i in ids)


# ---------------------------------------------------------------------------
# Blocked SimHash recall guarantee (pure Python — no Spark): for ANY
# 64-bit fingerprint, ANY block config B in SIM_BLOCK_CONFIGS, and ANY
# set of <= HAMMING_MAX (=3) bit flips, the flipped fingerprint shares
# at least one (table_idx, packed block_key) with the original — the
# Manku et al. pigeonhole argument simhash_near_dups' equi-join relies
# on for exact recall AT EVERY RUNG of the r6 corpus-derived ladder.
# Hypothesis hammers the full flip space, not just the fixtures.
# ---------------------------------------------------------------------------


def _block_keys(sig64: int, b: int):
    """Pure-Python twin of simhash64_blocks' packed keys for config b."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.dedup import (
        sim_block_widths,
        sim_key_tables,
    )

    widths = sim_block_widths(b)
    offsets = [sum(widths[:i]) for i in range(b)]
    keys = set()
    for t, combo in enumerate(sim_key_tables(b)):
        shift, key = 0, 0
        for j in combo:
            key += ((sig64 >> offsets[j]) & ((1 << widths[j]) - 1)) << shift
            shift += widths[j]
        keys.add((t, key))
    return keys


@settings(max_examples=300, deadline=None)
@given(
    sig=st.integers(0, 2**64 - 1),
    flips=st.sets(st.integers(0, 63), min_size=1, max_size=3),
    cfg=st.sampled_from((4, 5, 6, 8, 10, 16)),
)
def test_block_pigeonhole_guarantees_recall(sig, flips, cfg):
    other = sig
    for b in flips:
        other ^= 1 << b
    assert _block_keys(sig, cfg) & _block_keys(other, cfg), (
        f"no shared key for sig={sig:#x} flips={sorted(flips)} blocks={cfg}"
    )


def test_block_index_tightness_four_flips_can_miss():
    """The exact boundary of the block index at every config (Manku et
    al.): one flip in EACH of 4 distinct blocks (Hamming 4) shares no
    key, because every kept combination excludes only 3 blocks —
    HAMMING_MAX=3 is the largest radius any C(B,3) index certifies."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.dedup import (
        SIM_BLOCK_CONFIGS,
        sim_block_widths,
    )

    for b in SIM_BLOCK_CONFIGS:
        widths = sim_block_widths(b)
        offsets = [sum(widths[:i]) for i in range(b)]
        other = sum(1 << offsets[j] for j in range(4))
        assert not (_block_keys(0, b) & _block_keys(other, b)), f"blocks={b}"


# ---------------------------------------------------------------------------
# Corpus-prep invariants (r2): sequence packing must tile each shard's
# token stream exactly (contiguous offsets, packs consistent with integer
# chunking); decile assignment must be monotone in score, tie-consistent,
# and land the top score in decile 10.
# ---------------------------------------------------------------------------

PACK_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("source", T.StringType()),
    ]
)

packing_strategy = st.lists(
    st.tuples(
        st.integers(0, 200),
        st.text(alphabet="ab c", min_size=0, max_size=30),
        st.sampled_from(["s0", "s1", "s2"]),
    ),
    min_size=1,
    max_size=40,
    unique_by=lambda r: r[0],
)


@SETTLE
@given(rows=packing_strategy)
def test_sequence_packing_tiles_each_shard(spark, rows):
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.corpusops import (
        SEQ_LEN,
        sequence_packing,
    )

    df = spark.createDataFrame([(int(i), t, s) for i, t, s in rows], PACK_SCHEMA)
    out = sequence_packing(df).collect()
    assert len(out) == len(rows)
    by_shard: dict[str, list] = {}
    for r in sorted(out, key=lambda r: (r["source"], r["doc_id"])):
        by_shard.setdefault(r["source"], []).append(r)
    for docs in by_shard.values():
        offset = 0
        for r in docs:
            assert r["start_offset"] == offset, r
            assert r["start_pack"] == offset // SEQ_LEN
            assert r["end_pack"] == (offset + r["n_tokens"] - 1) // SEQ_LEN
            assert r["end_pack"] >= r["start_pack"]
            offset += r["n_tokens"]


# quality_score divides by n_chars/n_tokens: non-empty text is a
# documented precondition (the documents corpus satisfies it).
nonempty_docs_strategy = st.lists(
    st.tuples(st.integers(0, 50), st.text(alphabet="ab c.", min_size=1, max_size=20)),
    min_size=1,
    max_size=30,
)


@SETTLE
@given(rows=nonempty_docs_strategy)
def test_quality_deciles_monotone_and_tie_consistent(spark, rows):
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.corpusops import (
        quality_deciles,
    )

    uniq = {i: t for i, t in rows}
    df = spark.createDataFrame(
        [(int(i), t) for i, t in uniq.items()], DOC_SCHEMA
    )
    out = sorted(quality_deciles(df).collect(), key=lambda r: r["quality_score"])
    assert len(out) == len(uniq)
    assert all(1 <= r["decile"] <= 10 for r in out)
    assert out[-1]["decile"] == 10  # cum = N at the top value
    for a, b in zip(out, out[1:]):
        assert a["decile"] <= b["decile"]  # monotone in score
        if a["quality_score"] == b["quality_score"]:
            assert a["decile"] == b["decile"]  # ties share a decile


# --- warehouse.py properties -------------------------------------------------

CHUNK_DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


@SETTLE
@given(
    texts=st.lists(
        st.text(alphabet="abc d.\n", min_size=1, max_size=600),
        min_size=1,
        max_size=10,
    )
)
def test_doc_chunks_reassemble_to_original(spark, texts):
    """Chunking invariants: dropping each subsequent chunk's overlap prefix
    and concatenating reconstructs the exact original text; every chunk is
    at most CHUNK_SIZE; chunk indexes are dense from 0."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.warehouse import (
        CHUNK_SIZE,
        CHUNK_STRIDE,
        doc_chunks,
    )

    overlap = CHUNK_SIZE - CHUNK_STRIDE
    df = spark.createDataFrame(
        [(i, t, len(t)) for i, t in enumerate(texts)], CHUNK_DOC_SCHEMA
    )
    out = doc_chunks(df).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(range(len(texts)))
    for i, t in enumerate(texts):
        chunks = sorted(by_doc[i], key=lambda r: r["chunk_idx"])
        assert [c["chunk_idx"] for c in chunks] == list(range(len(chunks)))
        assert all(c["chunk_len"] <= CHUNK_SIZE for c in chunks)
        rebuilt = chunks[0]["chunk_text"] + "".join(
            c["chunk_text"][overlap:] for c in chunks[1:]
        )
        assert rebuilt == t


@SETTLE
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 500), st.sampled_from(["s1", "s2", "s3"])),
        min_size=1,
        max_size=60,
        unique_by=lambda r: r[0],
    )
)
def test_stratified_sample_exact_quota_and_deterministic(spark, rows):
    """Stratified sampling: exactly ceil(n/10) survivors per source, and
    the selection is a pure function of the data (two runs identical)."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.warehouse import (
        STRATUM_PCT,
        stratified_sample,
    )

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("source", T.StringType())]
    )
    df = spark.createDataFrame([(int(i), s) for i, s in rows], schema)
    out1 = {(r["doc_id"], r["source"]) for r in stratified_sample(df).collect()}
    out2 = {(r["doc_id"], r["source"]) for r in stratified_sample(df).collect()}
    assert out1 == out2
    from collections import Counter

    n_per = Counter(s for _, s in rows)
    kept_per = Counter(s for _, s in out1)
    for s, n in n_per.items():
        assert kept_per[s] == -(-n // STRATUM_PCT)  # ceil(n/10)


@SETTLE
@given(
    rows=st.lists(
        st.tuples(
            st.integers(1, 3),  # user_id
            st.integers(0, 10_000_000),  # ts offset seconds
            st.floats(0.01, 500, allow_nan=False),
        ),
        min_size=2,
        max_size=40,
        unique_by=lambda r: (r[0], r[1]),
    )
)
def test_twap_within_value_bounds(spark, rows):
    """TWAP is a convex combination of the user's held values: it lies in
    [min(value), max(value)] over their non-final events, and held_us
    telescopes to last_ts - first_ts."""
    import datetime

    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.eventsops import (
        twap_per_user,
    )

    base = datetime.datetime(2024, 1, 1)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    data = [
        (eid, int(u), base + datetime.timedelta(seconds=off), round(v, 2))
        for eid, (u, off, v) in enumerate(rows)
    ]
    df = spark.createDataFrame(data, schema)
    out = {r["user_id"]: r for r in twap_per_user(df).collect()}
    per_user: dict[int, list] = {}
    for _, (u, off, v) in zip(range(len(rows)), rows):
        per_user.setdefault(u, []).append((off, round(v, 2)))
    for u, evs in per_user.items():
        evs.sort()
        if len(evs) < 2:
            assert u not in out
            continue
        held_vals = [v for _, v in evs[:-1]]
        r = out[u]
        assert min(held_vals) - 1e-9 <= r["twap_value"] <= max(held_vals) + 1e-9
        assert r["held_us"] == (evs[-1][0] - evs[0][0]) * 1_000_000
        assert r["n_intervals"] == len(evs) - 1


@SETTLE
@given(
    rows=st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 1_000_000), st.floats(0, 100)),
        min_size=1,
        max_size=30,
        unique_by=lambda r: (r[0], r[1]),
    )
)
def test_scd2_intervals_partition_timeline(spark, rows):
    """SCD2 invariants per user: versions dense from 1 in valid_from order,
    each interval ends where the next begins, and exactly one current row."""
    import datetime

    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.warehouse import (
        scd2_intervals,
    )

    base = datetime.datetime(2024, 1, 1)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    data = [
        (eid, int(u), base + datetime.timedelta(seconds=off), "purchase", v)
        for eid, (u, off, v) in enumerate(rows)
    ]
    df = spark.createDataFrame(data, schema)
    out = scd2_intervals(df).collect()
    per_user: dict[int, list] = {}
    for r in out:
        per_user.setdefault(r["user_id"], []).append(r)
    for u, ivs in per_user.items():
        ivs.sort(key=lambda r: r["version"])
        assert [r["version"] for r in ivs] == list(range(1, len(ivs) + 1))
        assert sum(1 for r in ivs if r["is_current"]) == 1
        assert ivs[-1]["is_current"] and ivs[-1]["valid_to"] is None
        for a, b in zip(ivs, ivs[1:]):
            assert a["valid_to"] == b["valid_from"]
            assert a["valid_from"] < a["valid_to"]


@SETTLE
@given(
    rows=st.lists(
        st.tuples(st.integers(1, 40), st.floats(0.01, 1000, allow_nan=False)),
        min_size=1,
        max_size=60,
    )
)
def test_merge_upsert_conserves_and_partitions(spark, rows):
    """MERGE invariants on random order batches: every target key appears
    exactly once in the output, every insert key is the negation of a
    matched batch key, and total acctbal increases by exactly 2x the batch
    spend (once on the update branch, once on the insert branch)."""
    import datetime

    from pyspark.sql import types as T

    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.warehouse import (
        merge_upsert,
    )

    cust_schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_acctbal", T.DoubleType()),
        ]
    )
    customers = spark.createDataFrame(
        [(k, f"cust{k}", 100.0) for k in range(1, 41)], cust_schema
    )
    ord_schema = T.StructType(
        [
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
        ]
    )
    d = datetime.datetime(1995, 6, 1)
    orders = spark.createDataFrame(
        [(k, round(v, 2), d) for k, v in rows], ord_schema
    )
    out = merge_upsert(customers, orders).collect()
    by_key = {}
    for r in out:
        assert r["c_custkey"] not in by_key  # one output row per key
        by_key[r["c_custkey"]] = r
    inserts = {k for k, r in by_key.items() if r["merge_action"] == "insert"}
    updates = {k for k, r in by_key.items() if r["merge_action"] == "update"}
    assert inserts == {-k for k in updates}
    batch_keys = {k for k, _ in rows}
    assert updates == batch_keys
    from decimal import Decimal

    spend = {}
    for k, v in rows:
        spend[k] = spend.get(k, Decimal(0)) + Decimal(str(round(v, 2)))
    total_out = sum(Decimal(str(round(r["c_acctbal"], 2))) for r in by_key.values())
    total_expected = Decimal("100.0") * 40 + 2 * sum(spend.values())
    assert abs(total_out - total_expected) < Decimal("0.1")


@SETTLE
@given(
    amended=st.sets(st.integers(1, 60), max_size=20),
    removed=st.sets(st.integers(1, 60), max_size=20),
    added=st.sets(st.integers(61, 80), max_size=10),
)
def test_table_diff_labels_exactly(spark, amended, removed, added):
    """diff(A, B) recovers exactly the constructed edit script."""
    from pyspark.sql import types as T

    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.warehouse import (
        table_diff,
    )

    amended = amended - removed
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
    )
    a_rows = [(k, f"v{k}") for k in range(1, 61)]
    b_rows = (
        [(k, f"v{k}") for k in range(1, 61) if k not in removed and k not in amended]
        + [(k, f"CHANGED{k}") for k in sorted(amended)]
        + [(k, f"v{k}") for k in sorted(added)]
    )
    diff = table_diff(
        spark.createDataFrame(a_rows, schema),
        spark.createDataFrame(b_rows, schema),
        "k",
    ).collect()
    got = {(r["k"], r["diff_status"]) for r in diff}
    want = (
        {(k, "removed") for k in removed}
        | {(k, "changed") for k in amended}
        | {(k, "added") for k in added}
    )
    assert got == want


# one dimension per example: embedding_quantize's contract is a fixed
# embedding width (vectors of unequal length in one batch raise)
_DIM_AND_VECS = st.integers(4, 8).flatmap(
    lambda dim: st.tuples(
        st.just(dim),
        st.lists(
            st.lists(
                # map (not filter) tiny magnitudes away from zero: the scale
                # must be nonzero, and filtering trips the health check
                st.floats(-8, 8, allow_nan=False, width=32).map(
                    lambda x: x if abs(x) > 1e-3 else x + 0.5
                ),
                min_size=dim,
                max_size=dim,
            ),
            min_size=1,
            max_size=15,
        ),
    )
)


def _quantize_input(spark, rows):
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    return spark.createDataFrame(rows, schema)


@SETTLE
@given(dim_and_vecs=_DIM_AND_VECS)
def test_embedding_quantize_error_bound(spark, dim_and_vecs):
    """int8 scalar quantization: reconstruction error never exceeds half a
    quantization step (scale/2), and codes stay within int8 range."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.similarity import (
        embedding_quantize,
    )

    dim, vecs = dim_and_vecs
    # always include the all-zero edge vector (scale = 0 must not NaN/throw)
    rows = list(enumerate(vecs)) + [(9999, [0.0] * dim)]
    out = embedding_quantize(_quantize_input(spark, rows)).collect()
    zero = next(r for r in out if r["vec_id"] == 9999)
    assert zero["scale"] == 0.0 and zero["max_abs_err"] == 0.0
    assert set(zero["codes"].split(",")) == {"0"}
    for r in out:
        codes = [int(c) for c in r["codes"].split(",")]
        assert len(codes) == dim
        assert all(-127 <= c <= 127 for c in codes)
        assert r["max_abs_err"] <= r["scale"] / 2 + 1e-9


def test_embedding_quantize_rejects_ragged_dimensions(spark):
    """Vectors of unequal length in one batch fail with the contract's
    ValueError, not a numpy shape error."""
    from pyspark.errors import PythonException

    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.similarity import (
        embedding_quantize,
    )

    df = _quantize_input(spark, [(0, [1.0, 2.0, 3.0, 4.0]), (1, [1.0] * 5)])
    with pytest.raises(PythonException, match=r"one dimension; got dimensions \[4, 5\]"):
        embedding_quantize(df.coalesce(1)).collect()


@SETTLE
@given(null_in_a=st.booleans(), null_in_b=st.booleans(), same=st.booleans())
def test_table_diff_null_keys(spark, null_in_a, null_in_b, same):
    """NULL join keys: presence flags (not key-nullness) decide the label,
    and the null-safe join lets NULL-key rows match each other."""
    from pyspark.sql import types as T

    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.warehouse import (
        table_diff,
    )

    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
    )
    a_rows = [(1, "v1")] + ([(None, "na")] if null_in_a else [])
    b_rows = [(1, "v1")] + (
        [(None, "na" if same else "CHANGED")] if null_in_b else []
    )
    diff = table_diff(
        spark.createDataFrame(a_rows, schema),
        spark.createDataFrame(b_rows, schema),
        "k",
    ).collect()
    got = {(r["k"], r["diff_status"]) for r in diff}
    if null_in_a and null_in_b:
        want = set() if same else {(None, "changed")}
    elif null_in_a:
        want = {(None, "removed")}
    elif null_in_b:
        want = {(None, "added")}
    else:
        want = set()
    assert got == want


def test_price_quantity_corr_degenerate_group_is_null(spark):
    """A single-row (or constant-quantity) year must yield NULL correlation
    and slope — not a DIVIDE_BY_ZERO abort under ANSI mode."""
    import datetime

    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.analytic import (
        price_quantity_corr,
    )

    schema = "l_shipdate timestamp, l_quantity double, l_extendedprice double"
    rows = [
        (datetime.datetime(1996, 1, 1), 3.0, 50.0),          # single-row year
        (datetime.datetime(1997, 1, 1), 5.0, 10.0),          # constant qty year
        (datetime.datetime(1997, 2, 1), 5.0, 20.0),
        (datetime.datetime(1998, 1, 1), 1.0, 10.0),          # healthy year
        (datetime.datetime(1998, 2, 1), 2.0, 20.0),
    ]
    out = {r["year"]: r for r in price_quantity_corr(
        spark.createDataFrame(rows, schema)).collect()}
    assert out[1996]["qty_price_corr"] is None and out[1996]["ols_slope"] is None
    assert out[1997]["qty_price_corr"] is None and out[1997]["ols_slope"] is None
    assert out[1998]["qty_price_corr"] == 1.0 and out[1998]["ols_slope"] is not None


part_points_strategy = st.lists(
    st.tuples(st.floats(1.0, 100.0, allow_nan=False, allow_infinity=False),
              st.integers(1, 20)),
    min_size=1,
    max_size=40,
)


@SETTLE
@given(pts=part_points_strategy)
def test_skyline_matches_bruteforce_dominance(spark, pts):
    """The two-phase distributed skyline equals the O(n²) brute-force
    Pareto frontier under strict-in-one-dim dominance, including duplicate
    points (both survive) and arbitrary partition splits."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.analytic import (
        skyline_parts,
    )

    schema = T.StructType([
        T.StructField("p_partkey", T.LongType()),
        T.StructField("p_retailprice", T.DoubleType()),
        T.StructField("p_size", T.IntegerType()),
    ])
    rows = [(i, float(p), int(s)) for i, (p, s) in enumerate(pts)]
    df = spark.createDataFrame(rows, schema).repartition(4)
    got = sorted((r.p_partkey, r.p_retailprice, r.p_size)
                 for r in skyline_parts(df).collect())
    expect = sorted(
        (i, p, s)
        for i, p, s in rows
        if not any(
            (p2 <= p and s2 <= s and (p2 < p or s2 < s))
            for j, p2, s2 in rows
            if j != i
        )
    )
    assert got == expect


@SETTLE
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 8), st.integers(0, 8)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=25,
    )
)
def test_pagerank_fixed_point_mass_and_parity(spark, edges):
    """Fixed-point PageRank invariants on arbitrary co-occurrence graphs:
    (a) truncation only loses mass — total score never exceeds SCALE and
    stays above the damped lower bound; (b) the Spark result equals a
    driver-side pure-Python evaluation of the same integer recurrence."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.graphops import (
        PR_SCALE,
        pagerank_fixedpoint,
    )

    # encode each undirected pair as a 2-line "order" so copurchase_edges
    # derives exactly the symmetrized edge set
    schema = T.StructType([
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_partkey", T.LongType()),
    ])
    rows = []
    for ok, (a, b) in enumerate(edges):
        rows += [(ok, a), (ok, b)]
    li = spark.createDataFrame(rows, schema)
    got = {r.p_partkey: r.pr_score
           for r in pagerank_fixedpoint(li, topk=100).collect()}

    # pure-python reference of the identical recurrence
    eset = set()
    for a, b in edges:
        eset.add((a, b)); eset.add((b, a))
    nodes = sorted({a for a, _ in eset})
    out = {u: sum(1 for s, _ in eset if s == u) for u in nodes}
    n = len(nodes)
    score = {u: PR_SCALE // n for u in nodes}
    base = (15 * PR_SCALE) // (100 * n)
    for _ in range(3):
        new = {u: base for u in nodes}
        for s, d in eset:
            new[d] += (85 * score[s]) // (100 * out[s])
        score = new
    assert got == score
    total = sum(score.values())
    assert total <= PR_SCALE
    assert total >= (15 * PR_SCALE) // 100 - n  # damped floor minus truncation


@SETTLE
@given(
    edges=st.sets(
        st.tuples(st.integers(1, 12), st.integers(1, 12)).filter(lambda p: p[0] < p[1]),
        min_size=1,
        max_size=30,
    )
)
def test_triangle_stats_match_bruteforce(spark, edges):
    """Degree-ordered oriented counting equals brute-force triangle
    enumeration, and the wedge identity sum C(deg,2) holds, on arbitrary
    small graphs (same 2-line-order encoding as the pagerank property)."""
    from itertools import combinations

    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.graphops import (
        graph_triangle_stats,
    )

    schema = T.StructType([
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_partkey", T.LongType()),
    ])
    rows = []
    for ok, (a, b) in enumerate(edges):
        rows += [(ok, a), (ok, b)]
    li = spark.createDataFrame(rows, schema)
    got = graph_triangle_stats(li).collect()[0]

    eset = {frozenset(p) for p in edges}
    nodes = sorted({x for p in edges for x in p})
    deg = {u: sum(1 for e in eset if u in e) for u in nodes}
    tri = sum(
        1
        for a, b, c in combinations(nodes, 3)
        if {frozenset((a, b)), frozenset((b, c)), frozenset((a, c))} <= eset
    )
    assert got.n_nodes == len(nodes)
    assert got.n_edges == len(eset)
    assert got.n_wedges == sum(d * (d - 1) // 2 for d in deg.values())
    assert got.n_triangles == tri


def test_conversation_assembly_partition_invariant(spark, sf_dir):
    """The transcript md5 is identical under any input partitioning — the
    in-row sort_array makes layout irrelevant (the property raw
    collect_list would NOT have)."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.catalog import load_table
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.eventsops import (
        conversation_assembly,
    )

    ev = load_table(spark, sf_dir, "events")
    a = {r.user_id: (r.transcript_md5, r.n_turns)
         for r in conversation_assembly(ev).collect()}
    b = {r.user_id: (r.transcript_md5, r.n_turns)
         for r in conversation_assembly(ev.repartition(7, "event_type")).collect()}
    assert a == b
    assert sum(n for _, n in a.values()) == ev.count()


def test_seasonal_decompose_identities(spark, sf_dir):
    """Bucket counts tile the table; variance is non-negative up to fp
    cancellation; the n-weighted mean of seasonal_index is 1 (each
    series' hour means average back to the series mean)."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.catalog import load_table
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.eventsops import (
        seasonal_decompose,
    )

    ev = load_table(spark, sf_dir, "events")
    rows = seasonal_decompose(ev).collect()
    assert sum(r.n for r in rows) == ev.count()
    assert all(0 <= r.hod <= 23 for r in rows)
    assert all(r.hod_var >= -1e-6 for r in rows)
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for grp in by_type.values():
        n_tot = sum(r.n for r in grp)
        wmean = sum(r.seasonal_index * r.n for r in grp) / n_tot
        assert abs(wmean - 1.0) < 1e-4  # rounding of the published columns


def test_calendar_dim_structure(spark):
    """731 days, weekday cycle of period 7, weekend flag consistent, and
    the first day of the span is a Sunday (1995-01-01)."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.warehouse import (
        calendar_dim,
    )

    rows = calendar_dim(spark).orderBy("cal_date").collect()
    assert len(rows) == 731
    assert rows[0].cal_date == "1995-01-01" and rows[0].dow_iso == 7
    for i, r in enumerate(rows):
        assert r.dow_iso == (rows[0].dow_iso - 1 + i) % 7 + 1
        assert r.is_weekend == (r.dow_iso >= 6)


def test_k_anonymity_sums_tile_table(spark, sf_dir):
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.catalog import load_table
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.warehouse import (
        k_anonymity_audit,
    )

    cust = load_table(spark, sf_dir, "customer")
    rows = k_anonymity_audit(cust).collect()
    assert sum(r.n for r in rows) == cust.count()
    nation_tot: dict = {}
    for r in rows:
        nation_tot.setdefault(r.c_nationkey, 0)
        nation_tot[r.c_nationkey] += r.n
    assert all(r.n_nation == nation_tot[r.c_nationkey] for r in rows)


def test_table_content_hash_partition_invariant(spark, sf_dir):
    """The digest is a commutative sum — any repartitioning yields the
    identical hash (the property that makes it a distributed fingerprint),
    and a single changed row changes it."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.catalog import load_table
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.warehouse import (
        _content_hash,
    )

    src = load_table(spark, sf_dir, "orders")
    a = _content_hash(src, "orders").collect()[0]
    b = _content_hash(src.repartition(13, "o_orderstatus"), "orders").collect()[0]
    assert (a.n_rows, a.content_hash) == (b.n_rows, b.content_hash)
    mutated = src.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") == src.select(F.min("o_orderkey")).collect()[0][0],
               F.col("o_totalprice") + 1).otherwise(F.col("o_totalprice")),
    )
    c = _content_hash(mutated, "orders").collect()[0]
    assert c.content_hash != a.content_hash and c.n_rows == a.n_rows


def test_event_dedup_tolerance_run_semantics(spark):
    """Hand-built stream: deliveries 0s,10s,70s,75s,200s (same user/type)
    with tol=60s. Burst-collapsing (transitive-chain) semantics: gaps are
    10,60,5,125 and a gap of exactly tol does NOT break the chain, so
    {0,10,70,75} is ONE run (survivor 0s, 3 dropped) and {200} another —
    even though 70s/75s are >tol from the survivor (the documented
    difference vs a last-kept recurrence, which would keep 0 and 70)."""
    import datetime as dt

    from pyspark.sql import types as T2

    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.eventsops import (
        event_dedup_tolerance,
    )

    base = dt.datetime(2020, 1, 1)
    offs = [0, 10, 70, 75, 200]
    rows = [(i, base + dt.timedelta(seconds=s), 1, "click", 1.0, "{}")
            for i, s in enumerate(offs)]
    schema = T2.StructType([
        T2.StructField("event_id", T2.LongType()),
        T2.StructField("ts", T2.TimestampType()),
        T2.StructField("user_id", T2.LongType()),
        T2.StructField("event_type", T2.StringType()),
        T2.StructField("value", T2.DoubleType()),
        T2.StructField("props", T2.StringType()),
    ])
    ev = spark.createDataFrame(rows, schema)
    got = sorted((r.kept_event_id, r.n_dropped)
                 for r in event_dedup_tolerance(ev).collect())
    assert got == [(0, 3), (4, 0)]


def test_multi_touch_attribution_conserves_value(spark, sf_dir):
    """Sum of credits equals the summed value of attributed purchases (each
    purchase's value splits exactly across its touches), every purchase
    appears with one consistent n_touches, and credit * n_touches
    reconstructs the purchase value."""
    from collections import defaultdict

    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.catalog import load_table
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.analytic import (
        multi_touch_attribution,
    )

    ev = load_table(spark, sf_dir, "events")
    rows = multi_touch_attribution(ev).collect()
    per_purchase = defaultdict(list)
    for r in rows:
        per_purchase[r.purchase_id].append(r)
    values = {r.event_id: r.value
              for r in ev.filter(F.col("event_type") == "purchase")
                        .select("event_id", "value").collect()}
    for pid, touches in per_purchase.items():
        n = touches[0].n_touches
        assert len(touches) == n
        total = sum(t.credit for t in touches)
        assert abs(total - values[pid]) < 1e-9 * max(1.0, abs(values[pid]))


def test_weekly_churn_count_algebra(spark, sf_dir):
    """n_new over all weeks = distinct users; churned(w) = active(w) -
    retained(w) is within [0, n_active]; week 0's n_new = n_active."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.catalog import load_table
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.analytic import (
        weekly_churn,
    )

    ev = load_table(spark, sf_dir, "events")
    rows = sorted(weekly_churn(ev).collect(), key=lambda r: r.week)
    assert sum(r.n_new for r in rows) == ev.select("user_id").distinct().count()
    assert rows[0].n_new == rows[0].n_active
    # the final week has no week+1 data: churn must be NULL, not a
    # fabricated 100%-churn spike
    assert rows[-1].n_churned_next is None
    for r in rows[:-1]:
        assert 0 <= r.n_churned_next <= r.n_active


def test_supplier_hhi_bounds(spark, sf_dir):
    """1/n_suppliers <= HHI <= 1 for every part (equality at perfectly
    even split / single supplier), and n_suppliers >= 1."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.catalog import load_table
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.warehouse import (
        supplier_hhi,
    )

    rows = supplier_hhi(load_table(spark, sf_dir, "lineitem")).collect()
    assert rows
    for r in rows:
        assert r.n_suppliers >= 1
        assert 1.0 / r.n_suppliers - 1e-6 <= r.hhi <= 1.0 + 1e-6
