"""Round-14 debut queries.

Wave 1: the capped Fleiss panel in its SERVING shape (VERDICT r13 ask
#1) -- the NB rater scores from the persisted profile-capped model slot
instead of re-training in-query; bit-identity with the capped form is
the pinned contract.

Wave 2: Krippendorff's alpha (nominal) -- the missing-data
generalization of the Fleiss panel; certified against an independent
coincidence-matrix reference implementation and a hand-computed
two-observer example.
"""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


def test_fleiss_served_is_bit_identical_to_capped(spark):
    # the entire amortization claim: training determinism makes the
    # served rater's predictions -- and therefore the whole panel
    # closed form -- bit-identical to the capped train-in-query panel
    from airflow_pipeline_text_processing_spark.plans.queries_llm import (
        eval_fleiss_kappa_capped,
        eval_fleiss_kappa_served,
    )

    served = eval_fleiss_kappa_served(spark, SF).collect()
    capped = eval_fleiss_kappa_capped(spark, SF).collect()
    assert len(served) == len(capped) == 1
    assert served[0].asDict() == capped[0].asDict()


def test_fleiss_served_rater_matches_served_langid(spark):
    # one persisted model serves every consumer: the panel's third
    # rater and text_langid_served must read the SAME slot and emit
    # identical predictions
    from airflow_pipeline_text_processing_spark.plans.queries_llm import (
        _nb_served_scores,
        text_langid_served,
    )

    panel_rater = _nb_served_scores(spark, SF).select("doc_id", "label_pred")
    langid = text_langid_served(spark, SF).select("doc_id", "label_pred")
    assert panel_rater.exceptAll(langid).count() == 0
    assert langid.exceptAll(panel_rater).count() == 0


def test_fleiss_served_repeat_call_serves_from_slot(spark):
    # the second call within a process must not rebuild the model slot:
    # the slot path is registered after the first call, and results stay
    # identical across calls (deterministic serve)
    from airflow_pipeline_text_processing_spark.operators.ann_index import (
        process_index_slot,
    )
    from airflow_pipeline_text_processing_spark.plans.queries_llm import (
        _NB_MODEL_SLOTS,
        eval_fleiss_kappa_served,
    )

    first = eval_fleiss_kappa_served(spark, SF).collect()[0]
    assert process_index_slot(f"nb_model:{SF}") in _NB_MODEL_SLOTS
    import os

    slot = process_index_slot(f"nb_model:{SF}")
    mtime = max(
        os.path.getmtime(os.path.join(root, f))
        for root, _d, files in os.walk(slot)
        for f in files
    )
    second = eval_fleiss_kappa_served(spark, SF).collect()[0]
    mtime2 = max(
        os.path.getmtime(os.path.join(root, f))
        for root, _d, files in os.walk(slot)
        for f in files
    )
    assert mtime2 == mtime  # no retrain: the model files were untouched
    assert second.asDict() == first.asDict()


# ---------------------------------------------------------------------
# Wave 2: Krippendorff's alpha (nominal) -- the missing-data
# generalization of Fleiss.  Reference implementation below is the
# textbook COINCIDENCE-MATRIX form in floats (Krippendorff 2011),
# structurally different from the operator's integer computational
# formula on purpose.
# ---------------------------------------------------------------------


def _ref_alpha(units: dict[object, list]) -> float:
    """units: unit -> list of category ratings (len >= 1)."""
    from collections import Counter

    kept = {u: rs for u, rs in units.items() if len(rs) >= 2}
    cats = sorted({c for rs in kept.values() for c in rs})
    o = {(c, k): 0.0 for c in cats for k in cats}
    for rs in kept.values():
        m = len(rs)
        cnt = Counter(rs)
        for c in cats:
            for k in cats:
                if c == k:
                    o[(c, k)] += cnt[c] * (cnt[c] - 1) / (m - 1)
                else:
                    o[(c, k)] += cnt[c] * cnt[k] / (m - 1)
    n = sum(o.values())
    if n <= 1:
        return 0.0
    nc = {c: sum(o[(c, k)] for k in cats) for c in cats}
    d_o = sum(o[(c, k)] for c in cats for k in cats if c != k) / n
    d_e = sum(
        nc[c] * nc[k] for c in cats for k in cats if c != k
    ) / (n * (n - 1))
    if d_e == 0:
        return 0.0
    return 1 - d_o / d_e


def _alpha_row(spark, units):
    from airflow_pipeline_text_processing_spark.operators.quality import (
        krippendorff_alpha,
    )

    rows = [(u, c) for u, rs in units.items() for c in rs]
    df = spark.createDataFrame(rows, "item_id long, label string")
    return krippendorff_alpha(df, "item_id", "label", n_raters=3).collect()[0]


def _assert_alpha_matches(spark, units):
    import math

    row = _alpha_row(spark, units)
    want = _ref_alpha(units)
    got = row.alpha_ppm / 1e6
    # integer form floors at ppm: agree within one ppm step
    assert math.floor(want * 1e6) == row.alpha_ppm or abs(
        got - want
    ) < 2e-6, (row, want)


def test_krippendorff_matches_reference_on_mixed_panels(spark):
    # partial units KEPT (the capability Fleiss lacks), singletons
    # dropped, ties, a unanimous unit, three categories
    units = {
        1: ["a", "a", "a"],
        2: ["a", "a", "b"],
        3: ["b", "c"],        # partial: 2 of 3 raters
        4: ["c"],             # singleton: excluded
        5: ["b", "b", "c"],
        6: ["a", "c"],
        7: ["c", "c", "c"],
    }
    _assert_alpha_matches(spark, units)
    row = _alpha_row(spark, units)
    assert row.n_units == 6          # unit 4 dropped, partials kept
    assert row.n_ratings == 16


def test_krippendorff_two_observer_binary_hand_computed(spark):
    # 10 binary units, 2 observers, units 9/10 missing one rating
    # (dropped as singletons).  Hand derivation: kept n = 16 ratings,
    # 11 zeros / 5 ones; only unit 3 disagrees, so S_o(K=2) =
    # 2 * (1*1 + 1*1) = 4; S_e = 11*5 + 5*11 = 110; alpha =
    # 1 - (16-1)*4 / (2*110) = 1 - 60/220 = 8/11 -> floor ppm 727272.
    units = {
        1: [0, 0], 2: [1, 1], 3: [0, 1], 4: [0, 0], 5: [0, 0],
        6: [0, 0], 7: [0, 0], 8: [1, 1], 9: [1],   10: [0],
    }
    units = {u: [str(v) for v in vs] for u, vs in units.items()}
    _assert_alpha_matches(spark, units)
    row = _alpha_row(spark, units)
    assert row.n_units == 8 and row.n_ratings == 16
    assert (row.s_o_scaled, row.s_e) == (4, 110)
    assert row.alpha_ppm == 727272  # floor(8/11 * 1e6)


def test_krippendorff_unanimity_and_negative(spark):
    # perfect agreement -> alpha = 1
    units = {i: ["x", "x", "x"] for i in range(5)}
    units.update({i + 10: ["y", "y", "y"] for i in range(5)})
    row = _alpha_row(spark, units)
    assert row.alpha_ppm == 1_000_000
    # systematic disagreement -> alpha < 0 (floor device exercised)
    units = {1: ["a", "b"], 2: ["b", "a"], 3: ["a", "b"], 4: ["b", "a"]}
    _assert_alpha_matches(spark, units)
    assert _alpha_row(spark, units).alpha_ppm < 0


def test_krippendorff_degenerate_inputs(spark):
    # all singletons -> zero kept units -> alpha 0, no division blowups
    units = {1: ["a"], 2: ["b"], 3: ["c"]}
    row = _alpha_row(spark, units)
    assert row.n_units == 0 and row.alpha_ppm == 0
    # one category only -> D_e = 0 -> reported 0 (same convention as
    # the kappas' degenerate unanimity)
    units = {1: ["a", "a"], 2: ["a", "a", "a"]}
    row = _alpha_row(spark, units)
    assert row.alpha_ppm == 0 and row.s_e == 0


def test_krippendorff_keeps_what_fleiss_drops(spark):
    # on a panel with abstentions, fleiss' n_items < alpha's n_units:
    # alpha reads the partially-rated tail instead of discarding it
    from airflow_pipeline_text_processing_spark.operators.quality import (
        fleiss_kappa,
    )

    units = {
        1: ["a", "a", "b"],
        2: ["a", "b"],
        3: ["b", "b", "b"],
        4: ["a", "c"],
    }
    rows = [(u, c) for u, rs in units.items() for c in rs]
    df = spark.createDataFrame(rows, "item_id long, label string")
    f = fleiss_kappa(df, "item_id", "label", n_raters=3).collect()[0]
    a = _alpha_row(spark, units)
    assert f.n_items == 2      # fleiss keeps only the full panels
    assert a.n_units == 4      # alpha keeps every m_u >= 2 unit


def test_krippendorff_panel_reads_the_tail_fleiss_drops(spark):
    # at the query level: the alpha panel's unit count must be >= the
    # capped Fleiss panel's item count (abstentions become partial
    # units instead of exclusions), and both agree on the rating total
    # semantics (alpha's n_ratings >= 2 * n_units)
    from airflow_pipeline_text_processing_spark.plans.queries_llm import (
        eval_fleiss_kappa_capped,
        eval_krippendorff_alpha,
    )

    a = eval_krippendorff_alpha(spark, SF).collect()[0]
    f = eval_fleiss_kappa_capped(spark, SF).collect()[0]
    assert a.n_units >= f.n_items
    assert a.n_ratings >= 2 * a.n_units
    assert -1_000_000 <= a.alpha_ppm <= 1_000_000


def test_krippendorff_rejects_overrated_units(spark):
    # a unit with more ratings than the declared panel must FAIL, not
    # silently zero its disagreement term (r14 self-review): with
    # n_raters=3 and a 4-rating unit, "K div (m-1)" would truncate to 0
    import pytest

    units = {1: ["a", "b", "a", "b"], 2: ["a", "a"]}
    with pytest.raises(Exception, match="more ratings than n_raters"):
        _alpha_row(spark, units)


# ---------------------------------------------------------------------
# Wave 3: the served NB model scoring a document STREAM (foreachBatch
# per-micro-batch serve into an append parquet sink).
# ---------------------------------------------------------------------


def test_stream_langid_served_matches_batch_serve(spark):
    # the drained table must be bit-identical to the batch served form:
    # same model slot, same scoring kernel, per-batch semantics
    from airflow_pipeline_text_processing_spark.plans.queries_llm import (
        stream_langid_served,
        text_langid_served,
    )

    streamed = stream_langid_served(spark, SF)
    batch = text_langid_served(spark, SF)
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0
    assert streamed.columns == batch.columns


def test_stream_langid_served_never_retrains(spark):
    # the stream's foreachBatch scores against the ALREADY-persisted
    # model: after the first drain the slot's files must not change
    import os

    from airflow_pipeline_text_processing_spark.operators.ann_index import (
        process_index_slot,
    )
    from airflow_pipeline_text_processing_spark.plans.queries_llm import (
        stream_langid_served,
    )

    stream_langid_served(spark, SF).count()
    slot = process_index_slot(f"nb_model:{SF}")
    mtime = max(
        os.path.getmtime(os.path.join(root, f))
        for root, _d, files in os.walk(slot)
        for f in files
    )
    stream_langid_served(spark, SF).count()
    mtime2 = max(
        os.path.getmtime(os.path.join(root, f))
        for root, _d, files in os.walk(slot)
        for f in files
    )
    assert mtime2 == mtime


# ---------------------------------------------------------------------
# Wave 5: per-category positive specific agreement.
# ---------------------------------------------------------------------


def _sa_rows(spark, units):
    from airflow_pipeline_text_processing_spark.operators.quality import (
        specific_agreement,
    )

    rows = [(u, c) for u, rs in units.items() for c in rs]
    df = spark.createDataFrame(rows, "item_id long, label string")
    return {
        r.label: r for r in specific_agreement(df, "item_id", "label").collect()
    }


def test_specific_agreement_hand_computed(spark):
    # unit 1: a,a,b -> a-pairs: same 2 of total 2*2=4; b: 0 of 2
    # unit 2: a,b   -> a: 0 of 1; b: 0 of 1
    # unit 3: b,b,b -> b: 6 of 6
    # singleton unit 4 drops out entirely
    units = {1: ["a", "a", "b"], 2: ["a", "b"], 3: ["b", "b", "b"], 4: ["a"]}
    got = _sa_rows(spark, units)
    assert got["a"].pairs_same == 2 and got["a"].pairs_total == 5
    assert got["a"].sa_ppm == 400000       # 2/5
    assert got["b"].pairs_same == 6 and got["b"].pairs_total == 9
    assert got["b"].sa_ppm == 666666       # floor(6/9)
    assert got["a"].n_items_rated == 2 and got["b"].n_items_rated == 3


def test_specific_agreement_reference_on_random_panels(spark):
    # independent pairwise-count reference over a mixed panel
    from collections import Counter
    from itertools import product

    units = {
        1: ["x", "x", "x"],
        2: ["x", "y"],
        3: ["y", "z", "y"],
        4: ["z", "z"],
        5: ["x", "y", "z"],
    }
    got = _sa_rows(spark, units)
    cats = sorted({c for rs in units.values() for c in rs})
    for c in cats:
        same = tot = 0
        for rs in units.values():
            if len(rs) < 2:
                continue
            cnt = Counter(rs)
            # ordered pairs (i, j), i != j, where rating i is c
            same += cnt[c] * (cnt[c] - 1)
            tot += cnt[c] * (len(rs) - 1)
        assert got[c].pairs_same == same
        assert got[c].pairs_total == tot
        assert got[c].sa_ppm == (same * 1000000) // tot if tot else 0


def test_specific_agreement_panel_categories_cover_raters(spark):
    # at the query level: every category any rater emits appears, and
    # unanimity on a category implies sa_ppm = 1e6
    from airflow_pipeline_text_processing_spark.plans.queries_llm import (
        eval_specific_agreement,
    )

    rows = eval_specific_agreement(spark, SF).collect()
    assert rows, "panel produced no categories"
    for r in rows:
        assert 0 <= r.sa_ppm <= 1_000_000
        assert r.pairs_same <= r.pairs_total


# ------------------------------------------------------- wave 6: ops 34/35


def test_binary_trits_reference_semantics():
    # pins the reference's exact dead-code semantics
    # (dna_encoding.py:78-130): big-endian int, zero -> [0], zfill pads
    # but never truncates
    import pytest

    from airflow_pipeline_text_processing_spark.codec.goldman import (
        binary_to_trits,
        trits_to_binary,
    )

    assert binary_to_trits("0") == [0]
    assert binary_to_trits("0000") == [0]
    assert binary_to_trits("101010") == [1, 1, 2, 0]  # 42 = 27+9+6
    assert trits_to_binary([0]) == "0"
    assert trits_to_binary([1, 1, 2, 0], 8) == "00101010"
    assert trits_to_binary([1, 1, 2, 0]) == "101010"
    # target shorter than the minimal rendering: returned unchanged
    assert trits_to_binary([1, 1, 2, 0], 3) == "101010"
    # a negative digit is rejected; digit 3 (dna_to_trits after an
    # unknown base, as in "XT" -> [0, 3]) is accepted: 1*3 + 3 = 6
    for bad in ([-1, 2], [1, -1]):
        with pytest.raises(ValueError):
            trits_to_binary(bad)
    assert trits_to_binary([1, 3]) == "110"


def test_binary_trits_roundtrip_property():
    from hypothesis import given, settings, strategies as st

    from airflow_pipeline_text_processing_spark.codec.goldman import (
        binary_to_trits,
        trits_to_binary,
    )

    @given(st.integers(min_value=0, max_value=2**200))
    @settings(max_examples=300, deadline=None)
    def inner(value):
        bits = bin(value)[2:]
        trits = binary_to_trits(bits)
        # digits are valid base-3, minimal (no leading zero unless zero)
        assert all(t in (0, 1, 2) for t in trits)
        if value > 0:
            assert trits[0] != 0
        # base-3 value identity
        acc = 0
        for t in trits:
            acc = acc * 3 + t
        assert acc == value
        # zfill roundtrip at the original width
        assert trits_to_binary(trits, len(bits)) == bits

    inner()


def test_codec_trit_bridge_conv_matches_python_kernels(spark):
    # the graded query's native conv() path must agree with the
    # semantics-pinning Python kernels on real corpus fingerprints
    import hashlib

    from airflow_pipeline_text_processing_spark.codec.goldman import (
        binary_to_trits,
        trits_to_binary,
    )
    from airflow_pipeline_text_processing_spark.plans.queries import (
        codec_trit_bridge,
    )

    rows = codec_trit_bridge(spark, SF).limit(50).collect()
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .limit(200)
        .collect()
    }
    assert rows
    for r in rows:
        assert r["roundtrip_ok"] is True
        text = docs[r["doc_id"]]
        h = int(hashlib.md5(text.encode()).hexdigest()[:15], 16)
        bits = bin(h)[2:].zfill(60)
        assert r["binary_string"] == bits
        trits = binary_to_trits(bits)
        assert r["n_trits"] == len(trits)
        assert r["trits_head"] == "".join(map(str, trits))[:16]
        assert trits_to_binary(trits, 60) == bits


# ------------------------------------------------- wave 6: bootstrap CI


def test_bootstrap_ci_matches_pure_python_reference(spark):
    # independent reference implementation: pandas monthly rollup +
    # hashlib-indexed draws + rank-statistic interval, no Spark, no SQL
    import hashlib
    import math

    import pandas as pd
    import pyarrow.parquet as pq

    from airflow_pipeline_text_processing_spark.plans.queries_ext import (
        stats_bootstrap_ci,
    )

    row = stats_bootstrap_ci(spark, SF).collect()
    assert len(row) == 1
    row = row[0]

    tbl = pq.read_table(f"{SF}/orders.parquet").to_pandas()
    cents = tbl["o_totalprice"].map(lambda p: math.floor(p * 100))
    monthly = (
        pd.DataFrame(
            {"month": tbl["o_orderdate"].values.astype("datetime64[M]"),
             "cents": cents}
        )
        .groupby("month", sort=True)["cents"]
        .sum()
        .tolist()
    )
    n = len(monthly)
    reps = []
    for b in range(1, 201):
        total = 0
        for i in range(1, n + 1):
            h = int(hashlib.md5(f"{b}-{i}".encode()).hexdigest()[:15], 16)
            total += monthly[h % n]
        reps.append(total)
    reps.sort()
    assert row["n_units"] == n
    assert row["n_replicates"] == 200
    assert row["observed_total_cents"] == sum(monthly)
    assert row["boot_lo_cents"] == reps[4]
    assert row["boot_hi_cents"] == reps[194]
    assert row["boot_lo_cents"] <= row["boot_hi_cents"]


# --------------------------------------------------- wave 6 review fixes


def test_parse_mp4_bounds_untrusted_counts():
    # corrupt stsz/stts count fields must fail as ValueError (the
    # sample_frames fallback contract), never MemoryError or a
    # 4-billion-iteration loop
    import struct

    import pytest as _pytest

    from airflow_pipeline_text_processing_spark.codec.mp4 import (
        build_mp4,
        parse_mp4,
    )

    good = build_mp4([b"xx", b"yyy"], [10, 10])

    def bump_box(payload: bytes, fourcc: bytes, offset: int, value: int) -> bytes:
        i = payload.find(fourcc)
        assert i > 0
        pos = i + 4 + offset
        return payload[:pos] + struct.pack(">I", value) + payload[pos + 4 :]

    # stsz with fixed sample_size: count -> 0xFFFFFFF0
    b1 = bump_box(
        bump_box(good, b"stsz", 4, 7), b"stsz", 8, 0xFFFFFFF0
    )
    with _pytest.raises(ValueError):
        parse_mp4(b1)
    # stts first run count -> 0xFFFFFFF0
    b2 = bump_box(good, b"stts", 8, 0xFFFFFFF0)
    with _pytest.raises(ValueError):
        parse_mp4(b2)


def test_stream_langid_served_relative_sf_dir_and_slot_reuse(spark):
    import os

    from airflow_pipeline_text_processing_spark.operators.ann_index import (
        process_index_slot,
    )
    from airflow_pipeline_text_processing_spark.plans.queries_llm import (
        stream_langid_served,
    )

    rel = os.path.relpath(SF, os.getcwd())
    assert not os.path.isabs(rel)
    got_abs = stream_langid_served(spark, SF).collect()
    got_rel = stream_langid_served(spark, rel).collect()
    assert len(got_rel) == len(got_abs) > 0
    assert sorted(map(tuple, got_rel)) == sorted(map(tuple, got_abs))
    # both calls resolve to the SAME per-(process, thread) slot
    # (relative and absolute sf_dir alias one slot; repeat calls reuse
    # it instead of accreting mkdtemp trios).  Since r15 the key carries
    # the caller's thread ident (ADVICE r15: concurrent threads must
    # not wipe each other's active stream) -- this test and the query
    # ran on the same thread, so the derived slot matches.
    import threading

    tid = threading.get_ident()
    slot = process_index_slot(
        f"langid_stream:{os.path.abspath(SF)}:t{tid}"
    )
    assert os.path.isdir(os.path.join(slot, "sink"))
    assert slot == process_index_slot(
        f"langid_stream:{os.path.abspath(rel)}:t{tid}"
    )


def test_jl_project_short_vector_contributes_zero_not_null(spark):
    from airflow_pipeline_text_processing_spark.operators.linalg import (
        jl_project,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0]), (2, [1.0, 2.0])],
        "vec_id int, embedding array<double>",
    )
    rows = {
        r["vec_id"]: r["proj"]
        for r in jl_project(df, in_dim=4, out_dim=2).collect()
    }
    # the short vector must produce a NUMERIC projection (missing
    # components contribute 0 -- the oracle's NULL-skipping SUM), and
    # it must equal the zero-padded full-width vector's projection
    assert all(v is not None for v in rows[2])
    padded = spark.createDataFrame(
        [(3, [1.0, 2.0, 0.0, 0.0])], "vec_id int, embedding array<double>"
    )
    rows3 = jl_project(padded, in_dim=4, out_dim=2).collect()[0]["proj"]
    assert rows[2] == rows3


def test_bootstrap_ci_empty_orders_keeps_one_row_shape(spark, tmp_path):
    from airflow_pipeline_text_processing_spark.plans.queries_ext import (
        stats_bootstrap_ci,
    )

    empty = spark.createDataFrame(
        [], "o_totalprice double, o_orderdate timestamp"
    )
    empty.write.parquet(str(tmp_path / "orders.parquet"))
    rows = stats_bootstrap_ci(spark, str(tmp_path)).collect()
    # the oracle's scalar subqueries emit one all-NULL row on empty
    # input; the engine must match that shape, not cross-join to zero
    assert len(rows) == 1
    r = rows[0]
    assert r["n_replicates"] == 200
    assert r["n_units"] is None
    assert r["boot_lo_cents"] is None and r["boot_hi_cents"] is None
