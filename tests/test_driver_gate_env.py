"""Round-17 measurement-contract tests.

1. The ``SPARK_GRAFT_DRIVER_GATE=0`` env override (the bench's
   gate-OFF arm) must force the DISTRIBUTED arm of every twin-gated
   operator and produce bit-identical results — the twins are exact
   replicas, so toggling the venue may never change a value.
2. ``round_half_up_int64``'s vectorized tie-band branch is fuzzed
   against the exact scalar Decimal path (the regression test the
   r16 ADVICE found missing).
3. ``_cox_np_safe`` carries the SQUARED covariate magnitude in its
   term cap (ADVICE: the information-matrix terms scale with
   n·|x|max², and the old linear cap approved driver passes that then
   crashed in ``cast_decimal_i64`` where the distributed DECIMAL(28,10)
   pass would have succeeded).
4. ``_recommend_driver`` falls back to the distributed chain for a
   model holding BOTH (a,b) and (b,a) rows (ADVICE: dense assignment
   overwrites where the distributed symmetrize-union sums).
5. The ``connected_components`` union-find and the ``bpe_train``
   driver-local finish obey the same switch (they once gated on their
   own size knobs only, so the gate-off bench arm still ran them).
"""

from __future__ import annotations

from unittest import mock

import numpy as np
from pyspark.sql import functions as F

from metadata_etl_framework_spark.ops.driver_exact import (
    _round0_exact,
    driver_gates_enabled,
    round_half_up_int64,
)
from metadata_etl_framework_spark.ops.retention import _cox_np_safe


def test_env_default_is_on(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_GATE", raising=False)
    assert driver_gates_enabled()
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_GATE", "1")
    assert driver_gates_enabled()
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_GATE", "0")
    assert not driver_gates_enabled()


def test_round_half_up_int64_fuzz_near_ties():
    """Vectorized band decision vs the exact scalar path, concentrated
    on .5 ties across magnitudes (the r16 ADVICE's missing test)."""
    rng = np.random.default_rng(20260818)
    parts = []
    for mag in (1e0, 1e3, 1e6, 1e9, 1e12, 1e14, 1e15, 4e17):
        base = np.floor(rng.uniform(0, mag, 40_000))
        # exact .5 ties, near-ties a few ulp off, and random fractions
        frac = np.concatenate(
            [
                np.full(10_000, 0.5),
                0.5 + rng.integers(-8, 9, 10_000) * np.spacing(mag),
                rng.uniform(0, 1, 20_000),
            ]
        )
        v = base + frac
        sign = rng.choice([-1.0, 1.0], v.size)
        parts.append(sign * v)
    x = np.concatenate(parts)
    x = x[np.abs(x) < 4.0e18]
    got = round_half_up_int64(x)
    # scalar reference on a deterministic sample (full 2.2M-element
    # scalar sweep would dominate the suite)
    idx = rng.choice(x.size, 25_000, replace=False)
    ref = np.array([_round0_exact(float(v)) for v in x[idx]])
    mism = np.nonzero(got[idx] != ref)[0]
    assert mism.size == 0, (
        f"{mism.size} mismatches, first: x={x[idx[mism[0]]]!r} "
        f"vec={got[idx[mism[0]]]} scalar={ref[mism[0]]}"
    )


def test_cox_np_safe_squared_magnitude_bound():
    # n=20k subjects, |x|max=200: information terms reach
    # n·maxax² = 8e8 > the 4e8 cast_decimal_i64 term domain — the
    # driver pass must be rejected (the distributed DECIMAL(28,10)
    # pass handles it)
    assert not _cox_np_safe(20_000, 200.0, 0.0)
    # O(1)-scaled covariates stay on the fast path
    assert _cox_np_safe(20_000, 1.0, 0.0)
    assert _cox_np_safe(1_000_000, 1.0, 0.0)


def _toy_edges(spark):
    ring = [(i, (i + 1) % 24) for i in range(24)] + [
        (i, (i + 7) % 24) for i in range(0, 24, 3)
    ]
    return spark.createDataFrame(ring, "src long, dst long")


def test_gate_env_forces_distributed_identical(spark, gate_off):
    """pagerank + robust_moments + logistic_train with the env gate
    OFF must match the twin (gate ON) bit-for-bit."""
    from metadata_etl_framework_spark.functions.aggregations import (
        robust_moments,
    )
    from metadata_etl_framework_spark.ops.glm import logistic_train
    from metadata_etl_framework_spark.ops.graph import pagerank

    edges = _toy_edges(spark)
    rows = [
        (float(i % 7) / 3.0, float((i * 5) % 11), 1.0 * (i % 2))
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "x1 double, x2 double, y double")

    def run_all():
        pr = pagerank(edges, iterations=3).orderBy("node").collect()
        rm = robust_moments(df, "x1", trim=0.1).collect()
        lg = logistic_train(df, ["x1", "x2"], "y", iterations=2).collect()
        return pr, rm, lg

    on = run_all()
    with gate_off():
        off = run_all()
    assert off == on


def test_recommend_driver_rejects_bidirectional_model(spark, gate_off):
    """A sims model carrying BOTH (a,b) and (b,a) must score through
    the distributed chain (which SUMS both rows), and the driver arm
    must agree — i.e. the gate-on and gate-off results match."""
    from metadata_etl_framework_spark.ops.recsys import recommend_items

    inter = spark.createDataFrame(
        [(u, i) for u in range(1, 5) for i in (10, 20) if (u + i) % 3],
        "user long, item long",
    )
    sims = spark.createDataFrame(
        [(10, 20, 0.25), (20, 10, 0.5), (10, 30, 0.125)],
        "item_a long, item_b long, shrunk_cosine double",
    )
    on = recommend_items(inter, sims, "user", "item", top_n=3).collect()
    with gate_off():
        off = recommend_items(
            inter, sims, "user", "item", top_n=3
        ).collect()
    assert on == off


def test_cc_and_bpe_driver_finishes_obey_gate_switch(spark, gate_off):
    """With the gates off, neither the ``connected_components``
    union-find collect nor ``_bpe_train_local`` may run, and both
    outputs equal the gate-on run."""
    from metadata_etl_framework_spark.ops import text
    from metadata_etl_framework_spark.ops.dedup import connected_components

    pairs = spark.createDataFrame(
        [(4, 3), (3, 2), (2, 1), (10, 11), (20, 21), (20, 22)],
        "id_a long, id_b long",
    )
    docs = spark.createDataFrame(
        [(0, "low lower lowest low"), (1, "new newer newest low")],
        "doc_id long, text string",
    )

    def run():
        frame_cls = type(pairs)
        with mock.patch.object(
            frame_cls,
            "toPandas",
            autospec=True,
            side_effect=frame_cls.toPandas,
        ) as uf_collect, mock.patch.object(
            text, "_bpe_train_local", wraps=text._bpe_train_local
        ) as bpe_local:
            cc = sorted(map(tuple, connected_components(pairs).collect()))
            bpe = [
                tuple(r)
                for r in text.bpe_train(docs, n_merges=4)
                .orderBy("merge_idx")
                .collect()
            ]
        return (cc, bpe), uf_collect.call_count, bpe_local.call_count

    on, uf_on, bpe_on = run()
    assert (uf_on, bpe_on) == (1, 1)  # the spies see the driver arms
    with gate_off():
        off, uf_off, bpe_off = run()
    assert (uf_off, bpe_off) == (0, 0)
    assert off == on
