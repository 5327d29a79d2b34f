"""Integer batch-perceptron training (operators/classifier.py): exactness
against the oracles' round SQL, convergence on separable data,
partition-independence, the empty corpus, and the literal-weight scoring
path."""

from __future__ import annotations

import duckdb
from hypothesis import example, given, settings
from hypothesis import strategies as st

from vector_db_light_spark.operators.classifier import (
    count_examples,
    linear_score,
    train_perceptron,
)


def _toy(spark):
    # y = +1 iff x0 >= x1 (strictly separable via w=(2,-2), b=1)
    rows = [
        (1, 3, 1, 1), (2, 5, 2, 1), (3, 0, 4, -1), (4, 1, 6, -1),
        (5, 2, 2, 1), (6, 0, 1, -1), (7, 4, 0, 1), (8, 1, 3, -1),
    ]
    return spark.createDataFrame(rows, "id int, x0 bigint, x1 bigint, y bigint")


def test_perceptron_converges_and_is_partition_independent(spark):
    df = _toy(spark)
    curve = train_perceptron(count_examples(df, ["x0", "x1"]), 6)
    n_mis = [r[1] for r in curve]
    assert [r[0] for r in curve] == [1, 2, 3, 4, 5, 6]
    assert n_mis[0] == 8  # zero weights misclassify everything (margin 0)
    assert 0 in n_mis  # separable toy set is fully learned
    # integer arithmetic: identical curve under any partitioning (the
    # collected counts arrive in partition order; the rounds must not care)
    curve2 = train_perceptron(count_examples(df.repartition(7), ["x0", "x1"]), 6)
    assert curve == curve2


def test_perceptron_round_matches_hand_update(spark):
    # one row, one round: w=(0,), b=0 -> margin 0 -> misclassified ->
    # w' = y*x = -3, b' = y = -1
    df = spark.createDataFrame([(1, 3, -1)], "id int, x0 bigint, y bigint")
    assert train_perceptron(count_examples(df, ["x0"]), 1) == [(1, 1, -3, -1)]


def test_linear_score_literal_weights(spark):
    df = _toy(spark)
    scored = linear_score(df, [2, -2], 1, ["x0", "x1"])
    rows = scored.collect()
    assert all(r["pred"] == r["y"] for r in rows)  # the planted separator
    assert all(r["margin"] == 2 * r["x0"] - 2 * r["x1"] + 1 for r in rows)
    # pred is derived from margin sign with 0 -> -1
    z = linear_score(
        spark.createDataFrame([(1, 0, 0)], "id int, x0 bigint, x1 bigint"),
        [1, 1], 0, ["x0", "x1"],
    ).collect()[0]
    assert z["margin"] == 0 and z["pred"] == -1


# ---------------------------------------------------------------------------
# The driver trainer == a row-by-row DuckDB replay of the oracles' round SQL
# (queries/textstats._pct_round_sql) over the EXPANDED rows: the counted
# form is exact, not an approximation of the per-row update.
# ---------------------------------------------------------------------------

_COUNTED = st.lists(
    st.tuples(
        *[st.integers(min_value=-4, max_value=4)] * 4,
        st.sampled_from([-1, 1]),
        st.integers(min_value=1, max_value=3),
    ),
    max_size=8,
)
_START = st.none() | st.tuples(
    st.lists(st.integers(min_value=-5, max_value=5), min_size=4, max_size=4),
    st.integers(min_value=-5, max_value=5),
)


def _duckdb_replay(counted, rounds, start):
    import vector_db_light_spark.registry  # noqa: F401 — query load order
    from vector_db_light_spark.queries.textstats import _pct_round_sql

    w, b = start or ([0, 0, 0, 0], 0)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE feats (f_the BIGINT, f_of BIGINT, f_and BIGINT,"
        " f_a BIGINT, y BIGINT)"
    )
    expanded = [row[:5] for row in counted for _ in range(row[5])]
    if expanded:
        con.executemany("INSERT INTO feats VALUES (?, ?, ?, ?, ?)", expanded)
    wt0 = ", ".join(
        [f"CAST({v} AS BIGINT) AS w{j}" for j, v in enumerate(w)]
        + [f"CAST({b} AS BIGINT) AS b"]
    )
    union = " UNION ALL ".join(
        f"SELECT {t} AS round, n_mis, w0, w1, w2, w3, b FROM wt{t}"
        for t in range(1, rounds + 1)
    )
    sql = (
        f"WITH wt0 AS (SELECT {wt0}),"
        + ",".join(_pct_round_sql(t) for t in range(1, rounds + 1))
        + f" SELECT * FROM ({union}) ORDER BY round"
    )
    out = [tuple(r) for r in con.execute(sql).fetchall()]
    con.close()
    return out


@settings(max_examples=60, deadline=None, derandomize=True)
@given(counted=_COUNTED, rounds=st.integers(min_value=1, max_value=4),
       start=_START)
@example(counted=[], rounds=3, start=None)  # empty table: no rounds
@example(counted=[], rounds=2, start=([1, -2, 3, 0], 4))
@example(  # single label, duplicates, zero and negative features
    counted=[(0, 0, 0, 0, 1, 3), (-2, 1, 0, 4, 1, 2), (-2, 1, 0, 4, 1, 1)],
    rounds=3,
    start=([2, -1, 0, 1], -3),
)
@example(  # NULL feature / label rows never update, as in SQL
    counted=[(1, None, 0, 2, 1, 2), (3, 0, 1, 0, None, 1), (0, 1, 1, 0, -1, 1)],
    rounds=2,
    start=None,
)
def test_driver_trainer_matches_duckdb_row_replay(counted, rounds, start):
    w, b = start or (None, 0)
    assert train_perceptron(counted, rounds, w, b) == _duckdb_replay(
        counted, rounds, start
    )


def test_empty_corpus_matches_oracles(spark, tmp_path):
    """Zero documents: both perceptron queries return what their oracles
    return (no rounds, an empty split), hash-compared like the driver."""
    from conftest import SF_SMOKE
    from tools.driver_sim import driver_hash
    from vector_db_light_spark.registry import ORACLES, QUERIES

    docs = str(tmp_path / "documents.parquet")
    con = duckdb.connect()
    con.execute(
        f"COPY (SELECT * FROM '{SF_SMOKE}/documents.parquet' LIMIT 0)"
        f" TO '{docs}' (FORMAT PARQUET)"
    )
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs}'")
    for name in ("perceptron_quality_train", "classifier_curation_pipeline"):
        got = QUERIES[name](spark, str(tmp_path)).toPandas()
        want = con.execute(ORACLES[name]).df()
        assert len(got) == len(want) == 0, name
        assert driver_hash(got) == driver_hash(want), name
    con.close()
