"""Input-contract validation (reference: empty tokens are a hard error,
doc/data.md:29; field/consistency checks document.py:160-173)."""

from pyspark.sql import functions as F

from dygiepp_spark.operators import coref
from dygiepp_spark.operators.validate import quarantine, validation_report
from dygiepp_spark.plans import cache


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    )


def test_validation_catches_each_violation(spark):
    rows = [
        ("ok", 0, "u", "customer joins order", None),
        ("ok", 1, "u", "scan table", None),
        ("e1", 0, "u", "double  space", None),      # empty token
        ("e2", 0, "u", "", None),                    # empty text
        ("e3", 1, "u", "starts at one", None),       # non-dense
        ("e4", 0, "u", "dup turn", None),
        ("e4", 0, "u", "dup turn again", None),      # duplicate
    ]
    rep = validation_report(_df(spark, rows))
    got = {(r["conv_id"], r["violation"]) for r in rep.collect()}
    assert ("e1", "empty_token") in got
    assert ("e2", "empty_text") in got
    assert ("e3", "non_dense_turn_idx") in got
    assert ("e4", "duplicate_turn") in got
    assert not any(c == "ok" for c, _ in got)


def test_quarantine_splits_by_conversation(spark):
    rows = [
        ("ok", 0, "u", "customer joins order", None),
        ("bad", 0, "u", "fine text", None),
        ("bad", 2, "u", "gap here", None),
    ]
    clean, bad = quarantine(_df(spark, rows))
    assert {r["conv_id"] for r in clean.collect()} == {"ok"}
    assert {r["conv_id"] for r in bad.collect()} == {"bad"}


def test_degeneracy_rows_surface_star_violation(spark):
    """r5 VERDICT #8 — the star_violations > 0 path END-TO-END through the
    rows the validation report actually emits (the operator-level guard is
    hypothesis-swept in test_conll_coref; this closes the loop through
    validate.coref_degeneracy_rows, the exact composition the
    validation_report registry query unions into its output): an
    adversarial clustering where one pred cluster straddles two gold
    clusters must produce a 'coref_star_violation' row with the right
    conv_id and count, a healthy conversation must produce none, and the
    row schema must match the report's (conv_id, turn_idx, violation,
    n_flagged)."""
    from dygiepp_spark.operators.validate import coref_degeneracy_rows

    # adv: pred cluster 0 = {0,1} intersects gold 0 = {0} and gold 1 = {1};
    # ok: pred and gold agree exactly
    rows = [
        ("adv", 0, 0, 0),
        ("adv", 0, 1, 1),
        ("ok", 0, 0, 0),
        ("ok", 0, 0, 1),
    ]
    pred = spark.createDataFrame(
        [(c, p, pos) for c, p, _, pos in rows],
        "conv_id string, cluster_id long, doc_pos long",
    )
    gold = spark.createDataFrame(
        [(c, g, pos) for c, _, g, pos in rows],
        "conv_id string, cluster_id long, doc_pos long",
    )
    out = coref_degeneracy_rows(pred, gold)
    assert out.columns == ["conv_id", "turn_idx", "violation", "n_flagged"]
    star = {
        r["conv_id"]: r["n_flagged"]
        for r in out.where(F.col("violation") == "coref_star_violation").collect()
    }
    assert star == {"adv": 1}
    # the adversarial clustering is tiny, so the wide-component branch must
    # stay silent — star violation and DP-width are independent signals
    assert (
        out.where(F.col("violation") == "coref_wide_component").count() == 0
    )


def test_global_cc_equals_grouped(spark, tiny_turns):
    grouped = coref.clusters_via_components(tiny_turns)
    key = lambda df: sorted(
        (r["conv_id"], r["cluster_id"], r["doc_pos"]) for r in df.collect()
    )
    with cache.scoped():  # releases the global path's mention persist
        assert key(grouped) == key(coref.clusters_via_components(tiny_turns, global_cc=True))


def test_validation_report_leaf_matches_oracle_on_planted_violations(spark, tmp_path):
    """The testdata corpus satisfies the input contract, so on it both
    engines return 0 rows for the `validation_report` leaf and the oracle
    gate compares two empty results. Plant one violation of each kind in a
    copy of the sf0.001 documents (which derive the turns table) and
    require the leaf and its DuckDB oracle to agree row for row."""
    import shutil

    import duckdb
    import pandas as pd

    from conftest import SF_DIR, rows_match
    from dygiepp_spark.registry import QUERIES
    from dygiepp_spark.tables import TABLE_NAMES

    for t in TABLE_NAMES:
        if t != "documents":
            shutil.copy(f"{SF_DIR}/{t}.parquet", tmp_path / f"{t}.parquet")
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    text = docs.set_index("doc_id")["text"]
    docs.loc[docs["doc_id"] == 9, "text"] = None
    docs.loc[docs["doc_id"] == 10, "text"] = ""
    docs.loc[docs["doc_id"] == 17, "text"] = text[17].replace(" ", "  ", 1)
    docs.loc[docs["doc_id"] == 18, "text"] = " " + text[18]
    # an exact copy (same doc_id and text), so sort ties cannot change rows
    docs = pd.concat([docs, docs[docs["doc_id"] == 25]], ignore_index=True)
    docs = docs[docs["doc_id"] != 34]  # conv 4 loses turn 2: a gap
    docs.to_parquet(tmp_path / "documents.parquet", index=False)

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tmp_path}/{t}.parquet'")
    spec = QUERIES["validation_report"]
    with cache.scoped():
        got = spec.build(spark, str(tmp_path))
        assert rows_match(got, con.sql(spec.sql))
        violations = {r["violation"] for r in got.collect()}
    con.close()
    assert {"empty_text", "empty_token", "duplicate_turn", "non_dense_turn_idx"} <= violations
