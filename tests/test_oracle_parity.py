"""Driver-shaped correctness gate: every declared query must hash-match
its DuckDB oracle on the fixture tables (same comparison the driver runs
at sf=0.01; here at sf=0.001 for speed, overridable via
SPARK_GRAFT_TEST_SF_DIR)."""

from __future__ import annotations

import pytest

from streamprocessors_spark import plans
from tools.compare import compare_query, duckdb_conn

plans.load_all()

NAMES = sorted(plans.REGISTRY)


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_conn(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(name, spark, sf_dir, con):
    q = plans.REGISTRY[name]
    res = compare_query(name, q.fn(spark, sf_dir), con, q.oracle)
    assert res.ok, (
        f"{name}: rows spark={res.spark_rows} duckdb={res.oracle_rows} "
        f"schema_match={res.schema_match} hash_match={res.hash_match} {res.detail}"
    )


def test_nb_edge_corpus_matches_oracle(spark, tmp_path):
    """NB lang-id on a corpus the fixtures never exercise: a training
    language whose only document has no words (no training tokens, so the
    oracle's inner join drops the class from the argmax) and a language
    name containing a quote. Scored documents whose words no class has
    seen would go to the empty class if it competed."""
    import pandas as pd

    train = [(0, "en", "alpha beta gamma alpha"), (50, "fr", "delta epsilon delta"),
             (100, "xx", ""), (150, "o'c", "zeta eta zeta alpha")]
    scored = [(1, "en", "alpha beta"), (2, "fr", "delta"), (3, "o'c", "zeta eta"),
              (4, "en", "omega psi"), (5, "xx", "unseen words only"), (6, "fr", "alpha delta zeta")]
    docs = pd.DataFrame(train + scored, columns=["doc_id", "lang", "text"])
    docs["source"] = "src0"
    docs["n_chars"] = docs["text"].str.len().astype("int64")
    docs.to_parquet(tmp_path / "documents.parquet", index=False)

    con = duckdb_conn(str(tmp_path))
    try:
        for name in ("nb_lang_classifier", "lang_id_confusion_matrix"):
            q = plans.REGISTRY[name]
            res = compare_query(name, q.fn(spark, str(tmp_path)), con, q.oracle)
            assert res.ok, (name, res)
        preds = con.execute(plans.REGISTRY["nb_lang_classifier"].oracle).fetchall()
        assert len(preds) == len(scored)
        assert "xx" not in {p[2] for p in preds}
    finally:
        con.close()
