"""Physical-plan shape guards: the properties that make the headline
queries survive a 100x scale-up must stay visible in `.explain` output —
broadcast joins stay broadcast, filters reach the parquet scan, column
pruning holds (a scan reading 16 columns for a 3-column query is a
regression), and nothing degenerates into a CartesianProduct."""

import io
import contextlib

import pytest

import __spark_entry__ as entry_mod


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_join_enrich_broadcasts_and_pushes_down(spark, sf_dir):
    s = _explain(entry_mod.queries()["join_enrich"](spark, sf_dir))
    assert "BroadcastHashJoin" in s, "small-dim join must broadcast"
    assert "PushedFilters: [IsNotNull(l_partkey)]" in s
    # column pruning: the fact scan reads only the 3 needed columns
    assert (
        "ReadSchema: struct<l_partkey:bigint,l_extendedprice:double,"
        "l_discount:double>" in s
    )


def test_exact_dedup_prunes_columns(spark, sf_dir):
    s = _explain(entry_mod.queries()["exact_dedup"](spark, sf_dir))
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in s


@pytest.mark.parametrize(
    "name",
    ["join_enrich", "exact_dedup", "topk_per_group", "agg_stats",
     "value_counts", "anti_semi", "minmax_range"],
)
def test_no_cartesian_product(spark, sf_dir, name):
    assert "CartesianProduct" not in _explain(
        entry_mod.queries()[name](spark, sf_dir)
    )


@pytest.mark.parametrize("band", [(0.55, 0.90), None])
def test_score_pairs_plan_is_linear(spark, band):
    """score_pairs returns only the exactly scored pairs: one linear plan,
    no Union of approximate rows."""
    from gpu_entity_resolver_spark.config import ScoringConfig
    from gpu_entity_resolver_spark.operators.scoring import score_pairs

    docs = spark.createDataFrame(
        [(1, "acme manufacturing rockford"), (2, "acme manufacturing co")],
        "doc_id long, norm_text string",
    )
    pairs = spark.createDataFrame([(1, 2)], "src long, dst long")
    s = _explain(
        score_pairs(pairs, docs, cfg=ScoringConfig(jw_decision_band=band))
    )
    assert "Union" not in s
