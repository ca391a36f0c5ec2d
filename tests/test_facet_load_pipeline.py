"""§3.2 facet loader lifecycle: tagging + rollup + hash-based no-op
suppression + idempotency (mirrors ``FacetLoaderServiceTest.java:71-147``
load-twice semantics and the hash persistence tests)."""

import pytest

from picsure_dictionary_etl_spark.operators.facets import Expression, FacetRule
from picsure_dictionary_etl_spark.pipeline.dictionary import load_column_meta_dictionary
from picsure_dictionary_etl_spark.pipeline.facet_load import load_facets

RULES = {
    "labs": FacetRule("labs", [[Expression("exactly", "lab", 1)]]),
    "glucose": FacetRule("glucose", [[Expression("contains", "glucose", -1)]], parent="labs"),
}


@pytest.fixture(scope="module")
def concepts(spark):
    rows = [
        ("\\study_a\\lab\\glucose\\",),
        ("\\study_a\\lab\\insulin\\",),
        ("\\study_b\\lab\\glucose_fasting\\",),
        ("\\study_b\\demo\\age\\",),
    ]
    return spark.createDataFrame(rows, ["concept_path"])


def test_tagging_and_rollup(spark, concepts):
    mappings, hashes, report = load_facets(concepts, RULES)
    got = {(r["concept_path"], r["facet"]) for r in mappings.collect()}
    assert ("\\study_a\\lab\\glucose\\", "glucose") in got
    assert ("\\study_b\\lab\\glucose_fasting\\", "glucose") in got
    # rollup: a parent facet's mappings are EXACTLY the union of its
    # children's (leaves map by expression, parents only roll up —
    # FacetLoaderService.java:387-434)
    assert ("\\study_a\\lab\\glucose\\", "labs") in got
    assert ("\\study_a\\lab\\insulin\\", "labs") not in got
    assert ("\\study_b\\demo\\age\\", "labs") not in got
    assert report["mapping_counts"]["glucose"] == 2
    assert report["mapping_counts"]["labs"] == 2
    assert set(hashes) == {"labs", "glucose"}


def test_reload_same_rules_skips_everything(spark, concepts):
    m1, h1, _ = load_facets(concepts, RULES)
    m2, h2, report = load_facets(concepts, RULES, previous_hashes=h1, previous_mappings=m1)
    assert report["facets_remapped"] == []
    assert sorted(report["facets_skipped_unchanged"]) == ["glucose", "labs"]
    assert h1 == h2
    a = {(r["concept_path"], r["facet"]) for r in m1.collect()}
    b = {(r["concept_path"], r["facet"]) for r in m2.collect()}
    assert a == b  # idempotent re-POST (README.md:285-288)


def test_changed_rule_remaps_only_that_facet(spark, concepts):
    m1, h1, _ = load_facets(concepts, RULES)
    rules2 = dict(RULES)
    rules2["glucose"] = FacetRule(
        "glucose", [[Expression("exactly", "glucose", -1)]], parent="labs"
    )
    m2, h2, report = load_facets(concepts, rules2, previous_hashes=h1, previous_mappings=m1)
    assert report["facets_remapped"] == ["glucose"]
    assert report["facets_skipped_unchanged"] == ["labs"]
    got = {(r["concept_path"], r["facet"]) for r in m2.collect()}
    # exactly-match no longer catches glucose_fasting
    assert ("\\study_b\\lab\\glucose_fasting\\", "glucose") not in got
    assert ("\\study_a\\lab\\glucose\\", "glucose") in got


def test_end_to_end_with_dictionary_pipeline(spark, column_meta_csv):
    nodes, _ = load_column_meta_dictionary(spark, column_meta_csv, ["demographics"])
    rules = {
        "demographics": FacetRule(
            "demographics", [[Expression("exactly", "demographics", 0)]]
        )
    }
    leaves = nodes.filter(nodes.is_leaf)
    mappings, _, report = load_facets(leaves, rules)
    # every demographics leaf maps (14 leaves of the 15-node tree)
    assert report["mapping_counts"]["demographics"] == leaves.count() == 14
